package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] is the engine's only schemaless parquet reader:
  * every other main source that calls `read.parquet(` on a code line
  * pays Spark's footer-inference job on each call. Comment lines are
  * skipped. */
class ParquetReadOwnerSpec extends AnyFunSuite {

  private val owner = "graft/Tables.scala"
  private val read = "read.parquet("

  test("only Tables.parquet calls read.parquet") {
    val files = MainSources.files
    val ownerFile = files.find(_.getPath.endsWith(owner))
    assert(ownerFile.isDefined, s"$owner not found")
    // the owner's one read is the inference inside Tables.parquet
    assert(MainSources.codeLines(ownerFile.get).count(_._1.contains(read)) == 1,
      s"$owner must call $read exactly once, inside Tables.parquet")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if code.contains(read)
    } yield s"${f.getPath}:$n: $code"
    if (offenders.nonEmpty)
      fail(s"schemaless parquet reads outside Tables.parquet (${offenders.size}):\n" + offenders.mkString("\n"))
  }
}
