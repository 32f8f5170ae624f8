package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] is the engine's only schemaless parquet reader:
  * every other main source that calls `read.parquet(` on a code line
  * pays Spark's footer-inference job on each call. Comment lines are
  * skipped. */
class ParquetReadOwnerSpec extends AnyFunSuite {

  private val owner = "graft/Tables.scala"
  private val read = "read.parquet("

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  private def codeLines(f: File): Seq[(String, Int)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector.map(_.trim).zipWithIndex
      .filterNot { case (code, _) => code.startsWith("//") || code.startsWith("*") || code.startsWith("/*") }
    finally src.close()
  }

  test("only Tables.parquet calls read.parquet") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val files = scalaFiles(root)
    val ownerFile = files.find(_.getPath.endsWith(owner))
    assert(ownerFile.isDefined, s"$owner not found")
    // the owner's one read is the inference inside Tables.parquet
    assert(codeLines(ownerFile.get).count(_._1.contains(read)) == 1,
      s"$owner must call $read exactly once, inside Tables.parquet")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (code, i) <- codeLines(f) if code.contains(read)
    } yield s"${f.getPath}:${i + 1}: $code"
    if (offenders.nonEmpty)
      fail(s"schemaless parquet reads outside Tables.parquet (${offenders.size}):\n" + offenders.mkString("\n"))
  }
}
