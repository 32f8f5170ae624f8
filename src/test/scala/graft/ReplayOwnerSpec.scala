package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.Replay]] owns the replay job — starting a memory
  * sink, fencing micro-batches, and scoping the replay's checkpoint root
  * and state-store provider — and [[QueryDsl.withConfs]] owns putting a
  * scoped conf back. A main source that spells one of those calls
  * outside its owner is hand-rolling a second copy. Comment lines are
  * skipped. */
class ReplayOwnerSpec extends AnyFunSuite {

  private val harness = "graft/streaming/Replay.scala"
  private val harnessCalls = Seq("processAllAvailable", "format(\"memory\")",
    "RocksDBStateStoreProvider", "spark.sql.streaming.checkpointLocation")

  private def offenders(owner: String)(hit: String => Boolean): Seq[String] = {
    assert(MainSources.files.exists(_.getPath.endsWith(owner)), s"$owner not found")
    for {
      f <- MainSources.files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if hit(code)
    } yield s"${f.getPath}:$n: $code"
  }

  test("only the replay harness fences, starts memory sinks and scopes replay confs") {
    val found = offenders(harness)(code => harnessCalls.exists(code.contains))
    if (found.nonEmpty) fail("replay steps outside Replay:\n" + found.mkString("\n"))
  }

  test("only QueryDsl unsets a conf") {
    val found = offenders("graft/QueryDsl.scala")(_.contains("conf.unset("))
    if (found.nonEmpty)
      fail("scoped confs restored outside QueryDsl.withConfs:\n" + found.mkString("\n"))
  }
}
