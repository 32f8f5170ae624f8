package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Staging]] owns both facts every stager shares: where a stage lives
  * ([[Staging.dir]]) and whether it built ([[Staging.buildsSnapshot]]). A
  * main source that spells the staging root on a code line is hand-rolling
  * a second naming rule, and one that declares a build counter is keeping
  * a second build count. Comment lines are skipped. */
class StageOwnerSpec extends AnyFunSuite {

  private val owner = "graft/Staging.scala"
  private val counterDecl =
    """\b(?:val|var|def)\s+\w*[bB]uildCounts?\b|\b\w*[bB]uildCounts?\s*:""".r

  private def offenders(hit: String => Boolean): Seq[String] =
    for {
      f <- MainSources.files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if hit(code)
    } yield s"${f.getPath}:$n: $code"

  test("only Staging.scala spells the staging root") {
    assert(MainSources.files.exists(_.getPath.endsWith(owner)), s"$owner not found")
    val found = offenders(_.contains("graft_stage"))
    if (found.nonEmpty) fail("stage dirs named outside Staging.dir:\n" + found.mkString("\n"))
  }

  test("no main source declares a build counter") {
    val found = offenders(counterDecl.findFirstIn(_).nonEmpty)
    if (found.nonEmpty)
      fail("build counters beside Staging's build log:\n" + found.mkString("\n"))
  }
}
