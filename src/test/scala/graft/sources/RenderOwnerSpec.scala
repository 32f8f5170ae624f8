package graft.sources

import graft.MainSources
import org.scalatest.funsuite.AnyFunSuite

/** [[DocStage]] is the only code that renders the filing corpus: every
  * other main source that calls `FilingDocs.docs(` or
  * `FilingDocs.filings(` on a code line re-renders the fixture on each
  * call instead of reading the staged render. Comment lines are
  * skipped. */
class RenderOwnerSpec extends AnyFunSuite {

  private val owner = "graft/sources/DocStage.scala"
  private val renders = Seq("FilingDocs.docs(", "FilingDocs.filings(")

  test("only sources/DocStage.scala renders the filing corpus") {
    val files = MainSources.files
    val ownerFile = files.find(_.getPath.endsWith(owner))
    assert(ownerFile.isDefined, s"$owner not found")
    assert(MainSources.codeLines(ownerFile.get).exists { case (code, _) => renders.exists(code.contains) },
      s"$owner no longer renders the corpus")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if renders.exists(code.contains)
    } yield s"${f.getPath}:$n: $code"
    if (offenders.nonEmpty)
      fail("corpus renders outside DocStage:\n" + offenders.mkString("\n"))
  }
}
