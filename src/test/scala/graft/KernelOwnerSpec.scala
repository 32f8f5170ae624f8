package graft

import org.scalatest.funsuite.AnyFunSuite

/** The NPORT kernel has one distributed form: the
  * [[graft.functions.ExtractHoldingsGen]] Generator, which every
  * extraction query runs through `Extraction.holdingsOf` and plain SQL
  * calls as `extract_holdings`. A main source that calls
  * `NportKernel.extractRows` anywhere else (a typed `flatMap`, an import,
  * an eta-expansion) is hand-rolling a second kernel form. Comment lines
  * are skipped; the kernel's own definition is not a call. */
class KernelOwnerSpec extends AnyFunSuite {

  private val owner = "graft/functions/ExtractHoldingsGen.scala"
  private val call = """\bextractRows\b""".r

  private def calls(code: String): Boolean =
    call.findFirstIn(code).nonEmpty && !code.startsWith("def extractRows")

  test("only functions/ExtractHoldingsGen.scala calls NportKernel.extractRows") {
    val files = MainSources.files
    val ownerFile = files.find(_.getPath.endsWith(owner))
    assert(ownerFile.isDefined, s"$owner not found")
    assert(MainSources.codeLines(ownerFile.get).exists { case (code, _) => calls(code) },
      s"$owner no longer runs the kernel")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if calls(code)
    } yield s"${f.getPath}:$n: $code"
    if (offenders.nonEmpty)
      fail("NPORT kernel rows built outside the Generator:\n" + offenders.mkString("\n"))
  }
}
