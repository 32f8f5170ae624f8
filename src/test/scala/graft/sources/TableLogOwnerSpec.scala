package graft.sources

import graft.MainSources
import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestLog]] is the only code that names table-log files: every
  * other main source that spells `manifest-v`, `commit-v`,
  * `checkpoint-v` or `txn-v` on a code line is hand-rolling a second
  * writer or reader of the log. Comment lines are skipped. */
class TableLogOwnerSpec extends AnyFunSuite {

  private val owner = "graft/sources/ManifestLog.scala"
  private val logNames = Seq("manifest-v", "commit-v", "checkpoint-v", "txn-v")

  test("only sources/ManifestLog.scala builds table-log file names") {
    val files = MainSources.files
    assert(files.exists(_.getPath.endsWith(owner)), s"$owner not found")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (code, n) <- MainSources.codeLines(f) if logNames.exists(code.contains)
    } yield s"${f.getPath}:$n: $code"
    if (offenders.nonEmpty)
      fail("table-log names outside ManifestLog:\n" + offenders.mkString("\n"))
  }
}
