package graft.sources

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestLog]] is the only code that names table-log files: every
  * other main source that spells `manifest-v`, `commit-v`,
  * `checkpoint-v` or `txn-v` on a code line is hand-rolling a second
  * writer or reader of the log. Comment lines are skipped. */
class TableLogOwnerSpec extends AnyFunSuite {

  private val owner = "graft/sources/ManifestLog.scala"
  private val logNames = Seq("manifest-v", "commit-v", "checkpoint-v", "txn-v")

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  private def lines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("only sources/ManifestLog.scala builds table-log file names") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val files = scalaFiles(root)
    assert(files.exists(_.getPath.endsWith(owner)), s"$owner not found")
    val offenders = for {
      f <- files if !f.getPath.endsWith(owner)
      (line, i) <- lines(f).zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if logNames.exists(code.contains)
    } yield s"${f.getPath}:${i + 1}: $code"
    if (offenders.nonEmpty)
      fail("table-log names outside ManifestLog:\n" + offenders.mkString("\n"))
  }
}
