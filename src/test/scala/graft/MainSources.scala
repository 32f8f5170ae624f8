package graft

import java.io.File

/** The engine's main Scala sources, for the owner specs that pin which
  * file may spell a call. Run from the repository root. */
object MainSources {
  val root = new File("src/main/scala")

  def files: Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    walk(root)
  }

  /** The trimmed code lines of `f` with their 1-based line numbers;
    * lines that open or continue a comment are skipped. */
  def codeLines(f: File): Seq[(String, Int)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector.map(_.trim).zipWithIndex
      .collect { case (code, i) if !isComment(code) => (code, i + 1) }
    finally src.close()
  }

  private def isComment(code: String): Boolean =
    code.startsWith("//") || code.startsWith("*") || code.startsWith("/*")
}
