package graft.operators

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The ANN family in Similarity.scala shares one probe→refine core: one
  * staging helper owns the `Staging.ensure` call, and one refine helper
  * owns the exact-cosine score. A second code line that stages an index
  * or scores `embedding` against `q_emb` is a variant re-growing its own
  * copy. Comment lines are skipped. */
class AnnCoreSpec extends AnyFunSuite {

  private val source = new File("src/main/scala/graft/operators/Similarity.scala")

  private def codeLines: Seq[(String, Int)] = {
    assert(source.isFile, s"run from the repository root (no ${source.getAbsolutePath})")
    val src = scala.io.Source.fromFile(source, "UTF-8")
    try src.getLines().toVector.zipWithIndex.map { case (l, i) => (l.trim, i + 1) }
      .filter { case (code, _) =>
        !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      }
    finally src.close()
  }

  private def offenders(needle: String): Seq[String] =
    codeLines.collect { case (code, n) if code.contains(needle) => s"${source.getPath}:$n: $code" }

  test("one code line stages an index (Staging.ensure)") {
    val hits = offenders("Staging.ensure(")
    assert(hits.size <= 1, "more than one staging block:\n" + hits.mkString("\n"))
  }

  test("at most two code lines score embedding against q_emb (refine + brute-force scan)") {
    val hits = offenders("""cosineF(col("embedding"), col("q_emb"))""")
    assert(hits.size <= 2, "exact-cosine refine written out again:\n" + hits.mkString("\n"))
  }
}
