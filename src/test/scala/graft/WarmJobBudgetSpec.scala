package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs one warm call of a query starts, building the frame and
  * collecting it: the driver round trips that bound a warm pass. */
class WarmJobBudgetSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  /** The five queries the benchmark's timed passes run. */
  private val timed = Seq("x_filing_index", "x_doc_source", "x_extract_holdings", "x_pipeline_e2e", "t_pipeline_e2e")

  /** Call sites of the jobs of one call of each query, after a first,
    * cold one. */
  private lazy val warmSites: Map[String, Seq[String]] = timed.map { q =>
    SparkEntry.queries(q)(s, sf).collect(): Unit
    q -> JobSites.of(s)(SparkEntry.queries(q)(s, sf).collect())
  }.toMap

  test("t_pipeline_e2e runs at most 17 jobs warm") {
    val sites = warmSites("t_pipeline_e2e")
    assert(sites.size <= 17, s"${sites.size} jobs:\n${sites.mkString("\n")}")
  }

  test("x_extract_holdings runs at most 4 jobs warm") {
    val sites = warmSites("x_extract_holdings")
    assert(sites.size <= 4, s"${sites.size} jobs:\n${sites.mkString("\n")}")
  }

  test("no warm call of a timed benchmark query runs a parquet footer job") {
    val footer = timed.flatMap(q => warmSites(q).filter(_.startsWith("parquet at")).map(q -> _))
    assert(footer.isEmpty, s"footer-inference jobs: ${footer.mkString(", ")}")
  }
}
