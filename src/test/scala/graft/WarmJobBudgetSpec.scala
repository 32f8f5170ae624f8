package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs one warm call of a query starts, building the frame and
  * collecting it: the driver round trips that bound a warm pass. */
class WarmJobBudgetSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  /** The five queries the benchmark's timed passes run, each with the
    * most jobs one warm call may start. */
  private val budgets = Seq(
    "x_filing_index" -> 2,
    "x_doc_source" -> 2,
    "x_extract_holdings" -> 2,
    "x_pipeline_e2e" -> 4,
    "t_pipeline_e2e" -> 16)

  /** Call sites of the jobs of one call of each query, after a first,
    * cold one. */
  private lazy val warmSites: Map[String, Seq[String]] = budgets.map { case (q, _) =>
    SparkEntry.queries(q)(s, sf).collect(): Unit
    q -> JobSites.of(s)(SparkEntry.queries(q)(s, sf).collect())
  }.toMap

  budgets.foreach { case (q, max) =>
    test(s"$q runs at most $max jobs warm") {
      val sites = warmSites(q)
      assert(sites.size <= max, s"${sites.size} jobs:\n${sites.mkString("\n")}")
    }
  }

  test("no warm call of a timed benchmark query runs a parquet footer job") {
    val footer = budgets.flatMap { case (q, _) => warmSites(q).filter(_.startsWith("parquet at")).map(q -> _) }
    assert(footer.isEmpty, s"footer-inference jobs: ${footer.mkString(", ")}")
  }
}
