package graft.operators

import graft.{QueryDsl, TestSpark}
import graft.functions.ExtractHoldingsGen
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline tests (SURVEY.md §5.4): corpus render → Generator
  * extraction, and source-equivalence between the in-plan corpus and the
  * staged wholetext document directory. */
class ExtractionPipelineSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  // every executed node with its ancestors (innermost first), through
  // AQE stages and cached relations, but not into a reused exchange:
  // that subtree ran once, under the exchange it reuses
  private def walk(p: SparkPlan, up: List[SparkPlan]): Seq[(SparkPlan, List[SparkPlan])] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    (p, up) +: kids.flatMap(walk(_, p :: up))
  }

  /** A kernel pass: the NPORT Generator's `GenerateExec`. */
  private def isKernel(p: SparkPlan): Boolean = p match {
    case g: GenerateExec => g.generator.isInstanceOf[ExtractHoldingsGen]
    case _ => false
  }

  test("extractHoldings: every row carries a date; date-less filings absent") {
    val rows = Extraction.extractHoldings(s, sf)
    val n = rows.count()
    assert(n > 0)
    assert(rows.filter(col("reporting_date").isNull).count() == 0)
    // customers with key % 50 == 0 file without a date → no rows for them
    val dates = Extraction.reportingDates(s, sf)
    assert(dates.filter(col("doc_id") % 50 === 0).count() == 0)
  }

  test("guard semantics survive the distributed path (modulus nulls)") {
    val rows = Extraction.extractHoldings(s, sf).cache()
    // ~1/7 of holdings lack an issuer, ~1/5 lack shares — both present
    assert(rows.filter(col("issuer").isNull).count() > 0)
    assert(rows.filter(col("shares").isNull).count() > 0)
    // comma-grouping preserved as raw strings
    assert(rows.filter(col("shares").contains(",")).count() > 0)
    rows.unpersist()
  }

  test("wholetext doc source yields exactly the in-plan corpus result") {
    import s.implicits._
    // the staged layout demo is a deterministic half-slice of the corpus
    // (DocStage.DocSliceMod); the in-plan reference applies the same slice
    val cols = Seq("reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")
    val a = graft.sources.FilingDocs.docs(s, sf)
      .filter(_._1 % graft.sources.DocStage.DocSliceMod == 0)
      .flatMap { case (_, doc) => graft.extract.NportKernel.extractRows(doc) }
      .toDF()
      .select(cols.map(col): _*)
      .orderBy(cols.map(col): _*)
      .collect().toSeq
    val b = Extraction.docSourceHoldings(s, sf).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("every holdings query plans one Generator and no flatMap") {
    // the advisory size is scoped up so sortedPinned sorts the frame as
    // is: a pinned frame would hide the kernel subtree behind an RDD scan
    QueryDsl.withConfs(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1g") {
      for (q <- Seq("x_extract_holdings", "x_doc_source", "x_doc_source_compacted",
          "x_pipeline_e2e")) {
        val df = Extraction.queries(q)(s, sf)
        assert(df.collect().nonEmpty, s"$q returned no rows")
        val plan = df.queryExecution.executedPlan
        val nodes = walk(plan, Nil).map(_._1)
        assert(nodes.count(isKernel) == 1, s"$q: expected one ExtractHoldingsGen pass in:\n$plan")
        assert(!nodes.exists(_.isInstanceOf[MapPartitionsExec]),
          s"$q runs a typed flatMap in:\n$plan")
      }
    }
  }

  test("extract_holdings is SQL-registered: plain spark.sql users get the generator") {
    graft.sources.FilingDocs.docs(s, sf).toDF("doc_id", "doc")
      .createOrReplaceTempView("gen_docs")
    val n = s.sql("SELECT extract_holdings(doc) FROM gen_docs").count()
    assert(n == Extraction.extractHoldings(s, sf).count())
  }

  test("end-to-end: staged docs → extract → partitioned CSV sink (ref main flow)") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val extracted = Extraction.extractHoldings(s, sf)
      .withColumn("filing_seq", lit(1L)) // one filing per date at sf0.001
    val out = Files.createTempDirectory("graft_e2e_").toString
    graft.sinks.HoldingsCsvSink.write(extracted, out, exactFilenames = true)
    val files = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith("_NPORT-P_HOLDINGS.csv")).toList
    val nDates = extracted.select("reporting_date").distinct().count()
    assert(files.size.toLong == nDates)
    // every data row across all CSVs == every extracted holding
    val totalDataRows = files.map { f =>
      Files.readAllLines(java.nio.file.Paths.get(out, f)).size() - 1 // header
    }.sum
    assert(totalDataRows.toLong == extracted.count())
  }

  test("flagship: one kernel pass, one hash exchange after it, no cached RDDs left") {
    val cachedBefore = s.sparkContext.getPersistentRDDs.keySet
    val runs = (1 to 3).map { _ =>
      val df = Extraction.pipelineE2e(s, sf)
      assert(df.collect().nonEmpty)
      df
    }
    assert(s.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "x_pipeline_e2e left cached RDDs behind")

    val plan = runs.last.queryExecution.executedPlan
    val kernels = walk(plan, Nil).collect { case (p, up) if isKernel(p) => up }
    assert(kernels.size == 1, s"expected one kernel pass in:\n$plan")
    val hashExchanges = kernels.head.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashExchanges.size == 1, s"expected one hash exchange above the kernel in:\n$plan")
  }
}
