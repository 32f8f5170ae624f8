package graft.operators

import graft.TestSpark
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** The compacted doc-corpus twin: identical extraction rows (the hash
  * oracle gate re-proves this at sf0.01), a fraction of the file opens —
  * asserted on EXECUTED scan metrics, the same discipline as LayoutSpec
  * (`inputFiles` ignores runtime behavior). */
class DocCompactionSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  test("compacted twin: same rows, a handful of files instead of one per doc") {
    val fragmented = Extraction.docSourceHoldings(s, sf)
    val compacted = Extraction.docSourceCompactedHoldings(s, sf)
    val a = fragmented.collect()
    val b = compacted.collect()
    assert(a.length == b.length && a.sameElements(b),
      "compaction changed the extraction output")
    // scan metrics come off the RAW (unpinned) frame: the public query
    // pins a frame too big to sort in one partition (QueryDsl.sortedPinned),
    // which hides the scan subtree behind an RDD — the scan behavior under
    // test is the same either way
    val raw = Extraction.docSourceCompactedRaw(s, sf)
    // execute the SAME QueryExecution whose plan is inspected (a noop
    // write runs a separate QueryExecution, so the inspected scan's
    // metrics would stay 0 and the gate would pass vacuously — r21 advice;
    // collect() is the LayoutSpec/DppSpec pattern)
    raw.collect()
    val scan = flatten(raw.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.isDefined,
      s"expected a FileSourceScanExec in:\n${raw.queryExecution.executedPlan}")
    val opened = scan.get.metrics("numFiles").value
    val docCount = Option(new java.io.File(graft.sources.DocStage.stageDir(sf)).listFiles)
      .getOrElse(Array.empty).count(_.getName.endsWith(".html"))
    assert(docCount > 20, s"doc stage unexpectedly small: $docCount files")
    assert(opened <= 8 && opened < docCount / 4,
      s"compacted scan opened $opened files against a $docCount-doc corpus")
  }
}
