package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** The staged-layout scan-efficiency contract: the whole point of the
  * date-partitioned staging is that a date-range query OPENS ONLY the
  * surviving partitions — asserted on the EXECUTED scan's metrics, since
  * `Dataset.inputFiles` reports the relation before pruning. */
class LayoutSpec extends AnyFunSuite {
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

  test("date filter prunes partitions: the scan reads 3 of 30 staged days") {
    val df = Layout.layoutPrune(s, sf)
    df.collect() // force execution so scan metrics are real
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.isDefined, s"expected a FileSourceScanExec in:\n${df.queryExecution.executedPlan}")
    // the date predicate must be a partition filter (pruned BEFORE the
    // scan), not a data filter evaluated per row
    assert(scan.get.partitionFilters.nonEmpty,
      s"date predicate missing from partitionFilters:\n${scan.get}")
    val numFiles = scan.get.metrics("numFiles").value
    assert(numFiles == 3, s"pruned scan should open 3 day-files, opened $numFiles")
    // and the staging really has all 30 days on disk
    val dayDirs = new java.io.File(Layout.layoutDir(sf)).listFiles()
      .count(_.getName.startsWith("event_date="))
    assert(dayDirs == 30, s"expected 30 staged day-directories, saw $dayDirs")
  }

  test("layout staging is build-once (marker): repeat ensure is a no-op") {
    val dir = Layout.ensureLayout(s, sf)
    val builds = StageBuilds(dir)
    Layout.ensureLayout(s, sf)
    assert(StageBuilds(dir) == builds)
  }

  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.isDefined, s"expected a FileSourceScanExec in:\n${df.queryExecution.executedPlan}")
    assert(scan.get.metadata("PushedFilters") != "[]",
      s"predicates must reach the parquet reader:\n${scan.get}")
    scan.get.metrics("numOutputRows").value
  }

  test("Z-order: the 2-D predicate skips most row groups vs the unclustered layout") {
    import org.apache.spark.sql.functions._
    // sf0.01, not the default spec fixture: Morton pruning power grows
    // with key BIT-DEPTH, and sf0.001's 15-user domain (4 bits) gives the
    // curve almost nothing to cluster on — a real property of Z-ordering
    // (it pays off as domains grow), not a tuning artifact of this test
    val zsf = "/root/testdata/sf0.01"
    val pred = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("user_id").between(Layout.UserFrom, Layout.UserTo) &&
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
    val zRead = scanRows(pred(s.read.parquet(Layout.ensureZOrder(s, zsf))))
    // same predicate over the SAME rows staged with no clustering at all:
    // a single sort-free file whose row groups span the full key ranges
    val flatDir = graft.TempPaths.scratch(s, "zorder_flat")
    graft.Tables.events(s, zsf).coalesce(1).write.mode("overwrite").parquet(flatDir)
    val flatRead = scanRows(pred(s.read.parquet(flatDir)))
    assert(zRead > 0, "the 2-D predicate matches no rows — fixture drifted?")
    assert(zRead * 4 <= flatRead,
      s"Z-order should skip ≥75% of what the unclustered scan reads: z=$zRead flat=$flatRead")
    // and the answers agree regardless of layout
    assert(pred(s.read.parquet(Layout.ensureZOrder(s, zsf))).count() ==
      pred(s.read.parquet(flatDir)).count())
  }

  test("zorder staging is build-once (marker): repeat ensure is a no-op") {
    val dir = Layout.ensureZOrder(s, sf)
    val builds = StageBuilds(dir)
    Layout.ensureZOrder(s, sf)
    assert(StageBuilds(dir) == builds)
  }

  test("compaction: same rows, ~64x fewer files opened by the scan") {
    val (frag, comp) = Layout.ensureCompaction(s, sf)
    def files(dir: String): Int = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(frag) >= 200, s"fragmented copy should have ~256 files, saw ${files(frag)}")
    assert(files(comp) <= 8, s"compacted copy should have ~4 files, saw ${files(comp)}")
    // identical content either way
    assert(s.read.parquet(frag).count() == s.read.parquet(comp).count())
    // and the routine query's scan opens only the compacted files
    val df = Layout.compactionQuery(s, sf)
    df.collect()
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.isDefined)
    assert(scan.get.metrics("numFiles").value <= 8)
  }

  test("bloom index: build-once staging; every probe found exactly once") {
    val r1 = Layout.bloomIndexLookup(s, sf).collect()
    val dir = Layout.ensureBloomIndex(s, sf)
    val builds = StageBuilds(dir)
    val r2 = Layout.bloomIndexLookup(s, sf).collect()
    assert(StageBuilds(dir) == builds,
      "repeat lookup rebuilt the bloom index")
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    // event ids are unique: each probe resolves to exactly one row — a
    // bloom false negative would lose a probe entirely (and hash-fail)
    // sf0.001 has ~1000 event ids → fewer than 5 interior probes exist
    assert(r1.nonEmpty && r1.length <= 5 && r1.forall(_.getLong(1) == 1L),
      s"probe lookup shape wrong: ${r1.mkString("; ")}")
  }
}
