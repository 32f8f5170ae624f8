package graft.operators

import graft.{StageBuilds, TestSpark}
import graft.functions.HilbertIndex3
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** The 3-D Hilbert layout: the curve really is a Hilbert curve (proved
  * exhaustively — bijective and unit-step adjacent), and the 3-predicate
  * workload reads fewer rows through it than through both the 2-D
  * Z-order and the unclustered layout. */
class HilbertSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("hilbert_index3 is a bijection with unit-distance consecutive steps") {
    val bits = 3
    val cells = new Array[(Int, Int, Int)](512)
    for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8) {
      val h = HilbertIndex3.encode(x.toLong, y.toLong, z.toLong, bits).toInt
      assert(h >= 0 && h < 512 && cells(h) == null, s"index collision/out-of-range at $h")
      cells(h) = (x, y, z)
    }
    (0 until 511).foreach { h =>
      val (a, b) = (cells(h), cells(h + 1))
      val d = math.abs(a._1 - b._1) + math.abs(a._2 - b._2) + math.abs(a._3 - b._3)
      assert(d == 1, s"step $h→${h + 1} jumps distance $d: $a → $b")
    }
  }

  test("the codegen'd column agrees with the direct encode") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val rows = (0L until 64L).map(i => (i % 8, (i / 8) % 4, i % 5)).toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        graft.functions.GraftFunctions.hilbert_index3(col("x"), col("y"), col("z"), 4).as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(3) ==
        HilbertIndex3.encode(r.getLong(0), r.getLong(1), r.getLong(2), 4))
    }
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
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

  test("3-predicate workload: Hilbert reads less than Z-order, which reads less than flat") {
    import org.apache.spark.sql.functions._
    // sf0.01 for the same bit-depth reason as LayoutSpec's Z-order leg
    val hsf = "/root/testdata/sf0.01"
    val pred = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("user_id").between(Layout.UserFrom, Layout.UserTo) &&
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp") &&
        col("event_type") === "view")
    val hRead = scanRows(pred(s.read.parquet(Layout.ensureHilbert(s, hsf))))
    val zRead = scanRows(pred(s.read.parquet(Layout.ensureZOrder(s, hsf))))
    val flatDir = graft.TempPaths.scratch(s, "hilbert_flat")
    graft.Tables.events(s, hsf).coalesce(1).write.mode("overwrite").parquet(flatDir)
    val fRead = scanRows(pred(s.read.parquet(flatDir)))
    info(s"rows read — hilbert: $hRead, zorder: $zRead, flat: $fRead")
    assert(hRead > 0, "the 3-predicate workload matches no rows — fixture drifted?")
    // the measured ordering this layout exists for: the third clustered
    // axis must buy row-group pruning the 2-D curve can't
    assert(hRead < zRead,
      s"Hilbert should out-prune Z-order on the 3-predicate workload: h=$hRead z=$zRead")
    assert(hRead * 4 <= fRead,
      s"Hilbert should skip ≥75% of the unclustered scan: h=$hRead flat=$fRead")
    // answers are layout-independent
    val agg = (df: org.apache.spark.sql.DataFrame) =>
      pred(df).agg(count(lit(1)), sum(col("value"))).collect().head
    assert(agg(s.read.parquet(Layout.hilbertDir(hsf))) == agg(s.read.parquet(flatDir)))
  }

  test("hilbert staging is build-once (marker): repeat ensure is a no-op") {
    val sf = TestSpark.sf
    Layout.ensureHilbert(s, sf)
    val builds = StageBuilds(Layout.hilbertDir(sf))
    Layout.ensureHilbert(s, sf)
    assert(StageBuilds(Layout.hilbertDir(sf)) == builds)
  }
}
