package graft.operators

import graft.{StageBuilds, Tables, TestSpark}
import graft.QueryDsl.dsum
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized-rollup maintenance contract: the sealed-day rollup is
  * built ONCE per fixture (repeat queries reuse the staged parquet), the
  * staged half never contains the hot day, and staged + fresh tail is
  * bit-identical to a full recompute over raw events. */
class IncrementalRollupSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("staged + hot tail equals the full recompute, and builds once") {
    val first = Events.incrementalRollup(s, sf).collect()
    val builds = StageBuilds(Events.rollupStageDir(sf))
    val second = Events.incrementalRollup(s, sf).collect()
    assert(StageBuilds(Events.rollupStageDir(sf)) == builds,
      "second query must reuse the staged rollup, not rebuild it")
    assert(first.toSeq == second.toSeq, "staged reuse changed the answer")

    val full = Tables.events(s, sf)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("day", "event_type").collect()
    assert(first.toSeq == full.toSeq,
      "incremental path diverges from the full recompute")
  }

  test("the staged half is sealed: it never contains the hot day") {
    Events.incrementalRollup(s, sf).collect(): Unit // ensure staged
    val maxDay = Tables.events(s, sf)
      .agg(max(to_date(col("ts")))).head().getDate(0)
    val stagedMax = s.read.parquet(Events.rollupStageDir(sf) + "/daily")
      .agg(max(col("day"))).head().getDate(0)
    assert(stagedMax.before(maxDay),
      s"staged rollup leaked the hot day: staged max $stagedMax vs hot $maxDay")
  }
}
