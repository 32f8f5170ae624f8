package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-stats pruning contract: the manifest resolves the predicate to a
  * strict subset of the staged files (REQUIREd in-operator), the scan
  * only touches manifest-selected files, the staged index builds once,
  * and the answer equals a plain recompute over the original table. */
class StatsPruneSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("manifest-pruned scan reads a file subset and preserves the answer") {
    val df = Layout.statsPrune(s, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every opened file is one of the staged data files, and fewer than all
    val opened = df.inputFiles.toSet
    val all = s.read.parquet(Layout.statsIndexDir(sf) + "/data").inputFiles.toSet
    assert(opened.subsetOf(all), "scan escaped the staged file set")
    assert(opened.size < all.size, "no file was skipped")

    val plain = graft.Tables.orders(s, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), graft.QueryDsl.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("month")
      .collect()
    assert(rows.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq,
      "stats pruning must never change the answer")
  }

  test("the stats index builds once per sf dir") {
    val before = StageBuilds(Layout.statsIndexDir(sf))
    Layout.statsPrune(s, sf).collect()
    Layout.statsPrune(s, sf).collect()
    assert(StageBuilds(Layout.statsIndexDir(sf)) == before, "index rebuilt on a warm query")
  }
}
