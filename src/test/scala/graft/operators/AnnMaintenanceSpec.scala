package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Filtered search and merge-on-read deletes on the ANN index: the
  * pre-filter contract (only qualifying vectors ranked, k filled from
  * the qualifying pool) and the tombstone contract (erased ids absent
  * from results while still physically present in the staged index). */
class AnnMaintenanceSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("filtered search returns only qualifying vectors, k of them") {
    val rows = Similarity.queries("v_ann_filtered")(s, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) % 3 == 0, s"non-qualifying vec ${r.getLong(2)} ranked")
    }
    val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    perQ.foreach { case (q, n) => assert(n == 5, s"query $q returned $n of 5") }
  }

  test("pre-filtering differs from post-filtering the unfiltered top-k") {
    val post = Similarity.queries("v_ann_ivf")(s, sf).collect()
      .filter(_.getLong(2) % 3 == 0)
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    // post-filtering must under-fill k for at least one query on the
    // fixture — the failure mode the pre-filter leg exists to avoid
    assert(post.values.exists(_ < 5),
      s"fixture surprise: post-filter filled k everywhere ($post)")
  }

  test("the rebalance decision exercises both regimes") {
    val rows = Similarity.queries("v_ann_rebalance")(s, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(rows("daily_batch")._2 == "append" && rows("daily_batch")._1 <= 25,
      s"small batch must append: ${rows("daily_batch")}")
    assert(rows("backfill")._2 == "rebuild" && rows("backfill")._1 > 25,
      s"large batch must rebuild: ${rows("backfill")}")
  }

  test("rebalance retrain is staged build-once; the movement REQUIRE stays live") {
    Similarity.queries("v_ann_rebalance")(s, sf).collect()
    val rebalDir = StageBuilds.dirOf(Similarity.ensureRebalancedStaged(s, sf)._1)
    val baseDir = StageBuilds.dirOf(Similarity.ensureIncAnnStaged(s, sf)._1)
    val builds = (StageBuilds(rebalDir), StageBuilds(baseDir))
    // warm re-run: decision + REQUIREs execute, the k-means does not
    Similarity.queries("v_ann_rebalance")(s, sf).collect()
    assert(StageBuilds(rebalDir) == builds._1,
      "a warm rebalance re-ran the staged retrain")
    assert(StageBuilds(baseDir) == builds._2,
      "the append leg rebuilt the frozen base index")
    // the staged codebook genuinely differs from the frozen base one
    val (fPath, _) = Similarity.ensureIncAnnStaged(s, sf)
    val (rPath, _) = Similarity.ensureRebalancedStaged(s, sf)
    val frozen = s.read.parquet(fPath)
    val retrained = s.read.parquet(rPath)
    val moved = retrained.as("r")
      .join(frozen.as("f"), col("r.c_label") === col("f.c_label"))
      .filter(col("r.centroid") =!= col("f.centroid")).count()
    assert(moved > 0, "staged retrain identical to the frozen quantizer")
  }

  test("deleted ids never surface, yet remain in the staged index") {
    val rows = Similarity.queries("v_ann_delete")(s, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) % 10 != 4, s"tombstoned vec ${r.getLong(2)} surfaced")
    }
    // the engine REQUIREs presence before masking; re-check independently
    val (_, pPath) = Similarity.ensureIncAnnStaged(s, sf)
    val tombed = s.read.parquet(pPath).filter(pmod(col("vec_id"), lit(10)) === 4).count()
    assert(tombed > 0, "staged postings must still hold tombstoned rows")
  }
}
