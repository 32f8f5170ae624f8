package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-ANN-maintenance contract (the IncrementalDedupSpec
  * discipline on the vector side): probe-after-append must equal
  * probe-after-full-rebuild with the same frozen centroids, the append
  * plan must pay only delta-proportional work (no centroid re-training,
  * no base re-assignment — base postings come from the staged parquet),
  * and the staged index must be built at most once. */
class IncrementalAnnSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private lazy val sf = TestSpark.sf

  test("probe-after-append is row-identical to the inline full rebuild") {
    val appended = Similarity.incrementalAnn(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val rebuilt = Similarity.incrementalAnnInline(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(appended == rebuilt, "append path diverges from the full rebuild")
  }

  test("staged build runs at most once across repeated probes") {
    val dir = StageBuilds.dirOf(Similarity.ensureIncAnnStaged(s, sf)._1)
    val before = StageBuilds(dir)
    Similarity.incrementalAnn(s, sf).collect()
    Similarity.incrementalAnn(s, sf).collect()
    assert(StageBuilds(dir) == before,
      "probe re-built the staged base index")
  }

  test("append plan scans only the delta slice and the probes, never the base") {
    val df = Similarity.incrementalAnn(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the base half must come from the staged index ...
    assert(plan.contains("incann_"),
      s"probe does not read the staged base postings:\n$plan")
    // ... and must never be re-trained inside the probe: the centroid
    // build's per-component partial sums (s0..s63 aggregate aliases)
    // exist only in the stager's plan
    assert(!plan.contains("s63"),
      s"probe plan re-trains centroids (centroid partial sums present):\n$plan")
    // every raw-embeddings scan in the probe is filtered: the delta
    // batch (pmod) or the probe queries (vec_id < 8) — a bare
    // corpus-wide scan would be O(corpus) work per ingest
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { l =>
      assert(l.contains("pmod") || l.contains("vec_id") && l.contains("< 8"),
        s"unfiltered raw-embeddings scan in the append plan (base re-read):\n$l")
    }
  }

  test("merged postings cover every vector exactly once, delta rows included") {
    val (_, pPath) = Similarity.ensureIncAnnStaged(s, sf)
    val base = s.read.parquet(pPath)
    val total = graft.Tables.embeddings(s, sf).count()
    val baseN = base.count()
    val deltaN = graft.Tables.embeddings(s, sf)
      .filter(pmod(col("vec_id"), lit(10)) === lit(7)).count()
    assert(baseN + deltaN == total, s"$baseN base + $deltaN delta != $total")
    // the staged base never contains a delta vector
    assert(base.filter(pmod(col("vec_id"), lit(10)) === lit(7)).count() == 0)
    // and freshly-ingested vectors are REACHABLE: some delta vector is
    // ranked in some probe's top-K (q_id 7 is itself a delta vector, so
    // its neighbors rank for it and it can rank for others)
    val deltaHits = Similarity.incrementalAnn(s, sf)
      .filter(pmod(col("vec_id"), lit(10)) === lit(7)).count()
    assert(deltaHits > 0, "no appended vector reachable from any probe")
  }
}
