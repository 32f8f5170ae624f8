package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** The graph-insert contract: repeated probes never rebuild the staged
  * base graph, and the appended BACK-LINKS make freshly inserted
  * vectors retrievable — without them an append-only insert is
  * write-only storage. */
class IncrementalNswSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("probe-after-insert reuses the staged base graph") {
    val first = Similarity.queries("v_incremental_nsw")(s, sf).collect()
      .map(_.toString).toSeq
    val dir = StageBuilds.dirOf(Similarity.ensureIncNswStaged(s, sf)._1)
    val builds = StageBuilds(dir)
    val second = Similarity.queries("v_incremental_nsw")(s, sf).collect()
      .map(_.toString).toSeq
    assert(StageBuilds(dir) == builds,
      "second probe must reuse the staged base graph")
    assert(first == second, "probe must be deterministic")
    assert(first.nonEmpty)
  }

  test("back-links make inserted vectors retrievable") {
    val rows = Similarity.queries("v_incremental_nsw")(s, sf).collect()
      .map(r => r.getLong(2))
    assert(rows.exists(_ % 10 == 7),
      "no inserted vector surfaced — the back-link append is not load-bearing")
  }

  test("entry-layer probe runs the reduced round budget (4 bounded jobs)") {
    // the r18 HNSW-style entry layer cut the probe from 5 driver-sync
    // jobs (fixed-entry seed + 2×L1 + 3×L0) to 4 (L2 entry + 1×L1 +
    // 2×L0) — pin it so a regression in round count is loud, for both
    // the staged and the incrementally-extended graph
    val expected = 1 + Similarity.NswSteps1 + Similarity.NswSteps
    assert(expected == 4, s"probe constants drifted: $expected rounds")
    for (name <- Seq("v_ann_nsw", "v_incremental_nsw")) {
      val before = Similarity.nswProbeJobs.get()
      Similarity.queries(name)(s, sf).collect(): Unit
      val rounds = Similarity.nswProbeJobs.get() - before
      assert(rounds == expected,
        s"$name probe ran $rounds bounded jobs, expected $expected")
    }
  }
}
