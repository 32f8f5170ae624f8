package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.ManifestLog

/** Time-based retention on the action log: aged versions below the
  * resolution anchor must FAIL at the manifest layer post-vacuum, while
  * every in-window version still reads exactly; the aged checkpoint a
  * retained version resolves through must survive the age cut. */
class VacuumTtlSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private lazy val sf = TestSpark.sf

  test("aged versions fail at the manifest; in-window versions read exactly") {
    val (base, df) = Formats.vacuumTtlBuild(s, sf)
    val rows = df.collect()
    // the audit: versions 5..8 readable with the expected replay depths
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((5, 2), (6, 0), (7, 1), (8, 2)))
    // v5..v7 hold identical row sets (compaction/rewrites preserve rows)
    assert(rows.take(3).map(_.getLong(2)).distinct.length == 1)
    // v1/v2 predate the anchor checkpoint: their replay chain is gone —
    // resolution must fail at the manifest (missing commit file)
    Seq(1, 2).foreach { v =>
      intercept[java.nio.file.NoSuchFileException](ManifestLog.resolve(base, v))
    }
    // v3 is the anchor checkpoint itself: resolvable by definition
    // (the checkpoint IS its state), replaying zero actions
    val (v3files, v3replayed) = ManifestLog.resolve(base, 3)
    assert(v3replayed == 0 && v3files.nonEmpty)
    // v4 resolves at the manifest (its commit survives as v5's replay
    // suffix) but its file set references vacuumed data — the honest
    // time-travel-past-retention failure mode
    val (v4files, _) = ManifestLog.resolve(base, 4)
    assert(v4files.exists(f => !new java.io.File(f).exists()),
      "v4 should reference at least one vacuumed data file")
    // the anchor checkpoint survived the age cut
    assert(new java.io.File(s"$base/checkpoint-v3.txt").exists())
    // and the aged commits really are gone
    Seq(1, 2, 3).foreach { v =>
      assert(!new java.io.File(s"$base/commit-v$v.txt").exists(), s"commit v$v not vacuumed")
    }
    Seq(4, 5, 6, 7, 8).foreach { v =>
      assert(new java.io.File(s"$base/commit-v$v.txt").exists(), s"commit v$v wrongly vacuumed")
    }
  }
}
