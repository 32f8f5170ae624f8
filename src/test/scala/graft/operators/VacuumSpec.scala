package graft.operators

import graft.TestSpark
import graft.sources.ManifestLog
import org.scalatest.funsuite.AnyFunSuite

/** Retention contract: vacuumed history is GONE (a read of a dropped
  * version fails at the manifest, not with silent partial data), retained
  * versions read exactly, and the shared file survives — the REQUIREs
  * inside the operator plus the hash-checked aggregates carry the rest. */
class VacuumSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("dropped versions fail at the manifest; retained versions still read") {
    val rows = Formats.vacuum(s, TestSpark.sf).collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(3, 4))
    assert(rows.forall(_.getAs[Int]("n_files_deleted") == 2))
    assert(rows.forall(_.getAs[Int]("n_manifests_deleted") == 2))
    // v4 = v3 plus the re-arrivals: strictly more rows
    assert(rows(1).getAs[Long]("n_rows") > rows(0).getAs[Long]("n_rows"))
    // the vacuumed run dir is the latest one the operator created
    val base = graft.TempPaths.scratch(s, "vacuum")
    val run = new java.io.File(base).listFiles().filter(_.getName.startsWith("run"))
      .maxBy(_.getName.stripPrefix("run").toInt).toString
    intercept[Exception](ManifestLog.read(run, 1))
    intercept[Exception](ManifestLog.read(run, 2))
    assert(ManifestLog.read(run, 3).nonEmpty)
    assert(ManifestLog.latest(run)._1 == 4)
  }

  test("action-log checkpoint reads are deterministic; rewrites preserve rows") {
    val a = Formats.logCheckpoint(s, TestSpark.sf).collect().map(_.toSeq).toSeq
    val b = Formats.logCheckpoint(s, TestSpark.sf).collect().map(_.toSeq).toSeq
    assert(a == b, "two log-checkpoint runs diverged")
    val byV = a.map(r => r.head.asInstanceOf[Int] ->
      ((r(1).asInstanceOf[Int], r(2).asInstanceOf[Long], r(3).asInstanceOf[Double]))).toMap
    // replay counts: v3 straight off its checkpoint, v5 = ckpt3 + 2
    // actions, latest = ckpt6 + 1 action (via the _last_checkpoint pointer)
    assert(byV(3)._1 == 0 && byV(5)._1 == 2 && byV(7)._1 == 1)
    // v5 (post-compaction) and v7 (post-rewrites) hold identical rows —
    // file maintenance never changes content
    assert(byV(5)._2 == byV(7)._2 && byV(5)._3 == byV(7)._3,
      s"rewrite changed content: v5=${byV(5)} v7=${byV(7)}")
    // v3 predates the D append: strictly fewer rows
    assert(byV(3)._2 < byV(5)._2)
  }
}
