package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The reliable pin for iterative CC: under `spark.graft.pin.mode=reliable`
  * every per-round pin ([[graft.QueryDsl.pin]]) is a real `checkpoint` into
  * the context's checkpoint dir (cluster runs that must survive executor
  * loss) instead of an executor-local `localCheckpoint`. The pin mode must
  * be invisible in the RESULT — asserted row-for-row — and the reliable run
  * must actually write checkpoint data into the directory. */
class CheckpointModeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf
  private val Mode = "spark.graft.pin.mode"

  /** Runs `body` with reliable pins into a fresh checkpoint dir set on the
    * context, then restores the pin mode; returns the result and the dir. */
  private def reliably[T](body: => T): (T, java.nio.file.Path) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    s.sparkContext.setCheckpointDir(dir.toString)
    val prior = s.conf.getOption(Mode)
    s.conf.set(Mode, "reliable")
    try (body, dir)
    finally prior.fold(s.conf.unset(Mode))(s.conf.set(Mode, _))
  }

  /** Regular files under `dir` — checkpoint data, not the empty per-app
    * dir `setCheckpointDir` creates up front. */
  private def filesUnder(dir: java.nio.file.Path): Long = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally walk.close()
  }

  test("reliable checkpoint CC is row-identical to localCheckpoint CC") {
    def rows = Dedup.dupClusters(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val local = rows
    val (reliable, dir) = reliably(rows)
    assert(local == reliable, "pin strategy changed the CC result")
    assert(filesUnder(dir) > 0, s"reliable run wrote no checkpoint data under $dir")
  }

  test("two-phase CC accepts a custom pin and converges to the same labels") {
    import org.apache.spark.sql.functions.col
    val pairs = Dedup.neardupPairs(s, sf).select(col("a"), col("b"))
    def labels = Dedup.ccTwoPhase(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLocal = labels
    val (viaReliable, dir) = reliably(labels)
    assert(viaLocal == viaReliable, "two-phase CC labels diverge across pin strategies")
    assert(filesUnder(dir) > 0, s"reliable run wrote no checkpoint data under $dir")
  }
}
