package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MODE-AWARE pin ([[QueryDsl.pin]], r22): every hot-path pin routes
  * through one helper that is `localCheckpoint` under a local master and a
  * reliable `checkpoint(dir)` on a cluster (the bare localCheckpoint was
  * the r21 verdict's lost-executor caveat on the sortedPinned family).
  * The decision is a pure function, pinned here; the reliable branch is
  * exercised end-to-end via the conf override. */
class PinModeSpec extends AnyFunSuite {

  test("pin decision: auto follows the master; explicit modes override") {
    assert(!QueryDsl.pinReliable("auto", isLocalMaster = true),
      "local master must pin with executor-local blocks")
    assert(QueryDsl.pinReliable("auto", isLocalMaster = false),
      "a real cluster must pin reliably — the pin cuts lineage, so a lost " +
        "executor's local blocks are unrecoverable")
    assert(QueryDsl.pinReliable("reliable", isLocalMaster = true))
    assert(!QueryDsl.pinReliable("local", isLocalMaster = false))
  }

  test("checkpoint dir: conf wins; a local master falls back to /tmp; a cluster fails fast") {
    assert(QueryDsl.pinCheckpointDir(isLocalMaster = true, None, None, "app-1")
      .contains("/tmp/graft_checkpoints/app-1"),
      "explicit reliable mode on a local master keeps the per-app /tmp default")
    assert(QueryDsl.pinCheckpointDir(isLocalMaster = false, Some("hdfs:///ck"), None, "app-1")
      .contains("hdfs:///ck"))
    assert(QueryDsl.pinCheckpointDir(isLocalMaster = false, None, Some("hdfs:///ctx"), "app-1")
      .isEmpty, "an existing context checkpoint dir is kept")
    // auto mode on a cluster pins reliably, and with no shared dir
    // configured it must refuse rather than write to node-local /tmp
    assert(QueryDsl.pinReliable("auto", isLocalMaster = false))
    val e = intercept[IllegalStateException](
      QueryDsl.pinCheckpointDir(isLocalMaster = false, None, None, "app-1"))
    assert(e.getMessage.contains("spark.graft.checkpoint.dir"))
  }

  test("reliable pin materializes through the checkpoint dir, rows identical") {
    val s = TestSpark.spark
    val df = s.range(0L, 1000L, 1L, 4).toDF("id")
      .withColumn("x", col("id") * 3 % 7)
    val viaLocal = QueryDsl.pin(df).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    s.conf.set("spark.graft.pin.mode", "reliable")
    try {
      val pinned = QueryDsl.pin(df)
      val viaReliable = pinned.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(viaReliable.toSeq == viaLocal.toSeq, "pin mode changed the rows")
      val dir = s.sparkContext.getCheckpointDir
      assert(dir.nonEmpty, "reliable pin must establish a checkpoint dir")
      val root = new java.io.File(new java.net.URI(dir.get).getPath)
      assert(root.exists && root.listFiles != null && root.listFiles.nonEmpty,
        "reliable pin must write checkpoint data under the dir")
    } finally s.conf.unset("spark.graft.pin.mode")
  }

  test("sortedPinned through the helper keeps the total order") {
    val s = TestSpark.spark
    val df = s.range(0L, 500L, 1L, 4).toDF("id")
      .withColumn("k", pmod(col("id") * 37, lit(501L)))
    val sorted = QueryDsl.sortedPinned(df, col("k"), col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(sorted.toSeq == sorted.toSeq.sorted, "sortedPinned lost the order")
    assert(sorted.length == 500)
  }
}
