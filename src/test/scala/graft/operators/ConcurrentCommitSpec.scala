package graft.operators

import graft.TestSpark
import graft.sources.{CommitResult, ManifestLog}
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic-concurrency contract on the manifest log: atomic
  * create-if-absent publish (one winner per version), read-set
  * validation (a writer whose inputs were rewritten must ABORT, not
  * clobber), clean rebase-retry for blind appends, and snapshot
  * isolation for readers throughout. The protocol is metadata-plane
  * pure-JVM, so most cases run without Spark; the end-to-end race over
  * cluster-written parquet goes through the `k_timetravel_occ` query. */
class ConcurrentCommitSpec extends AnyFunSuite {

  private def freshLog(files: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("occ_spec").toString
    assert(ManifestLog.publish(dir, 1, files))
    dir
  }

  test("publish is create-if-absent: second writer of the same version loses") {
    val dir = freshLog("base")
    assert(ManifestLog.publish(dir, 2, Seq("base", "x")))
    assert(!ManifestLog.publish(dir, 2, Seq("base", "y")), "duplicate version must not publish")
    assert(ManifestLog.read(dir, 2) == Seq("base", "x"), "loser must not clobber the winner")
  }

  test("compactor vs append rebases; compactor vs compactor aborts") {
    // append wins first: the compactor's read set {a, b} stays live in
    // v2, so its rebase lands — the k_occ_compaction happy path
    val dir = freshLog("a", "b")
    assert(ManifestLog.commit(dir, Set.empty, Seq("new")).version == 2)
    val r = ManifestLog.commit(dir, Set("a", "b"), Seq("c"), Some((1, Seq("a", "b"))))
    assert(r.version == 3 && r.attempts == 2, s"expected one rebase, got $r")
    assert(ManifestLog.latest(dir)._2.toSet == Set("new", "c"))
    // a SECOND compactor of the same inputs must abort — its read set
    // was invalidated by the first (double compaction = duplicated rows)
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestLog.commit(dir, Set("a", "b"), Seq("c2"), Some((1, Seq("a", "b"))))
    }
    assert(e.getMessage.contains("no longer live"))
  }

  test("latched append race: one winner, one clean rebase retry, no lost update") {
    val dir = freshLog("base")
    val ready = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, CommitResult]()
    def appender(name: String) = new Thread(() => {
      // pin both commits to the v1 snapshot: without it the loser's fresh
      // read inside commit() can observe v2 and land cleanly (attempts=2),
      // making the assertion below scheduling-dependent
      val snap = ManifestLog.latest(dir)
      ready.countDown(); ready.await()
      results.put(name, ManifestLog.commit(dir, Set.empty, Seq(name), Some(snap))): Unit
    })
    val ts = Seq(appender("x"), appender("y"))
    ts.foreach(_.start()); ts.foreach(_.join())
    val (v, files) = ManifestLog.latest(dir)
    assert(v == 3, "two commits atop v1 must land v2 and v3")
    assert(files.toSet == Set("base", "x", "y"), "no append may be lost")
    val attempts = results.values().stream().mapToInt(_.attempts).sum()
    assert(attempts == 3, s"exactly one conflict retry expected, got attempts=$attempts")
  }

  test("read-set validation: a compactor whose input was already rewritten aborts") {
    val dir = freshLog("base", "x")
    // compactor 1 rewrites base+x into c1 and wins
    assert(ManifestLog.commit(dir, Set("base", "x"), Seq("c1")).version == 2)
    // compactor 2 staged the same rewrite off v1; its read set is gone
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestLog.commit(dir, Set("base", "x"), Seq("c2"))
    }
    assert(e.getMessage.contains("no longer live"))
    assert(ManifestLog.latest(dir)._2 == Seq("c1"), "failed commit must leave the log untouched")
  }

  test("append rebases over a concurrent compaction (disjoint read sets compose)") {
    val dir = freshLog("base")
    assert(ManifestLog.commit(dir, Set("base"), Seq("compacted")).version == 2)
    val r = ManifestLog.commit(dir, Set.empty, Seq("y"))
    assert(r.version == 3 && ManifestLog.read(dir, 3).toSet == Set("compacted", "y"))
  }

  test("snapshot isolation: every published version is immutable through later commits") {
    val dir = freshLog("base")
    val v1 = ManifestLog.read(dir, 1)
    ManifestLog.commit(dir, Set.empty, Seq("x"))
    val v2 = ManifestLog.read(dir, 2)
    ManifestLog.commit(dir, Set("base"), Seq("c"))
    assert(ManifestLog.read(dir, 1) == v1 && ManifestLog.read(dir, 2) == v2)
  }

  test("end-to-end race over parquet: k_timetravel_occ invariants hold") {
    val df = Formats.timeTravelOcc(TestSpark.spark, TestSpark.sf)
    val r = df.collect().head
    assert(r.getAs[Int]("n_versions") == 3)
    assert(r.getAs[Int]("n_conflicts") == 1)
    assert(r.getAs[Long]("final_rows") > r.getAs[Long]("v1_rows"))
  }

  test("compactor vs GDPR delete: read-set overlap aborts the compactor, erasure sticks") {
    // the operator REQUIREs the abort (ConcurrentModificationException on
    // the stale commit), the untouched erased state after the failed
    // commit, and the clean re-planned v3 — reaching a row at all proves
    // the protocol path; the row proves the data-plane outcome
    val df = Formats.occGdprAbort(TestSpark.spark, TestSpark.sf)
    val r = df.collect().head
    assert(r.getAs[Int]("n_versions") == 3)
    assert(r.getAs[Int]("n_aborts") == 1, "the stale compactor must have aborted")
    assert(r.getAs[Long]("subject_rows_v1") > 0,
      "fixture must contain the erasure subject's rows in v1")
    assert(r.getAs[Long]("subject_rows_final") == 0,
      "erased rows resurfaced after the re-planned compaction")
    assert(r.getAs[Long]("final_rows") ==
      r.getAs[Long]("v1_rows") - r.getAs[Long]("subject_rows_v1"),
      "final state must be exactly v1 minus the subject")
  }

  test("the OCC race's pure-corpus slices stage once; the protocol replays per run") {
    Formats.occGdprAbort(TestSpark.spark, TestSpark.sf).collect()
    val builds = Formats.occGdprStageBuildCount.get()
    val r2 = Formats.occGdprAbort(TestSpark.spark, TestSpark.sf).collect().head
    assert(Formats.occGdprStageBuildCount.get() == builds,
      "second run rebuilt the staged OCC slices")
    // the protocol itself provably re-ran: a fresh abort + re-plan landed
    assert(r2.getAs[Int]("n_aborts") == 1 && r2.getAs[Int]("n_versions") == 3)
  }
}

/** Change-feed contract: the row-level CDF between two manifest versions
  * must be computed from the delta files ALONE — the file shared by both
  * versions is never opened. */
class ManifestCdfSpec extends AnyFunSuite {
  test("the shared file never enters the CDF plan") {
    val s = graft.TestSpark.spark
    val df = Formats.manifestCdf(s, graft.TestSpark.sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val opened = df.inputFiles
    assert(opened.nonEmpty)
    assert(!opened.exists(_.contains("/data/A/")),
      s"CDF read the unchanged file A: ${opened.mkString(", ")}")
    val byOp = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byOp.contains("delete"), "compaction must not report deletes")
    assert(byOp.contains("insert") && byOp.contains("rewrite"))
  }
}
