package graft.operators

import graft.{StageBuilds, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** The scale property that justifies MinHash+LSH: candidate pairs come
  * only from band-key equi-joins, so the pair count must be a vanishing
  * fraction of n(n-1)/2 — the all-pairs count a naive near-dup pass would
  * touch (VERDICT.md round-1 item 5). */
class DedupScaleSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("LSH candidate pairs ≪ n²") {
    val n = Tables.documents(s, sf).count()
    val allPairs = n * (n - 1) / 2
    val candidates = Dedup.candidatePairs(s, sf).count()
    assert(candidates > 0, "planted near-duplicates should produce candidates")
    assert(candidates * 100 < allPairs,
      s"candidates=$candidates should be <1% of all-pairs=$allPairs")
  }

  test("candidates contain genuinely similar pairs (est ≥ 0.5 survives)") {
    assert(Dedup.neardupPairs(s, sf).count() > 0)
  }

  test("dup clusters honor every near-dup pair (transitive closure invariant)") {
    val clusters = Dedup.dupClusters(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.neardupPairs(s, sf).select("a", "b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // each cluster's representative is a member of the cluster
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (rep, members) =>
      assert(members.keySet.contains(rep), s"cluster $rep has no representative member")
    }
  }

  test("two-phase CC resolves a deep path graph in far fewer rounds than its diameter") {
    import s.implicits._
    // a 49-edge path 0-1-2-…-49: diameter 49, so label propagation needs
    // ~49 rounds; large-star/small-star must collapse it within 12
    // (log²-bounded), proving the deep-component claim the docstring makes
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.ccTwoPhase(path, maxRounds = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 50)
    assert(labels.values.forall(_ == 0L), s"path not fully collapsed: $labels")
  }

  test("two-phase CC output = label-propagation output on the real near-dup graph") {
    val star = Dedup.dupClustersStar(s, sf).collect().toSeq
    val prop = Dedup.dupClusters(s, sf).collect().toSeq
    assert(star.nonEmpty && star == prop)
  }

  test("embedding near-dup never leaves label partitions") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(s, sf).groupBy("label").count()
    val blocked = e.agg(sum(col("count") * (col("count") - 1) / 2)).head.getDouble(0)
    val n = Tables.embeddings(s, sf).count()
    assert(blocked < n.toDouble * (n - 1) / 2 / 5,
      "label blocking must prune the pair space by at least 5x")
  }

  test("dup-cluster staging is build-once and bit-identical to the inline pipeline") {
    Dedup.ensureClustersStaged(s, sf)
    val builds = StageBuilds(Dedup.clusterStageDir(sf))
    Dedup.ensureClustersStaged(s, sf)
    Dedup.ensureClustersStaged(s, sf)
    assert(StageBuilds(Dedup.clusterStageDir(sf)) == builds,
      "repeat ensureClustersStaged rebuilt the cluster table")
    val staged = Dedup.stagedDupClusters(s, sf)
    val inline = Dedup.dupClusters(s, sf)
    assert(staged.exceptAll(inline).unionAll(inline.exceptAll(staged)).count() == 0,
      "staged clusters diverge from the inline pipeline")
  }

  test("LSH tuning sweep is build-once and the staged table ≡ the inline sweep") {
    Dedup.lshTuning(s, sf).collect()
    val builds = StageBuilds(Dedup.lshTuningStageDir(sf))
    val staged = Dedup.lshTuning(s, sf)
    assert(StageBuilds(Dedup.lshTuningStageDir(sf)) == builds,
      "warm tuning query rebuilt the sweep")
    val inline = Dedup.lshTuningInline(s, sf)
    assert(staged.collect().map(_.toSeq).toSeq == inline.orderBy("bands").collect().map(_.toSeq).toSeq,
      "staged tuning sweep diverges from the inline computation")
    assert(staged.inputFiles.exists(_.contains(Dedup.lshTuningStageDir(sf))))
  }

  test("dup-gram staging is build-once and span dedup ≡ the inline explode pipeline") {
    Dedup.ensureDupGramsStaged(s, sf)
    val builds = StageBuilds(Dedup.dupGramStageDir(sf))
    Dedup.ensureDupGramsStaged(s, sf)
    Dedup.ensureDupGramsStaged(s, sf)
    assert(StageBuilds(Dedup.dupGramStageDir(sf)) == builds,
      "repeat ensureDupGramsStaged rebuilt the postings")
    val staged = Dedup.spanDedup(s, sf)
    val inline = Dedup.spanDedupInline(s, sf)
    assert(staged.exceptAll(inline).unionAll(inline.exceptAll(staged)).count() == 0,
      "staged span dedup diverges from the inline pipeline")
    // the query-time plan reads the staged postings and never re-explodes
    assert(staged.inputFiles.exists(_.contains(Dedup.dupGramStageDir(sf))),
      s"span dedup does not read the staged postings: ${staged.inputFiles.mkString(", ")}")
    val plan = staged.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("generate"),
      s"span dedup still explodes grams at query time:\n$plan")
  }

  test("policy pass: one keep per cluster = the canonical; drops carry cross-source evidence") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.policyE2e(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getLong(5), r.getString(6)))
    // the ledger covers every document exactly once
    assert(rows.length == graft.Tables.documents(s, sf).count())
    // every verdict class is exercised on this corpus
    val byVerdict = rows.groupBy(_._7)
    assert(byVerdict.keySet == Set("keep", "drop", "review"),
      s"degenerate fixture: only ${byVerdict.keySet} present")
    // per cluster: exactly one keep, and it is the canonical member
    rows.groupBy(_._2).foreach { case (cid, g) =>
      val keeps = g.filter(_._7 == "keep")
      assert(keeps.length == 1, s"cluster $cid kept ${keeps.length} docs")
      assert(keeps.head._1 == keeps.head._6, s"cluster $cid kept a non-canonical doc")
      assert(g.forall(_._6 == keeps.head._1), s"cluster $cid canonical disagrees")
      assert(g.forall(_._3 == g.length.toLong), s"cluster $cid n_members wrong")
    }
    // drops are non-canonical copies WITH cross-source evidence; reviews
    // are non-canonical copies WITHOUT it; singletons always keep
    rows.foreach { case (id, _, nm, deg, xs, can, v) =>
      if (v == "drop") assert(id != can && xs == 1, s"doc $id dropped without evidence")
      if (v == "review") assert(id != can && xs == 0, s"doc $id reviewed with evidence")
      if (nm == 1L) assert(v == "keep" && deg == 0L, s"singleton $id not kept")
    }
    // the canonical choice matches d_cluster_canonical on shared clusters
    val canon = Dedup.clusterCanonical(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(r => canon.contains(r._2)).foreach { r =>
      assert(r._6 == canon(r._2), s"cluster ${r._2}: policy canonical diverges")
    }
  }

  test("cluster-canonical selection consumes the staged clusters, never re-runs LSH") {
    val df = Dedup.clusterCanonical(s, sf)
    assert(df.inputFiles.exists(_.contains(Dedup.clusterStageDir(sf))),
      s"canonical selection does not read the staged clusters: ${df.inputFiles.mkString(", ")}")
    // the inline pipeline's fingerprint is the native MinHash expression —
    // its presence in the plan would mean the LSH rebuild is back
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("minhash_signature"),
      s"canonical selection re-runs the MinHash pipeline:\n$plan")
  }

  test("k-core peel converges by round 3 and matches an in-memory peel to fixpoint") {
    val pairs = Dedup.stagedNeardupPairs(s, sf).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // in-memory peel to FIXPOINT (unbounded rounds)
    var adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var roundOf = Map.empty[Long, Int]
    var round = 0
    var done = false
    while (!done) {
      round += 1
      val out = adj.collect { case (n, nbrs) if nbrs.size < 2 => n }.toSet
      if (out.isEmpty) done = true
      else {
        roundOf ++= out.map(_ -> round)
        adj = (adj -- out).view.mapValues(_ -- out).toMap
      }
    }
    val fixpointRounds = round - 1 // last round removed nobody
    assert(fixpointRounds <= 3,
      s"peel needs $fixpointRounds rounds on this graph — raise KCoreRounds")
    val got = Dedup.kCore(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    // engine's core == the fixpoint core, with matching degrees and rounds
    assert(got.keySet == adj.keySet ++ roundOf.keySet, "node coverage differs")
    adj.foreach { case (n, nbrs) =>
      assert(got(n) == ((0, 1, nbrs.size.toLong)), s"core node $n: ${got(n)}")
    }
    roundOf.foreach { case (n, r) =>
      assert(got(n) == ((r, 0, 0L)), s"peeled node $n: ${got(n)} vs round $r")
    }
    // both classes exist on the fixture: the graph has leaves AND a web
    assert(adj.nonEmpty && roundOf.nonEmpty, "fixture lacks a core or a fringe")
  }

  test("band stats forecast the candidate join: row conservation and pair bounds") {
    val stats = Dedup.bandStats(s, sf).collect()
    assert(stats.length == 4, "one row per band")
    val nDocs = Tables.documents(s, sf).count()
    stats.foreach { r =>
      val (nBuckets, nRows, maxBucket, candPairs) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // every doc lands in exactly one bucket per band
      assert(nRows == nDocs, s"band ${r.getInt(0)}: rows $nRows != docs $nDocs")
      assert(nBuckets <= nRows && maxBucket <= nRows)
      // the hottest bucket alone accounts for ≤ the band's pair volume
      assert(candPairs >= maxBucket * (maxBucket - 1) / 2)
    }
    // per-band pair volumes upper-bound the DISTINCT candidate pair set
    // (a pair colliding in several bands is counted once per band)
    val totalForecast = stats.map(_.getLong(4)).sum
    val distinctPairs = Dedup.candidatePairs(s, sf).count()
    assert(totalForecast >= distinctPairs,
      s"forecast $totalForecast below the real candidate count $distinctPairs")
  }
}
