package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality + shape checks: the IVF path must return full result sets
  * and recover a meaningful fraction of the exact top-k (it probes 2 of
  * 10 label partitions, so recall < 1 is expected — that's the
  * accuracy/cost dial; exactness is the oracle's job). */
class SimilaritySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("exact top-k returns k rows per query with descending cosine") {
    val rows = Similarity.cosineTopK(s, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.values.foreach { rs =>
      assert(rs.length == 5)
      val cosines = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF recall@5 vs exact is substantial despite probing 2/10 partitions") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    val ivf = sets(Similarity.annIvf(s, sf))
    val recalls = exact.map { case (q, ex) =>
      ivf.get(q).map(iv => (ex & iv).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 = $mean%.2f")
    assert(mean >= 0.2, f"IVF recall collapsed: $mean%.2f")
  }

  test("native SRP band keys == declarative HOF fold, bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import graft.Tables
    val both = Tables.embeddings(s, sf).select(
      Similarity.lshBandKeysNative(col("embedding")).as("native"),
      Similarity.lshBandKeysFold(col("embedding")).as("fold"))
    // null-safe inequality: `=!=` yields NULL (row dropped) when either
    // side is NULL, which would hide a native-NULL vs fold-zero divergence
    assert(both.filter(!(col("native") <=> col("fold"))).count() == 0)
  }

  test("LSH ANN recovers a meaningful fraction of exact top-k from bucketed candidates") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    val lsh = sets(Similarity.annLsh(s, sf))
    val recalls = exact.map { case (q, ex) =>
      lsh.get(q).map(iv => (ex & iv).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean LSH recall@5 = $mean%.2f")
    assert(mean >= 0.2, f"LSH recall collapsed: $mean%.2f")
  }

  test("int8-quantized ANN recall@5 is near-exact (quantization error ≪ ranking gaps)") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    val quant = sets(Similarity.annQuantized(s, sf))
    val recalls = exact.map { case (q, ex) =>
      quant.get(q).map(iv => (ex & iv).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean quantized recall@5 = $mean%.2f")
    // int8 + 2k rerank pool should recover nearly everything — a collapse
    // here means the quantization itself is broken, not just lossy
    assert(mean >= 0.6, f"quantized recall collapsed: $mean%.2f")
  }

  test("native int8 quantization == declarative HOF fold, bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val native = Similarity.quantized(s, sf).withColumnRenamed("qemb", "nq")
    val fold = Similarity.quantizedFold(s, sf).withColumnRenamed("qemb", "fq")
    val both = native.join(fold, "vec_id")
    assert(both.filter(!(col("nq") <=> col("fq"))).count() == 0)
  }

  test("quantized components are exact int8: every value an integer in [-127, 127]") {
    import org.apache.spark.sql.functions._
    val bad = Similarity.quantized(s, sf)
      .select(explode(col("qemb")).as("q"))
      .filter(col("q") =!= floor(col("q")) || abs(col("q")) > 127)
      .count()
    assert(bad == 0, s"$bad non-int8 quantized components")
  }

  test("LSH candidate set is a small fraction of the query-corpus cross product") {
    import graft.Tables
    val nCorpus = Tables.embeddings(s, sf).count()
    val nQueries = 8L
    val candidates = Similarity.lshCandidateCount(s, sf)
    info(s"candidates=$candidates of ${nQueries * (nCorpus - 1)} pairs")
    assert(candidates.toDouble / (nQueries * (nCorpus - 1)) < 0.5,
      "LSH banding prunes nothing — bucket scheme degenerate")
  }

  test("all-pairs LSH candidate generation prunes the quadratic pair space") {
    import graft.Tables
    val n = Tables.embeddings(s, sf).count()
    val cand = Similarity.embedLshCandidates(s, sf).count()
    val frac = cand.toDouble / (n * (n - 1) / 2)
    info(f"candidates=$cand of ${n * (n - 1) / 2} pairs (${frac * 100}%.1f%%)")
    assert(frac < 0.1, f"blocking degenerate: $frac%.3f of all pairs are candidates")
  }

  test("ANN index staging is build-once: second ensure is a no-op") {
    Similarity.ensureAnnStaged(s, sf)
    val builds = StageBuilds(Similarity.annStageDir(sf))
    Similarity.ensureAnnStaged(s, sf)
    Similarity.ensureAnnStaged(s, sf)
    assert(StageBuilds(Similarity.annStageDir(sf)) == builds,
      "repeat ensureAnnStaged rebuilt the index")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(Similarity.annStageDir(sf), "_STAGED")))
  }

  test("staged index is bit-identical to the inline build (centroids + band keys)") {
    import org.apache.spark.sql.functions.col
    val centDiff = Similarity.stagedCentroids(s, sf)
      .exceptAll(Similarity.centroidArrays(s, sf))
      .unionAll(Similarity.centroidArrays(s, sf).exceptAll(Similarity.stagedCentroids(s, sf)))
    assert(centDiff.count() == 0, "staged centroids diverge from inline build")
    val bandCols = Seq("vec_id", "band", "bkey").map(col)
    val inline = Similarity.corpusBandsInline(s, sf).select(bandCols: _*)
    val staged = Similarity.stagedCorpusBands(s, sf).select(bandCols: _*)
    assert(staged.exceptAll(inline).unionAll(inline.exceptAll(staged)).count() == 0,
      "staged band keys diverge from inline build")
  }

  test("ANN probes scan the staged index, never rebuild it") {
    val stageDir = Similarity.annStageDir(sf)
    val ivf = Similarity.annIvf(s, sf)
    assert(ivf.inputFiles.exists(_.contains(stageDir)),
      s"IVF probe does not read the staged index: ${ivf.inputFiles.mkString(", ")}")
    // the inline centroid build is sum(floor(v*1e6)) over embeddings — a
    // probe plan containing FLOOR would mean the index is being rebuilt
    val ivfPlan = ivf.queryExecution.optimizedPlan.toString
    assert(!ivfPlan.toLowerCase.contains("floor"),
      s"IVF probe re-aggregates centroids inside the query:\n$ivfPlan")
    val lsh = Similarity.annLsh(s, sf)
    assert(lsh.inputFiles.exists(_.contains(stageDir)),
      s"LSH probe does not read the staged index: ${lsh.inputFiles.mkString(", ")}")
    // corpus band hashing must appear only on the 8-row query side: every
    // srp_band_keys in the probe plan sits under the vec_id<8 query filter,
    // never over the full corpus (whose band keys come from the staged scan)
    val lshPlan = lsh.queryExecution.optimizedPlan.toString
    val hashedRelations = "srp_band_keys".r.findAllIn(lshPlan).size
    assert(hashedRelations <= 1,
      s"corpus side hashes band keys at probe time:\n$lshPlan")
  }

  test("staged bands table is bucketed: (band,bkey) join plans with zero corpus-side shuffles") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions.col
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    // the probe-service shape with a non-broadcastable probe side: a
    // sort-merge join on the bucket key — both sides read pre-bucketed,
    // so neither pays an Exchange
    val bands = Similarity.stagedCorpusBands(s, sf)
    val probe = bands.as("a").hint("merge")
      .join(bands.as("b"), Seq("band", "bkey"))
      .filter(col("a.vec_id") < col("b.vec_id"))
    probe.collect() // force planning + AQE finalization on a real run
    val all = flatten(probe.queryExecution.executedPlan)
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected SortMergeJoin in:\n${probe.queryExecution.executedPlan}")
    val shuffles = flatten(smjs.head).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"bucketed bands join must not shuffle either side:\n${smjs.head}")
  }

  test("fresh-JVM path: lost catalog metadata re-registers bucketed bands without a rebuild") {
    import org.apache.spark.sql.functions.col
    Similarity.ensureAnnStaged(s, sf)
    val builds = StageBuilds(Similarity.annStageDir(sf))
    // simulate a new JVM: the in-memory catalog forgets the table but the
    // external files + marker survive
    s.sql(s"DROP TABLE IF EXISTS ${Similarity.annBandsTable(sf)}")
    val again = Similarity.stagedCorpusBands(s, sf)
    assert(again.count() > 0)
    assert(StageBuilds(Similarity.annStageDir(sf)) == builds,
      "re-registration must restore metadata, not rebuild the index")
    // restored table carries the bucket spec, not just the rows
    val bucketSpec = s.sql(s"DESCRIBE TABLE EXTENDED ${Similarity.annBandsTable(sf)}")
      .filter(col("col_name").isin("Num Buckets", "Bucket Columns"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bucketSpec.get("Num Buckets").exists(_.trim == "16"), s"bucket spec lost: $bucketSpec")
    assert(bucketSpec.get("Bucket Columns").exists(c => c.contains("band") && c.contains("bkey")))
  }

  test("IVF plan buffers no per-vector collections (no collect_list anywhere)") {
    val optimized = Similarity.annIvf(s, sf).queryExecution.optimizedPlan.toString
    assert(!optimized.contains("collect_list"),
      s"centroid build must not buffer whole groups:\n$optimized")
    assert(!optimized.contains("sort_array"))
  }

  test("eval harness reads staged truth + results and builds each at most once") {
    Similarity.annRecall(s, sf).collect()
    val truthDir = StageBuilds.dirOf(Similarity.ensureAnnTruthStaged(s, sf))
    val evalDir = StageBuilds.dirOf(Similarity.ensureAnnEvalStaged(s, sf))
    val (truthBefore, evalBefore) = (StageBuilds(truthDir), StageBuilds(evalDir))
    val df = Similarity.annMrr(s, sf)
    df.collect()
    Similarity.annRecall(s, sf).collect()
    assert(StageBuilds(truthDir) == truthBefore,
      "overlay re-ran the exact brute-force truth")
    assert(StageBuilds(evalDir) == evalBefore,
      "overlay re-ran the method probes")
    // the grading plan touches only the two staged tables — never the
    // corpus (no embeddings.parquet scan anywhere in the overlay)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("anntruth_") && plan.contains("anneval_"),
      s"overlay does not read the staged tables:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"overlay re-scans the corpus:\n$plan")
  }

  test("v_ann_recall equals independently-computed set intersections, both paths") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    val approx = Map(
      "ivf" -> sets(Similarity.annIvf(s, sf)),
      "ivf_kmeans" -> sets(Similarity.annIvfTrained(s, sf)),
      "ivfpq" -> sets(Similarity.annIvfPq(s, sf)),
      "lsh" -> sets(Similarity.annLsh(s, sf)),
      "nsw" -> sets(Similarity.annNsw(s, sf)),
      "pq" -> sets(Similarity.annPq(s, sf)),
      "pq_kmeans" -> sets(Similarity.annPqTrained(s, sf)),
      "quant" -> sets(Similarity.annQuantized(s, sf)))
    val out = Similarity.annRecall(s, sf).collect()
    assert(out.length == 8 * exact.size, "one row per (method, query)")
    out.foreach { r =>
      val (m, q) = (r.getString(0), r.getLong(1))
      val nHit = r.getLong(2)
      val recall = r.getDouble(3)
      val expected = (exact(q) & approx(m).getOrElse(q, Set.empty[Long])).size
      assert(nHit == expected.toLong, s"$m q=$q: n_hit $nHit != $expected")
      assert(recall == expected.toDouble / 5.0, s"$m q=$q recall")
    }
  }

  test("NSW probe plan is cartesian-free: broadcast frontiers, equi-joined corpus") {
    // the staged BUILD contains the bounded coarse-layer all-pairs by
    // design; the PROBE — the per-query cost — must not
    val df = Similarity.annNsw(s, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"NSW probe planned an all-pairs join:\n$plan")
  }

  test("v_ann_mrr is consistent with recall and its own reciprocal arithmetic") {
    val recall = Similarity.annRecall(s, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val mrr = Similarity.annMrr(s, sf).collect()
    assert(mrr.length == recall.size, "one MRR row per (method, query)")
    mrr.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val fr = r.getInt(2)
      val rr = r.getLong(3)
      assert((fr > 0) == (recall(key) > 0),
        s"$key: first-hit/recall hit disagreement (fr=$fr, n_hit=${recall(key)})")
      assert(rr == (if (fr > 0) 1000L / fr else 0L), s"$key: rr_milli arithmetic")
      assert(fr >= 0 && fr <= 25, s"$key: rank $fr outside any approx list length")
    }
  }

  test("triplets: positive above the cut, negative the closest below it") {
    val rows = Similarity.triplets(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty, "fixture produced no triplets")
    rows.foreach { case (a, p, pc, n, nc) =>
      assert(pc >= 0.4 && nc < 0.4, s"anchor $a: classes violated ($pc, $nc)")
      assert(p != n && p != a && n != a, s"anchor $a: degenerate triplet")
      assert(pc >= nc, s"anchor $a: negative outranks positive")
    }
    // the negative really is the anchor's BEST sub-threshold candidate
    val cands = Similarity.embedLshCandidates(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byAnchor = (cands ++ cands.map(t => (t._2, t._1, t._3)))
      .groupBy(_._1)
    rows.foreach { case (a, _, _, n, nc) =>
      val best = byAnchor(a).filter(_._3 < 0.4).maxBy(t => (t._3, -t._2))
      assert(best._2 == n && best._3 == nc, s"anchor $a: negative not the argmax")
    }
  }

  test("rag assembly: slots dense, budget prefix rule holds, contexts near-dup-free") {
    val rows = Similarity.ragE2e(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length), s"q=$q slots not dense")
      // running total is consistent and the prefix rule held
      var cum = 0L
      sorted.foreach { case (_, slot, _, n, c) =>
        assert(cum < 256, s"q=$q slot $slot started past the budget")
        cum += n
        assert(c == cum, s"q=$q slot $slot cum mismatch")
      }
    }
    // no kept context is a near-dup of an earlier kept context
    val pairs = graft.operators.Dedup.stagedNeardupPairs(s, sf)
      .select("a", "b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    rows.groupBy(_._1).foreach { case (q, g) =>
      val ordered = g.sortBy(_._2).map(_._3)
      for (i <- ordered.indices; j <- 0 until i)
        assert(!pairs.contains((ordered(j), ordered(i))),
          s"q=$q kept a near-dup pair (${ordered(j)}, ${ordered(i)})")
    }
  }

  test("ivf sweep: recall and cost monotone in nprobe; full-probe control at 1.0") {
    val rows = Similarity.ivfSweep(s, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (np, q, nCand, nHit, recall) =>
      assert(recall == nHit / 5.0, s"np=$np q=$q recall/n_hit inconsistent")
      if (np == 10) assert(recall == 1.0,
        s"probing every partition must equal the exact scan (q=$q: $recall)")
    }
    val mean = rows.groupBy(_._1).view.mapValues { g =>
      (g.map(_._5).sum / g.length, g.map(_._3).sum / g.length)
    }.toMap
    val curve = Seq(1, 2, 4, 10).map(mean)
    assert(curve.zip(curve.tail).forall { case ((r1, c1), (r2, c2)) => r1 <= r2 && c1 <= c2 },
      s"recall/cost not monotone in nprobe: $curve")
  }

  test("matryoshka truncation: full-width control at 1.0, recall monotone in width") {
    val rows = Similarity.matryoshka(s, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (dims, q, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 5 && recall == nHit / 5.0,
        s"dims=$dims q=$q: n_hit=$nHit recall=$recall inconsistent")
      if (dims == 64) assert(recall == 1.0,
        s"full-width control must recall itself exactly (q=$q: $recall)")
    }
    val mean = rows.groupBy(_._1).view
      .mapValues(g => g.map(_._4).sum / g.length).toMap
    val curve = Seq(8, 16, 32, 64).map(mean)
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
      s"mean recall not monotone in width: $curve")
  }
}
