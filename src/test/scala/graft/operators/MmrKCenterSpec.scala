package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Diversity-selection invariants for the MMR rerank and the greedy
  * k-center coreset — the properties the oracle hash can't see:
  * MMR's greedy dominance at every step, k-center's non-increasing
  * radius trajectory, and both selections' well-formedness. */
class MmrKCenterSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private lazy val mmr = Similarity.mmrRerank(s, sf).collect()
  private lazy val exact = Similarity.cosineTopK(s, sf).collect()

  test("MMR: k distinct picks per query, all drawn from the candidate pool") {
    val byQ = mmr.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    val pool = Similarity.stagedExactTopKDeep(s, sf)
      .filter(org.apache.spark.sql.functions.col("rank") <= Similarity.MmrPool)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.length == Similarity.MmrK)
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"q=$q repeated a pick")
      assert(ids.toSet.subsetOf(pool(q)), s"q=$q picked outside the pool")
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to Similarity.MmrK))
    }
  }

  test("MMR: step 1 is the pure-relevance top-1") {
    val top1 = exact.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    mmr.filter(_.getInt(1) == 1).foreach { r =>
      assert(r.getLong(2) == top1(r.getLong(0)),
        s"q=${r.getLong(0)}: MMR seed differs from exact top-1")
    }
  }

  test("MMR: every step's winner greedily dominates the rejected candidates") {
    // Re-derive rel and pairwise sims independently (driver-side doubles
    // over the collected pool) and replay the greedy argmax: at each
    // step the recorded pick must maximize 0.5*rel - 0.5*maxsim over
    // the remaining pool with the (score desc, vec_id asc) tie order.
    import org.apache.spark.sql.functions.col
    val embMap = graft.Tables.embeddings(s, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val pool = Similarity.stagedExactTopKDeep(s, sf)
      .filter(col("rank") <= Similarity.MmrPool).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => r.getLong(2) -> r.getDouble(3)).toMap).toMap
    mmr.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val rel = pool(q)
      var picked = Vector.empty[Long]
      rows.sortBy(_.getInt(1)).foreach { r =>
        val pick = r.getLong(2)
        val remaining = rel.keySet -- picked
        val best =
          if (picked.isEmpty) remaining.minBy(id => (-rel(id), id))
          else remaining.minBy { id =>
            val maxsim = picked.map(p => cos(embMap(id), embMap(p))).max
            (-(0.5 * rel(id) - 0.5 * maxsim), id)
          }
        assert(pick == best, s"q=$q step ${r.getInt(1)}: picked $pick, greedy says $best")
        picked :+= pick
      }
    }
  }

  test("MMR stage builds once per corpus; overlay reruns don't re-run the greedy chain") {
    Similarity.mmrGain(s, sf).collect(): Unit
    val dir = StageBuilds.dirOf(Similarity.ensureMmrStaged(s, sf))
    val builds = StageBuilds(dir)
    Similarity.mmrGain(s, sf).collect(): Unit
    assert(StageBuilds(dir) == builds,
      "second mmrGain run rebuilt the staged MMR picks")
  }

  test("MMR gain ledger: less redundancy than top-k, at most its relevance") {
    val rows = Similarity.mmrGain(s, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val (mmrRel, mmrSim) = rows("mmr")
    val (topRel, topSim) = rows("topk")
    assert(mmrSim < topSim,
      f"MMR did not reduce intra-list similarity: $mmrSim%.4f vs $topSim%.4f")
    assert(mmrRel <= topRel,
      f"MMR relevance exceeds pure top-k's (impossible): $mmrRel%.4f vs $topRel%.4f")
  }

  private lazy val kc = Similarity.kcenterCoreset(s, sf).collect()

  test("k-center: distinct picks, MIN(vec_id) seed, null radius only at the seed") {
    assert(kc.length == Similarity.KCenterK)
    assert(kc.map(_.getLong(1)).distinct.length == kc.length)
    val minId = graft.Tables.embeddings(s, sf)
      .agg(org.apache.spark.sql.functions.min("vec_id")).collect()(0).getLong(0)
    val seed = kc.find(_.getInt(0) == 1).get
    assert(seed.getLong(1) == minId)
    assert(seed.isNullAt(2))
    kc.filter(_.getInt(0) > 1).foreach(r => assert(!r.isNullAt(2)))
  }

  test("k-center: the coverage radius sequence never increases (Gonzalez invariant)") {
    val radii = kc.filter(!_.isNullAt(2)).sortBy(_.getInt(0)).map(_.getLong(2))
    assert(radii.nonEmpty)
    radii.zip(radii.tail).foreach { case (a, b) =>
      assert(b <= a, s"radius grew: $a -> $b")
    }
    radii.foreach(r => assert(r > 0, "farthest point at distance 0 — degenerate corpus"))
  }

  test("k-center: each recorded mind2 is the true max-min distance at that step") {
    // Brute-force replay on driver-side scaled integers.
    val sv = graft.Tables.embeddings(s, sf).collect().map { r =>
      val v = r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1e6).toLong)
      (r.getLong(0), v)
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    var selected = Vector(kc.find(_.getInt(0) == 1).get.getLong(1))
    kc.filter(_.getInt(0) > 1).sortBy(_.getInt(0)).foreach { r =>
      val best = (sv.keySet -- selected).minBy { id =>
        val mind = selected.map(p => d2(sv(id), sv(p))).min
        (-mind, id)
      }
      val bestMind = selected.map(p => d2(sv(best), sv(p))).min
      assert(r.getLong(1) == best, s"step ${r.getInt(0)}: wrong pick")
      assert(r.getLong(2) == bestMind, s"step ${r.getInt(0)}: wrong radius")
      selected :+= best
    }
  }
}
