package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the round-5 LLM-corpus operators (repetition signals,
  * benchmark decontamination, sequence packing, cluster-canonical
  * selection). The DuckDB oracle proves value equality; these specs pin
  * the invariants the oracle can't see — plan shape (the decontamination
  * probe must broadcast the held-out side) and the algebraic contracts
  * (packing tiles each shard exactly; the canonical doc really is the
  * quality argmax of its cluster). */
class LlmCorpusSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("repetition signals are bounded and agree with token stats") {
    val rep = TextAnalysis.repetitionSignals(s, sf)
    assert(rep.count() > 0)
    val bad = rep.filter(
      col("dup_word_frac") < 0 || col("dup_word_frac") >= 1 ||
        col("dup_2gram_frac") < 0 || col("dup_2gram_frac") > 1 ||
        col("top_word_frac") <= 0 || col("top_word_frac") > 1 ||
        col("top_word_n") < 1)
    assert(bad.count() == 0, "repetition fractions out of range")
    // dup_word_frac must equal 1 - n_distinct/n_tokens from tokenStats
    val disagree = rep.join(TextAnalysis.tokenStats(s, sf), "doc_id")
      .filter(abs(col("dup_word_frac") -
        (lit(1.0) - col("n_distinct").cast("double") / rep("n_tokens").cast("double"))) > 1e-12)
    assert(disagree.count() == 0, "dup_word_frac disagrees with tokenStats")
  }

  test("decontamination broadcasts the held-out gram set (no big-side shuffle join)") {
    val df = TextAnalysis.decontaminate(s, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"held-out probe should be a broadcast join, got:\n$physical")
    // every flagged doc shares at least one 5-gram
    assert(df.filter(col("n_shared") < 1).count() == 0)
  }

  test("bloom decontamination: output-identical to broadcast path, probe prunes map-side") {
    val broadcastPath = TextAnalysis.decontaminate(s, sf)
    val bloomPath = TextAnalysis.decontaminateBloom(s, sf)
    assert(bloomPath.exceptAll(broadcastPath)
      .unionAll(broadcastPath.exceptAll(bloomPath)).count() == 0,
      "bloom path diverged from the broadcast path — exact confirm broken")
    // the scale claim: the train-side gram stream dies at the bloom filter,
    // a narrow map over the scan — only survivors reach the confirm join
    val (survivors, total) = TextAnalysis.bloomSurvivorCounts(s, sf)
    info(s"bloom survivors: $survivors of $total train grams")
    assert(survivors < total / 2,
      s"bloom filter prunes nothing ($survivors of $total) — filter degenerate")
    // and the probe really is pre-shuffle: the plan's filter carrying the
    // bloom probe sits over the gram explode, not after an Exchange
    val plan = bloomPath.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"no bloom probe in the physical plan:\n$plan")
  }

  test("packed chunks: every chunk is exactly PackCtx tokens except each shard's last") {
    val ch = TextAnalysis.packChunks(s, sf).cache()
    try {
      assert(ch.count() > 0)
      val chunks = ch.groupBy("shard", "chunk_id")
        .agg(sum("seg_len").as("tok"),
          max("chunk_tokens").as("ct_max"), min("chunk_tokens").as("ct_min"),
          count(lit(1)).as("n"), max("seg_pos").as("pos_max"), min("seg_pos").as("pos_min"))
      // chunk_tokens is the real segment sum, and seg_pos is dense 1..n
      assert(chunks.filter(col("tok") =!= col("ct_max") || col("ct_max") =!= col("ct_min"))
        .count() == 0, "chunk_tokens disagrees with its segments")
      assert(chunks.filter(col("pos_min") =!= 1 || col("pos_max") =!= col("n"))
        .count() == 0, "seg_pos must be dense from 1")
      // the packing contract: full context windows everywhere but the tail
      val lastPerShard = chunks.groupBy("shard").agg(max("chunk_id").as("last_chunk"))
      val nonFinal = chunks.join(lastPerShard, "shard")
        .filter(col("chunk_id") =!= col("last_chunk"))
      assert(nonFinal.count() > 0, "corpus too small to exercise full chunks")
      assert(nonFinal.filter(col("tok") =!= 512).count() == 0,
        "a non-final chunk is not exactly 512 tokens")
      // chunk membership agrees with packSequences' per-doc spans
      val fromChunks = ch.groupBy("doc_id")
        .agg(min("chunk_id").as("cf"), max("chunk_id").as("cl"), sum("seg_len").as("tok"))
      val disagree = fromChunks.join(TextAnalysis.packSequences(s, sf), "doc_id")
        .filter(col("cf") =!= col("chunk_first") || col("cl") =!= col("chunk_last") ||
          col("tok") =!= col("n_tokens").cast("bigint"))
      assert(disagree.count() == 0, "chunk segments disagree with packSequences spans")
    } finally { ch.unpersist(); () }
  }

  test("packed chunks reuse the shard partitioning: one hash shuffle in the plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val df = TextAnalysis.packChunks(s, sf)
    df.collect()
    val hashShuffles = flatten(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"the (shard, chunk_id) windows must ride the shard shuffle, got ${hashShuffles.size}:\n" +
        df.queryExecution.executedPlan)
  }

  test("sequence packing tiles each shard exactly: contiguous, gap-free, order-reproducible") {
    val p = TextAnalysis.packSequences(s, sf).cache()
    try {
      assert(p.count() > 0)
      // per shard: offsets sorted by start tile [0, sum(n_tokens)) exactly
      val shards = p.groupBy("shard")
        .agg(sum(col("n_tokens").cast("bigint")).as("tok_sum"),
          max(col("start_off") + col("n_tokens")).as("end_max"),
          min(col("start_off")).as("start_min"))
      assert(shards.filter(col("start_min") =!= 0 || col("end_max") =!= col("tok_sum"))
        .count() == 0, "shard intervals must start at 0 and end at the token sum")
      // gap/overlap-free: lead(start) == start + n_tokens within each shard
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("start_off")
      val gaps = p.withColumn("next_start", lead(col("start_off"), 1).over(w))
        .filter(col("next_start").isNotNull &&
          col("next_start") =!= col("start_off") + col("n_tokens"))
      assert(gaps.count() == 0, "packing left a gap or overlap inside a shard")
      // straddle flag consistent with chunk arithmetic
      assert(p.filter(col("straddles") =!= (col("chunk_last") > col("chunk_first")).cast("int"))
        .count() == 0)
    } finally p.unpersist()
  }

  test("canonical doc is the quality argmax of its cluster, one row per cluster") {
    val canon = Dedup.clusterCanonical(s, sf).cache()
    try {
      val members = Dedup.dupClusters(s, sf)
        .join(TextAnalysis.quality(s, sf).select(col("doc_id"), col("quality_score")), "doc_id")
      val best = members.groupBy("cluster_id")
        .agg(max(col("quality_score")).as("max_q"), count(lit(1)).as("n"))
      assert(canon.count() == best.count(), "one canonical row per cluster")
      val joined = canon.join(best, "cluster_id")
      assert(joined.filter(col("best_quality") =!= col("max_q") ||
        col("n_members") =!= col("n")).count() == 0,
        "canonical quality/size must match the cluster aggregate")
      // the canonical doc is a member of its own cluster
      val nonMember = canon.join(
        members.select(col("doc_id").as("canonical_id"), col("cluster_id")),
        Seq("cluster_id", "canonical_id"), "left_anti")
      assert(nonMember.count() == 0, "canonical doc not a member of its cluster")
    } finally canon.unpersist()
  }

  test("chunking tiles every document: coverage, overlap, no contained chunk") {
    val docTok = TextAnalysis.tokenStats(s, sf)
      .select(col("doc_id"), col("n_tokens").as("doc_tokens"))
    val c = TextAnalysis.chunking(s, sf).join(docTok, "doc_id")
    val step = TextAnalysis.ChunkStep
    val size = TextAnalysis.ChunkSize
    // starts are chunk_id * step; chunk length is min(size, remaining)
    val shapeBad = c.filter(
      col("start_tok") =!= col("chunk_id") * step ||
        col("n_tokens") =!= least(lit(size), col("doc_tokens") - col("start_tok")))
    assert(shapeBad.count() == 0, "chunk start/length broken")
    // every doc starts at 0 and its LAST chunk reaches the end
    val perDoc = c.groupBy(col("doc_id"), col("doc_tokens"))
      .agg(min(col("start_tok")).as("first"),
        max(col("start_tok") + col("n_tokens")).as("reach"))
    assert(perDoc.filter(col("first") =!= 0 ||
      col("reach") =!= col("doc_tokens")).count() == 0, "coverage broken")
    // a chunk fully contained in its predecessor must be suppressed:
    // any non-first chunk starts strictly before the doc end - overlap
    val contained = c.filter(col("chunk_id") > 0 &&
      col("start_tok") + (size - step) >= col("doc_tokens"))
    assert(contained.count() == 0, "redundant tail chunk emitted")
  }

  test("chunking plans zero hash shuffles: narrow map + explode over the scan") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val df = TextAnalysis.chunking(s, sf)
    df.collect() // finalize AQE
    val shuffles = flatten(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    // the single allowed exchange is the one backing the deterministic
    // oracle orderBy (a range split, or one partition when the rows fit
    // one: plans.SinglePartitionSort) — never a hash shuffle
    assert(shuffles.size <= 1 &&
      shuffles.forall(_.outputPartitioning match {
        case _: RangePartitioning | SinglePartition => true
        case _ => false
      }),
      s"chunking must not hash-shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("token budget keeps the maximal quality-first prefix per source") {
    val kept = TextAnalysis.tokenBudget(s, sf)
    val budget = TextAnalysis.TokenBudget
    // never over budget
    val over = kept.groupBy("source").agg(sum(col("n_tokens")).as("tot"))
      .filter(col("tot") > budget)
    assert(over.count() == 0, "source over its token budget")
    assert(kept.filter(col("cum_tokens") > budget).count() == 0)
    // maximal: the best excluded doc would overflow the remaining budget
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val ranked = TextAnalysis.quality(s, sf)
      .join(graft.Tables.documents(s, sf).select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).as("n_tok")), "doc_id")
      .withColumn("rank", row_number().over(w))
    val keptMax = kept.join(ranked.select(col("doc_id"), col("rank")), "doc_id")
      .groupBy(col("source")).agg(max(col("rank")).as("kept_upto"),
        sum(col("n_tokens")).as("kept_tok"))
    val firstExcluded = ranked.join(keptMax, "source")
      .filter(col("rank") === col("kept_upto") + 1)
    val notMaximal = firstExcluded.filter(col("kept_tok") + col("n_tok") <= budget)
    assert(notMaximal.count() == 0,
      "a higher-quality doc still fit inside the budget but was excluded")
    // kept rows are a PREFIX in quality order (no gaps)
    val gaps = kept.join(ranked.select(col("doc_id"), col("rank")), "doc_id")
      .join(keptMax.select(col("source"), col("kept_upto")), "source")
      .groupBy(col("source"), col("kept_upto")).agg(count(lit(1)).as("n"))
      .filter(col("n") =!= col("kept_upto"))
    assert(gaps.count() == 0, "kept set is not a quality-order prefix")
  }

  test("overlap fraction agrees with decontamination counts and is bounded") {
    val frac = TextAnalysis.overlapFrac(s, sf)
    val bad = frac.filter(col("overlap_frac") < 0 || col("overlap_frac") > 1 ||
      col("n_shared") > col("n_grams"))
    assert(bad.count() == 0, "overlap_frac out of range")
    // docs flagged by decontaminate carry the same n_shared here
    val decon = TextAnalysis.decontaminate(s, sf)
      .withColumnRenamed("n_shared", "n_shared_decon")
    val disagree = frac.join(decon, "doc_id")
      .filter(col("n_shared") =!= col("n_shared_decon"))
    assert(disagree.count() == 0, "n_shared disagrees with decontaminate")
    // and docs NOT flagged there have zero overlap here
    val zeroSide = frac.join(decon, Seq("doc_id"), "left_anti")
    assert(zeroSide.filter(col("n_shared") =!= 0).count() == 0,
      "unflagged doc with nonzero overlap")
  }

  test("t_lm_surprisal equals an independent in-memory unigram LM") {
    val docs = graft.Tables.documents(s, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def words(t: String) =
      t.split(" ").filter(w => w.matches("[a-z]+") && w.length <= 12)
    val vocab = docs.filter(_._1 % 10 < 8).flatMap(d => words(d._2))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val n = vocab.values.sum
    def lg(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val perDoc = docs.map { case (id, t) =>
      val ws = words(t)
      val surp = ws.iterator.map(w =>
        vocab.get(w).map(c => lg(n) - lg(c)).getOrElse(lg(n) + 1)).sum
      (id, ws.length.toLong, surp)
    }.filter(_._2 > 0)
    val tt = perDoc.map(_._2).sum
    val ts = perDoc.map(_._3).sum
    val expected = perDoc.map { case (id, nt, sp) =>
      (id, nt, sp, if (sp * tt > ts * nt) 1 else 0)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.lmSurprisal(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expected, s"LM surprisal diverged: got ${got.take(3)} exp ${expected.take(3)}")
    // the flag genuinely separates: both classes must exist
    assert(got.exists(_._4 == 1) && got.exists(_._4 == 0))
  }

  test("quality vote: majority arithmetic holds; no single signal equals the vote") {
    val rows = TextAnalysis.qualityVote(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, a, b, c, n, keep) =>
      assert(n == a + b + c && keep == (if (n >= 2) 1 else 0),
        s"doc $id: vote arithmetic broken")
    }
    // the ensemble must genuinely differ from each signal alone —
    // otherwise one of the three is redundant on this corpus
    Seq[(String, ((Long, Int, Int, Int, Int, Int)) => Int)](
      ("classifier", _._2), ("rules", _._3), ("surprisal", _._4)).foreach {
      case (name, f) =>
        assert(rows.exists(r => f(r) != r._6),
          s"signal $name alone equals the ensemble — vote is degenerate")
    }
    // both classes survive the vote
    assert(rows.exists(_._6 == 1) && rows.exists(_._6 == 0))
  }

  test("span mask: T5 accounting holds and an independent recompute agrees") {
    def hex8(text: String, off: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(off, off + 8), 16)
    }
    val rows = TextAnalysis.spanMask(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, m, sp, in, tg, _) =>
      assert(in == n - m + sp && tg == m + sp, s"doc $id: T5 accounting broken")
      assert(sp <= n / 20 + 1 && m <= n, s"doc $id: span/mask bounds broken")
    }
    // corpus noise density lands near the configured ~15%
    val (totM, totN) = (rows.map(_._3).sum, rows.map(_._2).sum)
    val density = totM.toDouble / totN
    assert(density > 0.10 && density < 0.20, s"noise density $density off target")
    // independent recompute of one document's exact masked set
    val (id, text) = {
      val r = graft.Tables.documents(s, sf)
        .selectExpr("doc_id", "text").orderBy("doc_id").head()
      (r.getLong(0), r.getString(1))
    }
    val ws = text.split(" ", -1)
    val masked = ws.zipWithIndex.filter { case (_, pos) =>
      val blk = pos / 20
      val st = hex8(s"m_${id}_$blk", 0) % 17
      val ln = 2 + hex8(s"m_${id}_$blk", 8) % 3
      val off = pos % 20
      off >= st && off < st + ln
    }.map(_._1)
    val expectMd5 = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(masked.mkString("|").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val got = rows.find(_._1 == id).get
    assert(got._3 == masked.length && got._7 == expectMd5,
      s"doc $id: engine masked ${got._3}/${got._7}, recompute ${masked.length}/$expectMd5")
  }

  test("bigram LM ≡ an independent in-memory backoff reimplementation") {
    def len(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val raw = graft.Tables.documents(s, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docPairs = raw.map { case (id, text) =>
      val ws = text.split(" ", -1)
      id -> ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
    }
    val trainPairs = docPairs.filter(_._1 % 10 < 8).flatMap(_._2)
    val big = trainPairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = trainPairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = ctx.values.sum
    val expected = docPairs.filter(_._2.nonEmpty).map { case (id, ps) =>
      val bits = ps.map { case (w1, w2) =>
        big.get((w1, w2)) match {
          case Some(c2) => (len(ctx(w1)) - len(c2)).toLong
          case None => 1L + ctx.get(w2).map(u => len(n) - len(u)).getOrElse(len(n) - 1) // OOV: len(N)
        }
      }.sum
      id -> ((ps.size.toLong, bits))
    }.toMap
    val (tb, ts) = (expected.values.map(_._1).sum, expected.values.map(_._2).sum)
    val got = TextAnalysis.lmBigram(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val builds = StageBuilds(TextAnalysis.lmStageDir(sf))
    assert(TextAnalysis.lmBigram(s, sf).count() == got.size,
      "second run row count differs")
    assert(StageBuilds(TextAnalysis.lmStageDir(sf)) == builds,
      "second run must reuse the staged bigram LM table")
    // the probe plan never re-explodes the corpus: every input file of
    // both LM consumers is a staged LM parquet, never documents.parquet
    assert(TextAnalysis.lmBigram(s, sf).inputFiles
      .forall(_.contains("graft_stage/lm_bigram")),
      "t_lm_bigram probe read outside the staged LM tables")
    assert(TextAnalysis.bigramNovelty(s, sf).inputFiles
      .forall(_.contains("graft_stage/lm_bigram")),
      "t_bigram_novelty probe read outside the staged LM tables")
    assert(got.keySet == expected.keySet, "doc coverage differs")
    expected.foreach { case (id, (nb, bits)) =>
      val flag = if (bits * tb > ts * nb) 1 else 0
      assert(got(id) == ((nb, bits, flag)), s"doc $id: ${got(id)} vs ($nb, $bits, $flag)")
    }
    assert(got.values.exists(_._3 == 1) && got.values.exists(_._3 == 0))
  }

  test("bigram LM OOV branch charges len(bin(N)) bits (val-only word)") {
    // the sf fixture never exercises the OOV branch (every val word
    // appears in train), so build a tiny corpus where it must fire:
    // doc 8 is val-split (8 % 10 >= 8) and contains a word absent from
    // the train split entirely
    import s.implicits._
    val dir = graft.TempPaths.scratch(s, "lm_oov_fixture")
    Seq((0L, "a b a b c a"), (1L, "b c a b"), (8L, "a zzz b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def len(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val trainPairs = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "a"),
      ("b", "c"), ("c", "a"), ("a", "b"))
    val big = trainPairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ctx = trainPairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = ctx.values.sum // 8
    def cost(w1: String, w2: String): Long = big.get((w1, w2)) match {
      case Some(c2) => (len(ctx(w1)) - len(c2)).toLong
      case None     => 1L + ctx.get(w2).map(u => len(n) - len(u)).getOrElse(len(n) - 1)
    }
    // doc 8's pairs: (a,zzz) — zzz OOV as w2 → 1 + (len(8)-1) = len(8) = 4
    // bits; (zzz,b) — unseen bigram, b in ctx → backoff 1 + len(8)-len(3)
    assert(cost("a", "zzz") == len(n).toLong, "fixture must exercise the OOV branch")
    val expected = Map(
      0L -> Seq(("a","b"),("b","a"),("a","b"),("b","c"),("c","a")),
      1L -> Seq(("b","c"),("c","a"),("a","b")),
      8L -> Seq(("a","zzz"),("zzz","b"))
    ).map { case (id, ps) => id -> ((ps.size.toLong, ps.map((cost _).tupled).sum)) }
    val (tb, ts) = (expected.values.map(_._1).sum, expected.values.map(_._2).sum)
    val got = TextAnalysis.lmBigram(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got.keySet == expected.keySet, s"doc coverage: ${got.keySet}")
    expected.foreach { case (id, (nb, bits)) =>
      val flag = if (bits * tb > ts * nb) 1 else 0
      assert(got(id) == ((nb, bits, flag)), s"doc $id: ${got(id)} vs ($nb, $bits, $flag)")
    }
  }

  test("AUC equals the brute-force pairwise Mann-Whitney probability") {
    import org.apache.spark.sql.functions._
    val r = TextAnalysis.auc(s, sf).collect().head
    val (np, nn, auc) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    // brute force over every (pos, neg) pair: 2·[s_p > s_n] + [s_p = s_n]
    val scored = TextAnalysis.qualityClassifier(s, sf)
      .select(col("doc_id"), col("logit")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val gold = graft.Tables.documents(s, sf).selectExpr("doc_id",
        """cast(0.5 * least(cast(size(split(text, ' ')) as double) / 100.0, 1.0)
          | + 0.3 * (1.0 - cast(size(filter(split(text, ' '), w -> w in ('a','the'))) as double)
          |                / cast(size(split(text, ' ')) as double))
          | + 0.2 * least((cast(length(replace(text, ' ', '')) as double)
          |                / cast(size(split(text, ' ')) as double)) / 6.0, 1.0) >= 0.5
          | as int) as pos""".stripMargin)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val pos = gold.collect { case (id, 1) => scored(id) }.toSeq
    val neg = gold.collect { case (id, 0) => scored(id) }.toSeq
    assert(pos.size == np && neg.size == nn, "class sizes diverge from the query")
    val num2 = (for (p <- pos; n <- neg)
      yield (if (p > n) 2L else 0L) + (if (p == n) 1L else 0L)).sum
    val brute = num2.toDouble / (2.0 * np.toDouble * nn.toDouble)
    assert(auc == brute, s"rank-sum AUC $auc != brute-force $brute")
    assert(auc > 0.6 && auc <= 1.0, s"classifier should rank better than chance: $auc")
  }
}
