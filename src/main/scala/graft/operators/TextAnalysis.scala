package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the LLM-pipeline primitives
  * (token counting, language-ID scoring, quality scoring, fingerprinting,
  * tf-idf) expressed entirely with codegen'd built-in expressions: no
  * UDFs, every per-document computation is a narrow map over the scan, so
  * the only shuffles are the tf-idf aggregations.
  *
  * Cross-engine determinism: counts are exact integers; the only floating
  * point is division/multiplication of exact integers (single IEEE ops,
  * bit-identical in any engine) — idf uses the BM25-style rational
  * `(N - df + 0.5)/(df + 0.5)` instead of `ln(N/df)` because libm low bits
  * differ across engines (SURVEY.md §7.4). Fingerprints use md5, which
  * both engines implement identically.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def words: Column = split(col("text"), " ")

  /** Token counting: whitespace tokens, distinct tokens, alpha runs (a
    * BPE-ish pre-tokenizer regex), and mean token length. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(words).as("n_tokens"),
        size(array_distinct(words)).as("n_distinct"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha_runs"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(words).cast("double")).as("avg_token_len"))
      .orderBy("doc_id")

  // BPE-ish pre-tokenization pattern (GPT-2 shape, lookahead-free so the
  // same regex runs identically under Java regex and RE2): a piece is a
  // space-prefixed letter run, digit run, or punctuation run. Both
  // engines use leftmost-first alternation, so piece boundaries agree.
  private val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** Token counting, the second axis the pipeline budget actually bills
    * in: whitespace tokens next to BPE-ish regex PIECES (the proxy for
    * what a subword tokenizer would charge). pieces/token is the
    * fragmentation signal — prose sits near 1, code/digit soup higher.
    * Narrow codegen'd map over the scan, like [[tokenStats]]. */
  def bpeTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("doc_id"),
        size(words).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("n_pieces"))
      .withColumn("pieces_per_token",
        col("n_pieces").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")

  /** Language-ID mechanism: score marker-token sets, argmax with a fixed
    * tie-break — the standard stopword-list heuristic. Marker sets are
    * chosen for the synthetic corpus vocabulary (the driver's documents
    * are word-soup over an engine-themed lexicon); with real text these
    * would be per-language stopword lists, the mechanism is unchanged. */
  private val MarkersAnalytics = Seq("agg", "group", "window", "sort")
  private val MarkersStorage = Seq("row", "column", "scan", "batch")
  private val MarkersEngine = Seq("spark", "stream", "hash", "merge")

  private def langScore(markers: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(markers)))

  /** The argmax-with-fixed-tie-break over the three marker scores —
    * shared by [[langId]] and [[datasetCard]] (one formula, one mirror). */
  private def predictedLang: Column = {
    val (sa, ss, se) =
      (langScore(MarkersAnalytics), langScore(MarkersStorage), langScore(MarkersEngine))
    when(sa >= ss && sa >= se, "analytics").when(se >= ss, "engine").otherwise("storage")
  }

  def langId(s: SparkSession, d: String): DataFrame = {
    val sa = langScore(MarkersAnalytics)
    val ss = langScore(MarkersStorage)
    val se = langScore(MarkersEngine)
    docs(s, d)
      .select(
        col("doc_id"), col("lang"),
        sa.as("score_analytics"), ss.as("score_storage"), se.as("score_engine"))
      .withColumn("predicted",
        when(col("score_analytics") >= col("score_storage") &&
          col("score_analytics") >= col("score_engine"), "analytics")
          .when(col("score_engine") >= col("score_storage"), "engine")
          .otherwise("storage"))
      .orderBy("doc_id")
  }

  // quality sub-expressions shared by `quality` and `tokenBudget` (the
  // budget sampler orders by the same score — one formula, one oracle
  // mirror, computed identically wherever it appears)
  private def qNTokens: Column = size(words).cast("double")
  private def qStopRatio: Column =
    size(filter(words, w => w.isInCollection(Seq("a", "the")))).cast("double") / qNTokens
  private def qAvgLen: Column =
    length(regexp_replace(col("text"), " ", "")).cast("double") / qNTokens
  private def qLenScore: Column = least(qNTokens / lit(100.0), lit(1.0))
  private def qScore: Column =
    lit(0.5) * qLenScore + lit(0.3) * (lit(1.0) - qStopRatio) +
      lit(0.2) * least(qAvgLen / lit(6.0), lit(1.0))

  /** `t_dataset_card` — the CORPUS DATASHEET a training-data pipeline
    * publishes with every snapshot: one row per source with the facts a
    * consumer needs before trusting the data — volume (docs, tokens),
    * exact-duplicate load (docs sharing a full-text md5 WITHIN the
    * source — the dedup debt), mean quality (the same fixed-order
    * [[qScore]] formula, decimal-exact average), and language-ID
    * agreement (how often [[predictedLang]] matches the labeled lang —
    * the classifier-health signal at a glance). Every column reuses the
    * exact per-doc formulas of the underlying operators — the card can
    * never drift from the signals it summarizes. Scale shape: two
    * map-side-combined aggregates over one corpus scan each (stats, dup
    * histogram), joined on the O(sources) domain. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val dups = docs(s, d)
      .groupBy(col("source"), md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .groupBy(col("source")).agg(sum(col("c")).as("n_dup_docs"))
    docs(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words).cast("long")).as("total_tokens"),
        graft.QueryDsl.davg4(qScore).as("avg_quality"),
        sum((predictedLang === col("lang")).cast("long")).as("n_lang_match"))
      .join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        col("avg_quality"), col("n_lang_match"))
      .orderBy("source")
  }

  /** Quality scoring: length score, stopword ratio, mean token length —
    * combined with fixed-order arithmetic mirrored 1:1 in the oracle. */
  def quality(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("doc_id"),
        qStopRatio.as("stop_ratio"),
        qAvgLen.as("avg_token_len"),
        qLenScore.as("len_score"),
        qScore.as("quality_score"))
      .orderBy("doc_id")

  /** Document fingerprinting: whole-doc md5 plus a winnowing-style
    * min-hash over word 4-gram shingles (rolling-window fingerprint). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val shingleMin = array_min(transform(
      sequence(lit(0), size(words) - 4),
      i => md5(array_join(slice(words, i + lit(1), lit(4)), " ").cast("binary"))))
    // explicit repartition: byte-small corpus, compute-dense md5 stage —
    // same single-split/AQE-coalesce trap as Dedup.withSig
    docs(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("doc_md5"),
        when(size(words) >= 4, shingleMin)
          .otherwise(md5(col("text").cast("binary"))).as("shingle_min_md5"))
      .orderBy("doc_id")
  }

  private val WinnowW = 8

  /** TRUE winnowing (Schleimer et al.'s local fingerprinting, which
    * `fingerprint`'s single global min approximates): the distinct minima
    * of every `WinnowW`-wide sliding window over the word-4-gram hash
    * sequence. Guarantees a shared fingerprint for any sufficiently long
    * shared passage — the property plagiarism/near-dup detection needs
    * and a global min lacks. One row per (doc, fingerprint); all narrow
    * array ops until the explode. */
  def winnow(s: SparkSession, d: String): DataFrame = {
    val hashes = transform(
      sequence(lit(0), size(words) - 4),
      i => md5(array_join(slice(words, i + lit(1), lit(4)), " ").cast("binary")))
    docs(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .filter(size(words) >= 4)
      .select(col("doc_id"), hashes.as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), greatest(size(col("hs")) - WinnowW, lit(0))),
          j => array_min(slice(col("hs"), j + 1, lit(WinnowW)))))).as("fp_md5"))
      .orderBy("doc_id", "fp_md5")
  }

  /** tf-idf: tokenize → per-(doc,term) tf → per-term document frequency →
    * rational idf. Two aggregations (one shuffle each, map-side partial);
    * the doc count joins in as a broadcast scalar. */
  def tfIdf(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d)
      .select(col("doc_id"), explode(words).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"), col("word"), col("tf"), col("df"),
        (col("tf").cast("double") *
          ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))).as("tfidf"))
      .orderBy("doc_id", "word")
  }

  /** The composed corpus-cleaning pass a real LLM pipeline runs: quality
    * gate + near-duplicate removal (keep the lower doc_id of each LSH-
    * confirmed pair) in ONE lazy plan — the per-doc scoring is a narrow
    * map, and the dup set is read from the STAGED pair table
    * (build-once/consume-many, bit-exact vs the inline LSH pipeline) and
    * anti-joined WITHOUT a broadcast hint: the dup set grows with the
    * corpus, so a forced broadcast is exactly the hint that OOMs at 10B
    * docs — the planner picks the strategy from actual sizes (AQE). */
  def corpusFilter(s: SparkSession, d: String): DataFrame = {
    val dups = Dedup.stagedNeardupPairs(s, d).select(col("b").as("doc_id")).distinct()
    quality(s, d)
      .select(col("doc_id"), col("quality_score"))
      .filter(col("quality_score") >= 0.6)
      .join(dups, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split assignment by CONTENT hash
    * (bucket = first 32 md5 bits mod 100 → 98/1/1): reproducible under
    * any partitioning, any scale, any re-run — the property `rand()`-based
    * splits lack — and stable under corpus growth (a doc's split never
    * changes when new docs arrive). A pure narrow map over the scan. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("bigint") % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  private val ShuffleShards = 16
  private val ShuffleSalt = "epoch1" // the reshuffle dial: new salt = new order

  /** `t_shuffle_shards` — the DETERMINISTIC GLOBAL SHUFFLE + SHARDING
    * step a pretraining run performs per epoch: every document draws a
    * shuffle key from a salted content-independent hash (md5 of
    * salt‖doc_id — reproducible under any partitioning, re-rollable by
    * changing the salt), shard = key mod [[ShuffleShards]], and each
    * shard is written in key order. The emitted per-shard row carries
    * the balance stats (doc/token counts) and an ORDER CHECKSUM —
    * Σ position·(doc_id+1) mod 2³¹−1 over the key-sorted shard — which
    * pins the exact within-shard sequence, so "the same epoch shuffle
    * everywhere, forever" is hash-checked rather than assumed.
    *
    * Scale shape: one shuffle on the shard key; the within-shard sort
    * is the sort the shard writer pays anyway (sortWithinPartitions at
    * write time); no per-shard collect — the checksum is a windowed
    * position times an aggregate, state O(1) per row. */
  def shuffleShards(s: SparkSession, d: String): DataFrame = {
    val key = conv(substring(md5(
      concat(lit(ShuffleSalt + "_"), col("doc_id").cast("string")).cast("binary")),
      1, 8), 16, 10).cast("bigint")
    val w = Window.partitionBy(col("shard")).orderBy(col("key").asc, col("doc_id").asc)
    docs(s, d)
      .select(col("doc_id"), size(words).cast("long").as("n_tokens"), key.as("key"))
      .withColumn("shard", (col("key") % ShuffleShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum((col("pos") * (col("doc_id") + 1)) % 2147483647L).as("order_checksum"))
      .orderBy("shard")
  }

  /** Deterministic STRATIFIED sample: per-language rates (50% analytics /
    * 20% storage / 10% engine) decided by content-hash bucket, so the
    * sample is reproducible under any partitioning and needs no second
    * pass (`sampleBy` needs fractions but samples nondeterministically
    * across reruns; this never does). A narrow filter over the scan. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100
    val rate = when(col("lang") === "analytics", 50)
      .when(col("lang") === "storage", 20)
      .otherwise(10)
    docs(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .orderBy("doc_id")
  }

  /** Per-doc top-word multiplicity as a NARROW array fold (r21; guide
    * §2.4 — remove shuffles outright): sort the words array so equal
    * words become adjacent, then take the longest run in one linear
    * pass. The r20 shape exploded the corpus and paid two hash-agg
    * shuffles plus a join back per consumer; the fold computes the same
    * integer — max multiplicity of any word in the doc — with zero
    * exchanges. Bounded by DOC length (the same per-row bound as the
    * arrays the queries already build), never by corpus size. The
    * initial `prev = ""` cannot miscount a genuine leading empty-string
    * word: its run evaluates 0+1 = 1 either way. */
  private def topWordCount: Column =
    aggregate(
      array_sort(words),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + lit(1))
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Repetition signals — the MassiveText/Gopher-style quality filters
    * that catch degenerate (boilerplate/spam/loop) documents: fraction of
    * repeated tokens, most-frequent-token share, and repeated-2-gram
    * fraction. All columns are pure narrow array ops over the scan (the
    * top-token count is [[topWordCount]]'s sorted-run fold — r20 paid an
    * explode + two aggregation shuffles + a join back for it); divisions
    * are single IEEE ops over exact integers, so the doubles are
    * bit-identical cross-engine. The deterministic sort runs BEFORE the
    * projection (the piiRedact shape): a trailing orderBy would sample —
    * and so re-run — the compute-dense child twice. */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    val nTok = size(words)
    val grams2 = transform(sequence(lit(0), nTok - 2),
      i => array_join(slice(words, i + lit(1), lit(2)), " "))
    docs(s, d)
      .orderBy("doc_id")
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        (lit(1.0) - size(array_distinct(words)).cast("double") / nTok.cast("double"))
          .as("dup_word_frac"),
        // the fold lands in its own projection so the frac below reads
        // the computed column instead of re-running the O(doc) fold
        topWordCount.cast("int").as("top_word_n"),
        // sequence(0, n-2) DESCENDS when n<2 — guard stays even though the
        // corpus has no 1-token docs
        when(nTok >= 2,
          lit(1.0) - size(array_distinct(grams2)).cast("double") /
            (nTok - 1).cast("double"))
          .otherwise(lit(0.0)).as("dup_2gram_frac"))
      .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"),
        col("top_word_n"),
        (col("top_word_n").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        col("dup_2gram_frac"))
  }

  // Gopher-style rule-gate thresholds (the Rae et al. 2021 MassiveText
  // family: hard per-rule gates, unlike `quality`'s blended score), bounds
  // tuned so the synthetic corpus populates both sides of every gate.
  // Every gate COMPARISON is exact-integer (cross-multiplied), so the
  // flags are bit-identical cross-engine even where the reported ratio
  // column is a double.
  private val RuleMinWords = 15
  private val RuleMaxWords = 90

  /** Rule-based quality GATES (the published-heuristic family next to the
    * continuous [[quality]] score): word-count bounds, mean-word-length
    * bounds, minimum stopword evidence, duplicate-word cap, and a
    * top-word-share cap — one int flag per rule plus the conjunction, so
    * a pipeline can both filter on `keep` and report per-rule kill rates.
    * Everything is a narrow map over the scan, the top-word count
    * included ([[topWordCount]]'s sorted-run fold — r20 paid an explode +
    * two aggregation shuffles + a join back for it); the deterministic
    * sort runs BEFORE the projection (the piiRedact shape) so the
    * trailing range exchange samples the raw scan, not the computed
    * columns. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val nw = size(words)
    val chars = length(regexp_replace(col("text"), " ", ""))
    val nStop = size(filter(words, w => w.isInCollection(Seq("a", "the"))))
    val nDistinct = size(array_distinct(words))
    docs(s, d)
      .orderBy("doc_id")
      .select(col("doc_id"), nw.as("n_words"), chars.as("n_word_chars"),
        nStop.as("n_stop"), nDistinct.as("n_distinct"),
        topWordCount.cast("int").as("top_count"))
      .select(
        col("doc_id"), col("n_words"),
        (col("n_word_chars").cast("double") / col("n_words").cast("double"))
          .as("mean_word_len"),
        ((col("n_words") - col("n_distinct")).cast("double") /
          col("n_words").cast("double")).as("dup_frac"),
        (col("top_count").cast("double") / col("n_words").cast("double"))
          .as("top_share"),
        (col("n_words") >= RuleMinWords && col("n_words") <= RuleMaxWords)
          .cast("int").as("r_len"),
        (col("n_word_chars") >= col("n_words") * 4 &&
          col("n_word_chars") <= col("n_words") * 10).cast("int").as("r_word_len"),
        (col("n_stop") >= 2).cast("int").as("r_stop"),
        ((col("n_words") - col("n_distinct")) * 2 <= col("n_words"))
          .cast("int").as("r_dup"),
        (col("top_count") * 5 <= col("n_words")).cast("int").as("r_top"))
      .withColumn("keep",
        (col("r_len") === 1 && col("r_word_len") === 1 && col("r_stop") === 1 &&
          col("r_dup") === 1 && col("r_top") === 1).cast("int"))
  }

  /** Benchmark decontamination: flag training documents that share any
    * word 5-gram with the held-out split (val/test by the same content-
    * hash buckets as [[splitAssign]]) — the exact-n-gram-overlap
    * decontamination pass every pretraining pipeline runs before
    * training. Held-out side first: the benchmark set is tiny by
    * construction (2% here; MBs in practice), so its distinct gram-hash
    * set BROADCASTS and the 98%-side probe is a map-side hash join over
    * the corpus scan — no shuffle of the big side, the shape that holds
    * at 100 TB (swap the broadcast for a bloom filter when even the gram
    * set outgrows executor memory). Output: contaminated train doc →
    * number of distinct leaked 5-grams. */
  private def gramBucket: Column =
    conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100

  /** (doc_id, g5) distinct word-5-gram md5s of the docs matching `pred`.
    *
    * The corpus reshuffle is SIZE-GATED: the byte-small fixture scans as
    * one split and would serialize the compute-dense gram-md5 stage on
    * one core (the [[graft.operators.Dedup.withSig]] trap), so an
    * under-parallelized scan pays one small text shuffle for
    * full-cluster parallelism — but at 100 TB the scan's natural split
    * count already saturates the cluster and an unconditional
    * `repartition` would move the corpus TEXT purely to rebalance
    * compute the scan layout balances for free. The gate reads the
    * scan's partition count (a file-listing, no data motion) and skips
    * the exchange once splits ≥ cores. */
  private def gramSide(s: SparkSession, d: String, pred: Column): DataFrame = {
    val grams5 = array_distinct(transform(
      sequence(lit(0), size(words) - 5),
      i => md5(array_join(slice(words, i + lit(1), lit(5)), " ").cast("binary"))))
    val corpus = docs(s, d)
    // filter BEFORE the exchange: pred is row-local, so only surviving
    // docs' text shuffles (the held-out side keeps ~2% — Catalyst pushes
    // the predicate below a repartition anyway, but the explicit order
    // makes the shape not depend on an optimizer rule)
    val kept = corpus.filter(pred && size(words) >= 5)
    val spread =
      if (corpus.rdd.getNumPartitions >= s.sparkContext.defaultParallelism) kept
      else kept.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    spread.select(col("doc_id"), explode(grams5).as("g5"))
  }

  /** The (doc_id, g5) gram stream and the distinct held-out gram set,
    * staged once per corpus fingerprint (r22, r21 verdict item 8 — landed
    * only after the bench learned to PRICE staging via `staging_total`,
    * so the build cost is reported, not hidden). Three queries
    * (`t_decontaminate`, `t_decontaminate_bloom`, `t_overlap_frac`) plus
    * the `t_pipeline_e2e` contamination stage each re-ran the dominant
    * per-doc gram-md5 pass per run even though both tables are pure
    * corpus functions — the LM family's staged-table discipline applies
    * verbatim. The split predicate (content-hash bucket 98/2) is part of
    * the staged derivation, hence the version token. */
  def gramStageDir(sfDir: String): String = graft.Staging.dir("grams5_v1", sfDir)

  private def ensureGramsStaged(s: SparkSession, d: String): String = {
    val dir = gramStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet"), "md5grams:k5:b98") {
      gramSide(s, d, gramBucket < 98)
        .write.mode("overwrite").parquet(dir + "/train")
      gramSide(s, d, gramBucket >= 98).select(col("g5")).distinct()
        .write.mode("overwrite").parquet(dir + "/held")
    }: Unit
    dir
  }

  private def stagedTrainGrams(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, ensureGramsStaged(s, d) + "/train")

  private def stagedHeldGrams(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, ensureGramsStaged(s, d) + "/held")

  def decontaminate(s: SparkSession, d: String): DataFrame =
    stagedTrainGrams(s, d)
      .join(broadcast(stagedHeldGrams(s, d)), "g5")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")

  /** [[decontaminate]] for when even the held-out GRAM SET outgrows
    * executor memory (a broadcast hash table keyed by 16-byte md5s is an
    * order of magnitude bigger than a bloom filter of the same set): build
    * a Bloom filter over the held-out 5-gram hashes — ONE aggregation, a
    * ~bits/8-byte binary shipped to every task as a plan literal — probe
    * the 98% side map-side (narrow filter over the corpus scan; false
    * positives possible, false negatives not), then exact-confirm the
    * survivors with a gram join so the OUTPUT stays exact (identical to
    * [[decontaminate]]; the same oracle proves both). The full train-side
    * gram stream never shuffles — only bloom survivors reach the confirm
    * join (LlmCorpusSpec asserts survivors ≪ corpus grams and output
    * equality). `expectedItems` sizes the filter generously (~1.2M bits
    * here); at a real corpus, size it to the held-out suite and keep fpp
    * low enough that the confirm join stays tiny. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val held = stagedHeldGrams(s, d)
    // index-build action, like df.stat.bloomFilter: the serialized filter
    // comes to the driver once and rides into the plan as a literal
    val bloomBytes = held
      .agg(graft.functions.GraftFunctions.bloom_agg(xxhash64(col("g5")), 200000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val survivors = stagedTrainGrams(s, d)
      .filter(graft.functions.GraftFunctions.bloom_might_contain(
        lit(bloomBytes), xxhash64(col("g5"))))
    survivors
      .join(held, "g5") // exact confirm: shuffles survivors only, never the corpus
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Exposed for LlmCorpusSpec's pruning assertion: grams surviving the
    * bloom probe (pre-confirm) vs total train-side grams. */
  private[operators] def bloomSurvivorCounts(s: SparkSession, d: String): (Long, Long) = {
    val held = stagedHeldGrams(s, d)
    val bloomBytes = held
      .agg(graft.functions.GraftFunctions.bloom_agg(xxhash64(col("g5")), 200000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val train = stagedTrainGrams(s, d)
    val survivors = train.filter(graft.functions.GraftFunctions.bloom_might_contain(
      lit(bloomBytes), xxhash64(col("g5"))))
    (survivors.count(), train.count())
  }

  /** [[decontaminate]]'s boolean verdict as a MEASURE: per train doc, the
    * fraction of its distinct 5-grams present in the held-out suite — the
    * dial for a threshold gate (drop at ≥x%) instead of drop-on-any-hit,
    * and the number a contamination report aggregates. Same gram
    * machinery, same broadcast-bounded held-out side; the LEFT join keeps
    * zero-overlap docs (a report that drops them overstates
    * contamination). Scale shape is [[decontaminate]]'s: the corpus gram
    * stream never shuffles — it joins a broadcast set and aggregates
    * per doc with map-side combine. */
  def overlapFrac(s: SparkSession, d: String): DataFrame = {
    val held = stagedHeldGrams(s, d)
    stagedTrainGrams(s, d)
      .join(broadcast(held.withColumn("hit", lit(1L))), Seq("g5"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("overlap_frac"))
      .orderBy("doc_id")
  }

  // ---- Sliding-window chunking: the RAG / context-window prep op. Fixed
  // token windows with overlap; a window whose span the PREVIOUS window
  // already covered (possible only at the ragged tail) is suppressed, so
  // chunks are unique and every token is covered. Pure narrow map +
  // explode over the scan — zero shuffles at any corpus size (the final
  // orderBy exists for the deterministic oracle compare only). ----
  private[operators] val ChunkSize = 64
  private[operators] val ChunkOverlap = 16
  private[operators] val ChunkStep = ChunkSize - ChunkOverlap

  def chunking(s: SparkSession, d: String): DataFrame = {
    val w = col("w")
    docs(s, d)
      .select(col("doc_id"), words.as("w"))
      .select(col("doc_id"), w,
        explode(sequence(lit(0), greatest(size(w) - 1, lit(0)),
          lit(ChunkStep))).as("st"))
      // the tail window starting at `st` is contained in its predecessor
      // iff that predecessor already reached the document end
      .filter(col("st") === 0 || col("st") + lit(ChunkOverlap) < size(w))
      .select(col("doc_id"),
        (col("st") / lit(ChunkStep)).cast("long").as("chunk_id"),
        col("st").cast("long").as("start_tok"),
        size(slice(w, col("st") + 1, lit(ChunkSize))).cast("long").as("n_tokens"),
        md5(array_join(slice(w, col("st") + 1, lit(ChunkSize)), " ").cast("binary"))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-source TOKEN-BUDGET sampling — the data-mixture cap: each source
    * contributes its highest-quality documents until its token budget is
    * spent (greedy quality-first prefix; ties broken by doc_id). One hash
    * shuffle on `source` + a per-source running sum; at 100 TB sources
    * vastly outnumber partitions so the windows parallelize — a single
    * pathological mega-source is the same skew a two-phase per-shard
    * prefix-sum (shard sums broadcast as offsets) would shard, noted here
    * rather than built because the budget cap is per-SOURCE by
    * definition. Ordering by the float quality score is cross-engine
    * deterministic: both engines compute the identical IEEE doubles
    * (t_quality's hash gate proves it) and doc_id breaks ties. */
  private[operators] val TokenBudget = 800L

  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val win = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        size(words).cast("long").as("n_tokens"),
        qScore.as("quality_score"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(win))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  private[operators] val PackCtx = 512
  private[operators] val PackShards = 32

  /** GPT-style sequence packing: concatenate the corpus in a deterministic
    * order and cut fixed `PackCtx`-token context windows, reporting each
    * document's chunk span and whether it straddles a boundary. The
    * global concatenation order is the scale trap — a single total-order
    * window is one reducer at 100 TB — so packing is per content-hash
    * SHARD (how real pipelines pack per output file): each shard is an
    * independent window partition, shuffled once on shard, cumulative
    * sum inside. Order within a shard is (content md5, doc_id) —
    * reproducible under any partitioning. */
  /** Per-doc packing spans — the shared core of [[packSequences]] and
    * [[packChunks]]: one shuffle on shard, cumulative token sum inside,
    * each doc's global token interval mapped to chunk indices. */
  private def packSpans(s: SparkSession, d: String): DataFrame =
    packSpansOf(docs(s, d))

  /** [[packSpans]] over any `df(doc_id, text)` — the e2e pipeline packs
    * the CLEANED survivor corpus through the same window. */
  private[operators] def packSpansOf(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = md5(col("text").cast("binary"))
    val w = Window.partitionBy(col("shard")).orderBy(col("m"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .select(col("doc_id"), m.as("m"),
        (conv(substring(m, 1, 8), 16, 10).cast("bigint") % PackShards).as("shard"),
        size(words).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens").cast("bigint")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        floor((col("cum") - col("n_tokens")) / lit(PackCtx.toDouble)).as("chunk_first"),
        floor((col("cum") - 1) / lit(PackCtx.toDouble)).as("chunk_last"))
  }

  def packSequences(s: SparkSession, d: String): DataFrame =
    packSpans(s, d)
      .withColumn("straddles",
        (col("chunk_last") > col("chunk_first")).cast("int"))
      .orderBy("doc_id")

  /** The writer-facing rows [[packSequences]] stops short of: one row per
    * (shard, chunk, segment) — `seg_pos` orders the document segments
    * inside each `PackCtx`-token context window, (doc_id, seg_start,
    * seg_len) says which token slice of the doc fills it, and
    * `chunk_tokens` is the window's fill (exactly `PackCtx` for every
    * chunk except each shard's last — LlmCorpusSpec asserts it). A
    * training-data writer streams these rows grouped by (shard, chunk_id)
    * and emits finished sequences. Fully deterministic (same md5-order
    * concatenation as packSequences), so the DuckDB oracle proves it.
    *
    * Scale shape: the doc→chunk fan-out is a narrow explode (a doc
    * touches ⌈len/PackCtx⌉+1 chunks); the seg_pos/chunk_tokens windows
    * re-use the shard partitioning (HashPartitioning(shard) satisfies the
    * (shard, chunk_id) clustering — no second shuffle), and no window
    * partition outgrows a shard. */
  def packChunks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segStart = greatest(col("chunk_id") * lit(PackCtx.toLong) - col("start_off"), lit(0L))
    val segEnd = least((col("chunk_id") + 1) * lit(PackCtx.toLong) - col("start_off"),
      col("n_tokens").cast("bigint"))
    val segs = packSpans(s, d)
      .select(col("shard"), col("doc_id"), col("start_off"), col("n_tokens"),
        explode(sequence(col("chunk_first"), col("chunk_last"))).as("chunk_id"))
      .select(col("shard"), col("chunk_id"), col("doc_id"),
        segStart.as("seg_start"), (segEnd - segStart).as("seg_len"),
        (col("start_off") + segStart).as("gstart"))
    val wPos = Window.partitionBy(col("shard"), col("chunk_id")).orderBy(col("gstart"))
    val wChunk = Window.partitionBy(col("shard"), col("chunk_id"))
    segs
      .withColumn("seg_pos", row_number().over(wPos))
      .withColumn("chunk_tokens", sum(col("seg_len")).over(wChunk))
      .select(col("shard"), col("chunk_id"), col("seg_pos"), col("doc_id"),
        col("seg_start"), col("seg_len"), col("chunk_tokens"))
      .orderBy("shard", "chunk_id", "seg_pos")
  }

  /** The training-artifact WRITE the packing pipeline feeds: packed chunk
    * rows materialized to parquet PARTITIONED BY shard (each shard
    * directory is one trainer's input split; a cluster writer points the
    * same call at shared storage) and read back — the round trip through
    * real files is the query, so the hash gate proves the write lost,
    * duplicated, and reordered nothing. Partition-column type inference
    * would narrow `shard` to INT on read-back; the cast restores the
    * written schema. */
  def packWrite(s: SparkSession, d: String): DataFrame = {
    val outDir = graft.TempPaths.scratch(s, "pack_write")
    packChunks(s, d).write.mode("overwrite").partitionBy("shard").parquet(outDir)
    Tables.parquet(s, outDir)
      .select(col("shard").cast("bigint").as("shard"), col("chunk_id"), col("seg_pos"),
        col("doc_id"), col("seg_start"), col("seg_len"), col("chunk_tokens"))
      .orderBy("shard", "chunk_id", "seg_pos")
  }

  /** Heavy hitters: the k most frequent words per language — aggregation
    * feeding the custom bounded-heap top-k operator, so the per-group
    * selection is O(groups×k) memory with no per-group sort even when one
    * language dominates the corpus (the hot-key case that breaks the
    * window formulation at scale). */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(col("lang"), explode(words).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
    graft.plans.TopK.perKey(
      counts,
      keys = Seq(col("lang")),
      order = Seq(col("n").desc, col("word").asc),
      k = 5)
      .orderBy(col("lang"), col("n").desc, col("word"))
  }

  /** Hashed-feature linear quality classifier — the fasttext-style filter
    * shape every LLM corpus pipeline runs (CCNet/GPT-3-style "looks like
    * reference text" scoring), with md5-derived weights standing in for
    * trained ones (no model files in this environment; the DATA PATH is
    * the operator). Each token hashes to a signed 32-bit weight; the doc's
    * logit is the SUM over all tokens (bag-of-words with counts) and the
    * label is its sign. All-integer arithmetic end to end, so the scores
    * are bit-identical cross-engine.
    *
    * Scale shape: explode → groupBy(doc_id) with map-side combine — the
    * explode never crosses a partition boundary (tokens stay with their
    * doc), so the shuffle carries one partial sum per doc per partition,
    * O(docs) not O(tokens). NOT an `aggregate()` array fold: interpreted
    * higher-order lambdas are this repo's round-2/round-5 perf trap. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val w = (conv(substring(md5(concat(lit("w_"), col("word")).cast("binary")), 1, 8), 16, 10)
      .cast("bigint") - lit(2147483648L))
    docs(s, d)
      .select(col("doc_id"), explode(words).as("word"))
      .select(col("doc_id"), w.as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("logit"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("logit"), col("n_tokens"),
        (col("logit") >= 0L).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  private val CalBins = 8

  /** `t_calibration` — RELIABILITY DIAGRAM for the hashed-feature quality
    * classifier: logits bucketed into equi-width integer bins (the
    * r_histogram arithmetic — all integer), each bin reporting how often
    * the heuristic quality gate (qScore ≥ 0.5) actually fires. The
    * accept/retune measurement any learned filter needs before its
    * threshold is trusted at corpus scale: a well-ordered classifier
    * shows pos_rate rising with the bin. One classifier aggregation + one
    * narrow gate scan joined on doc_id; the diagram itself is O(bins). */
  def calibration(s: SparkSession, d: String): DataFrame = {
    val cls = qualityClassifier(s, d).select(col("doc_id"), col("logit"))
    val gate = docs(s, d)
      .select(col("doc_id"), (qScore >= 0.5).cast("long").as("pos"))
    val joined = cls.join(gate, "doc_id")
    val bounds = joined
      .agg(min(col("logit")).as("lo"), max(col("logit")).as("hi"))
      .select(col("lo"), (col("hi") - col("lo") + 1).as("span"))
    joined.crossJoin(broadcast(bounds))
      .select(expr(s"((logit - lo) * $CalBins) div span").as("bucket"), col("pos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .select(col("bucket"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"))
      .orderBy("bucket")
  }

  /** `t_auc` — exact ROC-AUC of the quality classifier against the
    * rule-gate gold labels, completing the eval family (confusion
    * matrix = one threshold, calibration = probability quality, AUC =
    * ranking quality across ALL thresholds — the number a gate-tuning
    * decision actually reads). Computed as the Mann-Whitney rank-sum
    * made integer-exact through DOUBLED MIDRANKS: per distinct logit v,
    * dr(v) = 2·cnt_less + cnt_eq + 1 (twice the tie-averaged midrank,
    * an integer), so Σ_pos dr, the tie correction, and
    * AUC = (Σ_pos dr − n_pos·(n_pos+1)) / (2·n_pos·n_neg) are exact
    * integers capped by ONE final IEEE division — bit-identical
    * cross-engine, ties handled exactly (no ±½ float drift).
    *
    * Scale shape: one map-side-combined groupBy to the O(distinct
    * logits) value table; the rank windows run over that bounded table,
    * never the corpus; totals are a 1-row broadcast. */
  def auc(s: SparkSession, d: String): DataFrame = {
    val scored = qualityClassifier(s, d).select(col("doc_id"), col("logit"))
      .join(docs(s, d).select(col("doc_id"), (qScore >= 0.5).cast("long").as("pos")),
        "doc_id")
    val perValue = scored.groupBy(col("logit"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("cnt_pos"))
    val ordV = Window.orderBy(col("logit"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue
      .withColumn("cum", sum(col("cnt")).over(ordV))
      .select(col("cnt_pos"),
        (col("cnt_pos") * (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1))
          .as("dr_pos"))
      .agg(sum(col("cnt_pos")).as("n_pos_tmp"), sum(col("dr_pos")).as("sum_dr"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))))
      .select(col("np").as("n_pos"), (col("n") - col("np")).as("n_neg"),
        col("sum_dr"),
        ((col("sum_dr") - col("np") * (col("np") + 1)).cast("double")
          / (lit(2.0) * col("np").cast("double") * (col("n") - col("np")).cast("double")))
          .as("auc"))
  }

  /** `t_oov_rate` — HELD-OUT OOV RATE under the train vocabulary: the
    * tokenizer/val-mismatch gate (a val split whose words the train
    * vocabulary never saw inflates loss for reasons no model change
    * fixes — this measures that mismatch BEFORE training): per val-split
    * document, the share of tokens absent from the train split's
    * vocabulary, in exact integer milli (`oov·1000 div n`), plus the
    * corpus-level flag comparing each doc to the val-wide OOV rate by
    * cross-multiplication. Splits are the engine's own hash-split rule
    * (doc_id % 10: 8 train / val else — the [[lmSurprisal]] boundary).
    *
    * Scale shape: the train vocab is one map-side-combined distinct
    * (O(|V|)); val tokens LEFT-join it on the word key; per-doc and
    * corpus totals are bounded aggregates. */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"), explode(words).as("w"))
      .filter(col("w") =!= "")
    val vocab = toks.filter(col("doc_id") % 10 < 8).select(col("w")).distinct()
    val perDoc = toks.filter(col("doc_id") % 10 >= 8)
      .join(vocab.withColumn("in_vocab", lit(1)), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_milli", expr("n_oov * 1000L div n_tokens"))
    val tot = perDoc.agg(sum(col("n_tokens")).as("tn"), sum(col("n_oov")).as("to")) // 1 row
    perDoc.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_milli"),
        (col("n_oov") * col("tn") > col("to") * col("n_tokens")).cast("int")
          .as("above_corpus_rate"))
      .orderBy("doc_id")
  }

  /** `t_quality_vote` — the STACKED QUALITY FILTER (what production
    * pipelines actually deploy: no single signal is trusted alone —
    * signals VOTE): per document, (1) the hashed-feature classifier's
    * logit above the corpus mean, (2) the blended rule score's ≥ 0.5
    * gate, (3) the unigram-LM surprisal NOT above the corpus mean —
    * keep on a 2-of-3 majority. Every signal is the exact integer form
    * its standalone query hash-checks (cross-multiplied means, the
    * floor-log2 LM), so the composed votes and the majority are
    * hash-exact too. The disagreement surface is the point: the spec
    * pins that no single signal equals the vote (each signal alone
    * would misclassify documents the ensemble saves).
    *
    * Scale shape: three narrow per-doc signal pipelines (each already
    * bounded — see their standalone queries) joined on doc_id once. */
  def qualityVote(s: SparkSession, d: String): DataFrame = {
    val cls = qualityClassifier(s, d).select(col("doc_id"), col("logit"))
    val clsTot = cls.agg(sum(col("logit")).as("tot"), count(lit(1)).as("n")) // 1 row
    val v1 = cls.crossJoin(broadcast(clsTot))
      .select(col("doc_id"),
        (col("logit") * col("n") > col("tot")).cast("int").as("v_classifier"))
    val v2 = docs(s, d).select(col("doc_id"), (qScore >= 0.5).cast("int").as("v_rules"))
    val v3 = lmSurprisal(s, d)
      .select(col("doc_id"), (col("above_avg") === 0).cast("int").as("v_surprisal"))
    v1.join(v2, "doc_id").join(v3, "doc_id")
      .withColumn("n_votes", col("v_classifier") + col("v_rules") + col("v_surprisal"))
      .withColumn("keep", (col("n_votes") >= 2).cast("int"))
      .orderBy("doc_id")
  }

  /** Frequency-vocabulary induction with a coverage cut — the tokenizer-
    * prep step (which words does a 90%-coverage vocab need?). Global word
    * counts, ordered by (count desc, word asc), cumulative coverage, keep
    * every word whose PRECEDING cumulative count is below 90% of total
    * tokens — an integer comparison (`(cum - n) × 10 < total × 9`), no
    * float thresholds to diverge on.
    *
    * Scale shape: the corpus-sized work is one map-side-combined count;
    * the global-order window then runs over the DISTINCT VOCABULARY (|V|,
    * thousands), not the corpus — a single-partition sort over |V| rows is
    * the right plan at any corpus size because |V| grows ~log(corpus). */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(explode(words).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // r22 (guide §2.5): the cumulative-coverage window previously ran
    // UNPARTITIONED over every distinct corpus word — |V| grows without
    // bound at web scale (100M+ types), and one task sorted all of it.
    // The [[curriculum]] offset-broadcast pattern instead: bucket words
    // by their COUNT VALUE, compute cumulative starting offsets over the
    // bounded O(distinct count values) bucket table (Zipf: ≪ |V|),
    // broadcast the offsets back, and rank within each bucket — no task
    // ever orders more than one count-value's words. The arithmetic is
    // exactly the old window's: along (n desc, word asc), a word's
    // cumulative mass = mass of strictly-higher buckets + n × its
    // position in its own bucket, and its rank = words in higher buckets
    // + its position. (The old rank window ran after the coverage filter,
    // but the kept set is a PREFIX of the ordering — (cum−n) is
    // nondecreasing — so ranks over all words agree on every kept row.)
    val bucketW = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.groupBy(col("n"))
      .agg(count(lit(1)).as("n_words"))
      .withColumn("rank_offset", coalesce(sum(col("n_words")).over(bucketW), lit(0L)))
      .withColumn("cum_offset",
        coalesce(sum(col("n") * col("n_words")).over(bucketW), lit(0L)))
      .withColumn("total", sum(col("n") * col("n_words")).over(Window.partitionBy()))
      .select(col("n"), col("rank_offset"), col("cum_offset"), col("total"))
    counts
      .join(broadcast(offsets), "n")
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("n")).orderBy(col("word").asc)))
      .withColumn("cum", col("cum_offset") + col("n") * col("rn"))
      .filter((col("cum") - col("n")) * 10 < col("total") * 9)
      .withColumn("rank", (col("rank_offset") + col("rn")).cast("int"))
      .select(col("rank"), col("word"), col("n"), col("cum"))
      .orderBy("rank")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the train and val
    * splits on the token-count feature — the drift/skew gate a corpus
    * pipeline runs between snapshots (did the val split land on the same
    * length distribution?). D = max |F_train(x) − F_val(x)| over the
    * feature's support; each ECDF value is one integer-over-integer IEEE
    * division and the difference of two such doubles is deterministic, so
    * D hash-matches DuckDB exactly (reported with the location of the
    * max, ties to the lowest x).
    *
    * Scale shape: per-(split, length) counts — map-side combined, O(splits
    * × support) rows out of the shuffle — then windows over the SUPPORT
    * (distinct lengths, a bounded domain), never over rows. */
  def ksDrift(s: SparkSession, d: String): DataFrame = {
    val split = splitAssign(s, d).select(col("doc_id"), col("split"))
    val lens = docs(s, d).select(col("doc_id"), size(words).as("len"))
      .join(split, "doc_id")
      .filter(col("split").isInCollection(Seq("train", "val")))
    val byLen = lens.groupBy(col("len"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
    val cumW = Window.orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val ecdf = byLen
      .withColumn("c_train", sum(col("n_train")).over(cumW))
      .withColumn("c_val", sum(col("n_val")).over(cumW))
      .withColumn("t_train", sum(col("n_train")).over(tot))
      .withColumn("t_val", sum(col("n_val")).over(tot))
      .select(col("len"),
        abs(col("c_train").cast("double") / col("t_train").cast("double") -
          col("c_val").cast("double") / col("t_val").cast("double")).as("gap"))
    graft.plans.TopK.perKey(
        ecdf.withColumn("g", lit(1)),
        keys = Seq(col("g")),
        order = Seq(col("gap").desc, col("len").asc),
        k = 1)
      .select(col("gap").as("ks_d"), col("len").as("at_len"))
  }

  /** Source-level (domain-level) corpus filtering — the RefinedWeb/C4
    * move of scoring whole SOURCES rather than documents: per source, doc
    * count, mean quality (exact-decimal sum / count), and near-duplicate
    * rate (docs with a lower-id LSH-verified near-dup), with a keep flag
    * from fixed thresholds. A blocklisted domain is dropped wholesale no
    * matter how its individual pages score — that decision needs this
    * aggregation, not the per-doc one.
    *
    * Scale shape: per-doc quality and the near-dup flags are reused
    * pipelines; the aggregation is one groupBy over O(sources) output
    * rows with map-side combine. Mean quality goes through `davg4`
    * (IEEE-rounded to the 1e-4 grid BEFORE any decimal cast): quality
    * scores land exactly on 5e-5 decimal boundaries by construction, and
    * the plain decimal cast resolves those ties engine-specifically —
    * caught by the full-board sf0.1 oracle sweep (docs 479/3326). */
  def sourceFilter(s: SparkSession, d: String): DataFrame = {
    val q = quality(s, d).select(col("doc_id"), col("quality_score"))
    val dupDocs = Dedup.stagedNeardupPairs(s, d)
      .select(col("b").as("doc_id")).distinct()
      .withColumn("nd", lit(1L))
    val perDoc = docs(s, d).select(col("doc_id"), col("source"))
      .join(q, "doc_id")
      .join(dupDocs, Seq("doc_id"), "left")
    val meanQ = graft.QueryDsl.davg4(col("quality_score"))
    val dupRate = sum(coalesce(col("nd"), lit(0L))).cast("double") / count(lit(1)).cast("double")
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), meanQ.as("mean_quality"), dupRate.as("dup_rate"))
      .select(col("source"), col("n_docs"), col("mean_quality"), col("dup_rate"),
        (col("mean_quality") >= 0.70 && col("dup_rate") <= 0.08).cast("int").as("keep"))
      .orderBy("source")
  }

  /** Per-document bigram NOVELTY against the train split — the
    * distribution-shift/memorization probe (how much of a val document's
    * bigram vocabulary never appears in training data?). The per-doc twin
    * of decontamination: that query flags overlap with a tiny held-out
    * suite (broadcast/bloom probe); this one scores against the
    * CORPUS-SIZED train dictionary, where the honest 100 TB shape is a
    * shuffle equi-join on the bigram — no broadcast exists that holds the
    * train set. Left-anti join counts each val doc's unseen distinct
    * bigrams; the ratio is one integer-over-integer division.
    *
    * The dictionary is the STAGED bigram-LM count table's key set
    * ([[ensureLmStaged]] — train split `doc_id % 10 < 8`, the engine's
    * canonical LM split shared with `t_lm_bigram`/`t_lm_surprisal`):
    * distinct train bigrams ≡ the group keys of the staged (w1, w2, c2)
    * counts, and the val side reads the staged per-doc pair counts —
    * the probe re-aggregates NOTHING corpus-sized.
    *
    * SPLIT-CONVENTION NOTE (deliberate, recorded divergence): the engine
    * carries TWO split conventions. `t_split_assign` /
    * `t_stratified_sample` use the salted-md5 bucket split (98/1/1 —
    * content-hash splits for production leakage control, including the
    * cluster-keyed variant `d_split_leakage`). The LM FAMILY
    * (`t_lm_surprisal`, `t_lm_bigram`, `t_bigram_novelty`) uses
    * `doc_id % 10` (80 train / 10 val): an LM eval needs a val slice
    * big enough to exhibit both score classes (the md5 split's 1% val
    * slice is 1–2 docs at spec scale — too small for the above-mean
    * gate to discriminate), and the residue rule keys the build-once
    * staged LM tables. Round 16 moved `t_bigram_novelty` from the md5
    * split onto this one — a SEMANTIC redefinition of its val set (the
    * oracle moved with it), not a staging-only optimization; this note
    * is the record the round-16 changelog lacked. */
  def bigramNovelty(s: SparkSession, d: String): DataFrame = {
    val staged = ensureLmStaged(s, d)
    // per-doc DISTINCT val bigrams ≡ the staged pair-count rows (words
    // are space-split, so "w1 w2" is bijective with the (w1, w2) key)
    val valPairs = Tables.parquet(s, staged + "/pairs")
      .filter(col("doc_id") % 10 === 8)
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("bg"))
    val trainBigrams = Tables.parquet(s, staged + "/big")
      .select(concat_ws(" ", col("w1"), col("w2")).as("bg"))
    val novel = valPairs
      .join(trainBigrams, Seq("bg"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    valPairs.groupBy(col("doc_id"))
      // int like the pre-staging size(bgs) — schema-stable vs the oracle
      .agg(count(lit(1)).cast("int").as("n_bigrams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_bigrams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Tukey-fence LENGTH OUTLIERS per source — the distributional cousin
    * of the rule-based [[quality]] gate: flag documents whose length sits
    * outside `[q1 − k·IQR, q3 + k·IQR]` of their OWN source's length
    * distribution (truncation artifacts, concatenation blobs, boilerplate
    * stubs). Per-source fences matter because a length that is normal for
    * one crawl is pathological for another.
    *
    * k = 0.5 (inner fences, aggressive on the near-uniform fixture) —
    * and deliberately a small binary fraction: quartiles of an integral
    * column land on exact quarter-steps (the [[Relational.medianQuartiles]]
    * argument), `k·IQR` is then an exact eighth-step, and the fence
    * arithmetic is exact in both engines — no libm, no rounding-order
    * hazard. Production tunes k; 1.5 is the textbook value.
    *
    * Scale shape: one map-side-combined aggregate to O(sources) fence
    * rows, broadcast back into a single narrow filter over one corpus
    * scan — nothing corpus-sized shuffles. The exact-percentile buffer
    * is per-distinct-length (bounded by the length domain); the
    * high-cardinality path swaps in `approx_percentile` unchanged. */
  def lengthOutliers(s: SparkSession, d: String): DataFrame = {
    val fences = docs(s, d)
      .groupBy(col("source"))
      .agg(
        expr("percentile(n_chars, 0.25)").as("q1"),
        expr("percentile(n_chars, 0.75)").as("q3"))
      .select(col("source"),
        (col("q1") - (col("q3") - col("q1")) * 0.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 0.5).as("hi"))
    docs(s, d)
      .join(broadcast(fences), "source")
      .filter(col("n_chars") < col("lo") || col("n_chars") > col("hi"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("lo"), col("hi"),
        (col("n_chars") > col("hi")).cast("int").as("is_high"))
      .orderBy("doc_id")
  }

  // ---- Substring search over a STAGED trigram inverted index: grep-at-
  // scale without the full-corpus LIKE scan. ----

  private[operators] val SearchNeedle = "slow scan"

  def postingsStageDir(sfDir: String): String = graft.Staging.dir("trigram_p1", sfDir)

  /** Build-once trigram postings: one (trigram, doc_id) row per DISTINCT
    * character trigram per document — ~len distinct trigrams per doc, so
    * the index is O(corpus chars) rows but only (3-char key, id) wide —
    * written PARTITIONED by the trigram's first byte (`a0`, a
    * filesystem-safe int). A needle lookup then PRUNES at the directory
    * level before any row is read (SubstringSearchSpec asserts the
    * executed scan's `numFiles` against the on-disk total). The
    * repartition on a0 keeps the write to one file per populated
    * partition instead of tasks × partitions small files. */
  private def ensurePostingsStaged(s: SparkSession, d: String): String = {
    val dir = postingsStageDir(d)
    val path = dir + "/postings"
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      docs(s, d)
        .filter(length(col("text")) >= 3) // sequence(1, len-2) must ascend
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
        .select(col("doc_id"), expr("substr(text, i, 3)").as("trigram"))
        .distinct()
        .withColumn("a0", ascii(col("trigram")))
        .repartition(col("a0"))
        .write.mode("overwrite").partitionBy("a0").parquet(path)
    }: Unit
    path
  }

  private[operators] def searchCandidates(s: SparkSession, d: String): DataFrame = {
    val needles = SearchNeedle.sliding(3).toSeq.distinct
    val firstBytes = needles.map(_.charAt(0).toInt).distinct
    Tables.parquet(s, ensurePostingsStaged(s, d))
      .filter(col("a0").isin(firstBytes: _*) && col("trigram").isin(needles: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits")) // postings are distinct per (trigram, doc)
      .filter(col("hits") === needles.size)
  }

  /** SUBSTRING SEARCH via the staged trigram index — the inverted-index
    * primitive under corpus search: a `%needle%` scan over 100 TB becomes
    * (a) a pushed-down lookup of the needle's DISTINCT trigrams in the
    * postings table, (b) a doc-level count-match (a doc is a candidate
    * only if it contains ALL needle trigrams — the classic conjunctive
    * posting intersection as one hash aggregate), and (c) an exact
    * `instr` verify evaluated only on rows surviving the equi-join with
    * the candidate set — the corpus scan itself stays a plain
    * (doc_id, text) column-pruned scan here; at scale the candidate ids
    * feed a broadcast/DPP join so the expensive predicate never runs
    * corpus-wide. Trigrams of a candidate needn't be contiguous, so
    * candidates strictly over-approximate matches and the verify does
    * real work (SubstringSearchSpec quantifies it).
    *
    * The needle is a query-time literal; its trigram set is computed
    * driver-side (pure string ops). At scale the postings table is
    * additionally partitioned/bucketed by trigram prefix so the (a)
    * lookup touches a few files; per-doc distinct trigrams bound the
    * index at O(corpus chars) narrow rows. The oracle is the full LIKE
    * scan — the index path must reproduce it exactly. */
  def substringSearch(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .join(searchCandidates(s, d).select("doc_id"), "doc_id")
      .filter(instr(col("text"), SearchNeedle) > 0)
      .select(col("doc_id"), instr(col("text"), SearchNeedle).as("first_pos"))
      .orderBy("doc_id")

  /** The N-needle query batch: grep-at-scale takes a QUERY TABLE, not one
    * literal. Mixed hit profiles on the fixture corpus: three hitting
    * bigrams (each with a large false-positive candidate set the exact
    * verify must kill — SubstringSearchSpec quantifies it), one needle
    * sharing SOME trigrams with the vocabulary ('que','uer',…) so the
    * probe reads postings rows but the conjunctive count yields zero
    * candidates, and one fully out-of-vocabulary needle that dies at the
    * pruned directory level. */
  private[operators] val SearchNeedles =
    Seq("slow scan", "hash join", "window sort", "query plan", "zz missing")

  /** MULTI-NEEDLE SUBSTRING SEARCH over the same staged trigram postings:
    * one postings probe answers the whole query batch. Each needle's
    * distinct trigram set is computed driver-side (pure string ops on the
    * bounded query table — the classic small side); the probe reads the
    * postings ONCE filtered to the UNION of all needles' trigrams (with
    * the same first-byte directory pruning as the single-needle path),
    * broadcast-joins the (needle, trigram) map, and a doc is a candidate
    * for a needle iff its distinct-trigram hit count equals that needle's
    * trigram count — conjunctive posting intersection per (needle, doc)
    * in one hash aggregate. Only candidate (needle, doc) pairs reach the
    * exact `instr` verify against the corpus scan, so the expensive
    * predicate runs on O(candidates) rows however many needles the batch
    * carries — the postings table is probed once, not once per needle.
    * Oracle = the N-way LIKE cross-scan the index must reproduce. */
  def substringSearchMulti(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val needleTris = SearchNeedles
      .filter(_.length >= 3)
      .flatMap(n => n.sliding(3).toSeq.distinct.map(t => (n, t)))
    val nTris = needleTris.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val allTris = needleTris.map(_._2).distinct
    val firstBytes = allTris.map(_.charAt(0).toInt).distinct
    val needleMap = needleTris.toDF("needle", "trigram")
    val candidates = Tables.parquet(s, ensurePostingsStaged(s, d))
      .filter(col("a0").isin(firstBytes: _*) && col("trigram").isin(allTris: _*))
      .join(broadcast(needleMap), "trigram")
      .groupBy(col("needle"), col("doc_id"))
      .agg(count(lit(1)).as("hits")) // postings distinct per (trigram, doc)
      .join(broadcast(nTris.toSeq.toDF("needle", "n_tris")), "needle")
      .filter(col("hits") === col("n_tris"))
      .select(col("needle"), col("doc_id"))
    docs(s, d)
      .join(candidates, "doc_id")
      .filter(expr("instr(text, needle)") > 0)
      .select(col("needle"), col("doc_id"),
        expr("instr(text, needle)").as("first_pos"))
      .orderBy("needle", "doc_id")
  }

  /** `t_substring_ac` — the SAME query batch through an AHO–CORASICK
    * single-pass scan ([[AhoCorasick]]): no index, no shuffle — the
    * automaton (built driver-side from the bounded needle set) is
    * broadcast and every document is scanned ONCE for all needles
    * simultaneously, O(text + matches) whatever the needle count. The
    * third multi-pattern strategy next to the staged postings probe
    * (index amortized across probes) and the naive N-way LIKE (the
    * oracle): right when needle sets change per run or the corpus is
    * read-once. Same output contract as [[substringSearchMulti]], same
    * oracle — the strategies must agree row-for-row. */
  def substringSearchAC(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(new AhoCorasick(
      SearchNeedles.filter(_.nonEmpty).toArray))
    docs(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.flatMap { case (id, text) =>
          val first = ac.firstOccurrences(text)
          first.indices.iterator
            .filter(first(_) > 0)
            .map(i => (ac.needles(i), id, first(i)))
        }
      }
      .toDF("needle", "doc_id", "first_pos")
      .orderBy("needle", "doc_id")
  }

  /** CURRICULUM ORDERING — a GLOBAL ordinal over the corpus (sort by
    * difficulty, here length-ascending, ties by doc_id) WITHOUT the
    * global-sort bottleneck: `row_number() OVER (ORDER BY …)` funnels
    * 100 TB through one task. Two-phase instead (the ranking twin of
    * `e_concurrency`'s prefix sum): per-difficulty-value counts →
    * cumulative STARTING OFFSETS over that bounded O(distinct values)
    * table, broadcast back; within-value ranks partition BY VALUE, so
    * no task orders more than one value's docs. The emitted
    * (rank, doc_id) manifest is what a data loader streams in order; at
    * scale the write is `repartitionByRange(rank)` so files are
    * rank-contiguous. */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    val perLen = docs(s, d).groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
    val offsets = perLen
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("n_chars")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("n_chars"), col("offset"))
    docs(s, d)
      .join(broadcast(offsets), "n_chars")
      .withColumn("rank", col("offset") +
        row_number().over(Window.partitionBy(col("n_chars")).orderBy(col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_chars"))
      .orderBy("rank")
  }

  /** CONFUSION MATRIX of the language/topic scorer against gold labels —
    * the evaluation contingency table every classifier-gated pipeline
    * publishes with its gate: per (gold, predicted) doc counts and
    * row-normalized shares (one IEEE division of exact integers). One
    * map-side-combined groupBy to O(labels × classes) rows; the share
    * window runs over that bounded table. */
  def langidConfusion(s: SparkSession, d: String): DataFrame = {
    val counts = langId(s, d).groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("row_frac", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"))
      .orderBy("lang", "predicted")
  }

  /** `t_lm_surprisal` — the CCNet-shape LM QUALITY FILTER made
    * integer-exact: a unigram language model trained on the train split
    * (doc_id % 10 < 8) scores every document's eligible tokens by
    * surprisal, and docs whose mean surprisal exceeds the corpus mean
    * are flagged — the "perplexity filter" every web-scale pipeline
    * runs, with KenLM's n-gram LM reduced to the unigram that stays
    * oracle-exact. Surprisal is FLOOR-LOG2 in pure integers —
    * L(x) = len(bin(x)) − 1, the identical string-length trick in Spark
    * and DuckDB — so cost(w) = L(N) − L(cnt(w)) bits for in-vocab words
    * and L(N) + 1 for OOV (one bit beyond the rarest observable), and
    * the above-average flag is an exact integer cross-multiplication,
    * no division anywhere.
    *
    * Scale shape: one map-side-combined pass builds the O(vocab) LM,
    * one builds per-doc word counts; the doc⋈vocab equi-join shuffles
    * on the word key; the train total and corpus totals are 1-row
    * broadcasts. */
  def lmSurprisal(s: SparkSession, d: String): DataFrame = {
    def lg(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast("long")
    val words = docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= 12)
    val vocab = words.filter(col("doc_id") % 10 < 8)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("n_train")) // 1 row
    val perDoc = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .join(vocab, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("c"),
        (col("c") * when(col("cnt").isNull, lg(col("n_train")) + 1)
          .otherwise(lg(col("n_train")) - lg(col("cnt")))).as("surp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("surp")).as("surprisal"))
    val corpus = perDoc.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("surprisal")).as("tot_surp"))
    perDoc.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("n_tokens"), col("surprisal"),
        (col("surprisal") * col("tot_tokens") > col("tot_surp") * col("n_tokens"))
          .cast("int").as("above_avg"))
      .orderBy("doc_id")
  }

  /** `t_lm_bigram` — BACKOFF BIGRAM LM surprisal, the KenLM-shaped step
    * past [[lmSurprisal]]'s unigram (real perplexity filters condition
    * on context; a unigram can't tell "the the the" from prose): a
    * bigram LM trained on the train split scores each document's
    * adjacent word pairs at L(c₁(w₁)) − L(c₂(w₁,w₂)) bits (conditional
    * floor-log2 surprisal), BACKING OFF for unseen bigrams to
    * 1 + unigram cost (the stupid-backoff shape with an integer 1-bit
    * penalty), OOV words costing L(N) bits — the raw binary-string
    * lengths, since every −1 offset cancels inside each branch. The
    * above-corpus-mean flag is the usual cross-multiplication; no
    * division or float anywhere, so per-doc bits hash-check exactly.
    *
    * Scale shape: the TRAIN side — the explode of 80% of the corpus
    * into adjacent pairs plus its map-side-combined count — is a pure
    * function of the corpus, so it is STAGED build-once (the postings-
    * index pattern): [[ensureLmStaged]] writes the O(distinct bigrams)
    * count table and every probe re-derives the context/backoff/total
    * tables from it by aggregation over the COMPACT staged table
    * (c1(w₁) = Σ_{w₂} c2(w₁,w₂) exactly — counting pairs by w1 and
    * summing bigram counts by w1 are the same number), never touching
    * the corpus again. Per-doc pair counts equi-join the staged LM on
    * the bigram key — the corpus-sized shuffle the honest corpus-wide
    * dictionary requires ([[bigramNovelty]]'s argument); context/
    * backoff tables and the train total are broadcast-sized. */
  /** Train-split constant (doc_id % 10 < 8) and pair definition are
    * baked into the dir name per the stage-dir-constants discipline
    * (v2: the per-doc pair-count probe table rides along with the
    * train counts). */
  def lmStageDir(sfDir: String): String = graft.Staging.dir("lm_bigram_p8v2", sfDir)

  /** Adjacent-word pairs of every document — the probe-side explode
    * (shared by the staged train build, which filters it to the train
    * split before counting). */
  private def bigramPairs(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        explode(when(size(words) >= 2, transform(
            sequence(lit(0), size(words) - 2),
            i => struct(element_at(words, i + lit(1)).as("w1"),
              element_at(words, i + lit(2)).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Stages BOTH sides of the LM workload build-once per corpus
    * fingerprint: `/pairs` = the per-doc bigram pair COUNTS
    * (doc_id, w1, w2, c) — the probe-side table every scoring run used
    * to re-derive by re-exploding the whole corpus — and `/big` = the
    * train-split bigram counts, aggregated FROM the staged pairs
    * (Σ per-doc c over train docs ≡ counting train pairs directly), so
    * the corpus is exploded exactly once per fingerprint. Probes join
    * two compact parquet tables and never touch documents again. */
  private def ensureLmStaged(s: SparkSession, d: String): String = {
    val dir = lmStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      bigramPairs(s, d)
        .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(dir + "/pairs")
      Tables.parquet(s, dir + "/pairs").filter(col("doc_id") % 10 < 8)
        .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c2"))
        .write.mode("overwrite").parquet(dir + "/big")
    }: Unit
    dir
  }

  def lmBigram(s: SparkSession, d: String): DataFrame = {
    def lb(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    val staged = ensureLmStaged(s, d)
    val big = Tables.parquet(s, staged + "/big") // (w1, w2, c2) staged
    val ctx = big.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = ctx.select(col("w1").as("w2"), col("c1").as("u2"))
    val tot = ctx.agg(sum(col("c1")).as("n_train")) // 1 row
    Tables.parquet(s, staged + "/pairs") // (doc_id, w1, w2, c) staged
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("c"),
        (col("c") * when(col("c2").isNotNull, lb(col("c1")) - lb(col("c2")))
          .otherwise(lit(1L) + when(col("u2").isNotNull, lb(col("n_train")) - lb(col("u2")))
            .otherwise(lb(col("n_train")) - 1L))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("bits")).as("surprisal"))
      .transform { perDoc =>
        val corpus = perDoc.agg(sum(col("n_bigrams")).as("tot_bigrams"),
          sum(col("surprisal")).as("tot_surp")) // 1 row
        perDoc.crossJoin(broadcast(corpus))
          .select(col("doc_id"), col("n_bigrams"), col("surprisal"),
            (col("surprisal") * col("tot_bigrams") > col("tot_surp") * col("n_bigrams"))
              .cast("int").as("above_avg"))
          .orderBy("doc_id")
      }
  }

  private val MaskBlock = 20

  /** `t_span_mask` — SPAN CORRUPTION (the T5/UL2 denoising objective's
    * data transform): contiguous token spans are replaced by sentinels
    * to build (input, target) pairs, and this op emits the per-doc
    * accounting a span-corruption writer bills on — masked token count,
    * span count, and the exact input/target lengths
    * (`input = unmasked + sentinels`, `target = masked + sentinels`).
    * The usual implementation draws spans from an RNG; here span
    * placement is a DETERMINISTIC function of (doc, block): tokens
    * partition into fixed blocks of [[MaskBlock]], and each block masks
    * `[start, start+len)` with start = md5-hash % 17 and
    * len = 2 + md5-hash % 3 (≈15% noise density, mean span 3 — the T5
    * defaults), clipped at the block edge. Block-local spans have no
    * sequential dependency, so the whole selection is SQL-expressible
    * and `masked_md5` (the md5 of the position-ordered masked tokens)
    * pins the EXACT tokens chosen, not just their count.
    *
    * Scale shape: one narrow posexplode + per-doc aggregation; the only
    * collection is the per-doc masked-token list (bounded by a single
    * document's length, the CorpusClean.scala:71 documented class). */
  def spanMask(s: SparkSession, d: String): DataFrame = {
    def h(off: Int) = conv(substring(md5(
        concat(lit("m_"), col("doc_id").cast("string"), lit("_"),
          col("blk").cast("string")).cast("binary")), off, 8), 16, 10).cast("long")
    docs(s, d)
      .select(col("doc_id"), posexplode(words).as(Seq("pos", "t")))
      .withColumn("blk", expr(s"pos div $MaskBlock"))
      .withColumn("start", pmod(h(1), lit(17)))
      .withColumn("len", lit(2) + pmod(h(9), lit(3)))
      .withColumn("off", pmod(col("pos"), lit(MaskBlock)))
      .withColumn("masked",
        col("off") >= col("start") && col("off") < col("start") + col("len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        countDistinct(when(col("masked"), col("blk"))).as("n_spans"),
        // per-doc bounded collect: one document's masked tokens
        md5(array_join(transform(
          array_sort(collect_list(when(col("masked"),
            struct(col("pos"), col("t"))))),
          e => e.getField("t")), "|").cast("binary")).as("masked_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
        (col("n_tokens") - col("n_masked") + col("n_spans")).as("input_len"),
        (col("n_masked") + col("n_spans")).as("target_len"),
        col("masked_md5"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_lm_surprisal" -> (lmSurprisal _),
    "t_lm_bigram" -> (lmBigram _),
    "t_span_mask" -> (spanMask _),
    "t_langid_confusion" -> (langidConfusion _),
    "t_curriculum" -> (curriculum _),
    "t_substring_search" -> (substringSearch _),
    "t_substring_multi" -> (substringSearchMulti _),
    "t_substring_ac" -> (substringSearchAC _),
    "t_length_outliers" -> (lengthOutliers _),
    "t_bigram_novelty" -> (bigramNovelty _),
    "t_source_filter" -> (sourceFilter _),
    "t_quality_classifier" -> (qualityClassifier _),
    "t_calibration" -> (calibration _),
    "t_auc" -> (auc _),
    "t_quality_vote" -> (qualityVote _),
    "t_oov_rate" -> (oovRate _),
    "t_vocab_coverage" -> (vocabCoverage _),
    "t_ks_drift" -> (ksDrift _),
    "t_rep_signals" -> (repetitionSignals _),
    "t_gopher_rules" -> (gopherRules _),
    "t_decontaminate" -> (decontaminate _),
    "t_decontaminate_bloom" -> (decontaminateBloom _),
    "t_overlap_frac" -> (overlapFrac _),
    "t_chunking" -> (chunking _),
    "t_token_budget" -> (tokenBudget _),
    "t_pack_sequences" -> (packSequences _),
    "t_pack_chunks" -> (packChunks _),
    "t_pack_write" -> (packWrite _),
    "t_heavy_hitters" -> (heavyHitters _),
    "t_split_assign" -> (splitAssign _),
    "t_shuffle_shards" -> (shuffleShards _),
    "t_stratified_sample" -> (stratifiedSample _),
    "t_corpus_filter" -> (corpusFilter _),
    "t_token_stats" -> (tokenStats _),
    "t_bpe_tokens" -> (bpeTokens _),
    "t_langid" -> (langId _),
    "t_quality" -> (quality _),
    "t_dataset_card" -> (datasetCard _),
    "t_fingerprint" -> (fingerprint _),
    "t_winnow" -> (winnow _),
    "t_tfidf" -> (tfIdf _),
  )

  private val sqlWords = "string_split(text, ' ')"

  /** the per-doc langid scorer SELECT, shared by the per-doc oracle and
    * the confusion-matrix oracle (one formula, one mirror) */
  private lazy val langidSql: String =
    s"""SELECT doc_id, lang,
       |       CAST(len(list_filter($sqlWords, w -> w IN ('agg','group','window','sort'))) AS INT) AS score_analytics,
       |       CAST(len(list_filter($sqlWords, w -> w IN ('row','column','scan','batch'))) AS INT) AS score_storage,
       |       CAST(len(list_filter($sqlWords, w -> w IN ('spark','stream','hash','merge'))) AS INT) AS score_engine,
       |       CASE WHEN len(list_filter($sqlWords, w -> w IN ('agg','group','window','sort')))
       |              >= len(list_filter($sqlWords, w -> w IN ('row','column','scan','batch')))
       |             AND len(list_filter($sqlWords, w -> w IN ('agg','group','window','sort')))
       |              >= len(list_filter($sqlWords, w -> w IN ('spark','stream','hash','merge')))
       |            THEN 'analytics'
       |            WHEN len(list_filter($sqlWords, w -> w IN ('spark','stream','hash','merge')))
       |              >= len(list_filter($sqlWords, w -> w IN ('row','column','scan','batch')))
       |            THEN 'engine'
       |            ELSE 'storage' END AS predicted
       |FROM documents""".stripMargin

  private lazy val packChunksOracle: String =
    s"""WITH t AS (SELECT doc_id, md5(text) AS m,
       |                  ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % $PackShards AS shard,
       |                  len($sqlWords) AS tok FROM documents),
       |c AS (SELECT doc_id, shard, CAST(tok AS BIGINT) AS n_tokens,
       |             CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY m, doc_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM t),
       |spans AS (SELECT doc_id, shard, n_tokens, cum - n_tokens AS start_off,
       |                 CAST(floor((cum - n_tokens) / $PackCtx.0) AS BIGINT) AS cf,
       |                 CAST(floor((cum - 1) / $PackCtx.0) AS BIGINT) AS cl
       |          FROM c),
       |segs AS (SELECT shard, unnest(range(cf, cl + 1)) AS chunk_id,
       |                doc_id, start_off, n_tokens
       |         FROM spans),
       |cut AS (SELECT shard, chunk_id, doc_id,
       |               greatest(chunk_id * $PackCtx - start_off, 0) AS seg_start,
       |               least((chunk_id + 1) * $PackCtx - start_off, n_tokens)
       |                 - greatest(chunk_id * $PackCtx - start_off, 0) AS seg_len,
       |               start_off + greatest(chunk_id * $PackCtx - start_off, 0) AS gstart
       |        FROM segs)
       |SELECT shard, chunk_id,
       |       CAST(row_number() OVER (PARTITION BY shard, chunk_id ORDER BY gstart) AS INT) AS seg_pos,
       |       doc_id, seg_start, seg_len,
       |       CAST(SUM(seg_len) OVER (PARTITION BY shard, chunk_id) AS BIGINT) AS chunk_tokens
       |FROM cut ORDER BY shard, chunk_id, seg_pos""".stripMargin

  val oracle: Map[String, String] = Map(
    // block-local span selection rebuilt hash-for-hash: same md5 block
    // hashes, same start/len arithmetic, same position-ordered masked
    // token digest — a different span choice anywhere flips masked_md5
    "t_span_mask" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tk AS (SELECT doc_id, i - 1 AS pos, ws[i] AS t
         |       FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         |hs AS (SELECT doc_id, pos, t, pos // $MaskBlock AS blk,
         |         ${graft.QueryDsl.sqlHex8("md5('m_' || doc_id || '_' || (pos // " + MaskBlock + "))", 1)} % 17 AS st,
         |         2 + ${graft.QueryDsl.sqlHex8("md5('m_' || doc_id || '_' || (pos // " + MaskBlock + "))", 9)} % 3 AS ln,
         |         pos % $MaskBlock AS off
         |       FROM tk),
         |fl AS (SELECT doc_id, pos, t, blk,
         |         (off >= st AND off < st + ln) AS masked
         |       FROM hs)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |       CAST(COUNT(DISTINCT CASE WHEN masked THEN blk END) AS BIGINT) AS n_spans,
         |       CAST(COUNT(*) - SUM(CASE WHEN masked THEN 1 ELSE 0 END)
         |            + COUNT(DISTINCT CASE WHEN masked THEN blk END) AS BIGINT) AS input_len,
         |       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END)
         |            + COUNT(DISTINCT CASE WHEN masked THEN blk END) AS BIGINT) AS target_len,
         |       md5(COALESCE(array_to_string(
         |             list(t ORDER BY pos) FILTER (WHERE masked), '|'), ''))
         |         AS masked_md5
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram LM + stupid backoff rebuilt verbatim: train pair/context
    // counts, conditional floor-log2 bits via raw binary-string lengths
    // (the −1 offsets cancel inside each branch), the 1-bit backoff
    // penalty, OOV = L(N), above-average by cross-multiplication
    "t_lm_bigram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |       FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
        |tr AS (SELECT * FROM bg WHERE doc_id % 10 < 8),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM tr GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_train FROM ctx),
        |db AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM bg GROUP BY 1, 2, 3),
        |sc AS (SELECT db.doc_id, db.c,
        |         db.c * (CASE WHEN big.c2 IS NOT NULL
        |                      THEN CAST(length(bin(ctx.c1)) AS BIGINT)
        |                           - CAST(length(bin(big.c2)) AS BIGINT)
        |                      WHEN u2.c1 IS NOT NULL
        |                      THEN 1 + CAST(length(bin(t.n_train)) AS BIGINT)
        |                           - CAST(length(bin(u2.c1)) AS BIGINT)
        |                      ELSE 1 + CAST(length(bin(t.n_train)) AS BIGINT) - 1
        |                 END) AS bits
        |       FROM db
        |       LEFT JOIN big ON db.w1 = big.w1 AND db.w2 = big.w2
        |       LEFT JOIN ctx ON db.w1 = ctx.w1
        |       LEFT JOIN ctx u2 ON db.w2 = u2.w1, tot t),
        |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |              CAST(SUM(bits) AS BIGINT) AS surprisal
        |       FROM sc GROUP BY 1),
        |cp AS (SELECT CAST(SUM(n_bigrams) AS BIGINT) AS tb,
        |              CAST(SUM(surprisal) AS BIGINT) AS ts FROM pd)
        |SELECT doc_id, n_bigrams, surprisal,
        |       CAST(CASE WHEN surprisal * cp.tb > cp.ts * n_bigrams
        |                 THEN 1 ELSE 0 END AS INT) AS above_avg
        |FROM pd, cp ORDER BY doc_id""".stripMargin,
    // the unigram LM rebuilt verbatim: train-split counts, floor-log2
    // via binary-string length (the same integer trick Spark's bin()
    // provides), OOV = L(N)+1, above-average by cross-multiplication
    "t_lm_surprisal" ->
      """WITH fw AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= 12),
        |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM fw WHERE doc_id % 10 < 8 GROUP BY w),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_train FROM vocab),
        |dw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM fw GROUP BY 1, 2),
        |sc AS (SELECT dw.doc_id, dw.c,
        |         dw.c * (CASE WHEN v.cnt IS NULL
        |                      THEN CAST(length(bin(t.n_train)) AS BIGINT)
        |                      ELSE CAST(length(bin(t.n_train)) AS BIGINT)
        |                           - CAST(length(bin(v.cnt)) AS BIGINT) END) AS surp
        |       FROM dw LEFT JOIN vocab v USING (w), tot t),
        |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |              CAST(SUM(surp) AS BIGINT) AS surprisal
        |       FROM sc GROUP BY 1),
        |cp AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
        |              CAST(SUM(surprisal) AS BIGINT) AS ts FROM pd)
        |SELECT doc_id, n_tokens, surprisal,
        |       CAST(CASE WHEN surprisal * cp.tt > cp.ts * n_tokens
        |                 THEN 1 ELSE 0 END AS INT) AS above_avg
        |FROM pd, cp ORDER BY doc_id""".stripMargin,
    // the naive global window the two-phase ranking must reproduce
    "t_curriculum" ->
      """SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
        |       doc_id, n_chars
        |FROM documents
        |ORDER BY rank""".stripMargin,
    // the full scan the index path must reproduce exactly
    "t_substring_search" ->
      s"""SELECT doc_id, CAST(strpos(text, '$SearchNeedle') AS INT) AS first_pos
         |FROM documents
         |WHERE text LIKE '%$SearchNeedle%'
         |ORDER BY doc_id""".stripMargin,
    // the N-way LIKE cross-scan the one-probe index path must reproduce
    "t_substring_multi" ->
      s"""WITH needles(needle) AS (VALUES ${SearchNeedles.map(n => s"('$n')").mkString(", ")})
         |SELECT n.needle, d.doc_id, CAST(strpos(d.text, n.needle) AS INT) AS first_pos
         |FROM documents d CROSS JOIN needles n
         |WHERE strpos(d.text, n.needle) > 0
         |ORDER BY needle, doc_id""".stripMargin,
    // identical oracle: automaton and index are strategies, not answers
    "t_substring_ac" ->
      s"""WITH needles(needle) AS (VALUES ${SearchNeedles.map(n => s"('$n')").mkString(", ")})
         |SELECT n.needle, d.doc_id, CAST(strpos(d.text, n.needle) AS INT) AS first_pos
         |FROM documents d CROSS JOIN needles n
         |WHERE strpos(d.text, n.needle) > 0
         |ORDER BY needle, doc_id""".stripMargin,
    "t_length_outliers" ->
      """WITH q AS (SELECT source,
        |             quantile_cont(n_chars, 0.25) AS q1,
        |             quantile_cont(n_chars, 0.75) AS q3
        |           FROM documents GROUP BY source),
        |f AS (SELECT source, q1 - (q3 - q1) * 0.5 AS lo,
        |             q3 + (q3 - q1) * 0.5 AS hi FROM q)
        |SELECT doc_id, source, n_chars, lo, hi,
        |       CAST(n_chars > hi AS INT) AS is_high
        |FROM documents JOIN f USING (source)
        |WHERE n_chars < lo OR n_chars > hi
        |ORDER BY doc_id""".stripMargin,
    "t_bigram_novelty" ->
      s"""WITH bg AS (
         |  SELECT doc_id,
         |         CASE WHEN len($sqlWords) >= 2
         |              THEN list_distinct(list_transform(range(0, len($sqlWords) - 1),
         |                     i -> array_to_string(($sqlWords)[i+1:i+2], ' ')))
         |              ELSE [] END AS bgs
         |  FROM documents),
         |train AS (SELECT DISTINCT unnest(bgs) AS bgr FROM bg WHERE doc_id % 10 < 8),
         |v AS (SELECT doc_id, bgs, len(bgs) AS n_bigrams FROM bg WHERE doc_id % 10 = 8),
         |ex AS (SELECT doc_id, unnest(bgs) AS bgr FROM v),
         |nov AS (SELECT doc_id, COUNT(*) AS n_novel
         |        FROM ex WHERE bgr NOT IN (SELECT bgr FROM train) GROUP BY doc_id)
         |SELECT v.doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
         |       COALESCE(n_novel, 0) AS n_novel,
         |       CAST(COALESCE(n_novel, 0) AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS novelty
         |FROM v LEFT JOIN nov USING (doc_id)
         |WHERE n_bigrams > 0 ORDER BY v.doc_id""".stripMargin,
    "t_source_filter" ->
      (Dedup.sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |dupdocs AS (SELECT DISTINCT b AS doc_id FROM nd),
           |qs AS (
           |  SELECT doc_id, source,
           |         0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
           |           + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE))
           |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS q,
           |         CASE WHEN doc_id IN (SELECT doc_id FROM dupdocs) THEN 1 ELSE 0 END AS nd_flag
           |  FROM documents),
           |agg AS (
           |  SELECT source, COUNT(*) AS n_docs,
           |         ${graft.QueryDsl.sqlDavg4("q")} AS mean_quality,
           |         CAST(SUM(nd_flag) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
           |  FROM qs GROUP BY source)
           |SELECT source, n_docs, mean_quality, dup_rate,
           |       CAST(mean_quality >= 0.70 AND dup_rate <= 0.08 AS INT) AS keep
           |FROM agg ORDER BY source""".stripMargin),
    "t_quality_classifier" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
         |w AS (SELECT doc_id,
         |             ${graft.QueryDsl.sqlHex8("md5('w_' || word)", 1)} - 2147483648 AS w
         |      FROM tok)
         |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS logit, COUNT(*) AS n_tokens,
         |       CAST(CAST(SUM(w) AS BIGINT) >= 0 AS INT) AS keep
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same logits, same qScore formula, same integer bin arithmetic —
    // the bin rate is one double division of exact integers
    "t_calibration" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
         |w AS (SELECT doc_id,
         |             ${graft.QueryDsl.sqlHex8("md5('w_' || word)", 1)} - 2147483648 AS w
         |      FROM tok),
         |cls AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS logit FROM w GROUP BY doc_id),
         |g AS (SELECT doc_id,
         |        CASE WHEN 0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |               + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE))
         |               + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) >= 0.5
         |             THEN 1 ELSE 0 END AS pos
         |      FROM documents),
         |j AS (SELECT cls.logit, g.pos FROM cls JOIN g USING (doc_id)),
         |b AS (SELECT MIN(logit) AS lo, MAX(logit) - MIN(logit) + 1 AS span FROM j)
         |SELECT CAST((j.logit - b.lo) * $CalBins // b.span AS BIGINT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(j.pos) AS BIGINT) AS n_pos,
         |       CAST(SUM(j.pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
         |FROM j, b GROUP BY 1 ORDER BY bucket""".stripMargin,
    // train vocab, val-side left join, milli rate, corpus flag
    "t_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE w <> ''),
         |vocab AS (SELECT DISTINCT w FROM tk WHERE doc_id % 10 < 8),
         |pd AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |              CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |       FROM tk LEFT JOIN vocab v ON tk.w = v.w
         |       WHERE tk.doc_id % 10 >= 8 GROUP BY tk.doc_id),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tn,
         |               CAST(SUM(n_oov) AS BIGINT) AS toov FROM pd)
         |SELECT doc_id, n_tokens, n_oov,
         |       CAST(n_oov * 1000 // n_tokens AS BIGINT) AS oov_milli,
         |       CAST(CASE WHEN n_oov * tot.tn > tot.toov * n_tokens
         |                 THEN 1 ELSE 0 END AS INT) AS above_corpus_rate
         |FROM pd, tot ORDER BY doc_id""".stripMargin,
    // all three signal pipelines rebuilt (classifier mean by
    // cross-multiplication, the rule gate, the floor-log2 LM) and the
    // 2-of-3 majority — a flipped vote anywhere hash-fails
    "t_quality_vote" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
         |w AS (SELECT doc_id,
         |             ${graft.QueryDsl.sqlHex8("md5('w_' || word)", 1)} - 2147483648 AS w
         |      FROM tok),
         |cls AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS logit FROM w GROUP BY doc_id),
         |ct AS (SELECT CAST(SUM(logit) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM cls),
         |v1 AS (SELECT doc_id,
         |         CAST(CASE WHEN cls.logit * ct.n > ct.tot THEN 1 ELSE 0 END AS INT)
         |           AS v_classifier
         |       FROM cls, ct),
         |v2 AS (SELECT doc_id,
         |        CAST(CASE WHEN 0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |               + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE))
         |               + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) >= 0.5
         |             THEN 1 ELSE 0 END AS INT) AS v_rules
         |      FROM documents),
         |fw AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= 12),
         |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
         |          FROM fw WHERE doc_id % 10 < 8 GROUP BY w),
         |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_train FROM vocab),
         |dw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM fw GROUP BY 1, 2),
         |sc AS (SELECT dw.doc_id, dw.c,
         |         dw.c * (CASE WHEN v.cnt IS NULL
         |                      THEN CAST(length(bin(t.n_train)) AS BIGINT)
         |                      ELSE CAST(length(bin(t.n_train)) AS BIGINT)
         |                           - CAST(length(bin(v.cnt)) AS BIGINT) END) AS surp
         |       FROM dw LEFT JOIN vocab v USING (w), tt t),
         |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              CAST(SUM(surp) AS BIGINT) AS surprisal
         |       FROM sc GROUP BY 1),
         |cp AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt2,
         |              CAST(SUM(surprisal) AS BIGINT) AS ts FROM pd),
         |v3 AS (SELECT doc_id,
         |         CAST(CASE WHEN surprisal * cp.tt2 > cp.ts * n_tokens
         |                   THEN 0 ELSE 1 END AS INT) AS v_surprisal
         |       FROM pd, cp)
         |SELECT v1.doc_id, v1.v_classifier, v2.v_rules, v3.v_surprisal,
         |       CAST(v1.v_classifier + v2.v_rules + v3.v_surprisal AS INT) AS n_votes,
         |       CAST(CASE WHEN v1.v_classifier + v2.v_rules + v3.v_surprisal >= 2
         |                 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM v1 JOIN v2 USING (doc_id) JOIN v3 USING (doc_id)
         |ORDER BY v1.doc_id""".stripMargin,
    // the same classifier + gate CTEs as t_calibration, reduced over the
    // distinct-logit value table with doubled midranks — every quantity
    // an exact integer until the single final division
    "t_auc" ->
      s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS word FROM documents),
         |w AS (SELECT doc_id,
         |             ${graft.QueryDsl.sqlHex8("md5('w_' || word)", 1)} - 2147483648 AS w
         |      FROM tok),
         |cls AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS logit FROM w GROUP BY doc_id),
         |g AS (SELECT doc_id,
         |        CASE WHEN 0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |               + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE))
         |               + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) >= 0.5
         |             THEN 1 ELSE 0 END AS pos
         |      FROM documents),
         |j AS (SELECT cls.logit, g.pos FROM cls JOIN g USING (doc_id)),
         |pv AS (SELECT logit, CAST(COUNT(*) AS BIGINT) AS cnt,
         |              CAST(SUM(pos) AS BIGINT) AS cnt_pos
         |       FROM j GROUP BY logit),
         |r AS (SELECT cnt_pos,
         |        cnt_pos * (2 * (CAST(SUM(cnt) OVER (ORDER BY logit
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt) + cnt + 1) AS dr_pos
         |      FROM pv),
         |sdr AS (SELECT CAST(SUM(dr_pos) AS BIGINT) AS sum_dr FROM r),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS np
         |        FROM j)
         |SELECT tot.np AS n_pos, tot.n - tot.np AS n_neg, sdr.sum_dr,
         |       CAST(sdr.sum_dr - tot.np * (tot.np + 1) AS DOUBLE)
         |         / (2.0 * CAST(tot.np AS DOUBLE) * CAST(tot.n - tot.np AS DOUBLE)) AS auc
         |FROM tot, sdr""".stripMargin,
    "t_vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest($sqlWords) AS word FROM documents),
         |c AS (SELECT word, COUNT(*) AS n FROM tok GROUP BY word),
         |t AS (SELECT word, n,
         |             SUM(n) OVER () AS total,
         |             SUM(n) OVER (ORDER BY n DESC, word ASC ROWS UNBOUNDED PRECEDING) AS cum,
         |             row_number() OVER (ORDER BY n DESC, word ASC) AS rank
         |      FROM c)
         |SELECT CAST(rank AS INT) AS rank, word, n, CAST(cum AS BIGINT) AS cum
         |FROM t WHERE (cum - n) * 10 < total * 9
         |ORDER BY rank""".stripMargin,
    "t_ks_drift" ->
      s"""WITH sp AS (SELECT doc_id,
         |                   ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 100 AS bucket
         |            FROM documents),
         |s2 AS (SELECT doc_id, CASE WHEN bucket < 98 THEN 'train'
         |                           WHEN bucket = 98 THEN 'val'
         |                           ELSE 'test' END AS split FROM sp),
         |l AS (SELECT d.doc_id, len($sqlWords) AS len, s2.split
         |      FROM documents d JOIN s2 USING (doc_id)
         |      WHERE s2.split IN ('train', 'val')),
         |bl AS (SELECT len,
         |              SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
         |              SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val
         |       FROM l GROUP BY len),
         |e AS (SELECT len,
         |             SUM(n_train) OVER (ORDER BY len ROWS UNBOUNDED PRECEDING) AS c_train,
         |             SUM(n_val) OVER (ORDER BY len ROWS UNBOUNDED PRECEDING) AS c_val,
         |             SUM(n_train) OVER () AS t_train,
         |             SUM(n_val) OVER () AS t_val
         |      FROM bl),
         |g AS (SELECT len,
         |             abs(CAST(c_train AS DOUBLE) / CAST(t_train AS DOUBLE)
         |                 - CAST(c_val AS DOUBLE) / CAST(t_val AS DOUBLE)) AS gap
         |      FROM e)
         |SELECT gap AS ks_d, CAST(len AS INT) AS at_len
         |FROM g ORDER BY gap DESC, len ASC LIMIT 1""".stripMargin,
    "t_rep_signals" ->
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |tw AS (SELECT doc_id, MAX(n) AS top_word_n FROM (
         |         SELECT doc_id, word, COUNT(*) AS n
         |         FROM (SELECT doc_id, unnest($sqlWords) AS word FROM documents)
         |         GROUP BY doc_id, word) GROUP BY doc_id)
         |SELECT ws.doc_id,
         |       CAST(len(w) AS INT) AS n_tokens,
         |       1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
         |       CAST(top_word_n AS INT) AS top_word_n,
         |       CAST(top_word_n AS DOUBLE) / CAST(len(w) AS DOUBLE) AS top_word_frac,
         |       CASE WHEN len(w) >= 2
         |            THEN 1.0 - CAST(len(list_distinct(list_transform(range(0, len(w)-1),
         |                   i -> array_to_string(w[i+1:i+2],' ')))) AS DOUBLE) / CAST(len(w)-1 AS DOUBLE)
         |            ELSE 0.0 END AS dup_2gram_frac
         |FROM ws JOIN tw ON tw.doc_id = ws.doc_id
         |ORDER BY ws.doc_id""".stripMargin,
    "t_gopher_rules" ->
      s"""WITH ws AS (SELECT doc_id, text, $sqlWords AS w FROM documents),
         |tw AS (SELECT doc_id, MAX(n) AS topc FROM (
         |         SELECT doc_id, word, COUNT(*) AS n
         |         FROM (SELECT doc_id, unnest($sqlWords) AS word FROM documents)
         |         GROUP BY doc_id, word) GROUP BY doc_id),
         |m AS (SELECT ws.doc_id, len(w) AS nw,
         |        length(replace(text, ' ', '')) AS chars,
         |        len(list_filter(w, x -> x IN ('a','the'))) AS n_stop,
         |        len(list_distinct(w)) AS nd, topc
         |      FROM ws JOIN tw ON tw.doc_id = ws.doc_id)
         |SELECT doc_id, CAST(nw AS INT) AS n_words,
         |       CAST(chars AS DOUBLE) / CAST(nw AS DOUBLE) AS mean_word_len,
         |       CAST(nw - nd AS DOUBLE) / CAST(nw AS DOUBLE) AS dup_frac,
         |       CAST(topc AS DOUBLE) / CAST(nw AS DOUBLE) AS top_share,
         |       CAST(nw >= $RuleMinWords AND nw <= $RuleMaxWords AS INT) AS r_len,
         |       CAST(chars >= nw * 4 AND chars <= nw * 10 AS INT) AS r_word_len,
         |       CAST(n_stop >= 2 AS INT) AS r_stop,
         |       CAST((nw - nd) * 2 <= nw AS INT) AS r_dup,
         |       CAST(topc * 5 <= nw AS INT) AS r_top,
         |       CAST(nw >= $RuleMinWords AND nw <= $RuleMaxWords
         |            AND chars >= nw * 4 AND chars <= nw * 10
         |            AND n_stop >= 2 AND (nw - nd) * 2 <= nw
         |            AND topc * 5 <= nw AS INT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "t_decontaminate" ->
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w, md5(text) AS m FROM documents),
         |g AS (SELECT doc_id, ${graft.QueryDsl.sqlHex8("m", 1)} % 100 AS bucket,
         |        unnest(list_distinct(list_transform(range(0, len(w)-4),
         |          i -> md5(array_to_string(w[i+1:i+5],' '))))) AS g5
         |      FROM ws WHERE len(w) >= 5),
         |ev AS (SELECT DISTINCT g5 FROM g WHERE bucket >= 98)
         |SELECT doc_id, COUNT(*) AS n_shared FROM g JOIN ev USING (g5)
         |WHERE bucket < 98 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_overlap_frac" ->
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w, md5(text) AS m FROM documents),
         |g AS (SELECT doc_id, ${graft.QueryDsl.sqlHex8("m", 1)} % 100 AS bucket,
         |        unnest(list_distinct(list_transform(range(0, len(w)-4),
         |          i -> md5(array_to_string(w[i+1:i+5],' '))))) AS g5
         |      FROM ws WHERE len(w) >= 5),
         |ev AS (SELECT DISTINCT g5 FROM g WHERE bucket >= 98),
         |j AS (SELECT g.doc_id, CASE WHEN ev.g5 IS NULL THEN 0 ELSE 1 END AS hit
         |      FROM g LEFT JOIN ev USING (g5) WHERE g.bucket < 98)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |       CAST(SUM(hit) AS BIGINT) AS n_shared,
         |       CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS overlap_frac
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_chunking" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS w FROM documents),
         |st AS (SELECT doc_id, w,
         |         unnest(generate_series(0, GREATEST(len(w) - 1, 0), $ChunkStep)) AS st
         |       FROM t)
         |SELECT doc_id, CAST(st // $ChunkStep AS BIGINT) AS chunk_id,
         |       CAST(st AS BIGINT) AS start_tok,
         |       CAST(len(w[st+1:st+$ChunkSize]) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(w[st+1:st+$ChunkSize], ' ')) AS chunk_md5
         |FROM st WHERE st = 0 OR st + $ChunkOverlap < len(w)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "t_token_budget" ->
      s"""WITH q AS (SELECT doc_id, source,
         |             CAST(len($sqlWords) AS BIGINT) AS n_tokens,
         |             0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |               + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE))
         |               + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                              / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS quality_score
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(SUM(n_tokens) OVER (PARTITION BY source
         |             ORDER BY quality_score DESC, doc_id ASC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $TokenBudget ORDER BY source, doc_id""".stripMargin,
    // the bloom path must be output-identical to the broadcast path —
    // false positives die in the exact confirm — so the SAME oracle
    // proves both (mirrors the d_dup_clusters/_star twin-oracle pattern)
    "t_decontaminate_bloom" ->
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w, md5(text) AS m FROM documents),
         |g AS (SELECT doc_id, ${graft.QueryDsl.sqlHex8("m", 1)} % 100 AS bucket,
         |        unnest(list_distinct(list_transform(range(0, len(w)-4),
         |          i -> md5(array_to_string(w[i+1:i+5],' '))))) AS g5
         |      FROM ws WHERE len(w) >= 5),
         |ev AS (SELECT DISTINCT g5 FROM g WHERE bucket >= 98)
         |SELECT doc_id, COUNT(*) AS n_shared FROM g JOIN ev USING (g5)
         |WHERE bucket < 98 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, md5(text) AS m,
         |                  ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % $PackShards AS shard,
         |                  len($sqlWords) AS tok FROM documents),
         |c AS (SELECT doc_id, shard, CAST(tok AS INT) AS n_tokens,
         |             CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY m, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM t)
         |SELECT doc_id, shard, n_tokens,
         |       cum - n_tokens AS start_off,
         |       CAST(floor((cum - n_tokens) / $PackCtx.0) AS BIGINT) AS chunk_first,
         |       CAST(floor((cum - 1) / $PackCtx.0) AS BIGINT) AS chunk_last,
         |       CAST(floor((cum - 1) / $PackCtx.0) > floor((cum - n_tokens) / $PackCtx.0) AS INT) AS straddles
         |FROM c ORDER BY doc_id""".stripMargin,
    "t_pack_chunks" -> packChunksOracle,
    // the parquet round trip must change nothing — same oracle
    "t_pack_write" -> packChunksOracle,
    "t_heavy_hitters" ->
      """WITH c AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |counted AS (SELECT lang, word, COUNT(*) AS n FROM c GROUP BY lang, word),
        |ranked AS (
        |  SELECT lang, word, n,
        |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, word ASC) AS rn
        |  FROM counted)
        |SELECT lang, word, n FROM ranked WHERE rn <= 5
        |ORDER BY lang, n DESC, word""".stripMargin,
    "t_stratified_sample" ->
      s"""SELECT doc_id, lang, bucket, rate FROM (
         |  SELECT doc_id, lang,
         |         ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 100 AS bucket,
         |         CASE WHEN lang = 'analytics' THEN 50
         |              WHEN lang = 'storage' THEN 20
         |              ELSE 10 END AS rate
         |  FROM documents)
         |WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin,
    // the epoch shuffle rebuilt: salted md5 key, mod-shard, key-ordered
    // position, positional checksum — the order pin in SQL form
    "t_shuffle_shards" ->
      s"""WITH k AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         ${graft.QueryDsl.sqlHex8("md5('epoch1_' || CAST(doc_id AS VARCHAR))", 1)} AS key
         |  FROM documents),
         |p AS (
         |  SELECT CAST(key % 16 AS INT) AS shard, doc_id, n_tokens,
         |         row_number() OVER (PARTITION BY key % 16
         |           ORDER BY key ASC, doc_id ASC) AS pos
         |  FROM k)
         |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM((pos * (doc_id + 1)) % 2147483647) AS BIGINT) AS order_checksum
         |FROM p GROUP BY shard
         |ORDER BY shard""".stripMargin,
    "t_split_assign" ->
      s"""SELECT doc_id, bucket,
         |       CASE WHEN bucket < 98 THEN 'train'
         |            WHEN bucket = 98 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 100 AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "t_corpus_filter" ->
      (Dedup.sigCte +
        s"""
           |, dups AS (
           |  SELECT DISTINCT c.b AS doc_id
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |q AS (
           |  SELECT doc_id,
           |         0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
           |           + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE))
           |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS quality_score
           |  FROM documents)
           |SELECT doc_id, quality_score FROM q
           |WHERE quality_score >= 0.6 AND doc_id NOT IN (SELECT doc_id FROM dups)
           |ORDER BY doc_id""".stripMargin),
    "t_token_stats" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS INT) AS n_chars,
         |       CAST(len($sqlWords) AS INT) AS n_tokens,
         |       CAST(len(list_distinct($sqlWords)) AS INT) AS n_distinct,
         |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha_runs,
         |       CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len($sqlWords) AS DOUBLE) AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t_bpe_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len($sqlWords) AS BIGINT) AS n_tokens,
         |       CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_pieces,
         |       CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS DOUBLE)
         |         / CAST(len($sqlWords) AS DOUBLE) AS pieces_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t_langid" -> (langidSql + "\nORDER BY doc_id"),
    // gold-label × prediction contingency over the same scorer CTE
    "t_langid_confusion" ->
      s"""WITH p AS ($langidSql)
         |SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(COUNT(*) AS DOUBLE)
         |         / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS DOUBLE) AS row_frac
         |FROM p GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin,
    // every card column rebuilt from the same per-doc formulas the
    // underlying operators' oracles use: the datasheet cannot drift
    // from the signals it summarizes
    "t_dataset_card" ->
      s"""WITH pd AS (
         |  SELECT source, lang, md5(text) AS h,
         |         CAST(len($sqlWords) AS BIGINT) AS ntok,
         |         CAST(len(list_filter($sqlWords, w -> w IN ('agg','group','window','sort'))) AS INT) AS sa,
         |         CAST(len(list_filter($sqlWords, w -> w IN ('row','column','scan','batch'))) AS INT) AS ss,
         |         CAST(len(list_filter($sqlWords, w -> w IN ('spark','stream','hash','merge'))) AS INT) AS se,
         |         0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |           + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                          / CAST(len($sqlWords) AS DOUBLE))
         |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                          / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS q
         |  FROM documents),
         |p2 AS (
         |  SELECT source, lang, h, ntok, q,
         |         CASE WHEN sa >= ss AND sa >= se THEN 'analytics'
         |              WHEN se >= ss THEN 'engine' ELSE 'storage' END AS predicted
         |  FROM pd),
         |dups AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_dup FROM (
         |    SELECT source, h, COUNT(*) AS c FROM p2 GROUP BY source, h) t
         |  WHERE c > 1 GROUP BY source),
         |agg AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(ntok) AS BIGINT) AS total_tokens,
         |         ${graft.QueryDsl.sqlDavg4("q")} AS avg_quality,
         |         CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_match
         |  FROM p2 GROUP BY source)
         |SELECT a.source, a.n_docs, a.total_tokens,
         |       COALESCE(d.n_dup, 0) AS n_dup_docs, a.avg_quality, a.n_lang_match
         |FROM agg a LEFT JOIN dups d USING (source)
         |ORDER BY a.source""".stripMargin,
    "t_quality" ->
      s"""SELECT doc_id,
         |       CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |         / CAST(len($sqlWords) AS DOUBLE) AS stop_ratio,
         |       CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len($sqlWords) AS DOUBLE) AS avg_token_len,
         |       least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0) AS len_score,
         |       0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |         + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
         |                        / CAST(len($sqlWords) AS DOUBLE))
         |         + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                        / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS doc_md5,
         |       CASE WHEN len($sqlWords) >= 4
         |            THEN list_min(list_transform(range(0, len($sqlWords) - 3),
         |                   i -> md5(array_to_string(($sqlWords)[i+1:i+4], ' '))))
         |            ELSE md5(text) END AS shingle_min_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t_winnow" ->
      s"""WITH hs AS (
         |  SELECT doc_id,
         |         list_transform(range(0, len($sqlWords) - 3),
         |           i -> md5(array_to_string(($sqlWords)[i+1:i+4], ' '))) AS hs
         |  FROM documents WHERE len($sqlWords) >= 4)
         |SELECT DISTINCT doc_id,
         |       unnest(list_distinct(list_transform(
         |         range(0, greatest(len(hs) - ${WinnowW - 1}, 1)),
         |         j -> list_min(hs[CAST(j+1 AS INT):CAST(j+$WinnowW AS INT)])))) AS fp_md5
         |FROM hs
         |ORDER BY doc_id, fp_md5""".stripMargin,
    "t_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tfc AS (SELECT doc_id, word, COUNT(*) AS tf FROM tf GROUP BY doc_id, word),
        |dfc AS (SELECT word, COUNT(*) AS df FROM tfc GROUP BY word),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, word, tf, df,
        |       CAST(tf AS DOUBLE) *
        |         ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
        |FROM tfc JOIN dfc USING (word) CROSS JOIN n
        |ORDER BY doc_id, word""".stripMargin,
  )
}
