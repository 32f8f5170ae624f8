package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE MERGE TRAINING — the tokenizer-side training step a corpus
  * pipeline runs before any token budget means anything (reference
  * behavior: the extractor consumes text fields verbatim; a training
  * pipeline must first LEARN the subword vocabulary from them).
  *
  * The real BPE loop, determinized the k-means way (fixed-point + fixed
  * iterations + unrolled-CTE oracle):
  *   1. one corpus pass builds the word-frequency table (lowercase-ASCII
  *      words ≤ 12 chars — the standard pre-tokenized BPE input);
  *   2. each word becomes a space-delimited symbol string (" h e l l o ");
  *   3. per merge step: count ADJACENT SYMBOL PAIRS weighted by word
  *      frequency (explode over the O(vocab) table, map-side combined),
  *      pick the argmax pair with (count DESC, left ASC, right ASC)
  *      tie-break, then rewrite every word by merging that pair.
  *
  * Merge REWRITE semantics are pinned to something both engines share
  * bit-for-bit: two successive non-overlapping left-to-right literal
  * replaces of " l r " with " lr ". One pass misses every second
  * occurrence of a self-chaining pair (the shared middle delimiter is
  * consumed), two passes merge the alternating leftovers — equal to
  * greedy BPE on every real word, and DETERMINISTIC by construction
  * either way, which is what the oracle contract needs.
  *
  * Scale shape: the corpus is touched ONCE (the word count); each of the
  * [[BpeMerges]] iterations runs over the O(distinct-words) table with
  * one bounded argmax collect (the codebook-sync pattern shared with the
  * trained IVF quantizer). This is exactly how production BPE trainers
  * structure the work — iterate over word counts, never over raw text. */
object BpeTrain {

  private val BpeMerges = 4
  private val MaxWordLen = 12

  /** The word-frequency table: one corpus pass, cached for the loop. */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** " h e l l o " — every symbol has a delimiter on BOTH sides, so a
    * literal " l r " match is an exact adjacent-pair test. */
  private def symbolize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(regexp_replace(c, "(.)", " $1"), lit(" "))

  /** The literal (not regex) two-pass replace — StringReplace is the same
    * non-overlapping left-to-right scan DuckDB's replace() does. Shared by
    * the train loop and the apply tokenizer so both use bit-identical
    * merge semantics. */
  private def mergePass(s: org.apache.spark.sql.Column, l: String, r: String) = {
    val pat = lit(s" $l $r ")
    val rep = lit(s" $l$r ")
    call_function("replace", call_function("replace", s, pat, rep), pat, rep)
  }

  /** The training loop itself: BpeMerges rounds of (adjacent-pair count
    * over the O(vocab) word table, bounded argmax collect, two-pass
    * rewrite). Returns the learned merge table. Runs over an explicit
    * word-count table so the staged build trains from the staged counts. */
  private def trainedMergesOver(wc: DataFrame): Vector[(Int, String, String, Long)] = {
    val base = wc
      .select(col("cnt"), symbolize(col("w")).as("s"))
      .persist()
    try {
      var words = base
      val merges = Vector.newBuilder[(Int, String, String, Long)]
      var step = 1
      while (step <= BpeMerges) {
        val parts = split(trim(col("s")), " ")
        val top = words
          .filter(size(parts) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(0, size(split(trim(s), ' ')) - 2)," +
              " i -> struct(split(trim(s), ' ')[i] AS l, split(trim(s), ' ')[i+1] AS r))"))
            .as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("l").asc, col("r").asc)
          .limit(1)
          .collect() // exactly one row — the argmax sync, never data
        require(top.nonEmpty,
          s"no adjacent symbol pairs to merge at step $step — degenerate corpus")
        val row = top.head
        val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((step, l, r, n))
        words = words.withColumn("s", mergePass(col("s"), l, r))
        step += 1
      }
      merges.result()
    } finally { base.unpersist(); () }
  }

  // ---- BUILD-ONCE TOKENIZER STAGE: everything the five tokenizer
  // queries derive from the corpus alone — the word-frequency table, the
  // learned merge table, both trained vocabularies with their per-word
  // token bills, and the per-doc eligible-word counts (the probe table,
  // the t_lm_bigram discipline) — is a pure corpus function that was
  // re-derived inside EVERY query (t_tokenizer_eval re-ran the whole
  // train loop twice). It now stages once per corpus fingerprint, the
  // v_kmeans_train precedent (the staged codebook IS a hash-checked
  // query); each query keeps its own live leg: t_bpe_apply/t_wordpiece
  // join the probe table against their vocab, t_bpe_curve replays the
  // rewrite chain over the O(vocab) table, t_tokenizer_eval aggregates
  // both runtimes' accounting. ----

  /** Merge count / word-length cap / WpK baked into the dir name. */
  def bpeStageDir(sfDir: String): String =
    graft.Staging.dir(s"bpe_m${BpeMerges}w${MaxWordLen}k${WpK}_v1", sfDir)

  private def ensureBpeStaged(s: SparkSession, d: String): String = {
    import s.implicits._
    val dir = bpeStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      wordCounts(s, d).write.mode("overwrite").parquet(dir + "/wordcounts")
      val wc = Tables.parquet(s, dir + "/wordcounts")
      val merges = trainedMergesOver(wc)
      merges.toDF("step", "merge_left", "merge_right", "n")
        .coalesce(1).write.mode("overwrite").parquet(dir + "/merges")
      // BPE vocabulary: every distinct word's trained token count
      merges.foldLeft(wc.select(col("w"), symbolize(col("w")).as("s"))) {
          case (df, (_, l, r, _)) => df.withColumn("s", mergePass(col("s"), l, r))
        }
        .select(col("w"), size(split(trim(col("s")), " ")).cast("long").as("tok_len"))
        .write.mode("overwrite").parquet(dir + "/bpe_vocab")
      // WordPiece vocabulary: greedy longest-match token count per word
      val v2 = topNgramsOver(wc, 2).toSet
      val v3 = topNgramsOver(wc, 3).toSet
      wc.select(col("w")).as[String]
        .map(w => (w, wpTokenCount(w, v2, v3).toLong)).toDF("w", "tok_len")
        .write.mode("overwrite").parquet(dir + "/wp_vocab")
      // the probe table: per-doc eligible word counts
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= MaxWordLen)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(dir + "/docwords")
    }: Unit
    dir
  }

  private def stagedMerges(s: SparkSession, d: String): Vector[(Int, String, String, Long)] =
    Tables.parquet(s, ensureBpeStaged(s, d) + "/merges")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toVector

  /** `t_bpe_train` — the learned merge table: (step, merge_left,
    * merge_right, pair count), hash-checked against the fully unrolled
    * pair-count/argmax/rewrite chain in DuckDB. Trained once per corpus
    * fingerprint ([[ensureBpeStaged]], the v_kmeans_train shape). */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedMerges(s, d)
      .toDF("step", "merge_left", "merge_right", "n")
      .orderBy("step")
  }

  // ---- WordPiece-style GREEDY LONGEST-MATCH tokenization — the OTHER
  // production tokenizer runtime next to BPE's merge-rank replay: BERT
  // tokenizes by greedily taking the longest vocab entry at each
  // position. Vocab here = every single char (implicit) + the top-K
  // corpus char bigrams + top-K trigrams by occurrence-weighted count
  // with (count DESC, gram ASC) tie order — a deterministic frequency
  // rule both engines derive identically, so the greedy walk (unrolled
  // ≤ MaxWordLen steps in the oracle, the t_bpe_apply pattern) is
  // hash-checked end to end. ----
  private val WpK = 64

  /** Top-K occurrence-weighted char n-grams over an explicit word table
    * (overlapping starts count; weight = corpus word frequency) — a
    * bounded vocab sync (≤ [[WpK]] rows), the codebook pattern. */
  private def topNgramsOver(wc: DataFrame, n: Int): Seq[String] =
    wc.filter(length(col("w")) >= n)
      .select(col("cnt"), explode(expr(
        s"transform(sequence(1, length(w) - ${n - 1}), i -> substr(w, i, $n))")).as("g"))
      .groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("g").asc).limit(WpK)
      .collect().map(_.getString(0)).toSeq

  /** The greedy walk: longest vocab match at each position (3 beats 2
    * beats the single-char fallback). ≤ [[MaxWordLen]] steps per word. */
  private[operators] def wpTokenCount(w: String, v2: Set[String], v3: Set[String]): Int = {
    var p = 0; var t = 0
    while (p < w.length) {
      val step =
        if (p + 3 <= w.length && v3(w.substring(p, p + 3))) 3
        else if (p + 2 <= w.length && v2(w.substring(p, p + 2))) 2
        else 1
      p += step; t += 1
    }
    t
  }

  /** `t_wordpiece` — per-doc token accounting under greedy longest-match
    * with the frequency-derived subword vocab. Tokenization runs over
    * the O(vocab) DISTINCT-word table (never per occurrence — the
    * t_bpe_apply discipline) with the two gram sets broadcast; per-doc
    * totals come from the usual word-count join. */
  def wordpiece(s: SparkSession, d: String): DataFrame = {
    val staged = ensureBpeStaged(s, d)
    Tables.parquet(s, staged + "/docwords")
      .join(Tables.parquet(s, staged + "/wp_vocab"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * length(col("w"))).as("n_chars"),
        sum(col("c") * col("tok_len")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** `t_bpe_apply` — CLOSES THE TRAIN→APPLY LOOP: tokenize the corpus
    * with the vocabulary the engine itself just learned. The merge table
    * from [[trainedMergesOver]] is applied to the O(vocab) DISTINCT-word
    * table (never raw text) with the exact [[mergePass]] semantics the
    * trainer used, giving each word its trained token count; per-document
    * totals then come from an equi-join of the per-doc word counts
    * against that tokenized vocabulary. Output per doc: eligible word
    * count, character count, and the trained-token bill — the number
    * every budget query should bill on once a tokenizer is trained.
    *
    * Scale shape: merges rewrite O(distinct words), the doc⋈vocab join
    * shuffles on the word key (vocabulary-sized build side — AQE may
    * broadcast it when small), and the final aggregate is per-doc. The
    * corpus is touched once, exactly like training. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val staged = ensureBpeStaged(s, d)
    Tables.parquet(s, staged + "/docwords")
      .join(Tables.parquet(s, staged + "/bpe_vocab"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_words"),
        sum(col("c") * length(col("w"))).as("n_chars"),
        sum(col("c") * col("tok_len")).as("n_trained_tokens"))
      .orderBy("doc_id")
  }

  /** `t_bpe_curve` — the TOKENIZER-SIZE TUNING SWEEP (the d_lsh_tuning
    * shape for the tokenizer): at every merge count k = 0..4, the total
    * corpus token bill Σ cnt·len(tokens(w)) and the live symbol-vocab
    * size — the compression-vs-vocabulary curve a "how many merges"
    * decision reads (k=0 is the character baseline, each merge can only
    * shrink the bill and grow the vocab by ≤1). Every point is an O(|V|)
    * aggregate over the rewrite chain's snapshot after k merges — the
    * corpus is never re-touched past the one word-count pass.
    * Oracle = the unrolled train chain evaluated at every prefix. */
  def bpeCurve(s: SparkSession, d: String): DataFrame = {
    val merges = stagedMerges(s, d)
    var df = Tables.parquet(s, ensureBpeStaged(s, d) + "/wordcounts")
      .select(col("cnt"), symbolize(col("w")).as("s"))
    val points = (0 to BpeMerges).map { k =>
      if (k > 0) {
        val (_, l, r, _) = merges(k - 1)
        df = df.withColumn("s", mergePass(col("s"), l, r))
      }
      val toks = df.select(col("cnt"), split(trim(col("s")), " ").as("ts"))
      toks.select(
          sum(col("cnt") * size(col("ts"))).as("total_tokens"))
        .crossJoin(toks.select(explode(col("ts")).as("t")).agg(
          countDistinct(col("t")).as("n_symbols")))
        .select(lit(k).as("n_merges"), col("total_tokens"), col("n_symbols"))
    }
    points.reduce(_ unionByName _).orderBy("n_merges")
  }

  private def sqlEsc(s: String): String = s.replace("'", "''")

  /** `t_tokenizer_eval` — the TOKENIZER BAKE-OFF: corpus-level
    * compression (chars per token, fixed-point) for the two runtimes
    * the engine trains — BPE merge replay vs WordPiece greedy
    * longest-match — from each runtime's own per-doc accounting. The
    * number a tokenizer choice is actually made on: lower fertility =
    * fewer tokens per corpus = cheaper training at the same data. */
  def tokenizerEval(s: SparkSession, d: String): DataFrame = {
    def tot(df: DataFrame, tokCol: String, name: String): DataFrame =
      df.agg(sum(col("n_chars")).as("n_chars"), sum(col(tokCol)).as("n_tokens"))
        .select(lit(name).as("tokenizer"), col("n_chars"), col("n_tokens"),
          expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_x1000"))
    tot(bpeApply(s, d), "n_trained_tokens", "bpe")
      .unionByName(tot(wordpiece(s, d), "n_tokens", "wordpiece"))
      .orderBy("tokenizer")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_bpe_train" -> (bpeTrain _),
    "t_bpe_apply" -> (bpeApply _),
    "t_wordpiece" -> (wordpiece _),
    "t_tokenizer_eval" -> (tokenizerEval _),
    "t_bpe_curve" -> (bpeCurve _),
  )

  /** One unrolled merge step: pair counts + argmax over `prev`, then the
    * two-pass rewrite. `carry` is the pass-through column list (the train
    * chain carries cnt; the apply chain also carries w); the final train
    * step skips the rewrite nothing reads. */
  private def mergeStep(t: Int, prev: String, carry: String = "cnt",
      withRewrite: Boolean = true): String = {
    val pairs =
      s"""p$t AS (
         |  SELECT parts[i] AS l, parts[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, string_split(trim(s), ' ') AS parts FROM $prev) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(parts) - 1)) AS i)
         |  GROUP BY 1, 2),
         |m$t AS (SELECT l, r, n FROM p$t ORDER BY n DESC, l ASC, r ASC LIMIT 1)""".stripMargin
    val rewrite =
      s"""s$t AS (
         |  SELECT $carry,
         |         replace(replace(s, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' '),
         |                 ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS s
         |  FROM $prev, m$t)""".stripMargin
    if (withRewrite) pairs + ",\n" + rewrite else pairs
  }

  private val oracleBase: Map[String, String] = Map(
    // the same loop unrolled: word counts -> symbol strings -> per step
    // (adjacent-pair count, argmax with the same tie order, two-pass
    // literal rewrite) -- the d_pagerank / v_kmeans_train pattern
    "t_bpe_train" -> {
      val steps = (1 to BpeMerges).map(t => mergeStep(t, if (t == 1) "s0" else s"s${t - 1}",
          withRewrite = t < BpeMerges))
        .mkString(",\n")
      val out = (1 to BpeMerges)
        .map(t => s"SELECT $t AS step, l AS merge_left, r AS merge_right, n FROM m$t")
        .mkString("\nUNION ALL ")
      s"""WITH w AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY w),
         |s0 AS (SELECT cnt, regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS s FROM w),
         |$steps
         |$out
         |ORDER BY step""".stripMargin
    },
    // every prefix of the unrolled train chain evaluated: per k the
    // O(|V|) token bill and distinct live symbols
    "t_bpe_curve" -> {
      val steps = (1 to BpeMerges).map(t => mergeStep(t, if (t == 1) "s0" else s"s${t - 1}"))
        .mkString(",\n")
      val points = (0 to BpeMerges).map { k =>
        val src = if (k == 0) "s0" else s"s$k"
        s"""SELECT $k AS n_merges,
           |  (SELECT CAST(SUM(cnt * len(string_split(trim(s), ' '))) AS BIGINT) FROM $src)
           |    AS total_tokens,
           |  (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM (
           |     SELECT unnest(string_split(trim(s), ' ')) AS t FROM $src) z)
           |    AS n_symbols""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY w),
         |s0 AS (SELECT cnt, regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS s FROM w),
         |$steps
         |$points
         |ORDER BY n_merges""".stripMargin
    },
    // the greedy longest-match walk, unrolled MaxWordLen times: each
    // step consumes the longest vocab gram at the head of the remainder
    "t_wordpiece" -> {
      val steps = (1 to MaxWordLen).map { t =>
        val prev = if (t == 1) "t0" else s"t${t - 1}"
        s"""t$t AS (
           |  SELECT w,
           |    CASE WHEN length(rem) = 0 THEN rem
           |         WHEN length(rem) >= 3 AND substr(rem, 1, 3) IN (SELECT g FROM v3)
           |           THEN substr(rem, 4)
           |         WHEN length(rem) >= 2 AND substr(rem, 1, 2) IN (SELECT g FROM v2)
           |           THEN substr(rem, 3)
           |         ELSE substr(rem, 2) END AS rem,
           |    CASE WHEN length(rem) = 0 THEN tok ELSE tok + 1 END AS tok
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY w),
         |g2 AS (
         |  SELECT substr(w, CAST(i AS INT), 2) AS g, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM w, LATERAL (SELECT unnest(range(1, length(w))) AS i)
         |  WHERE length(w) >= 2 GROUP BY 1),
         |v2 AS (SELECT g FROM (
         |  SELECT g, row_number() OVER (ORDER BY n DESC, g ASC) AS rn FROM g2)
         |  WHERE rn <= $WpK),
         |g3 AS (
         |  SELECT substr(w, CAST(i AS INT), 3) AS g, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM w, LATERAL (SELECT unnest(range(1, length(w) - 1)) AS i)
         |  WHERE length(w) >= 3 GROUP BY 1),
         |v3 AS (SELECT g FROM (
         |  SELECT g, row_number() OVER (ORDER BY n DESC, g ASC) AS rn FROM g3)
         |  WHERE rn <= $WpK),
         |t0 AS (SELECT w, w AS rem, 0 AS tok FROM w),
         |$steps,
         |vocab AS (SELECT w, CAST(tok AS INT) AS tok_len FROM t$MaxWordLen),
         |dw AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |       CAST(SUM(c) AS BIGINT) AS n_words,
         |       CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
         |       CAST(SUM(c * tok_len) AS BIGINT) AS n_tokens
         |FROM dw JOIN vocab USING (w)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "t_bpe_apply" -> {
      val steps = (1 to BpeMerges).map(t => mergeStep(t, if (t == 1) "s0" else s"s${t - 1}",
          carry = "w, cnt"))
        .mkString(",\n")
      s"""WITH w AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY w),
         |s0 AS (SELECT w, cnt, regexp_replace(w, '(.)', ' \\1', 'g') || ' ' AS s FROM w),
         |$steps,
         |vocab AS (
         |  SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS tok_len
         |  FROM s$BpeMerges),
         |dw AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= $MaxWordLen
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |       CAST(SUM(c) AS BIGINT) AS n_words,
         |       CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
         |       CAST(SUM(c * tok_len) AS BIGINT) AS n_trained_tokens
         |FROM dw JOIN vocab USING (w)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
  )

  // the bake-off aggregates each runtime's own oracle chain — one
  // derivation per tokenizer, no third re-derivation to drift
  val oracle: Map[String, String] = oracleBase + ("t_tokenizer_eval" ->
    s"""WITH b AS (${oracleBase("t_bpe_apply")}),
       |wp AS (${oracleBase("t_wordpiece")})
       |SELECT 'bpe' AS tokenizer,
       |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |       CAST(SUM(n_trained_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(n_chars) * 1000 // SUM(n_trained_tokens) AS BIGINT)
       |         AS chars_per_token_x1000
       |FROM b
       |UNION ALL
       |SELECT 'wordpiece',
       |       CAST(SUM(n_chars) AS BIGINT),
       |       CAST(SUM(n_tokens) AS BIGINT),
       |       CAST(SUM(n_chars) * 1000 // SUM(n_tokens) AS BIGINT)
       |FROM wp
       |ORDER BY tokenizer""".stripMargin)
}
