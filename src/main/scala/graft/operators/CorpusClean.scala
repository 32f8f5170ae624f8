package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-cleaning operators — the C4/RefinedWeb-style passes a training
  * pipeline runs between raw ingest and packing: boilerplate-line removal,
  * PII redaction, and data-mixture sampling. All deterministic (content
  * hashes, never rand()) so every query is DuckDB-oracle-checked, and all
  * built from codegen'd built-ins — no UDFs.
  *
  * Scale shapes:
  *   - lineDedup: one shuffle to count lines (map-side combine), the heavy
  *     set BROADCASTS back (boilerplate lines are heavy-hitters — small by
  *     construction; swap for a bloom probe à la decontaminateBloom if a
  *     pathological corpus outgrows it), reassembly groups per doc
  *     (bounded by document length, never by corpus).
  *   - piiRedact: a pure narrow map over the scan — regex redaction never
  *     shuffles anything at any scale.
  *   - mixtureSample: per-source rates come from a tiny counts aggregate
  *     (broadcast back); acceptance is a narrow deterministic filter, so
  *     the corpus is scanned once and never shuffled.
  */
object CorpusClean {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def words: Column = split(col("text"), " ")

  // ---- Boilerplate-line removal (C4's "discard any line shared across
  // documents" pass). The synthetic corpus has no newlines, so a "line"
  // is a fixed 8-word segment — the segmentation is a parameter, the
  // operator (explode → heavy-line count → drop → ordered reassembly)
  // is the real thing. ----
  private val LineW = 8
  private val BoilerplateMinDocs = 3

  /** Per-doc line count as a NARROW expression over `text` — exactly the
    * number of rows [[linesOf]] generates for the doc (`posexplode` over
    * `sequence(0, nLines-1)` emits nLines rows; every doc has ≥ 1 word so
    * nLines ≥ 1). Shared by the segmentation and by [[lineDedup]]'s
    * totals leg, which r20 computed by exploding the whole corpus a third
    * time just to count rows per doc (guide §2.4: don't shuffle what a
    * narrow map already knows). */
  private def nLinesCol: Column =
    floor((size(words) + lit(LineW - 1)).cast("double") / lit(LineW.toDouble))
      .cast("int")

  /** (doc_id, line_idx, line) — every doc of `df(doc_id, text)` segmented
    * into LineW-word lines. Parameterized on the input so the e2e pipeline
    * can run the pass over an already-filtered corpus. */
  private[operators] def linesOf(df: DataFrame): DataFrame = {
    val lineArr = transform(sequence(lit(0), nLinesCol - 1),
      i => array_join(slice(words, i * LineW + 1, lit(LineW)), " "))
    df
      // byte-small, compute-dense: the fingerprint/withSig repartition trap
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(lineArr).as(Seq("line_idx", "line")))
  }

  private def lines(s: SparkSession, d: String): DataFrame = linesOf(docs(s, d))

  /** Heavy-line set over an ALREADY-SEGMENTED lines frame — split from
    * [[heavyLinesOf]] so callers that consume the lines twice (the count
    * leg and the anti-join probe) can PIN one segmentation pass and feed
    * it here, instead of re-running the explode per consumer (r20 shape:
    * the scan+repartition deduped via ReuseExchange but the post-exchange
    * explode + line assembly ran once per consumer). */
  private def heavyFromLines(ls: DataFrame): DataFrame =
    ls.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateMinDocs)
      .select(col("line"))

  private[operators] def heavyLinesOf(df: DataFrame): DataFrame =
    heavyFromLines(linesOf(df))

  /** Exposed for the spec's pruning assertion. */
  private[operators] def heavyLines(s: SparkSession, d: String): DataFrame =
    heavyLinesOf(docs(s, d))

  /** The drop+reassemble core over `df(doc_id, text)`: docs whose every
    * line is boilerplate DROP OUT (the e2e-pipeline contract; the public
    * [[lineDedup]] query instead keeps them as tombstones). The lines
    * frame is pinned once ([[graft.QueryDsl.pin]], the candidatePairs
    * precedent) for its two consumers — heavy-line counting and the
    * anti-join probe; the pin is mode-aware (localCheckpoint single-JVM,
    * reliable checkpoint(dir) on a cluster). */
  private[operators] def cleanedOf(df: DataFrame): DataFrame = {
    val ls = graft.QueryDsl.pin(linesOf(df))
    ls.join(broadcast(heavyFromLines(ls)), Seq("line"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_idx"), col("line")))),
        x => x.getField("line")), " ").as("clean_text"))
  }

  /** Drop every line that appears in ≥ BoilerplateMinDocs distinct docs,
    * reassemble the survivors in order. Docs reduced to nothing stay as
    * explicit empty-text rows (a filter would silently shrink the corpus —
    * downstream joins want the tombstone).
    *
    * r21 shape (was: THREE explode passes over the corpus — heavy-line
    * count, anti-join probe, and a per-doc row count): the lines frame is
    * segmented ONCE and pinned for the two consumers that genuinely need
    * exploded rows, and the totals leg is a narrow [[nLinesCol]] map over
    * the docs scan — no third explode, no corpus-sized count shuffle. */
  def lineDedup(s: SparkSession, d: String): DataFrame = {
    val ls = graft.QueryDsl.pin(lines(s, d))
    val kept = ls.join(broadcast(heavyFromLines(ls)), Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        // per-doc ordered reassembly: collect is bounded by DOC length
        // (same bound as the docs themselves), never by corpus size
        array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"))
    val totals = docs(s, d).select(col("doc_id"), nLinesCol.as("n_lines"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0))).as("n_dropped"))
      .orderBy("doc_id")
  }

  // ---- PII redaction. The corpus is synthetic word-soup with no PII, so
  // the query derives a POISONED corpus first (the v_poisoned_lsh
  // pattern): deterministic emails/IPv4s/phones injected by doc_id, then
  // redacted by the operator under test — proving the redaction contract
  // end-to-end under the hash gate. Patterns are written in the
  // Java-regex ∩ RE2 dialect so Spark and DuckDB compile them
  // identically. ----
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val IpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  private[graft] val PhoneRe = "\\+1-555-\\d{4}"

  /** text with deterministic PII appended: doc_id%3==0 → email+IP,
    * %3==1 → phone, %3==2 → left clean. */
  private def poisonedText: Column = {
    val id = col("doc_id")
    val email = concat(lit("user"), id.cast("string"), lit("@example.com"))
    val ip = concat(
      (id % 223).cast("string"), lit("."), ((id * 7) % 256).cast("string"), lit("."),
      ((id * 13) % 256).cast("string"), lit("."), ((id * 29) % 251).cast("string"))
    val phone = concat(lit("+1-555-"), lpad((id % 10000).cast("string"), 4, "0"))
    when(id % 3 === 0, concat(col("text"), lit(" contact "), email, lit(" host "), ip))
      .when(id % 3 === 1, concat(col("text"), lit(" tel "), phone))
      .otherwise(col("text"))
  }

  /** Redact emails → `<EMAIL>`, IPv4s → `<IP>`, phones → `<PHONE>`
    * (fixed application order — email first, so an address's dotted host
    * can't half-match the IP pattern later) and count each kind. A pure
    * narrow map: at 100 TB this is exactly one pass over the scan. */
  // slope pin: ~5 at 10x input, drifting toward 10 (regex scan is linear
  // in corpus bytes; sf0.01 leg is overhead-dominated) — see SLOPES.md
  //
  // r21 shape: the deterministic sort runs BEFORE the redaction project
  // (Sort(doc_id) under Project), not after. A trailing orderBy's range
  // exchange samples its child, so the r20 shape ran the whole 6-regex
  // scan twice (sampler + shuffle map); sorting the raw (doc_id, text)
  // scan first makes the sampler re-read only the parquet scan, and the
  // projection — order-preserving, so the output rows are identical —
  // evaluates once, post-shuffle. Same rows, same order, one regex pass.
  def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactOf(docs(s, d).orderBy("doc_id"))

  /** The redaction pass over an arbitrary (doc_id, text) frame — lets the
    * release-gate flagship redact the SURVIVING corpus only (the regex
    * scan never runs on docs already rejected upstream). */
  private[graft] def piiRedactOf(df: DataFrame): DataFrame = {
    val t = poisonedText
    df.select(col("doc_id"),
      regexp_count(t, lit(EmailRe)).cast("int").as("n_emails"),
      regexp_count(t, lit(IpRe)).cast("int").as("n_ips"),
      regexp_count(t, lit(PhoneRe)).cast("int").as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          IpRe, "<IP>"),
        PhoneRe, "<PHONE>").as("clean_text"))
  }

  // ---- Data-mixture sampling: hit target per-source proportions with
  // rates DERIVED FROM CORPUS STATS (stratifiedSample's rates are
  // constants; a mixture is specified as output shares and must divide by
  // observed source sizes). ----
  private val SampleHalf = 2 // sample size = corpus / SampleHalf
  private val RateScale = 1000000L

  /** Target output share per source: src0-3 10% each, src4-9 6% each,
    * src10-19 2.4% each (sums to 1). As a Column over `source`. */
  private def mixtureWeight: Column = {
    val idx = substring(col("source"), 4, 8).cast("int")
    when(idx < 4, 0.10).when(idx < 10, 0.06).otherwise(0.024)
  }

  /** Deterministic mixture sample: accept doc iff its content-hash
    * uniform (md5 first-32-bits mod 1e6) falls under the source's rate
    * `min(1, S·w/n_s)·1e6`, where S is the target sample size and n_s the
    * source's count. Rates come from one tiny aggregate joined back as a
    * broadcast; acceptance is a narrow filter — reproducible under any
    * partitioning, and a source whose share exceeds its size saturates at
    * keep-everything (rate cap). Every arithmetic step is a single IEEE
    * op over exact integers, so DuckDB computes identical thresholds. */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val total = docs(s, d).agg(floor(count(lit(1)) / SampleHalf).cast("long").as("target"))
    val rates = counts.crossJoin(broadcast(total))
      .select(col("source"),
        floor(least(
          col("target").cast("double") * mixtureWeight / col("n_s").cast("double"),
          lit(1.0)) * lit(RateScale.toDouble)).cast("long").as("thr"))
    val u = conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % RateScale
    docs(s, d)
      .select(col("doc_id"), col("source"), u.as("u"))
      .join(broadcast(rates), "source")
      .filter(col("u") < col("thr"))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled LANGUAGE mixture — the multilingual rebalancing
    * pass (GPT-3 / T5 / XLM-R style): output share per language is
    * `w_l = n_l^α / Σ n^α` with temperature α = 1/2, flattening the head
    * so low-resource languages are over-sampled relative to their raw
    * counts. Differs from [[mixtureSample]] in that the shares are
    * DERIVED from the observed distribution, not specified constants —
    * the knob a mixture tuner actually turns.
    *
    * α = 1/2 is chosen deliberately: `n^0.5` is `sqrt`, a correctly-
    * rounded single IEEE op in both engines, where a general `pow` is
    * libm and cross-engine-unsafe. The normalizer Z = Σ sqrt(n_l) is an
    * order-independent decimal sum ([[graft.QueryDsl.dsum]]), so the
    * per-language thresholds are bit-identical cross-engine. Scale shape
    * is [[mixtureSample]]'s: rates come from a languages-sized aggregate
    * broadcast back; acceptance is a narrow deterministic filter over a
    * single scan of the corpus — nothing corpus-sized ever shuffles. */
  def temperatureMixture(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val total = docs(s, d).agg(floor(count(lit(1)) / SampleHalf).cast("long").as("target"))
    val z = counts.agg(graft.QueryDsl.dsum(sqrt(col("n_l").cast("double"))).as("z"))
    val rates = counts.crossJoin(broadcast(total)).crossJoin(broadcast(z))
      .select(col("lang"),
        floor(least(
          col("target").cast("double") * (sqrt(col("n_l").cast("double")) / col("z"))
            / col("n_l").cast("double"),
          lit(1.0)) * lit(RateScale.toDouble)).cast("long").as("thr"))
    val u = conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % RateScale
    docs(s, d)
      .select(col("doc_id"), col("lang"), u.as("u"))
      .join(broadcast(rates), "lang")
      .filter(col("u") < col("thr"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  private val DsirBuckets = 1024
  private val DsirFx = 1048576L // 2^20 fixed-point probability scale

  /** `t_dsir` — DATA SELECTION VIA IMPORTANCE RESAMPLING (the DSIR
    * recipe of Xie et al. 2023, the published method for "pick raw web
    * documents that look like the target domain"): featurize every doc
    * as HASHED BIGRAM bucket counts (the paper's hashed n-gram
    * features — unigrams carry no signal on this corpus, whose languages
    * share one vocabulary and differ only in word ORDER), fit two
    * add-one-smoothed bag-of-features distributions — the TARGET (the
    * `lang='en'` slice, standing in for "looks like Wikipedia/books")
    * and the RAW corpus — and score each doc by its importance weight,
    * keeping docs that look more target-like than the corpus average.
    * Two deliberate deviations from the paper keep every row
    * oracle-exact: (1) the log-likelihood ratio becomes the FIXED-POINT
    * LINEAR DISCRIMINANT Σ_b c_b·(p̂_b − q̂_b) with probabilities in 2²⁰
    * fixed point (`n·2²⁰ div total` — bounded by 2²⁰ at ANY corpus
    * size, and exact in both engines where ln/log2 of a ±5% ratio
    * rounds to nothing an integer can hold); (2) Gumbel top-k sampling
    * becomes the deterministic above-corpus-mean cross-multiplication
    * (`score·Σn > Σscore·n`, the [[TextAnalysis.lmSurprisal]] rule), so
    * no randomness crosses engines. On this corpus the rule keeps ~88%
    * of target-language docs and ~20% of the rest (spec-pinned).
    *
    * Scale shape: ONE corpus explode feeds everything — the STAGED
    * per-doc bucket counts (one shuffle of O(docs × ≤B) rows, a pure
    * corpus function built once per fingerprint like the LM tables) are
    * re-aggregated into both O(B)=1024-row distributions (broadcast)
    * and consumed directly by the scoring join; the corpus totals are a
    * 1-row broadcast — nothing corpus-sized crosses the wire twice, and
    * B is the constant that keeps the distribution tables driver-free at
    * any corpus size. */
  /** Bigram features + bucket hash are baked into the dir version. */
  def dsirStageDir(sfDir: String): String = graft.Staging.dir(s"dsir_b${DsirBuckets}_v1", sfDir)

  /** The (doc_id, lang, bucket, count) featurization — the single
    * corpus-explode+hash pass everything in DSIR derives from, staged
    * build-once per corpus fingerprint (it is a pure corpus function;
    * before staging, every probe re-ran the explode + md5 of the whole
    * bigram stream — the query's only corpus-sized stage). */
  def ensureDsirStaged(s: SparkSession, d: String): String = {
    val dir = dsirStageDir(d)
    val path = dir + "/counts"
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      val bigrams = when(size(words) >= 2, transform(
          sequence(lit(0), size(words) - 2),
          i => array_join(slice(words, i + lit(1), lit(2)), "_")))
        .otherwise(array().cast("array<string>"))
      docs(s, d)
        .select(col("doc_id"), col("lang"), explode(bigrams).as("g"))
        .withColumn("b",
          pmod(conv(substring(md5(concat(lit("g_"), col("g")).cast("binary")), 1, 8), 16, 10)
            .cast("long"), lit(DsirBuckets)))
        .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  def dsir(s: SparkSession, d: String): DataFrame = {
    // both distributions DERIVE from the compact staged table by
    // re-aggregation (Σ over docs ≡ counting the raw token stream — the
    // same c1-from-c2 identity the LM stage uses) and the per-doc
    // scoring consumes it directly; the probe never touches documents
    val perDocCounts = Tables.parquet(s, ensureDsirStaged(s, d))
    val target = perDocCounts.filter(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("c")).as("np"))
    val raw = perDocCounts.groupBy(col("b")).agg(sum(col("c")).as("nq"))
    val dom = s.range(DsirBuckets).select(col("id").as("b"))
    val dist = dom.join(target, Seq("b"), "left").join(raw, Seq("b"), "left")
      .select(col("b"),
        (coalesce(col("np"), lit(0L)) + 1).as("p"),
        (coalesce(col("nq"), lit(0L)) + 1).as("q"))
    val tot = dist.agg(sum(col("p")).as("tp"), sum(col("q")).as("tq")) // 1 row
    val fx = dist.crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"p * $DsirFx div tp").as("pfx"),
        expr(s"q * $DsirFx div tq").as("qfx"))
    val perDoc = perDocCounts
      .join(broadcast(fx), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (col("pfx") - col("qfx"))).as("dsir_score"))
    val corpus = perDoc.agg(sum(col("n_tokens")).as("tn"),
      sum(col("dsir_score")).as("ts")) // 1 row
    perDoc.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("n_tokens"), col("dsir_score"),
        (col("dsir_score") * col("tn") > col("ts") * col("n_tokens"))
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  // ---- Poisoned-TEXT gate: the ugly-input contract for the text stack,
  // the way v_poisoned_lsh proves it for vectors. Real corpora carry
  // null/empty/whitespace-only/multibyte documents; this derives them
  // deterministically and pushes them through the token-stats kernel,
  // hash-checking the null/empty/unicode semantics cross-engine:
  // length(NULL) is NULL (never 0), split('') is [''] (one empty token,
  // both engines), and char counts are code points, not bytes. ----

  /** doc_id%7: 0 → null text, 1 → empty, 2 → whitespace-only, 3 → a
    * multibyte suffix (accents, CJK, an astral-plane emoji), else clean. */
  def poisonedTextStats(s: SparkSession, d: String): DataFrame = {
    val mode = pmod(col("doc_id"), lit(7))
    val pt = when(mode === 0, lit(null).cast("string"))
      .when(mode === 1, lit(""))
      .when(mode === 2, lit("   "))
      .when(mode === 3, concat(col("text"), lit(" café 中文 🚀")))
      .otherwise(col("text"))
    val w = split(col("t"), " ")
    docs(s, d)
      .select(col("doc_id"), mode.as("poison_mode"), pt.as("t"))
      .select(col("doc_id"), col("poison_mode"),
        col("t").isNotNull.cast("int").as("has_text"),
        length(col("t")).as("n_chars"),
        size(w).as("n_tokens"),
        size(array_distinct(w)).as("n_distinct"))
      .orderBy("doc_id")
  }

  // ---- URL canonicalization + frontier dedup (the crawl-side pass
  // before any text is fetched twice): the same resource hides behind
  // case-varied hosts, www prefixes, tracking query params, and
  // trailing slashes — canonicalize, then keep one fetch per canonical
  // URL. URLs are SYNTHESIZED deterministically onto the corpus (the
  // PII-poisoning pattern: the operator is real, the injection makes
  // its work observable): path collides across docs (mod 40), so true
  // cross-document duplicates exist by construction. ----

  /** The synthesized crawl URL for a document — four variance axes. */
  private def crawlUrl: Column = {
    val scheme = when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https"))
    val www = when(col("doc_id") % 4 === 0, lit("www.")).otherwise(lit(""))
    val host = when(col("doc_id") % 5 === 0, upper(col("source"))).otherwise(col("source"))
    val slash = when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit(""))
    val query = when(col("doc_id") % 2 === 0,
      lit("?utm_source=feed&utm_campaign=crawl")).otherwise(lit(""))
    concat(scheme, lit("://"), www, host, lit(".example.com/docs/"),
      (col("doc_id") % 40).cast("string"), slash, query)
  }

  /** `t_url_canonical` — canonicalization FROM THE URL STRING (the
    * engine never peeks at the generator): lowercase scheme and host
    * (path case is preserved — it is significant), strip the `www.`
    * prefix, drop the query, trim trailing slashes, then dedup the
    * frontier per canonical URL keeping the smallest doc as the fetch
    * winner. A pure narrow map plus one map-side-combined groupBy —
    * nothing corpus-sized crosses a window. */
  def urlCanonical(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), crawlUrl.as("url"))
      .withColumn("scheme", lower(substring_index(col("url"), "://", 1)))
      .withColumn("rest", expr("substring(url, instr(url, '://') + 3)"))
      .withColumn("host",
        regexp_replace(lower(substring_index(col("rest"), "/", 1)), "^www\\.", ""))
      .withColumn("pathq", expr("substring(rest, instr(rest, '/'))"))
      .select(col("doc_id"),
        concat(col("scheme"), lit("://"), col("host"),
          rtrim(substring_index(col("pathq"), "?", 1), "/")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy("canonical_url")

  // ---- Content-defined chunking (the storage-dedup / exact-substring-
  // dedup primitive): chunk boundaries come from the CONTENT (a rolling
  // polynomial hash over an 8-char window hitting a divisor), so an
  // insertion early in a document shifts only ITS chunk — every later
  // boundary re-synchronizes, and byte-identical runs across documents
  // chunk identically regardless of their offsets. Fixed-size chunking
  // cannot do this (one inserted byte re-frames the whole tail). ----
  // constants live on the native expression (graft.functions.CdcCuts)
  // so the flatMap kernel, the codegen'd twin, and the oracle cannot
  // drift apart
  private val CdcWindow = graft.functions.CdcCuts.Window
  private val CdcMask = graft.functions.CdcCuts.Mask
  private val CdcPow: Array[Long] = graft.functions.CdcCuts.Pow

  /** The planted boilerplate suffix: appended to every doc_id%5==0
    * document so the chunk-dedup query has true cross-document shared
    * content (the ToS/disclaimer shape real corpora carry). Long enough
    * to contain interior cut points, so chunks re-align inside it. */
  private[operators] val CdcDisclaimer =
    "this document is provided for informational purposes only and does " +
    "not constitute an offer to sell or a solicitation of an offer to buy " +
    "any security the information herein is subject to change without " +
    "notice and the publisher assumes no obligation to update it past " +
    "performance does not guarantee future results and readers should " +
    "consult a qualified adviser before acting on any statement made here"

  private def cdcInput(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(length(col("text")) > 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" " + CdcDisclaimer)))
          .otherwise(col("text")).as("text"))

  /** `t_cdc_chunks` — per-document CDC chunk table: (chunk_idx, start,
    * len, md5 of the chunk bytes). Cut points are window starts p ≥ 2
    * with h(p) % 64 == 0; chunks span [cut, next cut). Purely
    * doc-local, so the whole pass is one narrow flatMap — zero
    * shuffles at any corpus size — and the per-doc cut list is bounded
    * by a single document's length (the documented bounded class). The
    * md5 is computed by the ENGINE's sql md5 over the substring, so
    * the oracle's md5(substr(...)) pins the exact chunk bytes. */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunked(s, d)
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("len"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** The chunk table WITH chunk bytes — shared by the hash view
    * ([[cdcChunks]]) and the removal pass ([[cdcClean]]). */
  private def cdcChunked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cdcInput(s, d).as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = text.length
        val cuts = scala.collection.mutable.ArrayBuffer[Int](1)
        var p = 2
        while (p <= n - CdcWindow + 1) {
          var h = 0L; var k = 0
          while (k < CdcWindow) { h += text.charAt(p - 1 + k).toLong * CdcPow(k); k += 1 }
          if (h % CdcMask == 0L) cuts += p
          p += 1
        }
        (cuts :+ (n + 1)).toSeq.sliding(2).zipWithIndex.map { case (w, idx) =>
          val (st, en) = (w(0), w(1))
          (id, idx, st, en - st, text.substring(st - 1, en - 1))
        }
      }
      .toDF("doc_id", "chunk_idx", "start", "len", "chunk")
  }

  /** `t_cdc_clean` — BOILERPLATE REMOVAL AT CHUNK GRANULARITY (the
    * [[lineDedup]] pass with content-defined segments instead of fixed
    * word windows — it catches shared material fixed segmentation
    * splits differently per document, the disclaimer being the planted
    * case): chunks whose bytes appear in ≥ [[BoilerplateMinDocs]]
    * documents drop, survivors reassemble in order. The heavy set is
    * small by construction (boilerplate = heavy hitters) so it
    * BROADCASTS back; reassembly groups per doc — bounded by one
    * document's length, the documented collect class. */
  def cdcClean(s: SparkSession, d: String): DataFrame = {
    val chunks = cdcChunked(s, d)
      .withColumn("chunk_md5", md5(col("chunk").cast("binary")))
    val heavy = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateMinDocs)
      .select(col("chunk_md5"))
    val kept = chunks.join(broadcast(heavy), Seq("chunk_md5"), "left_anti")
    val tot = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        // per-doc bounded collect: one document's surviving chunks
        md5(array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          e => e.getField("chunk")), "").cast("binary")).as("clean_md5"))
    tot.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_md5"), lit(md5EmptyLit)).as("clean_md5"))
      .orderBy("doc_id")
  }

  // md5 of the empty string — a doc whose every chunk was boilerplate
  private val md5EmptyLit = "d41d8cd98f00b204e9800998ecf8427e"

  /** `t_cdc_chunks_gen` — the CATALYST-NATIVE twin of [[cdcChunks]]
    * (the X2 extract-holdings discipline: one semantics, two execution
    * forms, one oracle): cut positions come from the codegen'd
    * [[graft.functions.CdcCuts]] expression and chunk assembly stays in
    * builtins (arrays_zip + posexplode + substring + md5), so the plan
    * is a Generate over a whole-stage-codegen'd projection — no typed
    * MapPartitions, no object serialization boundary. */
  def cdcChunksGen(s: SparkSession, d: String): DataFrame =
    cdcInput(s, d)
      .withColumn("cuts", graft.functions.GraftFunctions.cdc_cuts(col("text")))
      .withColumn("starts", concat(array(lit(1)), col("cuts")))
      .withColumn("ends", concat(col("cuts"), array(length(col("text")) + 1)))
      .select(col("doc_id"), col("text"),
        posexplode(arrays_zip(col("starts"), col("ends"))).as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx"),
        col("se.starts").as("start"),
        (col("se.ends") - col("se.starts")).as("len"),
        md5(expr("substring(text, se.starts, se.ends - se.starts)")
          .cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** `d_cdc_dedup` — CROSS-DOCUMENT chunk-level dedup over the CDC
    * table: chunks whose bytes appear in more than one document, with
    * occurrence and document counts — the exact-substring dedup answer
    * at chunk granularity (the planted disclaimer's interior chunks
    * re-align across every doc carrying it, whatever its offset). One
    * map-side-combined groupBy on the chunk hash — O(distinct chunks)
    * state, never all-pairs. */
  def cdcDedup(s: SparkSession, d: String): DataFrame =
    cdcChunks(s, d)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max(col("len")).as("len"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_md5")

  // ---- k-anonymity release gate. ----

  private[graft] val AnonK = 5

  /** `t_k_anonymity` — the data-RELEASE side of the PII family: before a
    * corpus ships with per-document metadata attached, every
    * quasi-identifier equivalence class — here (lang, source,
    * 100-char length bucket), the standard "harmless columns that
    * re-identify in combination" — must hold at least [[AnonK]]
    * documents. Groups that fail try ONE generalization step up the
    * lattice (widen the bucket ×4, `source` kept — the minimal-loss
    * step; the coarser cell is derivable from the fine cell because
    * 400 = 4×100, so no second corpus pass); groups whose generalized
    * cell still has < k docs are suppressed rather than climbing
    * further. Output is the per-group action ledger (release /
    * generalize / suppress) with both class sizes — all three actions
    * are live on every fixture SF.
    *
    * The generalized class size counts ONLY failing fine classes: classes
    * verdicted `release` ship at fine granularity, so their documents are
    * never part of the published generalized equivalence class — summing
    * them in would let a generalized cell claim k-anonymity on documents
    * it does not actually contain (the released output could then hold
    * < k docs under mixed-granularity release). `n_docs_gen` is therefore
    * the size of the cell as it would actually be PUBLISHED.
    *
    * Scale shape: ONE corpus scan into the fine-grained groupBy; the
    * generalized class size is a window over the BOUNDED group domain
    * (∝ QI cardinality, never rows) — the `t_ks_drift` discipline.
    * All counts integer, so the ledger is hash-exact. */
  /** The quasi-identifier length bucket (100-char bins over `n_chars`) —
    * ONE definition shared by [[kAnonymity]]'s class grouping and the two
    * release compositions that join docs back to its classes
    * (`t_release_gate`, `t_release_board`): a bucketing change must move
    * all three joins together or the class join silently mismatches. */
  private[operators] def qiLenBucket: Column =
    floor(col("n_chars") / 100).cast("long")

  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source"), col("wide_bucket"))
    docs(s, d)
      .groupBy(col("lang"), col("source"), qiLenBucket.as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wide_bucket", floor(col("len_bucket") / 4).cast("long"))
      .withColumn("n_docs_gen",
        sum(when(col("n_docs") < AnonK, col("n_docs")).otherwise(0L)).over(w))
      .withColumn("action",
        when(col("n_docs") >= AnonK, "release")
          .when(col("n_docs_gen") >= AnonK, "generalize")
          .otherwise("suppress"))
      .select(col("lang"), col("source"), col("len_bucket"), col("n_docs"),
        col("n_docs_gen"), col("action"))
      .orderBy("lang", "source", "len_bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_k_anonymity" -> (kAnonymity _),
    "t_line_dedup" -> (lineDedup _),
    "t_cdc_chunks" -> (cdcChunks _),
    "t_cdc_chunks_gen" -> (cdcChunksGen _),
    "t_cdc_clean" -> (cdcClean _),
    "d_cdc_dedup" -> (cdcDedup _),
    "t_url_canonical" -> (urlCanonical _),
    "t_pii_redact" -> (piiRedact _),
    "t_mixture_sample" -> (mixtureSample _),
    "t_temperature_mixture" -> (temperatureMixture _),
    "t_dsir" -> (dsir _),
    "t_poisoned_text" -> (poisonedTextStats _),
  )

  private val sqlWords = "string_split(text, ' ')"

  /** DuckDB mirror of [[poisonedText]] (expects `doc_id`, `text` in
    * scope) — shared by the t_pii_redact oracle and the release-gate
    * flagship's oracle. ONE LINE: it embeds into stripMargin strings,
    * where a line-leading `||` would lose its first char. */
  private[graft] val sqlPoisoned: String =
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com host' || ' ' || CAST(doc_id % 223 AS VARCHAR) || '.'" +
      " || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'" +
      " || CAST((doc_id * 13) % 256 AS VARCHAR) || '.'" +
      " || CAST((doc_id * 29) % 251 AS VARCHAR)" +
      " WHEN doc_id % 3 = 1 THEN text || ' tel +1-555-'" +
      " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
      " ELSE text END"

  private val sqlLines =
    s"""ws AS (SELECT doc_id, $sqlWords AS w FROM documents),
       |lines AS (
       |  SELECT doc_id, CAST(i AS INT) AS line_idx,
       |         array_to_string(w[CAST(i*$LineW+1 AS INT):CAST(i*$LineW+$LineW AS INT)], ' ') AS line
       |  FROM (SELECT doc_id, w,
       |          unnest(range(0, CAST(ceil(len(w)/$LineW.0) AS BIGINT))) AS i
       |        FROM ws))""".stripMargin

  // the rolling window hash, expanded term-by-term (the sqlHex8 pattern):
  // Σ ascii(text[p+k]) · 31^(7−k), every intermediate inside BIGINT
  private val sqlCdcHash: String = (0 until CdcWindow).map { k =>
    s"CAST(ascii(substr(text, p + $k, 1)) AS BIGINT) * CAST(${CdcPow(k)} AS BIGINT)"
  }.mkString(" + ")

  // shared by t_cdc_chunks and d_cdc_dedup: the CDC chunk derivation —
  // planted disclaimer, interior cut points, [cut, next cut) spans
  private val sqlCdcChunks: String =
    s"""t AS (SELECT doc_id,
       |        CASE WHEN doc_id % 5 = 0 THEN text || ' $CdcDisclaimer'
       |             ELSE text END AS text
       |      FROM documents WHERE length(text) > 0),
       |pos AS (SELECT doc_id, text, p
       |        FROM t, LATERAL (SELECT unnest(range(2, length(text) - ${CdcWindow - 2})) AS p)),
       |cuts AS (SELECT doc_id, text, CAST(p AS INT) AS st FROM pos
       |         WHERE ($sqlCdcHash) % $CdcMask = 0),
       |starts AS (SELECT doc_id, text, 1 AS st FROM t
       |           UNION ALL SELECT doc_id, text, st FROM cuts),
       |chunks AS (SELECT doc_id, st,
       |             CAST(COALESCE(LEAD(st) OVER w, length(text) + 1) - st AS INT) AS len,
       |             CAST(row_number() OVER w - 1 AS INT) AS chunk_idx,
       |             text
       |           FROM starts WINDOW w AS (PARTITION BY doc_id ORDER BY st))""".stripMargin

  private lazy val cdcChunksOracle: String =
    s"""WITH $sqlCdcChunks
       |SELECT doc_id, chunk_idx, CAST(st AS INT) AS start, len,
       |       md5(substr(text, st, len)) AS chunk_md5
       |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin

  val oracle: Map[String, String] = Map(
    // fine-grained QI classes, generalized class size as a window over
    // the group domain — counting only FAILING fine classes (released
    // classes never join the published generalized cell), the three-way
    // release verdict; window-SUM is HUGEINT in DuckDB — cast to BIGINT
    "t_k_anonymity" ->
      s"""WITH l0 AS (
         |  SELECT lang, source, n_chars // 100 AS len_bucket,
         |         CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1, 2, 3),
         |g AS (
         |  SELECT *, CAST(SUM(CASE WHEN n_docs < $AnonK THEN n_docs ELSE 0 END)
         |           OVER (PARTITION BY lang, source, len_bucket // 4) AS BIGINT)
         |           AS n_docs_gen
         |  FROM l0)
         |SELECT lang, source, len_bucket, n_docs, n_docs_gen,
         |       CASE WHEN n_docs >= $AnonK THEN 'release'
         |            WHEN n_docs_gen >= $AnonK THEN 'generalize'
         |            ELSE 'suppress' END AS action
         |FROM g
         |ORDER BY lang NULLS FIRST, source NULLS FIRST, len_bucket NULLS FIRST""".stripMargin,
    // same synthesis, same string-level canonicalization: lowered
    // scheme/host, www stripped, query dropped, trailing slash trimmed
    "t_url_canonical" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
         |    (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
         |    '.example.com/docs/' || CAST(doc_id % 40 AS VARCHAR) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
         |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=crawl'
         |          ELSE '' END) AS url
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lower(split_part(url, '://', 1)) AS scheme,
         |         substr(url, strpos(url, '://') + 3) AS rest
         |  FROM u),
         |c AS (
         |  SELECT doc_id, scheme || '://' ||
         |    regexp_replace(lower(split_part(rest, '/', 1)), '^www\\.', '') ||
         |    rtrim(split_part(substr(rest, strpos(rest, '/')), '?', 1), '/')
         |      AS canonical_url
         |  FROM r)
         |SELECT canonical_url, COUNT(*) AS n_variants,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
         |FROM c GROUP BY canonical_url
         |ORDER BY canonical_url""".stripMargin,
    "t_cdc_chunks" -> cdcChunksOracle,
    // one oracle, two execution forms — flatMap kernel and codegen'd
    // expression must land on identical rows
    "t_cdc_chunks_gen" -> cdcChunksOracle,
    // heavy set by distinct-doc count over chunk bytes; survivors
    // reassemble in chunk order; all-boilerplate docs pin md5('')
    "t_cdc_clean" ->
      s"""WITH $sqlCdcChunks,
         |hashed AS (SELECT doc_id, chunk_idx,
         |                  substr(text, st, len) AS chunk,
         |                  md5(substr(text, st, len)) AS chunk_md5
         |           FROM chunks),
         |heavy AS (SELECT chunk_md5 FROM (
         |    SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd
         |    FROM hashed GROUP BY chunk_md5)
         |  WHERE nd >= $BoilerplateMinDocs),
         |kept AS (SELECT doc_id, chunk_idx, chunk FROM hashed
         |         WHERE chunk_md5 NOT IN (SELECT chunk_md5 FROM heavy)),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |               md5(string_agg(chunk, '' ORDER BY chunk_idx)) AS clean_md5
         |        FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
         |        FROM hashed GROUP BY doc_id)
         |SELECT t.doc_id, t.n_chunks,
         |       COALESCE(a.n_kept, 0) AS n_kept,
         |       t.n_chunks - COALESCE(a.n_kept, 0) AS n_dropped,
         |       COALESCE(a.clean_md5, md5('')) AS clean_md5
         |FROM tot t LEFT JOIN agg a USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "d_cdc_dedup" ->
      s"""WITH $sqlCdcChunks,
         |hashed AS (SELECT doc_id, md5(substr(text, st, len)) AS chunk_md5, len
         |           FROM chunks)
         |SELECT chunk_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |       CAST(MAX(len) AS INT) AS len
         |FROM hashed GROUP BY chunk_md5
         |HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY chunk_md5""".stripMargin,
    "t_line_dedup" ->
      s"""WITH $sqlLines,
         |heavy AS (SELECT line FROM (
         |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
         |  WHERE nd >= $BoilerplateMinDocs),
         |kept AS (SELECT doc_id, line_idx, line FROM lines
         |         WHERE line NOT IN (SELECT line FROM heavy)),
         |agg AS (SELECT doc_id,
         |               array_to_string(list(line ORDER BY line_idx), ' ') AS clean_text,
         |               CAST(COUNT(*) AS INT) AS n_kept
         |        FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lines FROM lines GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |       coalesce(a.n_kept, 0) AS n_kept,
         |       t.n_lines - coalesce(a.n_kept, 0) AS n_dropped
         |FROM tot t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sqlPoisoned AS t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$IpRe')) AS INT) AS n_ips,
         |       CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
         |       regexp_replace(regexp_replace(regexp_replace(t,
         |         '$EmailRe', '<EMAIL>', 'g'),
         |         '$IpRe', '<IP>', 'g'),
         |         '$PhoneRe', '<PHONE>', 'g') AS clean_text
         |FROM p ORDER BY doc_id""".stripMargin,
    "t_poisoned_text" ->
      s"""WITH p AS (
         |  SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS poison_mode,
         |         CASE WHEN doc_id % 7 = 0 THEN NULL
         |              WHEN doc_id % 7 = 1 THEN ''
         |              WHEN doc_id % 7 = 2 THEN '   '
         |              WHEN doc_id % 7 = 3 THEN text || ' café 中文 🚀'
         |              ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id, poison_mode,
         |       CAST(t IS NOT NULL AS INT) AS has_text,
         |       CAST(length(t) AS INT) AS n_chars,
         |       CAST(len(string_split(t, ' ')) AS INT) AS n_tokens,
         |       CAST(len(list_distinct(string_split(t, ' '))) AS INT) AS n_distinct
         |FROM p ORDER BY doc_id""".stripMargin,
    "t_temperature_mixture" ->
      s"""WITH n AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(floor(COUNT(*) / $SampleHalf) AS BIGINT) AS target FROM documents),
         |z AS (SELECT ${graft.QueryDsl.sqlDsum("sqrt(CAST(n_l AS DOUBLE))")} AS z FROM n),
         |r AS (SELECT lang,
         |        CAST(floor(least(
         |          CAST(target AS DOUBLE) * (sqrt(CAST(n_l AS DOUBLE)) / z)
         |            / CAST(n_l AS DOUBLE),
         |          1.0) * $RateScale.0) AS BIGINT) AS thr
         |      FROM n CROSS JOIN tot CROSS JOIN z)
         |SELECT doc_id, lang
         |FROM (SELECT doc_id, lang,
         |        ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % $RateScale AS u
         |      FROM documents) d
         |JOIN r USING (lang)
         |WHERE u < thr
         |ORDER BY doc_id""".stripMargin,
    // the DSIR pipeline rebuilt term-for-term: bigram bucket hash, both
    // add-one smoothed distributions over the full bucket domain, 2^20
    // fixed-point probabilities (// pairs with Spark div), the linear
    // discriminant, and the above-corpus-mean cross-multiplied keep
    "t_dsir" ->
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |bg AS (SELECT doc_id, lang, ws[i] || '_' || ws[i+1] AS g
         |       FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
         |tk AS (SELECT doc_id, lang,
         |         ${graft.QueryDsl.sqlHex8("md5('g_' || g)", 1)} % $DsirBuckets AS b
         |       FROM bg),
         |tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS np FROM tk
         |        WHERE lang = 'en' GROUP BY b),
         |raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nq FROM tk GROUP BY b),
         |dom AS (SELECT unnest(range(0, $DsirBuckets)) AS b),
         |dist AS (SELECT dom.b, COALESCE(np, 0) + 1 AS p, COALESCE(nq, 0) + 1 AS q
         |         FROM dom LEFT JOIN tgt ON dom.b = tgt.b
         |                  LEFT JOIN raw ON dom.b = raw.b),
         |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tp, CAST(SUM(q) AS BIGINT) AS tq
         |        FROM dist),
         |fx AS (SELECT b, p * $DsirFx // tp AS pfx, q * $DsirFx // tq AS qfx
         |       FROM dist, tot),
         |db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              CAST(SUM(c * (pfx - qfx)) AS BIGINT) AS dsir_score
         |       FROM db JOIN fx ON db.b = fx.b GROUP BY 1),
         |cp AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tn,
         |              CAST(SUM(dsir_score) AS BIGINT) AS ts FROM pd)
         |SELECT doc_id, n_tokens, dsir_score,
         |       CAST(CASE WHEN dsir_score * cp.tn > cp.ts * n_tokens
         |                 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM pd, cp ORDER BY doc_id""".stripMargin,
    "t_mixture_sample" ->
      s"""WITH n AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
         |tot AS (SELECT CAST(floor(COUNT(*) / $SampleHalf) AS BIGINT) AS target FROM documents),
         |r AS (SELECT source,
         |        CAST(floor(least(
         |          CAST(target AS DOUBLE) *
         |            (CASE WHEN CAST(substr(source, 4) AS INT) < 4 THEN 0.10
         |                  WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.06
         |                  ELSE 0.024 END) / CAST(n_s AS DOUBLE),
         |          1.0) * $RateScale.0) AS BIGINT) AS thr
         |      FROM n CROSS JOIN tot)
         |SELECT doc_id, source
         |FROM (SELECT doc_id, source,
         |        ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % $RateScale AS u
         |      FROM documents) d
         |JOIN r USING (source)
         |WHERE u < thr
         |ORDER BY doc_id""".stripMargin,
  )
}
