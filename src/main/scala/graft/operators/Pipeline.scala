package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data pass — the reason the operator
  * families exist as a library: train-split selection → quality gate →
  * near-dup removal → benchmark decontamination → boilerplate-line
  * removal → fixed-window sequence packing, ONE lazy plan from the corpus
  * scan to the packed spans, every stage reusing the exact operator the
  * standalone query runs (same thresholds, same hashes), and the whole
  * composition hash-checked against a DuckDB oracle that recomputes all
  * six stages.
  *
  * Stage order is the contract (it changes the output): membership
  * filters (split/quality/dup/contamination) apply to ORIGINAL text;
  * line-cleaning runs over the surviving corpus only (boilerplate counts
  * are not inflated by docs already rejected); packing runs over CLEANED
  * text, so chunk geometry reflects what a trainer would actually see.
  * Docs cleaned down to nothing drop out (no empty sequences).
  *
  * Scale shape: the filters are the operators' own shapes (narrow maps +
  * broadcast anti-joins of small reject sets); `localCheckpoint` pins the
  * survivor set so the three downstream consumers (line counting, the
  * anti-join probe, packing) don't re-execute the LSH/gram subplans; the
  * packing window stays per-shard. No stage adds a new scale risk beyond
  * its standalone form.
  */
object Pipeline {

  def e2ePack(s: SparkSession, d: String): DataFrame = e2ePackWith(s, d, None)

  /** The same e2e plan with SINGLE-PASS QC metrics: an `observe` node on
    * the survivor set makes the counts a side product of the run itself —
    * at 100 TB a separate QC scan is a second full read of the corpus,
    * so production pipelines piggyback their dashboard numbers on the
    * training pass exactly like this. Metrics (survivor count, survivor
    * chars) are available from the Observation as soon as the survivor
    * checkpoint materializes; ObservabilitySpec asserts they equal an
    * independent recomputation. */
  def e2ePackObserved(s: SparkSession, d: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("pipeline_qc")
    (e2ePackWith(s, d, Some(obs)), obs)
  }

  /** The survivor set (train split ∩ quality gate − dups − contamination)
    * as a LAZY plan — split out so PipelineSpec can assert its join
    * strategy before the checkpoint materializes it. */
  private[operators] def survivorFrame(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100
    val train = Tables.documents(s, d)
      .filter(bucket < 98)
      .select(col("doc_id"), col("text"))
    val qualityOk = TextAnalysis.quality(s, d)
      .filter(col("quality_score") >= 0.6).select("doc_id")
    // Dup reject set: read from the STAGED pair table (built once per
    // corpus, bit-exact vs the inline pipeline) and joined WITHOUT a
    // broadcast hint — the set is corpus-proportional (unlike
    // `contaminated`, bounded by the held-out suite, which broadcasts
    // safely), so at 10B docs a forced broadcast ships hundreds of
    // millions of ids to every executor; let the planner pick the
    // anti-join strategy from actual sizes (AQE).
    val dups = Dedup.stagedNeardupPairs(s, d).select(col("b").as("doc_id")).distinct()
    val contaminated = TextAnalysis.decontaminate(s, d).select("doc_id")
    train
      .join(qualityOk, "doc_id")
      .join(dups, Seq("doc_id"), "left_anti")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
  }

  private def e2ePackWith(
      s: SparkSession, d: String,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val surRaw = survivorFrame(s, d)
    val surObserved = obs match {
      case Some(o) => surRaw.observe(o,
        count(lit(1)).as("n_survivors"),
        sum(length(col("text"))).as("survivor_chars"))
      case None => surRaw
    }
    // three consumers below — without this the LSH/gram subplans would
    // execute three times (the csvRoundtrip precedent); the eager
    // checkpoint is also the action that fires the observed metrics
    val survivors = graft.QueryDsl.pin(surObserved)
    val cleaned = CorpusClean.cleanedOf(survivors)
      .select(col("doc_id"), col("clean_text").as("text"))
    TextAnalysis.packSpansOf(cleaned)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("chunk_first"), col("chunk_last"))
      .orderBy("doc_id")
  }

  /** `t_pipeline_ledger` — the PER-STAGE DROP LEDGER from ONE pass: an
    * `observe` node after every gate makes each stage's row count a
    * side product of the single run (the [[e2ePackObserved]] argument,
    * per stage) — at 100 TB a per-stage recount is N extra full scans,
    * so production pipelines bill their funnel dashboard exactly this
    * way. Stages: length gate → language gate → exact dedup (first-id
    * winner per content digest). The ledger itself is the oracle-checked
    * output: (stage, rows_in, rows_out, dropped). */
  def pipelineLedger(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Observation
    val Seq(o0, o1, o2, o3) = Seq.fill(4)(Observation())
    val input = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
      .observe(o0, count(lit(1)).as("n"))
    val g1 = input.filter(length(col("text")) >= 100)
      .observe(o1, count(lit(1)).as("n"))
    val g2 = g1.filter(col("lang").isin("analytics", "storage"))
      .observe(o2, count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dig")).orderBy(col("doc_id"))
    val g3 = g2.withColumn("dig", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .observe(o3, count(lit(1)).as("n"))
    g3.write.format("noop").mode("overwrite").save() // the ONE pass
    def n(o: Observation): Long = o.get("n").asInstanceOf[Long]
    Seq(
      ("1_length_gate", n(o0), n(o1)),
      ("2_lang_gate", n(o1), n(o2)),
      ("3_exact_dedup", n(o2), n(o3)))
      .toDF("stage", "rows_in", "rows_out")
      .withColumn("dropped", col("rows_in") - col("rows_out"))
      .orderBy("stage")
  }

  /** `t_release_gate` — the "PUBLISH THIS CORPUS" flagship, completing
    * the composed-pipeline quartet (train `t_pipeline_e2e`, multimodal
    * `m_pipeline_e2e`, serve `v_rag_e2e`): the release-side operators
    * chained into one pass with a per-source funnel ledger, every stage
    * reusing the standalone query's exact expressions —
    *
    *   1. k-ANONYMITY gate ([[CorpusClean.kAnonymity]]): docs whose fine
    *      QI class is verdicted `suppress` are withheld;
    *   2. DEDUP POLICY ([[Dedup.policyE2e]]): of the remainder, only
    *      `keep` verdicts publish (drop = provable copy, review = held
    *      for a human — neither ships);
    *   3. PII REDACTION ([[CorpusClean.piiRedactOf]]): the SURVIVING
    *      corpus only is redacted — the regex scan never touches
    *      rejected docs;
    *   4. RELEASE CARD ([[TextAnalysis.datasetCard]]'s discipline): one
    *      row per source — the funnel counts (in / anon-suppressed /
    *      dedup-dropped / released), PII redaction volume, published
    *      token count (over REDACTED text — what actually ships), and
    *      decimal-exact mean quality of the released docs.
    *
    * Stage order is the contract: anonymity is judged on corpus-wide
    * class sizes (pre-dedup — the ledger a privacy officer signs covers
    * what was COLLECTED), dedup runs on what anonymity admits, redaction
    * transforms only what ships.
    *
    * Scale shape: the per-doc verdict frame is NARROW (ids + three int
    * flags, no text) and pinned once for its two consumers; the QI class
    * ledger broadcasts (O(classes)); the policy verdicts come off the
    * staged pair/cluster tables; the released-side scan is the corpus
    * read the publish step pays anyway. avg_quality is a null for a
    * source with zero released docs — mirrored LEFT JOIN in the oracle. */
  def textVerdictStageDir(sfDir: String): String = graft.Staging.dir("text_verdicts_v1", sfDir)

  /** The per-doc TEXT VERDICT frame (doc_id, source, k-anonymity action,
    * dedup-policy verdict) staged once per corpus fingerprint (r21) — the
    * symmetric move to the media leg's staged policy inputs: both release
    * compositions (`t_release_gate`, `t_release_board`) re-ran the full
    * kAnonymity ladder + policyE2e chain (quality scan, cluster argmax,
    * pair-endpoint aggregation) per run even though the frame is a pure
    * corpus function. The chains stay live, measured, and oracle-checked
    * in `t_k_anonymity` and `d_policy_e2e`; the compositions read
    * build-once state, like every staged pair/shingle/LM table. */
  /** Code-version token folded into the stage fingerprint (r21 advice):
    * the staged table is a function of kAnonymity + policyE2e + the
    * verdict join — bump this when any of that derivation changes, or the
    * stage silently serves the old logic until an oracle mismatch. */
  private val TextVerdictStageVersion = "kanon1:policy1:join1"

  private def ensureTextVerdictsStaged(s: SparkSession, d: String): String = {
    val dir = textVerdictStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet"), TextVerdictStageVersion) {
      val anon = CorpusClean.kAnonymity(s, d)
        .select(col("lang"), col("source"), col("len_bucket"), col("action"))
      Tables.documents(s, d)
        .withColumn("len_bucket", CorpusClean.qiLenBucket)
        .join(broadcast(anon), Seq("lang", "source", "len_bucket"))
        .join(Dedup.policyE2e(s, d).select(col("doc_id"), col("verdict")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("action"), col("verdict"))
        .write.mode("overwrite").parquet(dir + "/verdicts")
    }: Unit
    dir + "/verdicts"
  }

  def releaseGate(s: SparkSession, d: String): DataFrame = {
    // narrow staged read (doc_id, source, action, verdict): two consumers
    // below re-read the tiny parquet instead of pinning — the r20 shape's
    // localCheckpoint existed to avoid re-running the verdict chains,
    // which now run at staging build time only
    val flags = Tables.parquet(s, ensureTextVerdictsStaged(s, d))
      .select(col("doc_id"), col("source"),
        (col("action") === "suppress").cast("int").as("anon_suppressed"),
        ((col("action") =!= "suppress") && (col("verdict") =!= "keep"))
          .cast("int").as("dedup_dropped"),
        ((col("action") =!= "suppress") && (col("verdict") === "keep"))
          .cast("int").as("released"))
    val ledger = flags.groupBy(col("source")).agg(
      count(lit(1)).as("n_in"),
      sum(col("anon_suppressed")).cast("long").as("n_anon_suppressed"),
      sum(col("dedup_dropped")).cast("long").as("n_dedup_dropped"),
      sum(col("released")).cast("long").as("n_released"))
    val relDocs = Tables.documents(s, d)
      .join(flags.filter(col("released") === 1).select(col("doc_id")), "doc_id")
    val relAgg = CorpusClean.piiRedactOf(relDocs.select(col("doc_id"), col("text")))
      .join(relDocs.select(col("doc_id"), col("source")), "doc_id")
      .join(TextAnalysis.quality(s, d).select(col("doc_id"), col("quality_score")), "doc_id")
      .groupBy(col("source"))
      .agg(
        sum((col("n_emails") + col("n_ips") + col("n_phones")).cast("long")).as("n_pii"),
        sum(size(split(col("clean_text"), " ")).cast("long")).as("total_tokens"),
        graft.QueryDsl.davg4(col("quality_score")).as("avg_quality"))
    ledger.join(relAgg, Seq("source"), "left")
      .select(col("source"), col("n_in"), col("n_anon_suppressed"),
        col("n_dedup_dropped"), col("n_released"),
        coalesce(col("n_pii"), lit(0L)).as("n_pii"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        col("avg_quality"))
      .orderBy("source")
  }

  /** `t_release_board` — the UNIFIED CROSS-MODAL RELEASE BOARD, the last
    * cell of the composition matrix: [[releaseGate]]'s text verdicts and
    * [[graft.multimodal.Media.mediaPolicy]]'s media verdicts rolled up to
    * ONE ledger at (source × modality) grain — the single table a release
    * review reads to sign off a multimodal corpus. Each leg reuses its
    * flagship's exact operators (kAnonymity + policyE2e for text; the
    * three banded near-dup arms + exact payload dedup for media); this
    * query only re-bins their verdicts into a uniform funnel:
    *
    *   - `n_privacy_blocked` — k-anonymity suppressions (text only:
    *     media carries no quasi-identifier ladder, so 0 by construction);
    *   - `n_dedup_dropped`   — provable copies (text: cross-source
    *     near-dup verdict `drop`; media: byte-identical payload witness);
    *   - `n_review`          — held for a human (perceptual/minhash
    *     evidence without proof);
    *   - `n_released`        — what ships. Row invariant: the four
    *     buckets partition `n_in`.
    *
    * Media items map to their owning source through the doc id that
    * generated them (mirror-leg ids undo the +10⁹ offset first).
    *
    * Scale shape: both verdict frames are NARROW (ids + a verdict tag, no
    * payloads — the media leg's digests/pairs come off mediaPolicy's
    * pinned frames, the text leg's off the staged pair tables); the
    * documents join supplies one string column; the rollup is a map-side-
    * combining groupBy to O(sources × modalities) rows. */
  def releaseBoard(s: SparkSession, d: String): DataFrame = {
    val text = Tables.parquet(s, ensureTextVerdictsStaged(s, d))
      .select(col("source"), lit("text").as("modality"),
        (col("action") === "suppress").cast("int").as("pb"),
        ((col("action") =!= "suppress") && (col("verdict") === "drop"))
          .cast("int").as("dd"),
        ((col("action") =!= "suppress") && (col("verdict") === "review"))
          .cast("int").as("rv"),
        ((col("action") =!= "suppress") && (col("verdict") === "keep"))
          .cast("int").as("rl"))
    val media = graft.multimodal.Media.mediaPolicy(s, d)
      .select(col("modality"), col("media_id"), col("verdict"))
      .withColumn("base_id",
        when(col("media_id") >= graft.multimodal.Media.MirrorOffset,
          col("media_id") - graft.multimodal.Media.MirrorOffset)
          .otherwise(col("media_id")))
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("base_id"), col("source")), "base_id")
      .select(col("source"), col("modality"),
        lit(0).as("pb"),
        (col("verdict") === "drop").cast("int").as("dd"),
        (col("verdict") === "review").cast("int").as("rv"),
        (col("verdict") === "keep").cast("int").as("rl"))
    text.unionByName(media)
      .groupBy(col("source"), col("modality"))
      .agg(
        count(lit(1)).as("n_in"),
        sum(col("pb")).cast("long").as("n_privacy_blocked"),
        sum(col("dd")).cast("long").as("n_dedup_dropped"),
        sum(col("rv")).cast("long").as("n_review"),
        sum(col("rl")).cast("long").as("n_released"))
      .orderBy("source", "modality")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_release_board" -> (releaseBoard _),
    "t_release_gate" -> (releaseGate _),
    "t_pipeline_ledger" -> (pipelineLedger _),
    "t_pipeline_e2e" -> (e2ePack _),
  )

  private val sqlWords = "string_split(text, ' ')"
  private def hex8(m: String, p: Int): String = graft.QueryDsl.sqlHex8(m, p)

  /** The shared text-verdict chain: near-dup closure + policy verdict
    * (the d_policy_e2e CTEs) and the k-anonymity action ladder (the
    * t_k_anonymity CTEs with the failing-classes-only generalized size).
    * Factored as a CTE body (through `act`, no final SELECT) because two
    * oracles consume it: [[releaseGateOracle]] appends the per-source
    * funnel + redaction card, and [[releaseBoardOracle]] appends the
    * media policy chain for the cross-modal board. */
  private lazy val textVerdictCte: String = {
    val k = CorpusClean.AnonK
    Dedup.closureCte +
      s""",
         |nd2 AS (
         |  SELECT c.a, c.b
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
         |  WHERE CAST(list_sum(list_transform(range(0, 16),
         |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
         |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
         |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cl USING (doc_id)),
         |qual AS (
         |  SELECT doc_id,
         |         0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
         |           + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, x -> x IN ('a','the'))) AS DOUBLE)
         |                          / CAST(len($sqlWords) AS DOUBLE))
         |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |                          / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS quality_score
         |  FROM documents),
         |m AS (SELECT l.cluster_id, l.doc_id, q.quality_score,
         |             row_number() OVER (PARTITION BY l.cluster_id
         |                                ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn
         |      FROM lab l JOIN qual q USING (doc_id)),
         |can AS (SELECT cluster_id, doc_id AS canonical_id FROM m WHERE rn = 1),
         |px AS (SELECT n.a, n.b,
         |              CASE WHEN da.source <> db.source THEN 1 ELSE 0 END AS x
         |       FROM nd2 n JOIN documents da ON da.doc_id = n.a
         |                  JOIN documents db ON db.doc_id = n.b),
         |ev AS (SELECT doc_id, CAST(MAX(x) AS INT) AS cross_src
         |       FROM (SELECT a AS doc_id, x FROM px UNION ALL SELECT b, x FROM px)
         |       GROUP BY doc_id),
         |pv AS (SELECT m.doc_id,
         |              CASE WHEN m.doc_id = can.canonical_id THEN 'keep'
         |                   WHEN COALESCE(ev.cross_src, 0) = 1 THEN 'drop'
         |                   ELSE 'review' END AS verdict
         |       FROM m JOIN can USING (cluster_id)
         |       LEFT JOIN ev ON ev.doc_id = m.doc_id),
         |l0 AS (SELECT lang, source, n_chars // 100 AS len_bucket,
         |              CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1, 2, 3),
         |g AS (SELECT *, CAST(SUM(CASE WHEN n_docs < $k THEN n_docs ELSE 0 END)
         |             OVER (PARTITION BY lang, source, len_bucket // 4) AS BIGINT) AS n_docs_gen
         |      FROM l0),
         |act AS (SELECT lang, source, len_bucket,
         |               CASE WHEN n_docs >= $k THEN 'release'
         |                    WHEN n_docs_gen >= $k THEN 'generalize'
         |                    ELSE 'suppress' END AS action
         |        FROM g)""".stripMargin
  }

  /** All four release stages recomputed: the shared text-verdict chain
    * ([[textVerdictCte]]), then the per-doc funnel flags, the
    * poisoned-text redaction over released docs only, and the per-source
    * card. */
  private lazy val releaseGateOracle: String =
    textVerdictCte +
      s""",
         |fl AS (SELECT d.doc_id, d.source, d.text,
         |              CASE WHEN a.action = 'suppress' THEN 1 ELSE 0 END AS sup,
         |              CASE WHEN a.action <> 'suppress' AND p.verdict <> 'keep'
         |                   THEN 1 ELSE 0 END AS dd,
         |              CASE WHEN a.action <> 'suppress' AND p.verdict = 'keep'
         |                   THEN 1 ELSE 0 END AS rel
         |       FROM documents d
         |       JOIN act a ON a.lang = d.lang AND a.source = d.source
         |                 AND a.len_bucket = d.n_chars // 100
         |       JOIN pv p ON p.doc_id = d.doc_id),
         |led AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in,
         |               CAST(SUM(sup) AS BIGINT) AS n_anon_suppressed,
         |               CAST(SUM(dd) AS BIGINT) AS n_dedup_dropped,
         |               CAST(SUM(rel) AS BIGINT) AS n_released
         |        FROM fl GROUP BY source),
         |pz AS (SELECT doc_id, source, ${CorpusClean.sqlPoisoned} AS t
         |       FROM fl WHERE rel = 1),
         |red AS (SELECT doc_id, source,
         |               len(regexp_extract_all(t, '${CorpusClean.EmailRe}'))
         |                 + len(regexp_extract_all(t, '${CorpusClean.IpRe}'))
         |                 + len(regexp_extract_all(t, '${CorpusClean.PhoneRe}')) AS n_pii,
         |               len(string_split(regexp_replace(regexp_replace(regexp_replace(t,
         |                 '${CorpusClean.EmailRe}', '<EMAIL>', 'g'),
         |                 '${CorpusClean.IpRe}', '<IP>', 'g'),
         |                 '${CorpusClean.PhoneRe}', '<PHONE>', 'g'), ' ')) AS tok
         |        FROM pz),
         |ra AS (SELECT r.source,
         |              CAST(SUM(r.n_pii) AS BIGINT) AS n_pii,
         |              CAST(SUM(r.tok) AS BIGINT) AS total_tokens,
         |              ${graft.QueryDsl.sqlDavg4("q.quality_score")} AS avg_quality
         |       FROM red r JOIN qual q USING (doc_id) GROUP BY r.source)
         |SELECT l.source, l.n_in, l.n_anon_suppressed, l.n_dedup_dropped,
         |       l.n_released, COALESCE(ra.n_pii, 0) AS n_pii,
         |       COALESCE(ra.total_tokens, 0) AS total_tokens, ra.avg_quality
         |FROM led l LEFT JOIN ra USING (source)
         |ORDER BY l.source""".stripMargin

  /** Both flagship verdict chains in ONE composed WITH: the text chain
    * ([[textVerdictCte]]: MinHash closure → policy verdict, k-anon action
    * ladder) plus the media chain
    * ([[graft.multimodal.Media.policyCte]]: three fingerprint arms →
    * exact/near evidence), then the per-row funnel flags of each modality
    * and the (source × modality) rollup. The media→source mapping undoes
    * the mirror-leg id offset (media_id − 10⁹) to find the owning doc. */
  private lazy val releaseBoardOracle: String =
    textVerdictCte + ",\n" +
      graft.multimodal.Media.policyCte.stripPrefix("WITH ") +
      s""",
         |trow AS (SELECT d.source, 'text' AS modality,
         |                CASE WHEN a.action = 'suppress' THEN 1 ELSE 0 END AS pb,
         |                CASE WHEN a.action <> 'suppress' AND p.verdict = 'drop'
         |                     THEN 1 ELSE 0 END AS dd,
         |                CASE WHEN a.action <> 'suppress' AND p.verdict = 'review'
         |                     THEN 1 ELSE 0 END AS rv,
         |                CASE WHEN a.action <> 'suppress' AND p.verdict = 'keep'
         |                     THEN 1 ELSE 0 END AS rl
         |         FROM documents d
         |         JOIN act a ON a.lang = d.lang AND a.source = d.source
         |                   AND a.len_bucket = d.n_chars // 100
         |         JOIN pv p ON p.doc_id = d.doc_id),
         |mverd AS (SELECT i.modality, i.media_id,
         |                 CASE WHEN ex.exact_lo IS NOT NULL THEN 'drop'
         |                      WHEN ne.near_lo IS NOT NULL THEN 'review'
         |                      ELSE 'keep' END AS verdict
         |          FROM items i
         |          LEFT JOIN ex ON ex.modality = i.modality AND ex.media_id = i.media_id
         |          LEFT JOIN ne ON ne.modality = i.modality AND ne.media_id = i.media_id),
         |mrow AS (SELECT d.source, mv.modality,
         |                0 AS pb,
         |                CASE WHEN mv.verdict = 'drop' THEN 1 ELSE 0 END AS dd,
         |                CASE WHEN mv.verdict = 'review' THEN 1 ELSE 0 END AS rv,
         |                CASE WHEN mv.verdict = 'keep' THEN 1 ELSE 0 END AS rl
         |         FROM mverd mv
         |         JOIN documents d ON d.doc_id =
         |           CASE WHEN mv.media_id >= ${graft.multimodal.Media.MirrorOffset}
         |                THEN mv.media_id - ${graft.multimodal.Media.MirrorOffset}
         |                ELSE mv.media_id END),
         |brd AS (SELECT * FROM trow UNION ALL SELECT * FROM mrow)
         |SELECT source, modality, CAST(COUNT(*) AS BIGINT) AS n_in,
         |       CAST(SUM(pb) AS BIGINT) AS n_privacy_blocked,
         |       CAST(SUM(dd) AS BIGINT) AS n_dedup_dropped,
         |       CAST(SUM(rv) AS BIGINT) AS n_review,
         |       CAST(SUM(rl) AS BIGINT) AS n_released
         |FROM brd GROUP BY source, modality
         |ORDER BY source, modality""".stripMargin

  val oracle: Map[String, String] = Map(
    "t_release_board" -> releaseBoardOracle,
    "t_release_gate" -> releaseGateOracle,
    // the funnel recomputed per stage: the one-pass observed counts
    // must equal the stage-by-stage recount
    "t_pipeline_ledger" ->
      """WITH s1 AS (SELECT * FROM documents WHERE length(text) >= 100),
        |s2 AS (SELECT * FROM s1 WHERE lang IN ('analytics', 'storage')),
        |c0 AS (SELECT COUNT(*) AS n FROM documents),
        |c1 AS (SELECT COUNT(*) AS n FROM s1),
        |c2 AS (SELECT COUNT(*) AS n FROM s2),
        |c3 AS (SELECT COUNT(DISTINCT md5(text)) AS n FROM s2)
        |SELECT '1_length_gate' AS stage, c0.n AS rows_in, c1.n AS rows_out,
        |       c0.n - c1.n AS dropped FROM c0, c1
        |UNION ALL
        |SELECT '2_lang_gate', c1.n, c2.n, c1.n - c2.n FROM c1, c2
        |UNION ALL
        |SELECT '3_exact_dedup', c2.n, c3.n, c2.n - c3.n FROM c2, c3
        |ORDER BY stage""".stripMargin,
    // recomputes all six stages: sig/cand (shared sigCte), dup set,
    // content-hash split buckets, quality score, 5-gram contamination,
    // line cleaning over survivors, md5-order packing of cleaned text
    "t_pipeline_e2e" ->
      (Dedup.sigCte +
        s""",
           |dups AS (
           |  SELECT DISTINCT c.b AS doc_id
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |sp AS (SELECT doc_id, ${hex8("md5(text)", 1)} % 100 AS bucket FROM documents),
           |q AS (
           |  SELECT doc_id,
           |         0.5 * least(CAST(len($sqlWords) AS DOUBLE) / 100.0, 1.0)
           |           + 0.3 * (1.0 - CAST(len(list_filter($sqlWords, w -> w IN ('a','the'))) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE))
           |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |                          / CAST(len($sqlWords) AS DOUBLE)) / 6.0, 1.0) AS quality_score
           |  FROM documents),
           |dg AS (SELECT doc_id, ${hex8("md5(text)", 1)} % 100 AS bucket,
           |         unnest(list_distinct(list_transform(range(0, len($sqlWords)-4),
           |           i -> md5(array_to_string(($sqlWords)[i+1:i+5],' '))))) AS g5
           |       FROM documents WHERE len($sqlWords) >= 5),
           |ev AS (SELECT DISTINCT g5 FROM dg WHERE bucket >= 98),
           |contaminated AS (SELECT DISTINCT doc_id FROM dg JOIN ev USING (g5) WHERE bucket < 98),
           |surv AS (
           |  SELECT d.doc_id, d.text
           |  FROM documents d JOIN sp USING (doc_id) JOIN q USING (doc_id)
           |  WHERE sp.bucket < 98 AND q.quality_score >= 0.6
           |    AND d.doc_id NOT IN (SELECT doc_id FROM dups)
           |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
           |sw AS (SELECT doc_id, $sqlWords AS w FROM surv),
           |slines AS (
           |  SELECT doc_id, CAST(i AS INT) AS line_idx,
           |         array_to_string(w[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ') AS line
           |  FROM (SELECT doc_id, w,
           |          unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS i
           |        FROM sw)),
           |sheavy AS (SELECT line FROM (
           |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM slines GROUP BY line)
           |  WHERE nd >= 3),
           |skept AS (SELECT doc_id, line_idx, line FROM slines
           |          WHERE line NOT IN (SELECT line FROM sheavy)),
           |clean AS (SELECT doc_id,
           |                 array_to_string(list(line ORDER BY line_idx), ' ') AS ct
           |          FROM skept GROUP BY doc_id),
           |t AS (SELECT doc_id, md5(ct) AS m,
           |             ${hex8("md5(ct)", 1)} % ${TextAnalysis.PackShards} AS shard,
           |             len(string_split(ct, ' ')) AS tok FROM clean),
           |c AS (SELECT doc_id, shard, CAST(tok AS INT) AS n_tokens,
           |             CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY m, doc_id
           |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |      FROM t)
           |SELECT doc_id, shard, n_tokens,
           |       CAST(floor((cum - n_tokens) / ${TextAnalysis.PackCtx}.0) AS BIGINT) AS chunk_first,
           |       CAST(floor((cum - 1) / ${TextAnalysis.PackCtx}.0) AS BIGINT) AS chunk_last
           |FROM c ORDER BY doc_id""".stripMargin),
  )
}
