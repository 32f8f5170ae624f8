package graft.operators

import graft.extract.NportKernel
import graft.sources.{DocStage, FilingDocs, FilingIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The extraction kernel wired into distributed pipelines — SURVEY.md §2
  * rows X1/X2/X3/G1/I1/S2 as oracle-checked queries.
  *
  * Pipeline shape (the §3.3 pandas→Spark inversion): a corpus of XHTML
  * filings is a Dataset; the kernel runs inside `flatMap`, executor-side,
  * one task per partition — the reference's sequential per-filing driver
  * loop (ETFQuarterlyHoldingsExtractor.py:153-158) becomes a single
  * distributed map stage. At 100 TB the corpus is just more partitions;
  * nothing here touches the driver.
  *
  * Oracle strategy: the corpus is rendered deterministically from `orders`
  * ([[FilingDocs]]), so DuckDB verifies the full render→parse→extract
  * round trip by recomputing the expected rows relationally — the
  * extraction kernel is hash-checked against an engine that never parses
  * HTML.
  */
object Extraction {

  private val outCols = Seq("reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")

  /** X2/G1/I1 — render in a map, extract in a flatMap: 1 doc → N holding
    * rows with the filing's scalar date attached. Unsorted — for
    * downstream pipelines (the CSV sink repartitions by date itself). */
  private[graft] def extractedHoldings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    FilingDocs.docs(s, d)
      .flatMap { case (_, doc) => NportKernel.extractRows(doc) }
      .toDF()
      .select(outCols.map(col): _*)
  }

  /** [[extractedHoldings]] with the oracle-determinism total sort. The
    * extracted frame is PINNED before the sort (QueryDsl.sortedPinned):
    * the range sort samples its child, and r20's shape re-ran the whole
    * render+parse kernel — the repo's most expensive stage — once for the
    * sampler and once for the shuffle. */
  def extractHoldings(s: SparkSession, d: String): DataFrame =
    graft.QueryDsl.sortedPinned(extractedHoldings(s, d), outCols.map(col): _*)

  /** [[extractHoldings]] as a Catalyst `Generator` plan
    * ([[graft.functions.ExtractHoldingsGen]]): the kernel runs inside a
    * `GenerateExec` over the document column instead of a `flatMap` over a
    * typed Dataset — no encoder boundary, column pruning flows through.
    * Same oracle as the flatMap form: identical output is the gate. */
  /** The unsorted Generator-form frame — split out so the plan-shape spec
    * can see the Generate node (the public query pins the frame, which
    * hides the subtree behind an RDD scan). */
  private[graft] def extractHoldingsGenRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    FilingDocs.docs(s, d).toDF("doc_id", "doc")
      .select(graft.functions.ExtractHoldingsGen(col("doc")))
      .select(outCols.map(col): _*)
  }

  def extractHoldingsGen(s: SparkSession, d: String): DataFrame =
    graft.QueryDsl.sortedPinned(extractHoldingsGenRaw(s, d), outCols.map(col): _*)

  /** X1 — scalar per-document extraction: one reporting date per filing;
    * date-less filings are dropped (ref :80-82). */
  def reportingDates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.QueryDsl.sortedPinned(
      FilingDocs.docs(s, d)
        .flatMap { case (id, doc) =>
          NportKernel.extract(doc)._1.map(date => (id, date))
        }
        .toDF("doc_id", "reporting_date"),
      col("doc_id"))
  }

  /** S2+I1 — the same extraction driven from a document-directory source:
    * one file per filing, `wholetext` read (one row per file), then the
    * kernel flatMap. Output (and oracle) identical to [[extractHoldings]] —
    * the source changes, the semantics don't. */
  def docSourceHoldings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = DocStage.ensureStaged(s, d)
    // split packing for this many-small-files corpus is tuned session-wide
    // (spark.sql.files.openCostInBytes in GraftSession.configure) — a
    // conf.set here would leak into every later query in a shared session
    graft.QueryDsl.sortedPinned(
      s.read.option("wholetext", "true").text(dir)
        .select(col("value"))
        .as[String]
        .flatMap(NportKernel.extractRows)
        .toDF()
        .select(outCols.map(col): _*),
      outCols.map(col): _*)
  }

  /** S2+K — [[docSourceHoldings]] over the COMPACTED corpus (a few
    * parquet files instead of one file per doc): identical rows, same
    * oracle, ~docs/4 fewer file opens — the layout fix for the
    * many-small-files scan demonstrated on the extraction path itself. */
  /** The unsorted compacted-corpus frame — split out so DocCompactionSpec
    * can read the executed scan's `numFiles` metric (the public query
    * pins the frame, which hides the scan behind an RDD). */
  private[graft] def docSourceCompactedRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    DocStage.compactedDocs(s, d)
      .select(col("value"))
      .as[String]
      .flatMap(NportKernel.extractRows)
      .toDF()
      .select(outCols.map(col): _*)
  }

  def docSourceCompactedHoldings(s: SparkSession, d: String): DataFrame =
    graft.QueryDsl.sortedPinned(docSourceCompactedRaw(s, d), outCols.map(col): _*)

  private def holdingsOracleFor(pred: String): String =
    s"""SELECT * FROM (
       |  SELECT ${FilingDocs.oracleFields.linesIterator.mkString(" ")}
       |  FROM orders WHERE $pred)
       |WHERE issuer IS NOT NULL OR shares IS NOT NULL
       |   OR value_usd IS NOT NULL OR pct_net_assets IS NOT NULL
       |ORDER BY reporting_date, issuer NULLS FIRST, shares NULLS FIRST,
       |         value_usd NULLS FIRST, pct_net_assets NULLS FIRST""".stripMargin

  private val holdingsOracle: String = holdingsOracleFor("o_custkey % 50 <> 0")

  // the doc-source LAYOUT demo extracts the staged half-slice corpus
  // (DocStage.DocSliceMod) — same kernel, slice predicate mirrored here
  private val docSourceOracle: String = holdingsOracleFor(
    s"o_custkey % 50 <> 0 AND o_custkey % ${graft.sources.DocStage.DocSliceMod} = 0")

  /** S1+P2+F1+E1/E2 — the reference's "relational path" (§3.2) over the
    * staged submissions-index JSON: parallel arrays zipped to rows (with
    * null-fill on the deliberately-short primaryDocument array), filtered
    * to NPORT-P, archive URL built. */
  def filingIndex(s: SparkSession, d: String): DataFrame =
    FilingIndex.filingIndex(s, d)
      .orderBy("cik", "accession_number")

  /** S1 as a DataSource V2 connector: the source explodes the parallel
    * arrays and evaluates the pushed NPORT-P filter itself
    * ([[graft.sources.FilingIndexV2]]); same oracle as the arrays_zip
    * path — identical output is the gate. */
  def filingIndexV2(s: SparkSession, d: String): DataFrame =
    FilingIndex.filingIndexV2(s, d)
      .orderBy("cik", "accession_number")

  /** K1+G2 through the correctness gate: extract → union a decoy
    * SUPERSEDED filing per date (lower filing_seq) → CSV sink (LWW +
    * one-file-per-date partitioned write) → CSV source read-back. The
    * oracle is the plain holdings oracle, so the sink must drop every
    * decoy row and the CSV round trip must preserve every value byte
    * (commas-in-numbers quoting, null vs value). Explicit read schema
    * keeps the recovered partition column a STRING (type inference would
    * make it DATE). */
  private[operators] val holdingsStageBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def holdingsStageDir(sfDir: String): String =
    "/tmp/graft_stage/holdings_v1_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The extracted holdings table, staged build-once per corpus
    * fingerprint (a pure function of the orders-derived filings): the
    * SINK demonstrations consume it so they measure the sink, not a
    * re-run of the render+parse kernel — which stays live, measured,
    * and oracle-checked in `x_extract_holdings`/`x_extract_holdings_gen`. */
  def ensureHoldingsStaged(s: SparkSession, d: String): String = {
    val dir = holdingsStageDir(d)
    val path = dir + "/holdings"
    graft.Staging.ensure(dir, Seq(s"$d/orders.parquet")) {
      holdingsStageBuildCount.incrementAndGet()
      extractedHoldings(s, d).write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    // real + decoys both read the STAGED extraction (two cheap parquet
    // scans; before staging this re-ran the render+parse kernel — the
    // most expensive stage in the repo — inside the sink job)
    val holdings = s.read.parquet(ensureHoldingsStaged(s, d))
      .select(outCols.map(col): _*)
    val real = holdings.withColumn("filing_seq", lit(2L))
    val decoys = holdings
      .withColumn("issuer", lit("SUPERSEDED"))
      .withColumn("filing_seq", lit(1L))
    val outDir = graft.TempPaths.scratch(s, "csv_roundtrip")
    graft.sinks.HoldingsCsvSink.write(real.unionByName(decoys), outDir)
    // NOT sortedPinned (measured r21: the pin regressed 3.4 → 4.5 s —
    // the freshly-written CSV is page-cache-hot, so the sampler's second
    // read is cheaper than materializing the frame)
    s.read
      .option("header", "true")
      .schema("issuer STRING, shares STRING, value_usd STRING, pct_net_assets STRING, reporting_date STRING")
      .csv(outDir)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  private val PackCap = 50

  /** `x_pipeline_e2e` — THE FLAGSHIP: the reference's whole pipeline
    * (index → fetch → extract → keyed sink,
    * ETFQuarterlyHoldingsExtractor.py:30-45,58-63,80-135) generalized
    * end-to-end with the engine's training-data stages, in ONE query:
    *
    *  1. S1 — the staged submissions index names WHICH funds to fetch
    *     (the reference's fetch list): the NPORT-P ciks, broadcast.
    *  2. S2 — the staged doc corpus stands in for the per-doc HTTP
    *     fetch (HttpFetchSpec proves fetch+extract over loopback HTTP ≡
    *     this corpus scan row-for-row); doc identity parses from the
    *     file name and the fetch list applies as a broadcast semi-join —
    *     the fetch frontier never transits the driver.
    *  3. X1+X2 — the NPORT kernel, doc linkage kept.
    *  4. DEDUP POLICY — the feed carries crawler RETRY traffic (every
    *     doc effectively fetched twice); exact dedup folds the copies
    *     and LEDGERS the fold (skip this stage and the pack
    *     double-counts — the bug the stage exists to stop, hash-fatal
    *     against the oracle).
    *  5. QUALITY GATE — per-row field-completeness score (1-4 non-null
    *     fields); rows below 2 drop into the per-date ledger, the
    *     t_quality discipline applied to extracted records.
    *  6. PACK — kept rows pack into capacity-[[PackCap]] chunks per
    *     reporting date (deterministic order), the t_pack shape; output
    *     is one row per chunk with the per-date ledger attached.
    *
    * Every stage is SQL-expressible, so the WHOLE chain is one
    * hash-checked oracle. Scale shape: a broadcast semi-join on the fetch
    * list, ONE kernel pass, then ONE hash exchange on `reporting_date`.
    * Every later key holds the date (the dedup key, the ledger window,
    * the pack window, the chunk aggregate), so nothing after the kernel
    * shuffles again: the retry self-union's second leg reuses the first
    * leg's exchange, and the only other exchange is the final range
    * sort over the chunk rows. Past the kernel, parallelism is the number
    * of distinct dates, which the per-date pack window needed anyway.
    * Nothing is cached and nothing reaches the driver but the chunks. */
  def pipelineE2e(s: SparkSession, d: String): DataFrame =
    // the pipeline COMPOSES the layout fix: it reads the compacted
    // corpus (4 parquet files, doc_id carried as a column), not the
    // one-file-per-doc layout whose tax x_doc_source exists to
    // demonstrate — production never leaves a crawl in per-doc small
    // files before a full-corpus pass
    pipelineE2eFromDocs(s, d, DocStage.compactedDocs(s, d))

  /** Stages 1 + 3-6 of [[pipelineE2e]] over an explicit (doc_id, value)
    * document set — the seam HttpFetchSpec uses to prove the ONLINE form
    * (loopback HTTP fetch feeding the same chain) is row-identical to
    * the offline corpus scan. */
  private[graft] def pipelineE2eFromDocs(
      s: SparkSession, d: String, docs: DataFrame): DataFrame = {
    import s.implicits._
    // no distinct: a left-semi join keeps each doc once however often
    // its cik repeats in the fetch list
    val nportCiks = FilingIndex.filingIndex(s, d)
      .select(col("cik").cast("long").as("doc_id"))
    val fetched = docs.join(broadcast(nportCiks), Seq("doc_id"), "leftsemi")
    // the pipeline's one shuffle: every key below contains reporting_date
    val extracted = fetched.as[(Long, String)]
      .flatMap { case (id, doc) =>
        NportKernel.extractRows(doc).map(h =>
          (id, h.reporting_date, h.issuer, h.shares, h.value_usd, h.pct_net_assets))
      }
      .toDF("doc_id", "reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")
      .repartition(col("reporting_date"))
    val keyCols = Seq("doc_id", "reporting_date", "issuer", "shares",
      "value_usd", "pct_net_assets")
    val byDate = Window.partitionBy(col("reporting_date"))
    // retry traffic in, exact dedup out — n_copies is the fold ledger
    val deduped = extracted.unionByName(extracted)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_copies"))
      .withColumn("quality",
        Seq("issuer", "shares", "value_usd", "pct_net_assets")
          .map(c => when(col(c).isNotNull, 1).otherwise(0))
          .reduce(_ + _))
    // the per-date ledger as window sums over the existing date
    // partitioning (a groupBy + join would plan the extract branch twice)
    val ledgered = deduped.select(col("*"),
      sum(col("n_copies")).over(byDate).as("n_source_rows"),
      sum(col("n_copies") - 1).over(byDate).as("n_dup_folded"),
      sum(when(col("quality") < 2, 1L).otherwise(0L)).over(byDate).as("n_lowq_dropped"))
    val packW = byDate
      .orderBy(col("issuer").asc_nulls_first, col("shares").asc_nulls_first,
        col("value_usd").asc_nulls_first, col("pct_net_assets").asc_nulls_first,
        col("doc_id").asc)
    ledgered.filter(col("quality") >= 2)
      .withColumn("rn", row_number().over(packW))
      // floor, not `/`: Column./ is fractional divide on any input type
      .withColumn("chunk_id", floor((col("rn") - 1) / PackCap).cast("long"))
      .groupBy(col("reporting_date"), col("chunk_id"))
      // the ledger columns are constant per date: max carries them through
      .agg(count(lit(1)).as("n_holdings"), sum(col("quality")).as("sum_quality"),
        max(col("n_source_rows")).as("n_source_rows"),
        max(col("n_dup_folded")).as("n_dup_folded"),
        max(col("n_lowq_dropped")).as("n_lowq_dropped"))
      .orderBy("reporting_date", "chunk_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_pipeline_e2e" -> (pipelineE2e _),
    "x_extract_holdings" -> (extractHoldings _),
    "x_extract_holdings_gen" -> (extractHoldingsGen _),
    "x_reporting_date" -> (reportingDates _),
    "x_doc_source" -> (docSourceHoldings _),
    "x_doc_source_compacted" -> (docSourceCompactedHoldings _),
    "x_filing_index" -> (filingIndex _),
    "x_filing_index_v2" -> (filingIndexV2 _),
    "x_catalog_sql" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.catalogSql(s, d)),
    "x_catalog_show" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.catalogShow(s, d)),
    "x_filing_index_v2_topn" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.filingIndexV2TopN(s, d)),
    "x_filing_index_v2_columnar" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.filingIndexV2Columnar(s, d)
        .orderBy("cik", "accession_number")),
    "x_filing_index_v2_agg" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.filingIndexV2Agg(s, d)),
    "x_filing_index_v2_prune" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.filingIndexV2Prune(s, d)),
    "x_filing_index_v2_dpp" ->
      ((s: SparkSession, d: String) => graft.sources.FilingIndex.filingIndexV2Dpp(s, d)),
    "x_csv_roundtrip" -> (csvRoundtrip _),
  )

  // the flagship chain rebuilt relationally: index fetch-list ∩ staged
  // slice → rendered fields → retry-doubled exact dedup → quality gate →
  // capacity-packed chunks + per-date ledger. Every count CAST to BIGINT
  // (DuckDB HUGEINT sums reach pandas as float64 otherwise).
  private val pipelineE2eOracle: String =
    s"""WITH nport AS (SELECT DISTINCT o_custkey AS doc_id
       |               FROM orders WHERE o_orderkey % 3 = 0),
       |rows0 AS (
       |  SELECT o_custkey AS doc_id,
       |         ${FilingDocs.oracleFields.linesIterator.mkString(" ")}
       |  FROM orders
       |  WHERE o_custkey % 50 <> 0
       |    AND o_custkey % ${graft.sources.DocStage.DocSliceMod} = 0
       |    AND o_custkey IN (SELECT doc_id FROM nport)),
       |rows1 AS (SELECT * FROM rows0
       |          WHERE issuer IS NOT NULL OR shares IS NOT NULL
       |             OR value_usd IS NOT NULL OR pct_net_assets IS NOT NULL),
       |ded AS (
       |  SELECT doc_id, reporting_date, issuer, shares, value_usd, pct_net_assets,
       |         2 * COUNT(*) AS n_copies,
       |         (CASE WHEN issuer IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN shares IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN value_usd IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN pct_net_assets IS NOT NULL THEN 1 ELSE 0 END) AS quality
       |  FROM rows1
       |  GROUP BY doc_id, reporting_date, issuer, shares, value_usd, pct_net_assets),
       |led AS (
       |  SELECT reporting_date,
       |         CAST(SUM(n_copies) AS BIGINT) AS n_source_rows,
       |         CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_folded,
       |         CAST(SUM(CASE WHEN quality < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq_dropped
       |  FROM ded GROUP BY reporting_date),
       |packed AS (
       |  SELECT *, row_number() OVER (PARTITION BY reporting_date
       |           ORDER BY issuer NULLS FIRST, shares NULLS FIRST,
       |                    value_usd NULLS FIRST, pct_net_assets NULLS FIRST,
       |                    doc_id) AS rn
       |  FROM ded WHERE quality >= 2),
       |chunks AS (
       |  SELECT reporting_date, CAST((rn - 1) // $PackCap AS BIGINT) AS chunk_id,
       |         CAST(COUNT(*) AS BIGINT) AS n_holdings,
       |         CAST(SUM(quality) AS BIGINT) AS sum_quality
       |  FROM packed GROUP BY 1, 2)
       |SELECT c.reporting_date, c.chunk_id, c.n_holdings, c.sum_quality,
       |       l.n_source_rows, l.n_dup_folded, l.n_lowq_dropped
       |FROM chunks c JOIN led l USING (reporting_date)
       |ORDER BY c.reporting_date, c.chunk_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "x_pipeline_e2e" -> pipelineE2eOracle,
    "x_extract_holdings" -> holdingsOracle,
    "x_extract_holdings_gen" -> holdingsOracle,
    "x_doc_source" -> docSourceOracle,
    "x_doc_source_compacted" -> docSourceOracle,
    "x_csv_roundtrip" -> holdingsOracle,
    "x_reporting_date" ->
      """SELECT DISTINCT o_custkey AS doc_id,
        |       CAST(DATE '2020-01-31' + CAST(o_custkey % 360 AS INT) AS VARCHAR) AS reporting_date
        |FROM orders WHERE o_custkey % 50 <> 0
        |ORDER BY doc_id""".stripMargin,
    "x_filing_index" -> filingIndexOracle,
    "x_filing_index_v2" -> filingIndexOracle,
    // batch hand-off is a physical change only: identical oracle
    "x_filing_index_v2_columnar" -> filingIndexOracle,
    // the same derivation through a plain global ORDER BY + LIMIT: the
    // per-partition heap is a physical strategy, never an answer change
    "x_filing_index_v2_topn" ->
      """WITH idx AS (
        |  SELECT o_custkey AS cik,
        |         printf('%010d-%02d-%06d', o_custkey, o_orderkey % 100, o_orderkey) AS accession_number,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type
        |  FROM orders)
        |SELECT cik, accession_number, form_type
        |FROM idx ORDER BY cik, accession_number LIMIT 25""".stripMargin,
    // the catalog's static inventory: one batch table, nothing temporary
    "x_catalog_show" ->
      """SELECT '' AS namespace, 'filing_index' AS tableName,
        |       false AS isTemporary""".stripMargin,
    // per-form counts over the same orders derivation the staged JSON
    // encodes — the catalog is a naming layer, not a data change
    "x_catalog_sql" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_filings,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_funds
        |FROM orders GROUP BY 1 ORDER BY form_type""".stripMargin,
    // the per-form counts from the same orders derivation the staged
    // JSON encodes: the in-source tally must reproduce them exactly
    "x_filing_index_v2_agg" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |       CAST(COUNT(*) AS BIGINT) AS count
        |FROM orders
        |GROUP BY 1
        |ORDER BY form_type""".stripMargin,
    // the same filing derivation bounded to the bottom quarter of the
    // cik domain — results must be layout- and pruning-independent
    "x_filing_index_v2_prune" ->
      """WITH hi AS (SELECT MAX(o_custkey) // 4 AS hi FROM orders),
        |idx AS (
        |  SELECT o_custkey AS cik,
        |         printf('%010d-%02d-%06d', o_custkey, o_orderkey % 100, o_orderkey) AS accession_number,
        |         strftime(o_orderdate, '%Y-%m-%d') AS filing_date,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |         'doc' || CAST(o_orderkey AS VARCHAR) || '.html' AS primary_document,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT cik, accession_number, filing_date, form_type,
        |       CASE WHEN rn = 1 THEN NULL ELSE primary_document END AS primary_document,
        |       CASE WHEN rn = 1 THEN NULL
        |            ELSE 'Archives/edgar/data/' || CAST(cik AS VARCHAR) || '/'
        |                 || replace(accession_number, '-', '') || '/' || primary_document
        |       END AS doc_url
        |FROM idx, hi WHERE form_type = 'NPORT-P' AND cik <= hi.hi
        |ORDER BY cik, accession_number""".stripMargin,
    // the dim-joined filing counts: the runtime filter changes which
    // files open, never the answer
    "x_filing_index_v2_dpp" ->
      """WITH dim AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND c_custkey >= (SELECT MAX(c_custkey) FROM customer) * 3 // 4),
        |idx AS (
        |  SELECT o_custkey AS cik,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type
        |  FROM orders)
        |SELECT form_type, CAST(COUNT(*) AS BIGINT) AS n_filings,
        |       CAST(COUNT(DISTINCT cik) AS BIGINT) AS n_funds
        |FROM idx JOIN dim ON idx.cik = dim.c_custkey
        |GROUP BY 1 ORDER BY form_type""".stripMargin,
  )

  private lazy val filingIndexOracle: String =
      """WITH idx AS (
        |  SELECT o_custkey AS cik,
        |         printf('%010d-%02d-%06d', o_custkey, o_orderkey % 100, o_orderkey) AS accession_number,
        |         strftime(o_orderdate, '%Y-%m-%d') AS filing_date,
        |         CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |         'doc' || CAST(o_orderkey AS VARCHAR) || '.html' AS primary_document,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT cik, accession_number, filing_date, form_type,
        |       CASE WHEN rn = 1 THEN NULL ELSE primary_document END AS primary_document,
        |       CASE WHEN rn = 1 THEN NULL
        |            ELSE 'Archives/edgar/data/' || CAST(cik AS VARCHAR) || '/'
        |                 || replace(accession_number, '-', '') || '/' || primary_document
        |       END AS doc_url
        |FROM idx WHERE form_type = 'NPORT-P'
        |ORDER BY cik, accession_number""".stripMargin
}
