package graft.sources

import java.nio.file.{Files, Paths}

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1 — the offline submissions-index JSON source, in the real EDGAR
  * shape: one JSON document per fund whose `filings.recent` node holds
  * PARALLEL ARRAYS (`accessionNumber[]`, `filingDate[]`, `form[]`,
  * `primaryDocument[]`), exactly what the reference fetches and zips
  * (ETFQuarterlyHoldingsExtractor.py:30-52, SURVEY.md §1.1).
  *
  * The fixture is rendered deterministically from `orders` (one fund per
  * customer key, one filing per order), staged once as JSON Lines via
  * Spark's own distributed text writer, then read back with an explicit
  * schema — no schema inference pass over 100 TB. The relational form is
  * `arrays_zip` + `explode` (P2), which null-fills on length mismatch; the
  * fixture makes `primaryDocument` one element short per fund so that
  * semantic is exercised on real data, then filters Form Type == NPORT-P
  * (F1) and builds the archive doc URL (E1 concat + E2 translate,
  * ref :58).
  */
object FilingIndex {

  /** Per-fund submissions JSON documents, built declaratively: one shuffle
    * (groupBy custkey), arrays aligned by sorting structs on the order
    * key, serialized with `to_json`. */
  def indexJson(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val k = col("o_orderkey")
    o.select(
        col("o_custkey"),
        struct(
          k.as("k"),
          format_string("%010d-%02d-%06d", col("o_custkey"), k % 100, k).as("acc"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fd"),
          when(k % 3 === 0, "NPORT-P").otherwise("10-K").as("form"),
          concat(lit("doc"), k.cast("string"), lit(".html")).as("pdoc")).as("f"))
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("f"))).as("fs"))
      .select(to_json(struct(
        col("o_custkey").as("cik"),
        struct(struct(
          transform(col("fs"), f => f("acc")).as("accessionNumber"),
          transform(col("fs"), f => f("fd")).as("filingDate"),
          transform(col("fs"), f => f("form")).as("form"),
          // one element short: exercises arrays_zip null-fill (P2)
          slice(transform(col("fs"), f => f("pdoc")), lit(1), size(col("fs")) - 1)
            .as("primaryDocument")).as("recent")).as("filings"))).as("value"))
  }

  private val StageFiles = 8

  /** Stage the fixture once per sf dir (Spark text writer, JSON Lines),
    * CIK-RANGE-PARTITIONED — the layout a real submissions mirror keeps
    * (files keyed by CIK range) and the one that makes per-file min/max
    * statistics selective. A `_CIKSTATS` sidecar (file → min/max cik,
    * computed with one pass at stage time, the way real formats collect
    * footer stats at write time) lets the V2 connector prune whole files
    * against pushed cik predicates. Fingerprinted marker + atomic
    * publish + cross-process lock (graft.Staging). */
  def ensureStaged(s: SparkSession, sfDir: String): String = {
    // "index3": the v3 layout (cik-RANGE-partitioned files + stats
    // sidecar). The bumped prefix makes a stale hash-partitioned staging
    // invisible — its files span the whole cik range, so the sidecar
    // would never prune anything.
    val dir = graft.Staging.dir("index3", sfDir)
    graft.Staging.ensure(dir, Seq(s"$sfDir/orders.parquet")) {
      indexJson(s, sfDir)
        .withColumn("cik_key",
          get_json_object(col("value"), "$.cik").cast("long"))
        .repartitionByRange(StageFiles, col("cik_key"))
        .sortWithinPartitions("cik_key")
        .select(col("value"))
        .write.mode("overwrite").text(dir)
      // one stats pass over what was just written: per-file cik range
      val stats = s.read.textFile(dir)
        .select(
          element_at(split(input_file_name(), "/"), -1).as("file"),
          regexp_extract(col("value"), "\"cik\":(\\d+)", 1).cast("long").as("cik"))
        .groupBy("file")
        .agg(min(col("cik")).as("lo"), max(col("cik")).as("hi"))
        .collect() // O(files)
        .sortBy(_.getString(0))
        .map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getLong(2)}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_CIKSTATS"),
        (stats.mkString("\n") + "\n").getBytes("UTF-8")): Unit
    }: Unit
    dir
  }

  /** Explicit read schema — `spark.read.schema(...).json` so the scan does
    * no inference and prunes unread arrays (P3 for free). */
  val schema: StructType = StructType(Seq(
    StructField("cik", LongType),
    StructField("filings", StructType(Seq(
      StructField("recent", StructType(Seq(
        StructField("accessionNumber", ArrayType(StringType)),
        StructField("filingDate", ArrayType(StringType)),
        StructField("form", ArrayType(StringType)),
        StructField("primaryDocument", ArrayType(StringType))))))))))

  /** The shared parsed-JSON → rows plan: nested projection (P1) →
    * arrays_zip+explode (P2) → Form Type filter (F1) → URL build
    * (E1/E2). `parsed` carries (cik, filings) in [[schema]]'s shape —
    * from the offline JSON scan or from fetched online bodies. */
  private def zipExplode(parsed: DataFrame): DataFrame = {
    val recent = col("filings.recent") // P1 nested descent
    parsed
      .select(
        col("cik"),
        explode(arrays_zip(
          recent("accessionNumber").as("accession_number"),
          recent("filingDate").as("filing_date"),
          recent("form").as("form_type"),
          recent("primaryDocument").as("primary_document"))).as("z"))
      .select(
        col("cik"),
        col("z.accession_number").as("accession_number"),
        col("z.filing_date").as("filing_date"),
        col("z.form_type").as("form_type"),
        col("z.primary_document").as("primary_document"))
      .filter(col("form_type") === "NPORT-P")
      .withColumn("doc_url", docUrl)
  }

  /** The reference's §3.2 "relational path" as one lazy plan over the
    * offline staged JSON lines. */
  def filingIndex(s: SparkSession, d: String): DataFrame =
    zipExplode(s.read.schema(schema).json(ensureStaged(s, d)))

  /** S1 ONLINE MODE — the submissions-INDEX leg of the live pipeline
    * ([[HttpFetch]] provides the per-doc S2 leg): fetched JSON bodies
    * parse with the same explicit [[schema]] (`from_json`, no inference)
    * and run the SAME zip/explode/filter/url plan as the offline scan. A
    * failed fetch (non-200/transport/bad-URL → null body) contributes NO
    * index rows and never a job failure — the reference's whole-fund
    * degradation (`fetch_submission_data` → None → the fund is skipped,
    * ETFQuarterlyHoldingsExtractor.py:36-38,150-151). Proven ≡ offline
    * over a loopback server in HttpFetchSpec. */
  def fromFetched(fetched: org.apache.spark.sql.Dataset[Fetched]): DataFrame =
    zipExplode(
      fetched.toDF()
        .filter(col("status") === 200 && col("body").isNotNull)
        .select(from_json(col("body"), schema).as("j"))
        .select(col("j.cik").as("cik"), col("j.filings").as("filings")))

  /** E1 concat + E2 translate (ref :58): null primary_document ⇒ null URL. */
  private def docUrl =
    concat(lit("Archives/edgar/data/"), col("cik").cast("string"), lit("/"),
      translate(col("accession_number"), "-", ""), lit("/"),
      col("primary_document"))

  /** [[filingIndex]] through the DataSource V2 connector
    * ([[FilingIndexV2]]): the source itself zips/explodes the parallel
    * arrays and evaluates the pushed form_type filter — the query keeps
    * only the URL build. Output (and oracle) identical to the
    * arrays_zip path. */
  def filingIndexV2(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .filter(col("form_type") === "NPORT-P")
      .withColumn("doc_url", docUrl)
  }

  /** `x_filing_index_v2_topn` — TOP-N PUSHDOWN into the connector
    * (`SupportsPushDownTopN`): `ORDER BY cik, accession LIMIT 25` keeps
    * a 25-row bounded heap per FILE during the line scan (partial push —
    * Spark's final TakeOrdered merges the per-partition heaps), so the
    * global-sort shuffle a naive plan pays for a 25-row answer never
    * exists and each partition ships 25 rows however large its file.
    * The pushed order is the (cik, accession) TOTAL order — the
    * condition under which a bounded per-partition heap provably
    * contains the global answer. REQUIREs the planned scan carries the
    * pushed top-n. */
  def filingIndexV2TopN(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    def q = s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .select("cik", "accession_number", "form_type")
      .orderBy("cik", "accession_number")
      .limit(25)
    val probe = q
    val pushed = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collectFirst { case sc: FilingIndexV2.IndexScan if sc.topN.contains(25) => sc }
    require(pushed.isDefined,
      s"TopN not pushed into the V2 scan:\n${probe.queryExecution.executedPlan}")
    q
  }

  /** `x_catalog_sql` — the connector through a CATALOG PLUGIN
    * ([[GraftCatalog]]): the whole query is SQL TEXT addressing the
    * table BY NAME (`<cat>.filing_index`) — the BI/notebook path where
    * no library import exists, proving the catalog hands back the same
    * full-capability table (the pushed IS NOT NULL filter and the
    * aggregate both ride through it). The catalog name encodes the
    * staged dir (catalog instances are cached per session after first
    * resolution; two scale points in one session must not share one). */
  def catalogSql(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    val cat = "graft_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.path", dir)
    s.sql(
      s"""SELECT form_type, COUNT(*) AS n_filings, COUNT(DISTINCT cik) AS n_funds
         |FROM $cat.filing_index
         |WHERE form_type IS NOT NULL
         |GROUP BY form_type
         |ORDER BY form_type""".stripMargin)
  }

  /** `x_catalog_show` — the catalog's DISCOVERY surface: `SHOW TABLES`
    * resolves through `GraftCatalog.listTables`, the first statement a
    * BI tool or notebook issues against a new catalog (a table it
    * cannot list is a table its users cannot find). Hash-checked
    * against the catalog's static inventory. */
  def catalogShow(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    val cat = "graft_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.path", dir)
    s.sql(s"SHOW TABLES IN $cat")
      .select(col("namespace"), col("tableName"), col("isTemporary"))
      .orderBy("tableName")
  }

  /** `x_filing_index_v2_columnar` — the connector's VECTORIZED read
    * path: the same scan planned COLUMNAR (`option("columnar", true)`),
    * so the source hands the engine ColumnarBatches of on-heap vectors
    * (the Parquet-vectorized-reader discipline at the wire-format
    * layer) and rows first materialize at the plan's ColumnarToRow
    * boundary. REQUIREs the executed V2 scan actually reports columnar
    * support — a green row certifies the vectorized path ran, and the
    * shared oracle certifies batch hand-off changed nothing. */
  def filingIndexV2Columnar(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    def reader = s.read.format(classOf[FilingIndexV2].getName)
      .option("columnar", "true").load(dir)
      .filter(col("form_type") === "NPORT-P")
    val probe = reader
    val columnarScans = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.supportsColumnar => b
    }
    require(columnarScans.nonEmpty,
      s"V2 scan did not plan columnar:\n${probe.queryExecution.executedPlan}")
    reader.withColumn("doc_url", docUrl)
  }

  /** `x_filing_index_v2_prune` — FILE-LEVEL STATS PRUNING inside the
    * connector: a cik-range probe against the cik-range-partitioned
    * stage. The pushed predicate prunes whole files via the `_CIKSTATS`
    * sidecar BEFORE any is opened (the footer-stats discipline of real
    * formats, here at the wire-format layer) and is re-checked exactly
    * per document during the line scan. The operator REQUIRES the
    * executed V2 scan to have planned FEWER input partitions than the
    * stage has files — a green row certifies pruning fired, not that the
    * connector quietly scanned everything. */
  def filingIndexV2Prune(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    // the bottom quarter of the cik domain: with 8 range-partitioned
    // files this keeps ~2 and prunes ~6
    val hi = Tables.orders(s, d).agg(max(col("o_custkey"))).head().getLong(0) / 4
    // partition count read off an exchange-free probe plan (the ordered
    // result plan below wraps in AQE, which hides the scan until run)
    val probe = s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .filter(col("cik") <= hi && col("form_type") === "NPORT-P")
    val planned = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.length
    }.sum
    val df = s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .filter(col("cik") <= hi && col("form_type") === "NPORT-P")
      .withColumn("doc_url", docUrl)
      .orderBy("cik", "accession_number")
    val onDisk = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    require(planned > 0 && planned < onDisk,
      s"cik stats pruned nothing: planned $planned of $onDisk files")
    df
  }

  /** `x_filing_index_v2_dpp` — RUNTIME (DPP-style) file pruning into the
    * connector: no static cik predicate exists anywhere in this query —
    * the prunable key set arrives AT EXECUTION TIME from the selective
    * dim join (the latest-registered BUILDING-segment funds), Spark hands
    * it to the scan through `SupportsRuntimeV2Filtering`, and the scan
    * re-plans against the stats sidecar, opening only the files whose
    * cik range intersects the runtime set. The operator REQUIREs both
    * halves: a runtime filter actually reached the scan, and the
    * re-planned partition count is below the stage's file count.
    * Pruning is an optimization only — rows from kept files that miss
    * the set still fail the join — so the hash-checked aggregate is
    * layout- and pruning-independent. */
  def filingIndexV2Dpp(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    val maxCk = Tables.customer(s, d).agg(max(col("c_custkey"))).head().getLong(0)
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") >= maxCk * 3 / 4)
      .select(col("c_custkey"))
    val hits0 = FilingIndexV2.runtimeFilterHits.get()
    val agg = s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .join(dim, col("cik") === col("c_custkey"))
      .groupBy(col("form_type"))
      .agg(count(lit(1)).as("n_filings"), countDistinct(col("cik")).as("n_funds"))
    val rows = agg.collect()
    val onDisk = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    require(FilingIndexV2.runtimeFilterHits.get() > hits0,
      s"no runtime filter reached the scan; plan:\n${agg.queryExecution.executedPlan}")
    val planned = FilingIndexV2.lastPlannedPartitions.get()
    require(planned > 0 && planned < onDisk,
      s"runtime filter pruned nothing: planned $planned of $onDisk files")
    graft.QueryDsl.localRows(s, rows.toIndexedSeq, agg.schema)
      .orderBy("form_type")
  }

  /** `x_filing_index_v2_agg` — COUNT pushed INTO the connector
    * (`SupportsPushDownAggregates`): the per-form filing counts are
    * tallied during the source's own line scan — no filing row is ever
    * materialized, and each input partition ships only its handful of
    * partial counts to the final merge. At 100 TB of wire-format JSON
    * this is the difference between moving the corpus and moving a few
    * numbers. The operator REQUIRES the executed scan to carry the
    * pushed-aggregate marker, so a green row certifies the pushdown
    * fired, not that Spark quietly fell back to a row scan. */
  def filingIndexV2Agg(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStaged(s, d)
    val agg = s.read.format(classOf[FilingIndexV2].getName).load(dir)
      .groupBy(col("form_type")).count()
    val rows = agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    require(plan.contains("agg_pushed=count_by_form"),
      s"COUNT was not pushed into the source; executed plan:\n$plan")
    graft.QueryDsl.localRows(s, rows.toIndexedSeq, agg.schema)
      .orderBy("form_type")
  }
}
