package graft.operators

import graft.QueryDsl.{dsum, sqlDsum}
import graft.{Tables, TempPaths}
import graft.sources.{CommitResult, ManifestLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Format breadth: the engine reads/writes every Spark-native columnar and
  * text format. `k_format_roundtrip` proves ORC and JSON-lines fidelity
  * through the correctness gate: a lineitem slice is written to both
  * formats, read back, the two read-backs are JOINED line-for-line, and
  * the aggregate must match an oracle computed from the original parquet —
  * any dropped row, reordered line, or corrupted value diverges.
  *
  * Column choice is deliberate: long/int/double/string survive JSON
  * losslessly (Jackson shortest-round-trip doubles); timestamps would
  * pull in timezone-format concerns that belong to the source config, not
  * this fidelity check. The two read-backs are aggregated independently
  * and joined on the group key (the synthetic lineitem has duplicate
  * (orderkey, linenumber) pairs, so no line-level key exists): equal
  * counts and exact-decimal sums per group prove neither format dropped,
  * duplicated, or perturbed a row. */
object Formats {

  def formatRoundtrip(s: SparkSession, d: String): DataFrame = {
    val slice = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
    val base = TempPaths.scratch(s, "fmt")
    slice.write.mode("overwrite").orc(s"$base/orc")
    slice.write.mode("overwrite").json(s"$base/json")
    val orc = s.read.orc(s"$base/orc")
    val jsn = s.read
      .schema("l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, l_quantity DOUBLE")
      .json(s"$base/json")
    def perFlag(df: DataFrame, n: String, qty: String): DataFrame =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as(n), dsum(col("l_quantity")).as(qty))
    perFlag(orc, "n_lines", "qty_orc")
      .join(perFlag(jsn, "n_lines_json", "qty_json"), "l_returnflag")
      .select(col("l_returnflag"), col("n_lines"), col("n_lines_json"),
        col("qty_orc"), col("qty_json"))
      .orderBy("l_returnflag")
  }

  /** Parquet SCHEMA EVOLUTION — the drift every multi-year 100 TB table
    * accumulates: batch 1 writes (key, old_metric), batch 2 adds a column
    * and drops the old one (key, new_metric), and a `mergeSchema` read
    * reconciles both generations into one frame with nulls where a
    * generation lacks the column. The oracle rebuilds the union
    * relationally from the source table, so the merged read must neither
    * lose a generation nor misalign a column. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.scratch(s, "schema_evo")
    val o = Tables.orders(s, d).filter(col("o_orderkey") % 50 === 0)
    o.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_totalprice").as("old_metric"))
      .write.mode("overwrite").parquet(s"$base/gen=1")
    o.filter(col("o_orderkey") % 100 =!= 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("new_metric"))
      .write.mode("overwrite").parquet(s"$base/gen=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .select(col("o_orderkey"), col("old_metric"), col("new_metric"), col("gen"))
      .orderBy("o_orderkey")
  }

  /** SNAPSHOT DIFF — the dataset-regression primitive: classify every key
    * of two corpus versions as added / removed / changed (unchanged rows,
    * the overwhelming majority at scale, are filtered out BEFORE the
    * result materializes). The "new" snapshot is derived in-query by a
    * deterministic md5-keyed mutation of the base corpus — drop one
    * residue class, revise another, clone a third under fresh ids — so
    * the diff has known ground truth without writing a second fixture.
    *
    * Scale shape: two scans of the corpus and ONE full-outer equi-join on
    * the key; the content comparison is an md5 riding each scan (narrow),
    * so the join payload is (key, 32-byte digest), not the documents.
    * At 100 TB both snapshots bucket on the key and the join is
    * co-located; output is proportional to the CHANGE volume, not the
    * corpus. This is the nightly "what did the rebuild touch" gate. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val k = (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 17).as("k")
    val a = Tables.documents(s, d).select(col("doc_id"), col("text"), k)
    val b = a.filter(col("k") =!= 0) // residue 0 rows are "removed" in B
      .select(col("doc_id"),
        when(col("k") === 1, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(a.filter(col("k") === 2) // clones under fresh ids: "added"
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val av = a.select(col("doc_id"), md5(col("text").cast("binary")).as("ha"))
    val bv = b.select(col("doc_id"), md5(col("text").cast("binary")).as("hb"))
    av.join(bv, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("ha").isNull, lit("added"))
          .when(col("hb").isNull, lit("removed"))
          .when(col("ha") =!= col("hb"), lit("changed")).as("status"))
      .filter(col("status").isNotNull)
      .orderBy("doc_id")
  }

  /** QUARANTINE READ — malformed-record handling, the ingest reality the
    * poisoned-VALUE gates (`v_poisoned_lsh`, `t_poisoned_text`) don't
    * cover: raw 100 TB feeds carry rows that fail to PARSE at all. A CSV
    * feed is derived in-query with a deterministic corruption class
    * (every orderkey ≡ 0 mod 50 emits a type-garbled line), then read
    * back PERMISSIVE with `columnNameOfCorruptRecord`: parse failures
    * surface as rows with the raw line preserved in the corrupt column
    * instead of killing the job (FAILFAST) or vanishing (DROPMALFORMED).
    * The output is the operational summary both sides of the quarantine
    * split — good-row count + exact-decimal spend next to the quarantined
    * count — proving no row is lost OR double-counted across the split.
    *
    * Scale shape: parsing, the split predicate, and the partial
    * aggregates all ride the distributed scan; the result is O(1) rows.
    * The quarantine side at scale is written to a dead-letter table for
    * replay — here it feeds the same one-row aggregate. */
  def quarantineRead(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.scratch(s, "quarantine")
    val o = Tables.orders(s, d).filter(col("o_orderkey") % 20 === 0)
    o.select(
        when(col("o_orderkey") % 50 === 0,
          concat(lit("X"), col("o_orderkey").cast("string"), lit(",notanumber")))
          .otherwise(concat_ws(",",
            col("o_orderkey").cast("string"), col("o_totalprice").cast("string")))
          .as("line"))
      .write.mode("overwrite").text(base)
    val read = s.read
      .schema("o_orderkey BIGINT, o_totalprice DOUBLE, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(base)
    read
      .select(
        when(col("_corrupt").isNull, lit("good")).otherwise(lit("quarantined"))
          .as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
      .orderBy("bucket")
  }

  /** `k_csv_quoting` — RFC-4180 TORTURE ROUND TRIP, the CSV edge-path
    * contract [[quarantineRead]]'s malformed-feed split doesn't touch:
    * real 100 TB text feeds carry embedded DELIMITERS, QUOTES, and
    * NEWLINES inside fields, and an engine whose writer/reader disagree
    * on quoting silently shears rows apart (the classic "row count grew
    * after re-ingest" corruption). Every order derives a deterministic
    * torture payload hitting all three hazards plus their combinations
    * (`a,b`, `say ""hi""`, a LF mid-field, a trailing quote), writes
    * through the engine's CSV writer, reads back with `multiLine` +
    * quote-escape config, and verifies BYTE EQUALITY per row in-engine.
    * The hash-checked output is the audit: total rows, byte-exact rows
    * (REQUIREd equal — a sheared row also changes the count), and the
    * exact-decimal value sum proving the numeric column survived
    * alongside the hostile text.
    *
    * Scale shape: a narrow derive→write→read→join pipeline; the verify
    * join is key-equi on the order key. `multiLine` is the one honest
    * cost: embedded newlines make raw byte-split impossible, so files
    * are read whole — the reason binary-safe formats beat CSV at scale,
    * stated here as a measured contract rather than folklore. */
  def csvQuoting(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "csvq")
    val torture = concat(
      lit("a,"), col("o_orderkey").cast("string"),
      lit(",\"q\" mid\nline2 "), col("o_orderpriority"), lit(" tail\""))
    val src = Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), torture.as("t"), col("o_totalprice").as("v"))
    src.write.mode("overwrite")
      .option("quote", "\"").option("escape", "\"")
      .csv(base)
    val read = s.read
      .schema("k BIGINT, t STRING, v DOUBLE")
      .option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(base)
      .select(col("k"), col("t").as("t2"), col("v").as("v2"))
    val out = src.join(read, "k")
      .agg(count(lit(1)).as("n_rows"),
        sum((col("t") === col("t2")).cast("long")).as("n_text_exact"),
        sum((col("v") === col("v2")).cast("long")).as("n_value_exact"),
        dsum(col("v2")).as("total_value"))
    val row = out.collect().head
    require(row.getLong(0) == row.getLong(1) && row.getLong(0) == row.getLong(2),
      s"CSV round trip sheared rows: ${row.mkString(", ")}")
    s.createDataFrame(s.sparkContext.parallelize(Seq(row), 1), out.schema)
  }

  /** CDC MERGE apply — the companion to [[snapshotDiff]]'s detect: a
    * change batch with explicit op codes (Insert / Update / Delete, the
    * Debezium-shape feed) applied to the base snapshot in one plan. The
    * batch is derived in-query by the same md5-residue scheme the diff
    * uses (residue 0 → D, 1 → U, 2 → I under fresh ids), so the merged
    * state has known ground truth. Output is the NEW snapshot as
    * (key, action, content digest): deletes absent, updates carrying the
    * revised digest, inserts appended — any mis-applied op diverges.
    *
    * Scale shape: the MERGE kernel is ONE left equi-join of the base on
    * its key against the U/D half of the batch (∝ change volume — small,
    * so AQE broadcasts it; never hinted, the batch CAN be corpus-sized in
    * a backfill) plus a union of inserts. At 100 TB base and batch bucket
    * on the key, the join is co-located, and only changed files rewrite
    * under a copy-on-write table layout. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val k = (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 17).as("k")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"), k)
    val cdc = base.filter(col("k").isin(0L, 1L, 2L))
      .select(
        when(col("k") === 0, lit("D")).when(col("k") === 1, lit("U"))
          .otherwise(lit("I")).as("op"),
        when(col("k") === 2, col("doc_id") + 1000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        when(col("k") === 1, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("new_text"))
    val applied = base.select(col("doc_id"), col("text"))
      .join(cdc.filter(col("op") =!= "I"), Seq("doc_id"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"),
        when(col("op") === "U", lit("update")).otherwise(lit("keep")).as("action"),
        md5(coalesce(when(col("op") === "U", col("new_text")), col("text"))
          .cast("binary")).as("digest"))
    applied
      .unionByName(cdc.filter(col("op") === "I")
        .select(col("doc_id"), lit("insert").as("action"),
          md5(col("new_text").cast("binary")).as("digest")))
      .orderBy("doc_id")
  }

  private val mergeSqlRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `k_merge_sql` — the SQL-TEXT surface of [[mergeUpsert]]: the same
    * CDC batch applied through a `MERGE INTO … WHEN MATCHED AND op='D'
    * THEN DELETE / WHEN MATCHED AND op='U' THEN UPDATE / WHEN NOT
    * MATCHED THEN INSERT` statement, parsed and lowered by the injected
    * [[graft.plans.GraftSqlParser]] (SparkSessionExtensions.injectParser)
    * into the identical left-join + anti-join-union plan. The statement
    * returns the post-merge snapshot (the next table version); the query
    * then labels each row against the pre-merge base (absent → insert,
    * text changed → update, else keep) and digests it — the EXACT
    * `k_merge_upsert` output, so the two queries share one oracle:
    * hash equality proves the SQL path ≡ the DataFrame path.
    *
    * Scale shape: identical to [[mergeUpsert]] — the lowering produces
    * one key-equi left join (AQE-broadcastable change side) plus an
    * anti-join union; parsing is driver-side text work. */
  def mergeSql(s: SparkSession, d: String): DataFrame = {
    val run = mergeSqlRuns.incrementAndGet()
    val bv = s"graft_merge_base_$run"
    val cv = s"graft_merge_cdc_$run"
    val k = (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 17).as("k")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"), k)
    base.select(col("doc_id"), col("text")).createOrReplaceTempView(bv)
    base.filter(col("k").isin(0L, 1L, 2L))
      .select(
        when(col("k") === 0, lit("D")).when(col("k") === 1, lit("U"))
          .otherwise(lit("I")).as("op"),
        when(col("k") === 2, col("doc_id") + 1000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        when(col("k") === 1, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("new_text"))
      .createOrReplaceTempView(cv)
    val merged = s.sql(
      s"""MERGE INTO $bv AS t
         |USING $cv AS c
         |ON t.doc_id = c.doc_id AND c.op <> 'I'
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED AND c.op = 'U' THEN UPDATE SET text = c.new_text
         |WHEN NOT MATCHED AND c.op = 'I' THEN INSERT (doc_id, text)
         |  VALUES (c.doc_id, c.new_text)""".stripMargin)
    merged
      .join(base.select(col("doc_id"), col("text").as("old_text")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("old_text").isNull, lit("insert"))
          .when(col("text") =!= col("old_text"), lit("update"))
          .otherwise(lit("keep")).as("action"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy("doc_id")
  }

  /** TIME TRAVEL via versioned MANIFESTS — the transaction-log discipline
    * under every modern table format (Delta/Iceberg/Hudi), reduced to its
    * load-bearing core: a table version is a MANIFEST (an immutable list
    * of data-file paths), commits write new data files plus a new
    * manifest, and readers resolve a version by reading ONLY its
    * manifest's files — old versions stay readable forever (snapshot
    * isolation), and no reader ever lists the directory (the listing
    * consistency trap at 100 TB object-store scale).
    *
    * v1 = two files (orders slices A, B); v2 compacts away B and adds C
    * (B's rows re-written with C's): the data files are IMMUTABLE — v2
    * is a new file set, not an edit. The query reads BOTH versions
    * through their manifests and reports per-version totals; the oracle
    * recomputes them from the slice definitions, so a reader that leaks
    * files across versions (or loses one) diverges. The manifest is a
    * driver-written metadata text file — metadata plane, not data
    * plane; the data files are cluster-written parquet. */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    // per-run suffix: a bench run overlapping sbt test must not
    // interleave overwrite writes with another invocation's manifest reads
    val base = TempPaths.runDir(s, "timetravel")
    val link = stagedLinker(ensureM3SlicesStaged(s, d), base)
    val fA = link("m0", "A")
    val fC = link("m12", "C") // B's rows + the % 3 == 2 arrivals
    publishVersions(base, Seq(fA, link("m1", "B")), Seq(fA, fC))
    Seq(1, 2).map(v => s.read.parquet(ManifestLog.read(base, v): _*).withColumn("version", lit(v)))
      .reduce(_ unionByName _)
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
      .orderBy("version")
  }

  /** The SQL time-travel pair's log: v1 = A ∪ B, v2 = A ∪ C (the
    * compaction: B's rows + arrivals), over the staged TSV slices. */
  private def publishT3Versions(s: SparkSession, d: String, base: String): Unit = {
    val link = stagedLinker(ensureT3SlicesStaged(s, d), base)
    val fA = link("t0", "A")
    publishVersions(base, Seq(fA, link("t1", "B")), Seq(fA, link("t12", "C")))
  }

  /** `k_timetravel_sql` — SQL-native TIME TRAVEL (`VERSION AS OF`)
    * through the catalog plugin: the [[timeTravel]] manifest scenario,
    * but read entirely from SQL TEXT — Spark's own time-travel
    * resolution calls `GraftCatalog.loadTable(ident, version)`
    * (sources/GraftCatalog.scala), which pins the returned table to
    * that version's manifest ([[graft.sources.VersionedLinesV2]]), so a
    * BI/notebook user gets snapshot reads and version pinning with no
    * library import — the Delta/Iceberg SQL surface on the manifest
    * format, closing the statement the `x_catalog_sql` catalog path
    * and `k_merge_sql` parser path still lacked. The un-travelled
    * SELECT (version 0 row) proves plain reads resolve the LATEST
    * manifest; money travels as integer cents (exact decimal scaling,
    * no FP drift through the TSV data files).
    *
    * Scale shape: manifests are metadata-plane (O(files) text); each
    * part file is one scan partition; a version read touches only its
    * manifest's files — never a directory listing of the table. */
  def timeTravelSql(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "ttsql")
    publishT3Versions(s, d, base)
    // catalog name encodes the run dir: catalog instances are cached per
    // session after first resolution, and two runs must not share one
    val cat = "gtt" + base.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.tt_path", base)
    s.sql(
      s"""SELECT 0 AS version, COUNT(*) AS n_rows, SUM(price_cents) AS total_cents
         |FROM $cat.orders_tt
         |UNION ALL
         |SELECT 1 AS version, COUNT(*) AS n_rows, SUM(price_cents) AS total_cents
         |FROM $cat.orders_tt VERSION AS OF 1
         |UNION ALL
         |SELECT 2 AS version, COUNT(*) AS n_rows, SUM(price_cents) AS total_cents
         |FROM $cat.orders_tt VERSION AS OF 2
         |ORDER BY version""".stripMargin)
  }

  /** `k_dynamic_overwrite` — DYNAMIC PARTITION OVERWRITE: an overwrite
    * batch replaces ONLY the partitions it carries rows for (Spark's
    * `partitionOverwriteMode=dynamic`, driven here through the native
    * parquet writer) — the daily-restate shape: re-publishing one day
    * must never truncate the table (STATIC overwrite's failure mode) or
    * append duplicates. The fixture writes a status-partitioned table,
    * then restates exactly one status with corrected money (+9.00);
    * REQUIREs the untouched partitions' FILES are byte-identical
    * (same paths, same sizes — the restate never rewrote them) and the
    * table still holds every partition. Output: per-status totals after
    * the restate.
    *
    * Scale shape: the overwrite touches only the restated partition's
    * directory — commit cost ∝ restated data, never table size. */
  /** The status-partitioned base table (plus the restated-partition key
    * as a sidecar) is a pure corpus function; each run hard-links the
    * TREE into its own scratch because the dynamic overwrite under test
    * MUTATES the table (replaces one partition's files in place). */
  private def ensureDynOvwStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "dynovw_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$dataDir/table")
      val restated = o.agg(min(col("o_orderstatus"))).head().getString(0)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dataDir/restated.txt"),
        restated.getBytes("UTF-8")): Unit
    }

  def dynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val staged = ensureDynOvwStaged(s, d)
    val base = TempPaths.runDir(s, "dynovw")
    val path = linkDir(s"$staged/data/table", s"$base/table")
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
    val restated = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$staged/data/restated.txt")), "UTF-8").trim
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(path))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getPath -> f.length()).toMap
    }
    val before = files()
    val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      o.filter(col("o_orderstatus") === restated)
        .withColumn("cents", col("cents") + 900) // the correction
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    } finally {
      prevMode match {
        case Some(m) => s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    val after = files()
    val untouched = before.filter(!_._1.contains(s"o_orderstatus=$restated"))
    untouched.foreach { case (p, sz) =>
      require(after.get(p).contains(sz),
        s"dynamic overwrite must not touch other partitions: $p changed")
    }
    require(after.keys.exists(_.contains(s"o_orderstatus=$restated")),
      "the restated partition must still exist")
    s.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  /** `k_multi_table_txn` — ATOMIC MULTI-TABLE COMMITS through a
    * transaction log, the coordination single-table formats
    * (Delta/Iceberg included) famously lack: a pipeline that publishes
    * a fact table and its dimension together must never expose fact v2
    * joined against dim v1 (the torn read every dashboard hits when
    * two tables commit independently). The pair here is the classic
    * fact + SUMMARY publish (a detail table and its aggregate): both
    * tables' manifests write FIRST (invisible — nothing references
    * them), then ONE txn record (`txn-v<N>.txt`, the only commit
    * point) maps the transaction to its (table → version) vector;
    * readers resolve EVERY table through a single txn record, so the
    * snapshot is consistent by construction. The functional invariant
    * — aggregating the fact MUST reproduce the summary exactly — is
    * REQUIREd at every txn (a torn read joins fact v2 against summary
    * v1 and trips it; MultiTableTxnSpec constructs exactly that torn
    * resolution and proves it trips).
    *
    * Scale shape: the txn record is O(tables) metadata text; data files
    * and per-table manifests are exactly the single-table discipline —
    * the only new artifact is the one-line commit point. */
  def multiTableTxn(s: SparkSession, d: String): DataFrame =
    multiTableTxnBuild(s, d)._2

  /** Fact halves + their summaries for the multi-table txn — all four
    * pure corpus functions, staged once. */
  private def ensureTxnSlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "txnfacts_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
      def factSlice(n: Int): DataFrame =
        if (n == 1) o.filter(col("o_orderkey") % 2 === 0) else o
      def summaryOf(fact: DataFrame): DataFrame = fact
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("s_rows"), sum(col("cents")).as("s_cents"))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("fact1", factSlice(1))
      w("sum1", summaryOf(factSlice(1)))
      w("fact2", o.filter(col("o_orderkey") % 2 === 1))
      w("sum2", summaryOf(factSlice(2)))
    }

  private[operators] def multiTableTxnBuild(
      s: SparkSession, d: String): (String, DataFrame) = {
    val base = TempPaths.runDir(s, "txn")
    val link = stagedLinker(ensureTxnSlicesStaged(s, d), base)
    val f1 = link("fact1", "fact1")
    Seq(
      1 -> Seq("fact" -> Seq(f1), "summary" -> Seq(link("sum1", "sum1"))),
      2 -> Seq("fact" -> Seq(f1, link("fact2", "fact2")), // append
        "summary" -> Seq(link("sum2", "sum2"))))          // rewrite
      .foreach { case (n, tables) =>
        // every table's manifest lands first; the txn record publishes them
        tables.foreach { case (t, files) =>
          require(ManifestLog.publish(s"$base/$t", n, files), s"$t v$n exists under $base")
        }
        ManifestLog.commitTxn(base, n, tables.map(_._1 -> n))
      }
    (1 to 2).map { n =>
      val (fact, summary) = readTxnSnapshot(s, base, n)
      val joined = fact.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("f_rows"), sum(col("cents")).as("f_cents"))
        .join(summary, Seq("o_orderstatus"), "full_outer")
      val torn = joined.filter(
        col("f_rows").isNull || col("s_rows").isNull ||
          col("f_rows") =!= col("s_rows") || col("f_cents") =!= col("s_cents"))
        .limit(1).count()
      require(torn == 0,
        s"torn read at txn $n: the fact aggregate diverges from the summary")
      joined.agg(count(lit(1)).as("n_groups"),
          sum(col("f_rows")).as("n_rows"), sum(col("f_cents")).as("total_cents"))
        .select(lit(n).as("txn"), col("n_groups"), col("n_rows"), col("total_cents"))
    }.reduce(_ unionByName _).orderBy("txn") match {
      case df => (base, df)
    }
  }

  /** Resolve a consistent (fact, summary) snapshot through one txn
    * record — shared with MultiTableTxnSpec, whose torn twin resolves
    * the two tables through DIFFERENT txn records to prove the
    * invariant trips. */
  private[operators] def readTxnSnapshot(
      s: SparkSession, base: String, n: Int,
      tornSummaryTxn: Option[Int] = None): (DataFrame, DataFrame) = {
    def tableAt(t: String, txn: Int) =
      s.read.parquet(ManifestLog.read(s"$base/$t", ManifestLog.readTxn(base, txn)(t)): _*)
    (tableAt("fact", n), tableAt("summary", tornSummaryTxn.getOrElse(n)))
  }

  /** `k_row_tracking` — STABLE ROW IDENTITY across file rewrites (Delta
    * row tracking): every row receives a synthetic `row_id` at INGEST
    * (a salted 64-bit hash minted by the commit — a NARROW MAP, no
    * global window, because a global rank would serialize the ingest;
    * uniqueness is REQUIREd rather than assumed), and a rewrite (here:
    * full compaction + a price correction on one slice) CARRIES the
    * ids through to the new files. That identity is what file-level
    * CDF cannot give: diffing v1→v2 by FILE yields only remove-all +
    * add-all, but joining the two states ON row_id classifies every
    * row as unchanged or UPDATED with exact before/after — row-level
    * lineage through a 100% rewrite. REQUIREs the two versions share
    * NO data files (it really was a full rewrite) and that the row-id
    * sets are identical (identity survived). Output: per change class,
    * row count and the exact old/new money totals.
    *
    * Scale shape: id minting is shuffle-free; the lineage join is
    * row_id-equi — shuffled co-partitioned, never all-pairs. */
  private[operators] def rowTrackStageBuildCount =
    sliceStageBuildCounts.computeIfAbsent("rowtrack_i1k3v1",
      _ => new java.util.concurrent.atomic.AtomicInteger(0))

  /** Mint salt + slice/correction rules baked into the dir name. */
  def rowTrackStageDir(sfDir: String): String = sliceStageDir("rowtrack_i1k3v1", sfDir)

  /** Build-once staged versions for [[rowTracking]]: the v1 ingest (ids
    * minted EXACTLY once — the row-tracking premise — and their
    * uniqueness REQUIREd at mint time) and the v2 full rewrite (row_id
    * carried, the %3==1 correction applied) are both pure corpus
    * functions the query re-wrote every run. The query keeps the
    * LINEAGE contract live: disjoint file sets, identical id sets, and
    * the classification join. */
  private def ensureRowTrackStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "rowtrack_i1k3v1", "orders.parquet") { dataDir =>
      val ingest = Tables.orders(s, d).select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
        .withColumn("row_id", xxhash64(lit("ingest1"), col("o_orderkey")))
      val Array(n, nIds) = ingest
        .agg(count(lit(1)), countDistinct(col("row_id"))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == nIds, s"minted ids must be unique: $nIds ids for $n rows")
      // v1: two ingest files, ids minted here and never again
      ingest.filter(col("o_orderkey") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dataDir/A")
      ingest.filter(col("o_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$dataDir/B")
      // v2: ONE compacted file, %3==1 rows corrected, row_id CARRIED
      s.read.parquet(s"$dataDir/A", s"$dataDir/B")
        .withColumn("cents",
          when(col("o_orderkey") % 3 === 1, col("cents") + 500).otherwise(col("cents")))
        .write.mode("overwrite").parquet(s"$dataDir/AB2")
    }

  def rowTracking(s: SparkSession, d: String): DataFrame = {
    val staged = ensureRowTrackStaged(s, d)
    val v1 = s.read.parquet(s"$staged/data/A", s"$staged/data/B")
    val v2 = s.read.parquet(s"$staged/data/AB2")
    require(v1.inputFiles.toSet.intersect(v2.inputFiles.toSet).isEmpty,
      "v2 must be a full rewrite — no shared data files with v1")
    val onlyV1 = v1.select("row_id").exceptAll(v2.select("row_id")).limit(1).count()
    val onlyV2 = v2.select("row_id").exceptAll(v1.select("row_id")).limit(1).count()
    require(onlyV1 == 0 && onlyV2 == 0,
      "row-id sets must be identical across the rewrite")
    v1.select(col("row_id"), col("cents").as("old_cents"))
      .join(v2.select(col("row_id"), col("cents").as("new_cents")), Seq("row_id"))
      .select(when(col("old_cents") === col("new_cents"), lit("unchanged"))
          .otherwise(lit("updated")).as("change"),
        col("old_cents"), col("new_cents"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("old_cents")).as("sum_old_cents"),
        sum(col("new_cents")).as("sum_new_cents"))
      .orderBy("change")
  }

  /** `k_clone` — SHALLOW CLONE on the manifest format (Delta's
    * zero-copy clone): a new TABLE whose first manifest lists the
    * SOURCE's data files BY PATH — no byte is copied, creation cost is
    * O(manifest), and the clone diverges independently afterwards
    * (each table appends its own files; the shared files stay shared).
    * The query REQUIREs the clone's directory holds no data files
    * (metadata-only creation witness) and that its manifest points
    * into the source's data dir; the emitted per-(table, version)
    * totals prove isolation — the source's post-clone commit is
    * invisible to the clone and vice versa. The dev/staging workflow
    * this enables (clone prod, experiment, throw away) only works at
    * 100 TB because nothing is copied. */
  def cloneTable(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "clone")
    val link = stagedLinker(ensureQCSlicesStaged(s, d), base, "src_data")
    val fA = link("q0", "A")
    val fB = link("q1", "B")
    val (src, clone) = (s"$base/src", s"$base/clone")
    publishVersions(src, Seq(fA), Seq(fA, fB))
    // SHALLOW CLONE at src v2: copy the MANIFEST CONTENT, not the data
    val srcV2 = ManifestLog.read(src, 2)
    require(ManifestLog.publish(clone, 1, srcV2), "clone v1 exists")
    // divergence: each table appends its own file
    require(ManifestLog.commit(src, Set.empty, Seq(link("q2", "C"))).version == 3)
    require(ManifestLog.commit(clone, Set.empty, Seq(link("q3", "D"))).version == 2)
    // zero-copy witness: the clone dir carries manifests only, and every
    // clone manifest line resolves into the SOURCE's data dir
    val cloneFiles = Option(new java.io.File(clone).listFiles())
      .getOrElse(Array.empty).map(_.getName).toSeq
    require(cloneFiles.nonEmpty && cloneFiles.length == ManifestLog.versions(clone).length,
      s"clone dir must hold only manifests, got $cloneFiles")
    require(srcV2.forall(_.contains("/src_data/")),
      "clone manifest must reference the source's data files by path")
    Seq("src" -> 2, "src" -> 3, "clone" -> 1, "clone" -> 2).map { case (table, v) =>
      s.read.parquet(ManifestLog.read(s"$base/$table", v): _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(table).as("tbl"), lit(v).as("version"),
          col("n_rows"), col("total_cents"))
    }.reduce(_ unionByName _)
      .orderBy("tbl", "version")
  }

  /** `k_deep_clone` — DEEP CLONE, the physical-copy complement of
    * [[cloneTable]]: data files byte-copy to the clone's own storage
    * and the clone manifest references ONLY the copies, so the clone
    * survives anything that happens to the source — the query DELETES
    * the source's data outright (the vacuum that breaks shallow clones,
    * CloneRestoreSpec's documented hazard), REQUIREs the source is
    * really gone, and still reads the clone exactly. The cost trade is
    * the point: shallow = O(manifest) creation but shared-fate files;
    * deep = O(data) creation and full isolation — DR replicas and
    * cross-environment promotion pay for deep. */
  def deepClone(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "deepclone")
    val link = stagedLinker(ensureQCSlicesStaged(s, d), base, "src_data")
    val fA = link("h0", "A")
    val fB = link("h1", "B")
    require(ManifestLog.publish(s"$base/src", 1, Seq(fA, fB)), "src v1 exists")
    // the deep copy: byte-for-byte file copies into the clone's storage
    def copyDir(from: String, name: String): String = {
      val toDir = java.nio.file.Paths.get(s"$base/clone_data/$name")
      java.nio.file.Files.createDirectories(toDir)
      val src = java.nio.file.Paths.get(from)
      val st = java.nio.file.Files.list(src)
      try {
        st.iterator().forEachRemaining { p =>
          if (java.nio.file.Files.isRegularFile(p))
            java.nio.file.Files.copy(p, toDir.resolve(p.getFileName.toString)): Unit
        }
      } finally st.close()
      toDir.toString
    }
    val cA = copyDir(fA, "A")
    val cB = copyDir(fB, "B")
    require(ManifestLog.publish(s"$base/clone", 1, Seq(cA, cB)), "clone v1 exists")
    require(Seq(cA, cB).forall(_.contains("/clone_data/")),
      "deep clone must reference its own copies, never the source")
    // the source-side catastrophe the clone must survive
    TempPaths.deleteRecursively(new java.io.File(s"$base/src_data"))
    require(scala.util.Try(s.read.parquet(fA).count()).isFailure,
      "fixture error: the source data must really be gone")
    s.read.parquet(cA, cB)
      .groupBy((col("o_orderkey") % 2).cast("int").as("slice"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
      .orderBy("slice")
  }

  /** `k_restore` — RESTORE TABLE TO VERSION as a ROLL-FORWARD commit
    * (Delta's RESTORE): recovering from a bad commit writes a NEW
    * version whose manifest is the target version's file list — never
    * a rollback that erases history, so the bad versions stay
    * readable for the post-mortem and concurrent readers never see
    * the log shrink. REQUIREs the restored manifest equals the
    * target's exactly and that every intermediate manifest survived;
    * emits all four versions' totals so the oracle pins both the
    * restore and the preserved history. Metadata-plane only — the
    * restore commit is O(files) text, no data movement. */
  def restoreTable(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "restore")
    val link = stagedLinker(ensureQCSlicesStaged(s, d), base)
    val fA = link("q0", "A")
    val fB = link("q1", "B")
    publishVersions(base, Seq(fA), Seq(fA, fB),
      Seq(fA, fB, link("q2", "C"))) // v3: the "bad" commit being recovered from
    // RESTORE TO v1 = roll-forward with v1's list
    require(ManifestLog.publish(base, 4, ManifestLog.read(base, 1)), "v4 exists")
    require(ManifestLog.read(base, 4) == ManifestLog.read(base, 1),
      "restore must reproduce the target version's file list exactly")
    (1 to 3).foreach { v =>
      require(ManifestLog.exists(base, v), s"history must survive the restore: v$v missing")
    }
    (1 to 4).map { v =>
      s.read.parquet(ManifestLog.read(base, v): _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(v).as("version"), col("n_rows"), col("total_cents"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Applies a signed per-key delta to a materialized aggregate: `mv1`
    * carries (key, n_rows, total_cents), `deltas` carries one row per
    * changed BASE row with weight −1 (deleted) / +1 (inserted). Keys
    * whose net row count reaches zero DROP from the view (a group the
    * base no longer has must not linger at n_rows = 0). Count and sum
    * are self-maintainable aggregates — the delta is exact, no rescan. */
  private[operators] def applyMvDelta(
      mv1: DataFrame, deltas: DataFrame): DataFrame = {
    val agg = deltas.groupBy(col("o_orderstatus"))
      .agg(sum(col("w")).as("dn"), sum(col("cents") * col("w")).as("dc"))
    mv1.join(agg, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
        (coalesce(col("total_cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("total_cents"))
      .filter(col("n_rows") > 0)
      .orderBy("o_orderstatus")
  }

  /** `k_mv_refresh` — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE off the
    * change feed: the aggregate a dashboard reads (per-status row count
    * + money total) is materialized at table version 1, and when v2
    * commits (one file rewritten with a price correction, one appended)
    * the view refreshes by applying the CDF DELTA — the removed files'
    * rows weighted −1, the added files' rows +1 ([[manifestCdf]]'s
    * file-set difference made actionable) — NEVER rescanning the
    * unchanged base. Count/sum are self-maintainable aggregates, so
    * incremental ≡ full recompute exactly (the oracle recomputes the
    * v2 state from the slice rules; MvRefreshSpec additionally proves
    * delta-path ≡ full-path and that a net-zero key drops). The query
    * REQUIREs the refresh read touched only changed files — at 100 TB
    * the whole point is that refresh cost ∝ |change|, not |table|.
    * Money is integer cents (exact decimal scaling) so subtraction in
    * the delta is exact. */
  /** The MV demo's version slices AND the v1 materialization — the "full
    * pass paid ONCE" is now literally once per CORPUS, not once per run. */
  private def ensureMvSlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "mvslices_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("A", o.filter(col("o_orderkey") % 3 === 0))
      w("B", o.filter(col("o_orderkey") % 3 === 1))
      w("B2", o.filter(col("o_orderkey") % 3 === 1)
        .withColumn("cents", col("cents") + 500)) // rewrite: +5.00 correction
      w("C", o.filter(col("o_orderkey") % 3 === 2)) // append
      // v1 = A∪B materialized once (the aggregate the refresh maintains)
      s.read.parquet(s"$dataDir/A", s"$dataDir/B").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .write.mode("overwrite").parquet(s"$dataDir/mv1")
    }

  def mvRefresh(s: SparkSession, d: String): DataFrame = {
    val link = stagedLinker(ensureMvSlicesStaged(s, d), TempPaths.runDir(s, "mvrefresh"))
    val Seq(fB, fB2, fC, mv1Path) = Seq("B", "B2", "C", "mv1").map(n => link(n, n))
    // CDF v1→v2: removed file B → deletes; added B2, C → inserts
    val deltas = s.read.parquet(fB)
      .select(col("o_orderstatus"), col("cents"), lit(-1L).as("w"))
      .unionByName(s.read.parquet(fB2, fC)
        .select(col("o_orderstatus"), col("cents"), lit(1L).as("w")))
    val changed = Seq("/data/B/", "/data/B2/", "/data/C/")
    require(deltas.inputFiles.nonEmpty &&
      deltas.inputFiles.forall(f => changed.exists(f.contains)),
      "refresh delta must read only the changed files, never the base")
    applyMvDelta(s.read.parquet(mv1Path), deltas)
  }

  /** `k_timetravel_ts` — `TIMESTAMP AS OF` through the catalog: commits
    * record timestamps (deterministic fixture seconds — production uses
    * the commit wall clock) and the catalog resolves a queried time to
    * the LATEST version committed at-or-before it (the Delta/Iceberg
    * rule; strictly-before-first-commit fails). The two probes land
    * between-commits (→ v1) and after-both (→ v2); timestamps enter as
    * `CAST(<epoch seconds> AS TIMESTAMP)` — epoch-based, so the UTC
    * session makes the literal timezone-proof. Completes the time-travel
    * SQL surface next to [[timeTravelSql]]'s VERSION AS OF. */
  def timeTravelTs(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "ttts")
    publishT3Versions(s, d, base)
    graft.sources.VersionedLinesV2.writeTimestamps(base, Seq(1 -> 1000L, 2 -> 2000L))
    val cat = "gts" + base.replaceAll("[^A-Za-z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.tt_path", base)
    s.sql(
      s"""SELECT 1 AS pick, COUNT(*) AS n_rows, SUM(price_cents) AS total_cents
         |FROM $cat.orders_tt TIMESTAMP AS OF CAST(1500 AS TIMESTAMP)
         |UNION ALL
         |SELECT 2 AS pick, COUNT(*) AS n_rows, SUM(price_cents) AS total_cents
         |FROM $cat.orders_tt TIMESTAMP AS OF CAST(2500 AS TIMESTAMP)
         |ORDER BY pick""".stripMargin)
  }

  /** The 7-commit script of the action-log trio over run-owned links of
    * the staged %4 slices ([[ensureQ4SlicesStaged]]): four appends, a
    * compaction (A, B → AB) and two rewrites (D → D2, C → C2);
    * checkpoints land at v3 and v6. `stamp` supplies each commit's
    * timestamp action. Returns the linked files by slice name. */
  private def q4ActionLog(staged: String, base: String,
      stamp: Int => Option[Long] = _ => None): Map[String, String] = {
    val link = stagedLinker(staged, base)
    val f = Seq("A", "B", "C", "D", "AB", "D2", "C2").map(n => n -> link(n, n)).toMap
    Seq(Nil -> Seq("A"), Nil -> Seq("B"), Nil -> Seq("C"), Nil -> Seq("D"),
      Seq("A", "B") -> Seq("AB"), // compaction
      Seq("D") -> Seq("D2"),      // rewrite
      Seq("C") -> Seq("C2"))      // rewrite
      .zip(LazyList.from(1)).foreach { case ((remove, add), v) =>
        ManifestLog.commitActions(base, v, remove.map(f), add.map(f), stamp(v))
      }
    f
  }

  /** `k_log_checkpoint` — ACTION LOG + CHECKPOINTING, the missing third
    * leg of the transaction-log family: [[timeTravel]]'s manifests store
    * FULL file lists (O(files) metadata per commit — fine for small
    * tables, quadratic for a table with millions of files), so the
    * production shape (Delta exactly) stores per-commit ACTIONS
    * (`add`/`remove` lines, O(change) each) and pays for it at READ
    * time: resolving a version means replaying every commit since the
    * beginning — unless the writer periodically materializes a
    * CHECKPOINT (the cumulative file list at version k) and points
    * `_last_checkpoint` at it, after which any reader resolves any
    * version from the nearest checkpoint at-or-below plus the action
    * suffix. The scenario: 7 commits (appends, a compaction, two
    * rewrites), checkpoints at v3/v6, reads at v3 (0 actions replayed),
    * v5 (2), and latest-via-pointer (1) — the replayed-action counts are
    * REQUIREd at exactly those values AND emitted as columns, so the
    * oracle hash-checks the bounded-replay property itself, not just
    * row contents. Rewrites preserve rows (checked by the oracle's
    * slice rules: v5 and v7 read identical totals through different
    * file sets).
    *
    * Scale shape: commits are O(change) metadata; a reader is
    * O(files-at-checkpoint + actions-since) — never O(history); data
    * files are immutable parquet, the reader unions only live files. */
  def logCheckpoint(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "logckpt")
    q4ActionLog(ensureQ4SlicesStaged(s, d), base)
    // the reader: nearest checkpoint at-or-below + action suffix
    val latest = ManifestLog.lastCheckpoint(base) // pointer → O(1) start
    val reads = Seq(3 -> 0, 5 -> 2, 7 -> (7 - latest))
    reads.map { case (v, expectReplay) =>
      val (files, replayed) = ManifestLog.resolve(base, v)
      require(replayed == expectReplay,
        s"v$v replayed $replayed actions, expected $expectReplay — checkpoint not consulted")
      s.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(lit(v).as("version"), lit(replayed).as("actions_replayed"),
          col("n_rows"), col("total"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** `k_profile` — the PER-COLUMN PROFILING report (what ANALYZE
    * publishes, as a queryable long-format table): row count, null
    * count, distinct count, min/max, and the modal value with its
    * frequency, per column. Everything derives from ONE per-column
    * value-count table (a map-side-combined groupBy to O(distinct)
    * rows): totals are its sums, distincts its cardinality, the mode a
    * TakeOrdered(1) with the (count desc, value asc) tie order — the
    * corpus is scanned once per column and nothing corpus-sized crosses
    * an unbounded window. Values stringify so heterogeneous columns
    * share one report schema (the profiling-UI contract).
    *
    * The data-ops triptych: [[expectations]] gates, [[schemaDrift]]
    * guards structure, and this PROFILES — the three reads an ingest
    * runbook makes before promoting a batch. */
  def profile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def col1(name: String): DataFrame = {
      val vc = o.groupBy(col(name).cast("string").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val totals = vc.agg(
        sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(when(col("v").isNotNull, 1)).as("n_distinct"),
        min(col("v")).as("min_val"), max(col("v")).as("max_val"))
      val mode = vc.filter(col("v").isNotNull)
        .orderBy(col("cnt").desc, col("v")).limit(1)
        .select(col("v").as("top_value"), col("cnt").as("top_count"))
      totals.crossJoin(mode).select(lit(name).as("column"),
        col("n_rows"), col("n_null"), col("n_distinct"),
        col("min_val"), col("max_val"), col("top_value"), col("top_count"))
    }
    Seq("o_orderpriority", "o_orderstatus", "o_custkey")
      .map(col1).reduce(_ unionByName _)
      .orderBy("column")
  }

  /** `k_expectations` — the DATA-QUALITY CONTRACT suite (the Great
    * Expectations / dbt-tests shape): a declarative rule set evaluated
    * against the live table in ONE scan of conditional aggregates (plus
    * one anti-join for the referential rule), emitting per rule the
    * violation count and a pass flag — the gate an ingest promotes or
    * quarantines a batch on, next to [[schemaDrift]]'s structural check
    * and [[quarantineRead]]'s row-level split. A DELIBERATELY failing
    * rule (`totalprice ≤ 100`) stays in the suite: an expectations
    * harness that has never been seen to fail is itself untested.
    *
    * Scale shape: all scalar rules ride one map-side-combined pass over
    * the fact; the FK rule is a left-anti join against the dim's key
    * projection (broadcast at any realistic dim size); output is
    * O(rules). */
  def expectations(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val scalar = o.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_notnull"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_unique"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("v_nonneg"),
      sum(when(!col("o_orderpriority").isin(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 1L)
        .otherwise(0L)).as("v_domain"),
      sum(when(col("o_totalprice") > 100, 1L).otherwise(0L)).as("v_le100"))
      .head()
    val fkViolations = o.select(col("o_custkey"))
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    import s.implicits._
    Seq(
      ("o_orderkey", "not_null", scalar.getLong(0)),
      ("o_orderkey", "unique", scalar.getLong(1)),
      ("o_totalprice", "non_negative", scalar.getLong(2)),
      ("o_orderpriority", "in_domain", scalar.getLong(3)),
      ("o_totalprice", "max_le_100", scalar.getLong(4)), // the canary: must fail
      ("o_custkey", "fk_customer", fkViolations))
      .toDF("column", "rule", "n_violations")
      .withColumn("passed", (col("n_violations") === 0).cast("int"))
      .orderBy("column", "rule")
  }

  /** `k_log_history` — the DESCRIBE-HISTORY metadata table over the
    * action log (every table format ships one; it is how an operator
    * answers "what happened to this table and when" without reading a
    * byte of data): per version, the add/remove action counts, the LIVE
    * file count after replay, and whether a checkpoint was cut — all
    * resolved purely from the metadata plane ([[logCheckpoint]]'s
    * commit/checkpoint files), O(history) text reads, zero data-file
    * opens. The scenario is [[logCheckpoint]]'s 7-commit script, so
    * every row is closed-form and the oracle is a literal table — a
    * reader that miscounted an action or missed a checkpoint diverges.
    */
  def logHistory(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "loghist")
    q4ActionLog(ensureQ4SlicesStaged(s, d), base)
    // the reader: metadata-plane only — walk the action files once,
    // folding live-file counts; checkpoints detected by existence
    import s.implicits._
    var live = 0
    val rows = (1 to 7).map { v =>
      val ops = ManifestLog.actions(base, v).map(_._1)
      val nAdd = ops.count(_ == "add")
      val nRemove = ops.count(_ == "remove")
      live += nAdd - nRemove
      (v, nAdd, nRemove, live, if (ManifestLog.hasCheckpoint(base, v)) 1 else 0)
    }
    rows.toDF("version", "n_add", "n_remove", "n_live_files", "is_checkpoint")
      .orderBy("version")
  }

  /** `k_timetravel_occ` — the concurrent-writer scenario, made
    * deterministic without weakening the race: two appenders both
    * snapshot v1, are held at a latch until BOTH are ready, then race
    * the v2 publish. Exactly one create-if-absent wins; the loser
    * validates, rebases onto v2, and lands v3 — so whatever the
    * interleaving, the log ends at 3 versions with exactly 1 conflict
    * retry, v1 stays readable unchanged (snapshot isolation), and the
    * final version holds base ∪ X ∪ Y. Every output column is
    * symmetric in WHICH writer won, so the query is hash-checkable. */
  def timeTravelOcc(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "timetravel_occ")
    // data files staged BEFORE the metadata race (a real writer stages
    // its parquet first too — only the manifest publish races); each
    // run hard-links the pure-corpus slices into its own scratch
    val link = stagedLinker(ensureM3SlicesStaged(s, d), base)
    val f0 = link("m0", "base")
    val fX = link("m1", "X")
    val fY = link("m2", "Y")
    require(ManifestLog.publish(base, 1, Seq(f0)), s"v1 already exists under $base")
    val v1Before = ManifestLog.read(base, 1)

    val ready = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, CommitResult]()
    def appender(name: String, file: String) = new Thread(() => {
      // both writers PIN their commit to the v1 snapshot read here — the
      // latch alone doesn't force a conflict (the loser's fresh read
      // inside commit() could already see v2 and land cleanly)
      val snap = ManifestLog.latest(base)
      ready.countDown(); ready.await()
      results.put(name, ManifestLog.commit(base, Set.empty, Seq(file), Some(snap))): Unit
    }, s"occ-$name")
    val ts = Seq(appender("X", fX), appender("Y", fY))
    ts.foreach(_.start()); ts.foreach(_.join())

    val (lastV, finalFiles) = ManifestLog.latest(base)
    require(ManifestLog.read(base, 1) == v1Before, "v1 mutated — snapshot isolation broken")
    val conflicts = results.values().stream().mapToInt(_.attempts).sum() - results.size()
    val fin = s.read.parquet(finalFiles: _*)
    fin.agg(count(lit(1)).as("final_rows"), dsum(col("o_totalprice")).as("final_total"))
      .crossJoin(s.read.parquet(ManifestLog.read(base, 1): _*)
        .agg(count(lit(1)).as("v1_rows")))
      .select(lit(lastV).as("n_versions"), lit(conflicts).as("n_conflicts"),
        col("v1_rows"), col("final_rows"), col("final_total"))
  }

  /** `k_occ_compaction` — COMPACTION UNDER A CONCURRENT APPEND, the
    * conflict pair [[timeTravelOcc]]'s two-appender race does not
    * cover: a background OPTIMIZE (remove the small files A,B; add the
    * compacted C) and an ingest append (add NEW) both pin the v1
    * snapshot, race the v2 publish, and the loser REBASES — the
    * file-set conflict rule (Delta's): an append never invalidates
    * anything, and the compactor's read set {A,B} stays live when the
    * winner only added, so BOTH orders land the same final state
    * {C, NEW} with exactly one retry. A compactor whose inputs had
    * been removed would abort instead (the read-set validation in
    * [[ManifestLog.commit]]). REQUIREd: 3 versions, 1 conflict, the
    * exact final file set, and v1 still readable unchanged — every
    * output column symmetric in which writer won, so the race is
    * hash-checkable. This is what lets OPTIMIZE run continuously under
    * live ingest at 100 TB instead of in a maintenance window. */
  def occCompaction(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "occ_comp")
    val link = stagedLinker(ensureM3SlicesStaged(s, d), base)
    val fA = link("m0", "A")
    val fB = link("m1", "B")
    val fC = link("m01", "C")   // A∪B compacted
    val fNew = link("m2", "NEW") // the arriving batch
    require(ManifestLog.publish(base, 1, Seq(fA, fB)), s"v1 already exists under $base")
    val v1Before = ManifestLog.read(base, 1)
    val ready = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, CommitResult]()
    def writer(name: String, remove: Set[String], add: Seq[String]) = new Thread(() => {
      val snap = ManifestLog.latest(base)
      ready.countDown(); ready.await()
      results.put(name, ManifestLog.commit(base, remove, add, Some(snap))): Unit
    }, s"occcomp-$name")
    val ts = Seq(
      writer("append", Set.empty, Seq(fNew)),
      writer("compact", Set(fA, fB), Seq(fC)))
    ts.foreach(_.start()); ts.foreach(_.join())
    val (lastV, finalFiles) = ManifestLog.latest(base)
    require(lastV == 3, s"expected 3 versions, got $lastV")
    require(finalFiles.toSet == Set(fC, fNew),
      s"final state must be {compacted, appended}, got $finalFiles")
    require(ManifestLog.read(base, 1) == v1Before, "v1 mutated — snapshot isolation broken")
    val conflicts = results.values().stream().mapToInt(_.attempts).sum() - results.size()
    require(conflicts == 1, s"exactly one rebase expected, got $conflicts")
    s.read.parquet(finalFiles: _*)
      .agg(count(lit(1)).as("final_rows"), dsum(col("o_totalprice")).as("final_total"))
      .crossJoin(s.read.parquet(ManifestLog.read(base, 1): _*)
        .agg(count(lit(1)).as("v1_rows")))
      .select(lit(lastV).as("n_versions"), lit(conflicts).as("n_conflicts"),
        col("v1_rows"), col("final_rows"), col("final_total"))
  }

  private[operators] def occGdprStageBuildCount =
    sliceStageBuildCounts.computeIfAbsent("occ_gdpr_k3s7v1",
      _ => new java.util.concurrent.atomic.AtomicInteger(0))

  /** Slice rules (orderkey%3 split, custkey%7===3 subject) baked into
    * the dir name per the stage-dir-constants discipline. */
  def occGdprStageDir(sfDir: String): String = sliceStageDir("occ_gdpr_k3s7v1", sfDir)

  /** Build-once staged slices for [[occGdprAbort]]: all six file sets the
    * OCC race manipulates (A/B/C and their erased twins) are pure
    * functions of orders — fixed slice rules, fixed subject — so they
    * stage once per corpus fingerprint (6 writes that used to run inside
    * EVERY query). What the query exercises is the TRANSACTION PROTOCOL
    * (manifest commits, read-set validation, abort, re-plan), and that
    * still runs live per run over run-owned hard links. */
  private def ensureOccGdprStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "occ_gdpr_k3s7v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val isSubject = col("o_custkey") % 7 === 3
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("A", o.filter(col("o_orderkey") % 3 === 0))
      w("B", o.filter(col("o_orderkey") % 3 === 1))
      w("C", o.filter(col("o_orderkey") % 3 <= 1))
      w("A_erased", o.filter(col("o_orderkey") % 3 === 0 && !isSubject))
      w("B_erased", o.filter(col("o_orderkey") % 3 === 1 && !isSubject))
      w("C_replanned", o.filter(col("o_orderkey") % 3 <= 1 && !isSubject))
    }

  /** `k_occ_gdpr_abort` — the ABORT path of the OCC conflict rule, proven
    * on the erasure workflow ([[occCompaction]] proves the rebase path):
    * a GDPR delete rewrites every bucket holding the subject's rows
    * (remove {A, B}, add {A′, B′}) while a compactor is mid-flight with
    * the SAME read set {A, B} pinned at v1. Erasure publishes first —
    * legally it cannot yield — so the compactor's read-set validation
    * finds its inputs no longer live and must THROW, not rebase: silently
    * rebasing would resurrect the erased rows from its stale inputs (the
    * compacted file C was built from pre-erasure A∪B — re-adding it IS
    * the data-protection bug this rule exists to stop). The aborted
    * compactor then RE-PLANS against the live snapshot ({A′, B′} → C′)
    * and lands v3 — erasure wins, compaction still happens, nothing
    * erased comes back. REQUIREd: the abort is a
    * ConcurrentModificationException on the first attempt, 3 versions,
    * v1 immutable; hash-checked columns: version/abort/replan counts,
    * subject rows present in v1 and ZERO in the final state, and the
    * final aggregate = A∪B minus the subject — all deterministic, so the
    * whole workflow is a correctness row, not a log line. */
  def occGdprAbort(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "occ_gdpr")
    // each participant's file set is a staged pure-corpus slice; the run
    // hard-links it at the protocol step where the participant would
    // finish writing it — the OCC race itself runs live every time
    val linker = stagedLinker(ensureOccGdprStaged(s, d), base)
    def link(name: String): String = linker(name, name)
    val fA = link("A")
    val fB = link("B")
    // the compactor's output, planned against v1 — STALE: contains the
    // subject's rows, and must never reach the log
    val fC = link("C")
    require(ManifestLog.publish(base, 1, Seq(fA, fB)), s"v1 already exists under $base")
    val v1Before = ManifestLog.read(base, 1)
    // compactor pins its snapshot BEFORE erasure lands (it is mid-flight)
    val compactorSnap = ManifestLog.latest(base)
    // GDPR erasure: rewrite every file holding subject rows, publish v2
    val fA2 = link("A_erased")
    val fB2 = link("B_erased")
    require(ManifestLog.commit(base, Set(fA, fB), Seq(fA2, fB2)).version == 2,
      "erasure must land v2")
    // the stale compactor commits against its v1 snapshot: MUST abort
    val aborted =
      try { ManifestLog.commit(base, Set(fA, fB), Seq(fC), Some(compactorSnap)); 0 }
      catch { case _: java.util.ConcurrentModificationException => 1 }
    require(aborted == 1, "stale compactor must abort, not rebase over an erasure")
    val (liveV, liveFiles) = ManifestLog.latest(base)
    require(liveV == 2 && liveFiles.toSet == Set(fA2, fB2),
      "failed commit must leave the erased state untouched")
    // re-plan against the live snapshot and compact the erased files
    val fC2 = link("C_replanned")
    val replanned = ManifestLog.commit(base, Set(fA2, fB2), Seq(fC2))
    require(replanned.version == 3 && replanned.attempts == 1,
      "re-planned compaction must land v3 cleanly")
    require(ManifestLog.read(base, 1) == v1Before, "v1 mutated — snapshot isolation broken")
    val (lastV, finalFiles) = ManifestLog.latest(base)
    require(finalFiles == Seq(fC2), s"final state must be the re-planned compact, got $finalFiles")
    s.read.parquet(finalFiles: _*)
      .agg(count(lit(1)).as("final_rows"),
        sum((col("o_custkey") % 7 === 3).cast("long")).as("subject_rows_final"),
        dsum(col("o_totalprice")).as("final_total"))
      .crossJoin(s.read.parquet(ManifestLog.read(base, 1): _*)
        .agg(count(lit(1)).as("v1_rows"),
          sum((col("o_custkey") % 7 === 3).cast("long")).as("subject_rows_v1")))
      .select(lit(lastV).as("n_versions"), lit(aborted).as("n_aborts"),
        lit(1).as("n_replans"), col("v1_rows"), col("subject_rows_v1"),
        col("final_rows"), col("subject_rows_final"), col("final_total"))
  }

  /** `k_partition_evolution` — PARTITION-SPEC EVOLUTION on the manifest
    * core: the table starts life UNPARTITIONED (v1 — one file, the
    * "just land the data" phase) and a later commit rewrites it
    * day-partitioned (v2) WITHOUT rewriting history — each manifest
    * records its own partition spec, so a reader resolves pruning
    * per-version: a day-filtered read of v2 opens only that day's
    * files (REQUIREd in-operator via the executed file list), while the
    * same filter against v1 must scan its one file (no spec, no
    * pruning — the honest cost of the early layout). This is the
    * Iceberg property that partitioning is METADATA, not a table
    * rewrite contract: old snapshots stay readable under their own
    * spec forever. Output = the same filtered aggregate computed
    * through BOTH versions — layout changes plans, never answers. */
  def partitionEvolution(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "part_evolution")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), to_date(col("ts")).as("day"))
    // v1: one unpartitioned file set
    ev.coalesce(1).write.mode("overwrite").parquet(s"$base/data/v1flat")
    require(ManifestLog.publish(base, 1, Seq(s"$base/data/v1flat|spec=none")), "v1 exists")
    // v2: the same rows re-written day-partitioned; new files, old intact
    ev.repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$base/data/v2bydays")
    require(ManifestLog.publish(base, 2, Seq(s"$base/data/v2bydays|spec=day")), "v2 exists")
    val targetDay = ev.agg(min(col("day"))).head().getDate(0).toString
    def filtered(v: Int): DataFrame = {
      val Array(path, spec) = ManifestLog.read(base, v).head.split("\\|")
      val agg = s.read.parquet(path).filter(col("day") === lit(targetDay))
        .groupBy().agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
      val rows = agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      if (spec == "spec=day")
        // the day predicate must reach the scan as a PARTITION filter —
        // only the v2 spec makes that possible
        require(plan.contains("PartitionFilters: [isnotnull(day"),
          s"v$v day-spec read did not prune by partition; plan:\n$plan")
      else
        require(plan.contains("PartitionFilters: []"),
          s"v$v unpartitioned read claims partition pruning; plan:\n$plan")
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), agg.schema)
    }
    filtered(1).unionByName(filtered(2)).orderBy("version")
  }

  /** `k_schema_drift` — the INGEST CONTRACT GUARD that runs before
    * anyone trusts `mergeSchema` (`k_schema_evolution` proves the merge
    * mechanics; this is the gate that decides whether merging is even
    * safe): two snapshot schemas read from REAL written files are
    * diffed per column into added / removed / widened / unchanged /
    * incompatible. Widening (int→long here) is safe to merge;
    * incompatible (string→double here) silently corrupts or fails a
    * union at read time, which is exactly why the verdict must exist as
    * data a pipeline can alert on, not a stack trace at 3am. The diff
    * logic reads only footers — metadata plane, O(columns). */
  def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "schema_drift")
    val o = Tables.orders(s, d).filter(col("o_orderkey") % 200 === 0)
    o.select(col("o_orderkey"), col("o_custkey").cast("int").as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/v1")
    o.select(col("o_orderkey"), col("o_custkey"), // int → long: widened
        col("o_orderstatus").cast("string"),
        col("o_totalprice").cast("string"), // double → string: incompatible
        col("o_orderpriority")) // added
      .write.mode("overwrite").parquet(s"$base/v2")
    val v1 = s.read.parquet(s"$base/v1").schema.map(f => f.name -> f.dataType).toMap
    val v2 = s.read.parquet(s"$base/v2").schema.map(f => f.name -> f.dataType).toMap
    import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType}
    def widened(a: DataType, b: DataType): Boolean =
      (a == IntegerType && b == LongType) || (a == FloatType && b == DoubleType)
    val verdicts = (v1.keySet ++ v2.keySet).toSeq.sorted.map { c =>
      val verdict = (v1.get(c), v2.get(c)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) if a == b => "unchanged"
        case (Some(a), Some(b)) if widened(a, b) => "widened"
        case _ => "incompatible"
      }
      (c, v1.get(c).map(_.simpleString).orNull,
        v2.get(c).map(_.simpleString).orNull, verdict)
    }
    import s.implicits._
    verdicts.toDF("col_name", "v1_type", "v2_type", "verdict")
      .orderBy("col_name")
  }

  /** `k_fixedwidth_roundtrip` — FIXED-WIDTH text, the mainframe/COBOL
    * interchange format still feeding enterprise lakes (no delimiters,
    * no schema line — positions ARE the schema): an orders slice is
    * rendered to padded 48-byte records (`%016.2f` for the price — the
    * corpus is 2-decimal, so print→parse is double-exact by
    * shortest-round-trip), read back as raw text, and re-parsed with
    * substring/trim/cast arithmetic. The aggregate must match the
    * original parquet — any column-boundary error garbles a field and
    * diverges. Parsing is pure column arithmetic (codegen'd, no UDF),
    * the pattern that makes a 100 TB fixed-width backfill an ordinary
    * scan. */
  def fixedwidthRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "fixedwidth")
    Tables.orders(s, d)
      .filter(col("o_orderkey") % 50 === 0)
      .select(concat(
        rpad(col("o_orderkey").cast("string"), 12, " "),
        rpad(col("o_orderstatus"), 4, " "),
        format_string("%016.2f", col("o_totalprice")),
        rpad(col("o_orderpriority"), 16, " ")).as("value"))
      .write.mode("overwrite").text(s"$base/fw")
    s.read.text(s"$base/fw")
      .select(
        trim(substring(col("value"), 1, 12)).cast("bigint").as("o_orderkey"),
        trim(substring(col("value"), 13, 4)).as("o_orderstatus"),
        substring(col("value"), 17, 16).cast("double").as("o_totalprice"),
        trim(substring(col("value"), 33, 16)).as("o_orderpriority"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** `k_manifest_cdf` — CHANGE DATA FEED between two manifest versions,
    * computed from the MANIFEST DIFF alone: the files shared by v1 and
    * v2 cannot contribute changes (data files are immutable), so the
    * row-level feed full-outer-joins ONLY the removed files (v1∖v2)
    * against the added files (v2∖v1) — at 100 TB that is "read the
    * delta, not the table", the property every incremental consumer
    * (downstream sync, index maintenance, audit) depends on. Rows in
    * added∖removed are net INSERTS, removed∖added net DELETES, and
    * key-equal rows on both sides are REWRITES (physical movement, no
    * logical change — compaction traffic that a naive file-level diff
    * would misreport as churn). Here v2 compacts B into C (B's rows +
    * the ≡2 arrivals), so the feed is: rewrites = B's rows, inserts =
    * the ≡2 keys, deletes = none. ManifestCdfSpec asserts the shared
    * file A is never opened. */
  def manifestCdf(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "manifest_cdf")
    val link = stagedLinker(ensureM3SlicesStaged(s, d), base)
    val fA = link("m0", "A")
    publishVersions(base, Seq(fA, link("m1", "B")), Seq(fA, link("m12", "C")))
    val v1 = ManifestLog.read(base, 1).toSet
    val v2 = ManifestLog.read(base, 2).toSet
    val removedFiles = (v1 -- v2).toSeq.sorted
    val addedFiles = (v2 -- v1).toSeq.sorted
    // the delta read: shared files never enter the plan
    val removed = s.read.parquet(removedFiles: _*)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("old_price"))
    val added = s.read.parquet(addedFiles: _*)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("new_price"))
    removed.join(added, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("old_price").isNull, lit("insert"))
          .when(col("new_price").isNull, lit("delete"))
          .otherwise(lit("rewrite")).as("op"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"))
      .orderBy("op")
  }

  /** `k_vacuum` — SNAPSHOT RETENTION / GC, the op that makes time travel
    * affordable: old versions are only free until their files are — a
    * 100 TB table that never vacuums keeps every compacted-away file
    * forever. Four versions build up the classic history (append,
    * compact, append); vacuum with retention 2 keeps the last two
    * manifests, unions their file lists, and deletes every data file and
    * manifest outside that set — the shared file A survives (still
    * referenced), the compacted-away B and C go, and both retained
    * versions must still read EXACTLY (REQUIREd by the hash-checked
    * per-version aggregates). Deletion is manifest-driven, never
    * directory-listing-driven: the same walk works when the directory
    * listing is eventually consistent. */
  def vacuum(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "vacuum")
    // run-owned hard links: the vacuum below DELETES data files, which
    // must only ever unlink run-local names, never the shared staging
    val link = stagedLinker(ensureM3SlicesStaged(s, d), base)
    val fA = link("m0", "A")
    val fB = link("m1", "B")
    val fC = link("m2", "C")
    val fD = link("m12", "D") // compaction of B∪C
    val fE = link("e5", "E")  // later arrivals
    publishVersions(base, Seq(fA, fB), Seq(fA, fB, fC), Seq(fA, fD), Seq(fA, fD, fE))
    // vacuum: retain the last 2 versions, delete everything they don't reference
    val (deadFiles, dropped) = ManifestLog.gcVersions(base, retain = 2)
    val (latest, _) = ManifestLog.latest(base)
    require(new java.io.File(fA).exists(), "vacuum deleted a still-referenced file")
    require(!new java.io.File(fB).exists() && !new java.io.File(fC).exists(),
      "vacuum left unreferenced files behind")
    def audit(v: Int): DataFrame =
      s.read.parquet(ManifestLog.read(base, v): _*)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(lit(v).as("version"), col("n_rows"), col("total"),
          lit(deadFiles.length).as("n_files_deleted"),
          lit(dropped.length).as("n_manifests_deleted"))
    audit(latest - 1).unionByName(audit(latest)).orderBy("version")
  }

  private val TtlT0Micros = 1767225600000000L // 2026-01-01T00:00:00Z, fixture epoch
  private val TtlHourMicros = 3600000000L
  private val TtlRetainMicros = 3500L * 3600000L // 3.5 h

  /** `k_vacuum_ttl` — TIME-BASED RETENTION on the action log (the Delta
    * `VACUUM … RETAIN n HOURS` / logRetentionDuration pair), the age
    * axis [[vacuum]]'s keep-last-N doesn't cover: every commit carries a
    * TIMESTAMP action, the retention cut is `latest_ts − TTL`, and
    * CHECKPOINT AWARENESS is the load-bearing rule — a retained version
    * resolves through the nearest checkpoint AT-OR-BELOW it plus the
    * action suffix, so the vacuum must keep (a) every aged commit a
    * retained version replays through and (b) the aged CHECKPOINT that
    * anchors the oldest retained version, even though both fall outside
    * the window by age alone (a naive delete-by-age breaks the oldest
    * in-window read and hash-fails here). Deleted: aged commits below
    * the anchor, checkpoints no retained version resolves through, and
    * data files live in NO retained version. Aged versions below the
    * anchor become unreadable AT THE MANIFEST (their replay chain is
    * gone — VacuumTtlSpec proves it), while every in-window version
    * reads exactly (the emitted audit rows).
    *
    * Scale shape: the decision plane is O(versions) metadata;
    * data-file liveness is a set union over retained manifests —
    * never a table scan. */
  def vacuumTtl(s: SparkSession, d: String): DataFrame = vacuumTtlBuild(s, d)._2

  /** (log base dir, audit) — the dir is exposed so VacuumTtlSpec can
    * prove aged-version resolution fails post-vacuum. */
  private[operators] def vacuumTtlBuild(s: SparkSession, d: String): (String, DataFrame) = {
    val base = TempPaths.runDir(s, "vacuum_ttl")
    // run-owned hard links of the staged slices: the TTL vacuum below
    // DELETES data files, which must only ever unlink run-local names.
    // Fixture commits are stamped deterministically (T0 + v hours) so
    // TTL retention is oracle-checkable; a production writer stamps
    // wall clock at publish.
    def stamp(v: Int) = Some(TtlT0Micros + v * TtlHourMicros)
    val staged = ensureQ4SlicesStaged(s, d)
    val f = q4ActionLog(staged, base, stamp)
    val fE = stagedLinker(staged, base)("E", "E")
    ManifestLog.commitActions(base, 8, Nil, Seq(fE), stamp(8)) // late arrivals
    val lastV = 8
    def commitTs(v: Int): Long = ManifestLog.commitTs(base, v)
    val cutoff = commitTs(lastV) - TtlRetainMicros
    val retained = (1 to lastV).filter(commitTs(_) >= cutoff) // 5..8
    // checkpoint awareness: the oldest retained version's anchor and
    // every commit on a retained version's replay path must survive
    val resolvedRetained = retained.map(v => v -> ManifestLog.resolve(base, v)).toMap
    val anchors = retained.map(v => v -> (v - resolvedRetained(v)._2))
    val neededCkpts = anchors.map(_._2).filter(_ > 0).toSet
    val neededCommits = anchors.flatMap { case (v, anchor) => (anchor + 1) to v }.toSet
    val live = resolvedRetained.values.flatMap(_._1).toSet
    val deadCommits = (1 to lastV)
      .filter(v => commitTs(v) < cutoff && !neededCommits.contains(v))
    val deadCkpts = (1 to lastV).filter(v =>
      ManifestLog.hasCheckpoint(base, v) && !neededCkpts.contains(v))
    val deadData = (f.values.toSeq :+ fE).filterNot(live)
    deadCommits.foreach(ManifestLog.dropCommit(base, _))
    deadCkpts.foreach(ManifestLog.dropCheckpoint(base, _))
    deadData.foreach(p => TempPaths.deleteRecursively(new java.io.File(p)))
    require(ManifestLog.hasCheckpoint(base, 3),
      "vacuum deleted the checkpoint the oldest retained version resolves through")
    val out = retained.map { v =>
      val (files, replayed) = resolvedRetained(v)
      s.read.parquet(files: _*)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .select(lit(v).as("version"), lit(replayed).as("actions_replayed"),
          col("n_rows"), col("total"),
          lit(deadCommits.length).as("n_commits_deleted"),
          lit(deadCkpts.length).as("n_ckpts_deleted"),
          lit(deadData.length).as("n_data_deleted"))
    }.reduce(_ unionByName _).orderBy("version")
    (base, out)
  }

  private val GdprBuckets = 8

  private[operators] def gdprStageBuildCount =
    sliceStageBuildCounts.computeIfAbsent("gdpr_base_b8v1",
      _ => new java.util.concurrent.atomic.AtomicInteger(0))

  /** Bucket count is baked into the dir name per the stage-dir-constants
    * discipline (a config change can never reuse a stale staged base). */
  def gdprStageDir(sfDir: String): String = sliceStageDir("gdpr_base_b8v1", sfDir)

  /** Build-once staged base for the EVENTS side of the erasure family
    * (`k_gdpr_delete`, `k_delete_vectors`, `k_dv_cdf`): the user_id%8
    * key-bucketed copy of events is a PURE CORPUS FUNCTION, yet through
    * round 16 every one of those queries rebuilt it in-query — 8
    * scan+write jobs per run, ~12 s of board across the family for work
    * whose output never changes between corpus regenerations. It now
    * stages once per corpus fingerprint (ONE pass: repartition on the
    * bucket key + partitionBy write), with the two smallest user ids —
    * the deterministic erasure-subject queue every consumer derives —
    * riding along as a sidecar so no consumer pays another corpus
    * aggregate. Consumers NEVER reference the staged paths from their
    * manifests: [[cloneStagedBuckets]] hard-links the files into each
    * run's scratch so the run owns its v1 outright — a vacuum/GC driven
    * over a run (the DeleteVectorsSpec compaction leg's shape) can only
    * ever unlink run-local names, never the shared staging. */
  private def ensureGdprStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "gdpr_base_b8v1", "events.parquet") { dataDir =>
      Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"))
        .withColumn("b", pmod(col("user_id"), lit(GdprBuckets)))
        .repartition(GdprBuckets, col("b"))
        .write.partitionBy("b").mode("overwrite").parquet(dataDir)
      // a bucket the corpus never hits still needs a schema'd (empty)
      // dir — partitionBy only materializes populated partitions. A
      // bucket proven empty needs only the SCHEMA: limit(0) writes the
      // empty parquet footer without another corpus scan (the previous
      // scan-and-filter per missing bucket cost up to 8 extra corpus
      // scans on sparse fixtures).
      lazy val emptyBucket = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value")).limit(0)
      (0 until GdprBuckets).foreach { b =>
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dataDir/b=$b")))
          emptyBucket.coalesce(1).write.mode("overwrite").parquet(s"$dataDir/b=$b")
      }
      val subjects = s.read.parquet(dataDir)
        .select(col("user_id")).distinct().orderBy("user_id").limit(2)
        .collect().map(_.getLong(0)) // 2 rows — the erasure queue, bounded
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dataDir).getParent.resolve("subjects.txt"),
        subjects.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }

  /** The staged sidecar: the two smallest user ids (erasure queue). */
  private def stagedSubjects(dir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir + "/subjects.txt"))
      .asScala.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
  }

  /** Fires once per JVM when [[linkDir]] degrades from hard link to byte
    * copy: the zero-copy guarantee is load-bearing for stage-clone cost,
    * so losing it (cross-device staging/scratch placement, an FS without
    * link support, or a genuine I/O error) must be visible in the logs
    * rather than silently absorbed. */
  private val linkFallbackWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Hard-link (copy when the filesystem refuses links) every visible
    * regular file of `src` into `dst`, recursing into subdirectories
    * (partitioned layouts) — O(file count) metadata ops, zero data bytes
    * moved, and unlinking a run-local name never touches the shared
    * staged inode's other names. The first link→copy degradation logs
    * loudly (see [[linkFallbackWarned]]); correctness is unaffected
    * either way. */
  private[operators] def linkDir(src: String, dst: String): String = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(dp)
    val stream = java.nio.file.Files.list(sp)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filterNot(p => { val n = p.getFileName.toString
          n.startsWith(".") || n.startsWith("_") })
        .foreach { p =>
          val t = dp.resolve(p.getFileName)
          if (java.nio.file.Files.isDirectory(p)) linkDir(p.toString, t.toString)
          else if (java.nio.file.Files.isRegularFile(p)) {
            try java.nio.file.Files.createLink(t, p)
            catch { case e @ (_: UnsupportedOperationException | _: java.io.IOException) =>
              if (linkFallbackWarned.compareAndSet(false, true))
                System.err.println(
                  s"[graft] WARN linkDir: hard link failed ($p -> $t), " +
                    s"degrading to byte copy for this and any further files: $e")
              java.nio.file.Files.copy(p, t,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit }
          }
        }
    } finally stream.close()
    dst
  }

  /** A run's linker over a staged slice set: `link(slice, name)`
    * hard-links `<staged>/data/<slice>` to `<run>/<sub>/<name>` and
    * returns the run-local path, so the run owns every name its log
    * references. */
  private def stagedLinker(staged: String, run: String,
      sub: String = "data"): (String, String) => String =
    (slice, name) => linkDir(s"$staged/data/$slice", s"$run/$sub/$name")

  /** Publishes `versions` as v1..vN of a fresh manifest log. */
  private def publishVersions(dir: String, versions: Seq[String]*): Unit =
    versions.zip(LazyList.from(1)).foreach { case (files, v) =>
      require(ManifestLog.publish(dir, v, files), s"v$v exists under $dir")
    }

  // ---- STAGE-ONCE SLICE SETS for the transaction-log demo family: the
  // data files each log/commit/GC query manipulates are PURE CORPUS
  // FUNCTIONS (fixed slice rules over orders), yet through round 16
  // every run re-scanned orders and re-wrote them (4-8 write jobs per
  // query, the dominant cost of the family). Each query's slice set now
  // stages once per corpus fingerprint and every run hard-links it into
  // its own scratch, so the PROTOCOL under test (commits, checkpoints,
  // OCC races, retention GC) replays live per run over run-owned names —
  // a run's vacuum can only ever unlink run-local links. ----

  private[operators] val sliceStageBuildCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  def sliceStageDir(key: String, sfDir: String): String =
    s"/tmp/graft_stage/${key}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Ensure the named slice set is staged (build runs at most once per
    * corpus fingerprint); returns the stage dir whose `data/` holds the
    * slices. `key` bakes the slice rules in per the stage-dir-constants
    * discipline. */
  private def ensureSliceStage(s: SparkSession, d: String, key: String,
      source: String)(build: String => Unit): String = {
    val dir = sliceStageDir(key, d)
    val counter = sliceStageBuildCounts
      .computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicInteger(0))
    graft.Staging.ensure(dir, Seq(s"$d/$source")) {
      counter.incrementAndGet()
      build(dir + "/data")
    }: Unit
    dir
  }

  /** The %4-quarter slice set over (o_orderkey, o_totalprice) shared by
    * the action-log trio (`k_log_checkpoint`, `k_log_history`,
    * `k_vacuum_ttl` — the TTL leg also uses the %5 late-arrival slice):
    * appends A-D, compaction AB, rewrites D2/C2, late E. */
  private def ensureQ4SlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "ordersq4_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("A", o.filter(col("o_orderkey") % 4 === 0))
      w("B", o.filter(col("o_orderkey") % 4 === 1))
      w("C", o.filter(col("o_orderkey") % 4 === 2))
      w("D", o.filter(col("o_orderkey") % 4 === 3))
      w("AB", o.filter(col("o_orderkey") % 4 <= 1))
      w("D2", o.filter(col("o_orderkey") % 4 === 3))
      w("C2", o.filter(col("o_orderkey") % 4 === 2))
      w("E", o.filter(col("o_orderkey") % 5 === 0))
    }

  /** The %3 slice set over (o_orderkey, o_totalprice) shared by the
    * manifest-core trio (`k_timetravel`, `k_timetravel_occ`,
    * `k_occ_compaction`): thirds m0/m1/m2, the compactions m01/m12. */
  private def ensureM3SlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "ordersm3_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("m0", o.filter(col("o_orderkey") % 3 === 0))
      w("m1", o.filter(col("o_orderkey") % 3 === 1))
      w("m2", o.filter(col("o_orderkey") % 3 === 2))
      w("m01", o.filter(col("o_orderkey") % 3 <= 1))
      w("m12", o.filter(col("o_orderkey") % 3 =!= 0))
      w("e5", o.filter(col("o_orderkey") % 5 === 0))
    }

  /** The %3 slice set as TSV TEXT (o_orderkey \t cents) shared by the
    * SQL time-travel pair (`k_timetravel_sql`, `k_timetravel_ts`), whose
    * versioned-lines connector reads text part files. */
  private def ensureT3SlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "orderst3_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
      def w(name: String, df: DataFrame): Unit =
        df.select(concat_ws("\t", col("o_orderkey"), col("cents")).as("value"))
          .write.mode("overwrite").text(s"$dataDir/$name")
      w("t0", o.filter(col("o_orderkey") % 3 === 0))
      w("t1", o.filter(col("o_orderkey") % 3 === 1))
      w("t12", o.filter(col("o_orderkey") % 3 =!= 0))
    }

  /** Cents-typed quarters and halves shared by the clone/restore trio
    * (`k_clone`, `k_restore`, `k_deep_clone`). */
  private def ensureQCSlicesStaged(s: SparkSession, d: String): String =
    ensureSliceStage(s, d, "ordersqc_v1", "orders.parquet") { dataDir =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(28,4)") * 100).cast("long").as("cents"))
      def w(name: String, df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dataDir/$name")
      w("q0", o.filter(col("o_orderkey") % 4 === 0))
      w("q1", o.filter(col("o_orderkey") % 4 === 1))
      w("q2", o.filter(col("o_orderkey") % 4 === 2))
      w("q3", o.filter(col("o_orderkey") % 4 === 3))
      w("h0", o.filter(col("o_orderkey") % 2 === 0))
      w("h1", o.filter(col("o_orderkey") % 2 === 1))
    }

  /** Clone the staged 8-bucket base into a run's scratch (one dir per
    * bucket, the layout every erasure consumer's manifests reference). */
  private def cloneStagedBuckets(staged: String, runBase: String): IndexedSeq[String] =
    (0 until GdprBuckets)
      .map(b => linkDir(s"$staged/data/b=$b", s"$runBase/data/b$b"))

  /** `k_gdpr_delete` — RIGHT-TO-ERASURE as a lakehouse operation: delete
    * every row of one subject from a 100 TB table WITHOUT rewriting the
    * table. The layout is the mechanism: data lands KEY-BUCKETED
    * (user_id % 8 → 8 files), so the files containing the subject are
    * known by ARITHMETIC, not by scanning — the delete pass rewrites
    * exactly ONE bucket file minus the subject's rows and publishes a new
    * manifest that swaps that file and keeps the other 7 untouched
    * (REQUIREd: v2 shares all non-target paths with v1). Write
    * amplification is 1/buckets of the table, the erasure is atomic (the
    * manifest publish), and v1 remains readable with the subject present
    * — the audit trail regulators actually ask for — until the retention
    * window drops it. Output: per-version row/subject/value totals plus
    * the rewrite count, every column closed-form for the oracle. */
  def gdprDelete(s: SparkSession, d: String): DataFrame = {
    val staged = ensureGdprStaged(s, d)
    val base = TempPaths.runDir(s, "gdpr_delete")
    // v1 = the staged bucketed base, hard-linked into run-owned paths
    val files = cloneStagedBuckets(staged, base)
    require(ManifestLog.publish(base, 1, files), s"v1 exists under $base")
    // the erasure subject: deterministic (the smallest user id), from
    // the staged sidecar — no per-run corpus aggregate
    val target = stagedSubjects(staged).head
    // floorMod mirrors pmod's always-nonnegative result — a negative
    // min user_id must not index files(-k)
    val tb = Math.floorMod(target, GdprBuckets.toLong).toInt
    val rewritten = s"$base/data/b${tb}_gdpr"
    s.read.parquet(files(tb)).filter(col("user_id") =!= target)
      .write.mode("overwrite").parquet(rewritten)
    val v2files = files.updated(tb, rewritten)
    require(ManifestLog.publish(base, 2, v2files), s"v2 exists under $base")
    require(v2files.toSet.intersect(files.toSet).size == GdprBuckets - 1,
      "erasure rewrote more than the subject's bucket")
    def audit(v: Int): DataFrame =
      s.read.parquet(ManifestLog.read(base, v): _*)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") === target, 1L).otherwise(0L)).as("n_subject_rows"),
          dsum(col("value")).as("sum_value"))
        .select(lit(v).as("version"), col("n_rows"), col("n_subject_rows"),
          col("sum_value"), lit(if (v == 1) 0 else 1).as("n_files_rewritten"))
    audit(1).unionByName(audit(2)).orderBy("version")
  }

  /** Read one manifest entry, applying its deletion vector if present:
    * rows whose (file, position) appear in the bitmap are filtered out at
    * read time. The bitmap is keyed by the PHYSICAL position
    * (`_metadata.file_name`, `_metadata.row_index`) — the Delta/Iceberg
    * DV model — so it survives any split planning, and the anti-join
    * build side is the bitmap (bounded by deletes, broadcast), never the
    * data. */
  private[operators] def readEntry(s: SparkSession, entry: String): DataFrame =
    ManifestLog.entryPaths(entry) match {
      case Seq(p) => s.read.parquet(p)
      case Seq(p, dv) =>
        s.read.parquet(p)
          .withColumn("__dv_file", col("_metadata.file_name"))
          .withColumn("__dv_pos", col("_metadata.row_index"))
          .join(broadcast(s.read.parquet(dv)),
            Seq("__dv_file", "__dv_pos"), "left_anti")
          .drop("__dv_file", "__dv_pos")
    }

  private[operators] def readWithDv(s: SparkSession, base: String, v: Int): DataFrame =
    ManifestLog.read(base, v).map(readEntry(s, _)).reduce(_.unionByName(_))

  /** `k_delete_vectors` — RIGHT-TO-ERASURE, MERGE-ON-READ: the erasure
    * path used when even [[gdprDelete]]'s one-bucket rewrite is
    * unaffordable (a petabyte table with erasure requests arriving
    * daily). Instead of rewriting anything, v2 publishes a DELETION
    * VECTOR next to the target bucket: a tiny parquet bitmap of the
    * subject's (file, row-position) pairs, applied at read time by an
    * anti-join whose build side is the bitmap. Write amplification is
    * O(subject rows), ZERO data files change (REQUIREd by byte-identical
    * file listings before/after the publish), and the swap is atomic in
    * the manifest. The read back of both versions proves v1 still shows
    * the subject (the audit trail) and v2 hides every subject row.
    * Compaction later folds the bitmap into a clean rewrite and vacuum
    * GCs the superseded bitmap — DeleteVectorsSpec drives that leg. */
  def deleteVectors(s: SparkSession, d: String): DataFrame = {
    val staged = ensureGdprStaged(s, d)
    val base = TempPaths.runDir(s, "delete_vectors")
    val files = cloneStagedBuckets(staged, base)
    require(ManifestLog.publish(base, 1, files), s"v1 exists under $base")
    val target = stagedSubjects(staged).head
    val tb = Math.floorMod(target, GdprBuckets.toLong).toInt
    // byte-level fingerprint of every data file: merge-on-read must not
    // touch ANY of them
    def fingerprint(): Seq[(String, Long, Long)] = files.flatMap { p =>
      new java.io.File(p).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => (f.getPath, f.length(), f.lastModified()))
    }
    val before = fingerprint()
    val dvPath = s"$base/dv/b${tb}_v2"
    s.read.parquet(files(tb))
      .select(col("_metadata.file_name").as("__dv_file"),
        col("_metadata.row_index").as("__dv_pos"), col("user_id"))
      .filter(col("user_id") === target)
      .drop("user_id")
      .write.mode("overwrite").parquet(dvPath)
    require(ManifestLog.publish(base, 2, files.updated(tb, s"${files(tb)}|dv=$dvPath")),
      s"v2 exists under $base")
    require(fingerprint() == before,
      "merge-on-read erasure modified a data file — the whole point is zero rewrites")
    def audit(v: Int): DataFrame =
      readWithDv(s, base, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") === target, 1L).otherwise(0L)).as("n_subject_rows"),
          dsum(col("value")).as("sum_value"))
        .select(lit(v).as("version"), col("n_rows"), col("n_subject_rows"),
          col("sum_value"), lit(0).as("n_files_rewritten"),
          lit(v - 1).as("n_dv_files"))
    audit(1).unionByName(audit(2)).orderBy("version")
  }

  private def parseEntry(e: String): (String, Option[String]) =
    ManifestLog.entryPaths(e) match {
      case Seq(p)     => (p, None)
      case Seq(p, dv) => (p, Some(dv))
    }

  /** `k_dv_cdf` — CHANGE DATA FEED FROM DELETION VECTORS, completing the
    * DV family (write [[deleteVectors]], merge-on-read read, DV-aware GC,
    * and now the change feed): downstream consumers of an erasure-bearing
    * table need WHICH rows disappeared between versions without
    * re-diffing data. With DVs that answer is already materialized — the
    * delta BITMAP (to-version bitmap minus from-version bitmap) keys a
    * broadcast semi-join into the single changed bucket file, so each
    * transition reads exactly ONE data file regardless of table size
    * (REQUIREd: exactly one manifest entry differs per transition) and
    * emits exactly the newly-deleted rows. Two successive erasures (the
    * two smallest subjects) prove the delta semantics: the v2→v3 feed
    * must NOT re-emit v2's deletes even when both subjects share a
    * bucket and the v3 bitmap contains both. */
  def dvCdf(s: SparkSession, d: String): DataFrame = {
    val staged = ensureGdprStaged(s, d)
    val base = TempPaths.runDir(s, "dv_cdf")
    val files = cloneStagedBuckets(staged, base)
    require(ManifestLog.publish(base, 1, files), s"v1 exists under $base")
    val subjects = stagedSubjects(staged) // 2 ids — the erasure queue, staged sidecar
    def publishDelete(v: Int, subject: Long, prev: Seq[String]): Seq[String] = {
      val tb = Math.floorMod(subject, GdprBuckets.toLong).toInt
      val (path, prevDv) = parseEntry(prev(tb))
      val dvPath = s"$base/dv/b${tb}_v$v"
      val newPositions = s.read.parquet(path)
        .select(col("_metadata.file_name").as("__dv_file"),
          col("_metadata.row_index").as("__dv_pos"), col("user_id"))
        .filter(col("user_id") === subject)
        .drop("user_id")
      // the published bitmap is cumulative per file; the feed diffs them
      prevDv.map(p => s.read.parquet(p).unionByName(newPositions))
        .getOrElse(newPositions)
        .write.mode("overwrite").parquet(dvPath)
      val next = prev.updated(tb, s"$path|dv=$dvPath")
      require(ManifestLog.publish(base, v, next), s"v$v exists under $base")
      next
    }
    val v1e: Seq[String] = files
    val v2e = publishDelete(2, subjects(0), v1e)
    val v3e = publishDelete(3, subjects(1), v2e)
    def changes(fromE: Seq[String], toE: Seq[String], fromV: Int): DataFrame = {
      val changed = fromE.zip(toE).filter { case (a, b) => a != b }
      require(changed.size == 1,
        s"expected exactly one changed entry v$fromV→v${fromV + 1}, got ${changed.size}")
      val (path, fromDv) = parseEntry(changed.head._1)
      val (_, toDv) = parseEntry(changed.head._2)
      val deltaBm = fromDv match {
        case Some(p) => s.read.parquet(toDv.get).exceptAll(s.read.parquet(p))
        case None    => s.read.parquet(toDv.get)
      }
      s.read.parquet(path)
        .withColumn("__dv_file", col("_metadata.file_name"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
        .join(broadcast(deltaBm), Seq("__dv_file", "__dv_pos"), "left_semi")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .select(lit(fromV).as("from_v"), lit(fromV + 1).as("to_v"),
          lit("delete").as("op"), col("n_rows"), col("n_users"), col("sum_value"))
    }
    changes(v1e, v2e, 1).unionByName(changes(v2e, v3e, 2)).orderBy("from_v")
  }

  /** `k_dsv2_write` — a distributed write through the engine's
    * DataSource V2 SINK ([[graft.sources.FixedWidthV2]], the write half
    * of the connector story): 4 writer tasks stream fixed-width records
    * to attempt-private temp files, the driver commit renames them into
    * place and publishes `_MANIFEST` last (atomic visibility). The query
    * REQUIREs the committed manifest's file count and row/byte totals,
    * then reads the records BACK through a plain substring/cast parse and
    * aggregates — the oracle computes the same aggregate from the
    * original table, so the connector's render → commit → read-back loop
    * is verified by data end to end. */
  def dsv2Write(s: SparkSession, d: String): DataFrame = {
    val base = TempPaths.runDir(s, "dsv2_write")
    val target = s"$base/fw"
    val slice = Tables.orders(s, d)
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    slice.repartition(4, col("o_orderkey"))
      .write.format("graft.sources.FixedWidthV2")
      .option("path", target).mode("append").save()
    // read with Hadoop FS directly: Spark's file readers skip "_"-prefixed
    // paths (the metadata-file convention this manifest follows on purpose)
    val manifest = {
      val p = new org.apache.hadoop.fs.Path(s"$target/_MANIFEST")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
      finally in.close()
    }
    val parts = manifest.filter(_.startsWith("part-"))
    val total = manifest.find(_.startsWith("TOTAL ")).map(_.split(" ")(1).toLong)
    require(parts.length == 4, s"expected 4 committed part files, got:\n${manifest.mkString("\n")}")
    require(total.contains(slice.count()),
      s"manifest row total ${total.orNull} != input count")
    require(parts.map(_.split(" ")(1).toLong).sum == total.get,
      "per-file counts do not sum to the manifest total")
    s.read.text(s"$target/part-*.fw")
      .select(
        trim(substring(col("value"), 1, 12)).cast("bigint").as("o_orderkey"),
        trim(substring(col("value"), 13, 4)).as("o_orderstatus"),
        substring(col("value"), 17, 16).cast("double").as("o_totalprice"),
        trim(substring(col("value"), 33, 16)).as("o_orderpriority"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_gdpr_delete" -> (gdprDelete _),
    "k_delete_vectors" -> (deleteVectors _),
    "k_dv_cdf" -> (dvCdf _),
    "k_vacuum" -> (vacuum _),
    "k_vacuum_ttl" -> (vacuumTtl _),
    "k_dsv2_write" -> (dsv2Write _),
    "k_timetravel" -> (timeTravel _),
    "k_timetravel_sql" -> (timeTravelSql _),
    "k_timetravel_ts" -> (timeTravelTs _),
    "k_mv_refresh" -> (mvRefresh _),
    "k_clone" -> (cloneTable _),
    "k_deep_clone" -> (deepClone _),
    "k_restore" -> (restoreTable _),
    "k_row_tracking" -> (rowTracking _),
    "k_multi_table_txn" -> (multiTableTxn _),
    "k_dynamic_overwrite" -> (dynamicOverwrite _),
    "k_log_checkpoint" -> (logCheckpoint _),
    "k_log_history" -> (logHistory _),
    "k_expectations" -> (expectations _),
    "k_profile" -> (profile _),
    "k_csv_quoting" -> (csvQuoting _),
    "k_timetravel_occ" -> (timeTravelOcc _),
    "k_occ_compaction" -> (occCompaction _),
    "k_occ_gdpr_abort" -> (occGdprAbort _),
    "k_manifest_cdf" -> (manifestCdf _),
    "k_fixedwidth_roundtrip" -> (fixedwidthRoundtrip _),
    "k_partition_evolution" -> (partitionEvolution _),
    "k_schema_drift" -> (schemaDrift _),
    "k_format_roundtrip" -> (formatRoundtrip _),
    "k_schema_evolution" -> (schemaEvolution _),
    "k_snapshot_diff" -> (snapshotDiff _),
    "k_merge_upsert" -> (mergeUpsert _),
    "k_merge_sql" -> (mergeSql _),
    "k_quarantine_read" -> (quarantineRead _),
  )

  // shared by k_merge_upsert (DataFrame path) and k_merge_sql (parser
  // path): one oracle, two engines' worth of proof the paths agree
  private lazy val mergeOracle: String =
    s"""WITH a AS (SELECT doc_id, text,
       |             ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 17 AS k
       |           FROM documents),
       |cdc AS (SELECT CASE WHEN k = 0 THEN 'D' WHEN k = 1 THEN 'U' ELSE 'I' END AS op,
       |               CASE WHEN k = 2 THEN doc_id + 1000000 ELSE doc_id END AS doc_id,
       |               CASE WHEN k = 1 THEN text || ' [rev2]' ELSE text END AS new_text
       |        FROM a WHERE k IN (0, 1, 2)),
       |m AS (SELECT a.doc_id,
       |             CASE WHEN c.op = 'U' THEN 'update' ELSE 'keep' END AS action,
       |             md5(CASE WHEN c.op = 'U' THEN c.new_text ELSE a.text END) AS digest
       |      FROM a LEFT JOIN cdc c ON c.doc_id = a.doc_id AND c.op <> 'I'
       |      WHERE c.op IS NULL OR c.op <> 'D')
       |SELECT doc_id, action, digest FROM m
       |UNION ALL
       |SELECT doc_id, 'insert' AS action, md5(new_text) AS digest
       |FROM cdc WHERE op = 'I'
       |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // per-version audit rebuilt from the slice rule: v1 = every event,
    // v2 = everything but the smallest user's rows; one rewrite in v2
    "k_gdpr_delete" ->
      s"""WITH tgt AS (SELECT MIN(user_id) AS u FROM events)
         |SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN user_id = tgt.u THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_subject_rows,
         |       ${sqlDsum("value")} AS sum_value, 0 AS n_files_rewritten
         |FROM events, tgt GROUP BY tgt.u
         |UNION ALL
         |SELECT 2, CAST(COUNT(*) AS BIGINT),
         |       CAST(0 AS BIGINT),
         |       ${sqlDsum("value")}, 1
         |FROM events, tgt WHERE user_id <> tgt.u
         |ORDER BY version""".stripMargin,
    // each transition's change set = exactly the newly-erased subject's
    // rows (the two smallest users, in erasure order)
    "k_dv_cdf" ->
      s"""WITH u AS (SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn
         |           FROM (SELECT DISTINCT user_id FROM events) t)
         |SELECT 1 AS from_v, 2 AS to_v, 'delete' AS op,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
         |       ${sqlDsum("e.value")} AS sum_value
         |FROM events e JOIN u ON e.user_id = u.user_id AND u.rn = 1
         |UNION ALL
         |SELECT 2, 3, 'delete',
         |       CAST(COUNT(*) AS BIGINT),
         |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT),
         |       ${sqlDsum("e.value")}
         |FROM events e JOIN u ON e.user_id = u.user_id AND u.rn = 2
         |ORDER BY from_v""".stripMargin,
    // merge-on-read erasure: same per-version totals as the rewrite leg,
    // but zero files rewritten and one published bitmap in v2
    "k_delete_vectors" ->
      s"""WITH tgt AS (SELECT MIN(user_id) AS u FROM events)
         |SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN user_id = tgt.u THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_subject_rows,
         |       ${sqlDsum("value")} AS sum_value, 0 AS n_files_rewritten,
         |       0 AS n_dv_files
         |FROM events, tgt GROUP BY tgt.u
         |UNION ALL
         |SELECT 2, CAST(COUNT(*) AS BIGINT),
         |       CAST(0 AS BIGINT),
         |       ${sqlDsum("value")}, 0, 1
         |FROM events, tgt WHERE user_id <> tgt.u
         |ORDER BY version""".stripMargin,
    // the retained versions' contents from the slice rules: v3 = A∪D =
    // every key, v4 = v3 plus the ≡0-mod-5 re-arrivals; vacuum dropped
    // exactly B and C plus the two pre-compaction manifests
    // the TTL board: retained versions 5–8 all read exactly; v5 replays
    // ckpt3+2 commits, v6 is its own checkpoint, v8 adds the E slice
    // (duplicating the %5=0 rows); 3 aged commits and 2 dead data files
    // deleted, 0 checkpoints (both are resolution anchors)
    "k_vacuum_ttl" -> {
      def leg(v: Int, replayed: Int, withE: Boolean) = {
        val n =
          if (withE) "CAST(COUNT(*) + SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)"
          else "CAST(COUNT(*) AS BIGINT)"
        val t =
          if (withE) sqlDsum("o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice ELSE 0 END")
          else sqlDsum("o_totalprice")
        s"""SELECT $v AS version, $replayed AS actions_replayed, $n AS n_rows,
           |       $t AS total, 3 AS n_commits_deleted, 0 AS n_ckpts_deleted,
           |       2 AS n_data_deleted
           |FROM orders""".stripMargin
      }
      Seq(leg(5, 2, withE = false), leg(6, 0, withE = false),
        leg(7, 1, withE = false), leg(8, 2, withE = true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY version")
    },
    "k_vacuum" ->
      s"""SELECT 3 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       ${sqlDsum("o_totalprice")} AS total,
         |       2 AS n_files_deleted, 2 AS n_manifests_deleted
         |FROM orders
         |UNION ALL
         |SELECT 4, CAST(COUNT(*) + SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         |       ${sqlDsum("o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice ELSE 0 END")},
         |       2, 2
         |FROM orders
         |ORDER BY version""".stripMargin,
    // per-version totals rebuilt from the slice rules: v1 = keys % 3 in
    // (0, 1); v2 = keys % 3 in (0, 2) ∪ (1, 2) rewritten = % 3 != ... v2
    // reads files A (≡0) and C (≢0) = all keys
    // both versions hold the same rows: the min-day aggregate is
    // layout-independent, once per version
    "k_partition_evolution" ->
      s"""WITH t AS (SELECT value, CAST(ts AS DATE) AS day FROM events),
         |f AS (SELECT * FROM t WHERE day = (SELECT MIN(day) FROM t))
         |SELECT v.version, CAST(COUNT(*) AS BIGINT) AS n,
         |       ${sqlDsum("value")} AS total
         |FROM f CROSS JOIN (SELECT unnest([1, 2]) AS version) v
         |GROUP BY v.version
         |ORDER BY v.version""".stripMargin,
    // the drift verdicts in closed form: the writes fix the two schemas
    // by construction, but the QUERY derives them from the actual
    // parquet footers — a diff bug or a writer type surprise diverges
    "k_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('o_custkey',      'int',    'bigint', 'widened'),
        |  ('o_orderkey',     'bigint', 'bigint', 'unchanged'),
        |  ('o_orderpriority', NULL,    'string', 'added'),
        |  ('o_orderstatus',  'string', 'string', 'unchanged'),
        |  ('o_totalprice',   'double', 'string', 'incompatible'))
        |  AS t(col_name, v1_type, v2_type, verdict)
        |ORDER BY col_name""".stripMargin,
    // computed straight from parquet: the fixed-width print→parse round
    // trip must be field-exact
    "k_fixedwidth_roundtrip" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${sqlDsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 50 = 0
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    // the V2 sink's render/commit/read-back loop must reproduce the
    // original slice exactly (%016.2f is double-exact on 2-decimal data)
    "k_dsv2_write" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${sqlDsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 20 = 0
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    // the feed rebuilt from the slice rules: removed = keys ≡ 1 (file
    // B), added = keys ≢ 0 (file C); B∩C = ≡1 rewrites, C∖B = ≡2
    // inserts, B∖C = ∅ deletes (no row vanishes in the compaction)
    "k_manifest_cdf" ->
      """SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(k) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 3 = 2 THEN 'insert' ELSE 'rewrite' END AS op
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |GROUP BY op
        |ORDER BY op""".stripMargin,
    // the race's invariants in closed form: 3 versions, exactly one
    // conflict retry, v1 = the base slice untouched, final = all keys
    "k_timetravel_occ" ->
      s"""SELECT CAST(3 AS INT) AS n_versions, CAST(1 AS INT) AS n_conflicts,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 3 = 0) AS v1_rows,
         |       CAST(COUNT(*) AS BIGINT) AS final_rows,
         |       ${sqlDsum("o_totalprice")} AS final_total
         |FROM orders""".stripMargin,
    // whatever the interleave: 3 versions, 1 rebase, v1 = A∪B, final
    // state = the compacted pair plus the appended batch = every order
    "k_occ_compaction" ->
      s"""SELECT CAST(3 AS INT) AS n_versions, CAST(1 AS INT) AS n_conflicts,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 3 IN (0, 1)) AS v1_rows,
         |       CAST(COUNT(*) AS BIGINT) AS final_rows,
         |       ${sqlDsum("o_totalprice")} AS final_total
         |FROM orders""".stripMargin,
    // deterministic by construction (erasure wins, stale compactor
    // aborts, re-plan lands v3): v1 = A∪B with the subject present,
    // final = A∪B minus the subject, zero subject rows survive
    "k_occ_gdpr_abort" ->
      s"""SELECT CAST(3 AS INT) AS n_versions, CAST(1 AS INT) AS n_aborts,
         |       CAST(1 AS INT) AS n_replans,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 3 IN (0, 1)) AS v1_rows,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
         |        WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 = 3) AS subject_rows_v1,
         |       CAST(COUNT(*) AS BIGINT) AS final_rows,
         |       CAST(0 AS BIGINT) AS subject_rows_final,
         |       ${sqlDsum("o_totalprice")} AS final_total
         |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_custkey % 7 <> 3""".stripMargin,
    "k_timetravel" ->
      s"""SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 IN (0, 1)
         |UNION ALL
         |SELECT 2, CAST(COUNT(*) AS BIGINT), ${sqlDsum("o_totalprice")}
         |FROM orders
         |ORDER BY version""".stripMargin,
    // pick 1 lands between commits → v1 = A∪B; pick 2 after both → all
    "k_timetravel_ts" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT) AS c
         |  FROM orders)
         |SELECT 1 AS pick, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents FROM base
         |WHERE k % 3 IN (0, 1)
         |UNION ALL
         |SELECT 2 AS pick, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents FROM base
         |ORDER BY pick""".stripMargin,
    // version 0 = the un-travelled read (must equal the latest, v2);
    // v1 = slices A∪B, v2 = A∪C = every order; cents are exact decimal
    "k_timetravel_sql" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT) AS c
         |  FROM orders)
         |SELECT 0 AS version, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents FROM base
         |UNION ALL
         |SELECT 1 AS version, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents FROM base
         |WHERE k % 3 IN (0, 1)
         |UNION ALL
         |SELECT 2 AS version, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents FROM base
         |ORDER BY version""".stripMargin,
    // post-restate state by rule: the MIN status gets +9.00 per row,
    // every other partition reads its original rows
    "k_dynamic_overwrite" ->
      s"""WITH base AS (
         |  SELECT o_orderstatus AS st,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT) AS c
         |  FROM orders),
         |m AS (SELECT MIN(st) AS restated FROM base)
         |SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
         |       CAST(SUM(c + CASE WHEN st = m.restated THEN 900 ELSE 0 END)
         |            AS BIGINT) AS total_cents
         |FROM base, m GROUP BY st, m.restated
         |ORDER BY o_orderstatus""".stripMargin,
    // per txn, the committed slice's group/row/money totals — only a
    // consistent (fact, summary) resolution reproduces them
    "k_multi_table_txn" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT) AS c
         |  FROM orders)
         |SELECT 1 AS txn,
         |       (SELECT COUNT(DISTINCT st) FROM base WHERE k % 2 = 0) AS n_groups,
         |       (SELECT COUNT(*) FROM base WHERE k % 2 = 0) AS n_rows,
         |       (SELECT CAST(SUM(c) AS BIGINT) FROM base WHERE k % 2 = 0) AS total_cents
         |UNION ALL
         |SELECT 2,
         |       (SELECT COUNT(DISTINCT st) FROM base),
         |       (SELECT COUNT(*) FROM base),
         |       (SELECT CAST(SUM(c) AS BIGINT) FROM base)
         |ORDER BY txn""".stripMargin,
    // by the slice rules: %3==1 rows updated (+5.00 each), the rest
    // unchanged — the engine's row_id pairing must land on exactly this
    "k_row_tracking" ->
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT) AS c
         |  FROM orders)
         |SELECT 'unchanged' AS change, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS sum_old_cents,
         |       CAST(SUM(c) AS BIGINT) AS sum_new_cents
         |FROM base WHERE k % 3 <> 1
         |UNION ALL
         |SELECT 'updated', COUNT(*),
         |       CAST(SUM(c) AS BIGINT),
         |       CAST(SUM(c + 500) AS BIGINT)
         |FROM base WHERE k % 3 = 1
         |ORDER BY change""".stripMargin,
    // per-parity totals of the full table — readable ONLY through the
    // physical copies once the source is deleted
    "k_deep_clone" ->
      s"""SELECT CAST(o_orderkey % 2 AS INT) AS slice, COUNT(*) AS n_rows,
         |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT))
         |            AS BIGINT) AS total_cents
         |FROM orders GROUP BY 1
         |ORDER BY slice""".stripMargin,
    // per-(table, version) totals from the slice rules: src v2 = A∪B,
    // src v3 = A∪B∪C, clone v1 = A∪B (the zero-copy snapshot),
    // clone v2 = A∪B∪D — the diverged branches must not see each other
    "k_clone" -> {
      def slice(mods: Seq[Int]) =
        s"""SELECT COUNT(*) AS n_rows,
           |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT)) AS BIGINT)
           |         AS total_cents
           |FROM orders WHERE o_orderkey % 4 IN (${mods.mkString(", ")})""".stripMargin
      s"""SELECT 'clone' AS tbl, 1 AS version, n_rows, total_cents FROM (${slice(Seq(0, 1))})
         |UNION ALL
         |SELECT 'clone', 2, n_rows, total_cents FROM (${slice(Seq(0, 1, 3))})
         |UNION ALL
         |SELECT 'src', 2, n_rows, total_cents FROM (${slice(Seq(0, 1))})
         |UNION ALL
         |SELECT 'src', 3, n_rows, total_cents FROM (${slice(Seq(0, 1, 2))})
         |ORDER BY tbl, version""".stripMargin
    },
    // v1 = A, v2 = A∪B, v3 = A∪B∪C, v4 (the restore) = A again
    "k_restore" -> {
      def slice(mods: Seq[Int]) =
        s"""SELECT COUNT(*) AS n_rows,
           |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT)) AS BIGINT)
           |         AS total_cents
           |FROM orders WHERE o_orderkey % 4 IN (${mods.mkString(", ")})""".stripMargin
      s"""SELECT 1 AS version, n_rows, total_cents FROM (${slice(Seq(0))})
         |UNION ALL SELECT 2, n_rows, total_cents FROM (${slice(Seq(0, 1))})
         |UNION ALL SELECT 3, n_rows, total_cents FROM (${slice(Seq(0, 1, 2))})
         |UNION ALL SELECT 4, n_rows, total_cents FROM (${slice(Seq(0))})
         |ORDER BY version""".stripMargin
    },
    // the refreshed view ≡ the v2 table state aggregated from scratch:
    // all of orders (%3 covers every key) with +5.00 on the rewritten slice
    "k_mv_refresh" ->
      s"""WITH base AS (
         |  SELECT o_orderstatus,
         |         CAST(CAST(o_totalprice AS DECIMAL(28,4)) * 100 AS BIGINT)
         |         + CASE WHEN o_orderkey % 3 = 1 THEN 500 ELSE 0 END AS c
         |  FROM orders)
         |SELECT o_orderstatus, COUNT(*) AS n_rows,
         |       CAST(SUM(c) AS BIGINT) AS total_cents
         |FROM base GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // per column: the same value-count derivation, modal tie order
    // (count desc, value asc), everything stringified
    "k_profile" -> {
      def colSql(name: String): String =
        s"""SELECT '$name' AS "column",
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE $name IS NULL) AS n_null,
           |  (SELECT CAST(COUNT(DISTINCT $name) AS BIGINT) FROM orders) AS n_distinct,
           |  (SELECT MIN(CAST($name AS VARCHAR)) FROM orders) AS min_val,
           |  (SELECT MAX(CAST($name AS VARCHAR)) FROM orders) AS max_val,
           |  t.top_value, t.top_count
           |FROM (SELECT CAST($name AS VARCHAR) AS top_value,
           |             CAST(COUNT(*) AS BIGINT) AS top_count
           |      FROM orders WHERE $name IS NOT NULL
           |      GROUP BY 1 ORDER BY top_count DESC, top_value LIMIT 1) t""".stripMargin
      Seq("o_orderpriority", "o_orderstatus", "o_custkey").map(colSql)
        .mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    },
    // every rule recomputed: the canary must fail, everything else pass
    "k_expectations" ->
      """WITH sc AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_notnull,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_nonneg,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN
        |         ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        |         THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
        |    CAST(SUM(CASE WHEN o_totalprice > 100 THEN 1 ELSE 0 END) AS BIGINT) AS v_le100
        |  FROM orders),
        |fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
        |       WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_custkey = o.o_custkey)),
        |rules AS (
        |  SELECT 'o_orderkey' AS "column", 'not_null' AS rule, v_notnull AS n_violations FROM sc
        |  UNION ALL SELECT 'o_orderkey', 'unique', v_unique FROM sc
        |  UNION ALL SELECT 'o_totalprice', 'non_negative', v_nonneg FROM sc
        |  UNION ALL SELECT 'o_orderpriority', 'in_domain', v_domain FROM sc
        |  UNION ALL SELECT 'o_totalprice', 'max_le_100', v_le100 FROM sc
        |  UNION ALL SELECT 'o_custkey', 'fk_customer', v FROM fk)
        |SELECT "column", rule, n_violations,
        |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM rules ORDER BY "column", rule""".stripMargin,
    // the 7-commit script's history is closed-form: a literal table
    "k_log_history" ->
      """SELECT * FROM (VALUES
        |  (1, 1, 0, 1, 0), (2, 1, 0, 2, 0), (3, 1, 0, 3, 1), (4, 1, 0, 4, 0),
        |  (5, 1, 2, 3, 0), (6, 1, 1, 3, 1), (7, 1, 1, 3, 0))
        |  t(version, n_add, n_remove, n_live_files, is_checkpoint)
        |ORDER BY version""".stripMargin,
    // the audit closed-form: every torture row must survive byte-exact,
    // so counts are the filtered cardinality and the sum is the plain
    // decimal-exact aggregate over the same slice
    "k_csv_quoting" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(COUNT(*) AS BIGINT) AS n_text_exact,
         |       CAST(COUNT(*) AS BIGINT) AS n_value_exact,
         |       ${sqlDsum("o_totalprice")} AS total_value
         |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin,
    // slice rules per resolved version + the bounded-replay counts as
    // literals: a reader that ignored the checkpoint (or replayed the
    // wrong suffix) diverges on actions_replayed before it even reads
    "k_log_checkpoint" ->
      s"""SELECT 3 AS version, 0 AS actions_replayed,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
         |UNION ALL
         |SELECT 5, 2, CAST(COUNT(*) AS BIGINT), ${sqlDsum("o_totalprice")} FROM orders
         |UNION ALL
         |SELECT 7, 1, CAST(COUNT(*) AS BIGINT), ${sqlDsum("o_totalprice")} FROM orders
         |ORDER BY version""".stripMargin,
    // computed straight from parquet: both format paths must agree with it
    "k_format_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_lines, COUNT(*) AS n_lines_json,
         |       ${sqlDsum("l_quantity")} AS qty_orc,
         |       ${sqlDsum("l_quantity")} AS qty_json
         |FROM lineitem WHERE l_orderkey % 100 = 0
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // the relational truth of the two write generations: the merged read
    // must reproduce it exactly, nulls where a generation lacks a column
    "k_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice AS old_metric,
        |       CAST(NULL AS DOUBLE) AS new_metric, CAST(1 AS INT) AS gen
        |FROM orders WHERE o_orderkey % 100 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE) AS old_metric,
        |       o_totalprice * 2 AS new_metric, CAST(2 AS INT) AS gen
        |FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 100 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    "k_snapshot_diff" ->
      s"""WITH a AS (SELECT doc_id, text,
         |             ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 17 AS k
         |           FROM documents),
         |b AS (SELECT doc_id,
         |             CASE WHEN k = 1 THEN text || ' [rev2]' ELSE text END AS text
         |      FROM a WHERE k <> 0
         |      UNION ALL
         |      SELECT doc_id + 1000000, text FROM a WHERE k = 2),
         |av AS (SELECT doc_id, md5(text) AS ha FROM a),
         |bv AS (SELECT doc_id, md5(text) AS hb FROM b)
         |SELECT doc_id, status FROM (
         |  SELECT doc_id,
         |         CASE WHEN ha IS NULL THEN 'added'
         |              WHEN hb IS NULL THEN 'removed'
         |              WHEN ha <> hb THEN 'changed' END AS status
         |  FROM av FULL OUTER JOIN bv USING (doc_id))
         |WHERE status IS NOT NULL
         |ORDER BY doc_id""".stripMargin,
    "k_merge_upsert" -> mergeOracle,
    // the SQL-text MERGE lowers to the identical plan — one oracle
    "k_merge_sql" -> mergeOracle,
    // the quarantine split must conserve the feed exactly: good rows carry
    // the original spend, corrupt rows only a count (spend unparseable)
    "k_quarantine_read" ->
      s"""SELECT 'good' AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |       ${sqlDsum("o_totalprice")} AS spend
         |FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 50 <> 0
         |UNION ALL
         |SELECT 'quarantined', CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
         |FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 50 = 0
         |ORDER BY bucket""".stripMargin,
  )
}
