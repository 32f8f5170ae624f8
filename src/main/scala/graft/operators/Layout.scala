package graft.operators

import graft.QueryDsl.{dsum, localRows, sqlDsum, withConfs}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data layout for scan efficiency — the piece of 100 TB engineering that
  * happens BEFORE any query runs: stage the events fact table
  * date-partitioned (one directory per day, one file per day here; a few
  * hundred size-bounded files per day on a cluster) and time-sorted within
  * files, so that
  *   1. a date-range predicate prunes PARTITIONS — the scan never opens a
  *      file outside the range (LayoutSpec asserts `inputFiles` covers
  *      exactly the filtered days), and
  *   2. within surviving files, the ts sort gives parquet page/row-group
  *      min-max statistics real selectivity for time predicates.
  * At 100 TB this is the difference between a 3-day dashboard query
  * scanning ~0.1% of the table and scanning all of it. The staged layout
  * is built once per sf dir (marker file, the DocStage/ANN pattern).
  */
object Layout {

  def layoutDir(sfDir: String): String = graft.Staging.dir("layout", sfDir)

  /** Stage events partitioned by event_date, ts-sorted within partitions.
    * `repartition(event_date)` puts each day wholly in one task so each
    * partition directory holds one file; a cluster would instead
    * `repartitionByRange(n, event_date, ts)` to get several time-ordered,
    * size-bounded files per day. */
  def ensureLayout(s: SparkSession, d: String): String = {
    val dir = layoutDir(d)
    // fingerprinted marker + atomic publish + cross-process lock
    // (graft.Staging): a regenerated events fixture rebuilds the layout
    // instead of silently serving stale staged data
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .repartition(col("event_date"))
        .sortWithinPartitions(col("ts"), col("event_id"))
        .write.partitionBy("event_date").mode("overwrite").parquet(dir)
    }: Unit
    dir
  }

  private[operators] def stagedEvents(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, ensureLayout(s, d))

  private val From = "2024-01-10"
  private val To = "2024-01-12"

  /** The dashboard-shaped query the layout exists for: 3 of 30 days,
    * per-day/per-type counts and exact sums. The date filter lands in the
    * scan's PartitionFilters, so 27 of 30 directories are never opened. */
  def layoutPrune(s: SparkSession, d: String): DataFrame =
    stagedEvents(s, d)
      .filter(col("event_date").between(lit(From).cast("date"), lit(To).cast("date")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("event_date", "event_type")

  // ---- Z-ORDER layout: multi-dimensional pruning, the lever date
  // partitioning can't provide. A query filtering BOTH user_id and date
  // gets nothing from a 1-D sort: sorting by user spreads every date
  // range across all files and vice versa. Interleaving the bits of the
  // two keys (Morton / Z-value) and RANGE-partitioning + sorting by that
  // value makes each file cover a small RECTANGLE in (user, date) space,
  // so parquet min-max statistics are tight on BOTH columns at once and
  // the pushed 2-D predicate skips most row groups (ZOrderSpec asserts
  // the scan reads a fraction of the rows the unclustered layout reads).
  // The Z-value is 16+16 bits of pure codegen'd bitwise arithmetic — no
  // UDF, no HOF — built once at stage time; queries never touch it. ----

  /** Morton interleave of two 16-bit values (a in even bits, b in odd):
    * 32 shift/mask/or terms, all codegen'd integer ops. */
  private def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Stage events Z-ordered on (user_id, day): range-partition by the
    * Z-value so each output file owns one Z-range (a (user, date)
    * rectangle), sort within partitions so row groups subdivide it. */
  def ensureZOrder(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dir("zorder", d)
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      val day = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      Tables.events(s, d)
        .withColumn("zv",
          zValue(pmod(col("user_id"), lit(65536L)), day.cast("long").bitwiseAND(lit(65535L))))
        .repartitionByRange(32, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv")
        .write.mode("overwrite").parquet(dir)
    }: Unit
    dir
  }

  // low absolute ids so the range is non-empty at every sf (the user-id
  // domain scales with the fixture: 0-14 at sf0.001, 0-1499 at sf0.1)
  private[operators] val UserFrom = 3L
  private[operators] val UserTo = 7L

  /** The 2-D dashboard query the Z-order exists for: a user-range AND a
    * date-range, aggregated. Both predicates push to parquet; on the
    * Z-ordered layout their conjunction prunes most row groups. The
    * answer (oracle: original events parquet) is layout-independent. */
  def zorderPrune(s: SparkSession, d: String): DataFrame =
    // both predicates are RAW-COLUMN ranges (ts, not to_date(ts)) so they
    // push down to the parquet reader — a function of a column never does
    Tables.parquet(s, ensureZOrder(s, d))
      .filter(col("user_id").between(UserFrom, UserTo) &&
        col("ts") >= lit(s"$From 00:00:00").cast("timestamp") &&
        col("ts") < date_add(lit(To).cast("date"), 1).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy("event_type")

  // ---- HILBERT layout: the >2-column clustering the Morton interleave
  // stops scaling to. Z-values keep per-file rectangles tight in 2-D,
  // but each added dimension dilutes every dimension's bits AND Morton's
  // locality breaks at bit boundaries (consecutive Z-values can jump
  // across the space), so a 3-predicate workload over a 3-column Morton
  // layout reads visibly more than it should. The Hilbert curve is the
  // locality-optimal total order — consecutive indexes are UNIT distance
  // in (user, day, type) space (HilbertSpec proves the invariant
  // exhaustively) — which is why Delta's OPTIMIZE ZORDER successor and
  // Iceberg's sort-order both grew Hilbert options. Same staging
  // discipline as [[ensureZOrder]]: range-partition + sort by the curve
  // key, drop it, answers never change (oracle reads original parquet). ----

  private val HilbertBits = 8

  def hilbertDir(sfDir: String): String = graft.Staging.dir("hilbert", sfDir)

  // deterministic small code per event type (alphabetical rank; unseen
  // types collapse into the top slot — at 100 TB this column is a
  // dictionary lookup staged next to the table)
  private[operators] def typeCode: org.apache.spark.sql.Column =
    when(col("event_type") === "click", 0L)
      .when(col("event_type") === "error", 1L)
      .when(col("event_type") === "purchase", 2L)
      .when(col("event_type") === "signup", 3L)
      .when(col("event_type") === "view", 4L)
      .otherwise(7L)

  /** Stage events Hilbert-ordered on (user_id, day, event_type). */
  def ensureHilbert(s: SparkSession, d: String): String = {
    val dir = hilbertDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      val day = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      Tables.events(s, d)
        .withColumn("hv", graft.functions.GraftFunctions.hilbert_index3(
          pmod(col("user_id"), lit(256L)),
          day.cast("long").bitwiseAND(lit(255L)),
          typeCode, HilbertBits))
        .repartitionByRange(32, col("hv"))
        .sortWithinPartitions(col("hv"))
        .drop("hv")
        .write.mode("overwrite").parquet(dir)
    }: Unit
    dir
  }

  /** `k_hilbert_prune` — the 3-PREDICATE dashboard query the Hilbert
    * layout exists for: a user range AND a date range AND one event
    * type. All three predicates are raw-column and push to parquet; on
    * the Hilbert layout their conjunction prunes row groups on all
    * three axes at once (HilbertSpec measures the reduction vs both the
    * 2-D Z-order and the unclustered layout). Answers are
    * layout-independent — the oracle reads the ORIGINAL events table. */
  def hilbertPrune(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, ensureHilbert(s, d))
      .filter(col("user_id").between(UserFrom, UserTo) &&
        col("ts") >= lit(s"$From 00:00:00").cast("timestamp") &&
        col("ts") < date_add(lit(To).cast("date"), 1).cast("timestamp") &&
        col("event_type") === "view")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy("event_type")

  // ---- Small-file COMPACTION: the table-maintenance pass every long-
  // lived 100 TB table needs (streaming appends and over-parallel writes
  // leave thousands of KB-scale files; each costs a task + an open per
  // scan, and at cluster scale the scheduler drowns before the I/O
  // does). The staging materializes the problem (a 256-file fragmented
  // copy) and its fix (rewritten into a handful of size-bounded files
  // via repartition + maxRecordsPerFile); queries read the compacted
  // copy, and CompactionSpec asserts the scan opens ~64× fewer files for
  // the same rows. Compaction must never change ANSWERS — the oracle
  // reads the original parquet. ----

  private val FragmentFiles = 256
  private val CompactFiles = 4

  /** Returns (fragmentedPath, compactedPath), building both once. */
  def ensureCompaction(s: SparkSession, d: String): (String, String) = {
    val dir = graft.Staging.dir("compact", d)
    val frag = dir + "/fragmented"
    val comp = dir + "/compacted"
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      Tables.events(s, d).repartition(FragmentFiles)
        .write.mode("overwrite").parquet(frag)
      // the compaction pass itself: read the fragmented table, rewrite
      // into CompactFiles size-bounded outputs (maxRecordsPerFile caps a
      // file even if a partition is larger — the size-bounding half of
      // real compaction; repartition sets the floor)
      val rows = Tables.parquet(s, frag).count()
      Tables.parquet(s, frag)
        .repartition(CompactFiles)
        .write.option("maxRecordsPerFile", (rows / CompactFiles + 1).toString)
        .mode("overwrite").parquet(comp)
    }: Unit
    (frag, comp)
  }

  /** The routine aggregate, run against the COMPACTED copy; same answer
    * as the original table (oracle), far fewer files than the fragmented
    * one (spec). */
  def compactionQuery(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, ensureCompaction(s, d)._2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy("event_type")

  /** DYNAMIC partition pruning — the fact⋈dim pattern static pruning
    * can't serve: which partitions survive is decided by DATA (the
    * busier-than-average days), not by a literal in the query, so the
    * day set exists only at runtime. The dim subtree aggregates per-day
    * counts and keeps days more than 5% above the mean — an
    * integer-exact comparison (`day_n·n_days·20 > total·21`) referencing
    * non-key aggregates, so no optimizer constraint propagation can turn
    * it into a static partition filter on the fact side; the fact scan
    * prunes via the DPP subquery reusing the dim's broadcast (DppSpec
    * asserts `dynamicpruning` in the executed scan's partition filters
    * and that pruned partitions stay unread). At 100 TB this is the
    * difference between scanning the month and scanning the busy days. */
  def dppPrune(s: SparkSession, d: String): DataFrame = {
    val perDay = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("day_n"))
    // one-row totals resolved driver-side (an index-build action, same
    // class as the bloom-filter and rollup-boundary head() calls): DPP's
    // selectivity check needs a plain Filter node on the dim — written
    // as a crossJoin with the totals row, the optimizer folds the
    // predicate into a join CONDITION and the pruning rule no longer
    // sees a selective filter
    val t = perDay.agg(sum(col("day_n")), count(lit(1))).head()
    val (total, nDays) = (t.getLong(0), t.getLong(1))
    val busy = perDay
      .filter(col("day_n") * nDays * 20 > total * 21)
      .select(col("event_date"), col("day_n"))
    // broadcast(busy) pins the DIM as the build side — at fixture scale
    // the planner would otherwise broadcast the (locally tiny) FACT,
    // putting the partitioned scan on the build side where DPP cannot
    // attach; at 100 TB the fact could never broadcast and this hint is
    // what the planner would pick anyway
    stagedEvents(s, d).join(broadcast(busy), "event_date")
      .groupBy(col("event_date"), col("day_n"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("event_date")
  }

  /** `k_bloom_join` — RUNTIME BLOOM-FILTER join pruning, the third
    * runtime-pruning mechanism next to [[dppPrune]] (partition-level,
    * needs a partitioned layout) and Z-order (row-group-level, needs a
    * clustered layout): the optimizer builds a bloom filter over the
    * SELECTIVE side's join keys (urgent orders) and injects a
    * `might_contain` filter on the fact side BELOW its shuffle, so
    * non-matching fact rows die before the exchange — no special layout
    * required, which is what makes it the default fact⋈filtered-dim
    * weapon at 100 TB (DPP needs partition dirs; this needs nothing).
    *
    * Conf scoping as in Skew.aqeSkewJoin: the application-side scan
    * threshold defaults to 10 GB (test data would never qualify) and is
    * lowered only around this query's execution; the merge hint keeps
    * the join a shuffle join (a broadcast join doesn't shuffle the fact
    * side, so there would be nothing for the bloom filter to save — and
    * at 100 TB neither side of a fact⋈large-dim broadcasts). The
    * operator REQUIRES the injected filter in the executed plan;
    * BloomJoinSpec additionally asserts it REDUCED the rows entering
    * the fact-side exchange. Results equal the plain join (oracle). */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // a broadcastABLE creation side makes the optimizer assume a
      // broadcast join (no fact shuffle to save) and decline injection;
      // at 100 TB the filtered dim genuinely can't broadcast — model that
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val joined = li.hint("merge")
        .join(urgent, li("l_orderkey") === urgent("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("rev")).as("revenue"))
      val rows = joined.collect() // executes under the scoped confs
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("might_contain"),
        s"runtime bloom filter was not injected; executed plan:\n$plan")
      localRows(s, rows.toIndexedSeq, joined.schema)
        .orderBy("l_returnflag")
    }
  }

  // ---- FILE-LEVEL MIN/MAX STATS PRUNING — the fourth scan-efficiency
  // mechanism, and the one that needs NO directory layout: Iceberg/Delta
  // keep per-file column stats in table metadata and resolve a predicate
  // against the MANIFEST before opening any data file. [[layoutPrune]]
  // prunes partition DIRS (needs the partitioned layout), Z-order prunes
  // row groups INSIDE files (needs clustering), DPP prunes partitions at
  // runtime; stats skipping works on any file set whose writes happen to
  // cluster the column — here a range-repartition by date, the natural
  // outcome of ingesting by arrival time. ----

  private val StatsFiles = 8

  def statsIndexDir(sfDir: String): String = graft.Staging.dir("statsidx", sfDir)

  /** Stage orders range-partitioned by date into [[StatsFiles]] files and
    * record each file's (min, max) `o_orderdate` in a manifest — ONE
    * stats-collection scan at write time (real writers fold this into
    * the write itself), metadata-plane text after that. */
  def ensureStatsIndex(s: SparkSession, d: String): String = {
    val dir = statsIndexDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/orders.parquet")) {
      Tables.orders(s, d)
        .repartitionByRange(StatsFiles, col("o_orderdate"), col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$dir/data")
      // o_orderdate is TIMESTAMP_NTZ; the NTZ→instant cast is exact
      // under the session's pinned UTC zone (the Tables.normalizeTs rule)
      val stats = Tables.parquet(s, s"$dir/data")
        .groupBy(input_file_name().as("path"))
        .agg(unix_micros(min(col("o_orderdate")).cast("timestamp")).as("min_us"),
          unix_micros(max(col("o_orderdate")).cast("timestamp")).as("max_us"))
        .collect() // O(files) rows — the manifest is metadata, not data
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/stats_manifest.txt"),
        stats.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
          .mkString("\n").getBytes("UTF-8")): Unit
    }: Unit
    dir
  }

  /** `k_stats_prune` — a one-year revenue-by-month rollup resolved
    * against the stats manifest FIRST: files whose [min, max] date range
    * misses the predicate are never opened (REQUIREd in-operator — a
    * green row certifies files were skipped, not just that the filter
    * ran); survivors still apply the residual filter, since file stats
    * are a may-contain gate, not an exact one. At 100 TB this is the
    * planner move that turns "scan 7 years" into "open the ~2 files
    * whose ranges straddle 1997". */
  def statsPrune(s: SparkSession, d: String): DataFrame = {
    val dir = ensureStatsIndex(s, d)
    val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/stats_manifest.txt")), "UTF-8")
      .split("\n").toIndexedSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(p, lo, hi) = line.split("\t")
        (p, lo.toLong, hi.toLong)
      }
    // [1997-01-01, 1998-01-01) in epoch micros, UTC (session zone pinned)
    val loUs = 852076800000000L
    val hiUs = 883612800000000L
    val live = manifest.collect { case (p, mn, mx) if mx >= loUs && mn < hiUs => p }
    require(live.nonEmpty && live.size < manifest.size,
      s"stats pruning skipped nothing: ${live.size}/${manifest.size} files live")
    Tables.parquet(s, live: _*)
      .filter(unix_micros(col("o_orderdate").cast("timestamp")) >= loUs
        && unix_micros(col("o_orderdate").cast("timestamp")) < hiUs)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("month")
  }

  private val BloomIdxFiles = 16
  // sized at write time: ~24 bits per expected element per file (fp ~
  // 0.7% with 2 hashes), floor 16k -- a FIXED m saturates the moment the
  // table grows (observed: 13/16 files passing at 10x the design size),
  // which is why real bloom indexes size per file at write time
  private val BloomIdxMinBits = 16384
  private def bloomBitsFor(perFile: Long): Long =
    math.max(BloomIdxMinBits.toLong, (perFile * 24 + 63) / 64 * 64)

  /** Stage events into [[BloomIdxFiles]] files hash-partitioned by
    * USER (arrival-shaped placement — event ids land everywhere), and
    * record per file BOTH a min/max range AND a Bloom position set over
    * `event_id` (2 portable md5-derived positions per id, the
    * `k_portable_bloom_join` hash family). One stats pass at write
    * time; the manifest is O(files × m bits) metadata. */
  def ensureBloomIndex(s: SparkSession, d: String): String = {
    // v2 = BITS header + write-time per-file sizing; the format version
    // lives in the dir name (the repo's stage-dir-constants discipline)
    // so a stage built by an earlier code revision (headerless manifest)
    // is never reused with the new parser
    val dir = graft.Staging.dir("bloomidx_v2", d)
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
      val bits = bloomBitsFor(ev.count() / BloomIdxFiles)
      ev.repartition(BloomIdxFiles, col("user_id"))
        .write.mode("overwrite").parquet(s"$dir/data")
      val p1 = pmod(conv(substring(md5(col("event_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long"), lit(bits))
      val p2 = pmod(conv(substring(md5(col("event_id").cast("string").cast("binary")), 9, 8),
        16, 10).cast("long"), lit(bits))
      val stats = Tables.parquet(s, s"$dir/data")
        .select(input_file_name().as("path"), col("event_id"),
          explode(array(p1, p2)).as("p"))
        .groupBy(col("path"))
        .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"),
          sort_array(collect_set(col("p"))).as("ps")) // ≤ m positions/file
        .collect() // O(files) rows of O(m) metadata — never data
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/bloom_manifest.txt"),
        (s"BITS\t$bits" +: stats.map(r =>
            s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t" +
              r.getSeq[Long](3).mkString(",")).toIndexedSeq)
          .mkString("\n").getBytes("UTF-8")): Unit
    }: Unit
    dir
  }

  /** `k_bloom_index` — FILE-LEVEL BLOOM SKIPPING INDEX (the Delta
    * bloom-filter-index / Parquet-bloom shape), the fifth scan-efficiency
    * mechanism and the one for POINT LOOKUPS on a high-cardinality
    * column the layout does NOT cluster: partition-dir pruning needs a
    * partitioned layout, min/max stats need clustered writes (REQUIREd
    * here: every file's [min, max] event_id range covers every probe —
    * the stats gate keeps ALL files, provably useless on this layout),
    * but a per-file Bloom answers "which files MIGHT hold id X" for any
    * placement. Five probe ids resolve against the manifest first; only
    * bloom-passing files are opened (REQUIREd < half the files), the
    * residual filter handles false positives, and a false NEGATIVE —
    * the one failure a Bloom index must never have — would lose a probe
    * row and hash-fail against the oracle, which reads the ORIGINAL
    * events table (the `k_layout_prune` discipline: layout changes
    * cost, never answers).
    *
    * Scale shape: the index is one write-time stats fold; each lookup
    * is an O(files × 2) driver-side manifest resolution (metadata
    * plane) followed by a scan of O(1) files — independent of table
    * size, the debugging/GDPR-locate query pattern at 100 TB. */
  def bloomIndexLookup(s: SparkSession, d: String): DataFrame = {
    val dir = ensureBloomIndex(s, d)
    val lines = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/bloom_manifest.txt")), "UTF-8")
      .split("\n").toIndexedSeq.filter(_.nonEmpty)
    require(lines.head.startsWith("BITS\t"),
      s"bloom manifest at $dir missing BITS header — stale pre-v2 stage dir")
    val bits = lines.head.split("\t")(1).toLong // header: the write-time m
    val manifest = lines.tail
      .map { line =>
        val parts = line.split("\t")
        (parts(0), parts(1).toLong, parts(2).toLong,
          parts(3).split(",").map(_.toLong).toSet)
      }
    // interior ids (edge ids would legitimately fall outside some
    // file's range and hand min/max stats an accidental win)
    val probes = Tables.events(s, d).select(col("event_id").cast("long"))
      .filter(col("event_id") % 1000 === 500)
      .orderBy("event_id").limit(5).collect().map(_.getLong(0)).toSeq
    def hex8(text: String, off: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(off, off + 8), 16)
    }
    def positions(id: Long): Seq[Long] =
      Seq(hex8(id.toString, 0) % bits, hex8(id.toString, 8) % bits)
    // the layout makes min/max stats useless here — assert it, so the
    // bloom index is demonstrably the only mechanism that can prune
    probes.foreach { p =>
      require(manifest.forall { case (_, mn, mx, _) => p >= mn && p <= mx },
        s"probe $p escapes some file's [min,max] — stats would prune; wrong fixture shape")
    }
    val live = manifest.collect {
      case (path, _, _, ps) if probes.exists(positions(_).forall(ps.contains)) => path
    }
    require(live.nonEmpty && live.size * 2 < manifest.size,
      s"bloom index skipped too little: ${live.size}/${manifest.size} files opened")
    val probeDf = {
      import s.implicits._
      probes.toDF("event_id")
    }
    Tables.parquet(s, live: _*)
      .join(broadcast(probeDf), "event_id")
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("total_value"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_layout_prune" -> (layoutPrune _),
    "k_zorder_prune" -> (zorderPrune _),
    "k_hilbert_prune" -> (hilbertPrune _),
    "k_compaction" -> (compactionQuery _),
    "k_dpp_prune" -> (dppPrune _),
    "k_bloom_join" -> (bloomJoin _),
    "k_stats_prune" -> (statsPrune _),
    "k_bloom_index" -> (bloomIndexLookup _),
  )

  val oracle: Map[String, String] = Map(
    // the probe lookups over the ORIGINAL events table: a bloom false
    // negative (a probe lost to file skipping) diverges here
    "k_bloom_index" ->
      s"""WITH probes AS (SELECT event_id FROM events WHERE event_id % 1000 = 500
         |               ORDER BY event_id LIMIT 5)
         |SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       ${sqlDsum("e.value")} AS total_value
         |FROM events e JOIN probes p ON e.event_id = p.event_id
         |GROUP BY e.event_id
         |ORDER BY e.event_id""".stripMargin,
    // plain one-year rollup over the original parquet: manifest-level
    // file skipping must change scan cost, never the answer
    "k_stats_prune" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${sqlDsum("o_totalprice")} AS revenue
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1
         |ORDER BY month""".stripMargin,
    // the plain join: the injected bloom filter is conservative
    // (might_contain has no false negatives), so the answer is exactly
    // the unfiltered formulation's
    "k_bloom_join" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_lines,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // same data-dependent day selection over the original parquet: the
    // runtime-pruned fact join must change scan cost, never the answer
    "k_dpp_prune" ->
      s"""WITH pd AS (SELECT CAST(ts AS DATE) AS event_date,
         |                   CAST(COUNT(*) AS BIGINT) AS day_n
         |            FROM events GROUP BY 1),
         |t AS (SELECT CAST(SUM(day_n) AS BIGINT) AS total,
         |             CAST(COUNT(*) AS BIGINT) AS n_days FROM pd),
         |busy AS (SELECT event_date, day_n FROM pd, t
         |         WHERE day_n * n_days * 20 > total * 21)
         |SELECT b.event_date, b.day_n, CAST(COUNT(*) AS BIGINT) AS n,
         |       ${sqlDsum("e.value")} AS total_value
         |FROM events e JOIN busy b ON CAST(e.ts AS DATE) = b.event_date
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // the oracle reads the ORIGINAL events parquet: the staged layout must
    // change the scan cost, never the answer
    "k_layout_prune" ->
      s"""SELECT CAST(ts AS DATE) AS event_date, event_type,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '$From' AND DATE '$To'
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "k_zorder_prune" ->
      s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |       ${sqlDsum("value")} AS total_value
         |FROM events
         |WHERE user_id BETWEEN $UserFrom AND $UserTo
         |  AND CAST(ts AS DATE) BETWEEN DATE '$From' AND DATE '$To'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "k_hilbert_prune" ->
      s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |       ${sqlDsum("value")} AS total_value
         |FROM events
         |WHERE user_id BETWEEN $UserFrom AND $UserTo
         |  AND CAST(ts AS DATE) BETWEEN DATE '$From' AND DATE '$To'
         |  AND event_type = 'view'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "k_compaction" ->
      s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |       ${sqlDsum("value")} AS total_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
  )
}
