package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located join — the zero-shuffle fact-fact join pattern
  * (SURVEY.md §7 scale notes; at 100 TB the orders⋈lineitem shuffle is
  * the single largest data movement in the relational layer, and
  * pre-bucketing both tables on the join key eliminates it for every
  * downstream join at the cost of one write).
  *
  * Tables are staged once per sf dir as Hive-bucketed managed tables
  * (16 buckets on the order key, sorted within buckets). The join then
  * plans as SortMergeJoin with NO shuffle exchange on either side —
  * BucketingSpec asserts that property on the physical plan.
  */
object Bucketing {

  private val Buckets = 16

  private def tbl(sfDir: String, base: String): String =
    ("graft_b_" + base + "_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase

  private def clearStaleLocation(s: SparkSession, table: String): Unit = {
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // directory persists; saveAsTable refuses a pre-existing location
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    if (dir.exists) rm(dir)
  }

  /** Stage bucketed copies of orders+lineitem once per sf dir. */
  def ensureBucketed(s: SparkSession, d: String): (String, String) = {
    val (ot, lt) = (tbl(d, "orders"), tbl(d, "lineitem"))
    if (!s.catalog.tableExists(ot)) {
      clearStaleLocation(s, ot)
      Tables.orders(s, d).write
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ot)
    }
    if (!s.catalog.tableExists(lt)) {
      clearStaleLocation(s, lt)
      Tables.lineitem(s, d).write
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(lt)
    }
    (ot, lt)
  }

  /** Fact-fact join over the bucketed tables: revenue per order status.
    * Both sides read pre-bucketed on the join key → no join shuffle. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = ensureBucketed(s, d)
    val o = s.table(ot)
    val l = s.table(lt)
    // merge hint: without it the planner would broadcast the smaller side
    // at test scale and never exercise the bucketed SMJ path
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_lines"),
        graft.QueryDsl.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** `k_join_strategy` — the BROADCAST-THRESHOLD decision made visible:
    * the same supplier⋈nation join executed twice under scoped
    * thresholds, once with broadcast allowed (must plan
    * BroadcastHashJoin — zero shuffle of the big side) and once with it
    * disabled (must plan a shuffle join), both REQUIREd from the
    * executed plans and both answers identical. At 100 TB this
    * threshold is the single most-consulted knob in the planner — which
    * side fits executor memory decides whether a join moves gigabytes
    * or nothing — and the demo pins that the knob changes PLANS, never
    * ANSWERS. One output row per strategy so the equality is itself
    * hash-checked. */
  def joinStrategy(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.get(key)
    def runWith(threshold: String, expect: String, forbid: String): Array[org.apache.spark.sql.Row] = {
      s.conf.set(key, threshold)
      try {
        val j = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"),
            graft.QueryDsl.dsum(col("s_acctbal")).as("total_bal"))
        val rows = j.collect()
        val plan = j.queryExecution.executedPlan.toString
        require(plan.contains(expect) && !plan.contains(forbid),
          s"threshold $threshold expected $expect (not $forbid); plan:\n$plan")
        rows
      } finally s.conf.set(key, prev)
    }
    val bhj = runWith("64MB", "BroadcastHashJoin", "SortMergeJoin")
    val smj = runWith("-1", "SortMergeJoin", "BroadcastHashJoin")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_suppliers",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_bal",
        org.apache.spark.sql.types.DoubleType)))
    def tag(rows: Array[org.apache.spark.sql.Row], m: String) =
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
        .select(lit(m).as("strategy"), col("n_name"), col("n_suppliers"), col("total_bal"))
    tag(bhj, "broadcast").unionByName(tag(smj, "shuffle"))
      .orderBy("strategy", "n_name")
  }

  private val SpjBuckets = 8

  /** Stage both join sides as bucket-directory layouts (`bucket=i` dirs
    * of `k,v` lines, i = k mod [[SpjBuckets]]) — the ingest-time write
    * whose grouping the SPJ connector reports back to the planner. */
  def ensureSpjStaged(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dir("spj", d)
    graft.Staging.ensure(dir,
      Seq(s"$d/orders.parquet", s"$d/customer.parquet")) {
      Tables.orders(s, d)
        .select(concat_ws(",", col("o_custkey"), col("o_totalprice")).as("value"),
          pmod(col("o_custkey"), lit(SpjBuckets)).as("bucket"))
        .write.partitionBy("bucket").mode("overwrite").text(s"$dir/orders")
      Tables.customer(s, d)
        .select(concat_ws(",", col("c_custkey"), col("c_acctbal")).as("value"),
          pmod(col("c_custkey"), lit(SpjBuckets)).as("bucket"))
        .write.partitionBy("bucket").mode("overwrite").text(s"$dir/customer")
    }: Unit
    dir
  }

  /** `k_spj_join` — STORAGE-PARTITIONED JOIN through the
    * [[graft.sources.KeyedLinesV2]] connector: both sides' scans report
    * `KeyGroupedPartitioning(bucket(8, k))` with per-partition bucket
    * keys, and under `spark.sql.sources.v2.bucketing.enabled` the
    * planner joins partition i against partition i directly — the
    * fact⋈fact join with ZERO exchanges that [[bucketedJoin]] achieves
    * with catalog bucketing, now at the CONNECTOR layer where a
    * lakehouse table format (Iceberg's bucket join) lives: no session
    * catalog, no saveAsTable — the table's own metadata carries the
    * layout. REQUIREd: no ShuffleExchange anywhere under the executed
    * join. The broadcast threshold is disabled in scope so the planner
    * can't dodge the demonstration (at 100 TB neither fact broadcasts).
    * Oracle = the plain orders⋈customer aggregate over the original
    * parquet: layout and join strategy are physical only. */
  def spjJoin(s: SparkSession, d: String): DataFrame = {
    val dir = ensureSpjStaged(s, d)
    graft.QueryDsl.withConfs(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the tables must resolve THROUGH the catalog: the planner can only
      // prove two bucket(n, k) partitionings compatible by resolving the
      // transform against the table catalog's FunctionCatalog (the Iceberg
      // mechanism) — a bare TableProvider read has no catalog and falls
      // back to shuffles (found empirically; the SPJ precondition worth
      // documenting)
      val cat = "graft_spj_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.spj_path", dir)
      s.conf.set(s"spark.sql.catalog.$cat.spj_buckets", SpjBuckets.toString)
      val joined = s.table(s"$cat.orders_spj")
        .join(s.table(s"$cat.customer_spj"), col("o_k") === col("c_k"))
        .agg(count(lit(1)).as("n_rows"),
          graft.QueryDsl.dsum(col("o_v")).as("total_spend"),
          graft.QueryDsl.dsum(col("c_v")).as("total_bal"))
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan
      def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        p +: kids.flatMap(flatten)
      }
      val all = flatten(plan)
      val join = all.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      require(join.isDefined, s"no shuffled join planned:\n$plan")
      val exchanges = flatten(join.get).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      require(exchanges.isEmpty,
        s"storage-partitioned join still shuffled (${exchanges.length} exchanges):\n$plan")
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), joined.schema)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_bucketed_join" -> (bucketedJoin _),
    "k_join_strategy" -> (joinStrategy _),
    "k_spj_join" -> (spjJoin _),
  )

  val oracle: Map[String, String] = Map(
    // the oracle reads the ORIGINAL parquet — bucketing must not change
    // the answer, only the plan
    "k_bucketed_join" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
         |       ${graft.QueryDsl.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the layout and the zero-shuffle plan are physical: the plain join
    // over the original parquet
    "k_spj_join" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       ${graft.QueryDsl.sqlDsum("o.o_totalprice")} AS total_spend,
         |       ${graft.QueryDsl.sqlDsum("c.c_acctbal")} AS total_bal
         |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,
    // one plain join, emitted once per strategy label: both physical
    // strategies must land on the identical rows
    "k_join_strategy" ->
      s"""WITH j AS (
         |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         |         ${graft.QueryDsl.sqlDsum("s_acctbal")} AS total_bal
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY n_name)
         |SELECT s.strategy, j.n_name, j.n_suppliers, j.total_bal
         |FROM j CROSS JOIN (SELECT unnest(['broadcast', 'shuffle']) AS strategy) s
         |ORDER BY s.strategy, j.n_name""".stripMargin,
  )
}
