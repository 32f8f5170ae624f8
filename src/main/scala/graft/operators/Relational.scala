package graft.operators

import graft.{QueryDsl, Tables}
import graft.QueryDsl.{davg, dsum, sqlDavg, sqlDsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generalization layer (SURVEY.md §7.2 M3): the relational algebra the
  * reference lacks, declared as lazy DataFrame plans so Catalyst supplies
  * pushdown, pruning, join planning, and whole-stage codegen.
  *
  * Scale notes (100 TB design point):
  *   - Dimension joins (region/nation/customer-sized) are explicitly
  *     `broadcast()` — no shuffle of the fact table.
  *   - Fact-fact joins (orders⋈lineitem) shuffle on the join key once; at
  *     cluster scale the same plan benefits from bucketing both tables on
  *     orderkey, and AQE handles skew (GraftSession enables skewJoin).
  *   - Aggregations are partial (map-side combine) automatically because
  *     they are declared via groupBy/agg, never driver-side loops.
  *   - Top-k is orderBy+limit → TakeOrderedAndProject: per-partition heaps
  *     + driver merge of k rows, never a global sort.
  */
object Relational {

  /** TPC-H Q1-shaped aggregation: map-side partial agg + exact decimal
    * sums. The shipdate predicate is pushed to the parquet row groups. */
  def aggPricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star-schema join: fact customer joined to two broadcast dims.
    * `.explain` shows BroadcastHashJoin with no shuffle of customer. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy("r_name")

  /** Fact-fact equi-join (orders⋈lineitem): one shuffle on the order key,
    * then partial-aggregated revenue per priority. */
  def joinFactFact(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")

  /** Left-semi join = SQL EXISTS: customers holding at least one open
    * order. Only the key column of orders is shuffled. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderstatus") === "P").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Left-anti join = SQL NOT EXISTS: customers with no orders at all. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Ranked window: top-3 orders per customer by price. row_number (not
    * rank) + total tie-break keys keeps the result deterministic. */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** Running-frame window: cumulative revenue per supplier over ship
    * dates (rows between unbounded preceding and current). Decimal
    * accumulation keeps the running sum engine-exact. */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") < 5)
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(28,4)")).over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "running_qty")
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  /** Lag/lead window: gap in days to the previous order per customer. */
  def windowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 40)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), col("prev_date")).cast("int"))
      .select("o_custkey", "o_orderkey", "gap_days")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Global top-k: TakeOrderedAndProject (per-partition heap + k-row
    * driver merge), not a global sort — the 100 TB-safe way to LIMIT. */
  def topK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** INTERSECT: customer keys seen in both finished and open orders. */
  def setIntersect(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** EXCEPT: parts never shipped by any lineitem. */
  def setExcept(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey"))
      .except(Tables.lineitem(s, d).select(col("l_partkey").as("p_partkey")))
      .orderBy("p_partkey")

  /** DISTINCT (exact dedup of a projection). */
  def distinctPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** ROLLUP hierarchy totals with grouping() markers. */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        grouping(col("n_name")).cast("int").as("g_nation"),
        grouping(col("c_mktsegment")).cast("int").as("g_seg"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))

  /** CUBE over two low-cardinality order dimensions. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Explicit GROUPING SETS — the combos ROLLUP/CUBE can't express
    * (each dimension alone plus the grand total, no pairwise cell). */
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq()),
        col("n_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        grouping(col("n_name")).cast("int").as("g_nation"),
        grouping(col("c_mktsegment")).cast("int").as("g_seg"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))

  /** EXACT median + quartiles per group. Cross-engine-exact because
    * l_quantity is integral: interpolated quantiles are quarter-steps,
    * exactly representable, so Spark's `a + (b-a)·f` and DuckDB's
    * `quantile_cont` land on identical doubles. Exact percentile buffers
    * per-DISTINCT-value counts (50 here) — fine for low-cardinality
    * measures; high-cardinality at scale uses the sketch path
    * (`k_approx_quantiles`). */
  def medianQuartiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        median(col("l_quantity")).as("med_qty"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_quantity, 0.75)").as("p75_qty"))
      .orderBy("l_returnflag")

  /** UNPIVOT (melt): wide per-group measures → long (group, measure,
    * value) rows — the inverse of [[pivotAgg]]'s shape and the form
    * feature stores and plotting layers consume. The wide input is an
    * aggregation here, so the unpivot itself is a narrow 1-row→3-rows
    * expansion after the shuffle. */
  // slope pin: ~4 at 10x input, drifting toward 10 (stack() emits a
  // constant multiple of input rows) — see SLOPES.md
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .orderBy("l_returnflag", "measure")

  /** SCD type-2 interval build — the warehouse temporal-dimension
    * transform: a key's change events become validity intervals
    * (`valid_from` = the event date, `valid_to` = the NEXT event's date,
    * open-ended + `is_current` for the latest). One shuffle on the key,
    * one lead() over the shared sort — the same single-sort shape as the
    * session windows. */
  def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("valid_from"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("valid_from"), col("o_totalprice"))
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Date kernel: extraction + truncation (engine-portable subset). */
  def dateKernel(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy("o_orderkey")

  /** Math kernel: IEEE-exact functions only (floor/ceil/abs/sqrt/mod) —
    * libm-dependent fns (ln, exp) are excluded from oracle checks because
    * their low bits differ across engines. */
  def mathKernel(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice")).cast("double").as("price_floor"),
        ceil(col("l_discount") * 100).cast("double").as("disc_pct_ceil"),
        abs(col("l_quantity") - 25.0).as("qty_dev"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        (col("l_orderkey") % 7).cast("long").as("key_mod"))
      .orderBy("l_orderkey", "l_linenumber")

  /** CASE WHEN conditional kernel. */
  def caseWhen(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") >= 300000, "large")
          .when(col("o_totalprice") >= 100000, "medium")
          .otherwise("small").as("size_class"))
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy("size_class")

  /** Correlated-style scalar aggregate comparison: customers whose account
    * balance exceeds their nation's average (join against a pre-aggregated
    * subplan — the decorrelated form Catalyst would produce). */
  def aboveNationAvg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val avgByNation = c.groupBy(col("c_nationkey").as("nk"))
      .agg(davg(col("c_acctbal")).as("nation_avg"))
    c.join(broadcast(avgByNation), col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Per-group ranked window over supplier⋈nation (broadcast dim): top-3
    * suppliers per nation by account balance. */
  def supplierRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("n_name", "rn", "s_suppkey", "s_name", "s_acctbal")
      .orderBy("n_name", "rn")
  }

  /** Per-key top-k via the custom bounded-heap plan operator
    * (graft.plans.TopK) — same semantics as [[windowRank]] but O(keys×k)
    * memory instead of a full per-partition sort. The oracle (window
    * formulation) proves the custom operator's results. */
  def topKPerKey(s: SparkSession, d: String): DataFrame =
    graft.plans.TopK.perKey(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  /** GLOBAL top-k through the rewrite rule: written as the no-partition
    * window idiom — the worst case for WindowExec, which funnels the
    * ENTIRE input through one task's sort — and rewritten by
    * RewriteWindowTopK into [[graft.plans.TopKPerKeyNode]] with empty
    * keys: per-partition partial heaps, then one AllTuples final heap
    * over ≤ partitions×k survivors. No task ever sorts more than k rows'
    * worth of heap. k=25 and the rank dropped, so the rewrite fires;
    * the window-formulation oracle proves the heap path through the hash
    * gate (TopKPlanSpec asserts the plan shape: heap operator present,
    * no sort or window under it). */
  def topKGlobal(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 25)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Full outer join with asymmetric coverage: high-balance customers vs
    * per-customer order aggregates — rows survive with nulls on either
    * side. Same single-shuffle sort-merge as any fact-fact equi-join. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"), col("spend"))
      .orderBy("custkey")
  }

  /** Window distribution functions: ntile / percent_rank / cume_dist over
    * a total order (suppkey tiebreak ⇒ no peer groups, so the rational
    * divisions are exact-int / exact-int — cross-engine deterministic). */
  def windowDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
    Tables.supplier(s, d)
      .select(
        col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("s_nationkey", "s_suppkey")
  }

  /** Pivot with explicit values (no extra job to discover the pivot
    * domain — at scale, value discovery is a full distinct scan). */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
      .orderBy("l_returnflag")

  /** Blocked FUZZY JOIN — entity resolution at edit distance ≤ 1 WITHOUT
    * the O(n²) all-pairs levenshtein: every name emits its DELETION
    * NEIGHBORHOOD (the string itself plus each single-character
    * deletion, len+1 variants — the FastSS scheme), candidates are the
    * pairs sharing a variant (plain equi-join), and an exact
    * `levenshtein` verifies each candidate. Complete for distance ≤ 1:
    * a substitution pair shares the variant deleting the differing
    * position; an insert/delete pair shares the shorter string itself.
    * At sf0.01 this plans 1 665 candidates for 4 950 possible pairs and
    * verifies 900 — the filter does real work.
    *
    * Scale shape: the variant table is a narrow (len+1)-way fan-out of
    * the name column; the join is a shuffle equi-join on the variant
    * (never a nested loop — FuzzyJoinSpec pins that), and deletion
    * variants keep all-but-one character so blocks stay high-entropy —
    * no degenerate mega-block like prefix blocking has. Distance k > 1
    * generalizes to k-deletion neighborhoods (C(len,k) keys) or
    * partition-based PassJoin; same join shape. `levenshtein` is exact
    * integer in both engines, so the gate is hash-stable. */
  def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val names = Tables.supplier(s, d)
      .select(col("s_suppkey").as("key"), col("s_name").as("name"))
    val variants = names
      .select(col("key"), col("name"),
        explode(sequence(lit(0), length(col("name")))).as("i"))
      // i = kept-prefix length: i < len deletes char i+1; i = len is the
      // identity variant (covers the insert/delete case and exact dups)
      .select(col("key"), col("name"),
        expr("concat(substr(name, 1, i), substr(name, i + 2))").as("variant"))
      .distinct() // runs of equal chars yield duplicate variants
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") && col("a.key") < col("b.key"))
      .select(col("a.key").as("key1"), col("a.name").as("name1"),
        col("b.key").as("key2"), col("b.name").as("name2"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= 1)
      .orderBy("key1", "key2")
  }

  /** `r_record_linkage` — FELLEGI–SUNTER entity resolution, the scoring
    * layer above [[fuzzyJoin]]'s blocking: two registries (A = customers
    * as-is; B = a deterministic noisy re-registration — every 7th key
    * gets one name digit substituted, every 5th a nation off by one,
    * every 11th a segment reset) are candidate-paired by the complete
    * FastSS deletion-variant block on the name, then scored with integer
    * agreement weights per field and classified match / possible at
    * fixed thresholds (non-matches — the implicit majority — are
    * dropped, as a linkage pipeline does). The weights encode the FS
    * u-probability insight on THIS name distribution: sequential numeric
    * names make edit-distance-1 agreement cheap by chance (every
    * neighboring key qualifies), so ed-1 earns only +4 while an exact
    * name earns +24; nation ±6, segment +3/−5. A digit substitution can
    * COLLIDE two customers' names exactly, and the non-name fields are
    * what votes those impostors down to 'possible' — precisely the
    * ambiguity class FS weighting exists for; conversely a true noisy
    * pair and a neighbor agreeing on nation AND segment by chance are
    * genuinely indistinguishable on these fields and BOTH land in
    * 'possible', which is the honest answer. `is_true` rides along so
    * the decision matrix is auditable. All integers + levenshtein —
    * hash-exact cross-engine.
    *
    * Scale shape: variants are O(records × name length) rows, the block
    * join is an equi-join on the variant, survivors verify with one
    * levenshtein — never a cross join (the fuzzyJoin argument). */
  private def linkageRegistryA(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("key"),
      col("c_name").as("name"), col("c_nationkey").as("nation"),
      col("c_mktsegment").as("segment"))

  /** The noisy re-registration, all arithmetic deterministic. */
  private def linkageRegistryB(s: SparkSession, d: String): DataFrame = {
    val a = linkageRegistryA(s, d)
    a.select(col("key"),
      when(col("key") % 7 === 0,
        expr("concat(substr(name, 1, (key % 9) + 9), " +
          "cast((cast(substr(name, (key % 9) + 10, 1) as int) + 1) % 10 as string), " +
          "substr(name, (key % 9) + 11))"))
        .otherwise(col("name")).as("name"),
      when(col("key") % 5 === 0, (col("nation") + 1) % 25)
        .otherwise(col("nation")).as("nation"),
      when(col("key") % 11 === 0, lit("AUTOMOBILE"))
        .otherwise(col("segment")).as("segment"))
  }

  /** FastSS deletion-variant table of a (key, name) registry — the
    * BLOCKING INDEX a production linkage system precomputes. */
  private[operators] def linkageVariantsOver(df: DataFrame): DataFrame = df
    .select(col("key"), col("name"),
      explode(sequence(lit(0), length(col("name")))).as("i"))
    .select(col("key"),
      expr("concat(substr(name, 1, i), substr(name, i + 2))").as("variant"))
    .distinct()

  def linkageStageDir(sfDir: String): String = graft.Staging.dir("linkvar_v1", sfDir)

  /** Stage both registries' deletion-variant blocking indexes once per
    * corpus fingerprint (pure functions of the customer table): a
    * linkage run's candidate generation then probes two staged parquet
    * tables instead of re-exploding and re-deduplicating both name
    * columns per run — the blocking index is build-once state exactly
    * like the LSH band and shingle tables. */
  def ensureLinkageStaged(s: SparkSession, d: String): (String, String) = {
    val dir = linkageStageDir(d)
    val (aP, bP) = (dir + "/va", dir + "/vb")
    graft.Staging.ensure(dir, Seq(s"$d/customer.parquet")) {
      linkageVariantsOver(linkageRegistryA(s, d)).write.mode("overwrite").parquet(aP)
      linkageVariantsOver(linkageRegistryB(s, d)).write.mode("overwrite").parquet(bP)
    }: Unit
    (aP, bP)
  }

  def recordLinkage(s: SparkSession, d: String): DataFrame = {
    val a = linkageRegistryA(s, d)
    val b = linkageRegistryB(s, d)
    val (vaP, vbP) = ensureLinkageStaged(s, d)
    // The early pair-distinct STAYS (measured r21): moving it below the
    // score+filter looked like a win on paper (the filter keeps ~1% of
    // pairs, the distinct shuffles 1.79M) but regressed 3.2 → 9.9 s in an
    // isolated A/B — the aggregate is also the stats barrier that keeps
    // the two registry probes planned as broadcast joins; without it the
    // scoring leg degrades. Documented in OPTIMIZATION_r21.md.
    val cand = Tables.parquet(s, vaP).as("x")
      .join(Tables.parquet(s, vbP).as("y"), col("x.variant") === col("y.variant"))
      .select(col("x.key").as("a_key"), col("y.key").as("b_key"))
      .distinct()
    val sName = when(col("a_name") === col("b_name"), 24)
      .when(levenshtein(col("a_name"), col("b_name")) <= 1, 4)
      .otherwise(-8)
    val sNation = when(col("a_nation") === col("b_nation"), 6).otherwise(-6)
    val sSegment = when(col("a_segment") === col("b_segment"), 3).otherwise(-5)
    // sortedPinned (r21): a trailing range sort samples its child, and
    // here the child is the scoring pass — two broadcast probes + a
    // levenshtein over EVERY candidate pair (1.79M at sf0.1) — which r20
    // therefore ran twice. The filter keeps ~1% of pairs: when the
    // estimate fits one partition the sort runs there with no sampler
    // (plans.SinglePartitionSort) and nothing is pinned; otherwise the pin
    // materializes the small frame and the scoring still runs once.
    graft.QueryDsl.sortedPinned(
      cand
        .join(a.select(col("key").as("a_key"), col("name").as("a_name"),
          col("nation").as("a_nation"), col("segment").as("a_segment")), "a_key")
        .join(b.select(col("key").as("b_key"), col("name").as("b_name"),
          col("nation").as("b_nation"), col("segment").as("b_segment")), "b_key")
        .select(col("a_key"), col("b_key"),
          sName.as("s_name"), sNation.as("s_nation"), sSegment.as("s_segment"))
        .withColumn("score", col("s_name") + col("s_nation") + col("s_segment"))
        .withColumn("decision",
          when(col("score") >= 20, "match")
            .when(col("score") >= 10, "possible")
            .otherwise("non_match"))
        .filter(col("decision") =!= "non_match")
        .withColumn("is_true", (col("a_key") === col("b_key")).cast("int")),
      col("a_key"), col("b_key"))
  }

  /** Descriptive-statistics kernel — per-group mean / sample variance /
    * stddev / Pearson correlation, computed the CROSS-ENGINE-EXACT way:
    * the aggregate collects only exact integer POWER SUMS (n, Σx, Σx²,
    * Σy, Σy², Σxy — l_quantity and l_linenumber are integral, so every
    * sum is a BIGINT with no rounding anywhere), and each statistic is
    * then ONE fixed double expression over those integers — e.g.
    * `var = (n·Σx² − (Σx)²) / (n·(n−1))`, `sd = sqrt(var)`. Every IEEE
    * op in that tree is correctly rounded and the oracle spells the
    * identical tree, so results are bit-identical — unlike the built-in
    * `stddev`/`corr`, whose streaming double accumulators are
    * partition-order-dependent. sqrt is fine (single correctly-rounded
    * op); that is why stddev is in and no libm transcendental is.
    *
    * Scale shape: one map-side-combined hash aggregate to O(groups) rows;
    * the statistics are a narrow projection after the shuffle. The BIGINT
    * power sums bound n·Σx² below 2^63 up to ~10^13 rows at these value
    * ranges; past that the same shape runs on decimal(38) sums. */
  def statsKernel(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = col("l_linenumber").cast("long")
    val dd = (c: Column) => c.cast("double")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        (dd(col("sx")) / dd(col("n"))).as("mean_qty"),
        (dd(col("n") * col("sxx") - col("sx") * col("sx"))
          / dd(col("n") * (col("n") - 1))).as("var_qty"),
        sqrt(dd(col("n") * col("sxx") - col("sx") * col("sx"))
          / dd(col("n") * (col("n") - 1))).as("sd_qty"),
        (dd(col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(dd(col("n") * col("sxx") - col("sx") * col("sx")))
            * sqrt(dd(col("n") * col("syy") - col("sy") * col("sy")))))
          .as("corr_qty_line"))
      .orderBy("l_returnflag")
  }

  /** `r_bitemporal` — BITEMPORAL dimension query (valid time ×
    * transaction time), the audit-grade SCD the plain [[scd2]] interval
    * table can't answer: "what did we BELIEVE on date T about the state
    * at date V" — regulatory restatements, late corrections, and
    * reproducible-report requirements all live here. The dim derives
    * in-query: every customer's segment is valid over two periods
    * (pre/post 2022), and a TX-TIME CORRECTION recorded later rewrites
    * the early period's segment for every 10th customer — so the same
    * valid moment (mid-2021) reads DIFFERENTLY from the two transaction
    * snapshots, which is the entire point of the second time axis
    * (an uncorrected query is not "wrong", it is what the books said at
    * T₁, and both answers stay forever reproducible). Orders join the
    * as-of-both-axes dim slice and aggregate per segment per snapshot.
    *
    * Scale shape: the bitemporal predicate is a narrow filter on the
    * dim BEFORE the fact join (at scale the dim is a keyed table and
    * the filter prunes at the manifest); one equi-join per snapshot on
    * the customer key, snapshots unioned — never a fact×interval range
    * join. */
  def bitemporal(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    // dim rows: (key, segment, valid_from, valid_to, tx_from, tx_to) in
    // integer year-quarters; 9999 = open
    val dim = cust.select(col("c_custkey"), col("c_mktsegment"),
        lit(2020).as("valid_from"), lit(2022).as("valid_to"),
        lit(2020).as("tx_from"),
        when(col("c_custkey") % 10 === 0, lit(2023)).otherwise(lit(9999)).as("tx_to"))
      .unionByName(cust.select(col("c_custkey"), col("c_mktsegment"),
        lit(2022).as("valid_from"), lit(9999).as("valid_to"),
        lit(2020).as("tx_from"), lit(9999).as("tx_to")))
      .unionByName(cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("CORRECTED").as("c_mktsegment"),
          lit(2020).as("valid_from"), lit(2022).as("valid_to"),
          lit(2023).as("tx_from"), lit(9999).as("tx_to")))
    val orders = Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
    def snapshot(label: String, tx: Int): DataFrame = {
      val slice = dim.filter(
        col("tx_from") <= tx && lit(tx) < col("tx_to") &&
          col("valid_from") <= 2021 && lit(2021) < col("valid_to"))
      orders.join(slice, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .select(lit(label).as("as_recorded_at"), col("c_mktsegment"),
          col("n_orders"), col("revenue"))
    }
    snapshot("t1_before_correction", 2022)
      .unionByName(snapshot("t2_after_correction", 2024))
      .orderBy("as_recorded_at", "c_mktsegment")
  }

  /** `r_stats_typed` — the SAME descriptive-stats kernel through the
    * public typed `Aggregator` API ([[graft.functions.MomentsAgg]]):
    * `groupByKey(...).agg(agg.toColumn)` with a case-class buffer — the
    * aggregation path a LIBRARY USER extends without touching Catalyst,
    * proven semantically identical to the SQL formulation by sharing
    * [[statsKernel]]'s oracle verbatim. Constant-width six-long buffer,
    * map-side combined; statistics derived in `finish` with the same
    * single-division IEEE discipline. */
  def statsTyped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long"), col("l_linenumber").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .agg(graft.functions.MomentsAgg.toColumn.name("st"))
      .toDF("l_returnflag", "st")
      .select(col("l_returnflag"), col("st.n").as("n"),
        col("st.mean_qty").as("mean_qty"), col("st.var_qty").as("var_qty"),
        col("st.sd_qty").as("sd_qty"), col("st.corr_qty_line").as("corr_qty_line"))
      .orderBy("l_returnflag")
  }

  private val HistBuckets = 16

  /** EQUI-WIDTH HISTOGRAM, integer-exact: the distribution profile a cost
    * model or a data-quality report reads. Bucket assignment is pure
    * integer arithmetic — `(v − min) · B div (max − min + 1)` — so the
    * same row lands in the same bucket in any engine (no double
    * width, no libm, no boundary-epsilon hazard), and bucket bounds are
    * reported back in the same closed form. Shape: one map-side-combined
    * min/max aggregate broadcast as a one-row dim, then one
    * map-side-combined groupBy over the scan — O(B) output rows, the
    * corpus is read twice and shuffled never (both aggregates reduce to
    * O(1)/O(B) rows at the combiner). Empty buckets are materialized
    * (count 0) — a histogram that silently skips them misleads. */
  def histogram(s: SparkSession, d: String): DataFrame = {
    val v = col("n_chars")
    val bounds = Tables.documents(s, d)
      .agg(min(v).as("lo"), max(v).as("hi"),
        (max(v) - min(v) + 1).as("span"))
    val counts = Tables.documents(s, d)
      .crossJoin(broadcast(bounds))
      .select(expr(s"((n_chars - lo) * $HistBuckets) div span").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val all = bounds.select(col("lo"), col("span"),
      explode(sequence(lit(0L), lit(HistBuckets - 1L))).as("bucket"))
    all.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        // bucket b covers [lo + ceil(b*span/B), lo + ceil((b+1)*span/B) - 1]
        expr(s"lo + ((bucket * span + ${HistBuckets - 1}) div $HistBuckets)").as("b_lo"),
        expr(s"lo + (((bucket + 1) * span + ${HistBuckets - 1}) div $HistBuckets) - 1").as("b_hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("bucket")
  }

  private val DepthBuckets = 8L

  /** `r_histogram_equidepth` — the EQUI-DEPTH companion to
    * [[histogram]]'s equi-width: boundaries placed so buckets hold
    * (approximately) equal row counts — the shape planner statistics
    * (ANALYZE) actually store, because equal-width buckets are useless
    * on skewed columns. VALUE-ALIGNED on purpose: the naive `ntile`
    * formulation is a global per-row sort (the single-partition
    * bottleneck at 100 TB) and splits ties across buckets; real stats
    * collectors put boundaries on distinct values. Shape: one map-side
    * combined per-value count to the O(distinct values) domain, a
    * prefix sum over that bounded table (the [[graft.operators.Events]]
    * concurrency phase-1 argument: single-partition is fine at
    * O(distinct) ≪ O(rows)), bucket = ⌊rows_before · B / n⌋ — all
    * integer arithmetic. */
  def histogramEquidepth(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.documents(s, d)
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c"))
    val wBefore = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = vals.agg(sum(col("c")).as("n"))
    vals
      .withColumn("before", coalesce(sum(col("c")).over(wBefore), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("v"), col("c"),
        expr(s"(before * $DepthBuckets) div n").as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("n_rows"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy("bucket")
  }

  /** Per-key top-k via the native BOUNDED-HEAP AGGREGATE
    * ([[graft.functions.TopKPairs]], SQL name `topk_pairs`) — the THIRD
    * top-k form next to the window idiom (`r_topk_perkey`'s oracle) and
    * the custom physical plan (`graft.plans.TopK`). What the aggregate
    * form uniquely buys: it runs inside the standard hash-aggregate
    * machinery, so it (a) COMBINES MAP-SIDE — the shuffle carries ≤ k
    * pairs per key per map task, not the key's full row set — and (b)
    * COMPOSES with other aggregates in the same groupBy: this query
    * computes the count and the top-3 in ONE pass and ONE shuffle, which
    * the window form (full sort) and the plan node (dedicated operator)
    * both cannot. posexplode unpacks the rank order the buffer
    * maintains. */
  def topKAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("topk_pairs(value, event_id, 3)").as("tk"))
      .select(col("user_id"), col("n_events"), posexplode(col("tk")))
      .select(col("user_id"), col("n_events"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))
      .orderBy("user_id", "rank")

  /** The pure-SQL-TEXT surface: the same engine driven entirely through
    * `spark.sql(...)` over registered temp views — no DataFrame calls in
    * the query path — proving a SQL-first user (BI tool, notebook `%%sql`
    * cell) gets identical semantics and the identical Catalyst plan. The
    * decimal-exact sum is spelled inline the way `QueryDsl.dsum` builds
    * it, so the cross-engine determinism discipline survives the textual
    * surface too. */
  def sqlText(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c.c_mktsegment, o.o_orderstatus,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment, o.o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r_sql_text"        -> (sqlText _),
    "r_topk_agg"        -> (topKAgg _),
    "r_histogram"       -> (histogram _),
    "r_histogram_equidepth" -> (histogramEquidepth _),
    "r_stats_kernel"    -> (statsKernel _),
    "r_stats_typed"     -> (statsTyped _),
    "r_bitemporal"      -> (bitemporal _),
    "r_fuzzy_join"      -> (fuzzyJoin _),
    "r_record_linkage"  -> (recordLinkage _),
    "r_join_full_outer" -> (joinFullOuter _),
    "r_window_dist"     -> (windowDist _),
    "r_pivot"           -> (pivotStatus _),
    "r_topk_perkey"     -> (topKPerKey _),
    "r_supplier_rank"   -> (supplierRank _),
    "r_agg_pricing"     -> (aggPricing _),
    "r_join_broadcast"  -> (joinBroadcast _),
    "r_join_factfact"   -> (joinFactFact _),
    "r_join_semi"       -> (joinSemi _),
    "r_join_anti"       -> (joinAnti _),
    "r_window_rank"     -> (windowRank _),
    "r_window_running"  -> (windowRunning _),
    "r_window_lag"      -> (windowLag _),
    "r_topk"            -> (topK _),
    "r_topk_global"     -> (topKGlobal _),
    "r_set_intersect"   -> (setIntersect _),
    "r_set_except"      -> (setExcept _),
    "r_distinct"        -> (distinctPairs _),
    "r_rollup"          -> (rollupAgg _),
    "r_cube"            -> (cubeAgg _),
    "r_grouping_sets"   -> (groupingSetsAgg _),
    "r_median"          -> (medianQuartiles _),
    "r_unpivot"         -> (unpivotMeasures _),
    "r_scd2"            -> (scd2Intervals _),
    "r_date_kernel"     -> (dateKernel _),
    "r_math_kernel"     -> (mathKernel _),
    "r_case_when"       -> (caseWhen _),
    "r_above_nation_avg" -> (aboveNationAvg _),
  )

  val oracle: Map[String, String] = Map(
    "r_sql_text" ->
      s"""SELECT c.c_mktsegment, o.o_orderstatus,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${sqlDsum("o.o_totalprice")} AS revenue
         |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment, o.o_orderstatus
         |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,
    // the window formulation the heap aggregate must reproduce exactly —
    // same (value DESC, id DESC) rank order, same composed count
    "r_topk_agg" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY value DESC, event_id DESC) AS rnk,
        |             count(*) OVER (PARTITION BY user_id) AS n_events
        |           FROM events)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(rnk AS INT) AS rank, event_id, value
        |FROM r WHERE rnk <= 3
        |ORDER BY user_id, rank""".stripMargin,
    // same integer bucket arithmetic: (v-lo)*B // span, ceil bounds
    // same value-aligned prefix-sum construction: per-value counts,
    // rows-before, bucket = rows_before * B // n — all integers
    "r_histogram_equidepth" ->
      s"""WITH vals AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
         |              FROM documents GROUP BY n_chars),
         |cum AS (SELECT v, c,
         |               COALESCE(SUM(c) OVER (ORDER BY v
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         |               SUM(c) OVER () AS n
         |        FROM vals)
         |SELECT CAST((before * $DepthBuckets) // n AS BIGINT) AS bucket,
         |       CAST(SUM(c) AS BIGINT) AS n_rows,
         |       MIN(v) AS lo, MAX(v) AS hi
         |FROM cum GROUP BY 1
         |ORDER BY bucket""".stripMargin,
    "r_histogram" ->
      s"""WITH b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi,
         |                  max(n_chars) - min(n_chars) + 1 AS span FROM documents),
         |c AS (SELECT ((n_chars - b.lo) * $HistBuckets) // b.span AS bucket,
         |             CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM documents, b GROUP BY 1),
         |a AS (SELECT unnest(range(0, $HistBuckets)) AS bucket, lo, span FROM b)
         |SELECT a.bucket,
         |       a.lo + (a.bucket * a.span + ${HistBuckets - 1}) // $HistBuckets AS b_lo,
         |       a.lo + ((a.bucket + 1) * a.span + ${HistBuckets - 1}) // $HistBuckets - 1 AS b_hi,
         |       COALESCE(c.cnt, 0) AS cnt
         |FROM a LEFT JOIN c ON a.bucket = c.bucket
         |ORDER BY a.bucket""".stripMargin,
    // the identical power-sum → fixed-expression tree, spelled in SQL:
    // every sum is BIGINT-exact, every double op correctly rounded, so
    // the statistics are bit-identical to the Spark side
    "r_stats_kernel" ->
      """WITH a AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |             CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sy,
        |             CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS syy,
        |             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sxy
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |       CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
        |       sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS sd_qty,
        |       CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_line
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // both transaction snapshots rebuilt from the same correction rule:
    // t1 reads the original segments for the 2021 valid moment, t2 reads
    // the corrected ones for every 10th customer
    "r_bitemporal" -> {
      def snap(label: String, corrected: Boolean): String =
        s"""SELECT '$label' AS as_recorded_at,
           |       ${if (corrected)
               "CASE WHEN c.c_custkey % 10 = 0 THEN 'CORRECTED' ELSE c.c_mktsegment END"
             else "c.c_mktsegment"} AS c_mktsegment,
           |       CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       ${graft.QueryDsl.sqlDsum("o.o_totalprice")} AS revenue
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |GROUP BY 1, 2""".stripMargin
      snap("t1_before_correction", corrected = false) + "\nUNION ALL\n" +
        snap("t2_after_correction", corrected = true) +
        "\nORDER BY as_recorded_at, c_mktsegment"
    },
    // the typed Aggregator is an API change, not a semantics change:
    // identical oracle to r_stats_kernel
    "r_stats_typed" ->
      """WITH a AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |             CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sy,
        |             CAST(SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS syy,
        |             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sxy
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |       CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS var_qty,
        |       sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS sd_qty,
        |       CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_line
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "r_fuzzy_join" ->
      """WITH n AS (SELECT s_suppkey AS key, s_name AS name FROM supplier),
        |v0 AS (SELECT key, name,
        |              unnest(range(0, CAST(len(name) AS BIGINT) + 1)) AS i
        |       FROM n),
        |v AS (SELECT DISTINCT key, name,
        |             substr(name, 1, CAST(i AS INT)) || substr(name, CAST(i AS INT) + 2) AS variant
        |      FROM v0),
        |cand AS (SELECT DISTINCT a.key AS key1, a.name AS name1,
        |                b.key AS key2, b.name AS name2
        |         FROM v a JOIN v b ON a.variant = b.variant AND a.key < b.key)
        |SELECT key1, name1, key2, name2,
        |       CAST(levenshtein(name1, name2) AS INT) AS dist
        |FROM cand
        |WHERE levenshtein(name1, name2) <= 1
        |ORDER BY key1, key2""".stripMargin,
    // the noisy registry, the deletion-variant block, and the integer
    // agreement weights rebuilt verbatim
    "r_record_linkage" ->
      """WITH a AS (SELECT c_custkey AS key, c_name AS name,
        |                  c_nationkey AS nation, c_mktsegment AS segment
        |           FROM customer),
        |b AS (SELECT key,
        |             CASE WHEN key % 7 = 0
        |                  THEN substr(name, 1, CAST((key % 9) + 9 AS INT))
        |                       || CAST((CAST(substr(name, CAST((key % 9) + 10 AS INT), 1) AS INT) + 1) % 10 AS VARCHAR)
        |                       || substr(name, CAST((key % 9) + 11 AS INT))
        |                  ELSE name END AS name,
        |             CASE WHEN key % 5 = 0 THEN (nation + 1) % 25 ELSE nation END AS nation,
        |             CASE WHEN key % 11 = 0 THEN 'AUTOMOBILE' ELSE segment END AS segment
        |      FROM a),
        |va AS (SELECT DISTINCT key,
        |              substr(name, 1, CAST(i AS INT)) || substr(name, CAST(i AS INT) + 2) AS variant
        |       FROM (SELECT key, name, unnest(range(0, CAST(len(name) AS BIGINT) + 1)) AS i FROM a) t),
        |vb AS (SELECT DISTINCT key,
        |              substr(name, 1, CAST(i AS INT)) || substr(name, CAST(i AS INT) + 2) AS variant
        |       FROM (SELECT key, name, unnest(range(0, CAST(len(name) AS BIGINT) + 1)) AS i FROM b) t),
        |cand AS (SELECT DISTINCT x.key AS a_key, y.key AS b_key
        |         FROM va x JOIN vb y ON x.variant = y.variant),
        |scored AS (
        |  SELECT c.a_key, c.b_key,
        |         CASE WHEN a.name = b.name THEN 24
        |              WHEN levenshtein(a.name, b.name) <= 1 THEN 4
        |              ELSE -8 END AS s_name,
        |         CASE WHEN a.nation = b.nation THEN 6 ELSE -6 END AS s_nation,
        |         CASE WHEN a.segment = b.segment THEN 3 ELSE -5 END AS s_segment,
        |         CAST(a.key = b.key AS INT) AS is_true
        |  FROM cand c JOIN a ON a.key = c.a_key JOIN b ON b.key = c.b_key)
        |SELECT a_key, b_key, s_name, s_nation, s_segment,
        |       s_name + s_nation + s_segment AS score,
        |       CASE WHEN s_name + s_nation + s_segment >= 20 THEN 'match'
        |            ELSE 'possible' END AS decision,
        |       is_true
        |FROM scored
        |WHERE s_name + s_nation + s_segment >= 10
        |ORDER BY a_key, b_key""".stripMargin,
    "r_join_full_outer" ->
      s"""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000),
         |o AS (SELECT o_custkey, COUNT(*) AS n_orders,
         |             ${sqlDsum("o_totalprice")} AS spend
         |      FROM orders GROUP BY o_custkey)
         |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name, n_orders, spend
         |FROM c FULL JOIN o ON c_custkey = o_custkey
         |ORDER BY custkey""".stripMargin,
    "r_window_dist" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,
    "r_pivot" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "r_topk_perkey" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "r_supplier_rank" ->
      """SELECT n_name, rn, s_suppkey, s_name, s_acctbal FROM (
        |  SELECT n_name, s_suppkey, s_name, s_acctbal,
        |         CAST(row_number() OVER (PARTITION BY n_name
        |                ORDER BY s_acctbal DESC, s_suppkey ASC) AS INT) AS rn
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |WHERE rn <= 3 ORDER BY n_name, rn""".stripMargin,
    "r_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       ${sqlDsum("l_quantity")} AS sum_qty,
         |       ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |       ${sqlDavg("l_quantity")} AS avg_qty,
         |       COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "r_join_broadcast" ->
      s"""SELECT r_name, COUNT(*) AS n_customers,
         |       ${sqlDsum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "r_join_factfact" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "r_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "r_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "r_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "r_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4)))
        |            OVER (PARTITION BY l_suppkey
        |                  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "r_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(date_diff('day',
        |         lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate ASC, o_orderkey ASC),
        |         o_orderdate) AS INT) AS gap_days
        |FROM orders WHERE o_custkey < 40
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "r_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "r_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 25
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin,
    "r_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "r_set_except" ->
      """SELECT p_partkey FROM part
        |EXCEPT
        |SELECT l_partkey AS p_partkey FROM lineitem
        |ORDER BY p_partkey""".stripMargin,
    "r_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "r_rollup" ->
      s"""SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
         |       ${sqlDsum("c_acctbal")} AS sum_acctbal,
         |       CAST(GROUPING(n_name) AS INT) AS g_nation,
         |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, c_mktsegment)
         |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "r_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "r_grouping_sets" ->
      s"""SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
         |       ${sqlDsum("c_acctbal")} AS sum_acctbal,
         |       CAST(GROUPING(n_name) AS INT) AS g_nation,
         |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
         |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "r_unpivot" ->
      s"""WITH w AS (
         |  SELECT l_returnflag,
         |         ${sqlDsum("l_quantity")} AS sum_qty,
         |         ${sqlDsum("l_extendedprice")} AS sum_price,
         |         ${sqlDsum("l_discount")} AS sum_disc
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, measure, value
         |FROM (UNPIVOT w ON sum_qty, sum_price, sum_disc INTO NAME measure VALUE value)
         |ORDER BY l_returnflag, measure""".stripMargin,
    "r_scd2" ->
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from, o_totalprice,
        |       lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |       CAST(lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey) IS NULL AS INT) AS is_current
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    "r_median" ->
      """SELECT l_returnflag,
        |       median(l_quantity) AS med_qty,
        |       quantile_cont(l_quantity, 0.25) AS p25_qty,
        |       quantile_cont(l_quantity, 0.75) AS p75_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "r_date_kernel" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(month(o_orderdate) AS INT) AS o_month,
        |       CAST(day(o_orderdate) AS INT) AS o_day,
        |       date_trunc('month', o_orderdate) AS month_start
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "r_math_kernel" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(floor(l_extendedprice) AS DOUBLE) AS price_floor,
        |       CAST(ceil(l_discount * 100) AS DOUBLE) AS disc_pct_ceil,
        |       abs(l_quantity - 25.0) AS qty_dev,
        |       sqrt(l_extendedprice) AS price_sqrt,
        |       CAST(l_orderkey % 7 AS BIGINT) AS key_mod
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "r_case_when" ->
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
        |            WHEN o_totalprice >= 100000 THEN 'medium'
        |            ELSE 'small' END AS size_class,
        |       COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY size_class""".stripMargin,
    "r_above_nation_avg" ->
      s"""SELECT c_custkey, c_nationkey, c_acctbal
         |FROM customer JOIN (
         |  SELECT c_nationkey AS nk, ${sqlDavg("c_acctbal")} AS nation_avg
         |  FROM customer GROUP BY c_nationkey) ON c_nationkey = nk
         |WHERE c_acctbal > nation_avg
         |ORDER BY c_custkey""".stripMargin,
  )
}
