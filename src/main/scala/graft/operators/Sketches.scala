package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch/approximate aggregates — the operators a 100 TB profile pass
  * actually runs (exact distinct counts and percentiles over full data
  * need a full shuffle of every key; sketches are one pass, mergeable,
  * constant memory).
  *
  * Raw sketch outputs are implementation-defined, so the QUERY surface
  * exposes what IS cross-engine checkable: exact companions (counts,
  * group sizes) plus integer flags asserting each sketch's accuracy
  * contract, verified in-engine with exact integer arithmetic. The
  * DuckDB oracle reproduces the exact columns and literal-1 flags, so
  * every query here is hash-checked; the specs additionally assert the
  * raw approximation error on the `*Raw` views.
  */
object Sketches {

  /** HyperLogLog++ distinct order keys per return flag, with the exact
    * answer alongside — the spec's raw view (engine-specific sketch
    * value, so not oracle-comparable itself). */
  private[operators] def approxDistinctRaw(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .orderBy("l_returnflag")

  /** The gate's TRUTH side staged build-once per corpus fingerprint:
    * exact distinct order keys per flag is a pure corpus function (the
    * anntruth discipline — the exact-top-k table the ANN recall gates
    * grade against is staged the same way), and the exact leg was the
    * query's whole cost (a full two-phase distinct shuffle per run,
    * ~2.5 s of board to re-derive an answer that never changes between
    * corpus regenerations). The SKETCH leg — the operator under test —
    * stays live. */
  def ensureDistinctTruthStaged(s: SparkSession, d: String): String = {
    val dir = graft.Staging.dir("distinct_truth_v1", d)
    graft.Staging.ensure(dir, Seq(s"$d/lineitem.parquet")) {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
        .write.mode("overwrite").parquet(dir + "/truth")
    }: Unit
    dir + "/truth"
  }

  /** HLL++ distinct counts, ORACLE-CHECKED: the raw sketch value is
    * engine-specific, but its accuracy CONTRACT is not — the output
    * carries the exact count (DuckDB-reproducible, staged truth — see
    * [[ensureDistinctTruthStaged]]) and an integer flag asserting
    * |approx − exact| ≤ 10% of exact (5× the configured rsd — a
    * deterministic pass at rsd 0.02 [p(>5σ) ≈ 0] while still failing
    * loudly on a broken sketch). The oracle emits the same exact counts
    * and a literal 1, so the driver hash-verifies both the exact side
    * and the sketch's bound — no more rows-only entry. All-integer
    * arithmetic; nothing FP crosses engines. */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    val truth = Tables.parquet(s, ensureDistinctTruthStaged(s, d))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"))
      .join(broadcast(truth), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) * 10
          <= col("exact_orders")).cast("int").as("within_10pct"))
      .orderBy("l_returnflag")
  }

  private val Pcts = Seq(0.5, 0.95, 0.99)
  private val PctsBp = Seq(5000, 9500, 9900) // basis points, integer-exact
  private val PctAccuracy = 10000

  /** Approximate p50/p95/p99 of order totals per priority with the exact
    * interpolated percentile alongside — the spec's raw view. */
  private[operators] def approxQuantilesRaw(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile_approx(col("o_totalprice"),
          array(Pcts.map(lit): _*), lit(PctAccuracy)).as("approx_pcts"),
        expr(s"percentile(o_totalprice, array(${Pcts.mkString(", ")}))").as("exact_pcts"))
      .select(col("o_orderpriority"),
        posexplode(arrays_zip(col("approx_pcts"), col("exact_pcts"))).as(Seq("i", "z")))
      .select(
        col("o_orderpriority"),
        element_at(array(Pcts.map(lit): _*), col("i") + 1).as("pct"),
        col("z.approx_pcts").as("approx"),
        col("z.exact_pcts").as("exact"))
      .orderBy("o_orderpriority", "pct")

  /** Approximate percentiles, ORACLE-CHECKED via the sketch's own
    * guarantee: `percentile_approx(acc)` promises a returned element
    * whose RANK is within n/acc of the target p·n. The query verifies
    * that promise in-engine — each approx value is joined back to its
    * group (15 broadcast rows against the fact; the count is map-side
    * combined) to get its true rank interval [cnt_lt+1, cnt_le], and an
    * integer flag asserts the interval intersects
    * [p·n − B, p·n + B] with B = 2n/acc + 2 (2× the theoretical bound).
    * Everything is scaled to basis points so the comparison is exact
    * 64-bit integer arithmetic; the oracle reproduces the group sizes
    * and emits literal 1 flags. The engine-specific approx VALUE never
    * crosses engines, its rank contract does. */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderpriority"), col("o_totalprice"))
    val per = base.groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"),
          array(Pcts.map(lit): _*), lit(PctAccuracy)).as("ap"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"), col("n"),
        posexplode(col("ap")).as(Seq("i", "approx")))
      .select(col("o_orderpriority"), col("n"),
        element_at(array(PctsBp.map(lit): _*), col("i") + 1).as("pct_bp"),
        col("approx"))
    val slack = col("n") * 2 + lit(2L * PctAccuracy) // B · acc, integer
    base.join(broadcast(per), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("pct_bp"), col("n"))
      .agg(
        sum(when(col("o_totalprice") <= col("approx"), 1L).otherwise(0L)).as("cnt_le"),
        sum(when(col("o_totalprice") < col("approx"), 1L).otherwise(0L)).as("cnt_lt"))
      .select(col("o_orderpriority"), col("pct_bp"), col("n"),
        ((col("cnt_le") * PctAccuracy >= col("pct_bp") * col("n") - slack) &&
          ((col("cnt_lt") + 1) * PctAccuracy <= col("pct_bp") * col("n") + slack))
          .cast("int").as("within_rank_bound"))
      .orderBy("o_orderpriority", "pct_bp")
  }

  private val KmvK = 32

  /** KMV distinct sketch per event_type — the ORACLE-CHECKABLE sketch:
    * unlike HLL++ (above, rows-only), the KMV state is a deterministic
    * function of the value set (the k smallest portable md5-derived
    * hashes — [[graft.functions.KmvHashes]], the engine's custom
    * TypedImperativeAggregate), so the driver hash-compares the sketch
    * CONTENTS row-for-row against a windowed-SQL recompute, estimate
    * included. Groups with fewer than k distinct values report their
    * exact size — the sketch degrades to exact, as KMV should.
    *
    * Scale shape: O(k) mergeable buffers, map-side combined; output is
    * O(types × k) rows. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr(s"kmv_hashes(cast(user_id as string), $KmvK)").as("hs"))
      .select(col("event_type"),
        when(size(col("hs")) < lit(KmvK), size(col("hs")).cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * 4294967296.0)
            / element_at(col("hs"), size(col("hs"))).cast("double"))
          .as("est_distinct"),
        posexplode(col("hs")).as(Seq("rank", "h")))
      .select(col("event_type"), col("rank"), col("h"), col("est_distinct"))
      .orderBy("event_type", "rank")

  private val BkK = 64

  /** Weighted bottom-k QUANTILE sketch per order priority — the engine's
    * second fully ORACLE-CHECKED sketch ([[graft.functions.BottomKCounts]],
    * the quantile sibling of [[kmvDistinct]]): the k smallest-hashed
    * distinct price points (cents — floor(double·100), identical IEEE in
    * both engines) with exact occurrence counts. The median estimate is
    * a pure integer function of the sketch contents — the smallest
    * sampled value whose value-ordered running count reaches half the
    * sampled mass — so contents, ranks, AND estimate all hash-match a
    * windowed-SQL recompute. Groups with ≤ k distinct values degrade to
    * an exact weighted median, as the sketch should.
    *
    * Scale shape: O(k) mergeable buffers, map-side combined; the
    * estimate is an O(groups × k) overlay, never a corpus pass. */
  def bottomkQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        floor(col("o_totalprice").cast("double") * 100).cast("long").as("cents"))
      .groupBy(col("o_orderpriority"))
      .agg(expr(s"bottomk_counts(cents, $BkK)").as("sk"))
    val wTot = Window.partitionBy("o_orderpriority")
    val wVal = Window.partitionBy("o_orderpriority").orderBy(col("v_cents"))
    sk.select(col("o_orderpriority"), posexplode(col("sk")).as(Seq("rank", "e")))
      .select(col("o_orderpriority"), col("rank"),
        col("e.h").as("h"), col("e.v").as("v_cents"), col("e.cnt").as("cnt"))
      .withColumn("tot", sum("cnt").over(wTot))
      .withColumn("run", sum("cnt").over(wVal))
      .withColumn("est_p50_cents",
        min(when(col("run") * 2 >= col("tot"), col("v_cents"))).over(wTot))
      .select(col("o_orderpriority"), col("rank"), col("h"), col("v_cents"),
        col("cnt"), col("est_p50_cents"))
      .orderBy("o_orderpriority", "rank")
  }

  private val JcK = 128
  private val Two32 = 4294967296L

  /** `k_join_cardinality` — JOIN-SIZE ESTIMATION FROM SKETCHES, the
    * planner-statistics consumer of [[graft.functions.BottomKCounts]]:
    * |A ⋈ B| = Σ_key cntA·cntB estimated WITHOUT running the join, from
    * one bottom-k sketch per side (theta-sketch style). θ = the smaller
    * side's k-th hash (2³² when a sketch holds its whole key set — the
    * estimate then degrades to EXACT, as it should); matched sampled keys
    * below θ contribute their exact count products, scaled by the sampled
    * hash-space fraction in pure integer arithmetic
    * (`sum·2³² div θ` — headroom to Σproducts ≈ 2³¹, plenty for any
    * per-key-count sum a sane key column produces). The exact join count
    * rides along as the honest comparison baseline and feeds an integer
    * within-2× verdict; every column is an exact integer, so the whole
    * row — estimate, baseline, verdict — hash-checks.
    *
    * Scale shape: each sketch is one map-side-combined pass over its own
    * table (O(k) state); the estimate is an O(k) overlay — the join
    * itself never runs for the estimate, which is the point. */
  def joinCardinality(s: SparkSession, d: String): DataFrame = {
    def sketch(df: DataFrame, key: String): DataFrame =
      df.select(col(key).cast("long").as("v"))
        .agg(expr(s"bottomk_counts(v, $JcK)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.h").as("h"), col("e.v").as("v"), col("e.cnt").as("cnt"))
    def theta(sk: DataFrame, name: String): DataFrame =
      sk.agg(count(lit(1)).as("n"), max(col("h")).as("mh"))
        .select(when(col("n") < JcK, lit(Two32)).otherwise(col("mh")).as(name))
    val a = sketch(Tables.orders(s, d), "o_custkey")
    val b = sketch(Tables.customer(s, d), "c_custkey").withColumnRenamed("cnt", "cnt_b")
    val th = theta(a, "th_a").crossJoin(theta(b, "th_b"))
      .select(least(col("th_a"), col("th_b")).as("theta"))
    val agg = a.join(b, Seq("h", "v"))
      .crossJoin(th)
      .filter(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_common_sampled"),
        coalesce(sum(col("cnt") * col("cnt_b")), lit(0L)).as("sum_products"))
    val exact = Tables.orders(s, d).select(col("o_custkey"))
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_rows"))
    agg.crossJoin(th).crossJoin(exact)
      .select(col("n_common_sampled"), col("sum_products"), col("theta"),
        expr(s"sum_products * ${Two32}L div theta").as("est_rows"), col("exact_rows"))
      .withColumn("within_2x",
        (col("est_rows") * 2 >= col("exact_rows") &&
          col("est_rows") <= col("exact_rows") * 2).cast("int"))
  }

  /** `k_sketch_planned_join` — THE ENGINE'S OWN SKETCH DRIVES A PLAN
    * DECISION, closing the estimate→plan loop [[joinCardinality]] left
    * open: ANALYZE row counts cannot see POST-FILTER cardinality (the
    * single most common CBO blind spot — `WHERE` selectivity), but a
    * staged bottom-k sketch of the filter column can estimate ANY
    * predicate's surviving row count in O(k): apply the predicate to the
    * sampled values, sum their exact counts, scale by the sampled
    * hash-space fraction. Two regimes run the same orders⋈customer join
    * under a scoped `autoBroadcastJoinThreshold=-1` (so the DEFAULT plan
    * is always a shuffle join and only the sketch can add broadcast): a
    * ~1% filter whose estimate falls under the 10%-of-dimension rule →
    * the engine broadcasts (REQUIREd: BroadcastHashJoin, no
    * SortMergeJoin), and a ~99% filter whose estimate exceeds it → the
    * engine shuffles (REQUIREd: the reverse). The sketch estimate, the
    * decision, and the join answers are all integer/exact and the oracle
    * recomputes ALL of them — estimate included, via the portable
    * md5-derived hash order — so a mis-estimating sketch or a flipped
    * decision hash-fails, not just a wrong join result.
    *
    * Scale shape: the sketch is one map-side-combined profile pass (in a
    * real deployment staged with the table, like ANALYZE); each planning
    * decision is an O(k) driver computation — the k-row collect is
    * planner statistics, never data. */
  def sketchPlannedJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val sk = cust.select(col("c_custkey").cast("long").as("v"))
      .agg(expr(s"bottomk_counts(v, $JcK)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.h"), col("e.v"), col("e.cnt"))
      .collect() // ≤ k rows — planner statistics, never data
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val theta = if (sk.length < JcK) Two32 else sk.map(_._1).max
    val total = cust.count()
    def estimate(p: Long => Boolean): Long = {
      val sampled = sk.iterator
        .filter { case (h, v, _) => h < theta && p(v) }.map(_._3).sum
      sampled * Two32 / theta
    }
    val orders = Tables.orders(s, d)
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s.conf.get(bKey)
    def regime(label: String, pred: org.apache.spark.sql.Column,
        predFn: Long => Boolean): (String, String, Long, Long, Long, Double) = {
      val est = estimate(predFn)
      // the decision rule: broadcast a side estimated ≤ 10% of the dim
      val useBroadcast = est * 10L <= total
      val filtered = cust.filter(pred).select(col("c_custkey"))
      s.conf.set(bKey, "-1") // default = shuffle; ONLY the sketch adds broadcast
      val (row, plan) = try {
        val side = if (useBroadcast) broadcast(filtered) else filtered
        val j = orders.join(side, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            graft.QueryDsl.dsum(col("o_totalprice")).as("total_price"))
        (j.collect().head, j.queryExecution.executedPlan.toString)
      } finally s.conf.set(bKey, prev)
      val (expect, forbid) = if (useBroadcast) ("BroadcastHashJoin", "SortMergeJoin")
        else ("SortMergeJoin", "BroadcastHashJoin")
      require(plan.contains(expect) && !plan.contains(forbid),
        s"regime $label: sketch est $est of $total chose ${if (useBroadcast) "broadcast"
          else "shuffle"} but the executed plan disagrees:\n$plan")
      (label, if (useBroadcast) "broadcast" else "shuffle", est,
        filtered.count(), row.getLong(0), row.getDouble(1))
    }
    val narrow = regime("narrow_filter", col("c_custkey") % 97 === 0, _ % 97 == 0)
    val wide = regime("wide_filter", col("c_custkey") % 97 =!= 0, _ % 97 != 0)
    import s.implicits._
    Seq(narrow, wide)
      .toDF("regime", "strategy", "est_rows", "exact_rows", "n_orders", "total_price")
      .orderBy("regime")
  }

  private val SoK = 64
  private[operators] def SoKForSpec: Int = SoK

  /** `k_kmv_setops` — THETA-SKETCH SET OPERATIONS from KMV sketches:
    * the profile question sketches exist for at 100 TB is rarely "how
    * many distinct" alone but "how much do these two sets OVERLAP"
    * (shared users across products, shared keys across snapshots,
    * vocabulary shared by two corpora) — answered here WITHOUT ever
    * joining the underlying sets: each side is one O(k) KMV sketch
    * ([[graft.functions.KmvHashes]]), θ = min of the two k-th hashes,
    * and union / intersection / A∖B / Jaccard all come from set algebra
    * on the ≤ 2k sampled hashes below θ, scaled by the sampled
    * hash-space fraction in pure integer arithmetic (the
    * [[joinCardinality]] `·2³² div θ` discipline — degrades to EXACT
    * when both sets fit their sketches). Sides: order keys under two
    * overlapping predicates (urgent priority vs finished status). The
    * exact answers ride along as honest baselines with within-2×
    * verdicts; every column is a deterministic integer, so sketch
    * contents, estimates, baselines, and verdicts all hash-check.
    *
    * Scale shape: one map-side-combined sketch pass per side (O(k)
    * buffers); ALL set estimates are O(k) array algebra on two 1-row
    * frames — the exact baselines are the only corpus-sized work, and
    * they exist only to grade the estimates. */
  def kmvSetOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val predA = col("o_orderpriority") === "1-URGENT"
    val predB = col("o_orderstatus") === "F"
    def sketch(pred: org.apache.spark.sql.Column, name: String): DataFrame =
      o.filter(pred).select(col("o_orderkey").cast("string").as("v"))
        .agg(expr(s"kmv_hashes(v, $SoK)").as(name))
    def theta(hs: String): org.apache.spark.sql.Column =
      when(size(col(hs)) < SoK, lit(Two32))
        .otherwise(element_at(col(hs), size(col(hs))))
    val exact = o.agg(
      countDistinct(when(predA, col("o_orderkey"))).as("exact_a"),
      countDistinct(when(predB, col("o_orderkey"))).as("exact_b"),
      countDistinct(when(predA && predB, col("o_orderkey"))).as("exact_inter"),
      countDistinct(when(predA || predB, col("o_orderkey"))).as("exact_union"))
    sketch(predA, "ha").crossJoin(sketch(predB, "hb")).crossJoin(exact)
      .withColumn("theta", least(theta("ha"), theta("hb")))
      .withColumn("ua", filter(col("ha"), h => h < col("theta")))
      .withColumn("ub", filter(col("hb"), h => h < col("theta")))
      .withColumn("n_union", size(array_distinct(concat(col("ua"), col("ub")))).cast("long"))
      .withColumn("n_inter", size(array_intersect(col("ua"), col("ub"))).cast("long"))
      .withColumn("n_aonly", size(array_except(col("ua"), col("ub"))).cast("long"))
      .select(col("theta"),
        col("n_union"), col("n_inter"), col("n_aonly"),
        expr(s"n_union * ${Two32}L div theta").as("est_union"),
        expr(s"n_inter * ${Two32}L div theta").as("est_inter"),
        expr(s"n_aonly * ${Two32}L div theta").as("est_a_only"),
        when(col("n_union") > 0, expr("n_inter * 1000L div n_union"))
          .otherwise(lit(0L)).as("jaccard_milli"),
        col("exact_a"), col("exact_b"), col("exact_inter"), col("exact_union"))
      .withColumn("union_within_2x",
        (col("est_union") * 2 >= col("exact_union") &&
          col("est_union") <= col("exact_union") * 2).cast("int"))
      .withColumn("inter_within_2x",
        (col("est_inter") * 2 >= col("exact_inter") &&
          col("est_inter") <= col("exact_inter") * 2).cast("int"))
  }

  private val SampleMod = 20 // 5% deterministic row sample

  /** `k_sample_agg` — SAMPLE-BASED APPROXIMATE GROUP BY (the
    * BlinkDB/approximate-dashboard shape): a 5% row sample answers the
    * group-by at 1/20th the scan-and-shuffle cost, scaled back up by the
    * sampling fraction, with the exact answer alongside and a within-10%
    * verdict per group. Two deliberate choices keep every row
    * hash-checked: the sample is DETERMINISTIC (md5 of the row key mod
    * [[SampleMod]] — the `t_stratified_sample` discipline, no rand()),
    * and the scaled estimate is integer arithmetic (`cnt · 20`,
    * `sum·20` on exact decimal cents). This is the third accuracy-
    * contract family next to the sketch bounds and the recall harness:
    * a sampling dashboard ships WITH its error audit, or it ships
    * wrong numbers silently.
    *
    * Scale shape: the sampled branch filters BEFORE its map-side
    * combine, so the shuffle carries ~5% of the groups' partials; the
    * exact branch exists only to grade the estimate (a production
    * deployment drops it — that's the point). */
  def sampleAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val keyHash = conv(substring(md5(col("l_orderkey").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val sampled = li.filter(pmod(keyHash, lit(SampleMod)) === 0)
      .groupBy(col("l_returnflag"))
      .agg((count(lit(1)) * SampleMod).as("est_lines"),
        (sum(floor(col("l_extendedprice").cast("double") * 100).cast("long"))
          * SampleMod).as("est_cents"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_lines"),
        sum(floor(col("l_extendedprice").cast("double") * 100).cast("long"))
          .as("exact_cents"))
    exact.join(sampled, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("exact_lines"), col("exact_cents"),
        coalesce(col("est_lines"), lit(0L)).as("est_lines"),
        coalesce(col("est_cents"), lit(0L)).as("est_cents"))
      .withColumn("lines_within_10pct",
        (abs(col("est_lines") - col("exact_lines")) * 10 <= col("exact_lines"))
          .cast("int"))
      .withColumn("cents_within_10pct",
        (abs(col("est_cents") - col("exact_cents")) * 10 <= col("exact_cents"))
          .cast("int"))
      .orderBy("l_returnflag")
  }

  private val BloomBits = 1024

  /** `k_portable_bloom_join` — ENGINE-OWNED Bloom semi-join reduction,
    * the deterministic twin of `k_bloom_join` (Layout.scala), which
    * exercises Catalyst's own `runtime.bloomFilter` injection: that
    * filter's contents are engine-internal (xxhash64 bits — only its
    * EFFECT is checkable, and the optimizer declines injection whenever
    * its cost model says broadcast), whereas THIS bloom the engine builds
    * itself from the same portable `conv(substring(md5 …))` integers the
    * MinHash / hash-split family uses — so the ORACLE REBUILDS THE FILTER
    * ITSELF (bit p set ⟺ p ∈ the dim's position set — an m-bit bitmap is
    * exactly that set), recomputes which fact rows pass, and prices the
    * false-positive budget as a hash-checked column. A bloom that dropped
    * a true match (the one thing a Bloom filter must never do) hash-fails
    * against the plain join's row count. A portable filter is also the
    * shippable one: the same m-bit bitmap can ride into a DSv2 pushdown,
    * a file-skipping sidecar, or a different engine entirely. REQUIREs
    * the reduction actually happened (passed < total/4). The build's
    * driver sync is the bitmap itself — O(m bits), planner-statistics
    * class, never data.
    *
    * Scale shape: one pass over the dim to O(m) positions, one broadcast
    * of 16 longs, one narrow fact filter (bit tests codegen via
    * `bit_get`), then the shuffle join runs over the reduced fact. */
  def portableBloomJoin(s: SparkSession, d: String): DataFrame = {
    def bpos(c: org.apache.spark.sql.Column, off: Int) =
      pmod(conv(substring(md5(c.cast("string").cast("binary")), off, 8), 16, 10)
        .cast("long"), lit(BloomBits))
    val dim = Tables.customer(s, d)
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("long").as("ck"))
    // the bitmap build runs DISTRIBUTED through the engine's own
    // declarative bitmap-OR aggregate ([[graft.functions.BitmapAgg]]):
    // each position sets a bit in a fixed-width UnsafeRow buffer,
    // partials OR map-side, and the one-row sync IS the finished filter
    // (16 longs) — no position set ever materializes anywhere
    val words = dim
      .select(explode(array(bpos(col("ck"), 1), bpos(col("ck"), 9))).as("p"))
      .agg(expr(s"bitmap_agg(p, $BloomBits)").as("bw"))
      .head().getSeq[Long](0).toArray
    val bloomDf = s.range(1).select(array(words.map(lit(_)).toIndexedSeq: _*).as("bw"))
    val fact = Tables.orders(s, d)
      .select(col("o_custkey").cast("long").as("ok"), col("o_totalprice"))
      .withColumn("h1", bpos(col("ok"), 1))
      .withColumn("h2", bpos(col("ok"), 9))
    val probed = fact.crossJoin(broadcast(bloomDf))
      .withColumn("pass",
        expr("bit_get(element_at(bw, cast(h1 div 64 as int) + 1), cast(h1 % 64 as int)) = 1 AND " +
             "bit_get(element_at(bw, cast(h2 div 64 as int) + 1), cast(h2 % 64 as int)) = 1"))
    val nFact = fact.count()
    val passed = probed.filter(col("pass")).select(col("ok"), col("o_totalprice"))
    val nPass = passed.count()
    require(nPass * 4 < nFact,
      s"bloom reduced $nFact fact rows only to $nPass — filter ineffective")
    // the join itself runs over the REDUCED fact (merge-hinted: at scale
    // the dim's parent table may not be broadcastable even if selective)
    val joined = passed.hint("merge").join(dim, col("ok") === col("ck"))
    import s.implicits._
    joined.agg(count(lit(1)).as("n_join_rows"),
        graft.QueryDsl.dsum(col("o_totalprice")).as("revenue"))
      .crossJoin(Seq((nFact, nPass)).toDF("n_fact", "n_pass_bloom"))
      .select(col("n_fact"), col("n_pass_bloom"), col("n_join_rows"),
        (col("n_pass_bloom") - col("n_join_rows")).as("n_false_pos"),
        col("revenue"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_approx_distinct" -> (approxDistinct _),
    "k_approx_quantiles" -> (approxQuantiles _),
    "k_kmv_distinct" -> (kmvDistinct _),
    "k_bottomk_quantiles" -> (bottomkQuantiles _),
    "k_join_cardinality" -> (joinCardinality _),
    "k_sketch_planned_join" -> (sketchPlannedJoin _),
    "k_portable_bloom_join" -> (portableBloomJoin _),
    "k_kmv_setops" -> (kmvSetOps _),
    "k_sample_agg" -> (sampleAgg _),
  )

  val oracle: Map[String, String] = Map(
    "k_approx_distinct" ->
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |       1 AS within_10pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "k_approx_quantiles" ->
      """WITH n AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM orders GROUP BY 1)
        |SELECT o_orderpriority, p.pct_bp, n, 1 AS within_rank_bound
        |FROM n, (SELECT unnest([5000, 9500, 9900]) AS pct_bp) p
        |ORDER BY o_orderpriority, pct_bp""".stripMargin,
    "k_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |             ${graft.QueryDsl.sqlHex8("md5(CAST(user_id AS VARCHAR))", 1)} AS h
         |           FROM events),
         |r AS (SELECT event_type, h,
         |             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM h),
         |f AS (SELECT event_type, h, rn FROM r WHERE rn <= $KmvK)
         |SELECT event_type, CAST(rn - 1 AS INT) AS rank, h,
         |       CASE WHEN MAX(rn) OVER (PARTITION BY event_type) < $KmvK
         |            THEN CAST(MAX(rn) OVER (PARTITION BY event_type) AS DOUBLE)
         |            ELSE ${(KmvK - 1).toDouble} * 4294967296.0
         |                 / CAST(MAX(h) OVER (PARTITION BY event_type) AS DOUBLE)
         |       END AS est_distinct
         |FROM f
         |ORDER BY event_type, rank""".stripMargin,
    // the sketch contents rebuilt value-for-value: distinct cents with
    // exact counts, ranked by (portable hash, value), k kept; the median
    // estimate is the same integer prefix-sum over the kept sample
    "k_bottomk_quantiles" ->
      s"""WITH vals AS (
         |  SELECT o_orderpriority, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1, 2),
         |h AS (SELECT *, ${graft.QueryDsl.sqlHex8("md5(CAST(v AS VARCHAR))", 1)} AS h
         |      FROM vals),
         |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
         |                  ORDER BY h, v) AS rn
         |      FROM h),
         |f AS (SELECT * FROM r WHERE rn <= $BkK),
         |agg AS (SELECT *,
         |          SUM(cnt) OVER (PARTITION BY o_orderpriority) AS tot,
         |          SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY v) AS run
         |        FROM f),
         |est AS (SELECT o_orderpriority,
         |          MIN(CASE WHEN run * 2 >= tot THEN v END) AS est_p50
         |        FROM agg GROUP BY 1)
         |SELECT f.o_orderpriority, CAST(f.rn - 1 AS INT) AS rank, f.h,
         |       f.v AS v_cents, f.cnt, est.est_p50 AS est_p50_cents
         |FROM f JOIN est USING (o_orderpriority)
         |ORDER BY o_orderpriority, rank""".stripMargin,
    // both side sketches, theta, the matched-sample product sum, the
    // integer scale-up, and the exact baseline rebuilt verbatim
    "k_join_cardinality" -> {
      def side(name: String, table: String, key: String): String =
        s"""${name}v AS (SELECT $key AS v, CAST(COUNT(*) AS BIGINT) AS cnt
           |       FROM $table GROUP BY 1),
           |${name}h AS (SELECT *, ${graft.QueryDsl.sqlHex8("md5(CAST(v AS VARCHAR))", 1)} AS h
           |       FROM ${name}v),
           |${name}f AS (SELECT * FROM (
           |         SELECT *, row_number() OVER (ORDER BY h, v) AS rn FROM ${name}h)
           |       WHERE rn <= $JcK),
           |${name}th AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ${name}v) < $JcK
           |                     THEN $Two32 ELSE (SELECT MAX(h) FROM ${name}f) END AS th)""".stripMargin
      s"""WITH ${side("a", "orders", "o_custkey")},
         |${side("b", "customer", "c_custkey")},
         |th AS (SELECT LEAST(ath.th, bth.th) AS theta FROM ath, bth),
         |m AS (SELECT af.h, af.cnt AS ca, bf.cnt AS cb
         |      FROM af JOIN bf ON af.h = bf.h AND af.v = bf.v),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common_sampled,
         |               CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS sum_products
         |        FROM m, th WHERE m.h < th.theta),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
         |       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
         |SELECT agg.n_common_sampled, agg.sum_products,
         |       CAST(th.theta AS BIGINT) AS theta,
         |       CAST(agg.sum_products * $Two32 // th.theta AS BIGINT) AS est_rows,
         |       ex.exact_rows,
         |       CAST(CASE WHEN agg.sum_products * $Two32 // th.theta * 2 >= ex.exact_rows
         |                  AND agg.sum_products * $Two32 // th.theta <= ex.exact_rows * 2
         |                 THEN 1 ELSE 0 END AS INT) AS within_2x
         |FROM agg, th, ex""".stripMargin
    },
    // the sketch, the per-predicate estimate, the 10%-of-dimension
    // decision rule, and the join answers all rebuilt verbatim — a
    // flipped plan decision hash-fails here
    "k_sketch_planned_join" ->
      s"""WITH cv AS (SELECT c_custkey AS v, CAST(COUNT(*) AS BIGINT) AS cnt
         |            FROM customer GROUP BY 1),
         |ch AS (SELECT *, ${graft.QueryDsl.sqlHex8("md5(CAST(v AS VARCHAR))", 1)} AS h
         |       FROM cv),
         |cf AS (SELECT * FROM (
         |         SELECT *, row_number() OVER (ORDER BY h, v) AS rn FROM ch)
         |       WHERE rn <= $JcK),
         |th AS (SELECT CASE WHEN (SELECT COUNT(*) FROM cv) < $JcK
         |              THEN $Two32 ELSE (SELECT MAX(h) FROM cf) END AS theta),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM customer),
         |regimes AS (SELECT * FROM (VALUES ('narrow_filter', 0), ('wide_filter', 1))
         |            AS t(regime, wide)),
         |est AS (SELECT r.regime, r.wide,
         |          CAST(COALESCE((SELECT SUM(cf.cnt) FROM cf, th
         |                         WHERE cf.h < th.theta
         |                           AND (CASE WHEN r.wide = 0 THEN cf.v % 97 = 0
         |                                     ELSE cf.v % 97 <> 0 END)), 0)
         |            * $Two32 // (SELECT theta FROM th) AS BIGINT) AS est_rows
         |        FROM regimes r)
         |SELECT e.regime,
         |       CASE WHEN e.est_rows * 10 <= t.total
         |            THEN 'broadcast' ELSE 'shuffle' END AS strategy,
         |       e.est_rows,
         |       CAST((SELECT COUNT(*) FROM customer
         |             WHERE CASE WHEN e.wide = 0 THEN c_custkey % 97 = 0
         |                        ELSE c_custkey % 97 <> 0 END) AS BIGINT) AS exact_rows,
         |       CAST((SELECT COUNT(*) FROM orders o JOIN customer c
         |               ON o.o_custkey = c.c_custkey
         |             WHERE CASE WHEN e.wide = 0 THEN c.c_custkey % 97 = 0
         |                        ELSE c.c_custkey % 97 <> 0 END) AS BIGINT) AS n_orders,
         |       (SELECT ${graft.QueryDsl.sqlDsum("o.o_totalprice")}
         |        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |        WHERE CASE WHEN e.wide = 0 THEN c.c_custkey % 97 = 0
         |                   ELSE c.c_custkey % 97 <> 0 END) AS total_price
         |FROM est e, tot t
         |ORDER BY regime""".stripMargin,
    // the deterministic sample, the integer scale-up, the exact
    // baselines, and the verdicts all rebuilt — a drifting sample or a
    // broken scale factor hash-fails, not just a bad estimate
    "k_sample_agg" ->
      s"""WITH sm AS (
         |  SELECT l_returnflag,
         |         CAST(COUNT(*) * $SampleMod AS BIGINT) AS est_lines,
         |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
         |              * $SampleMod AS BIGINT) AS est_cents
         |  FROM lineitem
         |  WHERE ${graft.QueryDsl.sqlHex8("md5(CAST(l_orderkey AS VARCHAR))", 1)} % $SampleMod = 0
         |  GROUP BY 1),
         |ex AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS exact_lines,
         |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS exact_cents
         |  FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, ex.exact_lines, ex.exact_cents,
         |       COALESCE(sm.est_lines, 0) AS est_lines,
         |       COALESCE(sm.est_cents, 0) AS est_cents,
         |       CAST(CASE WHEN abs(COALESCE(sm.est_lines, 0) - ex.exact_lines) * 10
         |                      <= ex.exact_lines THEN 1 ELSE 0 END AS INT) AS lines_within_10pct,
         |       CAST(CASE WHEN abs(COALESCE(sm.est_cents, 0) - ex.exact_cents) * 10
         |                      <= ex.exact_cents THEN 1 ELSE 0 END AS INT) AS cents_within_10pct
         |FROM ex LEFT JOIN sm USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,
    // both side sketches rebuilt hash-for-hash (ranked portable md5),
    // θ, the below-θ set algebra, the integer scale-ups, the exact
    // baselines, and the verdicts — the whole sketch-set-ops pipeline
    "k_kmv_setops" -> {
      def side(n: String, pred: String): String =
        s"""${n}v AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS v
           |       FROM orders WHERE $pred),
           |${n}h AS (SELECT ${graft.QueryDsl.sqlHex8("md5(v)", 1)} AS h FROM ${n}v),
           |${n}f AS (SELECT h FROM (
           |         SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ${n}h)
           |       WHERE rn <= $SoK),
           |${n}th AS (SELECT CASE WHEN (SELECT COUNT(*) FROM ${n}h) < $SoK
           |                  THEN $Two32 ELSE (SELECT MAX(h) FROM ${n}f) END AS th)""".stripMargin
      s"""WITH ${side("a", "o_orderpriority = '1-URGENT'")},
         |${side("b", "o_orderstatus = 'F'")},
         |th AS (SELECT LEAST(ath.th, bth.th) AS theta FROM ath, bth),
         |ua AS (SELECT h FROM af, th WHERE h < theta),
         |ub AS (SELECT h FROM bf, th WHERE h < theta),
         |cnt AS (SELECT
         |    (SELECT CAST(COUNT(DISTINCT h) AS BIGINT)
         |     FROM (SELECT h FROM ua UNION ALL SELECT h FROM ub) z) AS n_union,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ua
         |     WHERE h IN (SELECT h FROM ub)) AS n_inter,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ua
         |     WHERE h NOT IN (SELECT h FROM ub)) AS n_aonly),
         |ex AS (SELECT
         |    CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
         |         THEN o_orderkey END) AS BIGINT) AS exact_a,
         |    CAST(COUNT(DISTINCT CASE WHEN o_orderstatus = 'F'
         |         THEN o_orderkey END) AS BIGINT) AS exact_b,
         |    CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
         |          AND o_orderstatus = 'F' THEN o_orderkey END) AS BIGINT) AS exact_inter,
         |    CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
         |          OR o_orderstatus = 'F' THEN o_orderkey END) AS BIGINT) AS exact_union
         |  FROM orders)
         |SELECT CAST(th.theta AS BIGINT) AS theta,
         |       cnt.n_union, cnt.n_inter, cnt.n_aonly,
         |       CAST(cnt.n_union * $Two32 // th.theta AS BIGINT) AS est_union,
         |       CAST(cnt.n_inter * $Two32 // th.theta AS BIGINT) AS est_inter,
         |       CAST(cnt.n_aonly * $Two32 // th.theta AS BIGINT) AS est_a_only,
         |       CAST(CASE WHEN cnt.n_union > 0
         |                 THEN cnt.n_inter * 1000 // cnt.n_union
         |                 ELSE 0 END AS BIGINT) AS jaccard_milli,
         |       ex.exact_a, ex.exact_b, ex.exact_inter, ex.exact_union,
         |       CAST(CASE WHEN cnt.n_union * $Two32 // th.theta * 2 >= ex.exact_union
         |                  AND cnt.n_union * $Two32 // th.theta <= ex.exact_union * 2
         |                 THEN 1 ELSE 0 END AS INT) AS union_within_2x,
         |       CAST(CASE WHEN cnt.n_inter * $Two32 // th.theta * 2 >= ex.exact_inter
         |                  AND cnt.n_inter * $Two32 // th.theta <= ex.exact_inter * 2
         |                 THEN 1 ELSE 0 END AS INT) AS inter_within_2x
         |FROM th, cnt, ex""".stripMargin
    },
    // the filter itself rebuilt: bit p set ⟺ p ∈ the dim's position set,
    // so membership, the passing fact rows, the false-positive count and
    // the joined revenue are all recomputed — a bloom that dropped a
    // true match diverges from the plain join here
    "k_portable_bloom_join" ->
      s"""WITH dim AS (SELECT CAST(c_custkey AS BIGINT) AS ck
         |            FROM customer WHERE c_custkey % 50 = 0),
         |pos AS (SELECT DISTINCT p FROM (
         |    SELECT ${graft.QueryDsl.sqlHex8("md5(CAST(ck AS VARCHAR))", 1)} % $BloomBits AS p
         |    FROM dim
         |    UNION ALL
         |    SELECT ${graft.QueryDsl.sqlHex8("md5(CAST(ck AS VARCHAR))", 9)} % $BloomBits AS p
         |    FROM dim)),
         |fact AS (SELECT CAST(o_custkey AS BIGINT) AS ok, o_totalprice,
         |    ${graft.QueryDsl.sqlHex8("md5(CAST(o_custkey AS VARCHAR))", 1)} % $BloomBits AS h1,
         |    ${graft.QueryDsl.sqlHex8("md5(CAST(o_custkey AS VARCHAR))", 9)} % $BloomBits AS h2
         |  FROM orders),
         |pass AS (SELECT ok, o_totalprice FROM fact
         |         WHERE h1 IN (SELECT p FROM pos) AND h2 IN (SELECT p FROM pos)),
         |j AS (SELECT p.o_totalprice FROM pass p JOIN dim ON p.ok = dim.ck)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fact) AS n_fact,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_pass_bloom,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM j) AS n_join_rows,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM pass)
         |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM j) AS n_false_pos,
         |       (SELECT ${graft.QueryDsl.sqlDsum("o_totalprice")} FROM j) AS revenue""".stripMargin,
  )
}
