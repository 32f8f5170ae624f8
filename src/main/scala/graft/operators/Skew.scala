package graft.operators

import graft.QueryDsl.{dsum, localRows, sqlDsum, withConfs}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-salting for skewed shuffle joins — the manual form of skew
  * mitigation for the cases AQE's skew-join splitting can't reach (AQE
  * splits oversized sort-merge partitions at runtime, but a join key with
  * 3 distinct values gives the planner only 3 meaningful partitions to
  * begin with).
  *
  * Pattern: the skewed fact side appends a salt in [0, S); the small-but-
  * not-broadcastable dim side is replicated S× (explode over the salt
  * range); the join key becomes (key, salt), multiplying reducer
  * parallelism by S. Results are identical to the unsalted join — the
  * oracle verifies against the plain formulation.
  */
object Skew {

  private val Salts = 8

  /** Join 600k lineitem rows to a 3-row derived dimension on
    * `l_returnflag` (3 distinct values — maximal skew), salted. The merge
    * hint forces a shuffle join: broadcasting the dim would dodge the
    * skew problem this operator exists to solve (at 100 TB the dim side
    * may not be broadcastable). */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val dim = li.groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("flag_rows"))
    val fact = li
      .select(col("l_returnflag"), col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .withColumn("salt", pmod(col("l_orderkey"), lit(Salts)))
    val dimSalted = dim
      .select(col("flag"), col("flag_rows"),
        explode(sequence(lit(0), lit(Salts - 1))).as("salt"))
    fact.hint("merge")
      .join(dimSalted,
        fact("l_returnflag") === dimSalted("flag") && fact("salt") === dimSalted("salt"))
      .groupBy(col("l_returnflag"), col("flag_rows"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("rev")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** `k_aqe_skew_join` — the RUNTIME half of the skew story
    * [[skewStats]] diagnoses and [[saltedJoin]] solves by hand: a
    * skewed fact⋈dim shuffle join mitigated by AQE's
    * `OptimizeSkewedJoin` splitting the oversized sort-merge partition
    * at runtime instead of by salting the key. The fact key is
    * deliberately heavy-tailed (`l_orderkey%10 < 8 → 0`, so one key
    * carries ~80% of the rows — the relative skew the rule's
    * `factor × median` test needs; [[saltedJoin]]'s 3 equal-weight
    * flags have no relative skew for AQE to find, which is exactly the
    * case where SALTING is the right tool — the two operators
    * demonstrate the two regimes [[skewStats]] distinguishes). The
    * fact is repartitioned before the join so its shuffle has many
    * map-side blocks: AQE splits a reduce partition at mapper-block
    * granularity, and a single-file local scan would hand it one
    * unsplittable block (at 100 TB the fact always arrives from
    * thousands of mappers). The dim is a plain TABLE scan (nation), not
    * a derived aggregate: `OptimizeSkewedJoin` pattern-matches
    * `SMJ(Sort(ShuffleStage), Sort(ShuffleStage))`, and an aggregate
    * whose output partitioning already satisfies the join distribution
    * sits between the Sort and the stage, structurally disabling the
    * rule (found empirically — the kind of plan-shape constraint a
    * production skew runbook has to know). Results are identical to
    * the plain join (oracle = the unsplit formulation); the operator
    * REQUIRES the split actually fired (`skew=true` on the executed
    * sort-merge join), so a green row certifies the mitigation ran,
    * not just that a join returned rows.
    *
    * Conf scoping: the skew thresholds are lowered only around THIS
    * query's execution (test data is MBs, the 256 MB default would never
    * trigger) and restored after — the join runs to completion inside
    * the operator (a 3-row collect, same index-action class as the DPP
    * totals), so the scoped confs are live exactly when the adaptive
    * plan re-optimizes. The split target is DERIVED from the input size
    * (≈ fact-shuffle-bytes / 24, i.e. ~8 splits per key partition at
    * any scale factor) — a fixed byte threshold either never fires at
    * small SF or shatters a large SF into thousands of tasks; at
    * production scale the 256 MB default plays this role and no
    * override is needed. `forceOptimizeSkewedJoin` because the
    * downstream aggregate could reuse the join's partitioning — at
    * 100 TB the extra shuffle of 6 partial rows is free next to an
    * unsplit straggler. */
  def aqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    // ~32 shuffle bytes/row for the (flag, rev) projection; one
    // metadata-count action, same class as the DPP totals head()
    val factBytes = Tables.lineitem(s, d).count() * 32L
    val advisory = math.max(4096L, factBytes / 24)
    withConfs(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> s"${advisory}b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${advisory}b") {
      val skewKey = when(col("l_orderkey") % 10 < 8, lit(0L))
        .otherwise(col("l_orderkey") % 10).as("skew_key")
      val fact = Tables.lineitem(s, d)
        // many map-side blocks for the join shuffle: splits happen at
        // mapper granularity, a one-file scan would be unsplittable
        .repartition(8, col("l_orderkey"))
        .select(skewKey,
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("dkey"), col("n_name"))
      val joined = fact.hint("merge")
        .join(dim, fact("skew_key") === dim("dkey"))
        .groupBy(col("skew_key"), col("n_name"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("rev")).as("revenue"))
      val rows = joined.collect() // executes under the scoped confs
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire; executed plan:\n$plan")
      localRows(s, rows.toIndexedSeq, joined.schema)
        .orderBy("skew_key")
    }
  }

  private val SkewTopK = 10

  /** JOIN-KEY SKEW DIAGNOSTIC — the measurement that decides between a
    * plain shuffle join, AQE skew splitting, and [[saltedJoin]]-style
    * salting: per-key row counts reduced to the top-K heaviest keys,
    * each annotated with corpus-level context (total rows, distinct
    * keys, the key's share and its skew factor = share × distinct-keys,
    * i.e. how many times the mean key weight it carries). Shape: ONE
    * map-side-combined aggregate to O(keys) rows, a driver-free top-K
    * (TakeOrdered — no global sort shuffle), and a broadcast of the
    * one-row totals; the fact table is scanned once. The two ratios are
    * single IEEE divisions of exact integers — bit-identical in any
    * engine. */
  def skewStats(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val totals = perKey.agg(
      sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    perKey.orderBy(col("cnt").desc, col("user_id")).limit(SkewTopK)
      .crossJoin(broadcast(totals))
      .select(col("user_id"), col("cnt"), col("total_rows"), col("n_keys"),
        (col("cnt").cast("double") / col("total_rows").cast("double")).as("share"),
        ((col("cnt") * col("n_keys")).cast("double") / col("total_rows").cast("double"))
          .as("skew_factor"))
      .orderBy(col("cnt").desc, col("user_id"))
  }

  // salt when the heaviest key carries ≥ 4× the mean key weight
  private val SaltFactorX10 = 40

  /** `k_stats_salted_join` — the engine's own SKEW STATISTIC drives the
    * salting decision (the second stats→plan consumer next to
    * `k_sketch_planned_join`, closing the loop [[skewStats]] diagnoses
    * and [[saltedJoin]] solves by hand): one map-side-combined per-key
    * count reduced to (max, total, distinct) — O(keys), one bounded
    * 1-row sync — and the exact integer rule max·n_keys·10 ≥ 40·total
    * (heaviest key ≥ 4× the mean) picks SALTED vs PLAIN for the same
    * merge-hinted fact⋈dim join. Two regimes run the decision both
    * ways: a heavy-tailed key (one key ≈ 80% of rows) must salt
    * (REQUIREd: the executed join keys on (k, salt)), a uniform key
    * must not (REQUIREd: no salt column in the plan) — and both
    * regimes' answers are the plain formulation's, because salting is a
    * physical change only. The oracle recomputes the statistic, the
    * rule, and the join aggregate, so a flipped decision hash-fails. */
  // slope pin: ~4 at 10x input (stats + joins all linear in lineitem
  // rows; r18 caches the fact projection, 4 scans -> 1) — see SLOPES.md
  def statsSaltedJoin(s: SparkSession, d: String): DataFrame = {
    // ONE cached projection serves all four consumers (2 regimes × stats
    // + join): both regime keys are pure functions of l_orderkey, so the
    // base scan need not repeat. Re-measured at 1.9-2.3 s (the r17 board's
    // 4.23 s was contention variance, Skew.scala unchanged that round);
    // the cache removes the 4-scan exposure that made the query
    // contention-sensitive in the first place. Unpersisted before return —
    // every consumer collects eagerly below.
    val fact0 = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .persist()
    def regime(label: String, keyCol: org.apache.spark.sql.Column):
        (String, String, Long, Long, Double) = {
      val fact = fact0.select(keyCol.as("k"), col("l_orderkey"), col("rev"))
      val st = fact.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .agg(max(col("cnt")).as("max_cnt"), sum(col("cnt")).as("total"),
          count(lit(1)).as("n_keys"))
        .head() // 1 row — the skew statistic, never data
      val (maxCnt, total, nKeys) = (st.getLong(0), st.getLong(1), st.getLong(2))
      val salted = maxCnt * nKeys * 10 >= SaltFactorX10 * total
      val dim = fact.select(col("k")).distinct()
        .select(col("k"), (col("k") % 97).as("dim_tag"))
      val joined =
        if (salted) {
          val f = fact.withColumn("salt", pmod(col("l_orderkey"), lit(Salts)))
          val dm = dim.select(col("k"), col("dim_tag"),
            explode(sequence(lit(0), lit(Salts - 1))).as("salt"))
          f.hint("merge").join(dm, Seq("k", "salt"))
        } else fact.hint("merge").join(dim, Seq("k"))
      val agg = joined.agg(count(lit(1)).as("n_lines"), dsum(col("rev")).as("revenue"))
      val row = agg.collect().head
      val plan = agg.queryExecution.executedPlan.toString
      if (salted) require(plan.contains("salt#"),
        s"regime $label: stats chose salting but the plan carries no salt key:\n$plan")
      else require(!plan.contains("salt#"),
        s"regime $label: stats chose plain but the plan carries a salt key:\n$plan")
      (label, if (salted) "salted" else "plain", nKeys,
        row.getLong(0), row.getDouble(1))
    }
    val heavy = regime("skewed_key",
      when(col("l_orderkey") % 10 < 8, lit(0L)).otherwise(col("l_orderkey") % 10))
    val flat = regime("uniform_key", col("l_orderkey") % 10)
    fact0.unpersist()
    import s.implicits._
    Seq(heavy, flat)
      .toDF("regime", "strategy", "n_keys", "n_lines", "revenue")
      .orderBy("regime")
  }

  /** `k_aqe_coalesce` — AQE PARTITION COALESCING, the third runtime
    * re-plan next to skew splitting ([[aqeSkewJoin]]) and the runtime
    * bloom filter: a static `spark.sql.shuffle.partitions` tuned for the
    * biggest stage over-partitions every SMALL aggregation (200 near-
    * empty reducers = 200 tasks of pure scheduler overhead; at 100 TB a
    * cluster-wide setting can never fit every stage), so AQE merges
    * adjacent sub-target reducers at runtime from the map-output sizes.
    * The aggregate here reduces to O(priorities) rows — the worst case
    * for static partitioning — and the operator REQUIREs the executed
    * plan's `AQEShuffleRead` to have coalesced strictly below the
    * configured partition count. Answers are partitioning-independent
    * (oracle = the plain aggregate).
    *
    * Conf scoping as in [[aqeSkewJoin]]: a 64 MB advisory target makes
    * tiny test shuffles coalesce to ~1 partition — which is exactly
    * what the default does to same-shaped small stages in production. */
  def aqeCoalesce(s: SparkSession, d: String): DataFrame = {
    withConfs(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m") {
      val agg = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
      val rows = agg.collect()
      val configured = s.conf.get("spark.sql.shuffle.partitions").toInt
      // the documented contract, checked structurally: every
      // AQEShuffleRead in the executed plan must have merged to
      // strictly fewer output partitions than the static setting —
      // partitionSpecs length IS the post-coalesce partition count
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
      def reads(p: SparkPlan): Seq[AQEShuffleReadExec] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case other                    => other.children
        }
        (p match { case r: AQEShuffleReadExec => Seq(r); case _ => Nil }) ++
          kids.flatMap(reads)
      }
      val counts = reads(agg.queryExecution.executedPlan).map(_.partitionSpecs.length)
      require(counts.nonEmpty && counts.forall(_ < configured),
        s"AQE did not coalesce the aggregation shuffle below the configured " +
          s"$configured (AQEShuffleRead partition counts: $counts):\n" +
          agg.queryExecution.executedPlan)
      localRows(s, rows.toIndexedSeq, agg.schema)
        .orderBy("o_orderpriority")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_aqe_coalesce" -> (aqeCoalesce _),
    "k_salted_join" -> (saltedJoin _),
    "k_aqe_skew_join" -> (aqeSkewJoin _),
    "k_skew_stats" -> (skewStats _),
    "k_stats_salted_join" -> (statsSaltedJoin _),
  )

  val oracle: Map[String, String] = Map(
    // partitioning is physical: the plain aggregate
    "k_aqe_coalesce" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${sqlDsum("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the oracle runs the UNSALTED join: salting must not change results
    "k_salted_join" ->
      s"""WITH dim AS (
         |  SELECT l_returnflag AS flag, COUNT(*) AS flag_rows
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, flag_rows, COUNT(*) AS n_lines,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN dim ON l_returnflag = flag
         |GROUP BY l_returnflag, flag_rows
         |ORDER BY l_returnflag""".stripMargin,
    // the UNSPLIT join: AQE's split, like salting, is a physical-plan
    // change only — the answer must be the plain formulation's
    "k_aqe_skew_join" ->
      s"""WITH f AS (
         |  SELECT CASE WHEN l_orderkey % 10 < 8 THEN CAST(0 AS BIGINT)
         |              ELSE l_orderkey % 10 END AS skew_key,
         |         l_extendedprice * (1.0 - l_discount) AS rev
         |  FROM lineitem)
         |SELECT skew_key, n_name, COUNT(*) AS n_lines,
         |       ${sqlDsum("rev")} AS revenue
         |FROM f JOIN nation ON skew_key = CAST(n_nationkey AS BIGINT)
         |GROUP BY skew_key, n_name
         |ORDER BY skew_key""".stripMargin,
    // the statistic, the decision rule, and the plain join aggregate all
    // rebuilt — the strategy column hash-fails on a flipped decision
    "k_stats_salted_join" -> {
      def regimeSql(label: String, keyExpr: String): String =
        s"""SELECT '$label' AS regime,
           |       CASE WHEN s.mc * s.nk * 10 >= $SaltFactorX10 * s.tot
           |            THEN 'salted' ELSE 'plain' END AS strategy,
           |       CAST(s.nk AS BIGINT) AS n_keys,
           |       CAST(s.tot AS BIGINT) AS n_lines,
           |       (SELECT ${sqlDsum("l_extendedprice * (1.0 - l_discount)")}
           |        FROM lineitem) AS revenue
           |FROM (SELECT MAX(cnt) AS mc, SUM(cnt) AS tot, COUNT(*) AS nk FROM (
           |        SELECT $keyExpr AS k, COUNT(*) AS cnt
           |        FROM lineitem GROUP BY 1) t) s""".stripMargin
      regimeSql("skewed_key",
        "CASE WHEN l_orderkey % 10 < 8 THEN CAST(0 AS BIGINT) ELSE l_orderkey % 10 END") +
        "\nUNION ALL\n" +
        regimeSql("uniform_key", "l_orderkey % 10") +
        "\nORDER BY regime"
    },
    "k_skew_stats" ->
      s"""WITH pk AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |            FROM events GROUP BY user_id),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
         |               CAST(COUNT(*) AS BIGINT) AS n_keys FROM pk),
         |top AS (SELECT user_id, cnt FROM pk
         |        ORDER BY cnt DESC, user_id LIMIT $SkewTopK)
         |SELECT t.user_id, t.cnt, o.total_rows, o.n_keys,
         |       CAST(t.cnt AS DOUBLE) / CAST(o.total_rows AS DOUBLE) AS share,
         |       CAST(t.cnt * o.n_keys AS DOUBLE) / CAST(o.total_rows AS DOUBLE) AS skew_factor
         |FROM top t CROSS JOIN tot o
         |ORDER BY t.cnt DESC, t.user_id""".stripMargin,
  )
}
