package graft.operators

import graft.QueryDsl.{dsum, sqlDsum}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table — the batch forms of the
  * stateful-stream patterns a training-data pipeline needs (SURVEY.md §7.2
  * M3; the streaming variants live in graft.streaming).
  *
  * Scale: everything partitions by `user_id` — one shuffle, then
  * sort-within-partition; both window frames share the same
  * partitioning+ordering so Catalyst plans a single sort. Gap comparisons
  * are integer microseconds (`unix_micros`), exact at any scale and
  * identical to the DuckDB oracle's `epoch_ns // 1000` (data is
  * exact-microsecond).
  */
object Events {

  private[graft] val SessionGapUs: Long = 1800L * 1000000L // 30 min

  /** The session-boundary derivation every session query builds on: each
    * event with its integer-microsecond `us` and per-user `session_id`
    * (lag + cumulative sum — the classic decomposition; a new session
    * when the gap exceeds 30 minutes). ONE definition, shared by
    * [[sessionize]] and [[sessionFunnel]] so the gap semantics cannot
    * desynchronize; [[sessionedCte]] is its SQL mirror. */
  private[graft] def sessioned(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    Tables.events(s, d)
      .withColumn("us", us)
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || (col("us") - col("prev_us")) > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(run))
  }

  /** DuckDB mirror of [[sessioned]] — CTEs ending in `sessioned`. */
  private[graft] val sessionedCte: String =
    s"""WITH lagged AS (
       |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) // 1000 AS us,
       |         lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $SessionGapUs THEN 1 ELSE 0 END AS is_new
       |  FROM lagged),
       |sessioned AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                              ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM flagged)""".stripMargin

  /** Gap-based sessionization: one row per (user, session). */
  def sessionize(s: SparkSession, d: String): DataFrame =
    sessioned(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")

  /** As-of join — for each purchase, the most recent click at-or-before
    * it per user. Spark has no asof operator; the scalable formulation is
    * union-free here because both sides live in one table: a single
    * partition-ordered window with `last(..., ignoreNulls)` carries the
    * latest click forward — one shuffle, no per-key loops, no range
    * cross-join. (With two physical tables the same plan applies after a
    * tagged union.) */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carried(c: org.apache.spark.sql.Column) =
      last(when(col("event_type") === "click", c), ignoreNulls = true).over(w)
    Tables.events(s, d)
      .withColumn("click_id", carried(col("event_id")))
      .withColumn("click_value", carried(col("value")))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("purchase_us"),
        col("click_id"), col("click_value"))
      .orderBy("user_id", "purchase_id")
  }

  private val AsofFwdTolUs = 3600L * 1000000L // 1 event-time hour

  /** `e_asof_forward` — the FORWARD as-of join ([[asofJoin]] reversed):
    * each click matches the NEXT purchase at-or-after it (in (ts,
    * event_id) order) within a one-hour tolerance — the
    * time-to-conversion primitive, where the backward form answers
    * attribution. Same single user_id shuffle; the carry flips to a
    * (currentRow, unboundedFollowing) frame with `first` — no range
    * cross-join at any scale. Clicks with no purchase inside the
    * tolerance emit NULLs (they are the interesting rows — the
    * non-converting majority a funnel report counts). Oracle = an
    * independent correlated-subquery formulation, not a window
    * mirror. */
  def asofForward(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val inTol = col("nxt").isNotNull &&
      col("nxt.p_us") - col("us") <= AsofFwdTolUs
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", first(when(col("event_type") === "purchase",
        struct(col("us").as("p_us"), col("event_id").as("p_id"))),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"),
        when(inTol, col("nxt.p_id")).as("next_purchase_id"),
        when(inTol, col("nxt.p_us") - col("us")).as("wait_us"))
      .orderBy("user_id", "click_id")
  }

  /** Session funnel: per (user, session), click/purchase counts and
    * whether a purchase follows the session's first click — the
    * composition layer over sessionization (conversion analytics). All
    * three windows and the final aggregation share the single user_id
    * shuffle (session frame is a subset partitioning). */
  def sessionFunnel(s: SparkSession, d: String): DataFrame = {
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
    sessioned(s, d)
      .withColumn("first_click_us",
        min(when(col("event_type") === "click", col("us"))).over(wSess))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        max(when(col("event_type") === "purchase" && col("us") >= col("first_click_us"), 1)
          .otherwise(0)).as("converted"))
      .orderBy("user_id", "session_id")
  }

  /** Two-table as-of join — the general form of [[asofJoin]], for sides
    * that are physically separate tables: tag, union (missing columns
    * null-filled), ONE shuffle on `key`, a single sort, carry-forward
    * window. Right rows at the same timestamp sort before left rows, so
    * "at-or-before" includes ties. Never a range cross-join, so the plan
    * survives any key skew an interval join would amplify.
    *
    * Contract: both sides carry `key` and `us` (long); `carry` names
    * right-side columns, attached to each left row as `asof_<name>`
    * (null when no right row precedes). The carried columns move as ONE
    * struct — carrying them independently would let a null field pull
    * that column from an older right row, fabricating a row that never
    * existed. When the right side can hold duplicate (key, us) pairs,
    * pass `uniqueKey` (a right-side column that is unique within ties,
    * e.g. an event id): it joins the window ordering, pinning the carried
    * row to the GREATEST `uniqueKey` among the tied right rows —
    * deterministic under any partitioning. Without it, tied right rows
    * are carried in an unspecified order (row_number semantics). */
  def asofJoinTables(left: DataFrame, right: DataFrame, carry: Seq[String],
      uniqueKey: Option[String] = None): DataFrame = {
    val unioned = left.withColumn("__side", lit(1))
      .unionByName(right.withColumn("__side", lit(0)), allowMissingColumns = true)
    // __side separates the sides at equal us (right first, so at-or-before
    // includes ties); uniqueKey then totals the order among tied RIGHT
    // rows only — left rows null-fill it, and their relative order is
    // irrelevant (each sees the same preceding right-row set).
    val tieBreak = uniqueKey.map(k => col(k).asc).toSeq
    val w = Window.partitionBy(col("key"))
      .orderBy(col("us").asc +: col("__side").asc +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the struct is null exactly when the row is a left row, so
    // ignoreNulls skips left rows but carries a right row wholesale,
    // null fields included
    val carried = unioned.withColumn("__asof",
      last(when(col("__side") === 0, struct(carry.map(col): _*)), ignoreNulls = true).over(w))
    carry.foldLeft(carried.filter(col("__side") === 1)) { (df, c) =>
      df.withColumn(s"asof_$c", col(s"__asof.$c"))
    }
      .drop("__side", "__asof")
      .drop(carry: _*)
  }

  /** [[asofJoinTables]] driven as a query: purchases and clicks as two
    * separate tables. The oracle is DuckDB's native ASOF JOIN — a
    * completely different algorithm (binary-search merge) arriving at the
    * same answer, which is the strongest kind of cross-check. */
  def asofTwoTable(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), us.as("us"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), us.as("us"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    asofJoinTables(purchases, clicks, Seq("click_id", "click_value"),
      uniqueKey = Some("click_id"))
      .select(
        col("key").as("user_id"), col("purchase_id"), col("us").as("purchase_us"),
        col("asof_click_id").as("click_id"), col("asof_click_value").as("click_value"))
      .orderBy("user_id", "purchase_id")
  }

  private val WindowUs: Long = 7200L * 1000000L // 2 h

  /** Reusable bucketized interval-join primitive. A naive range join is a
    * cross join with a BETWEEN filter — O(n·m) at scale. Bucketizing makes
    * it an EQUI-join: each point carries one bucket id, each interval
    * explodes to the buckets it overlaps, the exact BETWEEN filter then
    * runs on candidates only.
    *
    * `points` must carry a long `us` column; `intervals` long
    * `start_us`/`end_us` (inclusive). `bucketWidthUs` is a free tuning
    * knob, NOT tied to the interval width: an interval explodes to
    * `end div w - start div w + 1` bucket rows, so pick w on the order of
    * the typical interval width (smaller w replicates intervals more;
    * larger w admits more false candidates for the exact filter to drop).
    * Lossless for any w > 0: integer `div` is monotone, so an in-interval
    * point's bucket always lies in the interval's exploded range —
    * RangeJoinPropertySpec proves equality with the naive join over random
    * widths, including intervals much wider and narrower than w. */
  def intervalJoin(points: DataFrame, intervals: DataFrame, bucketWidthUs: Long): DataFrame = {
    require(bucketWidthUs > 0, "bucket width must be positive")
    val exploded = intervals.withColumn("bucket",
      explode(sequence(
        expr(s"start_us div ${bucketWidthUs}L"), expr(s"end_us div ${bucketWidthUs}L"))))
    val bucketed = points.withColumn("bucket", expr(s"us div ${bucketWidthUs}L"))
    exploded.join(bucketed, "bucket")
      .filter(col("us") >= col("start_us") && col("us") <= col("end_us"))
      .drop("bucket")
  }

  /** Count/sum the events falling in each anchor's [ts, ts+2h] window via
    * [[intervalJoin]] with bucket width = window width (≤2 buckets per
    * interval). */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val e = Tables.events(s, d).select(col("event_id"), us.as("us"), col("value"))
    val anchors = e.filter(col("event_id") < 40)
      .select(col("event_id").as("anchor_id"), col("us").as("start_us"),
        (col("us") + WindowUs).as("end_us"))
    intervalJoin(e.drop("event_id"), anchors, WindowUs)
      .groupBy(col("anchor_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("anchor_id")
  }

  /** `e_ab_lift` — the A/B EXPERIMENT READOUT (the analytics family
    * next to cohorts and funnels that every event pipeline ends in):
    * users assign to arms by the deterministic md5-residue rule (the
    * `t_split_assign` discipline — no assignment service, no rand()),
    * each arm reports exposed users / converters / conversion rate, and
    * the treatment-vs-control verdict is an EXACT integer
    * cross-multiplication (convB·expA vs convA·expB) — the readout is
    * directional evidence, not a p-value, and it is bit-identical
    * cross-engine where a float rate comparison need not be.
    *
    * Scale shape: one distinct to (user, converted) — map-side combined
    * — then O(arms) aggregation; the verdict is a 2-row comparison. */
  def abLift(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("int")).as("converted"))
      .withColumn("arm",
        when(pmod(conv(substring(md5(concat(lit("ab_"), col("user_id").cast("string"))
          .cast("binary")), 1, 8), 16, 10).cast("long"), lit(2)) === 0, "control")
          .otherwise("treatment"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_exposed"), sum(col("converted")).as("n_converted"))
    val wide = arms.groupBy()
      .pivot("arm", Seq("control", "treatment"))
      .agg(first(col("n_exposed")).as("exposed"), first(col("n_converted")).as("converted"))
    arms
      .withColumn("conv_rate",
        col("n_converted").cast("double") / col("n_exposed").cast("double"))
      .crossJoin(broadcast(wide
        // an empty arm leaves its pivot columns NULL; the oracle's
        // cross join of the two arm rows emits ZERO rows in that case,
        // so drop the verdict row (emptying the result) rather than
        // emit a NULL verdict
        .filter(col("control_exposed").isNotNull && col("treatment_exposed").isNotNull)
        .select(
          (col("treatment_converted") * col("control_exposed") >
            col("control_converted") * col("treatment_exposed")).cast("int")
            .as("treatment_wins"))))
      .orderBy("arm")
  }

  private val HourUs = 3600000000L
  private val OutageTopK = 8

  /** `e_interval_overlap` — INTERVAL×INTERVAL OVERLAP JOIN, the join
    * class [[intervalJoin]]'s point-in-interval primitive doesn't cover
    * (both sides have extent): which user SESSIONS overlapped the
    * platform's worst OUTAGE windows, and by how much — the incident
    * blast-radius query every reliability review runs. Outages = the
    * top-[[OutageTopK]] busiest error hours (deterministic TakeOrdered —
    * scale-free where a fixed threshold goes empty as hourly counts
    * concentrate); sessions = the 30-min-gap sessionization. The join
    * blocks on the HOUR GRID: a session explodes to the hour buckets it
    * spans, each outage IS one bucket, so candidates come from an
    * equi-join on the bucket id — never an interval cross join — and
    * the exact half-open overlap length is integer µs arithmetic.
    * Oracle = the naive interval-intersection join (independent
    * algorithm).
    *
    * Scale shape: one sessionization shuffle (shared discipline),
    * an O(hours) map-side-combined error count with an O(K) TakeOrdered,
    * and a bucket equi-join whose outage side is K broadcast rows. */
  def intervalOverlap(s: SparkSession, d: String): DataFrame = {
    val sess = sessionize(s, d).select(col("user_id"), col("start_us"), col("end_us"))
    val outages = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(expr(s"unix_micros(ts) div ${HourUs}L").as("hour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hour")).limit(OutageTopK)
      .select(col("hour").as("bucket"),
        (col("hour") * HourUs).as("o_start_us"),
        ((col("hour") + 1) * HourUs).as("o_end_us"))
    val sessBuckets = sess.withColumn("bucket",
      explode(sequence(expr(s"start_us div ${HourUs}L"), expr(s"end_us div ${HourUs}L"))))
    sessBuckets.join(broadcast(outages), "bucket")
      // session [start, end] closed; outage [o_start, o_end) half-open
      .filter(col("start_us") < col("o_end_us") && col("o_start_us") <= col("end_us"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        (least(col("end_us") + 1, col("o_end_us"))
          - greatest(col("start_us"), col("o_start_us"))).as("ol_us"))
      .groupBy(col("user_id"), col("start_us"))
      .agg(count(lit(1)).as("n_outages"), sum(col("ol_us")).as("overlap_us"))
      .orderBy("user_id", "start_us")
  }

  private val GridFrom = "2024-01-01"
  private val GridTo = "2024-01-30"

  /** Time-series GAP-FILL + FORWARD-FILL — the resampling primitive
    * dashboards and feature pipelines need: a dense per-(user, day) grid
    * over the full range, missing days zero-filled for counts and
    * carry-forward-filled for the last observed categorical (leading
    * nulls before a user's first observation stay null — both engines
    * agree on that contract).
    *
    * Scale shape: the grid is GENERATED (users × a literal date array —
    * a narrow explode, never a shuffle of data to make rows), the
    * grid⋈daily join is one shuffle on (user_id, day), and the
    * forward-fill window partitions by user over a bounded day count. */
  def gapfill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 20)
      .withColumn("day", to_date(col("ts")))
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), max(col("event_type")).as("day_type"))
    val grid = ev.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(
        lit(GridFrom).cast("date"), lit(GridTo).cast("date"),
        expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_type"), ignoreNulls = true).over(w).as("ff_type"))
      .orderBy("user_id", "day")
  }

  /** `e_funnel_attribution` — FIRST-TOUCH vs LAST-TOUCH revenue
    * attribution, the marketing-analytics ledger built on the as-of
    * machinery: each purchase credits its value to the user's first
    * click ever-before it (first touch) and to the latest click
    * at-or-before it (last touch — exactly the as-of join's carry), per
    * channel (`props.k % 5`). One union stream sorted per user with
    * clicks ordered before purchases at equal time (at-or-before
    * includes ties; among tied clicks the greatest event_id carries,
    * matching [[asofJoin]]'s contract), two IGNORE-NULLS running
    * windows (first = earliest click so far, last = carry-forward), one
    * O(channels × models) aggregate. Purchases with no prior click land
    * in channel −1 — unattributed revenue is a number every attribution
    * report must show, not drop. */
  def funnelAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"),
        (get_json_object(col("props"), "$.k").cast("long") % 5).as("k5"))
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("side", when(col("event_type") === "click", 0).otherwise(1))
      .withColumn("click_channel", when(col("side") === 0, col("k5")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = ev
      .withColumn("first_ch", first(col("click_channel"), ignoreNulls = true).over(w))
      .withColumn("last_ch", last(col("click_channel"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
    def perModel(chCol: org.apache.spark.sql.Column, model: String): DataFrame =
      attributed.groupBy(coalesce(chCol, lit(-1L)).as("channel"))
        .agg(count(lit(1)).as("n_conversions"), dsum(col("value")).as("attributed_value"))
        .select(lit(model).as("model"), col("channel"),
          col("n_conversions"), col("attributed_value"))
    perModel(col("first_ch"), "first_touch")
      .unionByName(perModel(col("last_ch"), "last_touch"))
      .orderBy("model", "channel")
  }

  /** `e_interpolate` — LINEAR INTERPOLATION over the gapped daily grid:
    * the numeric twin of [[gapfill]]'s categorical forward-fill (a
    * dashboard forward-fills labels but interpolates measures). Each
    * (user, day) takes its LWW value (last by (ts, event_id) — a single
    * row's value, so no order-dependent float accumulation); missing
    * interior days get `v0 + (v1 − v0) · (d − d0)/(d1 − d0)` between
    * the surrounding observations (integer day arithmetic, one
    * division and one multiply in a fixed order — bit-identical
    * cross-engine); days outside the observed range are `edge` rows
    * with no value (interpolation never extrapolates). Scale shape:
    * same as gapfill — generated grid, one (user, day) shuffle, two
    * bounded per-user windows. */
  def interpolate(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d).filter(col("user_id") < 20)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val grid = obs.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(
        lit(GridFrom).cast("date"), lit(GridTo).cast("date"),
        expr("interval 1 day"))).as("day"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("obs_day", when(col("value").isNotNull, col("day")))
      .withColumn("d0", last(col("obs_day"), ignoreNulls = true).over(wPrev))
      .withColumn("v0", last(col("value"), ignoreNulls = true).over(wPrev))
      .withColumn("d1", first(col("obs_day"), ignoreNulls = true).over(wNext))
      .withColumn("v1", first(col("value"), ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("day"),
        when(col("value").isNotNull, lit("obs"))
          .when(col("d0").isNotNull && col("d1").isNotNull, lit("interp"))
          .otherwise(lit("edge")).as("kind"),
        when(col("value").isNotNull, col("value"))
          .when(col("d0").isNotNull && col("d1").isNotNull,
            col("v0") + (col("v1") - col("v0")) *
              (datediff(col("day"), col("d0")).cast("double")
                / datediff(col("d1"), col("d0")).cast("double")))
          .as("ival"))
      .orderBy("user_id", "day")
  }

  /** Day-over-day volume anomaly gate — the ingest-monitoring query a
    * pipeline runs before trusting a day's data (did clicks triple
    * overnight?): per (day, type) counts against a trailing CALENDAR
    * 7-day baseline, flagged when the day exceeds 2× the trailing mean.
    * The window is a RANGE frame over the integer day number, so a
    * calendar day with no data simply contributes nothing — a spike
    * after a quiet gap is compared against exactly the prior week, not
    * against however many present rows a ROWS frame would reach back to.
    * `d_trail` counts the OBSERVED days inside that week. The comparison
    * is pure integer cross-multiplication
    * (`n × trailing_days > 2 × trailing_sum`) — no float mean to diverge
    * on. Days with under 3 observed days in the week emit nothing (no
    * baseline).
    *
    * Scale shape: the corpus-sized work is one map-side-combined count to
    * O(days × types) rows; the trailing window then runs over that
    * bounded domain per type. */
  def rateAnomaly(s: SparkSession, d: String): DataFrame =
    rateAnomalyOf(Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n")))

  /** `e_ewma` — EXPONENTIAL SMOOTHING over the dense per-type daily
    * series, the adaptive-baseline sibling of [[rateAnomaly]]'s trailing
    * window: level s_t = (3·s_{t−1} + 1000·n_t) div 4 (α = 1/4 in ×1000
    * fixed point, truncating division — bit-identical cross-engine),
    * s_0 = 1000·n_0; a day spikes when its raw count exceeds TWICE the
    * prior smoothed level. Missing days enter the grid as ZEROS, so a
    * silent feed outage decays the level instead of freezing it (the
    * failure mode a sparse-join formulation hides). The recursion is
    * inherently sequential per type — the oracle steps the same update
    * through a RECURSIVE CTE — and per-type work is O(calendar days):
    * bounded by time, not corpus, so the sorted in-memory scan per group
    * is safe at any event volume. */
  def ewma(s: SparkSession, d: String): DataFrame =
    ewmaOf(s, Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n")))

  /** The smoothing over an already-aggregated (day, event_type, n) frame
    * — split out so EwmaSpec can feed a synthetic outage (the sf
    * fixtures are gap-free, and only a gapped series discriminates the
    * zeros-decay-the-level semantics from a sparse join). */
  private[operators] def ewmaOf(s: SparkSession, daily: DataFrame): DataFrame = {
    import s.implicits._
    val b = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1")).head()
    require(!b.isNullAt(0), "empty daily series — EWMA needs at least one day")
    val d0 = b.getDate(0)
    val nDays = (b.getDate(1).toLocalDate.toEpochDay - d0.toLocalDate.toEpochDay).toInt + 1
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(s.range(nDays).toDF("idx"))
      .select(col("event_type"), col("idx").cast("int").as("idx"),
        date_add(lit(d0), col("idx").cast("int")).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("idx"), coalesce(col("n"), lit(0L)).as("n"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tp: String, it: Iterator[(String, Int, Long)]) =>
        val rows = it.toArray.sortBy(_._2) // O(calendar days) per type
        var sPrev = 0L
        rows.iterator.zipWithIndex.map { case ((_, idx, n), i) =>
          val spike = if (i > 0 && n * 1000L > 2L * sPrev) 1 else 0
          val sCur = if (i == 0) n * 1000L else (3L * sPrev + n * 1000L) / 4L
          sPrev = sCur
          (tp, idx, n, sCur, spike)
        }
      }
      .toDF("event_type", "idx", "n", "ewma_s", "spike")
      .withColumn("day", date_add(lit(d0), col("idx")))
      .select(col("event_type"), col("day"), col("n"), col("ewma_s"), col("spike"))
      .orderBy("event_type", "day")
  }

  def cusum(s: SparkSession, d: String): DataFrame =
    cusumOf(s, Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n")))

  /** `e_cusum` — CUSUM level-shift detection over the dense daily grid,
    * the third anomaly class next to the spike gates ([[rateAnomalyOf]]
    * window-relative, [[ewmaOf]] smoothed-level-relative): a single
    * spike barely moves it, but a SUSTAINED shift accumulates —
    * s_t = max(0, s_{t−1} + (1000·n_t − μ₁₀₀₀ − k₁₀₀₀)) in fixed point,
    * slack k = μ/4, alarm at s > 2·μ₁₀₀₀ — the textbook one-sided
    * CUSUM, integer end to end. μ comes from the FIRST [[CusumBaseline]]
    * grid days (the in-control reference window CUSUM requires — a
    * whole-series mean is contaminated by the very shift it is trying
    * to detect and the drift term collapses to zero). The recursion is
    * inherently sequential per type, so the oracle steps the identical
    * update through a RECURSIVE CTE (the [[ewmaOf]] contract); per-type
    * work is O(calendar days) — bounded by time, not corpus. */
  private[graft] val CusumBaseline = 7

  private[graft] def cusumOf(s: SparkSession, daily: DataFrame): DataFrame = {
    import s.implicits._
    val b = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1")).head()
    require(!b.isNullAt(0), "empty daily series — CUSUM needs at least one day")
    val d0 = b.getDate(0)
    val nDays = (b.getDate(1).toLocalDate.toEpochDay - d0.toLocalDate.toEpochDay).toInt + 1
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(s.range(nDays).toDF("idx"))
      .select(col("event_type"), col("idx").cast("int").as("idx"),
        date_add(lit(d0), col("idx").cast("int")).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("idx"), coalesce(col("n"), lit(0L)).as("n"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tp: String, it: Iterator[(String, Int, Long)]) =>
        val rows = it.toArray.sortBy(_._2) // O(calendar days) per type
        val baseline = rows.filter(_._2 < CusumBaseline)
        val mu1000 = baseline.map(_._3).sum * 1000L / baseline.length
        val k1000 = mu1000 / 4L
        val h = 2L * mu1000
        var sPrev = 0L
        rows.iterator.map { case (_, idx, n) =>
          val sCur = math.max(0L, sPrev + (1000L * n - mu1000 - k1000))
          sPrev = sCur
          (tp, idx, n, sCur, if (sCur > h) 1 else 0)
        }
      }
      .toDF("event_type", "idx", "n", "cusum_s", "alarm")
      .withColumn("day", date_add(lit(d0), col("idx")))
      .select(col("event_type"), col("day"), col("n"), col("cusum_s"), col("alarm"))
      .orderBy("event_type", "day")
  }

  /** The anomaly gate over an already-aggregated (day, event_type, n)
    * frame — split out so RateAnomalySpec can feed a synthetic calendar
    * WITH a quiet gap: the sf fixtures are gap-free (every calendar day
    * observed), so on them a ROWS(-7,-1) frame would produce the same
    * rows and only a gapped fixture discriminates the calendar-RANGE
    * semantics. */
  private[operators] def rateAnomalyOf(daily0: DataFrame): DataFrame = {
    // integer day number: RANGE frames need a numeric order key, and
    // days-since-epoch is exact in both engines
    val daily = daily0
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("n_trail", sum(col("n")).over(trail))
      .withColumn("d_trail", count(col("n")).over(trail))
      .filter(col("d_trail") >= 3)
      .select(col("day"), col("event_type"), col("n"), col("n_trail"), col("d_trail"),
        ((col("n") * col("d_trail")) > (col("n_trail") * 2)).cast("int").as("is_spike"))
      .orderBy("day", "event_type")
  }

  /** MAD robust-anomaly gate — the GLOBAL robust twin of [[rateAnomaly]]'s
    * trailing-mean rule: per (day, type) counts scored against the
    * per-type median and median-absolute-deviation, flagged when
    * |n − median| > 3·MAD (the robust z-score rule monitoring stacks use
    * where a handful of spike days would drag a mean/stddev baseline).
    *
    * Cross-engine exactness: the counts are integers, so every median is
    * an integer or an exact half, |n − med| is an exact binary fraction,
    * and the 3·MAD comparison is exact — both engines interpolate the
    * even-count median identically (the `r_median` precedent), so no
    * epsilon is needed. MAD = 0 (over half the days identical) flags any
    * deviating day, deterministically.
    *
    * Scale shape: the corpus-sized work is ONE map-side-combined count to
    * O(days × types) rows; medians aggregate that bounded domain and
    * broadcast back. Nothing after the first count is
    * corpus-proportional. */
  def madAnomaly(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val med = daily.groupBy("event_type")
      .agg(median(col("n").cast("double")).as("med"))
    val dev = daily.join(med, "event_type")
      .withColumn("adev", abs(col("n").cast("double") - col("med")))
    val mad = dev.groupBy("event_type").agg(median(col("adev")).as("mad"))
    dev.join(mad, "event_type")
      .select(col("day"), col("event_type"), col("n"), col("med"), col("mad"),
        (col("adev") > col("mad") * 3).cast("int").as("is_anomaly"))
      .orderBy("day", "event_type")
  }

  /** Cohort RETENTION — the product-analytics classic: users grouped by
    * their first-activity week; each later week's activity counted as
    * (cohort_week, week_offset, n_active, cohort_size, retention).
    *
    * Scale shape: the corpus-sized work is ONE distinct to (user, week)
    * pairs with map-side combine; the cohort min and the join back are
    * co-partitioned on user_id (the identical distinct subtree appears
    * twice and Catalyst's ReuseExchange ships its shuffle once); the
    * final aggregate runs over the O(weeks²) offset domain and cohort
    * sizes broadcast. After the first distinct, nothing is
    * corpus-proportional. Each (user, week) pair is unique, so the
    * offset-level count needs no expensive count-distinct. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val wk = Tables.events(s, d)
      .select(col("user_id"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) / 7)
          .cast("long").as("week"))
      .distinct()
    val cohorts = wk.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    wk.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** The sliding COUNT DISTINCT engine behind [[activeUsers]] (7-day WAU)
    * and [[stickiness]] (28-day MAU), WITHOUT row amplification: a user
    * counts toward day `d` iff any of their active days falls in
    * `[d-w+1, d]`, i.e. their coverage is the union of `[a, a+w-1]` over
    * active days `a`. Per user, consecutive active days with gap < `w`
    * merge into ISLANDS (lag + cumulative sum over the user's OWN days —
    * each task sorts only one user's activity); an island `[first, last]`
    * covers `[first, last+w-1]` and emits a +1/−1 delta pair. Islands of
    * one user are coverage-disjoint (split exactly where the union
    * breaks), so nobody double-counts. The deltas then collapse to a
    * per-day net on the O(days) domain and one running sum over that
    * bounded table (the [[concurrency]] phase-1 shape — single-partition
    * is fine at O(days) ≪ O(rows)) yields the count for every observed
    * day. No w× explode, no second corpus-sized distinct: the only
    * corpus-sized shuffles are the (user, day) distinct and the per-user
    * sort, both linear in the input. */
  private def slidingActive(
      s: SparkSession, d: String, windowDays: Int, cntName: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = ud
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(wUser)))
      .withColumn("head",
        when(col("gap").isNull || col("gap") >= windowDays, 1L).otherwise(0L))
      .withColumn("island", sum(col("head")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("day")).as("start"),
        date_add(max(col("day")), windowDays - 1).as("end"))
    val deltas = islands.select(col("start").as("day"), lit(1L).as("net"))
      .unionAll(islands.select(date_add(col("end"), 1).as("day"), lit(-1L).as("net")))
      // observed days anchor the running sum so coverage is readable at
      // every day the output reports, not just at island boundaries
      .unionAll(dau.select(col("day"), lit(0L).as("net")))
      .groupBy("day").agg(sum(col("net")).as("net"))
    val covered = deltas
      .withColumn(cntName, sum(col("net")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col(cntName))
    // joining on observed days drops the phantom tail past the last event
    dau.join(covered, "day")
      .select(col("day"), col("dau"), col(cntName))
      .orderBy("day")
  }

  /** Rolling active users — DAU and trailing-7-day WAU per calendar day
    * via [[slidingActive]]'s island merge + ±1 deltas + bounded prefix
    * sum: linear in the corpus, no 7× fan-out, no re-dedup shuffle. */
  def activeUsers(s: SparkSession, d: String): DataFrame =
    slidingActive(s, d, windowDays = 7, cntName = "wau")

  /** Weekly growth accounting — the new / retained / resurrected /
    * churned decomposition of every week's active-user count (the
    * standard product-growth ledger next to [[retention]]'s cohort
    * view). Classification per (user, week): `new` = first-ever active
    * week, `retained` = also active the prior week, `resurrected` =
    * returning after a gap; `churned(w)` = active in w−1 but not w
    * (attributed to w, and only for weeks before the observed horizon —
    * nobody churns "after" the last week we can see).
    *
    * Scale shape: ONE corpus-sized distinct to (user, week) — the same
    * first shuffle [[retention]] pays, and Catalyst's ReuseExchange
    * ships it once across the four consumers — then every join is an
    * equi-join on (user_id, week±1) over the distinct pairs, and the
    * final aggregate lives on the O(weeks) domain. The horizon is a
    * one-row aggregate broadcast into the churn filter. No windows, no
    * range joins, nothing corpus-sized after the first distinct. */
  def growthAccounting(s: SparkSession, d: String): DataFrame = {
    val wk = Tables.events(s, d)
      .select(col("user_id"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) / 7)
          .cast("long").as("week"))
      .distinct()
    val first = wk.groupBy("user_id").agg(min(col("week")).as("first_week"))
    // "was active the week before", re-keyed to the week it explains
    val prev = wk.select(col("user_id"), (col("week") + 1).as("week"), lit(1).as("was_prev"))
    val act = wk.join(first, "user_id")
      .join(prev, Seq("user_id", "week"), "left")
      .select(col("week"),
        (col("week") === col("first_week")).cast("int").as("is_new"),
        coalesce(col("was_prev"), lit(0)).as("is_retained"))
    val perWeek = act.groupBy("week").agg(
      sum(col("is_new")).as("n_new"),
      sum(col("is_retained")).as("n_retained"),
      sum(lit(1) - col("is_new") - col("is_retained")).as("n_resurrected"))
    val horizon = wk.agg(max(col("week")).as("max_week"))
    // active at w with no (user, w+1) row → churned, attributed to w+1
    val next = wk.select(col("user_id"), (col("week") - 1).as("week"))
    val churned = wk.crossJoin(broadcast(horizon))
      .filter(col("week") < col("max_week"))
      .join(next, Seq("user_id", "week"), "left_anti")
      .groupBy((col("week") + 1).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    perWeek.join(churned, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("week")
  }

  /** Power-user curve — the engagement histogram: how many users were
    * active exactly k distinct days (plus each bucket's share of all
    * user-days, the "what fraction of activity comes from the heavy
    * tail" read). The L-shape vs bell-shape of this curve is the
    * standard first diagnostic on any activity corpus.
    *
    * Scale shape: corpus → distinct (user, day) pairs (one shuffle,
    * map-side combine) → O(users) per-user counts → O(max-days)
    * histogram. Each reduction is a plain hash aggregate; the totals
    * are one-row aggregates broadcast into the final projection. The
    * share is a single IEEE division of exact integers, so it is
    * bit-identical cross-engine. */
  def powerCurve(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val perUser = ud.groupBy("user_id").agg(count(lit(1)).as("n_days"))
    val hist = perUser.groupBy("n_days").agg(count(lit(1)).as("n_users"))
    val totals = perUser.agg(sum(col("n_days")).as("total_user_days"))
    hist.crossJoin(broadcast(totals))
      .select(col("n_days"), col("n_users"),
        (col("n_days") * col("n_users")).as("user_days"),
        ((col("n_days") * col("n_users")).cast("double")
          / col("total_user_days").cast("double")).as("share_of_activity"))
      .orderBy("n_days")
  }

  /** STICKINESS — DAU / trailing-28-day MAU per day, the engagement dial
    * product teams actually watch. [[slidingActive]]'s island merge +
    * ±1 deltas + bounded prefix sum at the 28-day horizon — no 28×
    * fan-out, no re-dedup shuffle; the ratio is one IEEE division of
    * exact integers. Days with < 28 days of observed history still
    * report (the standard dashboard convention); the join on observed
    * days drops the phantom tail past the last event. */
  def stickiness(s: SparkSession, d: String): DataFrame =
    slidingActive(s, d, windowDays = 28, cntName = "mau")
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
      .orderBy("day")

  private[graft] val DebounceGapUs = 1800L * 1000000L // 30 min, in exact integer µs

  /** DEBOUNCE — telemetry burst collapse: chains of same-(user, type)
    * events with inter-arrival ≤ the gap collapse to their FIRST event,
    * annotated with how many raw events the burst absorbed (retry storms,
    * double-clicks, at-least-once replays). The batch twin of the
    * streaming dedup family: those drop exact duplicate ids; this
    * collapses distinct-but-bursty events by time proximity.
    *
    * Scale shape: [[sessioned]]'s — one shuffle on (user, type), two
    * intra-partition window passes (lag, running sum) over integer
    * microseconds, then a per-burst aggregate on the same partitioning.
    * Nothing leaves the (user, type) partition; ties break on event_id
    * in both engines so burst heads are deterministic. */
  def debounce(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_head",
        when(col("prev_us").isNull || (col("us") - col("prev_us")) > DebounceGapUs, 1)
          .otherwise(0))
      .withColumn("burst_id", sum(col("is_head")).over(run))
      .groupBy(col("user_id"), col("event_type"), col("burst_id"))
      .agg(
        // exactly one row per burst carries is_head = 1: its event_id
        max(when(col("is_head") === 1, col("event_id"))).as("event_id"),
        min(col("us")).as("us"),
        count(lit(1)).as("n_collapsed"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("us"), col("n_collapsed"))
      .orderBy("user_id", "event_type", "us", "event_id")
  }

  def rollupStageDir(sfDir: String): String = graft.Staging.dir("rollup", sfDir)

  /** INCREMENTAL ROLLUP — materialized-view maintenance, the lambda shape:
    * daily (day, event_type) aggregates for every SEALED day (all days
    * before the newest observed date) are STAGED once via the Staging
    * protocol; a query re-aggregates only the HOT day from raw events and
    * unions it on. Sealed days never rescan raw data — at 100 TB the
    * nightly ingest appends one day's rollup rows and a month query reads
    * O(days × types) staged rows plus a single day of raw events (on the
    * production date-partitioned layout the tail filter prunes to the hot
    * partition — `k_layout_prune` proves that machinery; the fixture is a
    * single file, so here the filter merely rides the scan).
    *
    * The hot/sealed boundary is a one-row max-date aggregate collected on
    * the driver (an index-build action, same class as the bloom builds) so
    * the tail predicate is a literal. Counts are exact integers and sums
    * go through the exact-decimal [[dsum]]; each output row is produced by
    * exactly ONE of the two paths (no double-count at the boundary), so
    * staged + fresh is bit-identical to the full recompute the oracle
    * runs. */
  def incrementalRollup(s: SparkSession, d: String): DataFrame = {
    val dir = rollupStageDir(d)
    val path = dir + "/daily"
    val maxDay = Tables.events(s, d)
      .agg(max(to_date(col("ts"))).as("mx")).head().getDate(0)
    val boundary = lit(maxDay).cast("timestamp")
    def daily(df: DataFrame): DataFrame = df
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    graft.Staging.ensure(dir, Seq(s"$d/events.parquet")) {
      daily(Tables.events(s, d).filter(col("ts") < boundary))
        .write.mode("overwrite").parquet(path)
    }: Unit
    Tables.parquet(s, path)
      .unionByName(daily(Tables.events(s, d).filter(col("ts") >= boundary)))
      .orderBy("day", "event_type")
  }

  /** MISSING-WINDOW (heartbeat blackout) detection — the data-
    * completeness audit every telemetry ingest runs: for each user,
    * every calendar day between their first and last activity with ZERO
    * events. The sensor/source that went dark mid-life is invisible to
    * per-day aggregates (no row, no group); this op materializes the
    * absence. Shape: per-user bounds in one map-side-combined aggregate,
    * expected days generated by a narrow `sequence`+`explode` (rows
    * bounded by the user's lifespan, not the corpus), then a LEFT ANTI
    * join against observed (user, day) — both sides shuffle on the same
    * (user_id, day) key, never corpus × days. */
  def missingWindows(s: SparkSession, d: String): DataFrame = {
    val seen = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val expected = seen.groupBy(col("user_id"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    expected.join(seen, Seq("user_id", "day"), "left_anti")
      .orderBy("user_id", "day")
  }

  private val ConcHoldUs = 1800L * 1000000L  // each event holds a slot 30 min
  private val ConcBucketUs = 3600L * 1000000L

  /** MAX-CONCURRENCY sweep line (peak simultaneous sessions per hour) via
    * the DISTRIBUTED TWO-PHASE PREFIX SUM — the pattern for any global
    * running total at scale. The naive form is a window over the global
    * event order: one task sorts the entire corpus. Instead: each
    * interval emits ±1 deltas; deltas bucket by hour; phase 1 computes
    * per-bucket totals (map-side combined, O(buckets) rows) and turns
    * them into per-bucket STARTING OFFSETS with a window over that
    * bounded table (single-partition is fine at O(buckets) ≪ O(rows));
    * phase 2 runs the within-bucket running sum partitioned BY BUCKET —
    * every task sorts only its bucket's deltas — and adds the offset.
    * Ties at one instant are ordered (−1 before +1), so concurrency is
    * the half-open [start, end) count and the per-hour max is a
    * deterministic multiset maximum in both engines. */
  def concurrency(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val ev = Tables.events(s, d)
    val deltas = ev.select(us.as("us"), lit(1L).as("delta"))
      .unionAll(ev.select((us + ConcHoldUs).as("us"), lit(-1L).as("delta")))
      .withColumn("bucket", expr(s"us div ${ConcBucketUs}L"))
    val offsets = deltas.groupBy(col("bucket"))
      .agg(sum(col("delta")).as("tot"))
      .withColumn("offset",
        coalesce(sum(col("tot")).over(
          Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("offset"))
    val wInner = Window.partitionBy(col("bucket")).orderBy(col("us"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.join(broadcast(offsets), "bucket")
      .withColumn("conc", col("offset") + sum(col("delta")).over(wInner))
      .groupBy((col("bucket") * ConcBucketUs).as("hour_us"))
      .agg(max(col("conc")).as("max_conc"))
      .orderBy("hour_us")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e_concurrency" -> (concurrency _),
    "e_missing_windows" -> (missingWindows _),
    "e_retention" -> (retention _),
    "e_power_curve" -> (powerCurve _),
    "e_debounce" -> (debounce _),
    "e_incremental_rollup" -> (incrementalRollup _),
    "e_stickiness" -> (stickiness _),
    "e_active_users" -> (activeUsers _),
    "e_growth_accounting" -> (growthAccounting _),
    "e_rate_anomaly" -> (rateAnomaly _),
    "e_ewma" -> (ewma _),
    "e_cusum" -> (cusum _),
    "e_asof_forward" -> (asofForward _),
    "e_mad_anomaly" -> (madAnomaly _),
    "e_gapfill" -> (gapfill _),
    "e_interpolate" -> (interpolate _),
    "e_funnel_attribution" -> (funnelAttribution _),
    "e_sessionize" -> (sessionize _),
    "e_interval_overlap" -> (intervalOverlap _),
    "e_ab_lift" -> (abLift _),
    "e_session_funnel" -> (sessionFunnel _),
    "e_asof_join" -> (asofJoin _),
    "e_asof_two_table" -> (asofTwoTable _),
    "e_range_join" -> (rangeJoin _),
  )

  val oracle: Map[String, String] = Map(
    // the naive single-window global running sum the two-phase prefix
    // sum must reproduce: same tie order (−1 before +1 at one instant),
    // same per-hour multiset maximum
    "e_concurrency" ->
      s"""WITH pts AS (
         |  SELECT epoch_ns(ts) // 1000 AS us, 1 AS delta FROM events
         |  UNION ALL
         |  SELECT epoch_ns(ts) // 1000 + $ConcHoldUs, -1 FROM events),
         |run AS (
         |  SELECT us, SUM(delta) OVER (ORDER BY us, delta
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |  FROM pts)
         |SELECT (us // $ConcBucketUs) * $ConcBucketUs AS hour_us,
         |       CAST(MAX(conc) AS BIGINT) AS max_conc
         |FROM run GROUP BY 1 ORDER BY 1""".stripMargin,
    // set difference of expected-vs-observed (user, day): EXCEPT is the
    // anti-join's relational spelling
    "e_missing_windows" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM a GROUP BY user_id),
        |ex AS (SELECT user_id,
        |              CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |                                          CAST(hi AS TIMESTAMP),
        |                                          INTERVAL 1 DAY)) AS DATE) AS day
        |       FROM b)
        |SELECT user_id, day FROM ex
        |EXCEPT SELECT user_id, day FROM a
        |ORDER BY user_id, day""".stripMargin,
    "e_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
        |contrib AS (SELECT DISTINCT u.user_id, u.day + CAST(x.i AS INT) AS day
        |            FROM ud u, (SELECT unnest(range(0, 28)) AS i) x),
        |mau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS mau FROM contrib GROUP BY day)
        |SELECT d.day, d.dau, m.mau,
        |       CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
        |FROM dau d JOIN mau m USING (day)
        |ORDER BY day""".stripMargin,
    // the full recompute the incremental path must reproduce exactly
    "e_incremental_rollup" ->
      s"""SELECT CAST(ts AS DATE) AS day, event_type,
         |       CAST(COUNT(*) AS BIGINT) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY day, event_type""".stripMargin,
    "e_debounce" ->
      s"""WITH lagged AS (
         |  SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS us,
         |         lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id, event_type
         |                                         ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_us
         |  FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $DebounceGapUs
         |                 THEN 1 ELSE 0 END AS is_head
         |  FROM lagged),
         |bursts AS (
         |  SELECT *, SUM(is_head) OVER (PARTITION BY user_id, event_type
         |                               ORDER BY us, event_id
         |                               ROWS UNBOUNDED PRECEDING) AS burst_id
         |  FROM flagged)
         |SELECT user_id, event_type,
         |       MAX(CASE WHEN is_head = 1 THEN event_id END) AS event_id,
         |       MIN(us) AS us, COUNT(*) AS n_collapsed
         |FROM bursts
         |GROUP BY user_id, event_type, burst_id
         |ORDER BY user_id, event_type, us, event_id""".stripMargin,
    "e_power_curve" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days FROM ud GROUP BY user_id),
        |h AS (SELECT n_days, CAST(COUNT(*) AS BIGINT) AS n_users FROM pu GROUP BY n_days),
        |t AS (SELECT CAST(SUM(n_days) AS BIGINT) AS total_user_days FROM pu)
        |SELECT n_days, n_users,
        |       n_days * n_users AS user_days,
        |       CAST(n_days * n_users AS DOUBLE) / CAST(total_user_days AS DOUBLE)
        |         AS share_of_activity
        |FROM h CROSS JOIN t
        |ORDER BY n_days""".stripMargin,
    "e_growth_accounting" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |              CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS week
        |            FROM events),
        |f AS (SELECT user_id, MIN(week) AS first_week FROM wk GROUP BY user_id),
        |act AS (SELECT w.week,
        |          CASE WHEN w.week = f.first_week THEN 1 ELSE 0 END AS is_new,
        |          CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_retained
        |        FROM wk w JOIN f USING (user_id)
        |        LEFT JOIN wk p ON p.user_id = w.user_id AND p.week = w.week - 1),
        |pw AS (SELECT week, CAST(SUM(is_new) AS BIGINT) AS n_new,
        |              CAST(SUM(is_retained) AS BIGINT) AS n_retained,
        |              CAST(SUM(1 - is_new - is_retained) AS BIGINT) AS n_resurrected
        |       FROM act GROUP BY week),
        |mx AS (SELECT MAX(week) AS max_week FROM wk),
        |ch AS (SELECT w.week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
        |       FROM wk w CROSS JOIN mx
        |       WHERE w.week < mx.max_week
        |         AND NOT EXISTS (SELECT 1 FROM wk n
        |                         WHERE n.user_id = w.user_id AND n.week = w.week + 1)
        |       GROUP BY w.week + 1)
        |SELECT COALESCE(pw.week, ch.week) AS week,
        |       COALESCE(n_new, 0) AS n_new,
        |       COALESCE(n_retained, 0) AS n_retained,
        |       COALESCE(n_resurrected, 0) AS n_resurrected,
        |       COALESCE(n_churned, 0) AS n_churned
        |FROM pw FULL OUTER JOIN ch ON pw.week = ch.week
        |ORDER BY week""".stripMargin,
    "e_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |              CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT) AS week
        |            FROM events),
        |ch AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
        |sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |       FROM ch GROUP BY cohort_week),
        |act AS (SELECT ch.cohort_week, wk.week - ch.cohort_week AS week_offset
        |        FROM wk JOIN ch USING (user_id))
        |SELECT a.cohort_week, CAST(a.week_offset AS BIGINT) AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_active, sz.cohort_size,
        |       CAST(COUNT(*) AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
        |FROM act a JOIN sz USING (cohort_week)
        |GROUP BY a.cohort_week, a.week_offset, sz.cohort_size
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "e_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
        |contrib AS (SELECT DISTINCT u.user_id, u.day + CAST(x.i AS INT) AS day
        |            FROM ud u, (SELECT unnest(range(0, 7)) AS i) x),
        |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM contrib GROUP BY day)
        |SELECT d.day, d.dau, w.wau FROM dau d JOIN wau w USING (day)
        |ORDER BY day""".stripMargin,
    "e_rate_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT day, event_type, n,
        |         SUM(n) OVER (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
        |                      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_trail,
        |         COUNT(n) OVER (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
        |                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS d_trail
        |  FROM daily)
        |SELECT day, event_type, n, CAST(n_trail AS BIGINT) AS n_trail, d_trail,
        |       CAST(n * d_trail > n_trail * 2 AS INT) AS is_spike
        |FROM t WHERE d_trail >= 3
        |ORDER BY day, event_type""".stripMargin,
    // the same truncating-integer update stepped through a RECURSIVE CTE
    // over the dense grid (missing days = 0); spike compares each raw day
    // against the PRIOR smoothed level via LAG
    "e_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) - MIN(day) AS nd FROM daily),
        |grid AS (
        |  SELECT t.event_type, CAST(i AS INT) AS idx, b.d0 + CAST(i AS INT) AS day
        |  FROM (SELECT DISTINCT event_type FROM daily) t, b,
        |       LATERAL (SELECT unnest(generate_series(0, CAST(b.nd AS BIGINT))) AS i)),
        |serie AS (
        |  SELECT g.event_type, g.idx, g.day, COALESCE(d.n, 0) AS n
        |  FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day),
        |ew AS (
        |  SELECT event_type, idx, day, n, n * 1000 AS s
        |  FROM serie WHERE idx = 0
        |  UNION ALL
        |  SELECT s2.event_type, s2.idx, s2.day, s2.n, (3 * e.s + s2.n * 1000) // 4
        |  FROM ew e JOIN serie s2
        |    ON s2.event_type = e.event_type AND s2.idx = e.idx + 1)
        |SELECT event_type, day, n, CAST(s AS BIGINT) AS ewma_s,
        |       CAST(CASE WHEN idx > 0 AND n * 1000 >
        |                    2 * LAG(s) OVER (PARTITION BY event_type ORDER BY idx)
        |                 THEN 1 ELSE 0 END AS INT) AS spike
        |FROM ew
        |ORDER BY event_type, day""".stripMargin,
    "e_cusum" ->
      s"""WITH RECURSIVE daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) AS d0, MAX(day) - MIN(day) AS nd FROM daily),
        |grid AS (
        |  SELECT t.event_type, CAST(i AS INT) AS idx, b.d0 + CAST(i AS INT) AS day
        |  FROM (SELECT DISTINCT event_type FROM daily) t, b,
        |       LATERAL (SELECT unnest(generate_series(0, CAST(b.nd AS BIGINT))) AS i)),
        |serie AS (
        |  SELECT g.event_type, g.idx, g.day, COALESCE(d.n, 0) AS n
        |  FROM grid g LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day),
        |mu AS (
        |  SELECT event_type, SUM(n) * 1000 // COUNT(*) AS mu1000
        |  FROM serie WHERE idx < $CusumBaseline GROUP BY event_type),
        |cu AS (
        |  SELECT s.event_type, s.idx, s.day, s.n,
        |         GREATEST(CAST(0 AS BIGINT),
        |           1000 * s.n - m.mu1000 - m.mu1000 // 4) AS s
        |  FROM serie s JOIN mu m USING (event_type) WHERE s.idx = 0
        |  UNION ALL
        |  SELECT s2.event_type, s2.idx, s2.day, s2.n,
        |         GREATEST(CAST(0 AS BIGINT),
        |           c.s + 1000 * s2.n - m.mu1000 - m.mu1000 // 4)
        |  FROM cu c
        |  JOIN serie s2 ON s2.event_type = c.event_type AND s2.idx = c.idx + 1
        |  JOIN mu m ON m.event_type = s2.event_type)
        |SELECT c.event_type, c.day, c.n, CAST(c.s AS BIGINT) AS cusum_s,
        |       CAST(CASE WHEN c.s > 2 * m.mu1000 THEN 1 ELSE 0 END AS INT) AS alarm
        |FROM cu c JOIN mu m USING (event_type)
        |ORDER BY c.event_type, c.day""".stripMargin,
    "e_mad_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, median(CAST(n AS DOUBLE)) AS med
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT day, daily.event_type, n, med,
        |               abs(CAST(n AS DOUBLE) - med) AS adev
        |        FROM daily JOIN med USING (event_type)),
        |mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT day, dev.event_type, n, med, mad,
        |       CAST(adev > mad * 3 AS INT) AS is_anomaly
        |FROM dev JOIN mad USING (event_type)
        |ORDER BY day, event_type""".stripMargin,
    "e_gapfill" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type
         |            FROM events WHERE user_id < 20),
         |daily AS (SELECT user_id, day, COUNT(*) AS n_events, MAX(event_type) AS day_type
         |          FROM ev GROUP BY user_id, day),
         |days AS (SELECT CAST(unnest(generate_series(DATE '$GridFrom', DATE '$GridTo',
         |                 INTERVAL 1 DAY)) AS DATE) AS day),
         |grid AS (SELECT u.user_id, days.day
         |         FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN days)
         |SELECT g.user_id, g.day,
         |       COALESCE(d.n_events, 0) AS n_events,
         |       last_value(d.day_type IGNORE NULLS) OVER (
         |         PARTITION BY g.user_id ORDER BY g.day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_type
         |FROM grid g LEFT JOIN daily d USING (user_id, day)
         |ORDER BY user_id, day""".stripMargin,
    // same (us, side, event_id) order, same IGNORE-NULLS running
    // windows — clicks sort before purchases at equal time so
    // at-or-before includes ties, as in the as-of oracle
    "e_funnel_attribution" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type, value,
         |         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
         |         CASE WHEN event_type = 'click'
         |              THEN CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5 END AS click_channel
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |w AS (
         |  SELECT *,
         |         first_value(click_channel IGNORE NULLS) OVER (PARTITION BY user_id
         |           ORDER BY us, side, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ch,
         |         last_value(click_channel IGNORE NULLS) OVER (PARTITION BY user_id
         |           ORDER BY us, side, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_ch
         |  FROM ev),
         |p AS (SELECT * FROM w WHERE side = 1)
         |SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
         |       ${sqlDsum("value")} AS attributed_value
         |FROM (
         |  SELECT 'first_touch' AS model, COALESCE(first_ch, -1) AS channel, value FROM p
         |  UNION ALL
         |  SELECT 'last_touch', COALESCE(last_ch, -1), value FROM p) u
         |GROUP BY model, channel
         |ORDER BY model, channel""".stripMargin,
    // identical LWW pick, identical fixed-order interpolation formula —
    // the division-then-multiply order is part of the contract
    "e_interpolate" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value,
         |              row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
         |                ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
         |            FROM events WHERE user_id < 20),
         |obs AS (SELECT user_id, day, value FROM ev WHERE rn = 1),
         |days AS (SELECT CAST(unnest(generate_series(DATE '$GridFrom', DATE '$GridTo',
         |                 INTERVAL 1 DAY)) AS DATE) AS day),
         |grid AS (SELECT u.user_id, days.day
         |         FROM (SELECT DISTINCT user_id FROM obs) u CROSS JOIN days),
         |g AS (SELECT grid.user_id, grid.day, o.value,
         |             CASE WHEN o.value IS NOT NULL THEN grid.day END AS obs_day
         |      FROM grid LEFT JOIN obs o USING (user_id, day)),
         |w AS (SELECT user_id, day, value,
         |        last_value(obs_day IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d0,
         |        last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         |        first_value(obs_day IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d1,
         |        first_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
         |      FROM g)
         |SELECT user_id, day,
         |       CASE WHEN value IS NOT NULL THEN 'obs'
         |            WHEN d0 IS NOT NULL AND d1 IS NOT NULL THEN 'interp'
         |            ELSE 'edge' END AS kind,
         |       CASE WHEN value IS NOT NULL THEN value
         |            WHEN d0 IS NOT NULL AND d1 IS NOT NULL THEN
         |              v0 + (v1 - v0) * (CAST(day - d0 AS DOUBLE) / CAST(d1 - d0 AS DOUBLE))
         |       END AS ival
         |FROM w ORDER BY user_id, day""".stripMargin,
    // arms, rates, and the cross-multiplied verdict rebuilt from the
    // same md5 assignment rule
    "e_ab_lift" ->
      s"""WITH u AS (SELECT user_id,
         |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         |             CASE WHEN ${graft.QueryDsl.sqlHex8("md5('ab_' || user_id)", 1)} % 2 = 0
         |                  THEN 'control' ELSE 'treatment' END AS arm
         |           FROM events GROUP BY user_id),
         |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_exposed,
         |             CAST(SUM(converted) AS BIGINT) AS n_converted
         |      FROM u GROUP BY arm),
         |v AS (SELECT CAST(CASE WHEN t.n_converted * c.n_exposed
         |                        > c.n_converted * t.n_exposed
         |                  THEN 1 ELSE 0 END AS INT) AS treatment_wins
         |      FROM a c, a t WHERE c.arm = 'control' AND t.arm = 'treatment')
         |SELECT a.arm, a.n_exposed, a.n_converted,
         |       CAST(a.n_converted AS DOUBLE) / CAST(a.n_exposed AS DOUBLE) AS conv_rate,
         |       v.treatment_wins
         |FROM a, v ORDER BY arm""".stripMargin,
    // the naive interval-intersection join over recomputed sessions and
    // the same top-K outage hours — the independent algorithm
    "e_interval_overlap" ->
      (sessionedCte +
        s""",
           |sess AS (SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us
           |         FROM sessioned GROUP BY user_id, session_id),
           |oh AS (SELECT (epoch_ns(ts) // 1000) // $HourUs AS hour, COUNT(*) AS n
           |       FROM events WHERE event_type = 'error' GROUP BY 1
           |       ORDER BY n DESC, hour LIMIT $OutageTopK),
           |oi AS (SELECT hour * $HourUs AS o_start, (hour + 1) * $HourUs AS o_end FROM oh),
           |ov AS (SELECT s.user_id, s.start_us,
           |         LEAST(s.end_us + 1, oi.o_end) - GREATEST(s.start_us, oi.o_start) AS ol
           |       FROM sess s JOIN oi ON s.start_us < oi.o_end AND oi.o_start <= s.end_us)
           |SELECT user_id, start_us, CAST(COUNT(*) AS BIGINT) AS n_outages,
           |       CAST(SUM(ol) AS BIGINT) AS overlap_us
           |FROM ov GROUP BY 1, 2
           |ORDER BY user_id, start_us""".stripMargin),
    "e_sessionize" ->
      (sessionedCte +
        s"""
           |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           |       MIN(us) AS start_us, MAX(us) AS end_us,
           |       ${sqlDsum("value")} AS sum_value
           |FROM sessioned GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin),
    "e_session_funnel" ->
      (sessionedCte +
        """,
          |wc AS (
          |  SELECT *, MIN(CASE WHEN event_type = 'click' THEN us END)
          |              OVER (PARTITION BY user_id, session_id) AS first_click_us
          |  FROM sessioned)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          |       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
          |       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
          |       CAST(MAX(CASE WHEN event_type = 'purchase' AND first_click_us IS NOT NULL
          |                      AND us >= first_click_us THEN 1 ELSE 0 END) AS INT) AS converted
          |FROM wc GROUP BY user_id, session_id
          |ORDER BY user_id, session_id""".stripMargin),
    // an INDEPENDENT formulation: per click, the correlated minimum
    // purchase in (us, event_id) order within tolerance — not a window
    "e_asof_forward" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  epoch_ns(ts) // 1000 AS us FROM events),
         |c AS (SELECT * FROM e WHERE event_type = 'click'),
         |p AS (SELECT * FROM e WHERE event_type = 'purchase')
         |SELECT c.user_id, c.event_id AS click_id, c.us AS click_us,
         |  (SELECT p.event_id FROM p WHERE p.user_id = c.user_id
         |     AND (p.us > c.us OR (p.us = c.us AND p.event_id > c.event_id))
         |     AND p.us - c.us <= ${AsofFwdTolUs}
         |   ORDER BY p.us, p.event_id LIMIT 1) AS next_purchase_id,
         |  (SELECT p.us - c.us FROM p WHERE p.user_id = c.user_id
         |     AND (p.us > c.us OR (p.us = c.us AND p.event_id > c.event_id))
         |     AND p.us - c.us <= ${AsofFwdTolUs}
         |   ORDER BY p.us, p.event_id LIMIT 1) AS wait_us
         |FROM c
         |ORDER BY user_id, click_id""".stripMargin,
    "e_asof_join" ->
      """WITH carried AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us,
        |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS click_id,
        |         last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS click_value
        |  FROM events)
        |SELECT user_id, event_id AS purchase_id, us AS purchase_us, click_id, click_value
        |FROM carried WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin,
    // the oracle is DuckDB's NATIVE ASOF JOIN — an independent algorithm
    // (sorted merge), not a mirror of the union-window plan
    "e_asof_two_table" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id AS click_id,
        |             value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, p.us AS purchase_us, c.click_id, c.click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
        |ORDER BY p.user_id, p.purchase_id""".stripMargin,
    // the oracle runs the UNBUCKETIZED range join: bucketization must not
    // change the answer, only the join strategy
    "e_range_join" ->
      s"""WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 AS us, value FROM events),
         |a AS (SELECT event_id AS anchor_id, us AS start_us, us + 7200000000 AS end_us
         |      FROM e WHERE event_id < 40)
         |SELECT anchor_id, COUNT(*) AS n_events,
         |       ${sqlDsum("value")} AS sum_value
         |FROM a JOIN e ON e.us >= a.start_us AND e.us <= a.end_us
         |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin,
  )
}
