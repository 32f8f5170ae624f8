package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Shared helpers for oracle-checkable queries.
  *
  * Cross-engine determinism rules (SURVEY.md §7.4):
  *   - Floating-point SUM/AVG accumulate in partition order, which differs
  *     between Spark and the DuckDB oracle. `dsum` casts each addend to an
  *     exact DECIMAL first, sums exactly, then casts the total back to
  *     double — bit-identical in any engine and any partitioning, at any
  *     scale. CAVEAT (found at sf0.1): the double→decimal cast itself is
  *     NOT engine-deterministic when a value sits within ~1 ULP of a
  *     decimal-grid midpoint. A binary double never equals the midpoint,
  *     but Spark rounds the double's SHORTEST DECIMAL RENDERING
  *     (Double.toString, which can land exactly on it) HALF_UP, while
  *     DuckDB rounds the scaled binary value — doc 479's quality score
  *     0.8987499999999999 ("0.89875") went 0.8987 in Spark and 0.8988 in
  *     DuckDB. Harmless for measures already exact at the cast scale
  *     (parquet 2-decimal amounts under scale 4), fatal for measures
  *     CONSTRUCTED on a finer decimal grid (the quality score's rational
  *     arithmetic lands exactly on 5e-5 boundaries) — those must
  *     aggregate through [[davg4]], which rounds in pure IEEE ops before
  *     any decimal cast.
  *   - Every query ends in a total ORDER BY so row order is deterministic.
  *   - Every computed column is aliased identically in Spark and SQL.
  */
object QueryDsl {

  /** Pin-then-sort for COMPUTE-DENSE frames (r21, guide §1.2/§2.4): the
    * deterministic total ORDER BY every query ends in plans as a RANGE
    * exchange, and range partitioning SAMPLES its child to pick bounds —
    * so the child subtree executes TWICE (once in the sampling job, once
    * in the shuffle map stage). Harmless when the child is a materialized
    * AQE stage (post-aggregation sorts re-read shuffle output), but a
    * compute-dense NARROW child — parse kernel, regex scan, MinHash,
    * wholetext scan — pays its full cost twice. `localCheckpoint` pins
    * the frame once so both the sampler and the shuffle read materialized
    * rows (the candidatePairs/mediaPolicy pin precedent; on a
    * multi-executor cluster the same pin is a reliable `checkpoint(dir)`
    * or a staged table). Apply ONLY where the sort's child is expensive
    * narrow compute — a pin under a cheap child just adds a store+read
    * round trip. */
  def sortedPinned(df: org.apache.spark.sql.DataFrame, cols: Column*): org.apache.spark.sql.DataFrame =
    pin(df).orderBy(cols: _*)

  /** Whether the pin should be a RELIABLE `checkpoint(dir)` instead of
    * `localCheckpoint`. Pure so PinModeSpec can pin the decision table:
    * `auto` follows the deployment (local master → executor-local blocks
    * are safe and cheapest; any real cluster → reliable, because a pinned
    * frame stored only in executor memory/disk dies with a lost executor
    * and the pin is exactly where lineage was CUT — the job cannot
    * recompute it). Explicit `local`/`reliable` override either way. */
  private[graft] def pinReliable(mode: String, isLocalMaster: Boolean): Boolean =
    mode match {
      case "reliable" => true
      case "local" => false
      case _ => !isLocalMaster
    }

  /** The checkpoint dir a reliable pin must set, or None when the
    * context already has one. `spark.graft.checkpoint.dir` wins; a local
    * master falls back to a per-app /tmp dir. A cluster has NO fallback:
    * node-local /tmp is not shared storage, so checkpoint files written
    * by one executor would be unreadable from another node — the pin
    * fails fast instead, naming the conf to set. Pure so PinModeSpec can
    * pin the decision table. */
  private[graft] def pinCheckpointDir(isLocalMaster: Boolean, confDir: Option[String],
      contextDir: Option[String], appId: String): Option[String] =
    if (contextDir.nonEmpty) None
    else confDir.orElse {
      if (!isLocalMaster) throw new IllegalStateException(
        "a reliable pin on a cluster needs a shared checkpoint dir: set " +
          "spark.graft.checkpoint.dir (or SparkContext.setCheckpointDir) to durable storage")
      Some("/tmp/graft_checkpoints/" + appId)
    }

  /** MODE-AWARE execution pin (r22, r21 verdict item 5): every hot-path
    * pin routes through here. Under `local[*]` this is `localCheckpoint`
    * (executor-local blocks — fastest, and executor loss cannot happen in
    * one JVM). On a cluster it is a reliable `checkpoint` into
    * `spark.graft.checkpoint.dir` (required there, see
    * [[pinCheckpointDir]]), which survives executor loss — the
    * lost-executor-unsafe bare `localCheckpoint` was the r21 verdict's
    * one scale caveat on the sortedPinned family. Override with
    * `spark.graft.pin.mode` = `local` | `reliable`. Both modes
    * materialize the same rows; only fault tolerance differs. */
  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    val sc = s.sparkContext
    val mode = s.conf.get("spark.graft.pin.mode", "auto")
    if (pinReliable(mode, sc.isLocal)) {
      pinCheckpointDir(sc.isLocal, s.conf.getOption("spark.graft.checkpoint.dir"),
        sc.getCheckpointDir, sc.applicationId).foreach(sc.setCheckpointDir)
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 4))).cast(DoubleType)

  /** Exact average: decimal sum / count, one final double division. */
  def davg(c: Column): Column =
    (sum(c.cast(DecimalType(28, 4))).cast(DoubleType) / count(c)).cast(DoubleType)

  /** Grid-tie-safe exact mean for doubles that can sit ON the decimal
    * rounding grid (see the header caveat): each value is rounded to 4
    * decimals with pure IEEE double ops — multiply, add, floor — that
    * both engines execute bit-identically on the same input double, so
    * the engine-specific double→decimal tie-break never runs. The
    * rounded values are exact integers (summed as BIGINT, overflow-safe
    * to ~9e11 rows per group at unit-scale measures); the mean is ONE
    * final double division of two exactly-representable integers. */
  def davg4(c: Column): Column =
    (sum(floor(c * lit(10000d) + lit(0.5d))).cast(DoubleType) /
      (count(c) * lit(10000L)).cast(DoubleType)).cast(DoubleType)

  /** SQL fragment mirroring [[davg4]]. */
  def sqlDavg4(expr: String): String =
    s"CAST(SUM(CAST(floor(($expr) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)" +
      s" / CAST(COUNT($expr) * 10000 AS DOUBLE)"

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def sqlDsum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,4))) AS DOUBLE)"

  /** SQL fragment mirroring [[davg]]. */
  def sqlDavg(expr: String): String =
    s"CAST(CAST(SUM(CAST(($expr) AS DECIMAL(28,4))) AS DOUBLE) / COUNT($expr) AS DOUBLE)"

  /** DuckDB fragment parsing 8 hex chars of `m` (a hex-string expression)
    * from 1-based position `s` into a BIGINT — DuckDB 1.0 has no conv();
    * mirrors Spark's `conv(substring(m, s, 8), 16, 10)`. Used wherever an
    * oracle must reproduce md5-derived integers (MinHash, SRP hyperplanes,
    * hash-split assignment). */
  def sqlHex8(m: String, s: Int): String =
    (0 until 8).map { k =>
      val mult = math.pow(16, 7 - k).toLong
      s"(strpos('0123456789abcdef', substr($m, ${s + k}, 1)) - 1) * CAST($mult AS BIGINT)"
    }.mkString("(", " + ", ")")
}
