package graft

import org.apache.spark.sql.SparkSession

/** One place for engine SparkSession config so Verify, Bench, and tests
  * agree. Values chosen for the local[N] harness but with the 1000-executor
  * deployment in mind: AQE re-plans shuffles at runtime (partition
  * coalescing + skew-join splitting), shuffle partitions sized to the
  * parallelism instead of the 200 default, UTC so timestamp semantics match
  * the DuckDB oracle.
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS); read as Long nanos (Tables
      // .events converts to TimestampType micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      // small-file scans (small-file parquet stages and run dirs, and any
      // caller's own wholetext read of the per-doc corpus; the engine reads
      // that corpus through DocDirV2, which packs its own splits): the
      // default 4 MiB per-file open cost packs only ~32 files per split →
      // thousands of near-empty tasks. 64 KiB reflects the real open cost.
      // It moves split packing for every file scan, so it stays as is.
      // Session-level on purpose: queries must not mutate shared conf.
      .config("spark.sql.files.openCostInBytes", s"${64L * 1024}")
      // managed tables (bucketed-join staging) land in /tmp, not the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // engine SQL surface: custom expressions (cosine_similarity, ...)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  def local(cpus: String, appName: String): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
