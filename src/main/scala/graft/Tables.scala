package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md), and
  * [[parquet]], the engine's one schemaless parquet reader.
  *
  * All engine queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * the parquet tables lazily, so Catalyst sees the scan and can push filters
  * and prune columns down to the parquet reader. At cluster scale the same
  * code reads a partitioned table from distributed storage — nothing here is
  * local-mode specific.
  *
  * A schemaless `read.parquet` runs a one-task Spark job to read a footer
  * on every call, before the query itself runs. [[parquet]] lets Spark
  * infer a schema once per set of input files and remembers it, per JVM;
  * every later read of the same files hands Spark that exact schema, so
  * plans and results are those of the schemaless read, minus the job. The
  * memo key is the read's qualified paths, a Hadoop listing (path, length,
  * modification time) of every file under them, and the session's
  * explicitly set parquet-inference confs: a rewrite, an added or removed
  * file, or a flipped conf such as `inferTimestampNTZ` re-infers. A failed
  * inference (a missing path, say) is never remembered and fails with
  * Spark's own error. The memo is an LRU of [[SchemaMemoSize]] entries.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Entries the schema memo keeps; per-call run directories each add a
    * key that is never read again, so the memo must not grow with calls. */
  private val SchemaMemoSize = 256

  /** Session confs that change what parquet inference returns. */
  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  private final case class SchemaKey(
      roots: Seq[String], files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size() > SchemaMemoSize
  }

  /** Every file under `p` (or `p` itself), sorted by path. */
  private def files(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.sortBy(_.getPath.toString)
      .flatMap(st => if (st.isDirectory) files(fs, st.getPath) else Seq(st))

  /** None when a path cannot be listed: the read then goes to Spark as
    * is, which reports the error. */
  private def schemaKey(s: SparkSession, paths: Seq[String]): Option[SchemaKey] = {
    val conf = s.sessionState.newHadoopConf()
    scala.util.Try {
      val listed = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        fs.makeQualified(path).toString -> files(fs, path)
      }
      SchemaKey(listed.map(_._1),
        listed.flatMap(_._2).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)),
        s.conf.getAll.filter { case (k, _) => inferenceConf(k) }.toSeq.sorted)
    }.toOption
  }

  /** `s.read.parquet(paths: _*)`, with Spark's footer inference run once
    * per set of input files and conf (see the header). */
  def parquet(s: SparkSession, paths: String*): DataFrame = {
    val key = schemaKey(s, paths)
    key.flatMap(k => schemas.synchronized(Option(schemas.get(k)))) match {
      case Some(schema) => s.read.schema(schema).parquet(paths: _*)
      case None =>
        val df = s.read.parquet(paths: _*)
        // remember only what the files still are after the inference
        key.filter(k => schemaKey(s, paths).contains(k))
          .foreach(k => schemas.synchronized(schemas.put(k, df.schema)))
        df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever parquet logical type the upstream
    * writer chose; at cluster scale an engine cannot assume one encoding.
    * Normalize every shape seen so far to an instant `TimestampType` in
    * ONE place (the session zone is pinned to UTC in [[GraftSession]], so
    * both conversions below are exact and zone-free):
    *
    *  - TIMESTAMP(NANOS): Spark has no native type; sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true so the scan yields Long
    *    nanos. Integer division (`div`) is mandatory: `/` on longs is
    *    double division, and epoch nanos (~1.7e18) exceed double's 53-bit
    *    mantissa, so the truncating cast would land 1µs low on ~2% of
    *    rows. `ts div 1000` is exact for any Long nanos.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ, which strict chrono functions (`unix_micros`)
    *    reject. Cast to TimestampType — exact under the UTC session zone
    *    (wall clock == instant).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TimestampType;
    *    pass through. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"), "ts")

  /** dtype-dispatching timestamp normalizer — see [[events]] for the
    * contract. Kept separate so specs can exercise all three input
    * shapes against one code path (no per-call-site guards). */
  def normalizeTs(raw: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema(c).dataType match {
      case LongType         => raw.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => raw.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
