package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json + queries.json (the full key list, so the checker
  * can detect a query whose write threw even when it has no oracle), for
  * the driver's DuckDB compare. Cleans outDir first so a newly-failing
  * query can't be masked by stale parquet from an earlier run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "graft-verify")
    TempPaths.deleteRecursively(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    // Local-iteration dial (never set by the driver): regex over query
    // names to dump a subset against tools/check.py while developing.
    // GUARDED: a leaked GRAFT_VERIFY_ONLY in a certification run would
    // silently shrink the "N/N oracle-checked" gate (queries.json and
    // oracle_sql.json are filtered too, so nothing downstream could
    // tell) — the filter therefore refuses to run unless the explicit
    // dev flag is ALSO set, and announces itself on stderr.
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map { pat =>
      require(sys.env.get("GRAFT_VERIFY_DEV").contains("1"),
        "GRAFT_VERIFY_ONLY is set but GRAFT_VERIFY_DEV=1 is not — refusing " +
          "to emit a silently-filtered verification artifact")
      System.err.println(s"[verify] DEV FILTER ACTIVE: only queries matching /$pat/")
      pat.r
    }
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val keys = SparkEntry.queries.keys.toSeq.filter(selected).sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), keys)
    spark.stop()
  }
}
