package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** The schema memo behind [[Tables.parquet]]: a warm read starts no
  * Spark job, and every read returns the schema an uncached
  * `s.read.parquet` of the same paths returns at that moment. */
class TablesParquetSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_tables_$name").toString

  private def footerJobs(sites: Seq[String]): Int = sites.count(_.startsWith("parquet at"))

  test("a Spark overwrite with a different schema reads back the new schema") {
    val p = tmp("overwrite") + "/t"
    s.range(3).selectExpr("id AS a").write.parquet(p)
    assert(Tables.parquet(s, p).schema.fieldNames.toSeq == Seq("a"))
    assert(footerJobs(JobSites.of(s)(Tables.parquet(s, p))) == 0, "a warm read ran a footer job")
    s.range(3).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c").write.mode("overwrite").parquet(p)
    val back = Tables.parquet(s, p)
    assert(back.schema == s.read.parquet(p).schema)
    assert(back.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(back.collect().length == 3)
  }

  test("flipping inferTimestampNTZ re-infers a TIMESTAMP_NTZ file") {
    // written without Spark's schema in the footer, as an upstream writer
    // would: Spark's own files carry their types past the conf
    val p = tmp("ntz") + "/t"
    val msg = MessageTypeParser.parseMessageType("message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(p + "/part-0.parquet"),
      s.sessionState.newHadoopConf())).withType(msg).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("t", 1704164645000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      for (v <- Seq("false", "true", "false", "true")) {
        s.conf.set(key, v)
        val got = Tables.parquet(s, p).schema
        assert(got == s.read.parquet(p).schema, s"$key=$v")
        val ntz = got("t").dataType == TimestampNTZType
        assert(ntz == v.toBoolean, s"$key=$v read ${got("t").dataType}")
      }
    } finally s.conf.unset(key)
  }

  test("a multi-path read keys on all its paths") {
    val dir = tmp("multi")
    // Spark infers from the first data file by path, here the one under
    // the SECOND argument: a key on the first path alone would go stale
    val (first, second) = (s"$dir/b", s"$dir/a")
    s.range(2).selectExpr("id AS x").write.parquet(first)
    s.range(2).selectExpr("id AS y").write.parquet(second)
    val before = Tables.parquet(s, first, second).schema
    assert(before == s.read.parquet(first, second).schema)
    assert(Tables.parquet(s, first).schema.fieldNames.toSeq == Seq("x"))
    s.range(2).selectExpr("id AS z").write.mode("overwrite").parquet(second)
    var after: StructType = null
    val sites = JobSites.of(s) { after = Tables.parquet(s, first, second).schema }
    assert(footerJobs(sites) == 1, s"a changed second path must re-infer: $sites")
    assert(after == s.read.parquet(first, second).schema && after != before)
    assert(Tables.parquet(s, second).schema.fieldNames.toSeq == Seq("z"))
  }

  test("a missing path still fails with PATH_NOT_FOUND, also after a warm read") {
    val p = tmp("missing") + "/t"
    def notFound(): Unit = {
      val e = intercept[AnalysisException](Tables.parquet(s, p))
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    }
    notFound()
    notFound()
    s.range(1).write.parquet(p)
    assert(Tables.parquet(s, p).count() == 1)
    TempPaths.deleteRecursively(new java.io.File(p))
    notFound()
  }

  test("a warm Tables.documents(s, d).schema starts no Spark job") {
    Tables.documents(s, TestSpark.sf).schema: Unit
    val sites = JobSites.of(s)(Tables.documents(s, TestSpark.sf).schema)
    assert(sites.isEmpty, s"warm schema read started jobs: $sites")
  }
}
