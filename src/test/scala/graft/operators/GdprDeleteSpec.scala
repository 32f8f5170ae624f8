package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Erasure-pass contract: bounded write amplification (only the subject's
  * bucket is rewritten — enforced by the operator's own REQUIRE, verified
  * here from the emitted audit), complete erasure in v2, and v1 still
  * auditable with the subject present (snapshot isolation). */
class GdprDeleteSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("v2 has zero subject rows, v1 keeps them; row delta == subject rows") {
    val rows = Formats.gdprDelete(s, sf).collect().sortBy(_.getInt(0))
    val (v1, v2) = (rows(0), rows(1))
    val subjectRows = v1.getAs[Long]("n_subject_rows")
    assert(subjectRows > 0, "fixture must contain the subject")
    assert(v2.getAs[Long]("n_subject_rows") == 0L, "erasure incomplete")
    assert(v1.getAs[Long]("n_rows") - v2.getAs[Long]("n_rows") == subjectRows,
      "rows beyond the subject's were lost or kept")
    assert(v1.getAs[Int]("n_files_rewritten") == 0)
    assert(v2.getAs[Int]("n_files_rewritten") == 1,
      "write amplification exceeded one bucket")
  }

  test("the bucketed base stages ONCE per corpus across the whole erasure family") {
    Formats.gdprDelete(s, sf).collect() // forces the stage to exist
    val builds = StageBuilds(Formats.gdprStageDir(sf))
    Formats.deleteVectors(s, sf).collect()
    Formats.dvCdf(s, sf).collect()
    Formats.gdprDelete(s, sf).collect()
    assert(StageBuilds(Formats.gdprStageDir(sf)) == builds,
      "erasure consumers rebuilt the staged bucketed base")
  }

  test("runs own their v1 files: deleting a run's links never touches the staging") {
    Formats.gdprDelete(s, sf).collect()
    val staged = new java.io.File(Formats.gdprStageDir(sf) + "/data")
    def parquetCount(d: java.io.File): Int =
      Option(d.listFiles).getOrElse(Array.empty)
        .map(f => if (f.isDirectory) parquetCount(f)
                  else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    val before = parquetCount(staged)
    assert(before > 0, "staged base must hold data files")
    // unlink one run-local clone wholesale; the staged inodes keep their
    // staged names — the property that makes spec-driven GC of a run safe
    val runRoot = new java.io.File(s"/tmp/graft_gdpr_delete_${s.sparkContext.applicationId}")
    assert(runRoot.isDirectory, "run scratch should exist after a run")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRec); f.delete(): Unit
    }
    Option(runRoot.listFiles).getOrElse(Array.empty).headOption.foreach(deleteRec)
    assert(parquetCount(staged) == before,
      "deleting a run's hard links removed staged data files")
  }

  test("non-subject value mass is preserved exactly") {
    import org.apache.spark.sql.functions._
    val rows = Formats.gdprDelete(s, sf).collect().sortBy(_.getInt(0))
    val target = graft.Tables.events(s, sf).agg(min(col("user_id"))).head().getLong(0)
    val expected = graft.Tables.events(s, sf)
      .filter(col("user_id") =!= target)
      .agg(graft.QueryDsl.dsum(col("value"))).head().getDouble(0)
    assert(rows(1).getAs[Double]("sum_value") == expected,
      "v2 value mass != events minus the subject")
  }
}
