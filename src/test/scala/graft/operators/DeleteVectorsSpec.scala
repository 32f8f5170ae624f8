package graft.operators

import graft.TestSpark
import graft.sources.ManifestLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read deletion vectors: the DV read equals the logical
  * delete under any split planning, publishing a DV touches zero data
  * bytes, and compaction + vacuum GC the superseded bitmap like any
  * other dead file. */
class DeleteVectorsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("DV read = logical delete; zero data-file changes; compaction+vacuum GC the bitmap") {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("dv_spec").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.write.mode("overwrite").parquet(s"$base/data/$name"); s"$base/data/$name"
    }
    val rows = (0L until 200L).map(i => (i, i * 3))
    val fA = write("A", rows.take(100).toDF("id", "v").repartition(3))
    val fB = write("B", rows.drop(100).toDF("id", "v").repartition(3))
    require(ManifestLog.publish(base, 1, Seq(fA, fB)))
    def fp(p: String) = new java.io.File(p).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => (f.getName, f.length(), f.lastModified()))
    val before = (fp(fA), fp(fB))
    // deletion vector over B: erase ids divisible by 7
    val dv = s"$base/dv/B_v2"
    s.read.parquet(fB)
      .select(col("_metadata.file_name").as("__dv_file"),
        col("_metadata.row_index").as("__dv_pos"), col("id"))
      .filter(col("id") % 7 === 0).drop("id")
      .write.mode("overwrite").parquet(dv)
    require(ManifestLog.publish(base, 2, Seq(fA, s"$fB|dv=$dv")))
    assert((fp(fA), fp(fB)) == before, "publishing a DV must not touch data files")
    val expect2 = (0L until 200L).filter(i => i < 100 || i % 7 != 0)
    val v2 = Formats.readWithDv(s, base, 2).select("id").as[Long].collect().sorted
    assert(v2.toSeq == expect2, "DV read must equal the logical delete")
    // v1 still shows everything — the audit trail merge-on-read preserves
    assert(Formats.readWithDv(s, base, 1).count() == 200)
    // split-stability: (file, row-position) keys must survive tiny splits
    val old = s.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      assert(Formats.readWithDv(s, base, 2)
        .select("id").as[Long].collect().sorted.toSeq == expect2)
    } finally s.conf.set("spark.sql.files.maxPartitionBytes", old)
    // compaction folds the bitmap into a clean rewrite; vacuum then GCs
    // the superseded bitmap and the pre-compaction file, nothing else
    val fBc = write("B_compact", Formats.readEntry(s, s"$fB|dv=$dv"))
    require(ManifestLog.publish(base, 3, Seq(fA, fBc)))
    val (dead, droppedVs) = ManifestLog.gcVersions(base, retain = 1)
    assert(droppedVs == Seq(1, 2))
    assert(dead.toSet == Set(fB, dv),
      s"vacuum should GC exactly the superseded file + bitmap, got $dead")
    assert(!new java.io.File(dv).exists(), "superseded bitmap survived vacuum")
    assert(new java.io.File(fA).exists(), "vacuum deleted a still-referenced file")
    assert(Formats.readWithDv(s, base, 3)
      .select("id").as[Long].collect().sorted.toSeq == expect2)
  }
}
