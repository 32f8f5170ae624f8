package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.TestSpark
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The document-directory source: the rows Spark's own `wholetext`
  * reader gives, only `doc_<id>.html` files read, every file in exactly
  * one of at most `defaultParallelism` splits, the listing reported as the
  * scan's statistics, and the reads counted in the scan's metrics. */
class DocDirV2Spec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def rows(dir: String): Seq[(Long, String)] =
    DocDirV2.read(s, dir).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  private def tempDir(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("graft_docdir_")
    files.foreach { case (name, body) =>
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  test("rows equal Spark's wholetext read of the staged corpus") {
    val dir = DocStage.ensureStaged(s, sf)
    val want = s.read.option("wholetext", "true").text(dir)
      .select(
        regexp_extract(col("_metadata.file_name"), "doc_(\\d+)\\.html$", 1).cast("long"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val got = rows(dir)
    assert(want.size > 20, s"staged corpus unexpectedly small: ${want.size} docs")
    assert(got == want)
  }

  test("only doc_<id>.html files are read: _STAGED, .crc and dotfiles are skipped") {
    val dir = tempDir(
      "doc_00000001.html" -> "<a/>",
      "doc_00000002.html" -> "<b/>",
      "_STAGED" -> "fingerprint",
      "doc_00000001.html.crc" -> "crc",
      ".doc_00000002.html.crc" -> "crc",
      ".hidden" -> "x")
    Files.createDirectory(dir.resolve("doc_00000003.html"))
    assert(rows(dir.toString) == Seq(1L -> "<a/>", 2L -> "<b/>"))
  }

  test("an empty directory gives zero rows") {
    assert(rows(tempDir().toString).isEmpty)
  }

  test("a zero-byte doc gives an empty value") {
    assert(rows(tempDir("doc_00000007.html" -> "").toString) == Seq(7L -> ""))
  }

  test("every file lands in exactly one split, in at most defaultParallelism splits") {
    val dir = DocStage.ensureStaged(s, sf)
    val slots = s.sparkContext.defaultParallelism
    val splits = DocDirV2.DocScan(dir, DocDirV2.list(dir)).planInputPartitions()
      .map(_.asInstanceOf[DocDirV2.DocSplit].files)
    assert(splits.length <= slots, s"${splits.length} splits for $slots slots")
    assert(splits.forall(_.nonEmpty), "an empty split")
    assert(splits.flatten.map(_.path).sorted.toSeq == DocDirV2.list(dir).map(_.path).sorted)
    // the budget bound holds for any sizes, zero-byte files included
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 5, 40); maxSplits <- Seq(1, 2, 3, 8)) {
      val files = Vector.tabulate(n)(i =>
        DocDirV2.DocFile(s"f$i", i.toLong, if (rnd.nextInt(4) == 0) 0L else rnd.nextInt(1000).toLong))
      val packed = DocDirV2.pack(files, maxSplits)
      assert(packed.length <= maxSplits && packed.forall(_.nonEmpty) && packed.flatten == files,
        s"n=$n maxSplits=$maxSplits: $packed")
    }
  }

  test("files_read and bytes_read count the directory's docs and bytes") {
    val dir = DocStage.ensureStaged(s, sf)
    val docs = DocDirV2.list(dir)
    val df = DocDirV2.read(s, dir)
    df.collect(): Unit
    val scan = flatten(df.queryExecution.executedPlan).collectFirst { case b: BatchScanExec => b }
    assert(scan.isDefined, s"expected a BatchScanExec in:\n${df.queryExecution.executedPlan}")
    assert(scan.get.metrics("files_read").value == docs.size)
    assert(scan.get.metrics("bytes_read").value == docs.map(_.bytes).sum)
  }

  test("statistics report the listed docs and bytes; the directory is listed once per loaded table") {
    val dir = DocStage.ensureStaged(s, sf)
    val docs = DocDirV2.list(dir)
    val d = DocDirV2.read(s, dir)
    // a self-union: two references to one loaded table, one scan each
    val plan = d.union(d).queryExecution.optimizedPlan
    val scans = plan.collect { case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[DocDirV2.DocScan] }
    assert(scans.size == 2, s"expected two scans in:\n$plan")
    assert(scans(0).files eq scans(1).files, "the second scan listed the directory again")
    val stats = d.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == docs.map(_.bytes).sum)
    assert(stats.rowCount.contains(BigInt(docs.size)))
  }
}
