package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** S2 — the document-directory source pattern: a corpus laid out as one
  * file per document, read back with `spark.read.option("wholetext", true)`
  * so each file becomes one row (SURVEY.md §2 S2; offline stand-in for the
  * reference's per-filing HTTP fetch, ETFQuarterlyHoldingsExtractor.py
  * :58-63).
  *
  * Staging writes the rendered corpus from the executors (`foreachPartition`
  * — a distributed sink, no driver collect); on a cluster the same code
  * points at shared storage instead of local /tmp. Staging happens once per
  * sf dir (marker file) so repeated Verify/Bench invocations measure the
  * read+extract path, not the write.
  */
object DocStage {

  /** The staged corpus is a deterministic HALF-slice of the filings
    * (`doc_id % DocSliceMod == 0`): the one-file-per-doc layout exists
    * to DEMONSTRATE the many-small-files tax (its fix ships alongside as
    * the compacted twin), and half the files makes the same point — the
    * per-file open/split floor, a measured ~2.5× gap to the compacted
    * twin on identical rows (the shared kernel cost compresses the r17
    * 3.3× ratio as the corpus shrinks) — at half the absolute board cost
    * (r17: 10.7 s ≈ 5 % of the board for a LESSON, adjudicated worth
    * capping). The in-flight extraction
    * queries (`x_extract_holdings`, `x_reporting_date`, …) still cover
    * the FULL corpus; only the layout demo is sliced, and its oracle
    * carries the same slice predicate. */
  val DocSliceMod = 2L

  // h2 = the % 2 slice is baked into the layout (stage-dir discipline:
  // a slice-rule change can never reuse a stale staged corpus)
  def stageDir(sfDir: String): String =
    "/tmp/graft_stage/docs_h2_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Returns the directory of staged XHTML documents, writing it on first
    * use. One file per filing in the slice: `doc_<id>.html`. */
  def ensureStaged(s: SparkSession, sfDir: String): String = {
    val dir = stageDir(sfDir)
    // fingerprinted marker + atomic publish + cross-process lock
    // (graft.Staging): the corpus derives from orders.parquet, so a
    // regenerated fixture re-renders the docs; the per-file writes don't
    // clear stale output themselves, so the build starts from an empty dir
    graft.Staging.ensure(dir, Seq(s"$sfDir/orders.parquet")) {
      Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
        .foreach(f => { f.delete(): Unit })
      Files.createDirectories(Paths.get(dir))
      val ds: Dataset[(Long, String)] =
        FilingDocs.docs(s, sfDir).filter(_._1 % DocSliceMod == 0)
      ds.foreachPartition { it: Iterator[(Long, String)] =>
        it.foreach { case (id, doc) =>
          Files.write(
            Paths.get(dir, f"doc_$id%08d.html"),
            doc.getBytes(StandardCharsets.UTF_8))
        }
      }
    }: Unit
    dir
  }

  // h2i = half-slice corpus, id-carrying schema (doc_id, value) — the
  // flagship pipeline joins the fetch list against doc identity, so the
  // compacted form keeps it as a column (the filename carried it in the
  // per-doc layout)
  def compactDir(sfDir: String): String =
    "/tmp/graft_stage/docs_compact_h2i_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The COMPACTED twin of the one-file-per-doc corpus: the same document
    * bodies packed into a handful of parquet files — the `k_compaction`
    * layout fix applied to the engine's own hottest scan (`x_doc_source`
    * pays the many-small-files tax by design: one open + one split floor
    * per document). Compaction reads the staged small-file corpus ONCE and
    * rewrites it as `repartition(CompactFiles)` parquet, so the extraction
    * twin opens ~docs/CompactFiles fewer files for identical rows
    * (DocCompactionSpec asserts the executed scan's file count; the twin
    * query shares `x_doc_source`'s hash oracle — compaction must never
    * change answers). Fingerprinted on orders.parquet — the same ultimate
    * source as the doc stage — so both stagings rebuild together. */
  private val CompactFiles = 4

  def ensureCompacted(s: SparkSession, sfDir: String): String = {
    val src = ensureStaged(s, sfDir)
    val dir = compactDir(sfDir)
    val path = dir + "/docs"
    graft.Staging.ensure(dir, Seq(s"$sfDir/orders.parquet")) {
      import org.apache.spark.sql.functions._
      s.read.option("wholetext", "true").text(src)
        .select(
          regexp_extract(col("_metadata.file_name"), "doc_(\\d+)\\.html$", 1)
            .cast("long").as("doc_id"),
          col("value"))
        .repartition(CompactFiles)
        .write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  /** The compacted corpus as a `(doc_id, value)` frame. */
  def compactedDocs(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.parquet(s, ensureCompacted(s, sfDir))
}
