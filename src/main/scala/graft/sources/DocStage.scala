package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The staged document corpus — the only place the synthetic filings are
  * rendered. Two layouts derive from one render:
  *
  *   - [[rendered]]: every filing rendered ONCE into `(doc_id, value)`
  *     parquet (a few files), which the extraction queries
  *     (`x_extract_holdings`, `x_reporting_date`) scan, so their timing
  *     is the kernel's, not the fixture's;
  *   - [[ensureStaged]]: a half-slice of the same rows as one
  *     `doc_<id>.html` file per filing — the layout the reference's
  *     per-filing crawl leaves (ETFQuarterlyHoldingsExtractor.py:58-63) —
  *     read through [[DocDirV2]] by `x_doc_source` and `x_pipeline_e2e`,
  *     and served over loopback HTTP by the online specs.
  *
  * Both are staged through `graft.Staging` (fingerprinted on
  * orders.parquet, the corpus's one source), so the render is paid once
  * per fixture and priced in the staging build log; the per-doc files are
  * written from the executors (`foreachPartition`, no driver collect).
  */
object DocStage {

  /** The per-doc layout holds a deterministic HALF-slice of the filings
    * (`doc_id % DocSliceMod == 0`): it exists to measure the per-file
    * read path, and half the files make that point at half the staging
    * cost. The extraction queries over [[rendered]] cover the FULL
    * corpus; every per-doc query's oracle carries the same slice
    * predicate. */
  val DocSliceMod = 2L

  // h2 = the % 2 slice is baked into the layout (stage-dir discipline:
  // a slice-rule change can never reuse a stale staged corpus)
  def stageDir(sfDir: String): String = graft.Staging.dir("docs_h2", sfDir)

  /** Files the rendered table is written as: one scan task each. */
  private val RenderedFiles = 4

  /** The full rendered corpus as `(doc_id, value)`, rendered from
    * [[FilingDocs.docs]] on first use and read back from parquet. */
  def rendered(s: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Staging.dir("docs_rendered_v1", sfDir)
    val path = dir + "/docs"
    graft.Staging.ensure(dir, Seq(s"$sfDir/orders.parquet")) {
      FilingDocs.docs(s, sfDir).toDF("doc_id", "value")
        .repartition(RenderedFiles)
        .write.mode("overwrite").parquet(path)
    }: Unit
    graft.Tables.parquet(s, path)
  }

  private def halfSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % DocSliceMod === 0)

  /** Returns the directory of per-doc XHTML files, writing it on first
    * use. One file per filing in the slice: `doc_<id>.html`. */
  def ensureStaged(s: SparkSession, sfDir: String): String = {
    import s.implicits._
    val dir = stageDir(sfDir)
    val docs = rendered(s, sfDir)
    // the per-file writes don't clear stale output themselves, so the
    // build starts from an empty dir
    graft.Staging.ensure(dir, Seq(s"$sfDir/orders.parquet")) {
      Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
        .foreach(f => { f.delete(): Unit })
      Files.createDirectories(Paths.get(dir))
      halfSlice(docs).as[(Long, String)].foreachPartition { it: Iterator[(Long, String)] =>
        it.foreach { case (id, doc) =>
          Files.write(
            Paths.get(dir, f"doc_$id%08d.html"),
            doc.getBytes(StandardCharsets.UTF_8))
        }
      }
    }: Unit
    dir
  }

  /** The per-doc layout read through [[DocDirV2]]: `(doc_id, value)`. */
  def stagedDocs(s: SparkSession, sfDir: String): DataFrame =
    DocDirV2.read(s, ensureStaged(s, sfDir))

  /** The per-doc layout's rows straight off [[rendered]]: the same
    * `(doc_id, value)` rows in a few parquet files instead of one file
    * per doc (DocCompactionSpec asserts the executed scan's file count). */
  def compactedDocs(s: SparkSession, sfDir: String): DataFrame =
    halfSlice(rendered(s, sfDir))
}
