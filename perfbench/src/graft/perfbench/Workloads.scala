package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{QueryDsl, SparkEntry}
import graft.extract.{NportKernel, XmlLite}
import graft.operators.Extraction
import graft.sinks.HoldingsCsvSink
import graft.sources.{DocStage, FilingIndex, HttpFetch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One query's result in a pass, checked against the query's oracle. */
final case class Output(name: String, schema: StructType, rows: Array[Row])

/** A workload: the inputs under `dir`, one untraced pass, and the same
  * work split into materialized layers for the traced run. */
abstract class Workload(val dir: String) {
  /** Engine queries one pass runs, in order. */
  def queries: Seq[String]

  def pass(s: SparkSession): Seq[Output] = queries.map(run(s, _))

  /** The same pass with a span around each query: the form the cost of
    * tracing is measured on. */
  def instrumentedPass(s: SparkSession, t: SpanRecorder): Seq[Output] =
    t.span("pass.instrumented")(queries.map(q => t.span(s"query.$q")(run(s, q))))

  /** One layer-by-layer traced pass; per-layer values that are not span
    * times go to `l`, by metric name. Returns the outputs to check, and
    * throws when one of its own checks fails. */
  def tracedPass(s: SparkSession, t: SpanRecorder, l: mutable.Map[String, Double], stats: SessionStats): Seq[Output]

  /** Layers only a traced run calls, each in a span: once cold, to build
    * their staging, then once warm, timed. Returns the outputs to check. */
  def tracedOnly(s: SparkSession, t: SpanRecorder): Seq[Output] = Nil

  def close(): Unit = ()

  /** Stage directories the set-up built; set by the runner. */
  var stagedDirs: Seq[String] = Nil

  /** The root span of a traced pass. It starts with one warm fingerprint
    * probe per stage directory, the check every warm `Staging.ensure`
    * makes before it skips the build. */
  protected def root[A](t: SpanRecorder)(body: => A): A = t.span("pass") {
    t.span("staging.probe") {
      val st = Files.list(Paths.get(dir))
      val inputs = try st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      finally st.close()
      stagedDirs.foreach(_ => graft.Staging.fingerprint(inputs))
    }
    body
  }

  protected def run(s: SparkSession, q: String): Output = {
    val df = SparkEntry.queries(q)(s, dir)
    Output(q, df.schema, df.collect())
  }

  protected def collectIn(t: SpanRecorder, name: String)(df: => DataFrame): Array[Row] =
    t.span(name)(df.collect())

  /** Materializes `df` inside span `name` (the pin is eager) and returns
    * the pinned frame. */
  protected def pinIn(t: SpanRecorder, name: String)(df: => DataFrame): DataFrame =
    t.span(name)(QueryDsl.pin(df))
}

object Workload {
  def apply(name: String, dir: String, work: Path): Workload = name match {
    case "nport_batch" => new NportBatch(dir, work)
    case "train_pack" => new TrainPack(dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val FetchPartitions = 4

  private val holdingCols = Seq("doc_id", "reporting_date", "issuer", "shares", "value_usd", "pct_net_assets")

  /** The staged one-file-per-doc corpus as (doc_id, value). */
  def scanCorpus(s: SparkSession, corpus: String): DataFrame =
    s.read.option("wholetext", "true").text(corpus)
      .select(
        regexp_extract(col("_metadata.file_name"), "doc_(\\d+)\\.html$", 1).cast("long").as("doc_id"),
        col("value"))

  def extract(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[(Long, String)]
      .flatMap { case (id, doc) =>
        NportKernel.extractRows(doc).map(h =>
          (id, h.reporting_date, h.issuer, h.shares, h.value_usd, h.pct_net_assets))
      }
      .toDF(holdingCols: _*)
  }

  /** Single-thread parse and kernel timings over a fixed doc sample. */
  def kernelLayers(t: SpanRecorder, l: mutable.Map[String, Double], sample: Seq[String]): Unit = {
    l("extract.sample_kb") = sample.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).sum / 1024.0
    l("extract.sample_docs") = sample.size.toDouble
    t.span("extract.parse")(sample.foreach(XmlLite.parse))
    t.span("extract.kernel")(sample.foreach(NportKernel.extractRows))
  }

  /** File names of the staged corpus, in doc id order. */
  def corpusFiles(corpus: String): Seq[String] = {
    val files = Files.list(Paths.get(corpus))
    try files.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("doc_")).toSeq.sorted
    finally files.close()
  }

  /** The first `n` docs of the corpus by doc id: a seeded, fixed sample. */
  def docSample(corpus: String, n: Int): Seq[String] =
    corpusFiles(corpus).take(n).map(f => Files.readString(Paths.get(corpus, f)))

  def dirBytes(dir: String, suffix: String): (Int, Long) = {
    val walk = Files.walk(Paths.get(dir))
    try {
      val fs = walk.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally walk.close()
  }
}

/** The extraction family over a seeded filing corpus. The traced pass
  * also fetches the staged corpus, plus dead URLs, from a loopback server
  * through `HttpFetch`, so the online source is measured beside the scan. */
final class NportBatch(dir: String, work: Path) extends Workload(dir) {
  import Workload._

  val queries = Seq("x_filing_index", "x_doc_source", "x_extract_holdings", "x_pipeline_e2e")

  private lazy val corpus = DocStage.stageDir(dir)
  private lazy val sample = docSample(corpus, 200)
  private var server: FixtureServer = _
  private var urls = Seq.empty[(Long, String)]
  private var expected = Map.empty[Int, Long]

  /** Serves the staged corpus and lists every staged doc plus the dead
    * URLs, which name filings the server does not hold. */
  private def serve(): Unit = if (server == null) {
    server = new FixtureServer(Paths.get(corpus))
    val files = corpusFiles(corpus)
    val dead = Files.readString(Paths.get(dir, "dead_urls.json")).trim.stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    val base = s"http://127.0.0.1:${server.port}"
    urls = files.map(f => (f.stripPrefix("doc_").stripSuffix(".html").toLong, s"$base/$f")) ++
      dead.map(id => (id, f"$base/doc_$id%08d.html"))
    expected = Map(200 -> files.size.toLong, 404 -> dead.size.toLong)
  }

  def tracedPass(s: SparkSession, t: SpanRecorder, l: mutable.Map[String, Double], stats: SessionStats): Seq[Output] = {
    import s.implicits._
    DocStage.ensureStaged(s, dir): Unit
    serve()
    val out = work.resolve(s"csv_${t.pass}").toString
    val list = s.createDataset(urls).repartition(FetchPartitions)
    val req0 = server.requests.get
    val busy0 = server.handlerNs.get
    server.takeConnections(): Unit
    val (docs, holdings, fetched) = root(t) {
      pinIn(t, "sources.index")(FilingIndex.filingIndex(s, dir)): Unit
      stats.reset()
      val docs = pinIn(t, "sources.scan")(scanCorpus(s, corpus))
      val scan = stats.window()
      l("sources.files_opened") = scan.inputRecords.toDouble
      l("sources.corpus_read_ratio") = scan.inputBytes.toDouble / dirBytes(corpus, ".html")._2
      val fetched = pinIn(t, "sources.fetch")(HttpFetch.fetch(list).toDF())
      l("sources.fetch_requests_per_doc") = (server.requests.get - req0).toDouble / urls.size
      l("sources.fetch_connections") = server.takeConnections().toDouble
      l("sources.server_busy_ns") = (server.handlerNs.get - busy0).toDouble
      val holdings = pinIn(t, "extract.stage")(extract(s, docs))
      collectIn(t, "operators.pipeline")(Extraction.pipelineE2eFromDocs(s, dir, docs)): Unit
      t.span("sinks.csv_write") {
        val real = holdings.drop("doc_id").withColumn("filing_seq", lit(2L))
        val decoys = real.withColumn("issuer", lit("SUPERSEDED")).withColumn("filing_seq", lit(1L))
        HoldingsCsvSink.write(real.unionByName(decoys), out)
      }
      kernelLayers(t, l, sample)
      (docs, holdings, fetched)
    }
    val nDocs = docs.count().toDouble
    val nRows = holdings.count().toDouble
    l("extract.rows_per_doc") = nRows / nDocs
    l("extract.dropped_doc_frac") = 1 - holdings.select("doc_id").distinct().count() / nDocs
    val written = s.read.option("header", "true").csv(out).count().toDouble
    val (files, bytes) = dirBytes(out, ".csv")
    l("sinks.files_written") = files.toDouble
    l("sinks.bytes_per_row") = bytes / written
    l("sinks.lww_dropped_frac") = 1 - written / (2 * nRows)
    // every staged doc must come back 200 and every dead URL 404
    val statuses = fetched.groupBy("status").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(statuses == expected, s"fetch statuses $statuses, expected $expected")
    Nil
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** The training-data pass over a seeded document table. Its traced run
  * also times each ANN query over the seeded embeddings; no timed pass
  * runs them. */
final class TrainPack(dir: String) extends Workload(dir) {
  val queries = Seq("t_pipeline_e2e")

  private val layers = Seq(
    "operators.quality" -> "t_quality",
    "operators.neardup" -> "d_neardup_pairs",
    "operators.decontam" -> "t_decontaminate",
    "operators.clean" -> "t_line_dedup",
    "operators.pack" -> "t_pack_sequences")

  /** Probes (reads) beside append (v_incremental_ann) and tombstone
    * (v_ann_delete) maintenance. */
  private val ann = Seq("v_ann_ivf", "v_ann_ivfpq", "v_ann_pq_refine", "v_ann_nsw", "v_ann_lsh",
    "v_hybrid_search", "v_incremental_ann", "v_ann_delete", "v_rag_e2e")

  override def tracedOnly(s: SparkSession, t: SpanRecorder): Seq[Output] =
    t.span("pass.ann")(ann.map(q => t.span(s"operators.ann_probe.$q")(run(s, q))))

  def tracedPass(s: SparkSession, t: SpanRecorder, l: mutable.Map[String, Double], stats: SessionStats): Seq[Output] = {
    val packed = root(t) {
      layers.foreach { case (span, q) => collectIn(t, span)(SparkEntry.queries(q)(s, dir)): Unit }
      t.span("query.t_pipeline_e2e")(run(s, "t_pipeline_e2e"))
    }
    // the train split of Pipeline.survivorFrame
    val bucket = conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10).cast("bigint") % 100
    val train = graft.Tables.documents(s, dir).filter(bucket < 98).count()
    l("operators.survivor_frac") = packed.rows.map(_.getAs[Long]("doc_id")).distinct.length.toDouble / train
    Seq(packed)
  }
}
