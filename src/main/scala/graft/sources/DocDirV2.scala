package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.{Map => JMap, OptionalLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S2 — the document-directory source: a directory holding one
  * `doc_<id>.html` file per document, the layout a per-filing crawl
  * leaves (ETFQuarterlyHoldingsExtractor.py:58-63), read as
  * `(doc_id, value)` rows, one per file.
  *
  * Spark's file sources size their splits for large files and pay a
  * planning and open cost per file; this source lists the directory once
  * per loaded table on the driver, packs the files into at most `defaultParallelism`
  * splits by a byte budget taken from that listing, and reads each file
  * whole with NIO in the partition reader. The doc id comes from the file
  * name; anything else in the directory (`_STAGED`, `.crc` sidecars,
  * dotfiles) is skipped. The same listing gives the planner the scan's
  * statistics (doc bytes and doc count). Files and bytes read are
  * reported as the scan's `files_read`/`bytes_read` metrics. Paths are
  * opened with NIO, so the directory must be local or locally mounted on
  * every executor.
  */
class DocDirV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = DocDirV2.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new DocDirV2.DocTable(properties.get("path"))
}

object DocDirV2 {

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** The per-doc files under `dir` as `(doc_id, value)`. */
  def read(s: SparkSession, dir: String): DataFrame =
    s.read.format(classOf[DocDirV2].getName).load(dir)

  private val DocName = """doc_(\d+)\.html""".r
  private val FilesRead = "files_read"
  private val BytesRead = "bytes_read"

  private[sources] final case class DocFile(path: String, docId: Long, bytes: Long)

  /** The doc files directly under `dir`, in doc id order. A missing
    * directory fails; an empty one lists nothing. */
  private[sources] def list(dir: String): Vector[DocFile] = {
    val st = Files.newDirectoryStream(Paths.get(dir))
    try st.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case DocName(id) =>
          // one stat per doc gives both the file check and the size
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(DocFile(p.toString, id.toLong, a.size)) else None
        case _ => None
      }
    }.toVector.sortBy(_.docId)
    finally st.close()
  }

  /** Consecutive splits of `files`: a split closes once it holds the byte
    * budget `ceil(total / maxSplits)`, and the last split takes whatever
    * is left, so there are never more than `maxSplits`. */
  private[sources] def pack(files: Vector[DocFile], maxSplits: Int): Vector[Vector[DocFile]] = {
    val budget = math.max(1L, (files.map(_.bytes).sum + maxSplits - 1) / maxSplits)
    val splits = Vector.newBuilder[Vector[DocFile]]
    var cur = Vector.newBuilder[DocFile]
    var curBytes = 0L
    var closed = 0
    files.foreach { f =>
      cur += f
      curBytes += f.bytes
      if (curBytes >= budget && closed < maxSplits - 1) {
        splits += cur.result()
        cur = Vector.newBuilder[DocFile]
        curBytes = 0L
        closed += 1
      }
    }
    val last = cur.result()
    if (last.nonEmpty) splits += last
    splits.result()
  }

  private[sources] class DocTable(path: String) extends Table with SupportsRead {
    require(path != null, "doc-directory source requires a path")
    override def name(): String = s"graft_doc_dir($path)"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    // listed once per loaded table: Spark builds a scan per reference to
    // the table (each leg of a self-union) and asks every physical plan
    // over a scan (AQE re-plans included) for its partitions again
    private lazy val files = list(path)

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => DocScan(path, files)
  }

  private[sources] case class DocScan(path: String, files: Vector[DocFile])
      extends Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType = Schema
    override def toBatch: Batch = this
    override def description(): String = s"graft_doc_dir($path, ${files.size} files)"

    override def estimateStatistics(): Statistics = new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_.bytes).sum)
      override def numRows(): OptionalLong = OptionalLong.of(files.size.toLong)
    }

    override def planInputPartitions(): Array[InputPartition] = {
      val slots = math.max(1, SparkSession.active.sparkContext.defaultParallelism)
      pack(files, slots).map(DocSplit(_): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = DocReaderFactory

    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new FilesReadMetric, new BytesReadMetric)
  }

  private[sources] final case class DocSplit(files: Vector[DocFile]) extends InputPartition

  private[sources] object DocReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new DocReader(partition.asInstanceOf[DocSplit].files)
  }

  private[sources] class DocReader(files: Vector[DocFile]) extends PartitionReader[InternalRow] {
    private val it = files.iterator
    private var current: InternalRow = _
    private var filesRead = 0L
    private var bytesRead = 0L

    override def next(): Boolean = it.hasNext && {
      val f = it.next()
      val bytes = Files.readAllBytes(Paths.get(f.path))
      filesRead += 1
      bytesRead += bytes.length
      current = InternalRow(f.docId, UTF8String.fromBytes(bytes))
      true
    }

    override def get(): InternalRow = current
    override def close(): Unit = ()

    override def currentMetricsValues(): Array[CustomTaskMetric] =
      Array(taskMetric(FilesRead, filesRead), taskMetric(BytesRead, bytesRead))
  }

  private def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  class FilesReadMetric extends CustomSumMetric {
    override def name(): String = FilesRead
    override def description(): String = "doc files read"
  }

  class BytesReadMetric extends CustomSumMetric {
    override def name(): String = BytesRead
    override def description(): String = "doc bytes read"
  }
}
