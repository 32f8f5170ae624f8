package graft.sources

import java.io.{BufferedReader, File, FileReader}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A VERSIONED table behind the catalog's TIME-TRAVEL surface: the
  * snapshot-manifest discipline ([[ManifestLog]] — a version is an
  * immutable manifest listing data dirs; readers resolve a version by
  * reading ONLY its manifest) served
  * as a DataSource V2 `Table`, so `GraftCatalog.loadTable(ident,
  * version)` can hand Spark's native `VERSION AS OF` resolution a
  * snapshot-pinned table and plain SQL text gets time travel with no
  * library import — the Delta/Iceberg SQL surface on the manifest
  * format.
  *
  * Data files are the engine's line format (TSV `o_orderkey\tcents`,
  * cluster-written by Spark's text sink); each part file is one input
  * partition, so scan parallelism is file-granular exactly like the
  * parquet path, and NOTHING outside the manifest's file list is ever
  * read — a reader cannot leak rows across versions by construction
  * (the listing-consistency trap at object-store scale: `resolve` lists
  * only the part files of dirs the manifest names; `latestVersion` is a
  * metadata-plane O(versions) walk of manifest names, never a data
  * listing). */
object VersionedLinesV2 {

  val Schema: StructType = new StructType()
    .add("o_orderkey", LongType, nullable = false)
    .add("price_cents", LongType, nullable = false)

  /** Commit timestamps (seconds since epoch) recorded by the writer —
    * the metadata TIMESTAMP AS OF resolves through. One tsv, atomic
    * enough for the metadata plane (written once before reads). */
  def writeTimestamps(base: String, ts: Seq[(Int, Long)]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/_timestamps.tsv"),
      ts.map { case (v, sec) => s"$v\t$sec" }.mkString("\n").getBytes("UTF-8")): Unit

  /** `TIMESTAMP AS OF t` = the LATEST version committed at-or-before t
    * (the Delta/Iceberg rule); strictly before the first commit fails
    * rather than resolving to an empty table the caller never had. */
  def resolveTimestamp(base: String, micros: Long): Int = {
    val f = new File(s"$base/_timestamps.tsv")
    if (!f.exists()) throw new UnsupportedOperationException(
      s"no commit timestamps recorded under $base; use VERSION AS OF")
    val ts = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toIndexedSeq.filter(_.nonEmpty).map { line =>
        val Array(v, sec) = line.split("\t")
        (v.toInt, sec.toLong * 1000000L)
      }
    val at = ts.filter(_._2 <= micros)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"timestamp $micros us precedes the first commit of $base")
    at.maxBy(_._2)._1
  }

  def latestVersion(base: String): Int = ManifestLog.latest(base)._1

  /** The version's part files: manifest (one data dir per line) → data
    * dirs → regular part files (hidden/marker files skipped),
    * deterministically ordered. */
  private[sources] def resolve(base: String, v: Int): Seq[String] = {
    if (!ManifestLog.exists(base, v)) throw new IllegalArgumentException(
      s"version $v of $base does not exist")
    ManifestLog.read(base, v).flatMap { d =>
      Option(new File(d).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getPath).sorted
    }
  }

  class TtTable(base: String, version: Int) extends Table with SupportsRead {
    override def name(): String = s"graft_versioned_lines($base@v$version)"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder { override def build(): Scan = TtScan(base, version) }
  }

  private[sources] case class TtScan(base: String, version: Int)
      extends Scan with Batch {
    override def readSchema(): StructType = Schema
    override def toBatch: Batch = this
    override def description(): String = s"graft_versioned_lines($base, v$version)"
    override def planInputPartitions(): Array[InputPartition] =
      resolve(base, version).map(TtPartition(_): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory = TtReaderFactory()
  }

  private[sources] case class TtPartition(file: String) extends InputPartition

  private[sources] case class TtReaderFactory() extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      new TtReader(partition.asInstanceOf[TtPartition].file)
  }

  private[sources] class TtReader(file: String)
      extends PartitionReader[InternalRow] {
    private val reader = new BufferedReader(new FileReader(file))
    private var current: InternalRow = _
    override def next(): Boolean = {
      val line = reader.readLine()
      if (line == null) false
      else {
        val tab = line.indexOf('\t')
        current = InternalRow(
          line.substring(0, tab).toLong, line.substring(tab + 1).toLong)
        true
      }
    }
    override def get(): InternalRow = current
    override def close(): Unit = reader.close()
  }
}
