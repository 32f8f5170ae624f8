package graft.operators

import graft.{StageBuilds, Staging, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Build-once contracts for the round-17 staged slice sets: each staged
  * artifact is a pure corpus function, so a SECOND run of any consumer
  * must not rebuild it — the CorpusCleanSpec discipline applied to the
  * transaction-log family, the tokenizer stage, and the media payloads.
  * (The erasure-family and OCC stages have their own assertions in
  * GdprDeleteSpec / ConcurrentCommitSpec.) */
class SliceStageSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def builds(key: String): Int = StageBuilds(Staging.dir(key, sf))

  test("txn-log slice sets build once across every consumer") {
    // prime every stage through one consumer each
    Formats.logCheckpoint(s, sf).collect()
    Formats.timeTravel(s, sf).collect()
    Formats.timeTravelSql(s, sf).collect()
    Formats.cloneTable(s, sf).collect()
    Formats.multiTableTxn(s, sf).collect()
    Formats.mvRefresh(s, sf).collect()
    Formats.dynamicOverwrite(s, sf).collect()
    val keys = Seq("ordersq4_v1", "ordersm3_v1", "orderst3_v1", "ordersqc_v1",
      "txnfacts_v1", "mvslices_v1", "dynovw_v1")
    val before = keys.map(k => k -> builds(k)).toMap
    // second consumers (different queries where the stage is shared)
    Formats.logHistory(s, sf).collect()     // ordersq4
    Formats.vacuumTtl(s, sf).collect()      // ordersq4
    Formats.occCompaction(s, sf).collect()  // ordersm3
    Formats.vacuum(s, sf).collect()         // ordersm3
    Formats.manifestCdf(s, sf).collect()    // ordersm3
    Formats.timeTravelTs(s, sf).collect()   // orderst3
    Formats.restoreTable(s, sf).collect()   // ordersqc
    Formats.deepClone(s, sf).collect()      // ordersqc
    Formats.multiTableTxn(s, sf).collect()  // txnfacts, second run
    Formats.mvRefresh(s, sf).collect()      // mvslices, second run
    Formats.dynamicOverwrite(s, sf).collect() // dynovw, second run
    keys.foreach { k =>
      assert(builds(k) == before(k), s"stage $k rebuilt by a consumer")
    }
  }

  test("a run's GC deletes only run-local links, never the staged slices") {
    Formats.vacuumTtl(s, sf).collect() // its TTL vacuum deletes data files
    val staged = new java.io.File(
      Staging.dir("ordersq4_v1", sf) + "/data")
    def parquetCount(d: java.io.File): Int =
      Option(d.listFiles).getOrElse(Array.empty)
        .map(f => if (f.isDirectory) parquetCount(f)
                  else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    val n = parquetCount(staged)
    assert(n > 0, "staged q4 slices must exist")
    Formats.vacuumTtl(s, sf).collect() // a second vacuuming run
    assert(parquetCount(staged) == n,
      "the TTL vacuum reached the shared staged files")
  }

  test("linkDir mirrors a tree by hard links; unlinking the clone leaves the source") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("linksrc")
    Files.write(src.resolve("a.parquet"), Array[Byte](1, 2, 3))
    Files.createDirectories(src.resolve("part=1"))
    Files.write(src.resolve("part=1").resolve("b.parquet"), Array[Byte](4, 5))
    Files.write(src.resolve("_SUCCESS"), Array.empty[Byte])
    Files.write(src.resolve(".hidden.crc"), Array[Byte](9))
    val dst = src.resolveSibling(src.getFileName.toString + "_clone").toString
    Formats.linkDir(src.toString, dst)
    // visible files mirrored with identical bytes, tree structure kept
    assert(Files.readAllBytes(Paths.get(dst, "a.parquet")).toSeq == Seq[Byte](1, 2, 3))
    assert(Files.readAllBytes(Paths.get(dst, "part=1", "b.parquet")).toSeq == Seq[Byte](4, 5))
    // markers and hidden files are not part of the clone
    assert(!Files.exists(Paths.get(dst, "_SUCCESS")))
    assert(!Files.exists(Paths.get(dst, ".hidden.crc")))
    // deleting the clone wholesale never touches the source's names
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles).getOrElse(Array.empty).foreach(rec); f.delete(): Unit
    }
    rec(new java.io.File(dst))
    assert(Files.readAllBytes(src.resolve("a.parquet")).toSeq == Seq[Byte](1, 2, 3))
    assert(Files.readAllBytes(src.resolve("part=1").resolve("b.parquet")).toSeq == Seq[Byte](4, 5))
  }

  test("tokenizer and media stages build once across their consumers") {
    graft.operators.BpeTrain.bpeTrain(s, sf).collect()
    val bpe0 = StageBuilds(BpeTrain.bpeStageDir(sf))
    graft.operators.BpeTrain.bpeApply(s, sf).collect()
    graft.operators.BpeTrain.wordpiece(s, sf).collect()
    graft.operators.BpeTrain.bpeCurve(s, sf).collect()
    graft.operators.BpeTrain.tokenizerEval(s, sf).collect()
    assert(StageBuilds(BpeTrain.bpeStageDir(sf)) == bpe0,
      "a tokenizer consumer rebuilt the staged artifacts")
    graft.multimodal.Media.mediaFeatures(s, sf).collect()
    val media0 = StageBuilds(graft.multimodal.Media.mediaStageDir(sf))
    graft.multimodal.Media.frameSamples(s, sf).collect()
    graft.multimodal.Media.resizeThumbs(s, sf).collect()
    graft.multimodal.Media.jpegDecode(s, sf).collect()
    graft.multimodal.Media.pngDecode(s, sf).collect()
    graft.multimodal.Media.wavDecode(s, sf).collect()
    graft.multimodal.Media.gifFrames(s, sf).collect()
    assert(StageBuilds(graft.multimodal.Media.mediaStageDir(sf)) == media0,
      "a media consumer rebuilt the staged payloads")
    graft.multimodal.Media.aviFrames(s, sf).collect()
    val avi0 = StageBuilds(graft.multimodal.Media.aviStageDir(sf))
    graft.multimodal.Media.aviFrames(s, sf).collect()
    assert(StageBuilds(graft.multimodal.Media.aviStageDir(sf)) == avi0,
      "a second AVI run rebuilt the staged payloads")
  }
}
