package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded executor-side in batches (the Scala analog of a
  * Pandas-UDF/`mapInPandas` stage).
  *
  * EVERY media query decodes REAL bytes — the round-16 `MediaStub`
  * pseudo-feature fallback is retired outright: images via [[PpmCodec]] /
  * [[PngCodec]] / the JDK JPEG reader (`m_ppm_decode`, `m_png_decode`,
  * `m_jpeg_decode`, `m_resize_thumb`), audio via [[WavCodec]] /
  * [[AdpcmCodec]] (`m_wav_decode`, `m_adpcm_decode`, `m_wav_resample`),
  * multi-frame video containers via [[GifCodec]] / [[AviCodec]]
  * (`m_gif_frames`, `m_frame_sample`, `m_avi_frames`), and the
  * mixed-modality dispatch stage (`m_media_features`) routes each record
  * to its REAL decoder inside one batched mapPartitions — none needs a
  * native library. Everything is the real 100 TB pattern: typed datasets
  * with binary payloads, `mapPartitions` with explicit batching (batch
  * size bounds peak decode memory per task exactly like a Pandas-UDF
  * batch), narrow per-partition execution — no shuffle, no driver
  * involvement. A codec absent from the JDK (MP3, H.264) slots into the
  * same per-type dispatch arm as a JNI call.
  *
  * Payloads are generated executor-side from id-derived closed-form
  * pixels/samples, so every DECODED output still has an exact DuckDB
  * oracle — the decoders are graded on real wire formats without
  * shipping media fixtures.
  */
final case class MediaRecord(
    media_id: Long,
    media_type: String,
    bytes: Array[Byte],
    width: Int,
    height: Int)

object Media {

  /** The media table: binary payload + typed metadata columns. At scale
    * this is a parquet table with a binary column; here it derives from
    * `documents` so results are oracle-checkable. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3).cast("int") + 1).as("media_type"),
        col("text").cast("binary").as("bytes"),
        ((col("n_chars") % 64) + 16).cast("int").as("width"),
        ((col("n_chars") % 48) + 16).cast("int").as("height"))
      .as[MediaRecord]
  }

  private val BatchSize = 64

  /** The mixed-modality REAL media table: each document id carries a
    * genuine encoded payload of its modality — binary-P6 PPM for image
    * ids (id%3==0, the [[ppmTable]] pixel formula), RIFF/WAVE PCM16 for
    * audio ids (id%3==1, the [[wavTable]] sample formula), animated
    * GIF89a for video ids (id%3==2, the [[gifTable]] frame formula). The
    * id→type rule matches [[mediaTable]]'s metadata typing, so the
    * dispatch stage below is the same table a catalog would describe. */
  def realMediaTable(s: SparkSession, d: String): Dataset[(Long, String, Array[Byte])] = {
    import s.implicits._
    ppmTable(s, d).map { case (id, b) => (id, "image", b) }
      .union(wavTable(s, d).map { case (id, b) => (id, "audio", b) })
      .union(gifTable(s, d).map { case (id, b) => (id, "video", b) })
  }

  def mediaStageDir(sfDir: String): String = graft.Staging.dir("media_mixed_v3", sfDir)

  /** EVERY encoded media payload staged ONCE per corpus fingerprint as
    * binary-column parquet — how media actually lands in a lake (payload
    * shards on disk, not re-synthesized per query). The ENCODE side
    * (pixel/sample synthesis + PPM/WAV/LZW/deflate/JPEG encoding) is a
    * pure corpus function every media query used to re-pay; the queries
    * grade the DECODE, which stays live per run. `/payloads` holds the
    * typed PPM/WAV/GIF mix; `/png` and `/jpeg` hold the compressed-image
    * twins of the same id space. */
  private def ensureMediaStaged(s: SparkSession, d: String): String = {
    val dir = mediaStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      // partitioned by modality: a single-modality decode query prunes
      // to its own directory instead of filtering the three-way union
      // (the IVF-PQ code-table discipline at the payload layer)
      realMediaTable(s, d).toDF("media_id", "media_type", "bytes")
        .write.partitionBy("media_type").mode("overwrite").parquet(dir + "/payloads")
      pngTable(s, d).toDF("media_id", "bytes")
        .write.mode("overwrite").parquet(dir + "/png")
      jpegTable(s, d).toDF("media_id", "bytes")
        .write.mode("overwrite").parquet(dir + "/jpeg")
    }: Unit
    dir
  }

  /** Staged payloads of one modality, typed for the decode flatMaps. */
  private def stagedPayloads(
      s: SparkSession, d: String, tpe: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.parquet(s, ensureMediaStaged(s, d) + "/payloads")
      .filter(col("media_type") === tpe)
      .select(col("media_id").as("_1"), col("bytes").as("_2"))
      .as[(Long, Array[Byte])]
  }

  private def stagedCompressed(
      s: SparkSession, d: String, sub: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.parquet(s, ensureMediaStaged(s, d) + "/" + sub)
      .select(col("media_id").as("_1"), col("bytes").as("_2"))
      .as[(Long, Array[Byte])]
  }

  /** `m_media_features` — the mapInPandas-shaped MIXED-MODALITY dispatch
    * stage: one batched mapPartitions routes every record to the REAL
    * decoder of its type ([[PpmCodec]] / [[WavCodec]] / [[GifCodec]])
    * and emits one unified feature row — frame count, decoded sample
    * count, and a decoded-content checksum — per record. This is the
    * ingest-side feature pass a multimodal pipeline gates on, and every
    * column is computed from PARSED payloads (the round-16 byte-sum stub
    * is gone); a format with no JVM decoder would slot into the match as
    * one more arm (JNI call), changing nothing around it. Per-partition
    * batches bound peak decode memory; no shuffle, no driver. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, ensureMediaStaged(s, d) + "/payloads")
      .select(col("media_id").as("_1"), col("media_type").as("_2"), col("bytes").as("_3"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, tpe, bytes) =>
        tpe match {
          case "image" =>
            val img = PpmCodec.decode(bytes)
            var sum = 0L
            var i = 0
            while (i < img.raster.length) { sum += img.raster(i) & 0xff; i += 1 }
            (id, tpe, 1L, img.width.toLong * img.height, sum)
          case "audio" =>
            val a = WavCodec.decode(bytes)
            var sum = 0L
            var i = 0
            while (i < a.samples.length) { sum += a.samples(i).toLong; i += 1 }
            (id, tpe, a.nFrames.toLong, a.samples.length.toLong, sum)
          case "video" =>
            val frames = GifCodec.decode(bytes)
            var sum = 0L
            var px = 0L
            frames.foreach { f =>
              px += f.width.toLong * f.height
              var i = 0
              while (i < f.indices.length) { sum += f.indices(i) & 0xff; i += 1 }
            }
            (id, tpe, frames.length.toLong, px, sum)
          // a modality with no JVM decoder (MP3, H.264) slots in here as
          // one more arm; anything UNKNOWN must fail loudly, not fall
          // into whichever decoder happens to be last
          case other => sys.error(s"media $id: unknown media_type '$other'")
        }
      }))
      .toDF("media_id", "media_type", "n_frames", "n_samples", "sum_content")
      .orderBy("media_id")
  }

  private val FrameStride = 3

  /** `m_frame_sample` — every-Nth-frame SAMPLING over REAL decoded video:
    * the blind striding policy (every 3rd decoded frame of each GIF clip,
    * frame 0 always) that [[keyframes]]' adaptive rule is the upgrade of
    * — a video pipeline bills preprocessing on one or the other. 1 record
    * → ⌈frames/3⌉ rows; per-frame dims and index-raster sum come from the
    * DECODED frames (lossless GIF ⇒ exact closed-form oracle), so the
    * sampler is graded on real container walks, not byte chunks. */
  def frameSamples(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "video")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val frames = GifCodec.decode(bytes)
        frames.zipWithIndex.collect { case (f, idx) if idx % FrameStride == 0 =>
          var sum = 0L
          var i = 0
          while (i < f.indices.length) { sum += f.indices(i) & 0xff; i += 1 }
          (id, idx, f.width, f.height, sum)
        }
      }))
      .toDF("media_id", "frame_idx", "width", "height", "sum_px")
      .orderBy("media_id", "frame_idx")
  }

  /** `m_resize_thumb` — fixed-grid 8×8 nearest-neighbor thumbnail of each
    * DECODED PNG raster (the JDK reader: real inflate + de-filtering):
    * the fixed-tensor batch shape whatever the source dims — the fixture
    * spans BOTH regimes (w ∈ 2..12 up- and down-samples onto the grid).
    * Channel sums grade the sampled pixel VALUES; the position-weighted
    * checksum Σ (p+1)·(r+g+b) pins their exact grid ORDER (the
    * t_shuffle_shards discipline — a transposed thumbnail hash-fails).
    * Lossless PNG keeps the closed-form pixel oracle exact. */
  def resizeThumbs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedCompressed(s, d, "png")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val img = PngCodec.decode(bytes)
        var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
        var p = 0
        while (p < 64) {
          val sx = (p % 8) * img.width / 8
          val sy = (p / 8) * img.height / 8
          val base = 3 * (sy * img.width + sx)
          val r = img.raster(base) & 0xff
          val g = img.raster(base + 1) & 0xff
          val b = img.raster(base + 2) & 0xff
          sr += r; sg += g; sb += b
          wsum += (p + 1).toLong * (r + g + b)
          p += 1
        }
        (id, 8, 8, sr, sg, sb, wsum)
      }))
      .toDF("media_id", "thumb_w", "thumb_h", "sum_r", "sum_g", "sum_b", "weighted_sum")
      .orderBy("media_id")
  }

  /** `m_pair_assembly` — vision-language training-PAIR assembly: image
    * records joined to their caption documents (shared id space), with
    * the pair-level quality gates a VLM data pipeline applies before
    * writing a manifest — caption length bounds and an integer
    * aspect-ratio gate (no float thresholds). The downstream writer
    * consumes exactly this manifest shape: (media identity + dimensions,
    * caption identity + stats, keep flag). One broadcast-or-shuffle
    * equi-join on the id — pair assembly at 100 TB is a join problem, and
    * this is its minimal honest form. */
  def pairAssembly(s: SparkSession, d: String): DataFrame = {
    val media = mediaTable(s, d).toDF()
      .filter(col("media_type") === "image")
      .select(col("media_id"), col("width"), col("height"))
    val captions = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), col("lang"),
        size(split(col("text"), " ")).as("caption_tokens"),
        md5(col("text").cast("binary")).as("caption_md5"))
    media.join(captions, "media_id")
      .select(col("media_id"), col("width"), col("height"), col("lang"),
        col("caption_tokens"), col("caption_md5"),
        (col("caption_tokens").between(8, 200) &&
          (col("width") * 2) >= col("height")).cast("int").as("keep"))
      .orderBy("media_id")
  }

  // ---- REAL image decode (no stub): binary PPM, the raster format with
  // no native-library dependency. Payloads are genuine P6 files encoded
  // executor-side from id-derived pixels, so the decode stage parses a
  // real on-disk format (comment-tolerant header + raw RGB raster) while
  // the DECODED output — dimensions from the header, channel sums from
  // the raster — still has a closed-form DuckDB oracle. Every other
  // modality decodes the same way (PNG/JPEG/WAV/ADPCM/GIF/AVI below);
  // swapping any decoder changes the same one function this does. ----

  /** Image table with real PPM payloads: w=(id%13)+2, h=(id%7)+2,
    * raster byte i = (id*31+i)%256 — small images (≤ 14×8) so the per-row
    * payload is bounded, one per image-typed media id. */
  def ppmTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .as[Long]
      .map { id =>
        val w = (id % 13).toInt + 2
        val h = (id % 7).toInt + 2
        val raster = Array.tabulate(3 * w * h)(i => ((id * 31 + i) % 256).toByte)
        (id, PpmCodec.encode(w, h, 255, raster))
      }
  }

  /** `m_ppm_decode` — decode REAL image bytes per record (batched like
    * [[mediaFeatures]]): every output column is computed from the parsed
    * payload — width/height/maxval from the ASCII header, per-channel
    * sums from the raw raster — none from metadata riding alongside. */
  def ppmDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "image")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val img = PpmCodec.decode(bytes)
        var r = 0L; var g = 0L; var b = 0L
        var i = 0
        while (i < img.raster.length) {
          val v = img.raster(i) & 0xff
          (i % 3: @annotation.switch) match {
            case 0 => r += v
            case 1 => g += v
            case 2 => b += v
          }
          i += 1
        }
        (id, img.width, img.height, img.maxval,
          img.width.toLong * img.height, r, g, b)
      }))
      .toDF("media_id", "width", "height", "maxval", "n_pixels",
        "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** PNG table with real compressed payloads (doc_id%3==2 ids):
    * w=(id%11)+2, h=(id%5)+2, raster byte i = (id*17+i)%256 — encoded by
    * the from-scratch [[PngCodec.encode]] writer (deflate + CRC chunks),
    * so the decode below exercises the JDK reader on independently
    * produced bytes. */
  def pngTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .map { id =>
        val w = (id % 11).toInt + 2
        val h = (id % 5).toInt + 2
        val raster = Array.tabulate(3 * w * h)(i => ((id * 17 + i) % 256).toByte)
        (id, PngCodec.encode(w, h, raster))
      }
  }

  /** `m_png_decode` — REAL compressed-image decode per record: the JDK
    * `javax.imageio` PNG reader (zlib inflate + scanline de-filtering,
    * an implementation independent of our encoder) parses each payload;
    * dims and per-channel sums come from the decoded raster. Lossless
    * compression keeps the closed-form pixel oracle exact. */
  def pngDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedCompressed(s, d, "png")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val img = PngCodec.decode(bytes)
        var r = 0L; var g = 0L; var b = 0L
        var i = 0
        while (i < img.raster.length) {
          val v = img.raster(i) & 0xff
          (i % 3: @annotation.switch) match {
            case 0 => r += v
            case 1 => g += v
            case 2 => b += v
          }
          i += 1
        }
        (id, img.width, img.height, img.width.toLong * img.height, r, g, b)
      }))
      .toDF("media_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** JPEG table: the SAME pixel formula as [[pngTable]] (doc_id%3==2
    * ids), compressed through the JDK's bundled JPEG writer at quality
    * 0.9. Lossy on purpose — the decode contract below is a bounds
    * verdict, not bit equality. */
  def jpegTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .map { id =>
        val w = (id % 11).toInt + 2
        val h = (id % 5).toInt + 2
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < w * h) {
          val base = 3L * i
          val r = ((id * 17 + base) % 256).toInt
          val g = ((id * 17 + base + 1) % 256).toInt
          val b = ((id * 17 + base + 2) % 256).toInt
          img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
          i += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(0.9f)
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
        writer.dispose(); ios.close()
        (id, out.toByteArray)
      }
  }

  /** Per-pixel JPEG error budget at quality 0.9 on this raster family:
    * generous but finite — a decoder that returns garbage (or metadata
    * instead of pixels) blows it immediately. */
  private val JpegPerPixelBound = 48L

  /** `m_jpeg_decode` — REAL lossy-codec decode (the JDK's bundled JPEG
    * reader: real Huffman + IDCT, pure-JDK, headless-safe): dimensions
    * are exact, and because JPEG is lossy the pixel contract is a
    * BOUNDS VERDICT in the sketch-oracle style — the absolute error of
    * each decoded channel sum against the closed-form original must sit
    * inside a per-pixel budget, emitted as an integer flag the oracle
    * checks exactly. This closes the "JPEG remains behind a stub" gap:
    * the bytes on the wire are a real interchange JPEG. */
  def jpegDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedCompressed(s, d, "jpeg")
      .mapPartitions { it =>
        ImageIo.noDiskCache
        it.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"JPEG $id: no reader accepted the stream")
        val w = img.getWidth
        val h = img.getHeight
        val argb = img.getRGB(0, 0, w, h, null, 0, w)
        var r = 0L; var g = 0L; var b = 0L
        var i = 0
        while (i < argb.length) {
          r += (argb(i) >> 16) & 0xff
          g += (argb(i) >> 8) & 0xff
          b += argb(i) & 0xff
          i += 1
        }
        // closed-form sums of the ORIGINAL raster (same formula the
        // encoder painted); the verdict compares decoded vs original
        var er = 0L; var eg = 0L; var eb = 0L
        var j = 0L
        while (j < 3L * w * h) {
          val v = (id * 17 + j) % 256
          (j % 3).toInt match {
            case 0 => er += v
            case 1 => eg += v
            case _ => eb += v
          }
          j += 1
        }
        val budget = JpegPerPixelBound * w * h
        val ok = math.abs(r - er) <= budget &&
          math.abs(g - eg) <= budget && math.abs(b - eb) <= budget
        (id, w, h, if (ok) 1 else 0)
      })
      }
      .toDF("media_id", "width", "height", "within_bound")
      .orderBy("media_id")
  }

  /** Audio table with real WAV payloads (audio-typed ids, doc_id%3==1):
    * frames=(id%50)+20, channels=1+(id%2), rate=8000+(id%3)·4000,
    * interleaved sample i = ((id·7 + i·13) % 65536) − 32768. */
  def wavTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .map { id =>
        val frames = (id % 50).toInt + 20
        val channels = 1 + (id % 2).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val samples = Array.tabulate(frames * channels)(
          i => (((id * 7 + i.toLong * 13) % 65536) - 32768).toShort)
        (id, WavCodec.encode(rate, channels, samples))
      }
  }

  /** `m_wav_decode` — REAL audio decode per record ([[WavCodec]]): rate
    * and channel count from the parsed fmt chunk, frame count and
    * per-channel sums from the PCM data chunk — the audio twin of
    * [[ppmDecode]], closing the second modality's kernel. */
  def wavDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "audio")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val a = WavCodec.decode(bytes)
        var c0 = 0L; var cAll = 0L
        var i = 0
        while (i < a.samples.length) {
          val v = a.samples(i).toLong
          cAll += v
          if (i % a.channels == 0) c0 += v
          i += 1
        }
        (id, a.sampleRate, a.channels, a.nFrames.toLong, c0, cAll)
      }))
      .toDF("media_id", "sample_rate", "n_channels", "n_frames", "sum_ch0", "sum_all")
      .orderBy("media_id")
  }

  // ---- Framed DCT-II spectral features (the MFCC front half): the
  // transform is made integer-exact by SCALING THE BASIS, not the
  // signal — C(k,n) = floor(cos(π(2n+1)k/32)·4096) is computed ONCE in
  // Scala and EMBEDDED AS LITERALS in the SQL oracle, so both engines
  // multiply identical integers and the coefficients hash bit-for-bit
  // (computing cos() independently per engine would drift by an ulp and
  // flip the floor). ----
  private val DctN = 16
  private val DctK = 8
  private[multimodal] lazy val dctTable: Array[Array[Long]] =
    Array.tabulate(DctK, DctN)((k, n) =>
      math.floor(math.cos(math.Pi * (2 * n + 1) * k / (2.0 * DctN)) * 4096.0).toLong)

  /** `m_mfcc` — DCT-II coefficients over 16-sample channel-0 windows of
    * REAL decoded WAV audio: X[k] = Σₙ x[n]·C(k,n) for k < 8 — the
    * spectral half of an MFCC pipeline (mel binning and the log are
    * monotone post-maps; the DCT is where the numerics live). Complete
    * windows only; all integer. Zero shuffles: a clip's samples arrive
    * in one record, so windows and coefficients compute inside the
    * per-record flatMap, output ∝ total windows. */
  def mfcc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "audio")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val a = WavCodec.decode(bytes)
        val nwin = a.nFrames / DctN
        for (win <- 0 until nwin; k <- 0 until DctK) yield {
          var acc = 0L
          var n = 0
          while (n < DctN) {
            acc += a.samples((win * DctN + n) * a.channels).toLong * dctTable(k)(n)
            n += 1
          }
          (id, win, k, acc)
        }
      }))
      .toDF("media_id", "win", "k", "coeff")
      .orderBy("media_id", "win", "k")
  }

  /** Mean-abs-error budget for the ADPCM round trip on the ramp fixture:
    * generous but finite — slope-overload garbage or a broken state
    * machine blows it immediately (observed mean error is far lower;
    * MediaSpec pins a tighter empirical value). */
  private val AdpcmMeanErrBudget = 200L

  /** `m_adpcm_decode` — REAL compressed-audio round trip
    * ([[AdpcmCodec]], IMA 4-bit): a smooth ramp signal (gentle slope
    * with periodic wraps — the adaptive step tracks the slope and
    * recovers from the wraps) is compressed 4:1 and decoded; sample
    * count and compressed size are EXACT (`⌈n/2⌉` bytes — the
    * compression ratio is closed-form), fidelity is the JPEG-style
    * bounds verdict on mean absolute error, all integer arithmetic. */
  def adpcmDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { id =>
        val n = (id % 50).toInt + 200
        val slope = (id % 13) + 5
        // starts near zero (the codec's initial predictor), so the
        // error budget covers slope tracking + wrap recovery, not an
        // artificial cold-start transient
        val samples = Array.tabulate(n)(i =>
          ((2000 + (id % 97) + 1 + i * slope) % 4000 - 2000).toShort)
        val packed = AdpcmCodec.encode(samples)
        val decoded = AdpcmCodec.decode(packed, n)
        var absErr = 0L
        var i = 0
        while (i < n) { absErr += math.abs(decoded(i) - samples(i)); i += 1 }
        (id, n.toLong, packed.length.toLong,
          if (absErr <= AdpcmMeanErrBudget * n) 1 else 0)
      }))
      .toDF("media_id", "n_samples", "n_bytes", "within_bound")
      .orderBy("media_id")
  }

  private val ResampleRate = 4000

  /** `m_wav_resample` — decode → TRANSFORM on real parsed audio: linear
    * resampling of channel 0 to a fixed [[ResampleRate]] Hz (the
    * audio twin of [[ppmResize]]'s fixed-grid raster — whatever rate a
    * clip arrives at, the model input shape is fixed). The interpolated
    * value at output frame j sits at exact source position
    * `j·rate/4000`; everything is computed in INTEGER arithmetic — the
    * reported quantity is Σ_j (s0·(4000−r) + s1·r) with
    * `r = (j·rate) mod 4000`, i.e. the interpolated sum scaled by 4000
    * — so the closed-form oracle matches bit-for-bit with no float in
    * sight. Output count `((frames−1)·4000) div rate + 1` keeps every
    * position inside the clip (resampling never extrapolates). */
  def wavResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "audio")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val a = WavCodec.decode(bytes)
        val frames = a.nFrames
        val nOut = ((frames - 1).toLong * ResampleRate) / a.sampleRate + 1
        var acc = 0L
        var j = 0L
        while (j < nOut) {
          val num = j * a.sampleRate
          val i0 = (num / ResampleRate).toInt
          val r = num % ResampleRate
          val s0 = a.samples(i0 * a.channels).toLong
          val s1 = if (i0 + 1 < frames) a.samples((i0 + 1) * a.channels).toLong else 0L
          acc += s0 * (ResampleRate - r) + s1 * r
          j += 1
        }
        (id, a.sampleRate, frames.toLong, nOut, acc)
      }))
      .toDF("media_id", "in_rate", "n_in_frames", "n_out_frames", "scaled_sum")
      .orderBy("media_id")
  }

  private val FeatWin = 16

  /** `m_audio_features` — FRAMED FEATURE EXTRACTION on real parsed
    * audio, the step after decode in every audio-training pipeline
    * (VAD, silence trimming, data filtering all run on framed
    * energy/ZCR, not raw samples): channel 0 of each decoded clip is
    * cut into non-overlapping [[FeatWin]]-frame windows (ragged tail
    * dropped — fixed tensor shapes, like [[ppmResize]]) and each window
    * reports short-time ENERGY (Σ s²), ZERO-CROSSING count (sign
    * changes between adjacent samples — the classic voiced/unvoiced,
    * speech/noise discriminator), and PEAK |s|. All integer arithmetic
    * on the parsed PCM, so the closed-form oracle (the generator's
    * sample formula walked per window) matches bit-for-bit.
    *
    * Scale shape: narrow per-record flatMap (1 clip → O(frames/W)
    * feature rows), no shuffle until the final presentation sort —
    * feature extraction is embarrassingly parallel and stays that way
    * at any corpus size. */
  def audioFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "audio")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val a = WavCodec.decode(bytes)
        val nWin = a.nFrames / FeatWin
        (0 until nWin).map { w =>
          var energy = 0L; var zc = 0L; var peak = 0L
          var k = 0
          while (k < FeatWin) {
            val f = w * FeatWin + k
            val v = a.samples(f * a.channels).toLong
            energy += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (k > 0) {
              val prev = a.samples((f - 1) * a.channels).toLong
              if (prev * v < 0) zc += 1
            }
            k += 1
          }
          (id, w, energy, zc, peak)
        }
      }))
      .toDF("media_id", "win", "energy", "zero_cross", "peak")
      .orderBy("media_id", "win")
  }

  private val PatchDim = 2

  /** `m_patchify` — ViT-style PATCH EXTRACTION on real decoded pixels:
    * each decoded PPM raster cuts into non-overlapping
    * [[PatchDim]]×[[PatchDim]] patches (the vision transformer's input
    * tokenization — one patch = one token), ragged right/bottom edges
    * dropped (fixed tensor shapes, the [[audioFeatures]] window
    * discipline). Per patch: exact per-channel sums from the PARSED
    * raster, so the closed-form oracle (the generator's pixel formula
    * walked patch-by-patch) matches bit-for-bit. The fan-out
    * 1 image → (w/P)·(h/P) patch rows is the shape a patch-embedding
    * stage consumes.
    *
    * Scale shape: narrow batched flatMap, zero shuffles before the
    * presentation sort — like every decode stage here. */
  def patchify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "image")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val img = PpmCodec.decode(bytes)
        val (pw, ph) = (img.width / PatchDim, img.height / PatchDim)
        for (py <- 0 until ph; px <- 0 until pw) yield {
          var r = 0L; var g = 0L; var b = 0L
          var dy = 0
          while (dy < PatchDim) {
            var dx = 0
            while (dx < PatchDim) {
              val base = 3 * ((py * PatchDim + dy) * img.width + (px * PatchDim + dx))
              r += img.raster(base) & 0xff
              g += img.raster(base + 1) & 0xff
              b += img.raster(base + 2) & 0xff
              dx += 1
            }
            dy += 1
          }
          (id, py * pw + px, px, py, r, g, b)
        }
      }))
      .toDF("media_id", "patch_idx", "px", "py", "sum_r", "sum_g", "sum_b")
      .orderBy("media_id", "patch_idx")
  }

  private val ThumbDim = 4

  /** `m_ppm_resize` — decode → TRANSFORM on real parsed pixels: a 4×4
    * nearest-neighbor thumbnail of each decoded PPM raster (fixed-tensor
    * output whatever the input dimensions — the shape a training batch
    * needs), reported as exact per-channel sums. Source pixel for thumb
    * (x, y) is raster[(y·h div 4)·w + (x·w div 4)] — same integer
    * arithmetic in the closed-form oracle, valid for images smaller or
    * larger than the grid. */
  def ppmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "image")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        val img = PpmCodec.decode(bytes)
        var r = 0L; var g = 0L; var b = 0L
        var y = 0
        while (y < ThumbDim) {
          var x = 0
          while (x < ThumbDim) {
            val src = ((y * img.height / ThumbDim) * img.width
              + (x * img.width / ThumbDim)) * 3
            r += img.raster(src) & 0xff
            g += img.raster(src + 1) & 0xff
            b += img.raster(src + 2) & 0xff
            x += 1
          }
          y += 1
        }
        (id, img.width, img.height, r, g, b)
      }))
      .toDF("media_id", "width", "height", "thumb_r", "thumb_g", "thumb_b")
      .orderBy("media_id")
  }

  /** GIF table with real multi-frame container payloads (video-typed
    * ids, doc_id%3==2): nf=(id%5)+2 frames of w=(id%9)+2 × h=(id%6)+2,
    * frame f pixel i = palette index (id·13 + f·7 + i) % 256 — encoded by
    * the from-scratch [[GifCodec.encode]] writer (real variable-width
    * LZW + GIF89a container), so the walk below exercises the JDK reader
    * on independently produced bytes. */
  def gifTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .map { id =>
        val nf = (id % 5).toInt + 2
        val w = (id % 9).toInt + 2
        val h = (id % 6).toInt + 2
        val frames = (0 until nf).map(f =>
          Array.tabulate(w * h)(i => ((id * 13 + f * 7 + i) % 256).toByte))
        (id, GifCodec.encode(w, h, frames))
      }
  }

  /** `m_gif_frames` — REAL container walk, the modality that retired the
    * last synthetic media path: each payload is a genuine animated
    * GIF89a (our writer, the JDK's independent decoder), expanded
    * 1 record → N frame rows with per-frame index sums computed from the
    * DECODED rasters. The grayscale palette makes the decoded red
    * channel the index raster, so the closed-form pixel oracle is exact
    * — the container structure (frame count, per-frame dimensions) and
    * the LZW payload are both verified by data. [[frameSamples]] remains
    * as the byte-chunk FALLBACK shape for formats with no JDK decoder. */
  // slope pin: ~5 at 10x input, drifting toward 10 (LZW decode is linear
  // in total frames) — see SLOPES.md
  def gifFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "video")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val frames = GifCodec.decode(bytes)
        frames.zipWithIndex.map { case (f, idx) =>
          var sum = 0L
          var i = 0
          while (i < f.indices.length) { sum += f.indices(i) & 0xff; i += 1 }
          (id, idx, f.width, f.height, frames.length, sum)
        }
      }))
      .toDF("media_id", "frame_idx", "width", "height", "n_frames", "sum_px")
      .orderBy("media_id", "frame_idx")
  }

  /** `m_keyframes` — SHOT-BOUNDARY / KEYFRAME detection on real decoded
    * video frames, the sampling policy a video-training pipeline runs
    * INSTEAD of blind every-Nth-frame striding ([[frameSamples]]): the
    * inter-frame difference d(f) = Σ_i |p_f(i) − p_{f−1}(i)| over the
    * DECODED rasters marks a frame a keyframe when its change exceeds
    * the clip's mean change (adaptive threshold, cross-multiplied —
    * d(f)·(n−1) > Σd·1 — so no division), with frame 0 always a key.
    * GIF is lossless, so the decoded rasters ARE the generator's
    * closed-form pixels and the whole row — diff included — hash-checks
    * against the per-pixel walk in SQL.
    *
    * Scale shape: a clip's frames arrive in ONE record, so diffs, the
    * clip mean, and the flags all compute inside the per-record flatMap
    * — zero shuffles at any corpus size; output ∝ total frames. */
  def keyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    stagedPayloads(s, d, "video")
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val frames = GifCodec.decode(bytes)
        val diffs = frames.indices.map { f =>
          if (f == 0) 0L
          else {
            var acc = 0L
            var i = 0
            val cur = frames(f).indices; val prev = frames(f - 1).indices
            while (i < cur.length) {
              acc += math.abs((cur(i) & 0xff) - (prev(i) & 0xff)); i += 1
            }
            acc
          }
        }
        val moving = diffs.drop(1)
        val (tot, cnt) = (moving.sum, moving.length.toLong)
        frames.indices.map { f =>
          val key = if (f == 0) 1 else if (diffs(f) * cnt > tot) 1 else 0
          (id, f, diffs(f), key)
        }
      }))
      .toDF("media_id", "frame_idx", "diff", "is_key")
      .orderBy("media_id", "frame_idx")
  }

  /** Image table for the PERCEPTUAL-HASH near-dup family: 18×16 gray
    * rasters (every channel equal) carried as real PPM bytes. Ids are
    * the doc_id%4==0 bases; pixel g(i) = ((v² + v) div 64) % 256 with
    * v = (id·31 + i·17) % 65521 — the quadratic mix DECORRELATES
    * images (a plain linear ramp gives every image nearly the same
    * gradient and therefore nearly the same dHash, collapsing the
    * whole corpus into one near-dup class), and the div-64 keeps g off
    * the low bits (v² + v mod 256 is a function of v mod 256, which
    * aliases ids 256 apart into identical images); PLUS a planted
    * NEAR-DUPLICATE twin for every doc_id%8==1: the previous id's
    * raster with every byte XOR 1 (±1 gray — survives block averaging
    * almost everywhere, the re-encoded-thumbnail shape of image dedup
    * corpora). All arithmetic stays under 2³², so the SQL oracle
    * reproduces it in BIGINT exactly. */
  /** The 65521 modulus every media-fixture pixel/sample formula reduces
    * through. The policy oracle (`m_policy_e2e`) proves EXACT payload
    * equality closed-form from (base, xor) — valid only while base ids
    * stay UNDER this modulus, because bases b and b+65521 produce
    * byte-identical payloads that Spark's md5 leg would pair but the
    * (b, x)-equality oracle would miss. [[requireUnderFpModulus]] makes
    * every generator enforce the invariant per row, so a larger-SF
    * fixture fails loudly instead of silently diverging from the
    * oracle. */
  private[multimodal] val FpModulus = 65521L

  private def requireUnderFpModulus(b: Long): Unit =
    require(b >= 0 && b < FpModulus,
      s"media fixture base id $b outside [0, $FpModulus): payload formulas " +
        s"alias ids $FpModulus apart into byte-identical payloads, which the " +
        "m_policy_e2e closed-form oracle cannot see — regenerate the fixture " +
        "or extend the oracle before raising the id space")

  /** The dHash fixture's PPM payload for (base, xor) — factored so the
    * policy ledger's mirror leg can plant BYTE-IDENTICAL re-uploads. */
  private def dhashPpmPayload(b: Long, x: Int): Array[Byte] = {
    requireUnderFpModulus(b)
    val raster = Array.tabulate(3 * 288) { j =>
      val v = (b * 31 + (j / 3) * 17) % 65521
      ((((v * v + v) / 64) % 256).toInt ^ x).toByte
    }
    PpmCodec.encode(18, 16, 255, raster)
  }

  def dhashImageTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .filter(col("doc_id") % 4 === 0 || col("doc_id") % 8 === 1)
      .as[Long]
      .map { id =>
        val b = if (id % 8 == 1) id - 1 else id
        val x = if (id % 8 == 1) 1 else 0
        (id, dhashPpmPayload(b, x))
      }
  }

  /** The RE-UPLOAD leg of the media-policy universe: every doc_id%16==0
    * image re-enters byte-identical under a fresh media id (the same
    * bytes re-posted — the exact-duplicate shape perceptual hashing is
    * overkill for). [[MirrorOffset]] keeps the new ids disjoint from
    * every doc id at any SF. */
  private[graft] val MirrorOffset = 1000000000L
  private[multimodal] def mirrorImageTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .filter(col("doc_id") % 16 === 0)
      .as[Long]
      .map(id => (id + MirrorOffset, dhashPpmPayload(id, 0)))
  }

  /** Difference-hash (dHash) bands per image: REAL decode of the PPM
    * payload, 2×2 block sums down to a 9×8 grid, bit k = r·8+c set iff
    * sum4(r,c) > sum4(r,c+1) (comparing 4-pixel SUMS — the same order
    * as means, no division), packed into four 16-bit band keys. Integer
    * end to end, so the closed-form SQL oracle reproduces every bit. */
  private[multimodal] def dhashBands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dhashImageTable(s, d)
      .flatMap { case (id, bytes) =>
        val img = PpmCodec.decode(bytes)
        require(img.width == 18 && img.height == 16,
          s"unexpected dims ${img.width}x${img.height} for image $id")
        val sum4 = Array.ofDim[Int](8, 9)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 9) {
            var acc = 0
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                acc += img.raster(3 * ((2 * r + dy) * 18 + (2 * c + dx))) & 0xff
                dx += 1
              }
              dy += 1
            }
            sum4(r)(c) = acc
            c += 1
          }
          r += 1
        }
        val keys = new Array[Long](4)
        var k = 0
        while (k < 64) {
          if (sum4(k / 8)(k % 8) > sum4(k / 8)(k % 8 + 1)) keys(k / 16) |= 1L << (k % 16)
          k += 1
        }
        (0 until 4).map(band => (id, band, keys(band)))
      }
      .toDF("id", "band", "key")
  }

  /** `m_dhash_neardup` — IMAGE NEAR-DUP DETECTION by perceptual hash,
    * the multimodal arm of the dedup family: every image's dHash is
    * computed from REAL decoded bytes ([[dhashBands]]), candidate pairs
    * come from BAND-KEY BLOCKING (two images meet only if one of their
    * four 16-bit bands matches exactly — the SimHash/LSH banding
    * discipline, never all-pairs), and survivors are kept at Hamming
    * distance ≤ 8 of 64. The planted XOR-1 twins land well inside the
    * threshold; unrelated images that collide on a band (expected —
    * 16-bit keys birthday-collide at corpus scale) are culled by the
    * exact distance. The whole derivation is integer, so the oracle
    * recomputes hash bits, banding, and distances closed-form in SQL.
    *
    * Scale shape: band blocking bounds the join fan-out exactly like
    * the MinHash-LSH path (`operators/Dedup.scala`); the distance
    * check touches only banded candidates. Nothing all-pairs. */
  def dhashNeardup(s: SparkSession, d: String): DataFrame = {
    val bands = dhashBands(s, d)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand.join(bands.as("x"), col("id_a") === col("x.id"))
      .join(bands.as("y"),
        col("id_b") === col("y.id") && col("x.band") === col("y.band"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(bit_count(col("x.key").bitwiseXOR(col("y.key")))).as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy("id_a", "id_b")
  }

  /** Video table with real MJPEG-in-AVI payloads (video-typed ids,
    * doc_id%3==2): nf=(id%4)+2 frames of w=(id%7)+2 × h=(id%5)+2, frame
    * f raster byte j = (id·17 + f·29 + j) % 256 (channel = j%3) — the
    * same closed-form family as the JPEG fixture, per frame. Each frame
    * is a genuine quality-0.9 interchange JPEG muxed by [[AviCodec]]. */
  def aviTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .as[Long]
      .map { id =>
        val nf = (id % 4).toInt + 2
        val w = (id % 7).toInt + 2
        val h = (id % 5).toInt + 2
        val frames = (0 until nf).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var i = 0
          while (i < w * h) {
            val base = 3L * i
            val r = ((id * 17 + f * 29 + base) % 256).toInt
            val g = ((id * 17 + f * 29 + base + 1) % 256).toInt
            val b = ((id * 17 + f * 29 + base + 2) % 256).toInt
            img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
            i += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
          val params = writer.getDefaultWriteParam
          params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          params.setCompressionQuality(0.9f)
          val ios = javax.imageio.ImageIO.createImageOutputStream(out)
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
          writer.dispose(); ios.close()
          out.toByteArray
        }
        (id, AviCodec.encode(w, h, 10, frames))
      }
  }

  /** `m_avi_frames` — MJPEG-in-AVI container walk, 1 record → N frame
    * rows: [[AviCodec.decode]] walks the RIFF structure (header, movi
    * frame chunks, index skipped by length), each extracted `00dc`
    * payload is decoded by the JDK's independent JPEG reader, dimensions
    * are exact, and the lossy pixel contract is the same per-pixel
    * error-budget verdict as `m_jpeg_decode`. Container structure
    * (frame count, dimensions) AND codec payloads are both verified by
    * data — this retires the fallback-shape note on `m_frame_sample`
    * for video. */
  def aviStageDir(sfDir: String): String = graft.Staging.dir("avi_mjpeg_v1", sfDir)

  /** The AVI payloads staged once per corpus fingerprint: the MUX side
    * (per-frame JPEG encode + RIFF container write) is a pure corpus
    * function the query was re-paying every run; the staged parquet is
    * the binary column a lake actually scans. [[aviFrames]] grades the
    * DEMUX + JPEG DECODE, which stays live per run. */
  private def ensureAviStaged(s: SparkSession, d: String): String = {
    val dir = aviStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      aviTable(s, d).toDF("media_id", "bytes")
        .write.mode("overwrite").parquet(dir + "/payloads")
    }: Unit
    dir + "/payloads"
  }

  def aviFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The staged payload parquet is byte-SMALL but the demux+JPEG decode
    // is compute-DENSE: one scan split would serialize every ImageIO
    // decode on a single core (the Dedup.withSig trap — the r19 builder
    // board flagged exactly this, slope 28.6 with a flat sentinel). The
    // explicit-count repartition buys full parallelism; at real scale the
    // payload files exceed maxPartitionBytes and split naturally.
    Tables.parquet(s, ensureAviStaged(s, d))
      .repartition(s.sparkContext.defaultParallelism, col("media_id"))
      .select(col("media_id").as("_1"), col("bytes").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIo.noDiskCache
        it.grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
        val vid = AviCodec.decode(bytes)
        vid.frames.zipWithIndex.map { case (jpeg, f) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
          require(img != null, s"AVI $id frame $f: no JPEG reader accepted the payload")
          require(img.getWidth == vid.width && img.getHeight == vid.height,
            s"AVI $id frame $f: ${img.getWidth}x${img.getHeight} != container " +
              s"${vid.width}x${vid.height}")
          val w = img.getWidth
          val h = img.getHeight
          val argb = img.getRGB(0, 0, w, h, null, 0, w)
          var r = 0L; var g = 0L; var b = 0L
          var i = 0
          while (i < argb.length) {
            r += (argb(i) >> 16) & 0xff
            g += (argb(i) >> 8) & 0xff
            b += argb(i) & 0xff
            i += 1
          }
          var er = 0L; var eg = 0L; var eb = 0L
          var j = 0L
          while (j < 3L * w * h) {
            val v = (id * 17 + f * 29 + j) % 256
            (j % 3).toInt match {
              case 0 => er += v
              case 1 => eg += v
              case _ => eb += v
            }
            j += 1
          }
          val budget = JpegPerPixelBound * w * h
          val ok = math.abs(r - er) <= budget &&
            math.abs(g - eg) <= budget && math.abs(b - eb) <= budget
          (id, f, w, h, vid.frames.length, if (ok) 1 else 0)
        }
      })
      }
      .toDF("media_id", "frame_idx", "width", "height", "n_frames", "within_bound")
      .orderBy("media_id", "frame_idx")
  }

  /** `m_pipeline_e2e` — the COMPOSED end-to-end MULTIMODAL training
    * pass, the vision twin of `t_pipeline_e2e`: real-decode image gate →
    * caption quality gate → pair assembly with the aspect rule → exact
    * caption dedup → shard-sliced writer manifest, one lazy plan reusing
    * each standalone operator's semantics.
    *
    *  1. IMAGES: [[jpegDecode]]'s real decoded records; REQUIREs every
    *     decode verdict green (so the oracle may model the verdict as
    *     pass), then gates on width ≥ 4 — the too-small-to-train filter.
    *  2. CAPTIONS: token count in [8, 200] ([[pairAssembly]]'s rule).
    *  3. PAIRS: id equi-join + the integer aspect gate 2·w ≥ h.
    *  4. DEDUP: normalized caption digest (sorted words — the
    *     `d_exact_dedup` normalization), lowest media_id wins.
    *  5. MANIFEST: md5 shard assignment (4 shards) + per-shard ordinal —
    *     the (shard, idx) a data-loader resumes from.
    *
    * Scale shape: decode is the narrow batched flatMap; every gate is a
    * filter before the single id equi-join; dedup groups on the digest;
    * the ordinal window partitions BY SHARD (never a global sort). */
  def pipelineE2e(s: SparkSession, d: String): DataFrame = {
    val decoded = jpegDecode(s, d)
    require(decoded.filter(col("within_bound") =!= 1).isEmpty,
      "a decode verdict left the error budget — the oracle's pass model would lie")
    val images = decoded.filter(col("width") >= 4)
      .select(col("media_id"), col("width"), col("height"))
    val captions = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), col("text"),
        size(split(col("text"), " ")).as("cap_tokens"))
      .filter(col("cap_tokens").between(8, 200))
    val pairs = images.join(captions, "media_id")
      .filter(col("width") * 2 >= col("height"))
    val deduped = pairs
      .withColumn("norm_md5",
        md5(array_join(array_sort(split(col("text"), " ")), " ").cast("binary")))
      .withColumn("keep_id",
        min(col("media_id")).over(Window.partitionBy(col("norm_md5"))))
      .filter(col("media_id") === col("keep_id"))
    deduped
      .withColumn("shard",
        pmod(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(4)))
      .withColumn("idx_in_shard", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("media_id"))))
      .select(col("shard"), col("idx_in_shard"), col("media_id"),
        col("width"), col("height"), col("cap_tokens"),
        md5(col("text").cast("binary")).as("cap_md5"))
      .orderBy("shard", "idx_in_shard")
  }

  // ---- Audio near-dup by energy-delta fingerprint. ----

  private val AudioFpWin = 16
  private val AudioFpWins = 33 // 32 delta bits = 2 × 16-bit band keys
  private val AudioFpFrames = AudioFpWin * AudioFpWins

  /** Audio-fingerprint clip table: mono [[AudioFpFrames]]-frame clips for
    * the doc_id%4==2 bases; sample u(f) = ((v²+v) div 64) % 65536 − 32768
    * with v = (id·31 + f·17) % 65521 — the [[dhashImageTable]] quadratic
    * decorrelation, biased into PCM16; PLUS a planted NEAR-DUPLICATE
    * twin for every doc_id%8==3: the previous id's samples with the
    * unsigned LSB XOR 1 (±1 amplitude — the requantized/re-encoded-copy
    * shape of audio dedup corpora; window energies move by ~10⁶ against
    * adjacent-window gaps of ~10⁹, so the delta fingerprint survives).
    * Disjoint from the dHash id space (%4==0 ∪ %8==1). All arithmetic
    * under 2³², so the SQL oracle reproduces every sample in BIGINT. */
  def audioFpTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .filter(col("doc_id") % 4 === 2 || col("doc_id") % 8 === 3)
      .as[Long]
      .map { id =>
        val b = if (id % 8 == 3) id - 1 else id
        val x = if (id % 8 == 3) 1 else 0
        requireUnderFpModulus(b)
        val samples = Array.tabulate[Short](AudioFpFrames) { f =>
          val v = (b * 31 + f * 17) % 65521
          val u = ((v * v + v) / 64) % 65536
          ((u ^ x) - 32768).toShort
        }
        (id, WavCodec.encode(8000, 1, samples))
      }
  }

  /** Energy-delta fingerprint bands per clip (Haitsma–Kalker shape on
    * one band): REAL decode of the WAV payload, [[AudioFpWin]]-frame
    * window energies, bit w set iff e(w) > e(w+1), the 32 bits packed
    * into two 16-bit band keys — the audio twin of [[dhashBands]].
    * Integer end to end. */
  private[multimodal] def audioFpBands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioFpTable(s, d)
      .flatMap { case (id, bytes) =>
        val a = WavCodec.decode(bytes)
        require(a.nFrames == AudioFpFrames && a.channels == 1,
          s"unexpected shape ${a.nFrames}x${a.channels} for clip $id")
        val e = Array.tabulate(AudioFpWins) { w =>
          var acc = 0L
          var k = 0
          while (k < AudioFpWin) {
            val sv = a.samples(w * AudioFpWin + k).toLong
            acc += sv * sv
            k += 1
          }
          acc
        }
        val keys = new Array[Long](2)
        var w = 0
        while (w < AudioFpWins - 1) {
          if (e(w) > e(w + 1)) keys(w / 16) |= 1L << (w % 16)
          w += 1
        }
        (0 until 2).map(band => (id, band, keys(band)))
      }
      .toDF("id", "band", "key")
  }

  /** `m_audio_neardup` — AUDIO NEAR-DUP DETECTION by acoustic
    * fingerprint, the audio arm of the dedup family next to
    * [[dhashNeardup]]: candidates only where a 16-bit band key matches
    * exactly (LSH banding, never all-pairs), survivors kept at Hamming
    * ≤ 4 of 32. Like every banded-LSH operator here, the contract is
    * one-sided: a pair must share at least ONE exact band key AND pass
    * the Hamming cut — a true near-dup whose ≤ 4 flipped bits split
    * 2+2 across both bands (no exact band match) is never a candidate
    * and is silently missed, the inherent LSH false-negative class.
    * The planted requantized twins land at ~0; random band
    * collisions (birthday-expected at corpus scale) are culled by the
    * exact distance. Integer end to end → closed-form SQL oracle.
    *
    * Scale shape: identical to the image path — band blocking bounds
    * the join fan-out, the distance check touches banded candidates
    * only. */
  def audioNeardup(s: SparkSession, d: String): DataFrame = {
    val bands = audioFpBands(s, d)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand.join(bands.as("x"), col("id_a") === col("x.id"))
      .join(bands.as("y"),
        col("id_b") === col("y.id") && col("x.band") === col("y.band"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(bit_count(col("x.key").bitwiseXOR(col("y.key")))).as("hamming"))
      .filter(col("hamming") <= 4)
      .orderBy("id_a", "id_b")
  }

  // ---- Video near-dup by temporally-banded frame dHash. ----

  private val VidFpFrames = 4
  private val VidFpDim = 8 // 8×8 gray frames → 4×4 block grid → 12 delta bits

  /** Video-fingerprint clip table: 4-frame 8×8 grayscale GIF89a clips
    * for the doc_id%8==5 bases, pixel g = ((v²+v) div 64) % 256 with
    * v = (b·29 + f·41 + i·17) % 65521 (the [[dhashImageTable]] quadratic
    * decorrelation — the shipped `gifTable` formula is LINEAR mod 256,
    * which aliases every frame into one phase-shifted ramp and would
    * collapse the corpus into a single near-dup class); PLUS a planted
    * NEAR-DUPLICATE twin for every doc_id%8==7: the id−2 base's frames
    * with every byte XOR 1 (±1 gray per pixel — the re-encoded-copy
    * shape). GIF's LZW is lossless, so decoded bytes ARE the formula and
    * the SQL oracle reproduces every pixel in BIGINT. */
  def videoFpTable(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"))
      .filter(col("doc_id") % 8 === 5 || col("doc_id") % 8 === 7)
      .as[Long]
      .map { id =>
        val b = if (id % 8 == 7) id - 2 else id
        val x = if (id % 8 == 7) 1 else 0
        requireUnderFpModulus(b)
        val frames = (0 until VidFpFrames).map { f =>
          Array.tabulate(VidFpDim * VidFpDim) { i =>
            val v = (b * 29 + f * 41 + i * 17) % 65521
            ((((v * v + v) / 64) % 256).toInt ^ x).toByte
          }
        }
        (id, GifCodec.encode(VidFpDim, VidFpDim, frames))
      }
  }

  /** Per-frame dHash keys for the video fingerprint: REAL GIF decode,
    * 2×2 block sums down to a 4×4 grid, bit k = r·3+c set iff
    * sum4(r,c) > sum4(r,c+1) (12 bits per frame), the FRAME INDEX as the
    * band — temporal banding: two clips become candidates iff some
    * aligned frame's key matches exactly. The [[dhashBands]] discipline
    * with time playing the band axis. */
  private[multimodal] def videoFpBands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoFpTable(s, d)
      .flatMap { case (id, bytes) =>
        val frames = GifCodec.decode(bytes)
        require(frames.length == VidFpFrames &&
          frames.head.width == VidFpDim && frames.head.height == VidFpDim,
          s"unexpected clip shape for $id")
        frames.zipWithIndex.map { case (fr, f) =>
          val sum4 = Array.ofDim[Int](4, 4)
          var i = 0
          while (i < VidFpDim * VidFpDim) {
            sum4((i / VidFpDim) / 2)((i % VidFpDim) / 2) += fr.indices(i) & 0xff
            i += 1
          }
          var key = 0L
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 3) {
              if (sum4(r)(c) > sum4(r)(c + 1)) key |= 1L << (r * 3 + c)
              c += 1
            }
            r += 1
          }
          (id, f, key)
        }
      }
      .toDF("id", "band", "key")
  }

  /** `m_video_neardup` — VIDEO NEAR-DUP DETECTION, the third modality
    * arm of the dedup family ([[dhashNeardup]] images, [[audioNeardup]]
    * audio): clips pair only where an aligned frame's 12-bit dHash key
    * matches exactly, survivors kept at total cross-frame Hamming ≤ 3
    * of 48. The banding makes this one-sided (the [[audioNeardup]]
    * caveat): a true near-dup whose ≤ 3 flipped bits spread so that NO
    * single frame's key matches exactly is never a candidate — the
    * inherent LSH false-negative class, traded for never-all-pairs.
    * Planted ±1-gray twins land at ≤ 2 (sf0.1: 563×0 / 60×1 /
    * 2×2) while random frame-key collisions (12-bit keys
    * birthday-collide freely) sit at ≥ 4 — the threshold splits the two
    * populations with a one-bit margin on each side. Lossless codec + integer fingerprint → closed-form
    * SQL oracle. Scale shape: temporal band blocking bounds the join
    * fan-out; nothing all-pairs. */
  def videoNeardup(s: SparkSession, d: String): DataFrame = {
    val bands = videoFpBands(s, d)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand.join(bands.as("x"), col("id_a") === col("x.id"))
      .join(bands.as("y"),
        col("id_b") === col("y.id") && col("x.band") === col("y.band"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(bit_count(col("x.key").bitwiseXOR(col("y.key")))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")
  }

  /** `m_policy_e2e` — the CROSS-MODALITY media dedup POLICY ledger: the
    * three near-dup arms ([[dhashNeardup]] images, [[audioNeardup]]
    * audio, [[videoNeardup]] video — each reused as its shipped
    * expression, candidates banded, never all-pairs) composed with EXACT
    * payload dedup (md5 over the real encoded bytes, one hash-groupBy —
    * the [[mirrorImageTable]] re-uploads are the planted positives) into
    * one KEEP/DROP/REVIEW verdict per media item — the `d_policy_e2e`
    * pattern at media grain.
    *
    * Policy = the LOWER-ID-WITNESS discipline (the incremental-dedup
    * form), not full connected components: byte-equality is
    * machine-provable so an exact lower witness is `drop`; perceptual
    * similarity is evidence, not proof, so a near-dup lower witness is
    * `review`; no witness is `keep`. `witness_id` names the least lower
    * witness (the item itself when keeping), `min_hamming` triages the
    * review queue (−1 = no near-dup evidence).
    *
    * Scale shape: the item table (modality, id, payload_md5) is pinned
    * ONCE — payload bytes never shuffle, only 32-byte digests; exact
    * evidence is a self-equi-join on the digest (hash-partitioned, the
    * d_exact_dedup shape); near evidence reads the three banded pair
    * tables, each bounded by its band blocking; the ledger is ∝ media
    * count. The oracle recomputes payload equality closed-form from the
    * generators ((b, x) injective below the 65521 modulus — every SF here
    * keeps ids under it). */
  def mediaPolicyStageDir(sfDir: String): String = graft.Staging.dir("media_policy_v1", sfDir)

  /** The policy ledger's INPUTS staged once per corpus fingerprint (r21):
    * the item DIGEST table (modality, media_id, payload_md5 — 32-byte
    * digests only, payload bytes never persist) and the three banded
    * near-dup pair tables. All four are pure corpus functions, exactly
    * like the dedup family's staged pair table that `d_policy_e2e`
    * consumes — r20 re-synthesized every fixture payload and re-ran all
    * three encode→decode→band→join arms inside EVERY policy run (and a
    * second time inside `t_release_board`). The codec work itself stays
    * live, measured, and oracle-checked in the standalone `m_*_neardup` /
    * decode queries; the policy composition now reads build-once state,
    * which is how a production ledger consumes fingerprint tables. */
  /** Code-version token folded into the stage fingerprint (r21 advice):
    * the staged tables derive from the fixture synthesis + codecs + the
    * three banded arms — bump when any of that logic changes. */
  private val MediaPolicyStageVersion = "fixtures1:arms1:digest1"

  private def ensureMediaPolicyStaged(s: SparkSession, d: String): String = {
    import s.implicits._
    val dir = mediaPolicyStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet"), MediaPolicyStageVersion) {
      dhashImageTable(s, d).map { case (id, p) => ("image", id, p) }
        .union(mirrorImageTable(s, d).map { case (id, p) => ("image", id, p) })
        .union(audioFpTable(s, d).map { case (id, p) => ("audio", id, p) })
        .union(videoFpTable(s, d).map { case (id, p) => ("video", id, p) })
        .toDF("modality", "media_id", "payload")
        .select(col("modality"), col("media_id"), md5(col("payload")).as("payload_md5"))
        .write.mode("overwrite").parquet(dir + "/items")
      dhashNeardup(s, d).write.mode("overwrite").parquet(dir + "/pairs_image")
      audioNeardup(s, d).write.mode("overwrite").parquet(dir + "/pairs_audio")
      videoNeardup(s, d).write.mode("overwrite").parquet(dir + "/pairs_video")
    }: Unit
    dir
  }

  def mediaPolicy(s: SparkSession, d: String): DataFrame = {
    val stage = ensureMediaPolicyStaged(s, d)
    val items = Tables.parquet(s, stage + "/items")
    val ex = items.as("p").join(items.as("q"),
        col("p.modality") === col("q.modality") &&
          col("p.payload_md5") === col("q.payload_md5") &&
          col("p.media_id") =!= col("q.media_id"))
      .groupBy(col("p.modality").as("modality"), col("p.media_id").as("media_id"))
      .agg(count(lit(1)).as("n_exact"),
        min(when(col("q.media_id") < col("p.media_id"), col("q.media_id"))).as("exact_lo"))
    val nd = Tables.parquet(s, stage + "/pairs_image")
      .select(lit("image").as("modality"), col("id_a"), col("id_b"), col("hamming"))
      .unionByName(Tables.parquet(s, stage + "/pairs_audio")
        .select(lit("audio").as("modality"), col("id_a"), col("id_b"), col("hamming")))
      .unionByName(Tables.parquet(s, stage + "/pairs_video")
        .select(lit("video").as("modality"), col("id_a"), col("id_b"), col("hamming")))
    val ends = nd.select(col("modality"), col("id_a").as("media_id"),
        col("id_b").as("partner"), col("hamming"))
      .unionByName(nd.select(col("modality"), col("id_b").as("media_id"),
        col("id_a").as("partner"), col("hamming")))
    val ne = ends.groupBy(col("modality"), col("media_id"))
      .agg(count(lit(1)).as("n_neardup"),
        min(col("hamming")).as("min_hamming"),
        min(when(col("partner") < col("media_id"), col("partner"))).as("near_lo"))
    // engine-neutral least-of-nullables (Spark's least skips NULLs,
    // DuckDB's may not — the coalesce form means it never matters)
    val witness = coalesce(
      least(coalesce(col("exact_lo"), col("near_lo")),
        coalesce(col("near_lo"), col("exact_lo"))),
      col("media_id"))
    items.join(ex, Seq("modality", "media_id"), "left")
      .join(ne, Seq("modality", "media_id"), "left")
      .select(col("modality"), col("media_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("min_hamming"), lit(-1L)).as("min_hamming"),
        witness.as("witness_id"),
        when(col("exact_lo").isNotNull, "drop")
          .when(col("near_lo").isNotNull, "review")
          .otherwise("keep").as("verdict"))
      .orderBy("modality", "media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_policy_e2e" -> (mediaPolicy _),
    "m_video_neardup" -> (videoNeardup _),
    "m_audio_neardup" -> (audioNeardup _),
    "m_pipeline_e2e" -> (pipelineE2e _),
    "m_media_features" -> (mediaFeatures _),
    "m_gif_frames" -> (gifFrames _),
    "m_keyframes" -> (keyframes _),
    "m_dhash_neardup" -> (dhashNeardup _),
    "m_mfcc" -> (mfcc _),
    "m_avi_frames" -> (aviFrames _),
    "m_ppm_decode" -> (ppmDecode _),
    "m_patchify" -> (patchify _),
    "m_png_decode" -> (pngDecode _),
    "m_jpeg_decode" -> (jpegDecode _),
    "m_ppm_resize" -> (ppmResize _),
    "m_wav_decode" -> (wavDecode _),
    "m_wav_resample" -> (wavResample _),
    "m_audio_features" -> (audioFeatures _),
    "m_adpcm_decode" -> (adpcmDecode _),
    "m_frame_sample" -> (frameSamples _),
    "m_resize_thumb" -> (resizeThumbs _),
    "m_pair_assembly" -> (pairAssembly _),
  )

  /** The three fingerprint chains (image dHash / audio energy-delta /
    * video temporal dHash), prefix-renamed so all three compose into the
    * policy oracle's single WITH body. Byte-for-byte the same math as the
    * standalone m_*_neardup oracles.
    *
    * Factored as a CTE body (no final SELECT) so the cross-modal release
    * board (`t_release_board`, graft.operators.Pipeline) can append it to
    * the text-verdict chain in ONE composed WITH — the media near-dup
    * union is named `mnd` (not `nd`) because the text side's
    * [[graft.operators.Dedup.closureCte]] already defines `nd`. */
  private[graft] lazy val policyCte: String =
    s"""WITH isrc AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 8 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
      |         CASE WHEN doc_id % 8 = 1 THEN 1 ELSE 0 END AS x
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 8 = 1),
      |ipx AS (
      |  SELECT id, i,
      |         xor(((((b * 31 + i * 17) % 65521) * ((b * 31 + i * 17) % 65521)
      |               + ((b * 31 + i * 17) % 65521)) // 64) % 256, x) AS g
      |  FROM isrc, LATERAL (SELECT unnest(range(0, 288)) AS i)),
      |isums AS (
      |  SELECT id, ((i // 18) // 2) AS r, ((i % 18) // 2) AS c,
      |         CAST(SUM(g) AS BIGINT) AS s4
      |  FROM ipx GROUP BY 1, 2, 3),
      |ibits AS (
      |  SELECT m1.id, m1.r * 8 + m1.c AS k,
      |         CASE WHEN m1.s4 > m2.s4 THEN 1 ELSE 0 END AS bit
      |  FROM isums m1 JOIN isums m2
      |    ON m1.id = m2.id AND m1.r = m2.r AND m2.c = m1.c + 1
      |  WHERE m1.c < 8),
      |ibands AS (
      |  SELECT id, k // 16 AS band,
      |         CAST(SUM(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS bkey
      |  FROM ibits GROUP BY 1, 2),
      |icand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM ibands a JOIN ibands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |iham AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
      |  FROM icand c
      |  JOIN ibands bx ON bx.id = c.id_a
      |  JOIN ibands by ON by.id = c.id_b AND by.band = bx.band
      |  GROUP BY c.id_a, c.id_b),
      |asrc AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 8 = 3 THEN doc_id - 1 ELSE doc_id END AS b,
      |         CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END AS x
      |  FROM documents WHERE doc_id % 4 = 2 OR doc_id % 8 = 3),
      |asv AS (
      |  SELECT id, f,
      |         xor(((((b * 31 + f * 17) % 65521) * ((b * 31 + f * 17) % 65521)
      |               + ((b * 31 + f * 17) % 65521)) // 64) % 65536, x) - 32768 AS s
      |  FROM asrc, LATERAL (SELECT unnest(range(0, 528)) AS f)),
      |aen AS (
      |  SELECT id, f // 16 AS w, CAST(SUM(s * s) AS BIGINT) AS e
      |  FROM asv GROUP BY 1, 2),
      |abits AS (
      |  SELECT a.id, a.w AS k, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
      |  FROM aen a JOIN aen b ON a.id = b.id AND b.w = a.w + 1
      |  WHERE a.w < 32),
      |abands AS (
      |  SELECT id, k // 16 AS band,
      |         CAST(SUM(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS bkey
      |  FROM abits GROUP BY 1, 2),
      |acand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM abands a JOIN abands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |aham AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
      |  FROM acand c
      |  JOIN abands bx ON bx.id = c.id_a
      |  JOIN abands by ON by.id = c.id_b AND by.band = bx.band
      |  GROUP BY c.id_a, c.id_b),
      |vsrc AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 8 = 7 THEN doc_id - 2 ELSE doc_id END AS b,
      |         CASE WHEN doc_id % 8 = 7 THEN 1 ELSE 0 END AS x
      |  FROM documents WHERE doc_id % 8 = 5 OR doc_id % 8 = 7),
      |vpx AS (
      |  SELECT id, f, i,
      |         xor(((((b * 29 + f * 41 + i * 17) % 65521)
      |               * ((b * 29 + f * 41 + i * 17) % 65521)
      |               + ((b * 29 + f * 41 + i * 17) % 65521)) // 64) % 256, x) AS g
      |  FROM vsrc,
      |       LATERAL (SELECT unnest(range(0, 4)) AS f),
      |       LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |vsums AS (
      |  SELECT id, f, ((i // 8) // 2) AS r, ((i % 8) // 2) AS c,
      |         CAST(SUM(g) AS BIGINT) AS s4
      |  FROM vpx GROUP BY 1, 2, 3, 4),
      |vbits AS (
      |  SELECT m1.id, m1.f, m1.r * 3 + m1.c AS k,
      |         CASE WHEN m1.s4 > m2.s4 THEN 1 ELSE 0 END AS bit
      |  FROM vsums m1 JOIN vsums m2
      |    ON m1.id = m2.id AND m1.f = m2.f AND m1.r = m2.r AND m2.c = m1.c + 1
      |  WHERE m1.c < 3),
      |vbands AS (
      |  SELECT id, f AS band,
      |         CAST(SUM(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS bkey
      |  FROM vbits GROUP BY 1, 2),
      |vcand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM vbands a JOIN vbands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |vham AS (
      |  SELECT c.id_a, c.id_b,
      |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
      |  FROM vcand c
      |  JOIN vbands bx ON bx.id = c.id_a
      |  JOIN vbands by ON by.id = c.id_b AND by.band = bx.band
      |  GROUP BY c.id_a, c.id_b),
      |items AS (
      |  SELECT 'image' AS modality, id AS media_id, b, x FROM isrc
      |  UNION ALL
      |  SELECT 'image', doc_id + $MirrorOffset, doc_id, 0
      |  FROM documents WHERE doc_id % 16 = 0
      |  UNION ALL
      |  SELECT 'audio', id, b, x FROM asrc
      |  UNION ALL
      |  SELECT 'video', id, b, x FROM vsrc),
      |ex AS (
      |  -- payload equality closed-form: the generators are injective in
      |  -- (b, x) below the 65521 modulus, so byte-equal ≡ (b, x)-equal
      |  SELECT p.modality, p.media_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |         MIN(CASE WHEN q.media_id < p.media_id THEN q.media_id END) AS exact_lo
      |  FROM items p JOIN items q
      |    ON p.modality = q.modality AND p.b = q.b AND p.x = q.x
      |       AND p.media_id <> q.media_id
      |  GROUP BY 1, 2),
      |mnd AS (
      |  SELECT 'image' AS modality, id_a, id_b, hamming FROM iham WHERE hamming <= 8
      |  UNION ALL
      |  SELECT 'audio', id_a, id_b, hamming FROM aham WHERE hamming <= 4
      |  UNION ALL
      |  SELECT 'video', id_a, id_b, hamming FROM vham WHERE hamming <= 3),
      |mends AS (
      |  SELECT modality, id_a AS media_id, id_b AS partner, hamming FROM mnd
      |  UNION ALL
      |  SELECT modality, id_b, id_a, hamming FROM mnd),
      |ne AS (
      |  SELECT modality, media_id, CAST(COUNT(*) AS BIGINT) AS n_neardup,
      |         CAST(MIN(hamming) AS BIGINT) AS min_hamming,
      |         MIN(CASE WHEN partner < media_id THEN partner END) AS near_lo
      |  FROM mends GROUP BY 1, 2)""".stripMargin

  private lazy val policyOracle: String = policyCte +
    """
      |SELECT i.modality, CAST(i.media_id AS BIGINT) AS media_id,
      |       CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact,
      |       CAST(COALESCE(ne.n_neardup, 0) AS BIGINT) AS n_neardup,
      |       CAST(COALESCE(ne.min_hamming, -1) AS BIGINT) AS min_hamming,
      |       CAST(COALESCE(
      |         LEAST(COALESCE(ex.exact_lo, ne.near_lo),
      |               COALESCE(ne.near_lo, ex.exact_lo)),
      |         i.media_id) AS BIGINT) AS witness_id,
      |       CASE WHEN ex.exact_lo IS NOT NULL THEN 'drop'
      |            WHEN ne.near_lo IS NOT NULL THEN 'review'
      |            ELSE 'keep' END AS verdict
      |FROM items i
      |LEFT JOIN ex ON ex.modality = i.modality AND ex.media_id = i.media_id
      |LEFT JOIN ne ON ne.modality = i.modality AND ne.media_id = i.media_id
      |ORDER BY i.modality, i.media_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "m_policy_e2e" -> policyOracle,
    // the five-stage chain as CTEs: dims from the generator formulas
    // (decode verdicts REQUIREd green engine-side), the caption and
    // aspect gates, the sorted-words dedup digest, md5 sharding, and
    // the per-shard ordinal
    "m_pipeline_e2e" ->
      s"""WITH imgs AS (
         |  SELECT doc_id AS media_id,
         |         CAST((doc_id % 11) + 2 AS INT) AS width,
         |         CAST((doc_id % 5) + 2 AS INT) AS height
         |  FROM documents WHERE doc_id % 3 = 2 AND (doc_id % 11) + 2 >= 4),
         |caps AS (
         |  SELECT doc_id AS media_id, text,
         |         CAST(len(string_split(text, ' ')) AS INT) AS cap_tokens
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) BETWEEN 8 AND 200),
         |pairs AS (
         |  SELECT i.media_id, i.width, i.height, c.text, c.cap_tokens
         |  FROM imgs i JOIN caps c USING (media_id)
         |  WHERE i.width * 2 >= i.height),
         |dd AS (SELECT *, md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
         |         AS norm_md5 FROM pairs),
         |keep AS (SELECT * FROM (
         |    SELECT *, MIN(media_id) OVER (PARTITION BY norm_md5) AS keep_id FROM dd) t
         |  WHERE media_id = keep_id),
         |sh AS (SELECT *, ${graft.QueryDsl.sqlHex8("md5(text)", 1)} % 4 AS shard FROM keep)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY media_id) AS INT)
         |         AS idx_in_shard,
         |       media_id, width, height, cap_tokens, md5(text) AS cap_md5
         |FROM sh
         |ORDER BY shard, idx_in_shard""".stripMargin,
    // the container walk rebuilt from the frame/pixel formulas: frame f
    // pixel i = (id*13 + f*7 + i) % 256 — frame count, dimensions, and
    // per-frame sums must match what the JDK reader DECODED out of the
    // GIF bytes (LZW payload + container structure both data-verified)
    "m_gif_frames" ->
      """WITH vids AS (
        |  SELECT doc_id, (doc_id % 9) + 2 AS w, (doc_id % 6) + 2 AS h,
        |         (doc_id % 5) + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT doc_id, w, h, nf, f
        |  FROM vids, LATERAL (SELECT unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f)),
        |px AS (
        |  SELECT doc_id, w, h, nf, f, (doc_id * 13 + f * 7 + i) % 256 AS v
        |  FROM fr, LATERAL (SELECT unnest(generate_series(0, CAST(w*h - 1 AS BIGINT))) AS i))
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(nf AS INT) AS n_frames,
        |       CAST(SUM(v) AS BIGINT) AS sum_px
        |FROM px GROUP BY doc_id, f, w, h, nf
        |ORDER BY media_id, frame_idx""".stripMargin,
    // the AVI walk rebuilt from the fixture formulas: frame count and
    // dimensions are exact; the JPEG payload contract is the literal-1
    // error-budget verdict (the m_jpeg_decode pattern, per frame)
    "m_avi_frames" ->
      """WITH vids AS (
        |  SELECT doc_id, (doc_id % 7) + 2 AS w, (doc_id % 5) + 2 AS h,
        |         (doc_id % 4) + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(nf AS INT) AS n_frames, 1 AS within_bound
        |FROM vids, LATERAL (SELECT unnest(generate_series(0, CAST(nf - 1 AS BIGINT))) AS f)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // the decoded-payload stats rebuilt from the pixel formula: raster
    // byte i = (id*31+i)%256, channel = i%3 — dimensions and sums must
    // match what the Spark side PARSED out of the PPM bytes
    "m_ppm_decode" ->
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id % 13) + 2 AS w, (doc_id % 7) + 2 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h, i, (doc_id * 31 + i) % 256 AS v, i % 3 AS ch
        |  FROM imgs, LATERAL (SELECT unnest(generate_series(0, CAST(3*w*h - 1 AS BIGINT))) AS i))
        |SELECT doc_id AS media_id,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height, 255 AS maxval,
        |       CAST(w * h AS BIGINT) AS n_pixels,
        |       CAST(sum(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
        |       CAST(sum(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
        |       CAST(sum(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h
        |ORDER BY media_id""".stripMargin,
    // nearest-neighbor source index rebuilt in integer arithmetic:
    // src byte = ((y*h//4)*w + (x*w//4))*3 + channel, value from the
    // same pixel formula the encoder used
    "m_ppm_resize" ->
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id % 13) + 2 AS w, (doc_id % 7) + 2 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, w, h,
        |         (((y.y * h) // 4) * w + (x.x * w) // 4) * 3 AS src
        |  FROM imgs,
        |       (SELECT unnest(generate_series(0, 3)) AS x) x,
        |       (SELECT unnest(generate_series(0, 3)) AS y) y)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM((doc_id * 31 + src) % 256) AS BIGINT) AS thumb_r,
        |       CAST(SUM((doc_id * 31 + src + 1) % 256) AS BIGINT) AS thumb_g,
        |       CAST(SUM((doc_id * 31 + src + 2) % 256) AS BIGINT) AS thumb_b
        |FROM px GROUP BY doc_id, w, h
        |ORDER BY media_id""".stripMargin,
    // the DECOMPRESSED raster rebuilt from the pixel formula: PNG is
    // lossless, so the JDK reader must recover byte i = (id*17+i)%256
    // exactly through inflate + de-filter
    "m_png_decode" ->
      """WITH imgs AS (
        |  SELECT doc_id, (doc_id % 11) + 2 AS w, (doc_id % 5) + 2 AS h
        |  FROM documents WHERE doc_id % 3 = 2),
        |px AS (
        |  SELECT doc_id, w, h, i, (doc_id * 17 + i) % 256 AS v, i % 3 AS ch
        |  FROM imgs, LATERAL (SELECT unnest(generate_series(0, CAST(3*w*h - 1 AS BIGINT))) AS i))
        |SELECT doc_id AS media_id,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(w * h AS BIGINT) AS n_pixels,
        |       CAST(sum(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
        |       CAST(sum(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
        |       CAST(sum(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h
        |ORDER BY media_id""".stripMargin,
    // lossy codec → bounds VERDICT (the sketch-oracle style): dims are
    // exact, and the within-budget flag must be 1 for every image — a
    // decoder returning garbage or metadata blows the per-pixel budget
    "m_jpeg_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST((doc_id % 11) + 2 AS INT) AS width,
        |       CAST((doc_id % 5) + 2 AS INT) AS height,
        |       1 AS within_bound
        |FROM documents WHERE doc_id % 3 = 2
        |ORDER BY media_id""".stripMargin,
    // the decoded-payload stats rebuilt from the sample formula:
    // interleaved sample i = ((id*7 + i*13) % 65536) - 32768, channel 0
    // holds indices i % channels == 0
    // sample count and ⌈n/2⌉ compressed size are exact; fidelity is the
    // bounds-verdict flag (lossy codec, same discipline as JPEG)
    "m_adpcm_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST((doc_id % 50) + 200 AS BIGINT) AS n_samples,
        |       CAST(((doc_id % 50) + 200 + 1) // 2 AS BIGINT) AS n_bytes,
        |       1 AS within_bound
        |FROM documents WHERE doc_id % 3 = 1
        |ORDER BY media_id""".stripMargin,
    // the scaled interpolated sum rebuilt in the same integer
    // arithmetic: i0 = (j·rate) div 4000, r = (j·rate) mod 4000,
    // channel-0 sample at frame k = formula value at index k·ch
    "m_wav_resample" ->
      """WITH au AS (
        |  SELECT doc_id, (doc_id % 50) + 20 AS frames,
        |         1 + (doc_id % 2) AS ch, 8000 + (doc_id % 3) * 4000 AS rate
        |  FROM documents WHERE doc_id % 3 = 1),
        |o AS (SELECT *, ((frames - 1) * 4000) // rate + 1 AS n_out FROM au),
        |j AS (SELECT doc_id, frames, ch, rate, n_out, jj.j
        |      FROM o, LATERAL (SELECT unnest(generate_series(0,
        |             CAST(n_out - 1 AS BIGINT))) AS j) jj),
        |t AS (SELECT doc_id, frames, ch, rate, n_out,
        |             (j * rate) // 4000 AS i0, (j * rate) % 4000 AS r
        |      FROM j),
        |v AS (SELECT doc_id, rate, frames, n_out, r,
        |             ((doc_id * 7 + (i0 * ch) * 13) % 65536) - 32768 AS s0,
        |             CASE WHEN i0 + 1 < frames
        |                  THEN ((doc_id * 7 + ((i0 + 1) * ch) * 13) % 65536) - 32768
        |                  ELSE 0 END AS s1
        |      FROM t)
        |SELECT doc_id AS media_id, CAST(rate AS INT) AS in_rate,
        |       CAST(frames AS BIGINT) AS n_in_frames,
        |       CAST(n_out AS BIGINT) AS n_out_frames,
        |       CAST(SUM(s0 * (4000 - r) + s1 * r) AS BIGINT) AS scaled_sum
        |FROM v GROUP BY doc_id, rate, frames, n_out
        |ORDER BY media_id""".stripMargin,
    "m_wav_decode" ->
      """WITH au AS (
        |  SELECT doc_id, (doc_id % 50) + 20 AS frames,
        |         1 + (doc_id % 2) AS ch, 8000 + (doc_id % 3) * 4000 AS rate
        |  FROM documents WHERE doc_id % 3 = 1),
        |sm AS (
        |  SELECT doc_id, frames, ch, rate, i,
        |         ((doc_id * 7 + i * 13) % 65536) - 32768 AS v
        |  FROM au, LATERAL (SELECT unnest(generate_series(0,
        |         CAST(frames * ch - 1 AS BIGINT))) AS i))
        |SELECT doc_id AS media_id,
        |       CAST(rate AS INT) AS sample_rate,
        |       CAST(ch AS INT) AS n_channels,
        |       CAST(frames AS BIGINT) AS n_frames,
        |       CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS sum_ch0,
        |       CAST(SUM(v) AS BIGINT) AS sum_all
        |FROM sm GROUP BY doc_id, rate, ch, frames
        |ORDER BY media_id""".stripMargin,
    // patches walked from the generator formula pixel(i) = (id*31+i)%256
    // over the 3-channel row-major raster, ragged edges dropped
    "m_patchify" ->
      """WITH im AS (
        |  SELECT doc_id, (doc_id % 13) + 2 AS w, (doc_id % 7) + 2 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |pt AS (SELECT doc_id, w, h, w // 2 AS pw, py, px
        |       FROM im,
        |            LATERAL (SELECT unnest(range(0, h // 2)) AS py),
        |            LATERAL (SELECT unnest(range(0, w // 2)) AS px)),
        |px4 AS (SELECT doc_id, w, pw, py, px, dy, dx,
        |          3 * ((py * 2 + dy) * w + (px * 2 + dx)) AS base
        |        FROM pt,
        |             LATERAL (SELECT unnest(range(0, 2)) AS dy),
        |             LATERAL (SELECT unnest(range(0, 2)) AS dx))
        |SELECT doc_id AS media_id, CAST(py * pw + px AS INT) AS patch_idx,
        |       CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |       CAST(SUM((doc_id * 31 + base) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((doc_id * 31 + base + 1) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((doc_id * 31 + base + 2) % 256) AS BIGINT) AS sum_b
        |FROM px4 GROUP BY doc_id, pw, py, px
        |ORDER BY media_id, patch_idx""".stripMargin,
    // per-frame diffs walked pixel-for-pixel from the generator formula
    // (lossless GIF: decoded rasters == the formula), the clip mean, and
    // the adaptive cross-multiplied keyframe rule
    "m_keyframes" ->
      """WITH vids AS (
        |  SELECT doc_id, (doc_id % 9) + 2 AS w, (doc_id % 6) + 2 AS h,
        |         (doc_id % 5) + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, w, h, nf, f
        |       FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f)),
        |px AS (SELECT doc_id, nf, f, i
        |       FROM fr, LATERAL (SELECT unnest(range(0, w * h)) AS i)),
        |df AS (SELECT doc_id, nf, f,
        |         CAST(SUM(CASE WHEN f = 0 THEN 0
        |                  ELSE abs((doc_id*13 + f*7 + i) % 256
        |                           - (doc_id*13 + (f-1)*7 + i) % 256) END) AS BIGINT) AS diff
        |       FROM px GROUP BY 1, 2, 3),
        |cl AS (SELECT doc_id, CAST(SUM(CASE WHEN f > 0 THEN diff ELSE 0 END) AS BIGINT) AS tot,
        |              CAST(nf - 1 AS BIGINT) AS cnt
        |       FROM df GROUP BY doc_id, nf)
        |SELECT df.doc_id AS media_id, CAST(df.f AS INT) AS frame_idx, df.diff,
        |       CAST(CASE WHEN df.f = 0 THEN 1
        |                 WHEN df.diff * cl.cnt > cl.tot THEN 1 ELSE 0 END AS INT) AS is_key
        |FROM df JOIN cl USING (doc_id)
        |ORDER BY media_id, frame_idx""".stripMargin,
    // the DCT over the closed-form channel-0 samples, multiplying the
    // SAME integer basis the engine computed (embedded as literals)
    "m_mfcc" -> {
      val basis = (for (k <- 0 until DctK; n <- 0 until DctN)
        yield s"($k, $n, ${dctTable(k)(n)})").mkString(", ")
      s"""WITH au AS (
         |  SELECT doc_id, (doc_id % 50) + 20 AS frames, 1 + (doc_id % 2) AS ch
         |  FROM documents WHERE doc_id % 3 = 1),
         |w AS (
         |  SELECT doc_id, ch, win
         |  FROM au, LATERAL (SELECT unnest(range(0, frames // $DctN)) AS win)),
         |sm AS (
         |  SELECT doc_id, win, nn,
         |         ((doc_id * 7 + (win * $DctN + nn) * ch * 13) % 65536) - 32768 AS v
         |  FROM w, LATERAL (SELECT unnest(range(0, $DctN)) AS nn)),
         |c AS (SELECT * FROM (VALUES $basis) AS t(k, nn, cv)),
         |x AS (
         |  SELECT doc_id, win, k, CAST(SUM(v * cv) AS BIGINT) AS coeff
         |  FROM sm JOIN c USING (nn) GROUP BY 1, 2, 3)
         |SELECT doc_id AS media_id, CAST(win AS INT) AS win,
         |       CAST(k AS INT) AS k, coeff
         |FROM x ORDER BY media_id, win, k""".stripMargin
    },
    // dHash recomputed closed-form: pixel g = xor((base·31+i)%256, twin),
    // 2×2 block sums, bit k = r·8+c from adjacent-sum compare, four
    // 16-bit band keys, band-blocked candidates, exact Hamming cut
    // per-frame dHash recomputed closed-form: quadratic pixel mix, 2×2
    // block sums to a 4×4 grid, 12 horizontal-delta bits per frame,
    // frame index as the band, banded candidates, exact hamming
    "m_video_neardup" ->
      """WITH src AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 8 = 7 THEN doc_id - 2 ELSE doc_id END AS b,
        |         CASE WHEN doc_id % 8 = 7 THEN 1 ELSE 0 END AS x
        |  FROM documents WHERE doc_id % 8 = 5 OR doc_id % 8 = 7),
        |px AS (
        |  SELECT id, f, i,
        |         xor(((((b * 29 + f * 41 + i * 17) % 65521)
        |               * ((b * 29 + f * 41 + i * 17) % 65521)
        |               + ((b * 29 + f * 41 + i * 17) % 65521)) // 64) % 256, x) AS g
        |  FROM src,
        |       LATERAL (SELECT unnest(range(0, 4)) AS f),
        |       LATERAL (SELECT unnest(range(0, 64)) AS i)),
        |sums AS (
        |  SELECT id, f, ((i // 8) // 2) AS r, ((i % 8) // 2) AS c,
        |         CAST(SUM(g) AS BIGINT) AS s4
        |  FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (
        |  SELECT m1.id, m1.f, m1.r * 3 + m1.c AS k,
        |         CASE WHEN m1.s4 > m2.s4 THEN 1 ELSE 0 END AS bit
        |  FROM sums m1 JOIN sums m2
        |    ON m1.id = m2.id AND m1.f = m2.f AND m1.r = m2.r AND m2.c = m1.c + 1
        |  WHERE m1.c < 3),
        |bands AS (
        |  SELECT id, f AS band,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS bkey
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands bx ON bx.id = c.id_a
        |  JOIN bands by ON by.id = c.id_b AND by.band = bx.band
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // energy-delta fingerprint recomputed closed-form: the generator's
    // quadratic sample mix, 16-frame window energies, delta bits, two
    // 16-bit bands, banded candidates, exact hamming
    "m_audio_neardup" ->
      """WITH src AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 8 = 3 THEN doc_id - 1 ELSE doc_id END AS b,
        |         CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END AS x
        |  FROM documents WHERE doc_id % 4 = 2 OR doc_id % 8 = 3),
        |sv AS (
        |  SELECT id, f,
        |         xor(((((b * 31 + f * 17) % 65521) * ((b * 31 + f * 17) % 65521)
        |               + ((b * 31 + f * 17) % 65521)) // 64) % 65536, x) - 32768 AS s
        |  FROM src, LATERAL (SELECT unnest(range(0, 528)) AS f)),
        |en AS (
        |  SELECT id, f // 16 AS w, CAST(SUM(s * s) AS BIGINT) AS e
        |  FROM sv GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.id, a.w AS k, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b ON a.id = b.id AND b.w = a.w + 1
        |  WHERE a.w < 32),
        |bands AS (
        |  SELECT id, k // 16 AS band,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands bx ON bx.id = c.id_a
        |  JOIN bands by ON by.id = c.id_b AND by.band = bx.band
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    "m_dhash_neardup" ->
      """WITH src AS (
        |  SELECT doc_id AS id,
        |         CASE WHEN doc_id % 8 = 1 THEN doc_id - 1 ELSE doc_id END AS b,
        |         CASE WHEN doc_id % 8 = 1 THEN 1 ELSE 0 END AS x
        |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 8 = 1),
        |px AS (
        |  SELECT id, i,
        |         xor(((((b * 31 + i * 17) % 65521) * ((b * 31 + i * 17) % 65521)
        |               + ((b * 31 + i * 17) % 65521)) // 64) % 256, x) AS g
        |  FROM src, LATERAL (SELECT unnest(range(0, 288)) AS i)),
        |sums AS (
        |  SELECT id, ((i // 18) // 2) AS r, ((i % 18) // 2) AS c,
        |         CAST(SUM(g) AS BIGINT) AS s4
        |  FROM px GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT m1.id, m1.r * 8 + m1.c AS k,
        |         CASE WHEN m1.s4 > m2.s4 THEN 1 ELSE 0 END AS bit
        |  FROM sums m1 JOIN sums m2
        |    ON m1.id = m2.id AND m1.r = m2.r AND m2.c = m1.c + 1
        |  WHERE m1.c < 8),
        |bands AS (
        |  SELECT id, k // 16 AS band,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << (k % 16))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |         CAST(SUM(bit_count(xor(bx.bkey, by.bkey))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands bx ON bx.id = c.id_a
        |  JOIN bands by ON by.id = c.id_b AND by.band = bx.band
        |  GROUP BY c.id_a, c.id_b)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 8
        |ORDER BY id_a, id_b""".stripMargin,
    // per-window energy / zero-cross / peak walked from the generator's
    // channel-0 sample formula v(f) = ((id·7 + f·ch·13) % 65536) − 32768;
    // zero-cross needs no window function — the previous sample is the
    // same closed form at f−1
    "m_audio_features" ->
      """WITH au AS (
        |  SELECT doc_id, (doc_id % 50) + 20 AS frames, 1 + (doc_id % 2) AS ch
        |  FROM documents WHERE doc_id % 3 = 1),
        |w AS (
        |  SELECT doc_id, ch, win
        |  FROM au, LATERAL (SELECT unnest(range(0, frames // 16)) AS win)),
        |k AS (
        |  SELECT doc_id, ch, win, kk, win * 16 + kk AS f
        |  FROM w, LATERAL (SELECT unnest(range(0, 16)) AS kk)),
        |sv AS (
        |  SELECT doc_id, win, kk,
        |         ((doc_id * 7 + f * ch * 13) % 65536) - 32768 AS v,
        |         ((doc_id * 7 + (f - 1) * ch * 13) % 65536) - 32768 AS pv
        |  FROM k)
        |SELECT doc_id AS media_id, CAST(win AS INT) AS win,
        |       CAST(SUM(v * v) AS BIGINT) AS energy,
        |       CAST(SUM(CASE WHEN kk > 0 AND pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS zero_cross,
        |       CAST(MAX(abs(v)) AS BIGINT) AS peak
        |FROM sv GROUP BY doc_id, win
        |ORDER BY media_id, win""".stripMargin,
    // the generators' closed-form pixels/samples, one leg per modality:
    // PPM raster byte i = (id·31+i)%256 over 3wh; WAV sample i =
    // ((id·7+i·13)%65536)−32768 over frames·ch; GIF frame f pixel i =
    // (id·13+f·7+i)%256 over nf·w·h (i decomposed as f·wh + within-frame)
    "m_media_features" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id, 'image' AS media_type, CAST(1 AS BIGINT) AS n_frames,
        |         CAST(((doc_id % 13) + 2) * ((doc_id % 7) + 2) AS BIGINT) AS n_samples,
        |         CAST(list_sum(list_transform(
        |             range(0, 3 * ((doc_id % 13) + 2) * ((doc_id % 7) + 2)),
        |             i -> (doc_id * 31 + i) % 256)) AS BIGINT) AS sum_content
        |  FROM documents WHERE doc_id % 3 = 0),
        |au AS (
        |  SELECT doc_id AS media_id, 'audio' AS media_type,
        |         CAST((doc_id % 50) + 20 AS BIGINT) AS n_frames,
        |         CAST(((doc_id % 50) + 20) * (1 + (doc_id % 2)) AS BIGINT) AS n_samples,
        |         CAST(list_sum(list_transform(
        |             range(0, ((doc_id % 50) + 20) * (1 + (doc_id % 2))),
        |             i -> ((doc_id * 7 + i * 13) % 65536) - 32768)) AS BIGINT) AS sum_content
        |  FROM documents WHERE doc_id % 3 = 1),
        |vid AS (
        |  SELECT doc_id AS media_id, 'video' AS media_type,
        |         CAST((doc_id % 5) + 2 AS BIGINT) AS n_frames,
        |         CAST(((doc_id % 5) + 2) * ((doc_id % 9) + 2) * ((doc_id % 6) + 2) AS BIGINT)
        |           AS n_samples,
        |         CAST(list_sum(list_transform(
        |             range(0, ((doc_id % 5) + 2) * ((doc_id % 9) + 2) * ((doc_id % 6) + 2)),
        |             i -> (doc_id * 13
        |                   + (i // (((doc_id % 9) + 2) * ((doc_id % 6) + 2))) * 7
        |                   + (i % (((doc_id % 9) + 2) * ((doc_id % 6) + 2)))) % 256))
        |           AS BIGINT) AS sum_content
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT * FROM (SELECT * FROM img UNION ALL SELECT * FROM au
        |               UNION ALL SELECT * FROM vid)
        |ORDER BY media_id""".stripMargin,
    // every 3rd decoded GIF frame: dims from the generator, sum over the
    // frame's closed-form index raster (id·13+f·7+i)%256
    "m_frame_sample" ->
      """WITH g AS (
        |  SELECT doc_id AS media_id, (doc_id % 5) + 2 AS nf,
        |         (doc_id % 9) + 2 AS w, (doc_id % 6) + 2 AS h
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id, w, h, unnest(range(0, nf)) AS frame_idx FROM g)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(list_sum(list_transform(range(0, w * h),
        |           i -> (media_id * 13 + frame_idx * 7 + i) % 256)) AS BIGINT) AS sum_px
        |FROM f WHERE frame_idx % 3 = 0
        |ORDER BY media_id, frame_idx""".stripMargin,
    // image records are doc_id % 3 == 0 (media_type index 1); width and
    // height rebuild the mediaTable arithmetic over n_chars
    "m_pair_assembly" ->
      """SELECT doc_id AS media_id,
        |       CAST((n_chars % 64) + 16 AS INT) AS width,
        |       CAST((n_chars % 48) + 16 AS INT) AS height,
        |       lang,
        |       CAST(len(string_split(text, ' ')) AS INT) AS caption_tokens,
        |       md5(text) AS caption_md5,
        |       CAST(len(string_split(text, ' ')) BETWEEN 8 AND 200
        |            AND ((n_chars % 64) + 16) * 2 >= (n_chars % 48) + 16 AS INT) AS keep
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY media_id""".stripMargin,
    // 8×8 nearest-neighbor over the PNG generator's raster: grid cell p
    // samples pixel (sy·w+sx) with sx=(p%8)·w//8, sy=(p//8)·h//8; channel
    // c byte = (id·17 + 3·(sy·w+sx) + c) % 256
    "m_resize_thumb" ->
      """WITH px AS (
        |  SELECT doc_id AS media_id, (doc_id % 11) + 2 AS w, (doc_id % 5) + 2 AS h,
        |         unnest(range(0, 64)) AS p
        |  FROM documents WHERE doc_id % 3 = 2),
        |sv AS (
        |  SELECT media_id, p,
        |         (media_id * 17 + 3 * ((((p // 8) * h) // 8) * w + (((p % 8) * w) // 8))) % 256 AS r,
        |         (media_id * 17 + 3 * ((((p // 8) * h) // 8) * w + (((p % 8) * w) // 8)) + 1) % 256 AS g,
        |         (media_id * 17 + 3 * ((((p // 8) * h) // 8) * w + (((p % 8) * w) // 8)) + 2) % 256 AS b
        |  FROM px)
        |SELECT media_id, CAST(8 AS INT) AS thumb_w, CAST(8 AS INT) AS thumb_h,
        |       CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |       CAST(SUM(b) AS BIGINT) AS sum_b,
        |       CAST(SUM((p + 1) * (r + g + b)) AS BIGINT) AS weighted_sum
        |FROM sv GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
  )
}
