package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Staging}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM at local[4].
  *
  * Set-up is timed from process start: session start, the cold staging
  * builds and the warm-up passes. Then closed-loop passes run for
  * `--seconds`; with `--trace 1` plain, instrumented and layer-by-layer
  * traced passes take turns.
  *
  * Every output is hashed; the first one of each name is written as
  * parquet for the oracle check and every later pass must reproduce it.
  * Results go to `<out>/result.json`, spans to `<out>/spans.jsonl`. */
object Main {
  private val Cpus = 4
  /** Passes before the first timed one: the first builds the cold
    * staging, the rest let the JIT settle. Pass times keep falling for
    * ten passes or more; more warm-up passes would not leave a run's
    * set-up and its timed passes inside the time a comparison allows. */
  private val WarmupPasses = 3
  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = Paths.get(opt("out"))
    val input = opt("input")
    val traced = opt("trace") == "1"
    val work = out.resolve("work")
    Files.createDirectories(work)
    val w = Workload(opt("workload"), input, work)
    val check = new OutputCheck(out.resolve("outputs"))
    val passS = mutable.ArrayBuffer.empty[Double]
    val session = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(to: mutable.Map[String, mutable.ArrayBuffer[Double]], kv: Iterable[(String, Double)]): Unit =
      kv.foreach { case (k, v) => to.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    val rec = new SpanRecorder
    val instrumentedS = mutable.ArrayBuffer.empty[Double]
    val s = start(work)
    val (setupS, builds, layerBuilds) = try {
      val stats = new SessionStats(s.sparkContext)
      // a traced run does not report set-up, and needs the time for its
      // traced passes
      for (k <- 1 to (if (traced) 2 else WarmupPasses)) check(w, {
        val (t, outs) = timed(w.pass(s))
        System.err.println(s"[perfbench] warm-up pass $k: ${t}s")
        outs
      })
      val setup = (System.currentTimeMillis() - born) / 1e3
      System.err.println(s"[perfbench] set-up ${setup}s")
      val built = Staging.buildsSnapshot
      w.stagedDirs = built.map(_.dir)
      // layers only a traced run calls: a cold call builds their staging,
      // then one warm call is timed; a last plain pass warms the workload
      // again before the passes that are compared
      if (traced) {
        check(w, w.tracedOnly(s, new SpanRecorder))
        rec.pass = -1
        System.gc()
        check(w, w.tracedOnly(s, rec))
        check(w, w.pass(s))
      }
      val until = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
      // untraced runs time plain passes only; traced runs rotate a plain
      // pass (no listener, no spans), the same pass instrumented (listener
      // and a span per query) and the layer-by-layer traced pass, so that
      // plain and instrumented passes each follow a layered one equally often
      val rotation = if (traced) Seq(0, 1, 2, 1, 0, 2) else Seq(0, 0)
      var i = 0
      while (System.nanoTime() < until || i < rotation.size) {
        rec.pass = i
        // every pass starts from a collected heap, not from the garbage
        // the previous one left
        System.gc()
        rotation(i % rotation.size) match {
          case 1 =>
            stats.attach()
            val (t, outs) = timed(w.instrumentedPass(s, rec))
            val win = stats.window()
            stats.detach()
            instrumentedS += t
            check(w, outs)
            add(session, Seq("jobs" -> win.jobs.toDouble, "stages" -> win.stages.toDouble,
              "tasks" -> win.tasks.toDouble, "task_cpu_s" -> win.cpuS, "gc_s" -> win.gcS,
              "core_busy_frac" -> win.runS / (t * Cpus),
              "driver_s" -> math.max(t - win.jobBusyS, 0.0),
              "shuffle_bytes" -> win.shuffleBytes.toDouble,
              "spill_bytes" -> win.spillBytes.toDouble, "task_skew" -> win.taskSkew))
          case 2 =>
            val l = mutable.LinkedHashMap.empty[String, Double]
            stats.attach()
            check(w, try w.tracedPass(s, rec, l, stats) finally stats.detach())
            add(layers, l)
          case _ =>
            check(w, {
              val (t, outs) = timed(w.pass(s))
              passS += t
              outs
            })
        }
        i += 1
      }
      check.writeReferences(s)
      (setup, built, Staging.buildsSnapshot.drop(built.size))
    } finally {
      s.stop()
      w.close()
    }
    val res = Map[String, Any](
      "setup_s" -> setupS,
      "pass_s" -> passS.toSeq,
      "instrumented_pass_s" -> instrumentedS.toSeq,
      "attempted" -> check.attempted,
      "failed" -> check.failed,
      "oracle_passes" -> check.matching.toMap,
      "oracle_sql" -> check.matching.keys.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "peak_rss_mb" -> peakRssMb(),
      "staging_build_s" -> builds.map(_.sec).sum,
      "staging_builds" -> builds.size,
      "traced_only_build_s" -> layerBuilds.map(_.sec).sum,
      "session" -> session.map { case (k, v) => k -> v.toSeq }.toMap,
      "layers" -> layers.map { case (k, v) => k -> v.toSeq }.toMap)
    Json.write(out.resolve("result.json"), res)
    rec.write(out.resolve("spans.jsonl"))
    sys.exit(0)
  }

  private def start(work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$Cpus]").appName("graft-perfbench")
    val s = GraftSession.configure(b, Cpus.toString)
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Hashes every output; keeps the first of each name as the reference the
  * oracle checks, and counts later outputs that differ from it. */
final class OutputCheck(dir: Path) {
  var attempted = 0
  var failed = 0
  val matching = mutable.LinkedHashMap.empty[String, Int]
  private val reference = mutable.Map.empty[String, String]
  private val firsts = mutable.ArrayBuffer.empty[Output]

  def apply(w: Workload, outs: => Seq[Output]): Unit = {
    val got = try outs catch {
      case e: Exception =>
        System.err.println(s"[perfbench] pass failed: $e")
        attempted += w.queries.size
        failed += w.queries.size
        return
    }
    attempted += got.size
    got.foreach { o =>
      val h = hash(o)
      reference.get(o.name) match {
        case None =>
          reference(o.name) = h
          matching(o.name) = 1
          firsts += o
        case Some(`h`) => matching(o.name) += 1
        case Some(_) => failed += 1
      }
    }
  }

  /** Writes the first output of each name as parquet, for the oracle
    * check; called after the last pass, so no timed region pays for it. */
  def writeReferences(s: SparkSession): Unit = firsts.foreach { o =>
    s.createDataFrame(o.rows.toList.asJava, o.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve(o.name).toString)
  }

  private def hash(o: Output): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(o.schema.toString.getBytes(StandardCharsets.UTF_8))
    o.rows.foreach(r => md.update((r.toString + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** JSON output through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def write(path: Path, v: Any): Unit = Files.writeString(path, apply(v))
}
