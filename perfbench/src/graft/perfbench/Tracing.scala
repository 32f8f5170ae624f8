package graft.perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the traced run. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long, endNs: Long)

/** In-memory span recorder for the driver thread: spans nest by call
  * order and are written out once, when the run ends. */
final class SpanRecorder {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, pass, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def write(path: Path): Unit =
    Files.writeString(path, done.sortBy(_.id).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)) + "\n"
    }.mkString)
}

/** Task and job totals of one window of a session (one pass). */
final case class Window(
    jobs: Int, stages: Int, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double,
    shuffleBytes: Long, spillBytes: Long,
    inputBytes: Long, inputRecords: Long,
    jobBusyS: Double, taskSkew: Double)

/** The benchmark's own listener: sums task metrics and job intervals
  * between [[reset]] and [[window]], while attached to the session. */
final class SessionStats(sc: SparkContext) extends SparkListener {
  private val lock = new Object
  private var jobs, stages, tasks = 0
  private var runMs, gcMs, cpuNs, shuffle, spill, inBytes, inRecs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def attach(): Unit = {
    sc.addSparkListener(this)
    reset()
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(t => jobSpans += ((t, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffle += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecs += m.inputMetrics.recordsRead
    }
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    lock.synchronized {
      jobs = 0; stages = 0; tasks = 0
      runMs = 0; gcMs = 0; cpuNs = 0; shuffle = 0; spill = 0; inBytes = 0; inRecs = 0
      jobStart.clear(); jobSpans.clear(); taskMs.clear()
    }
  }

  def window(): Window = {
    org.apache.spark.PerfbenchBus.drain(sc)
    lock.synchronized {
      // skew of the stage whose tasks took longest in total
      val skew = if (taskMs.isEmpty) 1.0 else {
        val ds = taskMs.values.maxBy(_.sum).sorted
        val med = ds(ds.size / 2).toDouble
        ds.last / math.max(med, 1.0)
      }
      Window(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        shuffle, spill, inBytes, inRecs, unionMs(jobSpans.toSeq) / 1e3, skew)
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Loopback document server on JDK `com.sun.net.httpserver`: serves
  * `GET /<file>` from `dir`, 404 for anything it does not hold, on at
  * most four handler threads. Counts requests, handler time and distinct
  * client connections. */
final class FixtureServer(dir: Path) {
  val requests = new AtomicLong
  val handlerNs = new AtomicLong
  private val peers = ConcurrentHashMap.newKeySet[String]()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    peers.add(ex.getRemoteAddress.toString)
    val name = ex.getRequestURI.getPath.stripPrefix("/")
    val file = dir.resolve(name)
    if (name.contains("/") || !Files.isRegularFile(file)) ex.sendResponseHeaders(404, -1)
    else {
      val bytes = Files.readAllBytes(file)
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
    handlerNs.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()

  def port: Int = server.getAddress.getPort

  /** Distinct client connections seen since the last call. */
  def takeConnections(): Int = {
    val n = peers.size
    peers.clear()
    n
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
