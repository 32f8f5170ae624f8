package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** Per-application scratch directories under /tmp, deleted at JVM exit —
  * unique per app (concurrent sessions must not clobber each other
  * between an eager write and a lazy read-back) without leaking one data
  * copy per run. */
object TempPaths {
  // bench/verify call scratch-using queries repeatedly (warmup + timed,
  // two scale points); one hook per PATH, not per call, or a long-lived
  // session accumulates duplicate hooks for the same directory
  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def scratch(s: SparkSession, name: String): String =
    register(s"/tmp/graft_${name}_${s.sparkContext.applicationId}")

  /** RAM-backed scratch (tmpfs) for latency-bound metadata I/O —
    * streaming checkpoints write many tiny fsynced files (offset log,
    * commit log, state deltas) per micro-batch, and on a disk-backed
    * /tmp those syncs dominate replay wall time. Falls back to /tmp
    * where /dev/shm is absent. Bounded use only (checkpoint metadata,
    * KBs–MBs per query): data-plane scratch stays on [[scratch]]. */
  def scratchShm(s: SparkSession, name: String): String = {
    val base = if (new File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    register(s"$base/graft_${name}_${s.sparkContext.applicationId}")
  }

  private val runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh directory under [[scratch]] for one call of a query: a
    * bench run overlapping a test suite must never interleave its
    * overwrite writes with another call's reads of the same files. */
  def runDir(s: SparkSession, name: String): String =
    scratch(s, name) + "/run" + runs.incrementAndGet()

  private def register(path: String): String = {
    if (registered.add(path)) {
      val dir = new File(path)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    }
    path
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
