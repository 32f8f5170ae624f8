package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Build-once staging with a CONTENT-CHECKED marker — the shared mechanism
  * behind every staged artifact (doc corpus, ANN index, dup-cluster table,
  * date-partitioned layout). Two failure modes of the naive
  * marker-file-exists pattern are closed here:
  *
  *   1. STALENESS — a marker keyed only by the sf-dir path keeps serving
  *      the old staging after the underlying fixture is regenerated, so a
  *      staged query silently diverges from an oracle that reads the
  *      original parquet. The marker now RECORDS a fingerprint of the
  *      source files (relative path, length, mtime, plus an 8 KiB
  *      head/tail CONTENT WITNESS of every regular file under each
  *      source root — see [[fingerprint]]), and a mismatch rebuilds.
  *   2. RACES — `exists(marker)` → build → `write(marker)` is not atomic
  *      across processes: a reader can see a half-written staging (marker
  *      present, files incomplete) or two processes can build over each
  *      other. The marker is now PUBLISHED via atomic rename (tmp file +
  *      ATOMIC_MOVE, all-or-nothing on POSIX), and the whole
  *      check-and-build runs under an OS file lock (`FileChannel.lock` on
  *      a sibling lock file) so concurrent processes serialize; in-JVM
  *      callers serialize on an internal per-directory monitor first
  *      (overlapping FileLocks within one JVM throw).
  *
  * This is the single-machine form; on a cluster against an object store
  * the same protocol runs with the store's primitives (conditional PUT of
  * the marker key instead of rename+flock). The fingerprint check reads
  * metadata plus an 8 KiB head/tail content witness per file — O(source
  * file count), bounded I/O — so probing an already-staged artifact stays
  * effectively free while a same-size-same-mtime regeneration is still
  * caught.
  */
object Staging {

  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One staging build that ran in this JVM: the staged dir and the build's
    * wall seconds. The log exists so the bench can PRICE staging instead of
    * hiding it (r21 verdict: three headline "wins" were work relocated into
    * build-once staging the board never reported) — Bench drains it at
    * start and publishes `staging_total`/`stages_built` in the headline. */
  final case class BuildRecord(dir: String, sec: Double)

  private val buildsLog = new java.util.concurrent.ConcurrentLinkedQueue[BuildRecord]()

  /** Every build that ran in this JVM since the last [[resetBuildLog]].
    * The log's scope is this JVM only: a build finished by another
    * process (the cross-process file-lock path), or one that landed
    * between the marker pre-check and the lock, returns false here and
    * is not recorded, so `staging_total` counts only the staging this
    * process paid for. */
  def buildsSnapshot: Seq[BuildRecord] = {
    import scala.jdk.CollectionConverters._
    buildsLog.iterator().asScala.toVector
  }

  def resetBuildLog(): Unit = buildsLog.clear()

  /** Fingerprint of the source files an artifact is derived from: md5 over
    * the sorted (relative path, size, mtime-millis, content-witness) lines
    * of every regular file under the given roots (a root may be a single
    * file). The CONTENT WITNESS is an md5 of the first and last 4 KiB of
    * the file: a fixture regenerated with different rows but identical
    * file sizes inside the filesystem's mtime granularity (or with
    * timestamps deliberately preserved) still changes the fingerprint —
    * for parquet the tail window covers the footer, whose row-group
    * statistics and offsets move with the data. Cost stays O(file count):
    * two bounded 4 KiB reads per file on top of the metadata walk, never
    * a full-content scan. */
  def fingerprint(sources: Seq[String]): String = {
    val lines = sources.sorted.flatMap { root =>
      val rp = Paths.get(root)
      if (!Files.exists(rp)) Seq(s"$root\tMISSING")
      else {
        val stream = Files.walk(rp)
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala
            .filter(p => Files.isRegularFile(p))
            .map(p => s"${rp.relativize(p)}\t${Files.size(p)}\t${Files.getLastModifiedTime(p).toMillis}\t${witness(p)}")
            .toVector.sorted
        } finally stream.close()
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** md5 of the file's first and last 4 KiB (whole file when ≤ 8 KiB,
    * non-overlapping). Two positioned reads, no buffering of the middle. */
  private def witness(p: Path): String = {
    val W = 4096L
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
    try {
      val size = ch.size()
      val md = java.security.MessageDigest.getInstance("MD5")
      val head = java.nio.ByteBuffer.allocate(math.min(W, size).toInt)
      while (head.hasRemaining && ch.read(head, head.position().toLong) >= 0) {}
      md.update(head.array(), 0, head.position())
      if (size > W) {
        val tailLen = math.min(W, size - W).toInt
        val tail = java.nio.ByteBuffer.allocate(tailLen)
        val off = size - tailLen
        while (tail.hasRemaining && ch.read(tail, off + tail.position()) >= 0) {}
        md.update(tail.array(), 0, tail.position())
      }
      md.digest().map("%02x".format(_)).mkString
    } finally ch.close()
  }

  /** Ensures `dir` holds a staging built from the CURRENT content of
    * `sources`, running `build` (at most once per fingerprint across
    * threads, JVMs, and processes) when the marker is absent or records a
    * different fingerprint. Returns true iff `build` ran in this call —
    * callers keep their build counters (the specs' build-once assertions)
    * by incrementing on true. `build` is responsible for clearing its own
    * stale output files (overwrite-mode writes already do).
    *
    * `version` is a CODE-VERSION token folded into the recorded
    * fingerprint: the source fingerprint alone cannot see a change to the
    * builder's LOGIC (a staged table silently serves stale derivations
    * until a Verify mismatch surfaces it — r21 advice). A builder whose
    * derivation changes bumps its version constant and the next ensure
    * rebuilds; builders whose stage dir already encodes its parameters
    * (the `_v1`/`p8v2` suffix discipline) may keep the default. */
  def ensure(dir: String, sources: Seq[String], version: String = "")(build: => Unit): Boolean = {
    val marker = Paths.get(dir, "_STAGED")
    val fp = fingerprint(sources) + (if (version.isEmpty) "" else ":" + version)
    if (readMarker(marker).contains(fp)) return false
    val monitor = dirLocks.computeIfAbsent(dir, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(dir))
      // the lock file lives BESIDE the staged dir, not inside it: builds
      // that overwrite the whole dir (Layout's partitioned write) would
      // delete an in-dir lock file out from under concurrent lockers
      val lockPath = Paths.get(dir + ".lock")
      val ch = java.nio.channels.FileChannel.open(
        lockPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          // re-check under the lock: another thread/process may have built
          if (readMarker(marker).contains(fp)) return false
          Files.deleteIfExists(marker) // a stale marker must not survive a failed build
          val t0 = System.nanoTime()
          build
          buildsLog.add(BuildRecord(dir, (System.nanoTime() - t0) / 1e9)): Unit
          publish(marker, fp)
          true
        } finally lock.release()
      } finally ch.close()
    }
  }

  private def readMarker(marker: Path): Option[String] =
    if (Files.exists(marker))
      Some(new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim)
    else None

  /** Atomic publish: full content to a tmp sibling, then ATOMIC_MOVE — no
    * reader can observe a partially-written marker. */
  private def publish(marker: Path, fp: String): Unit = {
    val tmp = marker.resolveSibling(marker.getFileName.toString + ".tmp")
    Files.write(tmp, (fp + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
  }
}
