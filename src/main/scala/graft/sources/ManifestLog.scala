package graft.sources

import java.nio.file.{Files, Path, Paths}

final case class CommitResult(version: Int, attempts: Int)

/** The table log: the ONE owner of every versioned-commit file a graft
  * table writes. Metadata plane only — pure JVM file ops, safe to race
  * from writer threads; the data files are cluster-written parquet.
  *
  *   - `manifest-v<N>.txt` — a FULL file list per version
  *     ([[publish]], [[commit]], [[read]], [[latest]], [[gcVersions]]);
  *   - `commit-v<N>.txt` — per-commit ACTIONS (`add`/`remove` lines, an
  *     optional leading `ts` line), with `checkpoint-v<N>.txt` (the
  *     cumulative file list) every [[CheckpointEvery]] versions and the
  *     `_last_checkpoint` pointer ([[commitActions]], [[resolve]]);
  *   - `txn-v<N>.txt` — a multi-table transaction record mapping each
  *     table to the version it commits ([[commitTxn]], [[readTxn]]).
  *
  * OPTIMISTIC CONCURRENCY on the manifest log: a commit is an ATOMIC
  * CREATE of `manifest-v{N+1}` (create-if-absent — the object-store
  * putIfAbsent publish); losers of the race re-read the new latest,
  * VALIDATE their read set (files they intend to remove must still be
  * live — a compactor whose input another compactor already rewrote
  * must abort, not clobber), rebase their file list, and retry.
  * Readers keep snapshot isolation throughout: a version, once
  * published, is immutable. */
object ManifestLog {
  private def path(dir: String, v: Int) = Paths.get(s"$dir/manifest-v$v.txt")
  private def commitPath(dir: String, v: Int) = Paths.get(s"$dir/commit-v$v.txt")
  private def checkpointPath(dir: String, v: Int) = Paths.get(s"$dir/checkpoint-v$v.txt")
  private def pointerPath(dir: String) = Paths.get(s"$dir/_last_checkpoint")
  private def txnPath(dir: String, n: Int) = Paths.get(s"$dir/txn-v$n.txt")

  private def readLines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), "UTF-8").split("\n").toIndexedSeq.filter(_.nonEmpty)

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("\n").getBytes("UTF-8")): Unit

  /** Atomic create-if-absent with FULL-CONTENT visibility: the file is
    * written to a writer-private temp file first and made visible via
    * `createLink` — link creation is atomic and exclusive on POSIX, so a
    * concurrent reader either sees no file or the complete one, never a
    * half-written list (a `CREATE_NEW` + write sequence has exactly that
    * window, and a loser rebasing off a truncated winner manifest would
    * silently lose files). On an object store the same role is played
    * by a conditional PUT. */
  private def createIfAbsent(target: Path, lines: Seq[String]): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".tmp-${target.getFileName}-${Thread.currentThread().getId}-${System.identityHashCode(lines)}")
    writeLines(tmp, lines)
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      Files.deleteIfExists(tmp): Unit
    }
  }

  /** Publishes version `v`'s full file list; false if `v` already exists. */
  def publish(dir: String, v: Int, files: Seq[String]): Boolean =
    createIfAbsent(path(dir, v), files)

  def exists(dir: String, v: Int): Boolean = Files.exists(path(dir, v))

  /** The published manifest versions, by listing the MANIFEST directory —
    * metadata-plane and O(versions), the same move Delta's log replay
    * makes (the no-listing discipline is about DATA files). */
  def versions(dir: String): Seq[Int] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName).collect {
        case n if n.startsWith("manifest-v") && n.endsWith(".txt") =>
          n.stripPrefix("manifest-v").stripSuffix(".txt").toInt
      }

  /** The newest version and its files. A walk from v1 would break after
    * a vacuum drops the oldest manifests and the chain no longer starts
    * at 1, hence the listing. */
  def latest(dir: String): (Int, Seq[String]) = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no manifest published under $dir")
    val v = vs.max
    (v, read(dir, v))
  }

  def read(dir: String, v: Int): Seq[String] = readLines(path(dir, v))

  /** Optimistic commit: replace `remove` with `add` atop the current
    * latest. Retries on a lost race after validating that every file
    * in `remove` is still live (read-set validation — the conflict
    * detection on overlapping file sets); throws
    * ConcurrentModificationException if not. Blind appends
    * (`remove` empty) always rebase cleanly.
    *
    * `snapshot` pins the FIRST attempt to a version the caller read
    * earlier (a real writer plans its commit against the snapshot it
    * scanned, not a fresh read at publish time); retries rebase onto
    * the live latest. Without it, two latch-synchronized racers are
    * only *probably* in conflict — the loser's internal latest() can
    * run after the winner's publish and land cleanly, making the
    * observed conflict count scheduling-dependent. */
  def commit(dir: String, remove: Set[String], add: Seq[String],
             snapshot: Option[(Int, Seq[String])] = None): CommitResult = {
    var attempts = 0
    var pinned = snapshot
    while (true) {
      attempts += 1
      if (attempts > 10) throw new IllegalStateException("commit retry budget exhausted")
      val (v, files) = pinned.getOrElse(latest(dir))
      pinned = None
      if (!remove.subsetOf(files.toSet))
        throw new java.util.ConcurrentModificationException(
          s"read set invalidated: ${remove.diff(files.toSet).mkString(",")} no longer live in v$v")
      val next = files.filterNot(remove) ++ add
      if (publish(dir, v + 1, next)) return CommitResult(v + 1, attempts)
    }
    sys.error("unreachable")
  }

  /** A manifest entry is `dataPath` or `dataPath|dv=bitmapPath`; every
    * path the entry references (for GC liveness walks). */
  def entryPaths(entry: String): Seq[String] =
    entry.split("\\|dv=", 2).toIndexedSeq

  /** Manifest-driven, DV-AWARE GC: keep the newest `retain` versions,
    * delete every data file AND deletion-vector bitmap referenced only by
    * the dropped versions, then drop their manifests. A bitmap superseded
    * by compaction dies here exactly like a compacted-away data file.
    * Deletion never lists a data directory, so the same walk works when
    * the listing is eventually consistent. Returns (deleted paths,
    * dropped versions). */
  def gcVersions(base: String, retain: Int): (Seq[String], Seq[Int]) = {
    val (latest, _) = ManifestLog.latest(base)
    val all = (1 to latest).filter(exists(base, _))
    val (drop, keep) = all.splitAt(math.max(0, all.length - retain))
    val live = keep.flatMap(v => read(base, v)).flatMap(entryPaths).toSet
    val dead = drop.flatMap(v => read(base, v)).flatMap(entryPaths)
      .distinct.filterNot(live)
    dead.foreach(f => graft.TempPaths.deleteRecursively(new java.io.File(f)))
    drop.foreach(v => Files.delete(path(base, v)))
    (dead, drop)
  }

  // ---- the ACTION LOG: O(change) commits, bounded-replay reads ----

  /** A checkpoint (the cumulative file list) is cut at every multiple. */
  val CheckpointEvery = 3

  /** Action commit `v`: an optional `ts\t<epoch_micros>` line (the log's
    * time axis), then `remove` and `add` lines. At every
    * [[CheckpointEvery]]-th version the resolved state is written as a
    * checkpoint and `_last_checkpoint` points at it. Throws if `v`
    * already exists. */
  def commitActions(dir: String, v: Int, remove: Seq[String], add: Seq[String],
      ts: Option[Long] = None): Unit = {
    require(createIfAbsent(commitPath(dir, v),
      ts.map(t => s"ts\t$t").toSeq ++ remove.map("remove\t" + _) ++ add.map("add\t" + _)),
      s"commit v$v already exists under $dir")
    if (v % CheckpointEvery == 0) {
      writeLines(checkpointPath(dir, v), resolve(dir, v)._1)
      writeLines(pointerPath(dir), Seq(v.toString))
    }
  }

  /** Commit `v`'s actions as (op, argument) pairs, in file order. */
  def actions(dir: String, v: Int): Seq[(String, String)] =
    readLines(commitPath(dir, v)).map { line =>
      val Array(op, arg) = line.split("\t", 2)
      (op, arg)
    }

  /** Commit `v`'s timestamp (epoch micros); the `ts` action must lead. */
  def commitTs(dir: String, v: Int): Long = actions(dir, v).headOption match {
    case Some(("ts", t)) => t.toLong
    case _ => throw new IllegalStateException(s"commit v$v missing timestamp action")
  }

  def hasCheckpoint(dir: String, v: Int): Boolean = Files.exists(checkpointPath(dir, v))

  /** The version `_last_checkpoint` points at — an O(1) replay start. */
  def lastCheckpoint(dir: String): Int = readLines(pointerPath(dir)).head.toInt

  /** Version `v`'s live files, resolved from the nearest checkpoint
    * at-or-below it plus the action suffix, and the number of commits
    * replayed (`v − anchor`, the anchor being 0 when no checkpoint
    * applies). A missing commit on the replay path fails with
    * NoSuchFileException — never a silently partial file list. */
  def resolve(dir: String, v: Int): (Seq[String], Int) = {
    val anchor = (v to 1 by -1)
      .find(i => i % CheckpointEvery == 0 && hasCheckpoint(dir, i)).getOrElse(0)
    var files = if (anchor > 0) readLines(checkpointPath(dir, anchor)) else Seq.empty[String]
    ((anchor + 1) to v).foreach { i =>
      actions(dir, i).foreach {
        case ("remove", p) => files = files.filterNot(_ == p)
        case ("add", p) => files = files :+ p
        case _ => ()
      }
    }
    (files, v - anchor)
  }

  def dropCommit(dir: String, v: Int): Unit = Files.delete(commitPath(dir, v))

  def dropCheckpoint(dir: String, v: Int): Unit = Files.delete(checkpointPath(dir, v))

  // ---- MULTI-TABLE TRANSACTIONS: one record is the only commit point ----

  /** Txn record `n`: one `table\tversion` line per table. The tables'
    * manifests are published first and stay invisible until this record
    * names them. Throws if `n` already exists. */
  def commitTxn(dir: String, n: Int, vector: Seq[(String, Int)]): Unit =
    require(createIfAbsent(txnPath(dir, n), vector.map { case (t, v) => s"$t\t$v" }),
      s"txn v$n already exists under $dir")

  def readTxn(dir: String, n: Int): Map[String, Int] =
    readLines(txnPath(dir, n)).map { line =>
      val Array(t, v) = line.split("\t")
      (t, v.toInt)
    }.toMap
}
