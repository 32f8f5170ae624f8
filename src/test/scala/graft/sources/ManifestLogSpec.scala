package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The table-log core: bounded replay (nearest checkpoint + action
  * suffix) is exactly a full replay from v1 at every version, the
  * replay depth is `v − anchor`, and keep-last-N GC keeps exactly the
  * newest N manifests plus every file they reference. */
class ManifestLogSpec extends AnyFunSuite {

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** 8 commits: appends, a compaction, two rewrites, a late append. */
  private val script: Seq[(Seq[String], Seq[String])] = Seq(
    Nil -> Seq("a"), Nil -> Seq("b"), Nil -> Seq("c"),
    Seq("a", "b") -> Seq("ab"), Nil -> Seq("d"),
    Seq("d") -> Seq("d2"), Seq("c") -> Seq("c2"), Nil -> Seq("e"))

  private def writeScript(dir: String): Unit =
    script.zipWithIndex.foreach { case ((remove, add), i) =>
      ManifestLog.commitActions(dir, i + 1, remove, add, Some(1000L + i + 1))
    }

  /** Replays every commit file from v1, ignoring checkpoints. */
  private def fullReplay(dir: String, v: Int): Seq[String] =
    (1 to v).foldLeft(Vector.empty[String]) { (files, i) =>
      ManifestLog.actions(dir, i).foldLeft(files) {
        case (f, ("add", p)) => f :+ p
        case (f, ("remove", p)) => f.filterNot(_ == p)
        case (f, _) => f
      }
    }

  test("checkpoint + suffix replay equals a full replay at every version") {
    val dir = freshDir("manifestlog_actions")
    writeScript(dir)
    assert((1 to 8).filter(ManifestLog.hasCheckpoint(dir, _)) == Seq(3, 6))
    assert(ManifestLog.lastCheckpoint(dir) == 6)
    var expected = Vector.empty[String]
    script.zip(1 to 8).foreach { case ((remove, add), v) =>
      expected = expected.filterNot(remove.contains) ++ add
      val (files, replayed) = ManifestLog.resolve(dir, v)
      assert(files == fullReplay(dir, v), s"v$v: bounded replay diverged from full replay")
      assert(files == expected, s"v$v: replay diverged from the script")
      assert(replayed == v - (v / ManifestLog.CheckpointEvery) * ManifestLog.CheckpointEvery,
        s"v$v replayed $replayed commits")
      assert(ManifestLog.commitTs(dir, v) == 1000L + v)
    }
  }

  test("a version's commit is written once") {
    val dir = freshDir("manifestlog_once")
    ManifestLog.commitActions(dir, 1, Nil, Seq("a"))
    intercept[IllegalArgumentException](ManifestLog.commitActions(dir, 1, Nil, Seq("b")))
    assert(ManifestLog.actions(dir, 1) == Seq("add" -> "a"))
    ManifestLog.commitTxn(dir, 1, Seq("fact" -> 2, "summary" -> 1))
    intercept[IllegalArgumentException](ManifestLog.commitTxn(dir, 1, Seq("fact" -> 3)))
    assert(ManifestLog.readTxn(dir, 1) == Map("fact" -> 2, "summary" -> 1))
  }

  test("GC with retain = N keeps exactly the newest N manifests and their files") {
    Seq(1, 2, 3, 5).foreach { retain =>
      val dir = freshDir("manifestlog_gc")
      def file(name: String): String = {
        val p = Paths.get(dir, "data", name)
        Files.createDirectories(p)
        Files.write(p.resolve("part-0"), name.getBytes("UTF-8"))
        p.toString
      }
      val Seq(a, b, c, bc, e, dv) = Seq("a", "b", "c", "bc", "e", "dv").map(file)
      val versions = Seq(Seq(a, b), Seq(a, b, c), Seq(a, bc), Seq(a, bc, e), Seq(a, s"$bc|dv=$dv"))
      versions.zip(LazyList.from(1)).foreach { case (files, v) =>
        assert(ManifestLog.publish(dir, v, files))
      }
      val (dead, dropped) = ManifestLog.gcVersions(dir, retain)
      val kept = (versions.length - retain + 1) to versions.length
      assert(ManifestLog.versions(dir).sorted == kept, s"retain=$retain")
      assert(dropped == (1 until kept.head), s"retain=$retain")
      val live = kept.flatMap(v => ManifestLog.read(dir, v)).flatMap(ManifestLog.entryPaths).toSet
      assert(live.forall(p => new java.io.File(p).exists()),
        s"retain=$retain deleted a referenced file")
      val all = Set(a, b, c, bc, e, dv)
      assert(dead.toSet == all -- live, s"retain=$retain")
      assert((all -- live).forall(p => !new java.io.File(p).exists()),
        s"retain=$retain left an unreferenced file behind")
    }
  }
}
