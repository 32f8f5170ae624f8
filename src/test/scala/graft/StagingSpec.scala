package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The staleness/race contract of the shared staging helper: the marker
  * records a SOURCE FINGERPRINT (not mere existence), so regenerating the
  * fixture rebuilds; publication is atomic; concurrent ensures build once. */
class StagingSpec extends AnyFunSuite {

  private def freshDirs(): (String, String) = {
    val base = Files.createTempDirectory("graft_staging_spec").toString
    (base + "/src", base + "/staged")
  }

  private def writeSrc(src: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(src, name), content.getBytes(StandardCharsets.UTF_8)): Unit
  }

  test("builds once while the source fingerprint is unchanged") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    var builds = 0
    def ensure(): Boolean = Staging.ensure(dir, Seq(src)) { builds += 1 }
    assert(ensure());  assert(!ensure());  assert(!ensure())
    assert(builds == 1)
  }

  test("rebuilds when the source content changes, then settles again") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    var builds = 0
    def ensure(): Boolean = Staging.ensure(dir, Seq(src)) { builds += 1 }
    assert(ensure())
    // regenerate the fixture: same path, different size ⇒ new fingerprint
    writeSrc(src, "a.parquet", "v2 with more bytes")
    assert(ensure(), "changed source must trigger a rebuild")
    assert(!ensure())
    assert(builds == 2)
    // a NEW file under the source root also changes the fingerprint
    writeSrc(src, "b.parquet", "part2")
    assert(ensure())
    assert(builds == 3)
  }

  test("a failed build leaves no marker, so the next ensure retries") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    intercept[RuntimeException] {
      Staging.ensure(dir, Seq(src)) { throw new RuntimeException("boom") }
    }
    assert(!Files.exists(Paths.get(dir, "_STAGED")),
      "marker must not be published for a failed build")
    var ran = false
    assert(Staging.ensure(dir, Seq(src)) { ran = true })
    assert(ran)
  }

  test("marker is published atomically with the fingerprint as content") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    Staging.ensure(dir, Seq(src)) {}
    val marker = Paths.get(dir, "_STAGED")
    val content = new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim
    assert(content == Staging.fingerprint(Seq(src)))
    assert(!Files.exists(Paths.get(dir, "_STAGED.tmp")), "tmp sibling must be renamed away")
  }

  test("concurrent ensures over the same dir build exactly once") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = Staging.ensure(dir, Seq(src)) {
            Thread.sleep(20)
            builds.incrementAndGet(): Unit
          }
        })
      }
      assert(futures.count(_.get()) == 1)
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }

  test("same-size same-mtime regeneration is caught by the content witness") {
    // the staleness mode metadata alone cannot see: the fixture is
    // rewritten with DIFFERENT bytes of IDENTICAL length, and the mtime
    // is restored (as a regeneration inside fs timestamp granularity, or
    // a copy with preserved timestamps, would produce)
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "content-version-1")
    val p = Paths.get(src, "a.parquet")
    val mtime = Files.getLastModifiedTime(p)
    var builds = 0
    def ensure(): Boolean = Staging.ensure(dir, Seq(src)) { builds += 1 }
    assert(ensure())
    writeSrc(src, "a.parquet", "content-version-2") // same byte length
    Files.setLastModifiedTime(p, mtime)
    assert(Files.size(p) == "content-version-1".length.toLong)
    assert(ensure(), "same-size same-mtime regeneration must still rebuild")
    assert(builds == 2)
  }

  test("witness covers the tail of large files beyond the 4 KiB head") {
    // flipping one byte in the FOOTER region of a >8 KiB file (where
    // parquet keeps row-group stats) changes the fingerprint even with
    // size and mtime pinned
    val (src, _) = freshDirs()
    val big = new Array[Byte](32 * 1024)
    java.util.Arrays.fill(big, 'x'.toByte)
    Files.createDirectories(Paths.get(src))
    val p = Paths.get(src, "big.parquet")
    Files.write(p, big)
    val mtime = Files.getLastModifiedTime(p)
    val before = Staging.fingerprint(Seq(src))
    big(big.length - 100) = 'y'.toByte
    Files.write(p, big)
    Files.setLastModifiedTime(p, mtime)
    assert(Staging.fingerprint(Seq(src)) != before)
  }

  test("a code-version token forces a rebuild; an unchanged token does not") {
    // source fingerprints cannot see builder-LOGIC changes (r21 advice):
    // the version token is the rebuild lever a derivation change pulls
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    var builds = 0
    assert(Staging.ensure(dir, Seq(src), "logic-v1") { builds += 1 })
    assert(!Staging.ensure(dir, Seq(src), "logic-v1") { builds += 1 })
    assert(Staging.ensure(dir, Seq(src), "logic-v2") { builds += 1 },
      "bumped version token must rebuild against unchanged sources")
    assert(!Staging.ensure(dir, Seq(src), "logic-v2") { builds += 1 })
    assert(builds == 2)
  }

  test("builds are logged with wall seconds (the bench's staging price)") {
    val (src, dir) = freshDirs()
    writeSrc(src, "a.parquet", "v1")
    val before = Staging.buildsSnapshot.count(_.dir == dir)
    Staging.ensure(dir, Seq(src)) { Thread.sleep(5) }
    val mine = Staging.buildsSnapshot.filter(_.dir == dir)
    assert(mine.size == before + 1, "the build must land in the log once")
    assert(mine.last.sec >= 0.005, "logged seconds must cover the build body")
    // a warm ensure adds nothing — the steady state prices at zero
    Staging.ensure(dir, Seq(src)) { Thread.sleep(5) }
    assert(Staging.buildsSnapshot.count(_.dir == dir) == before + 1)
  }

  test("a nested build is logged once: the outer record excludes the inner build") {
    val (src, outer) = freshDirs()
    val inner = outer + "_inner"
    writeSrc(src, "a.parquet", "v1")
    val t0 = System.nanoTime()
    Staging.ensure(outer, Seq(src)) {
      Staging.ensure(inner, Seq(src)) { Thread.sleep(200) }: Unit
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val mine = Staging.buildsSnapshot.filter(b => b.dir == outer || b.dir == inner)
    assert(mine.map(_.dir) == Seq(inner, outer), "one record per build, inner first")
    assert(mine.map(_.sec).sum < wall * 1.1,
      s"the inner build's seconds are logged twice: $mine against $wall s of wall time")
  }

  test("a missing source root still fingerprints (and changes on creation)") {
    val (src, dir) = freshDirs()
    val before = Staging.fingerprint(Seq(src))
    writeSrc(src, "a.parquet", "now exists")
    assert(Staging.fingerprint(Seq(src)) != before)
  }
}
