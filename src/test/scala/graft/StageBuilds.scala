package graft

import java.nio.file.{Files, Paths}

/** Build counts for the build-once specs, read from the one build log,
  * [[Staging.buildsSnapshot]]. */
object StageBuilds {

  /** Builds of the stage at `dir` logged in this JVM. Fails when `dir`
    * holds no staged marker, so a misnamed dir cannot pass a build-once
    * check by counting nothing. */
  def apply(dir: String): Int = {
    assert(Files.exists(Paths.get(dir, "_STAGED")), s"no stage at $dir")
    Staging.buildsSnapshot.count(_.dir == dir)
  }

  /** The stage dir of a part path an ensure returned (`<dir>/<part>`). */
  def dirOf(part: String): String = Paths.get(part).getParent.toString
}
