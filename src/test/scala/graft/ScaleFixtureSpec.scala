package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale fixture's per-replica word suffixes must stay pure [a-z], or
  * replicas change tokenizer eligibility and collide in the hash spaces
  * they are meant to keep apart. */
class ScaleFixtureSpec extends AnyFunSuite {

  test("k above 26 fails fast, before any session starts") {
    val e = intercept[IllegalArgumentException](
      ScaleFixture.main(Array("unused_src", "unused_out", "27")))
    assert(e.getMessage.contains("k=27"))
  }
}
