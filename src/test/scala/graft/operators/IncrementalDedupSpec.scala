package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-ingest contract: delta flags agree with the FULL
  * near-dup pair pipeline restricted to delta membership, and the delta
  * path never generates base-vs-base candidate pairs. */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private lazy val sf = TestSpark.sf

  test("delta flags agree with the full pipeline's pairs") {
    val out = Dedup.incrementalDedup(s, sf).cache()
    val isDelta = (id: org.apache.spark.sql.Column) => pmod(id, lit(10L)) === lit(7L)
    // from the FULL pair set (a < b, est >= 0.5): a delta doc is a dup iff
    // it has ANY lower-id witness, or any (necessarily higher-id) base one
    val nd = Dedup.neardupPairs(s, sf).select("a", "b").cache()
    val viaLower = nd.filter(isDelta(col("b"))).select(col("b").as("doc_id"))
    val viaHigherBase = nd.filter(isDelta(col("a")) && !isDelta(col("b")))
      .select(col("a").as("doc_id"))
    val expected = viaLower.union(viaHigherBase).distinct()
      .collect().map(_.getLong(0)).toSet
    val flagged = out.filter(col("is_dup") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == expected)
    // and the output covers exactly the delta slice
    val deltaCount = graft.Tables.documents(s, sf).filter(isDelta(col("doc_id"))).count()
    assert(out.count() == deltaCount)
    out.unpersist(); nd.unpersist(): Unit
  }

  test("staged-index path is row-identical to the inline one-plan formulation") {
    val staged = Dedup.incrementalDedup(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val inline = Dedup.incrementalDedupInline(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(staged == inline, "staged ingest diverges from the inline formulation")
  }

  test("ingest plan recomputes no signature and probes the staged base index") {
    val df = Dedup.incrementalDedup(s, sf)
    // every signature in the plan is either staged parquet or the pinned
    // (localCheckpoint'd) delta slice — the round-8 slope flag was the
    // corpus-wide MinHash subtree re-executing per consumer
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("minhash_signature"),
      s"ingest plan recomputes MinHash signatures:\n$plan")
    val stageDir = Dedup.baseIndexStageDir(sf)
    assert(df.inputFiles.exists(_.contains(stageDir)),
      s"ingest does not read the staged base index: ${df.inputFiles.mkString(", ")}")
  }

  test("base index builds at most once across ingests") {
    Dedup.incrementalDedup(s, sf).count(): Unit
    val before = StageBuilds(Dedup.baseIndexStageDir(sf))
    Dedup.incrementalDedup(s, sf).count(): Unit
    assert(StageBuilds(Dedup.baseIndexStageDir(sf)) == before,
      "second ingest rebuilt the base index")
  }
}
