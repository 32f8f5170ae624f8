package graft.operators

import graft.{StageBuilds, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filter contract: the set-similarity join must equal the
  * brute-force shingle-equi-join formulation exactly (the filter is
  * lossless — a theorem, not a heuristic), while generating strictly
  * fewer candidate pairs, and never planning a cartesian product. */
class SetSimJoinSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def brute(): Seq[(Long, Long, Long, Long, Long)] = {
    val words = split(col("text"), " ")
    val sh5 = when(size(words) >= 5,
      array_distinct(transform(sequence(lit(0), size(words) - 5),
        i => array_join(slice(words, i + lit(1), lit(5)), " "))))
      .otherwise(array().cast("array<string>"))
    val tok = Tables.documents(s, sf).select(col("doc_id"), explode(sh5).as("sh"))
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    tok.as("x").join(tok.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .filter(col("inter") * 9 >= (col("n_a") + col("n_b")) * 4)
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("inter"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(t => (t._1, t._2))
  }

  test("prefix-filtered join equals the brute-force shingle join (lossless filter)") {
    val got = Dedup.setSimJoin(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val want = brute()
    assert(got == want, s"prefix filter changed results: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty, "fixture must contain Jaccard>=0.8 shingle-set pairs")
    // every reported pair really clears the threshold: 9*inter >= 4*(na+nb)
    got.foreach { case (_, _, na, nb, inter) => assert(9 * inter >= 4 * (na + nb)) }
  }

  test("no cartesian product or nested-loop join in the plan") {
    val plan = Dedup.setSimJoin(s, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "set-sim join must never plan a cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "set-sim join must never plan a BNLJ")
  }

  test("ranked shingle table is staged build-once and shared with the containment join") {
    Dedup.ensureRankedStaged(s, sf)
    val builds = StageBuilds(Dedup.rankedStageDir(sf))
    // both consumers probe the same staged artifact — neither rebuilds
    Dedup.setSimJoin(s, sf).count()
    Dedup.containmentJoin(s, sf).count()
    Dedup.ensureRankedStaged(s, sf)
    assert(StageBuilds(Dedup.rankedStageDir(sf)) == builds,
      "a consumer of the ranked shingle table rebuilt it")
    // the staged table is bit-identical to the inline derivation
    val staged = Dedup.stagedRankedShingles(s, sf)
    val inline = Dedup.rankedShinglesOver(Tables.documents(s, sf))
    assert(staged.exceptAll(inline).unionAll(inline.exceptAll(staged)).count() == 0,
      "staged ranked shingles diverge from the inline pipeline")
    // consumer plans read parquet, not the raw documents corpus
    val plan = Dedup.setSimJoin(s, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "setSimJoin must probe the staged ranked table, not re-shingle the corpus")
  }
}
