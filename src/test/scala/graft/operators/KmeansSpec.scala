package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Trained-quantizer contract: the sampled integer-exact Lloyd's build
  * stages once, its codebook is a genuine partition of the sample, the
  * trained probe beats (or at worst matches) the borrowed-label coarse
  * quantizer on the fixture, and the whole path stays deterministic
  * across rebuilds — the property the unrolled CTE oracle depends on. */
class KmeansSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("k-means staging is build-once: second ensure is a no-op") {
    Similarity.ensureKmeansStaged(s, sf)
    val builds = StageBuilds(Similarity.kmeansStageDir(sf))
    Similarity.ensureKmeansStaged(s, sf)
    Similarity.kmeansTrain(s, sf).collect()
    Similarity.annIvfTrained(s, sf).collect()
    assert(StageBuilds(Similarity.kmeansStageDir(sf)) == builds,
      "probe or re-ensure re-trained the codebook")
  }

  test("codebook shape: k clusters x 64 dims, member counts cover the sample") {
    val rows = Similarity.kmeansTrain(s, sf).collect()
    assert(rows.length == 8 * 64)
    val byCluster = rows.groupBy(_.getInt(0))
    assert(byCluster.keySet == (0 until 8).toSet)
    byCluster.values.foreach(rs => assert(rs.map(_.getInt(1)).sorted.sameElements(0 until 64)))
    // every cluster reports ONE count; counts sum to the 1-in-4 sample size
    val counts = byCluster.view.mapValues(_.map(_.getLong(3)).toSet).toMap
    counts.values.foreach(c => assert(c.size == 1))
    val sampleN = graft.Tables.embeddings(s, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 4 === 0).count()
    assert(counts.values.map(_.head).sum == sampleN,
      "final assignment does not partition the sample")
  }

  test("training is deterministic: a forced rebuild reproduces the codebook exactly") {
    val first = Similarity.kmeansTrain(s, sf).collect().map(_.toSeq).toSeq
    val dir = new java.io.File(Similarity.kmeansStageDir(sf))
    val marker = new java.io.File(dir, "_STAGED")
    assert(marker.delete(), "staging marker missing")
    Similarity.ensureKmeansStaged(s, sf)
    val second = Similarity.kmeansTrain(s, sf).collect().map(_.toSeq).toSeq
    assert(first == second, "retraining diverged — the oracle contract is broken")
  }

  test("trained quantizer recall@5 is at least the label quantizer's on this fixture") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    def meanRecall(approx: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, ex) =>
        approx.get(q).map(a => (ex & a).size.toDouble / ex.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val label = meanRecall(sets(Similarity.annIvf(s, sf)))
    val trained = meanRecall(sets(Similarity.annIvfTrained(s, sf)))
    info(f"label-IVF recall $label%.2f, trained-IVF recall $trained%.2f")
    assert(trained >= label - 1e-9,
      f"training made the quantizer WORSE: $trained%.2f < $label%.2f")
    assert(trained >= 0.2, f"trained recall collapsed: $trained%.2f")
  }

  test("probe never aggregates the corpus: trained-IVF plan has no per-vector explode") {
    val plan = Similarity.annIvfTrained(s, sf).queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("generate explode"),
      s"probe plan re-expands embeddings:\n$plan")
  }
}
