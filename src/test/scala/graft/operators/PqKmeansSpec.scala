package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Trained-PQ contract: per-subspace codebooks of the declared shape,
  * staged build-once, deterministic retrain, a fully-INTEGER probe (the
  * ADC distance column is a long — floats never enter the plan), and
  * recall on par with the borrowed-label codebook it replaces (the point
  * is label-INDEPENDENCE: a real corpus has no label column to borrow,
  * so training is the only path to a PQ codebook at scale). */
class PqKmeansSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("staging is build-once and the codebook has the declared shape") {
    Similarity.ensurePqKmeansStaged(s, sf)
    val builds = StageBuilds(Similarity.pqKmeansStageDir(sf))
    val rows = Similarity.pqKmeansTrain(s, sf).collect()
    Similarity.annPqTrained(s, sf).collect()
    assert(StageBuilds(Similarity.pqKmeansStageDir(sf)) == builds, "probe re-trained the codebook")
    assert(rows.length == 8 * 16 * 8, s"codebook size ${rows.length}")
    val byM = rows.groupBy(_.getInt(0))
    assert(byM.keySet == (0 until 8).toSet)
    byM.values.foreach { ms =>
      assert(ms.map(_.getInt(1)).toSet == (0 until 16).toSet)
    }
  }

  test("retraining reproduces the codebook exactly (the oracle contract)") {
    val first = Similarity.pqKmeansTrain(s, sf).collect().map(_.toSeq).toSeq
    val marker = new java.io.File(Similarity.pqKmeansStageDir(sf), "_STAGED")
    assert(marker.delete(), "staging marker missing")
    Similarity.ensurePqKmeansStaged(s, sf)
    val second = Similarity.pqKmeansTrain(s, sf).collect().map(_.toSeq).toSeq
    assert(first == second, "retraining diverged")
  }

  test("the ADC probe is integer end to end") {
    val df = Similarity.annPqTrained(s, sf)
    assert(df.schema("approx_d").dataType == org.apache.spark.sql.types.LongType,
      "ADC distance is not a long — a float crept into the probe")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val ds = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "ADC ranks not ascending")
    }
  }

  test("trained recall is on par with the borrowed-label codebook") {
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
    val borrowed = meanRecall(sets(Similarity.annPq(s, sf)))
    val trained = meanRecall(sets(Similarity.annPqTrained(s, sf)))
    info(f"label-PQ recall $borrowed%.3f, trained-PQ recall $trained%.3f")
    assert(trained >= borrowed - 0.06,
      f"training lost more than the tolerance: $trained%.3f vs $borrowed%.3f")
  }
}
