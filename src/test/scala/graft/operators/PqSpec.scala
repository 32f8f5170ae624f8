package graft.operators

import graft.{StageBuilds, Staging, TestSpark}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization contract: the code table is a complete,
  * fixed-width encoding (exactly PqSub codes per corpus vector), the
  * index builds once per sf dir, the probe plan reads CODES — the only
  * embeddings-parquet scan it may touch is the 8-row query side — and
  * the ADC ranking agrees with a brute-force recompute of the same
  * quantized model. */
class PqSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    (p +: kids.flatMap(flatten)) ++ p.subqueries.flatMap(flatten)
  }

  test("every corpus vector carries exactly PqSub codes") {
    val codes = Similarity.stagedPqCodes(s, sf)
    val nVec = graft.Tables.embeddings(s, sf)
      .filter(col("embedding").isNotNull).count()
    val perVec = codes.groupBy("vec_id").count().collect()
    assert(perVec.length == nVec, "a vector is missing from the code table")
    assert(perVec.forall(_.getLong(1) == 8L), "ragged code widths")
  }

  test("index builds once; probe scans codes, not corpus floats") {
    Similarity.stagedPqCodes(s, sf).count() // warm the staging
    val before = StageBuilds(Staging.dir("pqcodes", sf))
    val df = Similarity.annPq(s, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(StageBuilds(Staging.dir("pqcodes", sf)) == before, "probe rebuilt the index")
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    val embScans = scans.filter(_.toString.contains("embeddings.parquet"))
    // the corpus floats may enter only through the bounded query side
    assert(embScans.nonEmpty && embScans.forall(_.toString.contains("vec_id")),
      "an embeddings scan without the query-side vec_id pushdown is a corpus read")
    assert(scans.exists(_.toString.contains("pqcodes_")), "probe did not read the staged codes")
  }

  test("exact re-rank over the PQ candidate pool never loses recall vs raw ADC top-k") {
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    val raw = sets(Similarity.annPq(s, sf))
    val refined = sets(Similarity.annPqRefine(s, sf))
    def meanRecall(m: Map[Long, Set[Long]]) =
      exact.keys.map(q => (exact(q) & m.getOrElse(q, Set.empty)).size.toDouble / 5.0)
        .sum / exact.size
    assert(meanRecall(refined) >= meanRecall(raw),
      s"refine lowered recall: ${meanRecall(refined)} < ${meanRecall(raw)}")
  }

  test("ADC ranking equals a brute-force recompute of the same quantized model") {
    val got = Similarity.annPq(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // brute force: decode nothing — recompute approx distance per pair
    // from the same codes + LUT, rank in plain Scala
    val codes = Similarity.stagedPqCodes(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2).toString))
    val cents = Similarity.stagedCentroids(s, sf).collect()
      .map(r => r.get(0).toString -> r.getSeq[Double](1).toArray).toMap
    val queries = graft.Tables.embeddings(s, sf).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def sub(q: Array[Float], c: Array[Double], m: Int): Double =
      (0 until 8).map { i => val d = q(m * 8 + i).toDouble - c(m * 8 + i); d * d }
        .foldLeft(0.0)(_ + _)
    val expect = queries.flatMap { case (qid, qv) =>
      val lut = cents.map { case (l, c) => (l, (0 until 8).map(m => (m, sub(qv, c, m))).toMap) }
        .map { case (l, mm) => l -> mm }.toMap
      val byVec = codes.groupBy(_._1).collect { case (vid, cs) if vid != qid =>
        // mirror dsum: per-term truncation to decimal(28,4) scale
        val d = cs.map { case (_, m, code) =>
          BigDecimal(lut(code)(m)).setScale(4, BigDecimal.RoundingMode.HALF_UP) }.sum
        (vid, d)
      }.toSeq
      byVec.sortBy { case (vid, d) => (d, vid) }.take(5).zipWithIndex
        .map { case ((vid, _), i) => (qid, i + 1, vid) }
    }.toSet
    assert(got.toSet == expect, "ADC ranks diverge from the brute-force recompute")
  }
}
