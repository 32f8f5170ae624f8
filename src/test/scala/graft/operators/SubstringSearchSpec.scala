package graft.operators

import graft.{StageBuilds, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The inverted-index search contract: the trigram postings are built
  * once per fixture, candidate docs are a strict SUPERSET of the true
  * matches (conjunctive trigram containment is necessary but not
  * sufficient) yet far smaller than the corpus, and the verified result
  * equals the brute-force LIKE scan. */
class SubstringSearchSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("index path equals the brute-force contains scan, and builds once") {
    val first = TextAnalysis.substringSearch(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val builds = StageBuilds(TextAnalysis.postingsStageDir(sf))
    val second = TextAnalysis.substringSearch(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(StageBuilds(TextAnalysis.postingsStageDir(sf)) == builds,
      "second search must reuse the staged postings")
    assert(first == second)
    val brute = Tables.documents(s, sf)
      .filter(instr(col("text"), TextAnalysis.SearchNeedle) > 0)
      .select(col("doc_id"), instr(col("text"), TextAnalysis.SearchNeedle).as("p"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(first == brute, "index path diverges from the full scan")
    assert(first.nonEmpty, "needle must match on the fixture")
  }

  test("candidates over-approximate matches but prune the corpus") {
    val candidates = TextAnalysis.searchCandidates(s, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val matches = Tables.documents(s, sf)
      .filter(instr(col("text"), TextAnalysis.SearchNeedle) > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(matches.subsetOf(candidates),
      "every true match must be an index candidate (completeness)")
    val total = Tables.documents(s, sf).count()
    assert(candidates.size < total,
      s"index must prune: ${candidates.size} candidates of $total docs")
  }

  test("needle lookup prunes postings partitions at the directory level") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val df = TextAnalysis.searchCandidates(s, sf)
    df.collect() // force AQE finalization; metrics are for the executed scan
    val scan = flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
    assert(scan.isDefined, s"expected a postings scan:\n${df.queryExecution.executedPlan}")
    val opened = scan.get.metrics("numFiles").value
    val dir = new java.io.File(TextAnalysis.postingsStageDir(sf) + "/postings")
    val onDisk = dir.listFiles().count(_.getName.startsWith("a0="))
    // "slow scan" touches 6 distinct first bytes; the corpus populates far
    // more a0 partitions than that, so the executed scan must skip dirs
    assert(opened < onDisk,
      s"partition pruning must skip postings dirs: opened $opened of $onDisk partitions")
  }

  test("multi-needle batch equals the per-needle brute-force scans") {
    val got = TextAnalysis.substringSearchMulti(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val brute = TextAnalysis.SearchNeedles.flatMap { n =>
      Tables.documents(s, sf)
        .filter(instr(col("text"), n) > 0)
        .select(col("doc_id"), instr(col("text"), n).as("p"))
        .collect().map(r => (n, r.getLong(0), r.getInt(1)))
    }.sortBy(t => (t._1, t._2))
    assert(got == brute, "one-probe batch diverges from per-needle scans")
    // the batch's hit profile must exercise both hit and miss needles
    val perNeedle = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perNeedle.getOrElse("slow scan", 0) > 0)
    assert(!perNeedle.contains("query plan"), "adjacent-words-absent needle must verify to zero")
    assert(!perNeedle.contains("zz missing"), "OOV needle must verify to zero")
  }

  test("batch candidates over-approximate: the exact verify kills real false positives") {
    // conjunctive trigram containment is necessary, not sufficient — a doc
    // holding 'slo','low','ow s','sca','can',… scattered across different
    // words is a candidate without containing the adjacent bigram. On the
    // fixture this FP set is large (~6× the match set), so the instr
    // verify in the batch path does real work, not a rubber stamp.
    val needleTris = "slow scan".sliding(3).toSeq.distinct
    val cand = s.read.parquet(TextAnalysis.postingsStageDir(sf) + "/postings")
      .filter(col("trigram").isin(needleTris: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === needleTris.size)
      .count()
    val matches = Tables.documents(s, sf)
      .filter(instr(col("text"), "slow scan") > 0).count()
    assert(cand > matches,
      s"fixture must produce false-positive candidates: $cand candidates vs $matches matches")
  }
}
