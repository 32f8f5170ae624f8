package graft.operators

import graft.{StageBuilds, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** BUILD-ONCE contract of the two policy stagings (r21 verdict item 2:
  * the text-verdict staging landed without its own build-once spec). The
  * staged tables are pure corpus functions consumed by multiple release
  * compositions — the whole point is that NO consumer re-runs the verdict
  * chains once the stage is warm, and the staging price is visible to the
  * bench through [[graft.Staging.buildsSnapshot]]. */
class TextVerdictStageSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("text-verdict stage builds at most once across gate + board consumers") {
    // first consumer warms the stage (or finds it already warm)
    Pipeline.releaseGate(s, sf).write.format("noop").mode("overwrite").save()
    val builds = StageBuilds(Pipeline.textVerdictStageDir(sf))
    // every further consumer — the gate again, and the cross-modal board,
    // which reads the same staged verdicts — must NOT rebuild
    Pipeline.releaseGate(s, sf).write.format("noop").mode("overwrite").save()
    Pipeline.releaseBoard(s, sf).write.format("noop").mode("overwrite").save()
    assert(StageBuilds(Pipeline.textVerdictStageDir(sf)) == builds,
      "warm consumer re-ran the kAnonymity+policy verdict chains")
  }

  test("gram stage builds at most once across its three consumers") {
    TextAnalysis.decontaminate(s, sf).write.format("noop").mode("overwrite").save()
    val builds = StageBuilds(TextAnalysis.gramStageDir(sf))
    TextAnalysis.decontaminate(s, sf).write.format("noop").mode("overwrite").save()
    TextAnalysis.decontaminateBloom(s, sf).write.format("noop").mode("overwrite").save()
    TextAnalysis.overlapFrac(s, sf).write.format("noop").mode("overwrite").save()
    assert(StageBuilds(TextAnalysis.gramStageDir(sf)) == builds,
      "warm consumer re-ran the gram-md5 pass")
    // the probes read ONLY the staged gram tables, never documents.parquet
    assert(TextAnalysis.decontaminate(s, sf).inputFiles
      .forall(_.contains("graft_stage/grams5")),
      "t_decontaminate probe read outside the staged gram tables")
    assert(TextAnalysis.overlapFrac(s, sf).inputFiles
      .forall(_.contains("graft_stage/grams5")),
      "t_overlap_frac probe read outside the staged gram tables")
  }

  test("media-policy stage builds at most once across policy + board consumers") {
    graft.multimodal.Media.mediaPolicy(s, sf)
      .write.format("noop").mode("overwrite").save()
    val builds = StageBuilds(graft.multimodal.Media.mediaPolicyStageDir(sf))
    graft.multimodal.Media.mediaPolicy(s, sf)
      .write.format("noop").mode("overwrite").save()
    Pipeline.releaseBoard(s, sf).write.format("noop").mode("overwrite").save()
    assert(StageBuilds(graft.multimodal.Media.mediaPolicyStageDir(sf)) == builds,
      "warm consumer re-ran the codec arms")
  }
}
