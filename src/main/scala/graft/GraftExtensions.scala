package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{BitmapAgg, BottomKCounts, CosineSimilarity, ExtractHoldingsGen, Int8Quantize, KmvHashes, MinHashSignature, SigAgreement, SimHash16, SrpBandKeys, TopKPairs}

/** Engine extensions, injected via the standard
  * `spark.sql.extensions=graft.GraftExtensions` mechanism (GraftSession
  * sets it): custom expressions for SQL users
  * (`SELECT cosine_similarity(a, b)`), the planner strategy for the
  * bounded-memory per-key top-k operator (graft.plans.TopK), and the AQE
  * rule that sorts small results in one partition
  * (graft.plans.SinglePartitionSort).
  *
  * The reference's own semantics need no custom Rule/Strategy (SURVEY.md
  * §4) — the extension points here serve the engine's scale additions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => plans.TopKStrategy)
    ext.injectOptimizerRule(_ => plans.RewriteWindowTopK)
    ext.injectQueryStagePrepRule(_ => plans.SinglePartitionSort)
    // SQL MERGE INTO support for snapshot-manifest relations: lowered at
    // parse time to the k_merge_upsert join/union plan (plans.GraftSqlParser)
    ext.injectParser((session, delegate) =>
      new plans.GraftSqlParser(session, delegate))
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_similarity takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        // minhash_signature(shingles) | minhash_signature(shingles, num_perms, prime)
        def intLit(e: Expression, what: String): Long = e match {
          case Literal(v: Int, IntegerType) => v.toLong
          case Literal(v: Long, LongType) => v
          case other => throw new IllegalArgumentException(
            s"minhash_signature: $what must be an integer literal, got $other")
        }
        children match {
          case Seq(shingles) =>
            new MinHashSignature(shingles, MinHashSignature.DefaultNumPerms,
              MinHashSignature.DefaultPrime)
          case Seq(shingles, np, prime) =>
            new MinHashSignature(shingles, intLit(np, "num_perms").toInt,
              intLit(prime, "prime"))
          case _ => throw new IllegalArgumentException(
            "minhash_signature takes (shingles) or (shingles, num_perms, prime)")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("extract_holdings"),
      new ExpressionInfo(classOf[ExtractHoldingsGen].getName, "extract_holdings"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "extract_holdings takes exactly 1 argument")
        new ExtractHoldingsGen(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("sig_agreement"),
      new ExpressionInfo(classOf[SigAgreement].getName, "sig_agreement"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sig_agreement takes exactly 2 arguments")
        SigAgreement(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash16 takes exactly 1 argument")
        new SimHash16(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "int8_quantize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "int8_quantize takes exactly 1 argument")
        Int8Quantize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("srp_band_keys"),
      new ExpressionInfo(classOf[SrpBandKeys].getName, "srp_band_keys"),
      (children: Seq[Expression]) => {
        // srp_band_keys(vector, bands): the engine's standard md5-derived
        // 16×64 hyperplane matrix; `bands` must divide 16
        require(children.length == 2, "srp_band_keys takes (vector, bands)")
        val bands = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"srp_band_keys: bands must be an integer literal, got $other")
        }
        new SrpBandKeys(children.head, SrpBandKeys.mdHyperplanes(16, 64), bands)
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_hashes"),
      new ExpressionInfo(classOf[KmvHashes].getName, "kmv_hashes"),
      (children: Seq[Expression]) => {
        // kmv_hashes(value_string, k): k smallest distinct hex8(md5(v))
        require(children.length == 2, "kmv_hashes takes (value, k)")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"kmv_hashes: k must be an integer literal, got $other")
        }
        KmvHashes(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "bitmap_agg"),
      (children: Seq[Expression]) => {
        // bitmap_agg(pos, nbits): fixed-width bitmap with bit pos set
        // per input row; nbits a multiple-of-64 literal
        require(children.length == 2, "bitmap_agg takes (pos, nbits)")
        val nbits = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"bitmap_agg: nbits must be an integer literal, got $other")
        }
        BitmapAgg(children.head, nbits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "topk_pairs"),
      (children: Seq[Expression]) => {
        // topk_pairs(value_double, id_long, k): k largest (value, id)
        // pairs as struct rows in descending rank order
        require(children.length == 3, "topk_pairs takes (value, id, k)")
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"topk_pairs: k must be an integer literal, got $other")
        }
        TopKPairs(children.head, children(1), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bottomk_counts"),
      new ExpressionInfo(classOf[BottomKCounts].getName, "bottomk_counts"),
      (children: Seq[Expression]) => {
        // bottomk_counts(value_long, k): the k smallest-hashed distinct
        // values with exact occurrence counts, in (hash, value) order
        require(children.length == 2, "bottomk_counts takes (value, k)")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case Literal(v: Long, LongType) => v.toInt
          case other => throw new IllegalArgumentException(
            s"bottomk_counts: k must be an integer literal, got $other")
        }
        BottomKCounts(children.head, k)
      }))
  }
}
