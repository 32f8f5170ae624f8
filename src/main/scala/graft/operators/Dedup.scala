package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the north-star dedup family
  * (BASELINE.md): exact (hash-groupBy), MinHash signatures, LSH band
  * candidate generation, exact n-gram Jaccard verification, and SimHash.
  *
  * Scale design (the whole point of MinHash+LSH): candidate pairs are
  * generated ONLY by equi-joining on (band, band_key) — a shuffle join on
  * a high-cardinality key — never an all-pairs cross join. The exact
  * Jaccard verification then touches candidates only, so the n² term
  * disappears; DedupScaleSpec asserts candidates ≪ n(n-1)/2 on real data.
  *
  * Cross-engine determinism: each shingle is md5'd once (identical in
  * both engines) and permuted with Carter-Wegman integer arithmetic, so
  * signatures, band keys, and estimates hash-match DuckDB bit-for-bit.
  * Integer counts divided by constants are single IEEE ops.
  */
object Dedup {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private val words: Column = split(col("text"), " ")

  /** Distinct word-3-gram shingles (guarded for <3-token docs). */
  private val shingles: Column =
    when(size(words) >= 3,
      array_distinct(transform(
        sequence(lit(0), size(words) - 3),
        i => array_join(slice(words, i + lit(1), lit(3)), " "))))
      .otherwise(array().cast("array<string>"))

  private val NumPerms = graft.functions.MinHashSignature.DefaultNumPerms
  private val Bands = 4
  private val RowsPerBand = NumPerms / Bands
  private val P = graft.functions.MinHashSignature.DefaultPrime

  /** k=16 MinHash signature via Carter-Wegman permutations: each shingle
    * is md5'd ONCE into two 32-bit ints (a, b); permutation i of a shingle
    * is (a + i·b) mod p. Computed by the native
    * [[graft.functions.MinHashSignature]] expression — the declarative
    * higher-order-function formulation runs interpreted and paid lambda
    * dispatch per (shingle × permutation); the native row loop is ~10×
    * faster at sf0.1 with bit-identical output (same md5-word parsing and
    * integer arithmetic as the DuckDB oracle). */
  private val signature: Column =
    graft.functions.MinHashSignature(col("shingles"), NumPerms, P)

  /** The doc corpus is byte-small but compute-dense (shingle expansion ×
    * md5), and a tiny parquet file scans as ONE split, which would
    * serialize the signature computation on one core. Repartitioning
    * right after the scan costs one small shuffle of raw text and buys
    * full-cluster parallelism; the count is EXPLICIT because AQE's
    * coalescer sizes partitions by shuffle BYTES and would merge this
    * byte-small/compute-dense exchange back to one partition. The
    * identical pre-sig subtree is ReuseExchange'd when queries self-join
    * signatures. */
  private[graft] def withSig(s: SparkSession, d: String): DataFrame =
    sigOf(s, docs(s, d))

  /** The signature pipeline over an arbitrary (doc_id, text) frame — lets
    * incremental dedup run it over the DELTA slice only (the filter lands
    * below the compute-dense map, so only delta rows pay for MinHash). */
  private def sigOf(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), shingles.as("shingles"))
      .select(col("doc_id"), col("shingles"), signature.as("sig"))

  /** LSH banding over any (doc_id, sig) frame: 4 bands × 4 rows; band key
    * = the band's joined slice. */
  private[graft] def bandsFrom(sigDf: DataFrame): DataFrame =
    sigDf.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(Bands - 1)),
        b => struct(b.as("band"),
          concat_ws("|", transform(
            slice(col("sig"), b * RowsPerBand + lit(1), lit(RowsPerBand)),
            v => v.cast("string"))).as("bkey")))).as("z"))
      .select(col("doc_id"), col("z.band").as("band"), col("z.bkey").as("bkey"))

  private[graft] def bands(s: SparkSession, d: String): DataFrame =
    bandsFrom(withSig(s, d))

  /** LSH index HEALTH metrics — the skew forecaster an operator reads
    * before anything joins the bands: per band, bucket count, rows, the
    * largest bucket, and the exact candidate-pair volume the band will
    * emit (Σ c·(c−1)/2 over its buckets). A hot bucket is the LSH failure
    * mode at scale — one boilerplate-heavy bkey can quadratically blow up
    * the candidate join; this query is the dial that says "re-band or
    * salt" BEFORE paying that join. Shape: one map-side-combined count to
    * O(buckets) rows, then an aggregate over the O(bands) domain —
    * nothing after the first combine is corpus-proportional. */
  def bandStats(s: SparkSession, d: String): DataFrame =
    bands(s, d)
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_bucket"),
        sum(expr("(c * (c - 1)) div 2")).as("cand_pairs"))
      .orderBy("band")

  /** Candidate pairs from the band equi-join — the only pair generator. */
  def candidatePairs(s: SparkSession, d: String): DataFrame =
    candidatePairsFrom(bands(s, d))

  /** A bucket whose row count exceeds this emits > ~500k candidate pairs
    * (c·(c−1)/2) and gets salted before the self-join. Never reached by
    * the test corpora (max bucket ≈ 3 at sf0.1) — the dial exists for the
    * boilerplate-heavy bkey at 100 TB, and HotBucketSaltSpec proves the
    * salted plan pair-identical on a synthetic hot bucket. */
  private[operators] val HotBucketRows = 1024
  private[operators] val HotBucketSalts = 16

  /** The band self-join, hardened for scale in two ways the inline form
    * was not:
    *
    * 1. The bands frame is PINNED (`localCheckpoint`) before the
    *    self-join, so the shingle→MinHash→bands subtree is computed
    *    exactly ONCE per run by construction. The previous form built the
    *    subtree twice and relied on ReuseExchange to dedupe it — correct
    *    on a clean plan, but under memory pressure/eviction that
    *    degrades to double compute + spill. On a multi-executor cluster
    *    the same pin is a reliable `checkpoint(dir)` or the staged
    *    bucketed bands table ([[ensureBaseIndexStaged]]'s layout).
    *
    * 2. The [[bandStats]] pair-volume forecast is FED BACK: bucket sizes
    *    come free off the pinned frame (one map-side-combined count to
    *    O(buckets) rows), and any bucket larger than `hotRows` — the LSH
    *    failure mode, one boilerplate bkey emitting c² pairs into a
    *    single reducer — is salted [[HotBucketSalts]] ways before the
    *    join: the LEFT side replicates each hot row across all salts,
    *    the RIGHT side hashes each hot row to ONE salt, so every
    *    unordered pair still matches exactly once while the hot bucket's
    *    work spreads over G reducer keys. Cold buckets join on salt 0
    *    with zero replication, so the plan is bit-identical to the
    *    unsalted form when no bucket is hot. */
  private[operators] def candidatePairsFrom(
      bandsDf: DataFrame, hotRows: Int = HotBucketRows): DataFrame = {
    val b = graft.QueryDsl.pin(bandsDf)
    val g = HotBucketSalts
    val hot = b.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > hotRows)
      .select(col("band"), col("bkey"), lit(true).as("is_hot"))
    val flagged = b.join(broadcast(hot), Seq("band", "bkey"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
    val x = flagged.withColumn("salt",
      explode(when(col("is_hot"), sequence(lit(0), lit(g - 1)))
        .otherwise(array(lit(0)))))
    val y = flagged.withColumn("salt",
      when(col("is_hot"), pmod(xxhash64(col("doc_id")), lit(g.toLong)).cast("int"))
        .otherwise(lit(0)))
    x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.salt") === col("y.salt") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact dedup, content-normalized: documents with identical sorted word
    * multisets collapse to the min doc_id (hash-groupBy via window min —
    * one shuffle on the normalization key). */
  def exactDedup(s: SparkSession, d: String): DataFrame = {
    val normKey = md5(array_join(array_sort(words), " ").cast("binary"))
    val w = Window.partitionBy(col("norm_md5"))
    docs(s, d)
      .select(col("doc_id"), normKey.as("norm_md5"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .orderBy("doc_id")
  }

  /** MinHash signatures, exploded to (doc_id, perm, minhash).
    *
    * r22 shape: pin the COMPACT per-doc (doc_id, sig) frame, range-sort it
    * by doc_id, and posexplode AFTER the sort. The r20 shape sorted the
    * exploded rows, so the range sampler re-ran the whole shingle→MinHash
    * pass (the sort's child) a second time; the r21 attempt pinned the
    * EXPLODED frame and regressed (2.26 → 3.19 s — NumPerms× the rows
    * stored and re-read). Pinning one array row per doc stores the
    * minimum, the sampler reads materialized rows, and the explode — a
    * narrow, order-preserving Generate emitting perms 0..N−1 in array
    * order — reproduces exactly the old (doc_id, perm) total order, so
    * the rows AND their order are unchanged (hash gate proves it).
    * Spark only promises output order when the sort is the final
    * operator, so this rests on the current optimizer: if a Spark
    * upgrade breaks the hash gate, the fix is an explicit final
    * `orderBy("doc_id", "perm")`, not a pin of the exploded frame. */
  // slope pin: ~5 at 10x input, drifting toward 10 (shingles x perms is
  // linear in corpus bytes) — see SLOPES.md
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    graft.QueryDsl.pin(withSig(s, d).select(col("doc_id"), col("sig")))
      .orderBy("doc_id")
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("perm", "minhash")))

  /** Estimated Jaccard from two signatures: native agreement count (one
    * JVM loop per pair — [[graft.functions.SigAgreement]]; the interpreted
    * `aggregate(zip_with(…))` form paid lambda dispatch per element per
    * candidate) divided by numPerms — an exact integer through a single
    * IEEE divide, bit-identical cross-engine. */
  private def estJaccard(sa: Column, sb: Column): Column =
    graft.functions.SigAgreement(sa, sb).cast("double") / lit(NumPerms.toDouble)

  /** Near-duplicate pairs: LSH candidates scored by signature agreement
    * (estimated Jaccard), kept at est ≥ 0.5. */
  def neardupPairs(s: SparkSession, d: String): DataFrame = {
    // ONE MinHash pass per run: the pinned sig frame feeds both the band
    // self-join (banding off the pin is a cheap slice/concat) and the two
    // per-side signature joins — no subtree is left for ReuseExchange to
    // rescue under pressure.
    val sig = graft.QueryDsl.pin(withSig(s, d).select(col("doc_id"), col("sig")))
    val est = estJaccard(col("sa"), col("sb"))
    candidatePairsFrom(bandsFrom(sig))
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .select(col("a"), col("b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("a", "b")
  }

  /** Triangle enumeration over the near-dup graph — the graph-analytics
    * primitive dedup QA runs (a triangle = three mutually-confirmed
    * near-dups; triangle density distinguishes tight perturbation balls
    * from chain artifacts). Edges arrive id-oriented (a < b) so each
    * triangle (x < y < z) is produced exactly once by joining on the
    * middle vertex and closing with the third edge — two equi-joins,
    * never an all-pairs step. The near-dup graph's degree is bounded by
    * LSH bucket size, so id-orientation suffices; on a power-law graph
    * the same joins run DEGREE-oriented (low→high) to bound the
    * middle-vertex fan-out. */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val e = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    e.as("xy")
      .join(e.as("yz"), col("xy.b") === col("yz.a"))
      .join(e.as("xz"),
        col("xy.a") === col("xz.a") && col("yz.b") === col("xz.b"))
      .select(col("xy.a").as("x"), col("xy.b").as("y"), col("yz.b").as("z"))
      .orderBy("x", "y", "z")
  }

  /** Duplicate-cluster resolution: connected components over the
    * LSH-confirmed near-dup graph via iterative min-label propagation —
    * the standard large-graph CC pattern. Each round is one distributed
    * join + min-aggregation; rounds ≈ component DIAMETER (tiny for dup
    * clusters — near-dup components are dense perturbation balls, not
    * chains); the driver sees only a changed-row COUNT per round, never
    * data. A per-round pin truncates the growing lineage:
    * `localCheckpoint` by default, or a RELIABLE `checkpoint(dir)` via
    * [[dupClustersWith]]'s `reliableDir` for cluster runs that must
    * survive executor loss (CheckpointModeSpec proves both modes
    * bit-identical). Pair lists
    * under-remove transitive chains (a~b, b~c but no a~c candidate);
    * clusters are the principled keep-one-per-group resolution: cluster
    * id = min reachable doc_id, `is_rep` marks the kept document.
    *
    * For graphs with DEEP components (diameter ≫ log n — long chains,
    * web-graph tails), prefer [[dupClustersStar]]: the two-phase
    * large-star/small-star formulation converges in O(log²n) rounds
    * regardless of diameter, at the cost of two neighborhood
    * aggregations per round instead of one. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    dupClustersWith(s, d, reliableDir = None)

  /** Per-round lineage pin for the iterative operators. Default =
    * `localCheckpoint` (executor-local blocks: fastest, but an executor
    * loss mid-run kills the job — fine single-JVM). `reliableDir` switches
    * every pin to a RELIABLE `checkpoint` into that directory (HDFS/object
    * store on a cluster), which survives executor loss — the form a
    * long-running 100 TB CC job uses. Results are bit-identical either way
    * (CheckpointModeSpec asserts it); only failure-recovery differs. */
  private def pinner(
      s: SparkSession, reliableDir: Option[String]): DataFrame => DataFrame =
    reliableDir match {
      case Some(dir) =>
        s.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }

  private[operators] def dupClustersWith(
      s: SparkSession, d: String, reliableDir: Option[String]): DataFrame = {
    val pin = pinner(s, reliableDir)
    val pairs = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val edges = pin(pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst"))))
    var labels = pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      val updated = pin(labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("next"),
          col("label")))
      changed = updated.filter(col("next") =!= col("label")).count()
      labels = updated.select(col("id"), col("next").as("label"))
      rounds += 1
    }
    // non-converged labels would be silently WRONG, not approximate
    require(changed == 0, s"label propagation did not converge in $rounds rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"),
      (col("id") === col("label")).cast("int").as("is_rep"))
      .orderBy("doc_id")
  }

  // ---- Two-phase connected components (large-star / small-star): the
  // deep-component-safe alternative to label propagation. Both operations
  // rewire edges toward each neighborhood's minimum; alternating them
  // halves tree heights geometrically, so rounds grow with log² n, not
  // with component diameter. Edges stay oriented high→low throughout;
  // at the fixpoint the edge set is exactly the star (node, component
  // root) — published as the MapReduce CC algorithm of Kiveris et al.,
  // "Connected Components in MapReduce and Beyond" (SoCC '14). ----

  /** Large-star: for every node u, connect each STRICTLY LARGER neighbor
    * to min(N(u) ∪ {u}). One symmetric neighborhood expansion + one
    * min-aggregation + one equi-join — no data to the driver. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: for every node u, connect its smaller neighbors (and u
    * itself) to the minimum of the smaller neighborhood. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val directed = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val mins = directed.groupBy("u").agg(min(col("v")).as("m"))
    directed.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of an undirected pair list (`a`, `b`) via
    * alternating large-star/small-star to the edge-set fixpoint. Returns
    * (id, label) with label = component minimum; nodes = pair endpoints
    * (same domain as the label-propagation form). Convergence is an
    * edge-set equality check per round — two counts and one limit-1
    * difference, never edge data on the driver. */
  private[operators] def ccTwoPhase(
      pairs: DataFrame, maxRounds: Int = 16,
      pin: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    var edges = pin(pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = pin(smallStar(largeStar(edges)))
      converged = next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges = next
      rounds += 1
    }
    // a non-fixpoint edge set is structurally WRONG, not approximate
    require(converged, s"two-phase CC did not converge in $rounds rounds")
    val ids = pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id"))).distinct()
    val roots = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
      .withColumnRenamed("u", "id")
    ids.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** [[dupClusters]] resolved by the two-phase algorithm instead of label
    * propagation — identical output (same oracle proves both through the
    * hash gate); the form to reach for when components can be DEEP, where
    * label propagation's rounds ≈ diameter becomes the bottleneck. */
  def dupClustersStar(s: SparkSession, d: String): DataFrame =
    ccTwoPhase(stagedNeardupPairs(s, d).select(col("a"), col("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).cast("int").as("is_rep"))
      .orderBy("doc_id")

  // ---- Dup-cluster staging: build once per corpus, consume many times.
  // Cluster resolution (shingle→MinHash→LSH→CC) is the expensive part of
  // the dedup pipeline; every downstream consumer — canonical selection,
  // corpus filtering, reporting — wants the same (doc_id, cluster_id)
  // table. Same marker-file build-once pattern as Similarity's ANN index:
  // persisted parquet per sf dir, bit-exact round trip, so the staged
  // path is hash-identical to the inline pipeline (the d_dup_clusters
  // oracle proves the pipeline; DedupScaleSpec proves staged ≡ inline). ----

  private[operators] val clusterBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def clusterStageDir(sfDir: String): String =
    "/tmp/graft_stage/clusters_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Ensures the dup-cluster table for `d` is staged; returns its path.
    * Builds at most once per sf dir across queries and JVM runs. */
  def ensureClustersStaged(s: SparkSession, d: String): String = {
    val dir = clusterStageDir(d)
    val path = dir + "/clusters"
    // fingerprinted marker + atomic publish + cross-process lock
    // (graft.Staging): a regenerated documents fixture rebuilds the table
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      clusterBuildCount.incrementAndGet()
      dupClusters(s, d).write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  private[operators] def stagedDupClusters(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureClustersStaged(s, d))

  /** `d_split_leakage` — LEAKAGE-SAFE SPLIT ASSIGNMENT: train/val/test
    * is decided per DUP CLUSTER, not per document, so a document and
    * its near-duplicates can never straddle splits — the
    * decontamination-BY-CONSTRUCTION move (a random doc-keyed split
    * leaks near-identical text from train into the eval set; the eval
    * then measures memorization, not generalization —
    * SplitLeakageSpec demonstrates the doc-keyed trap on this very
    * corpus). Singletons key on their own id; members inherit the
    * cluster label from the STAGED cluster table (built once per
    * corpus); the 80/10/10 bucket is a salted md5 of the LABEL.
    *
    * Scale shape: one broadcast-or-shuffle equi-join of docs against
    * the O(dup-involved docs) cluster table; the split decision is a
    * narrow map. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val members = stagedDupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val label = coalesce(col("cluster_id"), col("doc_id"))
    val bucket = conv(substring(md5(
        concat(lit("gsplit_"), label.cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("bigint") % 100
    docs(s, d).select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), label.as("cluster_id"), bucket.as("bucket"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Canonical-document selection: for each duplicate cluster, KEEP the
    * highest-quality member (tie → lowest doc_id) instead of the naive
    * min-id representative — the resolution step an LLM corpus pipeline
    * actually wants (drop the truncated/boilerplate copies, keep the
    * best one). Cluster membership joins per-doc quality scores, then
    * the per-cluster argmax runs through the custom bounded-heap top-k
    * operator (k=1): O(clusters) memory, no per-cluster sort, immune to
    * one viral cluster dominating a partition. quality_score is exact
    * cross-engine (see [[TextAnalysis.quality]]), so ordering by it is
    * deterministic. Membership comes from the STAGED cluster table
    * (build-once/consume-many) — through round 5 this query re-ran the
    * whole shingle→LSH→CC pipeline per invocation (~75% of its cost). */
  def clusterCanonical(s: SparkSession, d: String): DataFrame = {
    val members = stagedDupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val sizes = members.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    val scored = members.join(
      TextAnalysis.quality(s, d).select(col("doc_id"), col("quality_score")), "doc_id")
    graft.plans.TopK.perKey(scored,
        keys = Seq(col("cluster_id")),
        order = Seq(col("quality_score").desc, col("doc_id").asc),
        k = 1)
      .join(sizes, "cluster_id")
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("quality_score").as("best_quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** `d_policy_e2e` — the COMPOSED DEDUP DECISION pass, the dedup
    * family's flagship next to `t_pipeline_e2e` (text), `m_pipeline_e2e`
    * (vision), and `v_rag_e2e` (serving): one lazy plan that turns the
    * staged dedup artifacts into the per-document KEEP / DROP / REVIEW
    * ledger a corpus release actually ships. Every signal reuses a
    * standalone operator's exact semantics:
    *
    *  1. MEMBERSHIP: cluster label from the STAGED cluster table
    *     (singletons label themselves — the `d_split_leakage` rule);
    *  2. CANONICAL: per-cluster best-quality member, tie → lowest id
    *     (the `d_cluster_canonical` argmax through the bounded-heap
    *     top-k operator, here over the FULL corpus incl. singletons);
    *  3. GRAPH EVIDENCE: per-doc dup-graph degree and a cross-source
    *     flag from the STAGED pair table (11th consumer) joined to each
    *     side's source — the `d_cross_source` syndication signal at doc
    *     grain;
    *  4. VERDICT (all integer/string logic, hash-exact): the canonical
    *     member of every cluster is KEPT (singletons trivially); a
    *     non-canonical copy with cross-source evidence is DROPPED (the
    *     mirror/scrape class nothing is lost by removing); a
    *     same-source-only near-dup goes to REVIEW (revision chains —
    *     the class a blanket drop would over-delete).
    *
    * Scale shape: the corpus is touched twice (doc list + the shared
    * quality scan); staged tables are ∝ duplicate volume; the canonical
    * argmax is the O(clusters)-memory bounded heap; degree/cross-source
    * aggregate the pair endpoints map-side. Nothing corpus-sized crosses
    * an unpartitioned window. */
  def policyE2e(s: SparkSession, d: String): DataFrame = {
    val src = docs(s, d).select(col("doc_id"), col("source"))
    val members = stagedDupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val lab = docs(s, d).select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val scored = lab.join(
      TextAnalysis.quality(s, d).select(col("doc_id"), col("quality_score")), "doc_id")
    val can = graft.plans.TopK.perKey(scored,
        keys = Seq(col("cluster_id")),
        order = Seq(col("quality_score").desc, col("doc_id").asc),
        k = 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    val sizes = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    val pairs = stagedNeardupPairs(s, d)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(col("a"), col("b"), (col("sa") =!= col("sb")).cast("int").as("x"))
    val ends = pairs.select(col("a").as("doc_id"), col("x"))
      .unionByName(pairs.select(col("b").as("doc_id"), col("x")))
    val evidence = ends.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("degree"), max(col("x")).as("cross_src"))
    lab.join(sizes, "cluster_id")
      .join(can, "cluster_id")
      .join(evidence, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("cross_src"), lit(0)).as("cross_src"),
        col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), "keep")
          .when(coalesce(col("cross_src"), lit(0)) === 1, "drop")
          .otherwise("review").as("verdict"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard verification over LSH candidates only. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = withSig(s, d).select(col("doc_id"), col("shingles"))
    val jac = (size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double"))
    candidatePairs(s, d)
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("shb")), "b")
      .select(col("a"), col("b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("a", "b")
  }

  /** 16-bit SimHash over distinct words: per-word hash = first 4 hex chars
    * of md5 (integer arithmetic only after that, so both engines agree).
    * Computed by the native [[graft.functions.SimHash16]] expression — the
    * declarative majority vote was 16 nested interpreted `aggregate` folds
    * per document (the round-5 slope-gate flag: 18.3× time at 10× rows);
    * the native row loop md5s each word once and accumulates all 16
    * bit-counts together. Explicit repartition for the same byte-small/
    * compute-dense single-split trap as [[withSig]]. */
  def simhash(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SimHash16(array_distinct(words)).as("simhash"))
      .orderBy("doc_id")

  /** Embedding near-dup: cosine ≥ 0.4 pairs WITHIN label partitions (the
    * label column is a precomputed coarse quantizer — IVF-style blocking;
    * no global cross join). Cosine = sequential-fold dot over doubles,
    * identical in both engines. */
  def embedNeardup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    // Repartition the probe side by vec_id: the embeddings file is byte-
    // small (one scan split) but the pairwise-cosine stage is compute-
    // dense; with the build side broadcast, task parallelism equals probe-
    // side partitions.
    val a = e.select(col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
      .repartition(s.sparkContext.defaultParallelism, col("a"))
    val b = e.select(col("label").as("lb"), col("vec_id").as("b"), col("embedding").as("eb"))
    a.join(b, col("label") === col("lb") && col("a") < col("b"))
      .select(col("label"), col("a"), col("b"),
        graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy("label", "a", "b")
  }

  /** SemDeDup (the embedding-space twin of LSH near-dup): assign every
    * vector to its nearest CLUSTER CENTROID, then flag as duplicate any
    * vector whose cosine to a lower-id member of the SAME cluster meets
    * the threshold. The cluster assignment is the scale mechanism — the
    * pairwise cosine step runs only WITHIN clusters, so the all-pairs
    * O(n²) the method exists to avoid never appears; cluster count is the
    * recall/cost dial (here the staged IVF coarse quantizer's k; a 100 TB
    * corpus raises k so n/k stays bounded). Centroids come from the
    * STAGED index (build-once/consume-many, [[Similarity.ensureAnnStaged]])
    * — this query never re-aggregates the corpus.
    *
    * Determinism: centroids are exact-rational doubles, assignment cosines
    * are sequential folds (identical in DuckDB), ties break to the lowest
    * centroid label; the within-cluster cosine is the codegen'd native
    * float path with the same sequential-fold contract. Output: every
    * vector with its cluster and dup flag. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val cents = Similarity.stagedCentroids(s, d) // (c_label, centroid)
    // byte-small, compute-dense: repartition for task parallelism (the
    // embedNeardup trick), broadcast the k centroids
    val scored = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("c_label"),
        Similarity.cosine(col("embedding"), col("centroid")).as("c_cos"))
    // nearest centroid via the bounded-heap per-key top-1: no per-vector sort
    val assigned = graft.plans.TopK.perKey(scored,
        keys = Seq(col("vec_id")),
        order = Seq(col("c_cos").desc, col("c_label").asc),
        k = 1)
      .select(col("vec_id"), col("embedding"), col("c_label").as("cluster_id"))
    val x = assigned.select(col("cluster_id").as("cl"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val y = assigned.select(col("cluster_id").as("cl2"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    val dups = x.join(y, col("cl") === col("cl2") && col("a") < col("b"))
      .filter(graft.functions.GraftFunctions.cosine_sim(col("ea"), col("eb")) >= SemTau)
      .select(col("b").as("dup_id")).distinct()
    assigned
      .join(dups, col("vec_id") === col("dup_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("dup_id").isNotNull.cast("int").as("is_dup"))
      .orderBy("vec_id")
  }

  private val SemTau = 0.4

  // ---- Exact duplicated-SPAN detection: the fixed-n distributed form
  // of exact-substring training-data dedup (whole-doc dedup misses the
  // boilerplate paragraph pasted into thousands of otherwise-unique
  // pages; span-level detection finds it). Every word-8-gram is exploded
  // WITH its position, grams appearing in ≥2 distinct docs are the
  // duplicated spans, and each doc reports how much of it is covered by
  // cross-document duplication — the per-doc signal a filter thresholds
  // on. Two shuffles, both O(total grams): the per-gram distinct-doc
  // count (map-side combined) and the flag-join back; never pairwise,
  // never a suffix array on one machine. ----

  private val SpanN = 8

  /** The one-shot pipeline [[spanDedup]] stages: explode every gram once,
    * count per (gram, doc), flag grams in ≥2 docs, aggregate per doc.
    * Kept as the spec's reference implementation (DedupScaleSpec asserts
    * staged ≡ inline bit-exactly); the public query path reads the
    * staged postings instead of re-running this per call. */
  private[operators] def spanDedupInline(s: SparkSession, d: String): DataFrame = {
    val gramsCol = transform(
      sequence(lit(0), size(words) - SpanN),
      i => array_join(slice(words, i + lit(1), lit(SpanN)), " "))
    val g = docs(s, d)
      .filter(size(words) >= SpanN)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(gramsCol).as(Seq("pos", "gram")))
    val dupGrams = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram")).withColumn("dup", lit(1L))
    g.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---- Dup-gram postings staging: the exact-substring analog of the
  // trigram substring index. The gram explode + gram-keyed shuffle is
  // the whole cost of span-level dedup (every word-8-gram as a built
  // string, shuffled by gram) and is a pure function of the corpus —
  // build it ONCE per corpus fingerprint and stage only the POSTINGS OF
  // DUPLICATED GRAMS, (doc_id, gram, n), bounded by cross-document dup
  // volume (≪ total grams; unique grams never leave the build). Query
  // time then needs no explode at all: per-doc span totals are
  // closed-form (len(words) − n + 1), dup coverage is one bounded
  // aggregate over the staged postings. ----

  private[operators] val dupGramBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def dupGramStageDir(sfDir: String): String =
    "/tmp/graft_stage/dupgrams_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  def ensureDupGramsStaged(s: SparkSession, d: String): String = {
    val dir = dupGramStageDir(d)
    val path = dir + "/postings"
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      dupGramBuildCount.incrementAndGet()
      val gramsCol = transform(
        sequence(lit(0), size(words) - SpanN),
        i => array_join(slice(words, i + lit(1), lit(SpanN)), " "))
      val g = docs(s, d)
        .filter(size(words) >= SpanN)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(gramsCol).as("gram"))
      // rows of perDocGram are distinct (gram, doc) pairs, so the dup
      // test is a plain COUNT — no second countDistinct pass
      val perDocGram = g.groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
      val nd = perDocGram.groupBy(col("gram"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gram"))
      perDocGram.join(nd, Seq("gram"))
        .select(col("doc_id"), col("gram"), col("n"))
        .write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  /** Exact duplicated-SPAN detection over the staged dup-gram postings:
    * per doc, how many of its word-8-gram spans also appear in some
    * other document (the boilerplate-coverage signal a training-data
    * filter thresholds on). `n_spans` is closed-form from the word count
    * — no explode in the query plan; `n_dup_spans` is one sum over the
    * staged postings, bounded by dup volume. Identical output to
    * [[spanDedupInline]] (spec-asserted); the gram index builds once per
    * corpus via [[ensureDupGramsStaged]]. */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val postings = s.read.parquet(ensureDupGramsStaged(s, d))
    val dups = postings.groupBy(col("doc_id")).agg(sum(col("n")).as("dup_n"))
    docs(s, d)
      .filter(size(words) >= SpanN)
      .select(col("doc_id"),
        (size(words) - (SpanN - 1)).cast("long").as("n_spans"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup_n"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("dup_n"), lit(0L)).cast("double")
          / col("n_spans").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---- Near-dup pair staging: build once per corpus, consume many
  // times. The verified pair set (shingle→MinHash→LSH→Jaccard-est) is
  // the input to clustering, PageRank, and source-level dup rates —
  // every consumer was re-running the full pipeline per query. Parquet
  // round-trips the (a, b, est_jaccard) rows bit-exactly, so staged ≡
  // inline for every downstream hash gate; `d_neardup_pairs` itself
  // stays INLINE so the generating pipeline keeps an honest benchmark
  // entry. ----

  private[operators] val pairsBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def pairsStageDir(sfDir: String): String =
    "/tmp/graft_stage/ndpairs_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  def ensurePairsStaged(s: SparkSession, d: String): String = {
    val dir = pairsStageDir(d)
    val path = dir + "/pairs"
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      pairsBuildCount.incrementAndGet()
      neardupPairs(s, d).write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  private[operators] def stagedNeardupPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensurePairsStaged(s, d))

  /** Cross-source SYNDICATION matrix: the verified near-dup pair table
    * joined to each side's source and aggregated to unordered source
    * pairs — which sources share content (mirrors, scrapes, syndication
    * feeds), the evidence a source-level dedup policy ranks on. The fixture
    * has no EXACT cross-source duplicates (checked — whole-doc md5 groups
    * are all singletons), so this rides the near-dup pairs, which is also
    * the honest production form: syndicated copies differ in boilerplate.
    *
    * Scale shape: consumes the STAGED pair table (build-once/consume-many,
    * its 7th consumer), so no LSH recompute; two equi-joins whose probe
    * side is the pair table (∝ duplicate volume, not the corpus) against
    * the narrow (doc_id, source) projection; output is at most
    * O(sources²) rows. */
  def crossSource(s: SparkSession, d: String): DataFrame = {
    val src = docs(s, d).select(col("doc_id"), col("source"))
    stagedNeardupPairs(s, d)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross_source", (col("src_lo") =!= col("src_hi")).cast("int"))
      .orderBy("src_lo", "src_hi")
  }

  // ---- Incremental dedup: the delta-ingest shape. A growing corpus
  // never re-pairs its accumulated base against itself — each ingest
  // batch joins its OWN band keys against the base's band keys (plus
  // delta-vs-delta with a lower-id witness), so per-ingest cost is
  // O(delta × bucket overlap), independent of corpus history. Base docs
  // are never flagged and base-vs-base candidates never exist in the
  // plan. The BASE INDEX (signatures + band keys) is STAGED via the
  // Staging protocol: built once per corpus, the bands half written as a
  // BUCKETED table on (band, bkey) — the probe-join key, the
  // Similarity.ensureAnnStaged layout — so every ingest probes a narrow
  // parquet index and recomputes NO base signature (IncrementalDedupSpec
  // asserts the ingest plan holds no minhash_signature at all). The delta
  // here is a deterministic slice of the fixture (doc_id % 10 = 7)
  // standing in for an arriving batch. ----

  private val DeltaMod = 10L
  private val DeltaRem = 7L
  private val isDeltaDoc: Column = pmod(col("doc_id"), lit(DeltaMod)) === lit(DeltaRem)

  private[operators] val baseIndexBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val BaseBandBuckets = 16

  def baseIndexStageDir(sfDir: String): String =
    "/tmp/graft_stage/dedupbase_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private[operators] def baseBandsTable(sfDir: String): String =
    ("graft_dedup_base_bands_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Ensures the base-corpus dedup index is staged; returns
    * (sigsPath, bandsPath). One signature pass over the base (pinned)
    * feeds both halves: a plain parquet (doc_id, sig) table for scoring
    * and a (band, bkey)-bucketed band-key table for probing, so repeated
    * ingest joins start co-located and a bucket filter prunes band files
    * before the scan. Bucket metadata is in-session; a fresh JVM over a
    * prior JVM's staging re-registers the external table with one DDL
    * (bucket ids live in the file names — nothing is rewritten). */
  def ensureBaseIndexStaged(s: SparkSession, d: String): (String, String) = {
    val dir = baseIndexStageDir(d)
    val sigsPath = dir + "/sigs"
    val bandsPath = dir + "/bands"
    val table = baseBandsTable(d)
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      baseIndexBuildCount.incrementAndGet()
      val baseSig = graft.QueryDsl.pin(
        sigOf(s, docs(s, d).filter(!isDeltaDoc)).select(col("doc_id"), col("sig")))
      baseSig.write.mode("overwrite").parquet(sigsPath)
      // bucketed external table: DROP forgets metadata only, so clear any
      // half-built files by hand first (the ensureAnnStaged pattern)
      s.sql(s"DROP TABLE IF EXISTS $table")
      deleteRecursively(new java.io.File(bandsPath))
      bandsFrom(baseSig).write
        .bucketBy(BaseBandBuckets, "band", "bkey").sortBy("band", "bkey")
        .option("path", bandsPath)
        .saveAsTable(table)
    }: Unit
    if (!s.catalog.tableExists(table)) synchronized {
      if (!s.catalog.tableExists(table)) {
        s.sql(
          s"""CREATE TABLE $table (doc_id BIGINT, band INT, bkey STRING)
             |USING PARQUET
             |CLUSTERED BY (band, bkey) SORTED BY (band, bkey) INTO $BaseBandBuckets BUCKETS
             |LOCATION '$bandsPath'""".stripMargin)
      }
    }
    (sigsPath, bandsPath)
  }

  private[operators] def stagedBaseSigs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureBaseIndexStaged(s, d)._1)

  private[operators] def stagedBaseBands(s: SparkSession, d: String): DataFrame = {
    ensureBaseIndexStaged(s, d)
    s.table(baseBandsTable(d))
  }

  /** `d_incremental_dedup` — dup flags for the DELTA docs only: a delta
    * doc is a duplicate if any BASE doc, or any LOWER-ID delta doc,
    * shares an LSH bucket and agrees on ≥ half the MinHash signature.
    * Per-ingest work: one signature pass over the DELTA slice (computed
    * once and pinned — it feeds the delta bands and both score sides;
    * unpinned, each consumer would re-execute the compute-dense MinHash
    * map), two bucket equi-joins against the staged base index, and a
    * candidates-only scoring join. Nothing in this plan touches a base
    * document's text. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val deltaSig = graft.QueryDsl.pin(
      sigOf(s, docs(s, d).filter(isDeltaDoc)).select(col("doc_id"), col("sig")))
    val deltaBands = bandsFrom(deltaSig)
    def cand(other: DataFrame, extra: Column): DataFrame =
      deltaBands.as("x").join(other.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") && extra)
        .select(col("x.doc_id").as("b"), col("y.doc_id").as("a"))
    val candidates = cand(stagedBaseBands(s, d), lit(true))
      .union(cand(deltaBands, col("y.doc_id") < col("x.doc_id")))
      .distinct()
    // the a side is a base id or a lower delta id: staged base signatures
    // unioned with the pinned delta slice — never a corpus-wide recompute
    val aSigs = stagedBaseSigs(s, d).unionByName(deltaSig)
    val dups = candidates
      .join(aSigs.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(deltaSig.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .filter(estJaccard(col("sa"), col("sb")) >= 0.5)
      .select(col("b").as("dup_id")).distinct()
    docs(s, d).filter(isDeltaDoc)
      .join(dups, col("doc_id") === col("dup_id"), "left")
      .select(col("doc_id"), col("dup_id").isNotNull.cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** The one-plan inline formulation — kept as the executable spec of
    * [[incrementalDedup]]'s semantics (IncrementalDedupSpec asserts staged
    * ≡ inline row-for-row); NOT the production shape: it recomputes the
    * full-corpus signature subtree per consumer. */
  private[operators] def incrementalDedupInline(s: SparkSession, d: String): DataFrame = {
    val all = withSig(s, d)
    val deltaBands = bandsFrom(all.filter(isDeltaDoc))
    val baseBands = bandsFrom(all.filter(!isDeltaDoc))
    def cand(other: DataFrame, extra: Column): DataFrame =
      deltaBands.as("x").join(other.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") && extra)
        .select(col("x.doc_id").as("b"), col("y.doc_id").as("a"))
    val candidates = cand(baseBands, lit(true))
      .union(cand(deltaBands, col("y.doc_id") < col("x.doc_id")))
      .distinct()
    val sig = all.select(col("doc_id"), col("sig"))
    val dups = candidates
      .join(sig.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sig.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .filter(estJaccard(col("sa"), col("sb")) >= 0.5)
      .select(col("b").as("dup_id")).distinct()
    docs(s, d).filter(isDeltaDoc)
      .join(dups, col("doc_id") === col("dup_id"), "left")
      .select(col("doc_id"), col("dup_id").isNotNull.cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  /** Integer-mass PageRank over the verified near-dup graph — the
    * importance signal dedup QA ranks clusters by (which documents sit at
    * the center of a duplication neighborhood). Three fixed iterations of
    * mass propagation with damping 85/100 done ENTIRELY in integer
    * arithmetic — `(mass × 85) div (100 × degree)` per edge, longs
    * everywhere — so the trajectory is bit-identical cross-engine (libm-
    * free, the engine's standard float discipline; flooring leaks mass,
    * which is fine for a RANKING signal and is the price of exactness).
    *
    * Scale shape: per iteration one equi-join of the edge list against
    * current masses plus a map-side-combining sum — the textbook
    * distributed PageRank step, never any all-pairs or driver-side state.
    * The pair set comes STAGED ([[ensurePairsStaged]] — the invariant
    * edge input every Pregel-style system pins), so iterations re-scan a
    * narrow parquet table instead of re-running the LSH pipeline. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val nd = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val edges = nd.union(nd.select(col("b"), col("a")))
      .toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = docs(s, d).select(col("doc_id"))
    var mass = nodes.select(col("doc_id"), lit(1000000L).as("mass"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(mass.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), expr("(mass * 85L) div (100L * deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      mass = nodes
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(150000L) + coalesce(col("in_mass"), lit(0L))).as("mass"))
    }
    mass.orderBy("doc_id")
  }

  private val KCoreK = 2
  private val KCoreRounds = 3

  /** `d_kcore` — K-CORE DECOMPOSITION on the near-dup graph, the fourth
    * graph-analytics class next to connected components (cluster
    * membership), PageRank (centrality), and triangles (local density):
    * iterative PEELING — remove every node of degree < k, recompute
    * degrees among survivors, repeat — classifies each node by HOW DEEP
    * it sits in the duplication structure (a 2-core member is part of a
    * dense mutual-duplication web; a round-1 peel is a leaf that merely
    * brushed one near-dup). Dedup policies use exactly this split:
    * peel-depth ranks which docs are safe to drop wholesale vs review.
    * Bounded [[KCoreRounds]] rounds (the `d_pagerank` discipline —
    * DedupScaleSpec pins that the peel has CONVERGED by round 3 on this
    * graph: a further round removes nobody), so the oracle unrolls every
    * round as CTEs and the whole row set hash-checks.
    *
    * Scale shape: consumes the STAGED pair table (8th consumer — no LSH
    * recompute); each round is one equi-join of surviving edges against
    * the surviving node set plus a map-side-combined degree count, cost
    * ∝ surviving duplicate-graph edges (≪ corpus), shrinking
    * monotonically; rounds are a fixed constant, not data-dependent. */
  def kCore(s: SparkSession, d: String): DataFrame = {
    val nd = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    // materialize the invariant edge list once (the d_pagerank
    // discipline): every peel round joins against it twice, and without
    // the pin each round would replay the staged-pairs scan through a
    // lineage that deepens by two joins per round
    val edges = nd.union(nd.select(col("b"), col("a")))
      .toDF("src", "dst").localCheckpoint()
    def degreesAmong(active: DataFrame): DataFrame = {
      val surviving = edges
        .join(active.withColumnRenamed("doc_id", "src"), "src")
        .join(active.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy("src").agg(count(lit(1)).as("cnt"))
      active.join(surviving.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cnt"), lit(0L)).as("deg"))
    }
    var active = edges.select(col("src").as("doc_id")).distinct()
    var removed: DataFrame = null
    for (r <- 1 to KCoreRounds) {
      // pin each round's degree table: both the removed and surviving
      // halves read it, and the next round builds on the survivor half
      val deg = degreesAmong(active).localCheckpoint()
      val out = deg.filter(col("deg") < KCoreK)
        .select(col("doc_id"), lit(r).as("removed_round"))
      removed = if (removed == null) out else removed.union(out)
      active = deg.filter(col("deg") >= KCoreK).select("doc_id")
    }
    val core = degreesAmong(active)
      .select(col("doc_id"), lit(0).as("removed_round"),
        lit(1).as("in_core"), col("deg").as("core_deg"))
    core.union(removed.select(col("doc_id"), col("removed_round"),
        lit(0).as("in_core"), lit(0L).as("core_deg")))
      .orderBy("doc_id")
  }

  private val LpaRounds = 4

  /** `d_communities` — COMMUNITY DETECTION on the near-dup graph
    * (deterministic synchronous label propagation), the 5th graph
    * class: connected components answer "which docs are transitively
    * linked", communities answer "which docs form one MIRROR FARM" —
    * the policy unit for "drop the whole neighborhood" decisions, one
    * level above [[kCore]]'s depth ranking. Classic LPA is
    * run-to-run nondeterministic (random update order, random tie
    * breaks); this formulation is bit-deterministic: all nodes update
    * SIMULTANEOUSLY each round, every node votes its own label plus
    * each neighbor's (self-inclusion damps the bipartite oscillation
    * sync LPA is prone to), and the winner is the most frequent label
    * with INTEGER tie-breaking (smallest label id). [[LpaRounds]]
    * fixed rounds, the `d_pagerank` unrolled-oracle discipline —
    * SemDedupPageRankSpec pins that round [[LpaRounds]]+1 changes no
    * label on this graph (converged), so the bound is an observed
    * fixpoint, not a truncation.
    *
    * Scale shape: consumes the STAGED pair table; each round is one
    * edge×label equi-join plus two map-side-combined aggregations —
    * cost ∝ duplicate-graph edges (≪ corpus), constant round count. */
  def communities(s: SparkSession, d: String): DataFrame = {
    val nd = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val edges = nd.union(nd.select(col("b"), col("a")))
      .toDF("src", "dst").localCheckpoint()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to LpaRounds) {
      val neigh = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl")), "dst")
        .select(col("src").as("doc_id"), col("lbl"))
      // pin each round's labels: the next round's join and the vote
      // union both read them, and lineage would deepen by two joins
      // per round otherwise (the kCore discipline)
      labels = neigh.union(labels)
        .groupBy(col("doc_id"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("doc_id"), (-col("m").getField("nl")).as("lbl"))
        .localCheckpoint()
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("community"), col("n_members"))
      .orderBy("doc_id")
  }

  /** One extra propagation round from an arbitrary label table — the
    * spec's convergence probe (round LpaRounds+1 must be a fixpoint). */
  private[operators] def lpaRoundOnce(s: SparkSession, d: String,
      labels: DataFrame): DataFrame = {
    val nd = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val edges = nd.union(nd.select(col("b"), col("a"))).toDF("src", "dst")
    edges.join(labels.select(col("doc_id").as("dst"), col("lbl")), "dst")
      .select(col("src").as("doc_id"), col("lbl"))
      .union(labels)
      .groupBy(col("doc_id"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
      .select(col("doc_id"), (-col("m").getField("nl")).as("lbl"))
  }

  // ---- EXACT set-similarity self-join via PREFIX FILTERING (the
  // AllPairs/PPJoin family): the third dedup algorithm class next to
  // MinHash-LSH (approximate, probabilistic) and SimHash (approximate,
  // bitwise) — EXACT Jaccard ≥ t over word-5-gram shingle sets with no
  // false positives or negatives, yet never all-pairs. The filter's
  // theorem: order every set by one global token order (document
  // frequency ascending, rarest first — ties on the token text) and take
  // each set's first |x| − ⌈t·|x|⌉ + 1 tokens; any pair with Jaccard ≥ t
  // MUST share a prefix token. Candidates are pairs sharing ≥1 prefix
  // token (an equi-join on the rarest tokens, so the blocking key is
  // maximally selective by construction), cheap length filter
  // t·|x| ≤ |y| ≤ |x|/t at the join, exact intersection verify only on
  // survivors. All thresholds exact rationals (t = 4/5): prefix length
  // and the Jaccard gate are integer arithmetic, bit-identical in any
  // engine. Scale shape: two O(total-shingles) shuffles (df count,
  // per-doc re-assembly) + an equi-join whose key is a rare token —
  // never a cartesian; skewed common-token blocks are impossible because
  // prefixes hold the RAREST tokens. ----

  private val SetSimN = 5
  /** Jaccard threshold 4/5 as an exact rational (num, den). */
  private val SetSimT = (4, 5)

  private val shingles5: Column =
    when(size(words) >= SetSimN,
      array_distinct(transform(
        sequence(lit(0), size(words) - SetSimN),
        i => array_join(slice(words, i + lit(1), lit(SetSimN)), " "))))
      .otherwise(array().cast("array<string>"))

  // ---- STAGED global (df, token)-ranked shingle table: both exact
  // set-similarity operators (symmetric AllPairs join, directional
  // containment join) consume the SAME corpus-wide artifact — per-doc
  // shingle arrays sorted by the global (df asc, sh asc) order plus the
  // set size. Building it inline per query repeats two O(total-shingles)
  // shuffles (df count + per-doc re-assembly) per consumer; under the
  // Staging protocol it is built once per corpus fingerprint (like the
  // LSH pair table) and every consumer reads parquet. The postings side
  // containment needs is recovered by exploding `toks` — exactly the
  // distinct per-doc shingle stream, no separate artifact. ----

  private[operators] val rankedBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def rankedStageDir(sfDir: String): String =
    "/tmp/graft_stage/ranked5_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  def ensureRankedStaged(s: SparkSession, d: String): String = {
    val dir = rankedStageDir(d)
    val path = dir + "/ranked"
    graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      rankedBuildCount.incrementAndGet()
      rankedShinglesOver(docs(s, d)).write.mode("overwrite").parquet(path)
    }: Unit
    path
  }

  private[operators] def stagedRankedShingles(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureRankedStaged(s, d))

  /** The (df, token)-ranked shingle table over an arbitrary
    * (doc_id, text) frame: per doc, its distinct word-5-gram shingles
    * sorted by the canonical global (df asc, sh asc) order, plus the set
    * size — the single input both prefix-filter joins derive from. */
  private[operators] def rankedShinglesOver(docFrame: DataFrame): DataFrame = {
    val tok = docFrame.select(col("doc_id"), explode(shingles5).as("sh"))
    val dfreq = tok.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // canonical global order: (df asc, sh asc) — array_sort on the struct
    tok.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), t => t.getField("sh")).as("toks"),
        size(col("ts")).cast("long").as("n"))
  }

  def setSimJoin(s: SparkSession, d: String): DataFrame =
    setSimJoinFromRanked(stagedRankedShingles(s, d))

  private[operators] def setSimJoinFromRanked(ranked: DataFrame): DataFrame = {
    val (tn, td) = SetSimT
    // prefix length |x| − ⌈t|x|⌉ + 1; ⌈tn·n/td⌉ = (tn·n + td − 1) div td
    val prefLen = (col("n") - expr(s"(($tn * n + ${td - 1}) div $td)") + 1).cast("int")
    val pref = ranked.select(col("doc_id"), col("n"),
      explode(slice(col("toks"), lit(1), prefLen)).as("p"))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.p") === col("y.p") && col("x.doc_id") < col("y.doc_id") &&
          // |y| ≥ t|x| and |x| ≥ t|y|, cross-multiplied exact
          col("x.n") * tn <= col("y.n") * td && col("y.n") * tn <= col("x.n") * td)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val arrs = ranked.select(col("doc_id"), col("toks"), col("n"))
    cand
      .join(arrs.select(col("doc_id").as("a"), col("toks").as("ta"), col("n").as("n_a")), "a")
      .join(arrs.select(col("doc_id").as("b"), col("toks").as("tb"), col("n").as("n_b")), "b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      // J ≥ tn/td ⟺ td·inter ≥ tn·(n_a + n_b − inter) ⟺ (td+tn)·inter ≥ tn·(n_a+n_b)
      .filter(col("inter") * (td + tn) >= (col("n_a") + col("n_b")) * tn)
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("inter"))
      .orderBy("a", "b")
  }

  private val ContT = (9, 10) // directional containment threshold, exact ratio

  /** `d_containment_join` — directional near-SUPERSET detection
    * (containment(src→dst) = |S_src ∩ S_dst| / |S_src|), the dedup class
    * symmetric Jaccard structurally misses: a short document quoted
    * whole inside a long one has Jaccard ≈ |short|/|long| (arbitrarily
    * small) but containment ≈ 1 — exactly the quote/inclusion/rewrite-
    * with-additions relationship a training-data pipeline must catch
    * (the long doc re-teaches the short one verbatim).
    *
    * COMPLETE candidate generation by the directional prefix filter: if
    * cont(src→dst) ≥ t, then fewer than |src| − ⌈t·|src|⌉ + 1 of src's
    * tokens can fall outside S_dst, so src's first
    * |src| − ⌈t·|src|⌉ + 1 tokens in the fixed global (df, token) order
    * must intersect dst's FULL token stream — prefix(src) ⋈ postings is
    * provably a superset of the answer (ContainmentSpec checks ≡ brute
    * force). One side stays O(corpus·prefix-fraction), the other is the
    * token postings; survivors verify with one exact intersection, and
    * the threshold is an integer cross-multiplication — no float gate.
    * At scale the postings side would carry (doc size, df) so the
    * |dst| ≥ ⌈t·|src|⌉ size filter prunes inside the join; the fixture's
    * verify absorbs it.
    *
    * Consumes the STAGED (df, token)-ranked shingle table shared with
    * [[setSimJoin]] — the postings side is recovered by exploding the
    * ranked arrays (they hold exactly the distinct per-doc shingles). */
  def containmentJoin(s: SparkSession, d: String): DataFrame =
    containmentJoinFromRanked(stagedRankedShingles(s, d))

  /** The containment pipeline over an arbitrary (doc_id, text) frame —
    * lets the spec drive the short-doc-inside-long-doc case the fixture's
    * similar-length near-dups don't contain. */
  private[operators] def containmentJoinOver(docFrame: DataFrame): DataFrame =
    containmentJoinFromRanked(rankedShinglesOver(docFrame))

  private[operators] def containmentJoinFromRanked(ranked: DataFrame): DataFrame = {
    val (tn, td) = ContT
    val tok = ranked.select(col("doc_id"), explode(col("toks")).as("sh"))
    val prefLen = (col("n") - expr(s"(($tn * n + ${td - 1}) div $td)") + 1).cast("int")
    val pref = ranked.select(col("doc_id"),
      explode(slice(col("toks"), lit(1), prefLen)).as("p"))
    val cand = pref.as("x").join(tok.as("y"),
        col("x.p") === col("y.sh") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
      .distinct()
    val arrs = ranked.select(col("doc_id"), col("toks"), col("n"))
    cand
      .join(arrs.select(col("doc_id").as("src"), col("toks").as("tsrc"),
        col("n").as("n_src")), "src")
      .join(arrs.select(col("doc_id").as("dst"), col("toks").as("tdst"),
        col("n").as("n_dst")), "dst")
      .withColumn("inter", size(array_intersect(col("tsrc"), col("tdst"))).cast("long"))
      // cont(src→dst) ≥ tn/td ⟺ td·inter ≥ tn·|src| — exact integers
      .filter(col("inter") * td >= col("n_src") * tn)
      .select(col("src"), col("dst"), col("n_src"), col("n_dst"), col("inter"))
      .orderBy("src", "dst")
  }

  /** CALIBRATION of the MinHash estimate against EXACT Jaccard — the
    * measurement that justifies (or retunes) the est ≥ 0.5 gate every
    * LSH consumer trusts: for each STAGED near-dup pair (8th consumer,
    * no LSH recompute), the exact 3-gram-set Jaccard and the estimate's
    * signed error. Scale shape: the corpus shingle stream is first
    * semi-joined down to the pair-member docs (broadcast of the bounded
    * dup-doc id set), so the exact intersection — the expensive part —
    * touches O(dup-volume) shingle rows, never the corpus; then two
    * equi-joins and one count per pair. All error arithmetic is single
    * IEEE ops over exact integers. */
  def jaccardCalibration(s: SparkSession, d: String): DataFrame = {
    val pairs = stagedNeardupPairs(s, d)
    val dupDocs = pairs.select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val tok = docs(s, d)
      .join(broadcast(dupDocs), "doc_id")
      .select(col("doc_id"), explode(shingles).as("sh"))
    val sz = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs.select(col("a"), col("b"))
      .join(tok.select(col("doc_id").as("a"), col("sh")), "a")
      .join(tok.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      // left joins: a staged pair member with zero shingles (structurally
      // impossible — LSH membership needs a signature — but unguarded
      // otherwise) must not silently drop its pair from the calibration
      .join(sz.select(col("doc_id").as("a"), col("n").as("n_a")), Seq("a"), "left")
      .join(sz.select(col("doc_id").as("b"), col("n").as("n_b")), Seq("b"), "left")
      .select(col("a"), col("b"), col("est_jaccard"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .withColumn("exact_jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .withColumn("est_error", col("est_jaccard") - col("exact_jaccard"))
      .orderBy("a", "b")
  }

  /** `d_rouge_pairs` — ROUGE-2 precision / recall / F1 over the staged
    * near-dup pairs (10th consumer), the n-gram-overlap EVAL METRIC
    * family (summarization/generation scoring) run as a corpus
    * measurement: how much of each pair's overlap is contiguous-bigram
    * overlap, with the lower-id doc as candidate and the higher as
    * reference. CLIPPED counts (Σ min(c_cand, c_ref) per bigram — the
    * published ROUGE definition, not distinct intersection) and the
    * exact identity F1 = 2·ov/(n_c + n_r) make every metric one integer
    * division in milli units — the whole row hash-checks.
    *
    * Scale shape: the corpus bigram stream is semi-joined down to
    * dup-member docs FIRST (the `d_jaccard_calibration` discipline), so
    * counting touches O(dup volume); the clipped-overlap join keys on
    * (doc, bigram) against the pair table — ∝ duplicate volume, never
    * the corpus. */
  def rougePairs(s: SparkSession, d: String): DataFrame = {
    val bigrams = when(size(words) >= 2, transform(
        sequence(lit(0), size(words) - 2),
        i => array_join(slice(words, i + lit(1), lit(2)), " ")))
      .otherwise(array().cast("array<string>"))
    val pairs = stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val dupDocs = pairs.select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val bg = docs(s, d)
      .join(broadcast(dupDocs), "doc_id")
      .select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val sz = bg.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val ov = pairs
      .join(bg.select(col("doc_id").as("a"), col("g"), col("c").as("ca")), "a")
      .join(bg.select(col("doc_id").as("b"), col("g"), col("c").as("cb")), Seq("b", "g"))
      .groupBy(col("a"), col("b")).agg(sum(least(col("ca"), col("cb"))).as("ov"))
    pairs
      .join(ov, Seq("a", "b"), "left")
      .join(sz.select(col("doc_id").as("a"), col("n").as("n_cand")), Seq("a"), "left")
      .join(sz.select(col("doc_id").as("b"), col("n").as("n_ref")), Seq("b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("ov"), lit(0L)).as("ov"))
      .withColumn("p_milli",
        when(col("n_cand") > 0, expr("ov * 1000L div n_cand")).otherwise(lit(0L)))
      .withColumn("r_milli",
        when(col("n_ref") > 0, expr("ov * 1000L div n_ref")).otherwise(lit(0L)))
      .withColumn("f1_milli",
        when(col("n_cand") + col("n_ref") > 0,
          expr("ov * 2000L div (n_cand + n_ref)")).otherwise(lit(0L)))
      .orderBy("a", "b")
  }

  /** LSH TUNING HARNESS — the evidence behind the (bands, rows) choice:
    * for every split of the 16-perm signature (1×16 … 16×1), the
    * MEASURED candidate-pair count on this corpus next to the EXACT
    * collision probability at the J=0.5 gate. With r·b = 16 the curve
    * `1 − (1 − J^r)^b` at J = 1/2 is the dyadic rational
    * `1 − (2^r−1)^b / 2^16` — integer numerator, one division, one
    * subtraction, bit-identical in both engines (no libm `pow`). The
    * measured side re-bands the SAME signatures per config (5 configs ×
    * b band rows per doc — bounded) and counts distinct colliding
    * pairs; picking a config is then reading this table: more bands =
    * more candidates = higher recall, more verify cost. */
  /** The tuning sweep is a BUILD-ONCE artifact like every other index:
    * a (bands, rows) choice is made once per corpus, not re-measured on
    * every read of the table, so the 5-config band self-join sweep runs
    * under the Staging protocol and queries read the staged 5-row
    * result (it was the biggest recomputed line left on the bench). */
  def lshTuningStageDir(sfDir: String): String =
    "/tmp/graft_stage/lshtuning_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private[operators] val lshTuningBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def lshTuning(s: SparkSession, d: String): DataFrame = {
    val dir = lshTuningStageDir(d)
    val built = graft.Staging.ensure(dir, Seq(s"$d/documents.parquet")) {
      lshTuningInline(s, d).write.mode("overwrite").parquet(dir + "/sweep")
    }
    if (built) lshTuningBuildCount.incrementAndGet()
    s.read.parquet(dir + "/sweep").orderBy("bands")
  }

  private[operators] def lshTuningInline(s: SparkSession, d: String): DataFrame = {
    val sig = withSig(s, d).select(col("doc_id"), col("sig"))
    val configs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    configs.map { case (b, r) =>
      val bandCols = (0 until b).map(i =>
        struct(lit(i).as("band"),
          array_join(transform(slice(col("sig"), i * r + 1, r), _.cast("string")), "|")
            .as("bkey")))
      val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val nCand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
        .agg(count(lit(1)).as("n_candidate_pairs"))
      val pNum = BigInt(2).pow(r) - 1
      nCand.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
        col("n_candidate_pairs"),
        (lit(1.0) - lit(pNum.pow(b).toDouble) / lit(65536.0)).as("p_collide_at_half"))
    }.reduce(_ unionByName _)
      .orderBy("bands")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_lsh_tuning" -> (lshTuning _),
    "d_jaccard_calibration" -> (jaccardCalibration _),
    "d_setsim_join" -> (setSimJoin _),
    "d_containment_join" -> (containmentJoin _),
    "d_exact_dedup" -> (exactDedup _),
    "d_minhash_sig" -> (minhashSignatures _),
    "d_band_stats" -> (bandStats _),
    "d_neardup_pairs" -> (neardupPairs _),
    "d_cross_source" -> (crossSource _),
    "d_triangles" -> (triangles _),
    "d_semdedup" -> (semDedup _),
    "d_pagerank" -> (pageRank _),
    "d_kcore" -> (kCore _),
    "d_communities" -> (communities _),
    "d_rouge_pairs" -> (rougePairs _),
    "d_incremental_dedup" -> (incrementalDedup _),
    "d_span_dedup" -> (spanDedup _),
    "d_dup_clusters" -> (dupClusters _),
    "d_split_leakage" -> (splitLeakage _),
    "d_dup_clusters_star" -> (dupClustersStar _),
    "d_cluster_canonical" -> (clusterCanonical _),
    "d_policy_e2e" -> (policyE2e _),
    "d_ngram_jaccard" -> (ngramJaccard _),
    "d_simhash" -> (simhash _),
    "d_embed_neardup" -> (embedNeardup _),
  )

  /** DuckDB fragment: hex chars [s, s+8) of `m` as a BIGINT (no conv() in
    * DuckDB 1.0, so positional strpos arithmetic). */
  private def hex8(m: String, s: Int): String = graft.QueryDsl.sqlHex8(m, s)

  /** Shared DuckDB CTEs mirroring the shingle/signature/band pipeline
    * (reused by TextAnalysis.corpusFilter's oracle). */
  private[graft] val sigCte: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(w) >= 3
       |              THEN list_distinct(list_transform(range(0, len(w) - 2),
       |                     i -> array_to_string(w[i+1:i+3], ' ')))
       |              ELSE [] END AS shingles
       |       FROM ws),
       |hashed AS (SELECT doc_id, shingles,
       |             list_transform(shingles, x -> ${hex8("md5(x)", 1)}) AS ha,
       |             list_transform(shingles, x -> ${hex8("md5(x)", 9)}) AS hb
       |           FROM sh),
       |sig AS (SELECT doc_id, shingles,
       |          list_transform(range(0, 16),
       |            p -> list_min(list_transform(range(0, len(ha)),
       |                   j -> (ha[j+1] + p * hb[j+1]) % 4294967291))) AS sig
       |        FROM hashed),
       |bands AS (SELECT s.doc_id, g.b AS band,
       |            array_to_string(s.sig[g.b*4+1 : g.b*4+4], '|') AS bkey
       |          FROM sig s, generate_series(0, 3) g(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  /** Recursive-CTE transitive closure over the near-dup graph (`walk`
    * holds every (reachable id, seed label) pair) — the shared prefix of
    * every cluster-resolution oracle. */
  private[graft] val closureCte: String =
    sigCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |nd AS (
        |  SELECT c.a, c.b
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
        |  WHERE CAST(list_sum(list_transform(range(0, 16),
        |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM nd UNION ALL SELECT b, a FROM nd),
        |walk AS (
        |  SELECT DISTINCT src AS id, src AS label FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)""".stripMargin

  private val clustersOracle: String =
    closureCte +
      """
        |SELECT id AS doc_id, MIN(label) AS cluster_id,
        |       CAST(id = MIN(label) AS INT) AS is_rep
        |FROM walk GROUP BY id
        |ORDER BY doc_id""".stripMargin

  private val canonicalOracle: String =
    closureCte +
      """,
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
        |qual AS (
        |  SELECT doc_id,
        |         0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a','the'))) AS DOUBLE)
        |                          / CAST(len(string_split(text, ' ')) AS DOUBLE))
        |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |                          / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0, 1.0) AS quality_score
        |  FROM documents),
        |m AS (SELECT c.cluster_id, c.doc_id, q.quality_score,
        |             row_number() OVER (PARTITION BY c.cluster_id
        |                                ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
        |             COUNT(*) OVER (PARTITION BY c.cluster_id) AS nm
        |      FROM cl c JOIN qual q USING (doc_id))
        |SELECT cluster_id, doc_id AS canonical_id, quality_score AS best_quality,
        |       CAST(nm AS BIGINT) AS n_members
        |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** One PageRank iteration as DuckDB CTEs: contributions (integer floor
    * division, the engine's exact arithmetic) then left-join back onto the
    * full node set. */
  /** One k-core peel round as DuckDB CTEs: degrees among survivors
    * (left join — isolated survivors count 0), then the < k split. */
  // one synchronous LPA round: self + neighbor votes, most-frequent
  // label wins, smallest label breaks ties — mirrors communities()
  private def lpaIterCte(i: Int): String =
    s"""lv$i AS (SELECT x.doc_id, x.lbl, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |  SELECT e.src AS doc_id, l.lbl FROM edges e JOIN ll${i - 1} l ON e.dst = l.doc_id
       |  UNION ALL SELECT doc_id, lbl FROM ll${i - 1}) x GROUP BY x.doc_id, x.lbl),
       |ll$i AS (SELECT doc_id, lbl FROM (
       |  SELECT doc_id, lbl,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, lbl ASC) AS rn
       |  FROM lv$i) t WHERE rn = 1)""".stripMargin

  private def kcIterCte(i: Int): String =
    s"""kd$i AS (SELECT a.doc_id, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS deg
       |       FROM ka${i - 1} a LEFT JOIN (
       |         SELECT e.src, COUNT(*) AS cnt FROM edges e
       |         JOIN ka${i - 1} x ON e.src = x.doc_id
       |         JOIN ka${i - 1} y ON e.dst = y.doc_id GROUP BY e.src) t
       |         ON a.doc_id = t.src),
       |kr$i AS (SELECT doc_id FROM kd$i WHERE deg < $KCoreK),
       |ka$i AS (SELECT doc_id FROM kd$i WHERE deg >= $KCoreK)""".stripMargin

  private def prIterCte(i: Int): String =
    s"""c$i AS (SELECT e.dst AS doc_id, SUM((m.mass * 85) // (100 * g.deg)) AS in_mass
       |       FROM edges e JOIN m${i - 1} m ON m.doc_id = e.src JOIN deg g ON g.src = e.src
       |       GROUP BY e.dst),
       |m$i AS (SELECT d.doc_id, CAST(150000 + COALESCE(c$i.in_mass, 0) AS BIGINT) AS mass
       |       FROM documents d LEFT JOIN c$i USING (doc_id))""".stripMargin

  val oracle: Map[String, String] = Map(
    // brute-force exact Jaccard over 5-gram shingle sets: the shingle
    // equi-join enumerates every pair sharing ANY shingle (feasible in the
    // oracle because shingle collisions are rare outside true near-dups),
    // then the same integer-exact threshold gate
    "d_setsim_join" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SetSimN - 1}], ' ') AS sh
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${SetSimN - 1})) AS i
         |        FROM ws WHERE len(w) >= $SetSimN) t),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
         |  FROM tok x JOIN tok y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a, p.b, CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |       CAST(p.inter AS BIGINT) AS inter
         |FROM pairs p
         |JOIN sz sa ON p.a = sa.doc_id
         |JOIN sz sb ON p.b = sb.doc_id
         |WHERE p.inter * ${SetSimT._1 + SetSimT._2} >= (sa.n + sb.n) * ${SetSimT._1}
         |ORDER BY a, b""".stripMargin,
    // directional pairs: every ordered pair sharing a shingle, kept iff
    // td·inter ≥ tn·|src| — the prefix filter is complete, so the
    // engine's candidate set reduces to exactly this
    "d_containment_join" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+${SetSimN - 1}], ' ') AS sh
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${SetSimN - 1})) AS i
         |        FROM ws WHERE len(w) >= $SetSimN) t),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
         |pairs AS (
         |  SELECT x.doc_id AS src, y.doc_id AS dst, COUNT(*) AS inter
         |  FROM tok x JOIN tok y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.src, p.dst, CAST(ss.n AS BIGINT) AS n_src,
         |       CAST(sd.n AS BIGINT) AS n_dst, CAST(p.inter AS BIGINT) AS inter
         |FROM pairs p
         |JOIN sz ss ON p.src = ss.doc_id
         |JOIN sz sd ON p.dst = sd.doc_id
         |WHERE p.inter * ${ContT._2} >= ss.n * ${ContT._1}
         |ORDER BY src, dst""".stripMargin,
    "d_span_dedup" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, pos, array_to_string(w[pos+1:pos+$SpanN], ' ') AS gram
         |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - ${SpanN - 1})) AS pos
         |        FROM ws WHERE len(w) >= $SpanN) t),
         |dupg AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
         |per AS (
         |  SELECT doc_id, COUNT(*) AS n_spans,
         |         SUM(CASE WHEN gram IN (SELECT gram FROM dupg) THEN 1 ELSE 0 END) AS n_dup
         |  FROM g GROUP BY doc_id)
         |SELECT doc_id, n_spans, CAST(n_dup AS BIGINT) AS n_dup_spans,
         |       CAST(n_dup AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_frac
         |FROM per ORDER BY doc_id""".stripMargin,
    "d_incremental_dedup" ->
      (sigCte +
        s""",
           |dcand AS (
           |  SELECT x.doc_id AS b, y.doc_id AS a
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
           |  WHERE x.doc_id % $DeltaMod = $DeltaRem AND x.doc_id <> y.doc_id
           |    AND (y.doc_id % $DeltaMod <> $DeltaRem OR y.doc_id < x.doc_id)),
           |dups AS (
           |  SELECT DISTINCT c.b
           |  FROM dcand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5)
           |SELECT doc_id, CAST(doc_id IN (SELECT b FROM dups) AS INT) AS is_dup
           |FROM documents WHERE doc_id % $DeltaMod = $DeltaRem
           |ORDER BY doc_id""".stripMargin),
    "d_semdedup" ->
      s"""WITH expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS v
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |         FROM cent GROUP BY label),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, carr.c_label,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${Similarity.sqlCos("e.embedding", "carr.centroid")} DESC,
         |                    carr.c_label ASC) AS ar
         |  FROM embeddings e, carr),
         |a1 AS (SELECT vec_id, embedding, c_label AS cluster_id FROM asg WHERE ar = 1),
         |dups AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM a1 x JOIN a1 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
         |  WHERE ${Similarity.sqlCos("x.embedding", "y.embedding")} >= 0.4)
         |SELECT vec_id, cluster_id,
         |       CAST(vec_id IN (SELECT vec_id FROM dups) AS INT) AS is_dup
         |FROM a1 ORDER BY vec_id""".stripMargin,
    "d_pagerank" ->
      (sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |edges AS (SELECT a AS src, b AS dst FROM nd UNION ALL SELECT b, a FROM nd),
           |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
           |m0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS mass FROM documents),
           |${prIterCte(1)},
           |${prIterCte(2)},
           |${prIterCte(3)}
           |SELECT doc_id, mass FROM m3 ORDER BY doc_id""".stripMargin),
    // pairs rebuilt via sigCte+nd, bigram multiset counts over the
    // dup-member slice only, clipped overlap, and the milli divisions
    "d_rouge_pairs" ->
      (sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |dup AS (SELECT DISTINCT doc_id FROM (
           |          SELECT a AS doc_id FROM nd UNION ALL SELECT b FROM nd) t),
           |wsd AS (SELECT d.doc_id, string_split(d.text, ' ') AS ws
           |        FROM documents d JOIN dup USING (doc_id)),
           |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
           |       FROM wsd, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
           |bc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
           |sz AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM bc GROUP BY 1),
           |ov AS (SELECT nd.a, nd.b, CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS ov
           |       FROM nd JOIN bc ca ON ca.doc_id = nd.a
           |               JOIN bc cb ON cb.doc_id = nd.b AND cb.g = ca.g
           |       GROUP BY 1, 2)
           |SELECT nd.a, nd.b,
           |       COALESCE(sa.n, 0) AS n_cand, COALESCE(sb.n, 0) AS n_ref,
           |       COALESCE(ov.ov, 0) AS ov,
           |       CAST(CASE WHEN COALESCE(sa.n, 0) > 0
           |                 THEN COALESCE(ov.ov, 0) * 1000 // sa.n ELSE 0 END AS BIGINT) AS p_milli,
           |       CAST(CASE WHEN COALESCE(sb.n, 0) > 0
           |                 THEN COALESCE(ov.ov, 0) * 1000 // sb.n ELSE 0 END AS BIGINT) AS r_milli,
           |       CAST(CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0) > 0
           |                 THEN COALESCE(ov.ov, 0) * 2000 // (sa.n + sb.n)
           |                 ELSE 0 END AS BIGINT) AS f1_milli
           |FROM nd LEFT JOIN ov ON ov.a = nd.a AND ov.b = nd.b
           |        LEFT JOIN sz sa ON sa.doc_id = nd.a
           |        LEFT JOIN sz sb ON sb.doc_id = nd.b
           |ORDER BY nd.a, nd.b""".stripMargin),
    // the peel unrolled round-for-round over the same rebuilt pair
    // table; core degrees recomputed among final survivors
    "d_communities" ->
      (sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |edges AS (SELECT a AS src, b AS dst FROM nd UNION ALL SELECT b, a FROM nd),
           |ll0 AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM edges),
           |${lpaIterCte(1)},
           |${lpaIterCte(2)},
           |${lpaIterCte(3)},
           |${lpaIterCte(4)},
           |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members FROM ll4 GROUP BY lbl)
           |SELECT l.doc_id, l.lbl AS community, s.n_members
           |FROM ll4 l JOIN sz s ON l.lbl = s.lbl
           |ORDER BY l.doc_id""".stripMargin),
    "d_kcore" ->
      (sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |edges AS (SELECT a AS src, b AS dst FROM nd UNION ALL SELECT b, a FROM nd),
           |ka0 AS (SELECT DISTINCT src AS doc_id FROM edges),
           |${kcIterCte(1)},
           |${kcIterCte(2)},
           |${kcIterCte(3)},
           |cd AS (SELECT a.doc_id, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS deg
           |       FROM ka3 a LEFT JOIN (
           |         SELECT e.src, COUNT(*) AS cnt FROM edges e
           |         JOIN ka3 x ON e.src = x.doc_id
           |         JOIN ka3 y ON e.dst = y.doc_id GROUP BY e.src) t
           |         ON a.doc_id = t.src)
           |SELECT doc_id, 0 AS removed_round, 1 AS in_core, deg AS core_deg FROM cd
           |UNION ALL SELECT doc_id, 1, 0, CAST(0 AS BIGINT) FROM kr1
           |UNION ALL SELECT doc_id, 2, 0, CAST(0 AS BIGINT) FROM kr2
           |UNION ALL SELECT doc_id, 3, 0, CAST(0 AS BIGINT) FROM kr3
           |ORDER BY doc_id""".stripMargin),
    "d_exact_dedup" ->
      """WITH n AS (SELECT doc_id, md5(array_to_string(list_sort(string_split(text,' ')), ' ')) AS norm_md5
        |           FROM documents)
        |SELECT doc_id, norm_md5,
        |       MIN(doc_id) OVER (PARTITION BY norm_md5) AS canonical_id,
        |       CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY norm_md5) AS INT) AS is_dup
        |FROM n ORDER BY doc_id""".stripMargin,
    "d_minhash_sig" ->
      (sigCte +
        """
          |SELECT doc_id, CAST(i AS INT) AS perm, sig[i+1] AS minhash
          |FROM sig, generate_series(0, 15) g(i)
          |ORDER BY doc_id, perm""".stripMargin),
    "d_band_stats" ->
      (sigCte +
        """,
          |bs AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS c
          |       FROM bands GROUP BY band, bkey)
          |SELECT CAST(band AS INT) AS band,
          |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
          |       CAST(SUM(c) AS BIGINT) AS n_rows,
          |       CAST(MAX(c) AS BIGINT) AS max_bucket,
          |       CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs
          |FROM bs GROUP BY band ORDER BY band""".stripMargin),
    // re-band the sigCte signatures per (bands, rows) split; the curve
    // value is the same dyadic rational 1 - (2^r-1)^b / 2^16
    "d_lsh_tuning" ->
      (sigCte + "," + Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) =>
        s"""
           |bands_$b AS (
           |  SELECT s.doc_id, g.b AS band,
           |         array_to_string(s.sig[g.b*$r+1 : g.b*$r+$r], '|') AS bkey
           |  FROM sig s, generate_series(0, ${b - 1}) g(b)),
           |cand_$b AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands_$b x JOIN bands_$b y
           |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
      }.mkString(",") + "\n" +
        Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) =>
          val num = (BigInt(2).pow(r) - 1).pow(b)
          s"""SELECT $b AS bands, $r AS rows_per_band,
             |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$b) AS n_candidate_pairs,
             |       1 - $num / 65536.0 AS p_collide_at_half""".stripMargin
        }.mkString("\nUNION ALL\n") + "\nORDER BY bands"),
    // exact side from the `sh` CTE's shingle lists, restricted to the
    // estimated pairs — same est formula, list_intersect for the truth
    "d_jaccard_calibration" ->
      (sigCte +
        """,
          |pr AS (
          |  SELECT c.a, c.b,
          |         CAST(list_sum(list_transform(range(0, 16),
          |                i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE)
          |           / 16.0 AS est_jaccard
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |  WHERE CAST(list_sum(list_transform(range(0, 16),
          |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5)
          |SELECT p.a, p.b, p.est_jaccard,
          |       CAST(len(xa.shingles) AS BIGINT) AS n_a,
          |       CAST(len(xb.shingles) AS BIGINT) AS n_b,
          |       CAST(len(list_intersect(xa.shingles, xb.shingles)) AS BIGINT) AS inter,
          |       CAST(len(list_intersect(xa.shingles, xb.shingles)) AS DOUBLE)
          |         / CAST(len(xa.shingles) + len(xb.shingles)
          |                - len(list_intersect(xa.shingles, xb.shingles)) AS DOUBLE) AS exact_jaccard,
          |       p.est_jaccard
          |         - CAST(len(list_intersect(xa.shingles, xb.shingles)) AS DOUBLE)
          |           / CAST(len(xa.shingles) + len(xb.shingles)
          |                  - len(list_intersect(xa.shingles, xb.shingles)) AS DOUBLE) AS est_error
          |FROM pr p JOIN sh xa ON xa.doc_id = p.a JOIN sh xb ON xb.doc_id = p.b
          |ORDER BY a, b""".stripMargin),
    "d_neardup_pairs" ->
      (sigCte +
        """
          |SELECT c.a, c.b,
          |       CAST(list_sum(list_transform(range(0, 16),
          |              i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE)
          |         / 16.0 AS est_jaccard
          |FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |WHERE CAST(list_sum(list_transform(range(0, 16),
          |        i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5
          |ORDER BY a, b""".stripMargin),
    "d_cross_source" ->
      (sigCte +
        """,
          |nd AS (
          |  SELECT c.a, c.b
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |  WHERE CAST(list_sum(list_transform(range(0, 16),
          |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
          |j AS (SELECT least(da.source, db.source) AS src_lo,
          |             greatest(da.source, db.source) AS src_hi
          |      FROM nd JOIN documents da ON da.doc_id = nd.a
          |              JOIN documents db ON db.doc_id = nd.b)
          |SELECT src_lo, src_hi, COUNT(*) AS n_pairs,
          |       CAST(src_lo <> src_hi AS INT) AS is_cross_source
          |FROM j GROUP BY src_lo, src_hi
          |ORDER BY src_lo, src_hi""".stripMargin),
    "d_triangles" ->
      (sigCte +
        """,
          |nd AS (
          |  SELECT c.a, c.b
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |  WHERE CAST(list_sum(list_transform(range(0, 16),
          |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5)
          |SELECT e1.a AS x, e1.b AS y, e2.b AS z
          |FROM nd e1 JOIN nd e2 ON e2.a = e1.b
          |           JOIN nd e3 ON e3.a = e1.a AND e3.b = e2.b
          |ORDER BY x, y, z""".stripMargin),
    // transitive closure by recursive CTE — independent of the iterative
    // algorithm the engine runs, so the SAME oracle proves both the
    // label-propagation and the two-phase large/small-star resolution
    "d_dup_clusters" -> clustersOracle,
    "d_dup_clusters_star" -> clustersOracle,
    // cluster labels from the same transitive closure; the split bucket
    // is a salted md5 of the LABEL, so members can never straddle
    "d_split_leakage" ->
      (closureCte +
        s""",
           |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
           |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
           |        FROM documents d LEFT JOIN cl USING (doc_id)),
           |b AS (SELECT doc_id, cluster_id,
           |        ${graft.QueryDsl.sqlHex8("md5('gsplit_' || CAST(cluster_id AS VARCHAR))", 1)} % 100
           |          AS bucket
           |      FROM lab)
           |SELECT doc_id, cluster_id,
           |       CASE WHEN bucket < 80 THEN 'train'
           |            WHEN bucket < 90 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin),
    "d_cluster_canonical" -> canonicalOracle,
    // the composed decision pass: the closure's clusters over ALL docs
    // (singletons self-labelled), the canonical argmax with the same
    // (quality DESC, id ASC) order, per-doc degree + cross-source
    // evidence from the SAME nd pair set, then the integer verdict rule
    "d_policy_e2e" ->
      (closureCte +
        """,
          |nd2 AS (
          |  SELECT c.a, c.b
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |  WHERE CAST(list_sum(list_transform(range(0, 16),
          |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
          |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
          |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
          |        FROM documents d LEFT JOIN cl USING (doc_id)),
          |qual AS (
          |  SELECT doc_id,
          |         0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
          |           + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a','the'))) AS DOUBLE)
          |                          / CAST(len(string_split(text, ' ')) AS DOUBLE))
          |           + 0.2 * least((CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |                          / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 6.0, 1.0) AS quality_score
          |  FROM documents),
          |m AS (SELECT l.cluster_id, l.doc_id, q.quality_score,
          |             row_number() OVER (PARTITION BY l.cluster_id
          |                                ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn,
          |             COUNT(*) OVER (PARTITION BY l.cluster_id) AS nm
          |      FROM lab l JOIN qual q USING (doc_id)),
          |can AS (SELECT cluster_id, doc_id AS canonical_id FROM m WHERE rn = 1),
          |px AS (SELECT n.a, n.b,
          |              CASE WHEN da.source <> db.source THEN 1 ELSE 0 END AS x
          |       FROM nd2 n JOIN documents da ON da.doc_id = n.a
          |                  JOIN documents db ON db.doc_id = n.b),
          |ev AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree,
          |              CAST(MAX(x) AS INT) AS cross_src
          |       FROM (SELECT a AS doc_id, x FROM px UNION ALL SELECT b, x FROM px)
          |       GROUP BY doc_id)
          |SELECT m.doc_id, m.cluster_id, CAST(m.nm AS BIGINT) AS n_members,
          |       COALESCE(ev.degree, 0) AS degree,
          |       COALESCE(ev.cross_src, 0) AS cross_src,
          |       can.canonical_id,
          |       CASE WHEN m.doc_id = can.canonical_id THEN 'keep'
          |            WHEN COALESCE(ev.cross_src, 0) = 1 THEN 'drop'
          |            ELSE 'review' END AS verdict
          |FROM m JOIN can USING (cluster_id)
          |LEFT JOIN ev ON ev.doc_id = m.doc_id
          |ORDER BY m.doc_id""".stripMargin),
    "d_ngram_jaccard" ->
      (sigCte +
        """
          |SELECT c.a, c.b,
          |       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          |         / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) AS jaccard
          |FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          |        / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE) >= 0.8
          |ORDER BY a, b""".stripMargin),
    "d_simhash" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(list_distinct(string_split(text, ' ')),
        |           w -> (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
        |              + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
        |              + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
        |              + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) AS hvs
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(list_sum(list_transform(range(0, 16), j ->
        |         CASE WHEN 2 * list_sum(list_transform(hvs,
        |                      h -> CASE WHEN (h & CAST(2 ** (15 - j) AS INT)) > 0 THEN 1 ELSE 0 END))
        |                  > len(hvs)
        |              THEN CAST(2 ** (15 - j) AS INT) ELSE 0 END)) AS INT) AS simhash
        |FROM h ORDER BY doc_id""".stripMargin,
    "d_embed_neardup" ->
      """WITH e AS (SELECT label, vec_id, embedding FROM embeddings)
        |SELECT a.label, a.vec_id AS a, b.vec_id AS b,
        |       list_reduce(list_transform(range(0, 64),
        |           i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)), (x,y) -> x+y)
        |       / (sqrt(list_reduce(list_transform(range(0, 64),
        |             i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)), (x,y) -> x+y))
        |          * sqrt(list_reduce(list_transform(range(0, 64),
        |             i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)), (x,y) -> x+y)))
        |         AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(range(0, 64),
        |           i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_transform(range(0, 64),
        |            i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)), (x,y) -> x+y))
        |         * sqrt(list_reduce(list_transform(range(0, 64),
        |            i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)), (x,y) -> x+y))) >= 0.4
        |ORDER BY 1, 2, 3""".stripMargin,
  )
}
