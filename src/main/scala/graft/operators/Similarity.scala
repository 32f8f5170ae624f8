package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * the north-star ANN family (BASELINE.md).
  *
  * Scale design:
  *   - The query set is small and BROADCAST; the corpus is scanned once.
  *     No shuffle of the corpus for scoring.
  *   - Exact top-k uses a two-phase window (per-salt partial top-k, then
  *     global top-k over ≤ salts×k survivors) so no single reducer ever
  *     sees the whole corpus — the window-partition skew a naive
  *     `row_number over (partition by q_id)` would create at 100 TB.
  *   - The ANN path is IVF: per-label centroids (the label column is the
  *     coarse quantizer), probe the 2 nearest centroids, exact re-rank
  *     only within probed partitions — corpus touched ∝ nprobe/nlist.
  *
  * Cross-engine determinism: every dot product is a sequential left fold
  * over index-ordered double products (Spark `aggregate`, DuckDB
  * `list_reduce` — identical IEEE op order); centroids accumulate exact
  * integers (`floor(v*1e6)` longs, order-independent) divided once, never
  * engine-native AVG of doubles (whose accumulation order is unspecified).
  */
object Similarity {

  private val K = 5
  private val NProbe = 2
  private val Salts = 32

  /** Sequential-fold dot product of two (castable-to-double) arrays —
    * kept for double-typed inputs (centroids), where the float-specialized
    * native expression doesn't apply. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private[operators] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** float×float cosine: the codegen'd native expression (bit-identical
    * to the fold — see CosineSimilaritySpec). */
  private def cosineF(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Exact cosine top-k per query: broadcast queries, one corpus scan,
    * two-phase windowed top-k. */
  def cosineTopK(s: SparkSession, d: String): DataFrame =
    cosineTopKAt(s, d, K)

  /** [[cosineTopK]] at an arbitrary depth k — the k = [[K]] instance is
    * the `v_cosine_topk` query; the deeper instance feeds the staged
    * ground-truth table so recall overlays can grade at K > the serving
    * depth. */
  private[operators] def cosineTopKAt(s: SparkSession, d: String, k: Int): DataFrame = {
    val scored = emb(s, d)
      .crossJoin(broadcast(queriesDf(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val w1 = Window.partitionBy(col("q_id"), pmod(col("vec_id"), lit(Salts)))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---- Staged exact ground truth for the eval harnesses. The exact
  // top-K table is a pure function of the corpus (one fixed probe set,
  // one deterministic ranking), yet through round 13 every eval overlay
  // (recall@K, MRR, the nprobe sweep) re-ran the O(corpus × queries)
  // brute-force scan PER METHOD LEG — the cost of adding an 8th ANN
  // method grew with the exact recompute, not with the method. Stage it
  // once per corpus fingerprint (graft.Staging, the postings-index
  // pattern) and every harness reads a K×queries-row parquet instead.
  // Longs round-trip parquet exactly; the cosine column is staged but
  // the overlays join on (q_id, vec_id) only — hashes unchanged. ----

  private[operators] val annTruthBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The staged truth is built DEEPER than the serving depth [[K]]: the
    * recall-at-K sweep grades the fixed depth-K result lists against the
    * true top-1/5/25, and the deeper prefix costs nothing extra in the
    * stager (same scored set, one window). Serving-depth consumers read
    * through [[stagedExactTopK]], which truncates back to rank ≤ K —
    * row_number prefixes agree at every depth, so their inputs are
    * bit-identical to a depth-K build. */
  private[operators] val AnnTruthDepth = 25

  // k25 = truth-depth constant baked into the dir name (stage-dir discipline)
  def annTruthStageDir(sfDir: String): String =
    s"/tmp/graft_stage/anntruth_k${AnnTruthDepth}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  def ensureAnnTruthStaged(s: SparkSession, d: String): String = {
    val dir = annTruthStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      annTruthBuildCount.incrementAndGet()
      cosineTopKAt(s, d, AnnTruthDepth).write.mode("overwrite").parquet(dir + "/topk")
    }: Unit
    dir + "/topk"
  }

  /** The full depth-[[AnnTruthDepth]] truth table (q_id, rank, vec_id, cosine). */
  private[operators] def stagedExactTopKDeep(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureAnnTruthStaged(s, d))

  private[operators] def stagedExactTopK(s: SparkSession, d: String): DataFrame =
    stagedExactTopKDeep(s, d).filter(col("rank") <= K)

  // The per-METHOD result tables are pure corpus functions too: an eval
  // harness runs each ANN method once and grades the stored results —
  // it never re-runs the methods per overlay (recall and MRR grading
  // the same run is precisely what makes their numbers comparable).
  // Staged the same way; each method's own bench query still measures
  // the live probe. Adding an 8th method = one more union leg here, at
  // its own cost, with ZERO added cost in the overlays.

  private[operators] val annEvalBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private[operators] val evalMethods = Seq(
    "ivf", "ivf_kmeans", "ivfpq", "lsh", "nsw", "pq", "pq_kmeans", "quant")

  // v2 = ivfpq joined the method set; v3 = the nsw probe gained its
  // layer-2 entry (staged rows are a function of each method's probe
  // DEFINITION, so a probe change must version the dir)
  def annEvalStageDir(sfDir: String): String =
    "/tmp/graft_stage/anneval_v3_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  def ensureAnnEvalStaged(s: SparkSession, d: String): String = {
    val dir = annEvalStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      annEvalBuildCount.incrementAndGet()
      val legs = Map[String, DataFrame](
        "ivf" -> annIvf(s, d), "ivf_kmeans" -> annIvfTrained(s, d),
        "ivfpq" -> annIvfPq(s, d),
        "lsh" -> annLsh(s, d), "nsw" -> annNsw(s, d), "pq" -> annPq(s, d),
        "pq_kmeans" -> annPqTrained(s, d), "quant" -> annQuantized(s, d))
      evalMethods.map(m => legs(m)
          .select(lit(m).as("method"), col("q_id"), col("rank"), col("vec_id")))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(dir + "/results")
    }: Unit
    dir + "/results"
  }

  private[operators] def stagedEvalResults(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureAnnEvalStaged(s, d))

  private[operators] val Dim = 64
  private[operators] val CentroidScale = 1e6

  /** Per-label centroids via exact integer accumulation: each component
    * maps to `floor(v * 1e6)` (a long), longs SUM exactly and
    * order-independently (partial aggregation, constant buffer), one final
    * division — and DuckDB computes the identical longs, so the oracle
    * stays hash-exact without any ordering contract.
    *
    * Replaces the round-2 `sort_array(collect_list(struct(vec_id, v)))`
    * order-exact fold, which buffered one struct PER corpus VECTOR inside
    * a single aggregation buffer — at 100 TB a popular label is a
    * driver-sized-memory problem relocated to an executor. The ≤1e-6
    * absolute truncation per component only nudges probe *selection*;
    * output cosines are computed on raw embeddings, never on centroids.
    *
    * One hash aggregate, 65 fixed-width buffers per label, no explode:
    * the 64-row-per-vector expansion the posexplode formulation shuffled
    * is gone too. */
  def centroidArrays(s: SparkSession, d: String): DataFrame =
    centroidArraysOf(emb(s, d))

  private def centroidArraysOf(vecs: DataFrame): DataFrame = {
    val sums = (0 until Dim).map(i =>
      sum(floor(col("embedding").getItem(i).cast("double") * lit(CentroidScale))).as(s"s$i"))
    vecs
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("label").as("c_label"),
        array((0 until Dim).map(i =>
          col(s"s$i").cast("double") / (col("n").cast("double") * lit(CentroidScale))): _*)
          .as("centroid"))
  }

  // ---- ANN index staging: build once per corpus, probe many times. ----
  // A real ANN service amortizes the index build (centroid training, band
  // hashing of the corpus) across millions of probes; rebuilding it inside
  // every query — what annIvf/annLsh did through round 4 — re-scans the
  // full corpus per probe, which at 100 TB turns an O(candidates) lookup
  // back into an O(corpus) job. The staged tables ARE the index:
  //   centroids/  (c_label, centroid)   — the IVF coarse quantizer
  //   bands/      (vec_id, band, bkey)  — the SRP band keys of every
  //                                        corpus vector (LshBands × n rows)
  // Persisted once per sf dir (marker file, same pattern as
  // DocStage.ensureStaged) so every later query — and every later JVM —
  // starts from a scan of the index, never from the embeddings
  // aggregation. Parquet round-trips doubles and longs bit-exactly, so the
  // staged path is hash-identical to the inline build (oracle unchanged).
  //
  // The bands table is written BUCKETED by (band, bkey) — the probe-join
  // key — so repeated probe joins (and band-bucket self-joins) start
  // co-located: a sort-merge join against the staged table plans with NO
  // Exchange on the corpus side (SimilaritySpec asserts it), and a filter
  // on the bucket columns prunes bucket files before the scan. At test
  // scale the tiny query side is broadcast anyway; bucketing is what keeps
  // the join shuffle-free when the probe set itself is too big to
  // broadcast — the 100 TB probe-service shape. Bucket METADATA lives in
  // the session catalog (in-memory), so a fresh JVM that finds the marker
  // re-registers the external bucketed table over the staged files with
  // one DDL statement — bucket ids are encoded in the file names, so
  // registration restores full co-location without rewriting anything.

  private[operators] val annBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val BandBuckets = 16

  // "ann2": the v2 layout (bucketed bands). The bumped prefix makes a
  // stale v1 staging (plain parquet, non-bucket file names) invisible —
  // registering bucket metadata over non-bucketed files would fail reads.
  def annStageDir(sfDir: String): String =
    "/tmp/graft_stage/ann2_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private[operators] def annBandsTable(sfDir: String): String =
    ("graft_ann_bands_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase

  /** The SRP band keys of the full corpus — the LSH half of the index;
    * inline form, used by the stager (and by the spec as the staged
    * table's executable definition). */
  private[operators] def corpusBandsInline(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("vec_id"), posexplode(lshBandKeys(col("embedding"))).as(Seq("band", "bkey")))

  /** Ensures the ANN index for `d` is staged; returns
    * (centroidsPath, bandsPath). Builds at most once per sf dir across
    * queries AND across JVM runs (marker file); SimilaritySpec asserts the
    * second call is a no-op and that probe plans scan the staged parquet. */
  def ensureAnnStaged(s: SparkSession, d: String): (String, String) = {
    val dir = annStageDir(d)
    val centroidsPath = dir + "/centroids"
    val bandsPath = dir + "/bands"
    val bandsTable = annBandsTable(d)
    // fingerprinted marker + atomic publish + cross-process lock
    // (graft.Staging): a regenerated embeddings fixture rebuilds the index
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      annBuildCount.incrementAndGet()
      centroidArrays(s, d).write.mode("overwrite").parquet(centroidsPath)
      // bucketed external table: DROP forgets metadata only (external
      // location), so clear any half-built files by hand first
      s.sql(s"DROP TABLE IF EXISTS $bandsTable")
      deleteRecursively(new java.io.File(bandsPath))
      corpusBandsInline(s, d).write
        .bucketBy(BandBuckets, "band", "bkey").sortBy("band", "bkey")
        .option("path", bandsPath)
        .saveAsTable(bandsTable)
    }: Unit
    // marker present but table unknown = a fresh JVM over a prior JVM's
    // staging: restore the bucket metadata over the existing files
    if (!s.catalog.tableExists(bandsTable)) synchronized {
      if (!s.catalog.tableExists(bandsTable)) {
        s.sql(
          s"""CREATE TABLE $bandsTable (vec_id BIGINT, band INT, bkey INT)
             |USING PARQUET
             |CLUSTERED BY (band, bkey) SORTED BY (band, bkey) INTO $BandBuckets BUCKETS
             |LOCATION '$bandsPath'""".stripMargin)
      }
    }
    (centroidsPath, bandsPath)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  private[operators] def stagedCentroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureAnnStaged(s, d)._1)

  /** The bands half of the index as the catalog's BUCKETED table — reads
    * carry the (band, bkey) co-location that a bare parquet-path read
    * would discard. */
  private[operators] def stagedCorpusBands(s: SparkSession, d: String): DataFrame = {
    ensureAnnStaged(s, d)
    s.table(annBandsTable(d))
  }

  /** IVF ANN: probe the NProbe nearest centroids per query, exact re-rank
    * within probed labels only. Approximate by construction; recall vs the
    * exact path is asserted in SimilaritySpec. Centroids come from the
    * STAGED index (build-once/probe-many) — a probe never re-aggregates
    * the corpus. */
  def annIvf(s: SparkSession, d: String): DataFrame =
    annIvfWith(s, d, lit(true))

  /** The IVF probe with a candidate predicate applied at the POSTING
    * level (shared by [[annIvf]] — predicate `true` — and
    * [[annFiltered]]). */
  private def annIvfWith(s: SparkSession, d: String, cand: Column): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_label").asc)
    val probed = queriesDf(s, d)
      .crossJoin(broadcast(stagedCentroids(s, d)))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        cosine(col("q_emb"), col("centroid")).as("c_cos"))
      .withColumn("pr", row_number().over(probeW)).filter(col("pr") <= NProbe)
      .select(col("q_id"), col("q_emb"), col("c_label"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    probed
      .join(emb(s, d).filter(cand),
        col("label") === col("c_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** `v_ann_filtered` — FILTERED vector search (the predicate+ANN hybrid
    * every vector store ships: "nearest documents WHERE lang = en"): the
    * metadata predicate (vec_id ≡ 0 mod 3 here) is applied to the
    * POSTINGS BEFORE ranking — PRE-filtering, the correct semantics —
    * so the top-k is the best k among qualifying vectors. The tempting
    * alternative (post-filtering the unfiltered top-k) silently
    * UNDER-FILLS k whenever the unfiltered neighborhood is mostly
    * non-qualifying; this leg pins the pre-filter contract with an
    * oracle that ranks only qualifying candidates.
    *
    * Scale shape: identical to [[annIvf]] — the predicate rides the
    * posting scan (pushed to parquet when postings are stored with
    * metadata columns), probe cost still NProbe/k of the index. */
  def annFiltered(s: SparkSession, d: String): DataFrame =
    annIvfWith(s, d, pmod(col("vec_id"), lit(3)) === 0)

  /** `v_ann_delete` — DELETES in the ANN index as MERGE-ON-READ
    * tombstones (the delete-vector discipline of
    * `operators/Formats.scala` applied to the vector side, closing the
    * index-maintenance story `v_incremental_ann` opened for inserts):
    * the erased set (vec_id ≡ 4 mod 10) is anti-joined out of the
    * STAGED postings at probe time — the index files are NOT
    * rewritten, and the query REQUIREs the staged postings still
    * physically contain tombstoned rows before masking them, so a
    * rebuild masquerading as a delete fails loudly. At 100 TB the
    * tombstone set is a broadcast bitmap and deletion cost is O(delete
    * batch), never O(index). */
  def annDelete(s: SparkSession, d: String): DataFrame = {
    val (cPath, pPath) = ensureIncAnnStaged(s, d)
    val staged = s.read.parquet(pPath)
      .select(col("vec_id"), col("embedding"), col("c_label"))
    val tombs = emb(s, d).filter(isTombVec).select(col("vec_id"))
    // bounded probe: one row suffices to witness merge-on-read
    val stillThere = staged
      .join(broadcast(tombs), Seq("vec_id"), "left_semi").limit(1).count()
    require(stillThere > 0,
      "staged postings no longer contain tombstoned ids — index was rewritten")
    val live = staged.join(broadcast(tombs), Seq("vec_id"), "left_anti")
    incAnnProbe(s, d, s.read.parquet(cPath), live)
  }

  // ---- LSH-bucketed ANN: signed random projections (SRP / SimHash for
  // vectors). The second scale path next to IVF: no training/centroid
  // stage at all — each vector maps to an LshBits-bit sign pattern against
  // a FIXED hyperplane matrix, banded like MinHash-LSH; candidates come
  // only from band-bucket equi-joins, re-ranked exactly. ----
  private val LshBits = 16
  private val LshBands = 4 // 4 bands × 4 bits: the recall/candidate dial
  private val BitsPerBand = LshBits / LshBands
  // all-pairs dedup blocking bands the SAME bits coarser: 2 × 8-bit
  private val DedupBands = 2
  private val DedupBitsPerBand = LshBits / DedupBands

  /** Deterministic hyperplane matrix (LshBits × Dim): component j of
    * hyperplane h is the first 32 md5 bits of "hp{h}_{j}" mapped to
    * [-1, 1). Derived from md5 so the DuckDB oracle rebuilds bit-identical
    * constants; a plan literal, so signatures are a narrow map — no join,
    * no shuffle to compute them. */
  private lazy val hyperplanes: Array[Array[Double]] =
    graft.functions.SrpBandKeys.mdHyperplanes(LshBits, Dim)

  /** Band keys for a vector (array position = band id): bkey packs the
    * band's sign bits. Native expression on the hot path — one tight loop
    * per row instead of LshBits interpreted folds (and no CollapseProject
    * re-evaluation of a shared bits array); sign decisions are the same
    * sequential fold as every other oracle-checked dot product, asserted
    * bit-identical to [[lshBandKeysFold]] in SimilaritySpec. */
  private def lshBandKeys(v: Column): Column =
    graft.functions.SrpBandKeys(v, hyperplanes, LshBands)

  /** The declarative formulation the native expression replaces — kept as
    * the executable spec of its semantics. */
  private[operators] def lshBandKeysFold(v: Column): Column = {
    def bit(h: Int): Column =
      when(aggregate(zip_with(v, array(hyperplanes(h).toIndexedSeq.map(lit): _*),
        (x, y) => x.cast("double") * y), lit(0.0), (acc, p) => acc + p) >= 0, 1).otherwise(0)
    array((0 until LshBands).map { b =>
      (0 until BitsPerBand).map(t => bit(b * BitsPerBand + t) * lit(1 << t))
        .reduce(_ + _)
    }: _*)
  }

  /** Exposed for the SimilaritySpec equivalence test. */
  private[operators] def lshBandKeysNative(v: Column): Column = lshBandKeys(v)

  /** All-pairs LSH candidate generation over embeddings — blocking on the
    * DATA itself, no label crutch (Dedup.embedNeardup blocks on the label
    * column; this is the form that works when no labels exist): same 16
    * hyperplanes banded 2×8 bits, a pair is a candidate iff it shares a
    * (band, bkey) bucket, scored with the exact cosine. An 8-bit band
    * keeps buckets ∝ n/256, so candidates stay ≈1% of n²/2 (random pairs
    * collide at ~2·2⁻⁸) while a true near-dup (cosine→1) misses both
    * bands with probability → 0. Downstream dedup is a threshold filter
    * on `cosine`; the corpus here has no true near-dups (max pair cosine
    * ≈ 0.51), so the candidate set itself is the verifiable output. */
  def embedLshCandidates(s: SparkSession, d: String): DataFrame = {
    val bands = emb(s, d)
      .select(col("vec_id"),
        posexplode(graft.functions.SrpBandKeys(col("embedding"), hyperplanes, DedupBands))
          .as(Seq("band", "bkey")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val ea = emb(s, d).select(col("vec_id").as("a"), col("embedding").as("emb_a"))
    val eb = emb(s, d).select(col("vec_id").as("b"), col("embedding").as("emb_b"))
    cand.join(ea, "a").join(eb, "b")
      .select(col("a"), col("b"), cosineF(col("emb_a"), col("emb_b")).as("cosine"))
      .orderBy("a", "b")
  }

  /** LSH ANN: candidates ONLY from (band, bkey) equi-buckets — corpus
    * touched ∝ bucket collision rate, never all-pairs — then exact
    * re-rank. Query side is broadcast twice (band probe + re-rank); the
    * only corpus shuffles are the candidate distinct and the vec_id
    * fetch join. */
  /** Candidate (q_id, vec_id) pairs from shared (band, bkey) buckets —
    * ONE definition, used by both the query and the pruning spec, so the
    * spec always measures the pipeline the query actually runs. */
  private def lshCandidates(s: SparkSession, d: String): DataFrame = {
    // corpus side = the staged index (a parquet scan of n×LshBands narrow
    // rows); only the tiny query side hashes its bands at probe time
    val corpusBands = stagedCorpusBands(s, d)
    val queryBands = queriesDf(s, d)
      .select(col("q_id"), posexplode(lshBandKeys(col("q_emb"))).as(Seq("band", "bkey")))
    corpusBands.join(broadcast(queryBands), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
  }

  def annLsh(s: SparkSession, d: String): DataFrame = {
    val cand = lshCandidates(s, d)
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), "vec_id") // candidates ≪ corpus: never shuffle the corpus
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Exposed for SimilaritySpec's pruning assertion. */
  private[operators] def lshCandidateCount(s: SparkSession, d: String): Long =
    lshCandidates(s, d).count()

  /** Recall@K eval harness: per-query recall of each approximate path
    * against the exact top-K — the accept/tune gate every ANN deployment
    * runs before swapping the exact path out. BOTH sides are STAGED pure
    * corpus functions ([[stagedExactTopK]], [[stagedEvalResults]]): the
    * harness itself is one O(methods × queries × K) join over two small
    * parquet tables — at any corpus size the expensive work happens once
    * in the stagers, and grading never touches the corpus; adding a
    * method adds nothing to this overlay's cost. 0-hit queries are kept
    * via the left join (a recall harness that silently drops them
    * overstates recall). */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = stagedExactTopK(s, d).select(col("q_id"), col("vec_id"))
    val qs = exact.select(col("q_id")).distinct()
    val hits = stagedEvalResults(s, d)
      .join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("method"), col("q_id")).agg(count(lit(1)).as("n_hit"))
    evalMethods.toDF("method").crossJoin(qs)
      .join(hits, Seq("method", "q_id"), "left")
      .select(col("method"), col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(K.toDouble))
      .orderBy("method", "q_id")
  }

  private val IvfSweep = Seq(1, 2, 4, 10)

  /** `v_ivf_sweep` — the NPROBE TUNING CURVE, the IVF analogue of
    * `d_lsh_tuning`: recall@K AND candidate cost measured at every probe
    * width (1, 2, 4, 10 of the 10 partitions), the evidence behind choosing
    * [[NProbe]] — a deployment picks the knee of exactly this curve
    * (probe more partitions → touch more of the corpus → recover more
    * of the exact top-K; the nprobe = nlist = 10 leg degrades to the
    * exact scan, so the curve's top end must read recall 1.0,
    * spec-pinned). Probe
    * ranking and exact cosines are computed ONCE (pr ≤ max nprobe);
    * each sweep leg is a filter over the shared scored set, so the
    * corpus join runs a single time for the whole sweep. `n_cand` is
    * the per-(leg, query) scanned-vector count — the cost axis,
    * integer-exact, so the whole curve hash-checks.
    *
    * Scale shape: one broadcast centroid probe, one label equi-join
    * against the corpus, legs as a broadcast literal cross — O(legs)
    * row amplification on the already-candidate-bounded set, and the
    * recall overlay joins two O(queries × K) sets. */
  def ivfSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = stagedExactTopK(s, d).select(col("q_id"), col("vec_id"))
    val qs = exact.select(col("q_id")).distinct()
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_label").asc)
    val probed = queriesDf(s, d)
      .crossJoin(broadcast(stagedCentroids(s, d)))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        cosine(col("q_emb"), col("centroid")).as("c_cos"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= IvfSweep.max)
    val scored = probed
      .join(emb(s, d), col("label") === col("c_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("pr"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
    val legs = IvfSweep.toDF("nprobe")
    val cand = scored.crossJoin(broadcast(legs)).filter(col("pr") <= col("nprobe"))
    val rankW = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val topk = cand
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
    val nCand = cand.groupBy(col("nprobe"), col("q_id")).agg(count(lit(1)).as("n_cand"))
    val hits = topk.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("nprobe"), col("q_id")).agg(count(lit(1)).as("n_hit"))
    legs.crossJoin(qs)
      .join(nCand, Seq("nprobe", "q_id"), "left")
      .join(hits, Seq("nprobe", "q_id"), "left")
      .select(col("nprobe"), col("q_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(K.toDouble))
      .orderBy("nprobe", "q_id")
  }

  /** `v_triplets` — CONTRASTIVE TRIPLET assembly (anchor, positive,
    * hard negative), the manifest an embedding trainer consumes: from
    * ONE scored-candidate table (the staged-LSH all-pairs candidates,
    * symmetrized), each anchor takes its best at-or-above-threshold
    * partner as the POSITIVE and its best sub-threshold partner as the
    * HARD NEGATIVE (the closest non-positive — the informative negative
    * a random sample almost never contains), deterministic argmax tie
    * order; anchors lacking either side drop (a triplet needs both).
    *
    * Scale shape: candidates come only from band buckets (never
    * all-pairs), the symmetrize is a union, and both argmaxes are
    * windows over each anchor's bounded candidate list. */
  def triplets(s: SparkSession, d: String): DataFrame = {
    val sc = embedLshCandidates(s, d).select(col("a"), col("b"), col("cosine"))
    val p = sc.select(col("a").as("anchor"), col("b").as("partner"), col("cosine"))
      .unionByName(sc.select(col("b").as("anchor"), col("a").as("partner"), col("cosine")))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("cosine").desc, col("partner").asc)
    def best(df: DataFrame, vCol: String, cCol: String): DataFrame =
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("anchor"), col("partner").as(vCol), col("cosine").as(cCol))
    val pos = best(p.filter(col("cosine") >= HardNegCut), "positive", "pos_cosine")
    val neg = best(p.filter(col("cosine") < HardNegCut), "negative", "neg_cosine")
    pos.join(neg, "anchor")
      .select(col("anchor"), col("positive"), col("pos_cosine"),
        col("negative"), col("neg_cosine"))
      .orderBy("anchor")
  }

  private val RagBudget = 256 // context token budget per query

  /** `v_rag_e2e` — the COMPOSED RETRIEVAL-ASSEMBLY pass (the third
    * flagship pipeline next to `t_pipeline_e2e` and `m_pipeline_e2e`,
    * covering the RAG serving side of a corpus): per query,
    * [[hybridSearch]]'s keyword×vector candidates are (1) DIVERSIFIED —
    * a retrieved doc is dropped when a higher-ranked retrieved doc for
    * the SAME query is its staged near-dup (context slots are too
    * expensive to spend on the same text twice), then (2) PACKED under
    * a [[RagBudget]]-token context budget with the
    * `t_vocab_coverage` prefix rule (keep while the PRECEDING
    * cumulative count is under budget — the first overflowing doc still
    * ships, a truncation the serving layer handles). Output is the
    * context manifest a generator consumes: (query, slot, doc, tokens,
    * running total).
    *
    * Scale shape: retrieval cost is [[hybridSearch]]'s (keyword-pruned
    * postings, never the corpus); the dedup join probes the STAGED pair
    * table with the O(queries × K) candidate set; packing windows run
    * per query over ≤ K rows. */
  def ragE2e(s: SparkSession, d: String): DataFrame = {
    val cand = hybridSearch(s, d).select(col("q_id"), col("rank"), col("vec_id"))
    val pairs = graft.operators.Dedup.stagedNeardupPairs(s, d).select(col("a"), col("b"))
    val sym = pairs.union(pairs.select(col("b"), col("a"))).toDF("x", "y")
    // drop a candidate with a higher-ranked near-dup partner in the
    // same query's list
    val dropped = cand.as("lo")
      .join(sym, col("lo.vec_id") === col("y"))
      .join(cand.as("hi"),
        col("hi.q_id") === col("lo.q_id") && col("hi.vec_id") === col("x") &&
          col("hi.rank") < col("lo.rank"))
      .select(col("lo.q_id").as("q_id"), col("lo.vec_id").as("vec_id"))
      .distinct()
    val kept = cand.join(dropped, Seq("q_id", "vec_id"), "left_anti")
    val toks = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val slotW = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val runW = slotW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept.join(toks, "vec_id")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(runW))
      .filter(col("cum_tokens") - col("n_tokens") < RagBudget)
      .withColumn("slot", row_number().over(slotW))
      .select(col("q_id"), col("slot"), col("vec_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("q_id", "slot")
  }

  private val MrlDims = Seq(8, 16, 32, 64)

  /** `v_matryoshka` — TRUNCATED-DIMENSION RECALL (the Matryoshka
    * representation-learning eval): MRL-style embedding deployments cut
    * the stored vector to its FIRST d′ dimensions to trade recall for
    * 2–8× memory/bandwidth, and this harness measures exactly what that
    * trade costs — exact top-K under each prefix width (8, 16, 32, 64 of
    * 64) overlaid on the full-width exact top-K, per (width, query).
    * The 64-dim leg is the built-in control (recall 1.0 by identity,
    * spec-pinned); the curve down-width is the published MRL read-out.
    * Cross-engine exact because truncation is just a shorter
    * sequential-fold prefix: the same codegen'd float cosine over
    * `slice(embedding, 1, d′)` mirrors DuckDB's `range(0, d′)` fold.
    *
    * Scale shape: ONE corpus scan scores all four widths (the prefix
    * cosines ride the same crossJoin row and explode 4×), then the
    * [[cosineTopK]] two-phase salted top-K per (width, query) — no
    * reducer holds a corpus partition; the recall overlay joins two
    * O(queries × K) sets. Zero-hit queries kept via the left join. */
  def matryoshka(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = stagedExactTopK(s, d).select(col("q_id"), col("vec_id"))
    val qs = exact.select(col("q_id")).distinct()
    val scored = emb(s, d)
      .crossJoin(broadcast(queriesDf(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        explode(array(MrlDims.map(n =>
          struct(lit(n).as("dims"),
            cosineF(slice(col("embedding"), 1, n), slice(col("q_emb"), 1, n))
              .as("cosine"))): _*)).as("e"))
      .select(col("q_id"), col("vec_id"),
        col("e.dims").as("dims"), col("e.cosine").as("cosine"))
    val w1 = Window.partitionBy(col("dims"), col("q_id"), pmod(col("vec_id"), lit(Salts)))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val w2 = Window.partitionBy(col("dims"), col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val topk = scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= K)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= K)
      .select(col("dims"), col("q_id"), col("vec_id"))
    val hits = topk.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("dims"), col("q_id")).agg(count(lit(1)).as("n_hit"))
    MrlDims.toDF("dims").crossJoin(qs)
      .join(hits, Seq("dims", "q_id"), "left")
      .select(col("dims"), col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(K.toDouble))
      .orderBy("dims", "q_id")
  }

  // ---- Hard-negative mining: the contrastive-training data op (pick,
  // per query/anchor, the most-similar items that are NOT near-dups —
  // informative negatives a random sample would almost never contain).
  // Pure composition of the staged-index candidate generator with a
  // similarity CEILING: candidates come from the same LSH buckets as
  // ANN probes (O(bucket overlap), never a corpus scan), scored exactly,
  // anything at/above the near-dup cutoff (a positive, not a negative)
  // excluded, top-3 kept per anchor. ----
  private val HardNegCut = 0.4 // aligned with the embedding near-dup threshold
  private val HardNegK = 3

  // ---- Hybrid retrieval: keyword prefilter × vector rerank — the RAG
  // retrieval shape (BM25/inverted-index candidates, embedding rerank).
  // The keyword predicate prunes the corpus BEFORE any vector math — it
  // evaluates inside the document scan stage (codegen over the reader;
  // a tokenized-column layout would push it to the format itself), and
  // only the surviving ids join their embeddings for the exact cosine; at scale
  // the keyword side is the inverted index and the vector side reranks
  // its postings, never the corpus. doc_id and vec_id share an id space
  // in the fixture (one embedding per document). ----
  private val HybridKeyword = "spark"

  def hybridSearch(s: SparkSession, d: String): DataFrame = {
    val matching = Tables.documents(s, d)
      .filter(array_contains(split(col("text"), " "), HybridKeyword))
      .select(col("doc_id").as("vec_id"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb(s, d)
      .join(matching, "vec_id") // keyword-pruned corpus: rerank postings only
      .crossJoin(broadcast(queriesDf(s, d)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val cand = lshCandidates(s, d)
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .filter(col("cosine") < HardNegCut)
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= HardNegK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---- Int8-quantized ANN: scalar quantization (per-vector max-abs
  // scale, 127 levels) shrinks the scored representation 4× — the
  // standard memory/bandwidth lever when the corpus outgrows RAM — then
  // exact re-rank of a small candidate pool restores float precision.
  // Cross-engine exactness holds because every quantized component is an
  // INTEGER (|q| ≤ 127): integer products and their sequential sums stay
  // exact in both engines' doubles, so quantized cosines (and therefore
  // the candidate pool and final ranks) are bit-identical to the DuckDB
  // oracle. ----
  private val QCand = 2 * K

  /** (vec_id, qemb): int8-quantized embedding stored as array<float> so
    * the codegen'd native cosine applies unchanged (ints ≤ 127 are exact
    * in float). Native expression on the hot path — the declarative form
    * ([[quantizedFold]]) re-evaluates the 64-element max inside every
    * element lambda after CollapseProject inlines it. */
  private[operators] def quantized(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id"),
      graft.functions.Int8Quantize(col("embedding")).as("qemb"))

  /** The declarative formulation the native expression replaces — kept as
    * the executable spec of its semantics (the lshBandKeysFold pattern). */
  private[operators] def quantizedFold(s: SparkSession, d: String): DataFrame = {
    val sc = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    emb(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") / sc * 127).cast("float")).as("qemb"))
  }

  /** Quantized brute-force top-`QCand` per query (the cheap int8 scan),
    * then exact float re-rank to top-K. Same two-phase salted window as
    * [[cosineTopK]] so no reducer ever holds a full corpus partition. */
  def annQuantized(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val qQueries = q.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qemb").as("q_qemb"))
    val scored = q.crossJoin(broadcast(qQueries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("qemb"), col("q_qemb")).as("qcos"))
    val w1 = Window.partitionBy(col("q_id"), pmod(col("vec_id"), lit(Salts)))
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
    val cand = scored
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= QCand)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= QCand)
      .select(col("q_id"), col("vec_id"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), "vec_id") // rerank pool ≪ corpus: never shuffle the corpus
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** POISONED-corpus band keys: the NaN/Inf/null gate query. Derives a
    * corrupted corpus from `embeddings` deterministically — vec_id%11
    * picks the poison: 0 → the whole vector nulled, 1 → one component
    * NaN, 2 → +Inf, 3 → −Inf (at position vec_id%64) — and pushes it
    * through the SAME native SrpBandKeys path the ANN queries run. This
    * proves the ugly-float contract end-to-end under the hash gate, not
    * just in unit tests: a NaN/±Inf dot product takes the `NaN ≥ 0 =
    * true` branch (Spark SQL and DuckDB order NaN above all values —
    * SrpBandKeys.scala:75-78), and null vectors surface as explicit
    * (vec_id, null, null) rows via posexplode_outer rather than
    * vanishing. bkey is cast to long to match the oracle's BIGINT. */
  def poisonedLshBands(s: SparkSession, d: String): DataFrame = {
    val mode = pmod(col("vec_id"), lit(11))
    val idx = pmod(col("vec_id"), lit(Dim)).cast("int")
    val replaced = transform(col("embedding"), (v, i) =>
      when(i =!= idx, v).otherwise(
        when(mode === 1, lit(Float.NaN))
          .when(mode === 2, lit(Float.PositiveInfinity))
          .when(mode === 3, lit(Float.NegativeInfinity))
          .otherwise(v)))
    val poisoned = when(mode === 0, lit(null).cast("array<float>")).otherwise(replaced)
    emb(s, d)
      .select(col("vec_id"), poisoned.as("pe"))
      .select(col("vec_id"),
        posexplode_outer(lshBandKeys(col("pe"))).as(Seq("band", "bkey")))
      .select(col("vec_id"), col("band"), col("bkey").cast("long").as("bkey"))
      .orderBy("vec_id", "band")
  }

  /** PER-DIMENSION EMBEDDING QUALITY STATS — the pre-index audit for an
    * embedding table: a dead dimension (always zero), a clipped one
    * (saturated min/max), or a mean far off center each degrade every
    * ANN structure built downstream; this reports them in one pass.
    * Cross-engine determinism: the mean is carried as an exact integer
    * sum of `floor(v·1024)` quantized components (float→double is exact,
    * ·1024 is exact in double, floor is deterministic — no
    * accumulation-order dependence), min/max are order-free, and the
    * zero count is integral. Shape: one narrow posexplode to O(n·dims)
    * rows, one map-side-combined groupBy down to O(dims). */
  def embedStats(s: SparkSession, d: String): DataFrame = {
    emb(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 1024).cast("long")).as("sum_q1024"),
        min(col("v").cast("double")).as("min_v"),
        max(col("v").cast("double")).as("max_v"),
        sum((col("v") === 0.0f).cast("long")).as("n_zero"))
      .orderBy("dim")
  }

  // ---- PRODUCT QUANTIZATION ANN — the COMPRESSION class next to IVF
  // (partitioning), SRP-LSH (hashing), and int8 (uniform scalar
  // quantization): the 64-dim float vector splits into PqSub subspaces,
  // each encoded as the id of its nearest per-subspace codeword, so a
  // corpus vector becomes PqSub small codes (here 8 codes ≈ 8 bytes vs
  // 256 — the reason a 100 TB embedding store can keep its index in
  // RAM). Queries never decode: asymmetric distance computation (ADC)
  // precomputes a query→codeword lookup table per subspace (M×|codebook|
  // floats, broadcast-tiny) and approximates any corpus distance as the
  // sum of PqSub table lookups on the codes alone — the corpus floats
  // are never touched at probe time.
  //
  // The codebook is the existing per-label centroid table restricted to
  // each subspace — deterministic (exact-integer centroid construction,
  // ties on label order) and already oracle-replicated, which keeps the
  // whole PQ pipeline hash-checkable where a sampled k-means could not
  // be. Scale shape: encode = one corpus × broadcast-codebook pass
  // (build-time, amortized); probe = codes ⋈ broadcast LUT + one
  // map-side-combined sum per (query, vector); nothing all-pairs, no
  // corpus floats in the probe plan. Per-term distances fold in fixed
  // left-to-right order and the ADC sum is decimal-exact (dsum), so
  // ranks are bit-identical cross-engine. ----

  private[operators] val PqSub = 8
  private[operators] val PqSubDim = Dim / PqSub

  /** Σ over subspace `m` of (a_i − b_i)², fixed left-to-right fold. */
  private def subL2(m: Int, a: Column, b: Column): Column =
    (0 until PqSubDim).map { i =>
      val j = m * PqSubDim + i
      val dv = a.getItem(j).cast("double") - b.getItem(j)
      dv * dv
    }.reduce(_ + _)

  private def subDists(v: Column): Column = explode(array((0 until PqSub).map(m =>
    struct(lit(m).as("m"), subL2(m, v, col("centroid")).as("dist"))): _*))

  /** ENCODE: nearest codeword per (vector, subspace); ties on label asc.
    * One corpus × broadcast-codebook pass — the build-time cost the
    * staged table amortizes across probes. */
  private[operators] def pqCodesInline(s: SparkSession, d: String): DataFrame = {
    val codeW = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("c_label").asc)
    emb(s, d).filter(col("embedding").isNotNull)
      .crossJoin(broadcast(stagedCentroids(s, d)))
      .select(col("vec_id"), col("c_label"), subDists(col("embedding")).as("sd"))
      .select(col("vec_id"), col("c_label"), col("sd.m").as("m"), col("sd.dist").as("dist"))
      .withColumn("rn", row_number().over(codeW)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("c_label").as("code"))
  }

  def pqStageDir(sfDir: String): String =
    "/tmp/graft_stage/pqcodes_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private[operators] val pqBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The staged code table IS the compressed index: PqSub codes per
    * vector, no floats — built once per sf dir (Staging marker). */
  private[operators] def stagedPqCodes(s: SparkSession, d: String): DataFrame = {
    val dir = pqStageDir(d)
    val built = graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      pqCodesInline(s, d).write.mode("overwrite").parquet(dir + "/codes")
    }
    if (built) pqBuildCount.incrementAndGet()
    s.read.parquet(dir + "/codes")
  }

  /** The ADC ranking shared by [[annPq]] (top-K directly) and
    * [[annPqRefine]] (a wider candidate pool for exact re-rank). */
  private def pqAdcRanked(s: SparkSession, d: String): DataFrame = {
    // ADC LUT: query → codeword distance per subspace (8q × labels × 8m)
    val lut = queriesDf(s, d).crossJoin(broadcast(stagedCentroids(s, d)))
      .select(col("q_id"), col("c_label").as("code"), subDists(col("q_emb")).as("sd"))
      .select(col("q_id"), col("code"), col("sd.m").as("m"), col("sd.dist").as("lut_d"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d").asc, col("vec_id").asc)
    stagedPqCodes(s, d).join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(graft.QueryDsl.dsum(col("lut_d")).as("approx_d"))
      .withColumn("rank", row_number().over(rankW))
  }

  def annPq(s: SparkSession, d: String): DataFrame =
    pqAdcRanked(s, d).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("approx_d"))
      .orderBy("q_id", "rank")

  private val PqRefineCand = 25

  /** `v_ann_pq_refine` — the PRODUCTION two-stage retrieval shape PQ
    * exists for: the compressed codes rank the WHOLE corpus cheaply
    * (ADC — no floats touched), the top-[[PqRefineCand]] survivors are
    * re-ranked with EXACT cosine against the raw embeddings, and only
    * that bounded candidate set ever loads vectors. Coarse-quantizer
    * recall at k is poor by construction ([[annPq]] measures it
    * honestly); the refine stage is what turns the compression into a
    * usable index — recall asserted against the exact path in
    * PqSpec. */
  def annPqRefine(s: SparkSession, d: String): DataFrame = {
    val cand = pqAdcRanked(s, d).filter(col("rank") <= PqRefineCand)
      .select(col("q_id"), col("vec_id"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand
      .join(emb(s, d), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---- IVF-PQ with RESIDUAL encoding — the production composite index
  // (the FAISS IndexIVFPQ shape; Jégou et al., "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011, §IV): the coarse lists
  // prune the corpus, and PQ encodes each vector's RESIDUAL (v − its
  // list centroid) instead of the raw vector — residuals concentrate
  // near the origin, so the same codebook budget quantizes them with
  // far less error than raw vectors, which is why every production
  // big-ANN deployment composes the two instead of running either
  // alone. Integer-exact cross-engine throughout:
  //   - coarse = the staged label-averaged IVF quantizer;
  //   - residual r = CAST(v AS DOUBLE) − c componentwise — the same
  //     IEEE double both engines produce;
  //   - the residual CODEBOOK groups vectors by the deterministic
  //     rb_label = vec_id % IvfPqRb and accumulates FLOOR(r·1e6) longs
  //     (the proven centroid mapping applied to residuals);
  //   - encode and LUT distances are the PQ subL2 fixed left fold, the
  //     ADC sum is decimal-exact, all ties break on ids.
  // Probe: NProbe lists by centroid cosine; the QUERY residual is taken
  // PER PROBED LIST (q − that list's centroid — the per-list LUT that
  // makes residual PQ work); ADC ranks only the probed lists' codes —
  // the staged code table is PARTITIONED BY list and the probe filters
  // on the collected ≤nlist probed labels, so partition pruning drops
  // the other lists before the scan; the top-IvfPqCand survivors
  // re-rank exact, and only that bounded set ever loads raw vectors.
  // At 100 TB: index build is one corpus pass (amortized, staged), a
  // probe reads nprobe/nlist of a 1-byte-per-subspace code table plus
  // ≤cand raw vectors — the minimal-IO shape this family exists for. ----

  private[operators] val IvfPqRb = 8L

  private[operators] val ivfPqBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  // rb/cand constants baked into the dir name (stage-dir discipline)
  def ivfPqStageDir(sfDir: String): String =
    s"/tmp/graft_stage/ivfpq_m${PqSub}_rb${IvfPqRb}_v1_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Residuals of every vector against its OWN list centroid:
    * (vec_id, c_label = the list, r = v − centroid, componentwise). */
  private def residualsOf(s: SparkSession, d: String): DataFrame =
    residualsOver(emb(s, d), stagedCentroids(s, d))

  /** The residual frame over explicit (vectors, centroids) inputs —
    * shared by the build-once index and the incremental ingest (which
    * takes residuals of the DELTA against the FROZEN base centroids). */
  private def residualsOver(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.filter(col("embedding").isNotNull)
      .join(broadcast(cents), col("label") === col("c_label"))
      .select(col("vec_id"), col("c_label"),
        zip_with(col("embedding"), col("centroid"),
          (v, c) => v.cast("double") - c).as("r"))

  /** The residual codebook: per rb_label, the integer-exact mean
    * residual ([[centroidArraysOf]]'s accumulate-floor-longs scheme on
    * residual components — order-independent, cross-engine exact). */
  private def residualCodebook(resid: DataFrame): DataFrame = {
    val sums = (0 until Dim).map(i =>
      sum(floor(col("r").getItem(i) * lit(CentroidScale))).as(s"s$i"))
    resid
      .groupBy(pmod(col("vec_id"), lit(IvfPqRb)).as("rb_label"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("rb_label"),
        array((0 until Dim).map(i =>
          col(s"s$i").cast("double") / (col("n").cast("double") * lit(CentroidScale))): _*)
          .as("rcent"))
  }

  /** [[subDists]] over an explicit (vector, codeword) column pair. */
  private def subDistsOn(v: Column, cw: Column): Column =
    explode(array((0 until PqSub).map(m =>
      struct(lit(m).as("m"), subL2(m, v, cw).as("dist"))): _*))

  /** Per-(vector, subspace) argmin encode of residuals against a
    * residual codebook — shared by the staged build and the delta
    * ingest. Ties on rb_label asc. */
  private def encodeResiduals(resid: DataFrame, rb: DataFrame): DataFrame = {
    val codeW = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("rb_label").asc)
    resid.crossJoin(broadcast(rb))
      .select(col("vec_id"), col("c_label"), col("rb_label"),
        subDistsOn(col("r"), col("rcent")).as("sd"))
      .select(col("vec_id"), col("c_label"), col("rb_label"),
        col("sd.m").as("m"), col("sd.dist").as("dist"))
      .withColumn("rn", row_number().over(codeW)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("rb_label").as("code"), col("c_label"))
  }

  /** Stage the residual codebook + the per-list code table (codes
    * partitioned by list label so probes prune to nprobe/nlist
    * directories). Built once per corpus fingerprint. */
  def ensureIvfPqStaged(s: SparkSession, d: String): (String, String) = {
    val dir = ivfPqStageDir(d)
    val rbPath = dir + "/rcodebook"
    val codesPath = dir + "/codes"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      ivfPqBuildCount.incrementAndGet()
      val resid = residualsOf(s, d)
      residualCodebook(resid).write.mode("overwrite").parquet(rbPath)
      encodeResiduals(resid, s.read.parquet(rbPath))
        .write.mode("overwrite").partitionBy("c_label").parquet(codesPath)
    }: Unit
    (rbPath, codesPath)
  }

  /** The shared IVF-PQ probe over explicit (centroids, residual
    * codebook, codes) inputs: coarse probe → per-probed-list query
    * residual → broadcast LUT → ADC over the probed lists' codes →
    * bounded exact re-rank. The probed-list set is a bounded driver
    * sync (≤ nlist labels) applied as a LITERAL filter, so a
    * list-partitioned code table prunes directories before the scan. */
  private def ivfPqProbe(s: SparkSession, d: String, cents: DataFrame,
      rb: DataFrame, codes: DataFrame): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_label").asc)
    val probed = queriesDf(s, d)
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_emb"), col("c_label"), col("centroid"),
        cosine(col("q_emb"), col("centroid")).as("c_cos"))
      .withColumn("pr", row_number().over(probeW)).filter(col("pr") <= NProbe)
      .select(col("q_id"), col("c_label"),
        zip_with(col("q_emb"), col("centroid"),
          (v, c) => v.cast("double") - c).as("qr"))
    // The probed subplan (queries × centroids scoring + window) feeds
    // BOTH consumers — the literal label filter below and the LUT build.
    // The pin computes it once and keeps it cluster-side (queries ×
    // NProbe rows — tiny, but the residual arrays should not transit
    // the driver); the ONE driver sync is the LABEL LIST only (≤ nlist
    // values), which must be a literal so the list-partitioned code
    // table prunes directories before the scan. A pin, not persist():
    // nothing here could ever unpersist the returned lazy plan's input,
    // so a CacheManager entry would outlive every call.
    val probedDf = graft.QueryDsl.pin(probed)
    val probedLabels = probedDf.select(col("c_label")).distinct()
      .collect().map(_.get(0)).toSeq
    val lut = probedDf.crossJoin(broadcast(rb))
      .select(col("q_id"), col("c_label"), col("rb_label").as("code"),
        subDistsOn(col("qr"), col("rcent")).as("sd"))
      .select(col("q_id"), col("c_label"), col("code"),
        col("sd.m").as("m"), col("sd.dist").as("lut_d"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d").asc, col("vec_id").asc)
    val cand = codes
      .filter(col("c_label").isin(probedLabels: _*))
      .join(broadcast(lut), Seq("c_label", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(graft.QueryDsl.dsum(col("lut_d")).as("approx_d"))
      .withColumn("rn", row_number().over(rankW)).filter(col("rn") <= PqRefineCand)
      .select(col("q_id"), col("vec_id"))
    val rankW2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand
      .join(emb(s, d), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW2)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** `v_ann_ivfpq` — the residual IVF-PQ probe: coarse probe → per-list
    * query residual → ADC over the probed lists' staged codes →
    * bounded exact re-rank. Oracle rebuilds the identical pipeline in
    * SQL; recall vs the exact path is asserted in IvfPqSpec. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val (rbPath, codesPath) = ensureIvfPqStaged(s, d)
    ivfPqProbe(s, d, stagedCentroids(s, d),
      s.read.parquet(rbPath), s.read.parquet(codesPath))
  }

  // ---- Incremental IVF-PQ maintenance: the delta-ingest discipline
  // applied to the composite index. The BASE index is frozen at build
  // time — coarse centroids from base vectors only, residual codebook
  // from base residuals only, base codes staged — and an arriving batch
  // pays only its OWN work: residuals against the frozen centroids, an
  // argmin encode against the frozen codebook, and an APPEND of its
  // code rows. No base vector is re-read, no codebook retrained,
  // base-vs-base work never appears in the plan. Because encode is a
  // deterministic function of (vector, frozen codebooks),
  // probe-after-append ≡ probe-after-full-rebuild-with-the-same-books —
  // the oracle rebuilds everything from scratch in SQL (cent/rcb CTEs
  // filtered to the base slice) and the hashes must agree. Probe q_id 7
  // IS a freshly-ingested vector (the incremental-ann convention). ----

  private[operators] val incIvfPqBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def incIvfPqStageDir(sfDir: String): String =
    s"/tmp/graft_stage/incivfpq_m${PqSub}_rb${IvfPqRb}_v1_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stages the BASE half: base-only coarse centroids, base-only
    * residual codebook, base code table (list-partitioned). Built once
    * per corpus fingerprint. */
  def ensureIncIvfPqStaged(s: SparkSession, d: String): (String, String, String) = {
    val dir = incIvfPqStageDir(d)
    val centsPath = dir + "/centroids"
    val rbPath = dir + "/rcodebook"
    val codesPath = dir + "/codes"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      incIvfPqBuildCount.incrementAndGet()
      val base = emb(s, d).filter(!isDeltaVec)
      centroidArraysOf(base).write.mode("overwrite").parquet(centsPath)
      val resid = residualsOver(base, s.read.parquet(centsPath))
      residualCodebook(resid).write.mode("overwrite").parquet(rbPath)
      encodeResiduals(resid, s.read.parquet(rbPath))
        .write.mode("overwrite").partitionBy("c_label").parquet(codesPath)
    }: Unit
    (centsPath, rbPath, codesPath)
  }

  /** `v_incremental_ivfpq` — probe over the incrementally maintained
    * composite: the delta batch takes residuals against the FROZEN base
    * centroids, argmin-encodes against the FROZEN base codebook (one
    * bounded pass over the delta — REQUIREd not to rebuild the staged
    * base), and its code rows APPEND to the staged base codes; the
    * shared probe runs over the union. */
  def incrementalIvfPq(s: SparkSession, d: String): DataFrame = {
    val (centsPath, rbPath, codesPath) = ensureIncIvfPqStaged(s, d)
    val builds = incIvfPqBuildCount.get()
    val cents = s.read.parquet(centsPath)
    val rb = s.read.parquet(rbPath)
    // the ingest: delta-only residual + encode, pinned (it feeds a code
    // table the probe scans once per ADC join leg)
    val dCodes = encodeResiduals(
        residualsOver(emb(s, d).filter(isDeltaVec), cents), rb)
      .localCheckpoint()
    require(incIvfPqBuildCount.get() == builds,
      "the ingest must not rebuild the staged base index")
    val codes = s.read.parquet(codesPath)
      .select(col("vec_id"), col("m"), col("code"), col("c_label"))
      .unionByName(dCodes.select(col("vec_id"), col("m"), col("code"), col("c_label")))
    ivfPqProbe(s, d, cents, rb, codes)
  }

  // ---- TRAINED coarse quantizer: sampled iterative Lloyd's k-means in
  // EXACT integer arithmetic, the asterisk-remover on the IVF/PQ story —
  // a real 100 TB index trains its codebook rather than borrowing a
  // label column. Determinism without weakening the algorithm:
  //   - vectors enter fixed-point space as floor(double(v)·1e6) (the
  //     proven centroidArrays mapping — bit-identical cross-engine);
  //   - training runs on a deterministic 1-in-4 sample (vec_id % 4 = 0:
  //     at scale the quantizer trains on a sample, never the corpus);
  //   - init = the k smallest sample vec_ids' vectors (order-free);
  //   - assignment = argmin of the EXACT integer squared L2, ties to the
  //     smallest cluster id; update = truncating integer mean (matches
  //     DuckDB's `//` on signed values); empty clusters keep their
  //     previous centroid;
  //   - a FIXED iteration count, so the oracle is the unrolled CTE chain
  //     (the d_pagerank pattern) — every iteration reproduced exactly.
  // Scale shape: per iteration one sample scan + a k×dim driver sync
  // (Lloyd's on a cluster always syncs the codebook); the corpus is
  // touched ONCE, by the staged assignment pass; probes read only the
  // staged index. ----

  private val KmClusters = 8
  private val KmIterations = 3
  private val KmSampleMod = 4L

  private[operators] def scaledVec(v: Array[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { out(i) = math.floor(v(i).toDouble * CentroidScale).toLong; i += 1 }
    out
  }

  /** Exact integer squared-L2 argmin; strict `<` keeps the smallest
    * cluster id on ties — the same (dist, id) order the oracle ranks. */
  private[operators] def assignCluster(cents: Array[Array[Long]], e: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d2 = 0L
      var i = 0
      while (i < e.length) { val df = e(i) - c(i); d2 += df * df; i += 1 }
      if (d2 < bestD) { bestD = d2; best = j }
      j += 1
    }
    best
  }

  /** The `pr` nearest trained centroids, ranked by (exact d2, id). */
  private def topClusters(cents: Array[Array[Long]], e: Array[Long], pr: Int): Seq[Int] =
    cents.indices.map { j =>
      val c = cents(j)
      var d2 = 0L
      var i = 0
      while (i < e.length) { val df = e(i) - c(i); d2 += df * df; i += 1 }
      (d2, j)
    }.sorted.take(pr).map(_._2)

  /** Lloyd's over the scaled sample: KmIterations fixed rounds of
    * assign (distributed map) + update (k-bounded reduceGroups with
    * map-side partial combine; the collect is k rows, never data). */
  private def trainKmeans(s: SparkSession, d: String): (Array[Array[Long]], Array[Long]) = {
    import s.implicits._
    val sample = emb(s, d).filter(col("vec_id") % KmSampleMod === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, scaledVec(v)) }
      .persist()
    try {
      var centroids: Array[Array[Long]] =
        sample.orderBy(col("_1")).limit(KmClusters).collect().map(_._2)
      var counts = Array.fill(KmClusters)(0L)
      var t = 0
      while (t < KmIterations) {
        val cents = centroids
        val agg = sample
          .map { case (_, e) => (assignCluster(cents, e), (1L, e)) }
          .groupByKey(_._1)
          .mapValues(_._2)
          .reduceGroups { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
            val sums = new Array[Long](a._2.length)
            var i = 0
            while (i < sums.length) { sums(i) = a._2(i) + b._2(i); i += 1 }
            (a._1 + b._1, sums)
          }
          .collect() // ≤ k rows — the codebook sync, not a data collect
        val next = centroids.map(_.clone()) // empty clusters keep previous
        val cnt = Array.fill(KmClusters)(0L)
        agg.foreach { case (c, (n, sums)) =>
          cnt(c) = n
          next(c) = sums.map(_ / n) // truncating division — DuckDB `//`
        }
        centroids = next
        counts = cnt
        t += 1
      }
      (centroids, counts)
    } finally { sample.unpersist(); () }
  }

  private[operators] val kmeansBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  // every training constant is baked into the stage-dir name, so changing
  // k / iterations / sample mod can never silently reuse a stale codebook
  // (the Staging marker only fingerprints the input parquet)
  def kmeansStageDir(sfDir: String): String =
    s"/tmp/graft_stage/kmeans_k${KmClusters}_it${KmIterations}_m${KmSampleMod}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stages the trained index: the k×dim codebook (with member counts)
    * and the one-pass corpus assignment table. Build-once per sf dir
    * across queries and JVMs (graft.Staging marker + lock). */
  def ensureKmeansStaged(s: SparkSession, d: String): (String, String) = {
    val dir = kmeansStageDir(d)
    val centroidsPath = dir + "/centroids"
    val assignPath = dir + "/assign"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      kmeansBuildCount.incrementAndGet()
      val (cents, counts) = trainKmeans(s, d)
      import s.implicits._
      val codebook = for { c <- 0 until KmClusters; i <- 0 until Dim }
        yield (c, i, cents(c)(i), counts(c))
      codebook.toDF("cluster_id", "dim", "c_val", "n_members")
        .coalesce(1).write.mode("overwrite").parquet(centroidsPath)
      emb(s, d).select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (id, assignCluster(cents, scaledVec(v))) }
        .toDF("vec_id", "cluster_id")
        .write.mode("overwrite").parquet(assignPath)
    }: Unit
    (centroidsPath, assignPath)
  }

  /** `v_kmeans_train` — the trained codebook itself, hash-checked against
    * the fully unrolled k-means oracle: init, three exact-integer Lloyd's
    * rounds, final member counts. One row per (cluster, dimension). */
  def kmeansTrain(s: SparkSession, d: String): DataFrame = {
    val (cPath, _) = ensureKmeansStaged(s, d)
    s.read.parquet(cPath)
      .select(col("cluster_id"), col("dim"), col("c_val"), col("n_members"))
      .orderBy("cluster_id", "dim")
  }

  /** `v_ann_ivf_trained` — IVF over the TRAINED quantizer: queries probe
    * their 2 nearest trained centroids (exact integer L2), candidates
    * come from the staged assignment table (never a corpus re-cluster),
    * exact float-cosine re-rank within the probed cells. */
  def annIvfTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cPath, aPath) = ensureKmeansStaged(s, d)
    val rows = s.read.parquet(cPath)
      .select(col("cluster_id"), col("dim"), col("c_val")).collect() // k×dim, bounded
    val cents = Array.ofDim[Long](KmClusters, Dim)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val probes = emb(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (q, v) => topClusters(cents, scaledVec(v), NProbe).map(c => (q, c)) }
      .toDF("q_id", "cluster_id")
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    s.read.parquet(aPath)
      .join(broadcast(probes), "cluster_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(emb(s, d).select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queriesDf(s, d)), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---- TRAINED PQ codebooks: the same sampled integer Lloyd's, run PER
  // SUBSPACE — all PqSub codebooks train in one loop (assignment per
  // (vector, subspace), one k×PqSub-bounded reduceGroups sync per
  // iteration). With scaled-integer codewords the whole ADC path turns
  // INTEGER: LUT distances, code assignment, and the ADC sum are exact
  // longs end to end — no decimal accumulation needed — and the oracle
  // is the per-subspace unrolled CTE chain. This retires the "PQ borrows
  // the label centroids" note the same way v_kmeans_train retired IVF's. ----

  private val PqCw = 16 // codewords per subspace (finer than the 10-label codebook)

  private def subSlice(e: Array[Long], m: Int): Array[Long] = {
    val out = new Array[Long](PqSubDim)
    System.arraycopy(e, m * PqSubDim, out, 0, PqSubDim)
    out
  }

  private def trainPqKmeans(s: SparkSession, d: String)
    : (Array[Array[Array[Long]]], Array[Array[Long]]) = {
    import s.implicits._
    val sample = emb(s, d).filter(col("vec_id") % KmSampleMod === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, scaledVec(v)) }
      .persist()
    try {
      val initVecs = sample.orderBy(col("_1")).limit(PqCw).collect().map(_._2)
      var cents: Array[Array[Array[Long]]] =
        Array.tabulate(PqSub)(m => initVecs.map(subSlice(_, m)))
      var counts: Array[Array[Long]] = Array.fill(PqSub, PqCw)(0L)
      var t = 0
      while (t < KmIterations) {
        val cs = cents
        val agg = sample
          .flatMap { case (_, e) =>
            (0 until PqSub).iterator.map { m =>
              val sub = subSlice(e, m)
              ((m, assignCluster(cs(m), sub)), (1L, sub))
            }
          }
          .groupByKey(_._1)
          .mapValues(_._2)
          .reduceGroups { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
            val sums = new Array[Long](a._2.length)
            var i = 0
            while (i < sums.length) { sums(i) = a._2(i) + b._2(i); i += 1 }
            (a._1 + b._1, sums)
          }
          .collect() // ≤ PqSub × PqCw rows — the codebook sync
        val next = cents.map(_.map(_.clone()))
        val cnt = Array.fill(PqSub, PqCw)(0L)
        agg.foreach { case ((m, j), (n, sums)) =>
          cnt(m)(j) = n
          next(m)(j) = sums.map(_ / n)
        }
        cents = next
        counts = cnt
        t += 1
      }
      (cents, counts)
    } finally { sample.unpersist(); () }
  }

  private[operators] val pqKmeansBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  // the codeword count is baked into the dir: the Staging marker
  // fingerprints SOURCES, so a config change must change the path or a
  // stale codebook would satisfy the marker
  def pqKmeansStageDir(sfDir: String): String =
    s"/tmp/graft_stage/pq_kmeans_cw${PqCw}_it${KmIterations}_m${KmSampleMod}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stages the trained PQ index: the PqSub×PqCw×PqSubDim codebook (with
    * member counts) and the one-pass integer code table. */
  def ensurePqKmeansStaged(s: SparkSession, d: String): (String, String) = {
    val dir = pqKmeansStageDir(d)
    val codebookPath = dir + "/codebook"
    val codesPath = dir + "/codes"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      pqKmeansBuildCount.incrementAndGet()
      val (cents, counts) = trainPqKmeans(s, d)
      import s.implicits._
      val rows = for { m <- 0 until PqSub; j <- 0 until PqCw; i <- 0 until PqSubDim }
        yield (m, j, i, cents(m)(j)(i), counts(m)(j))
      rows.toDF("m", "codeword", "dim", "c_val", "n_members")
        .coalesce(1).write.mode("overwrite").parquet(codebookPath)
      emb(s, d).select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          val e = scaledVec(v)
          (0 until PqSub).iterator.map(m => (id, m, assignCluster(cents(m), subSlice(e, m))))
        }
        .toDF("vec_id", "m", "code")
        .write.mode("overwrite").parquet(codesPath)
    }: Unit
    (codebookPath, codesPath)
  }

  /** `v_pq_train` — the trained per-subspace codebook itself
    * (PqSub × PqCw × PqSubDim = 1024 hash-checked rows), oracle = the
    * per-subspace unrolled Lloyd's. */
  def pqKmeansTrain(s: SparkSession, d: String): DataFrame = {
    val (cbPath, _) = ensurePqKmeansStaged(s, d)
    s.read.parquet(cbPath)
      .select(col("m"), col("codeword"), col("dim"), col("c_val"), col("n_members"))
      .orderBy("m", "codeword", "dim")
  }

  /** `v_ann_pq_trained` — ADC retrieval over the TRAINED integer
    * codebooks: the broadcast LUT holds exact integer squared-L2 per
    * (query, subspace, codeword), the probe joins the 8-codes-per-vector
    * staged table, and the ADC sum is a plain long — floats never enter
    * the probe plan at all. */
  def annPqTrained(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cbPath, codesPath) = ensurePqKmeansStaged(s, d)
    val cbRows = s.read.parquet(cbPath)
      .select(col("m"), col("codeword"), col("dim"), col("c_val")).collect() // bounded
    val cents = Array.fill(PqSub, PqCw)(new Array[Long](PqSubDim))
    cbRows.foreach(r => cents(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3))
    val lut = emb(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (q, v) =>
        val e = scaledVec(v)
        for { m <- 0 until PqSub; j <- 0 until PqCw } yield {
          val sub = subSlice(e, m)
          val c = cents(m)(j)
          var d2 = 0L
          var i = 0
          while (i < PqSubDim) { val df = sub(i) - c(i); d2 += df * df; i += 1 }
          (q, m, j, d2)
        }
      }
      .toDF("q_id", "m", "code", "lut_d")
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d").asc, col("vec_id").asc)
    s.read.parquet(codesPath)
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lut_d")).as("approx_d"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("approx_d"))
      .orderBy("q_id", "rank")
  }

  /** `v_ann_mrr` — MEAN-RECIPROCAL-RANK overlay on the recall harness:
    * recall@K says whether the true neighbors appear; MRR says how HIGH
    * the first one lands — the metric retrieval stacks tune on when
    * only the top result is consumed (RAG with a 1-doc context). Per
    * (method, query): the minimum approx-list rank holding a true
    * top-K neighbor (0 = total miss) and rr_milli = 1000 div rank —
    * integer division, so the whole row hash-checks; the same staged
    * two-small-tables overlay economics as [[annRecall]]. */
  def annMrr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = stagedExactTopK(s, d).select(col("q_id"), col("vec_id"))
    val qs = exact.select(col("q_id")).distinct()
    val first = stagedEvalResults(s, d)
      .join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("method"), col("q_id")).agg(min(col("rank")).as("fr"))
    evalMethods.toDF("method").crossJoin(qs)
      .join(first, Seq("method", "q_id"), "left")
      .select(col("method"), col("q_id"),
        coalesce(col("fr"), lit(0)).cast("int").as("first_hit_rank"))
      .withColumn("rr_milli",
        when(col("first_hit_rank") > 0,
          expr("1000 div first_hit_rank")).otherwise(lit(0L)))
      .orderBy("method", "q_id")
  }

  /** Truth depths for the recall/MRR sweep: below, at, and far above the
    * serving depth [[K]] — K=1 is the RAG-one-context regime, K=[[K]] the
    * serving contract, K=25 coverage of a truth set 5× deeper than the
    * system returns (recall@25 of a 5-result system is bounded by 5/25 =
    * 0.2 — the sweep makes that visible instead of letting "recall 1.0 at
    * the only K we measured" stand). */
  private val RecallKs = Seq(1, K, 25)

  /** `v_ann_recall_k` — recall-at-K SWEEP: the staged depth-[[K]] result
    * lists graded against the true top-k for k ∈ [[RecallKs]]. One union
    * leg per k over the SAME two staged tables ([[stagedExactTopKDeep]],
    * [[stagedEvalResults]]) — the sweep multiplies overlay rows, not
    * corpus work; nothing here touches an embedding. */
  def annRecallAtK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = stagedExactTopKDeep(s, d)
      .select(col("q_id"), col("vec_id"), col("rank").as("trank"))
    val res = stagedEvalResults(s, d).select(col("method"), col("q_id"), col("vec_id"))
    val qs = ex.select(col("q_id")).distinct()
    RecallKs.map { k =>
      val hits = res.join(ex.filter(col("trank") <= k), Seq("q_id", "vec_id"))
        .groupBy(col("method"), col("q_id")).agg(count(lit(1)).as("n_hit"))
      evalMethods.toDF("method").crossJoin(qs)
        .join(hits, Seq("method", "q_id"), "left")
        .select(lit(k).as("k"), col("method"), col("q_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall", col("n_hit").cast("double") / lit(k.toDouble))
    }.reduce(_ unionByName _)
      .orderBy("k", "method", "q_id")
  }

  /** `v_ann_mrr_k` — the MRR overlay swept over the same truth depths:
    * per (k, method, query), the minimum RESULT-list rank holding a true
    * top-k neighbor (0 = miss) and its integer reciprocal. Same staged
    * inputs, same one-leg-per-k economics as [[annRecallAtK]]. */
  def annMrrAtK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = stagedExactTopKDeep(s, d)
      .select(col("q_id"), col("vec_id"), col("rank").as("trank"))
    val res = stagedEvalResults(s, d)
      .select(col("method"), col("q_id"), col("vec_id"), col("rank"))
    val qs = ex.select(col("q_id")).distinct()
    RecallKs.map { k =>
      val first = res.join(ex.filter(col("trank") <= k), Seq("q_id", "vec_id"))
        .groupBy(col("method"), col("q_id")).agg(min(col("rank")).as("fr"))
      evalMethods.toDF("method").crossJoin(qs)
        .join(first, Seq("method", "q_id"), "left")
        .select(lit(k).as("k"), col("method"), col("q_id"),
          coalesce(col("fr"), lit(0)).cast("int").as("first_hit_rank"))
        .withColumn("rr_milli",
          when(col("first_hit_rank") > 0,
            expr("1000 div first_hit_rank")).otherwise(lit(0L)))
    }.reduce(_ unionByName _)
      .orderBy("k", "method", "q_id")
  }

  // ---- Graph ANN: a two-layer navigable-small-world (NSW) — the graph
  // family (HNSW/NSW) that is today's default single-node ANN, re-shaped
  // for a distributed engine. The graph is STAGED (build-once, probe
  // many), out-degree is bounded, and every distance is the proven
  // FLOOR(v·1e6) integer mapping, so build, probe, and oracle are all
  // bit-deterministic.
  //
  //  * Layer 0: one node per vector; out-edges = the M nearest among its
  //    LSH-bucket mates (candidates from the SAME staged band index the
  //    LSH probe path uses — never an all-pairs build).
  //  * Layer 1: a COARSE layer of ids ≡ 0 (mod NswLayerMod) — the
  //    IVF-centroid analogue, a fixed fraction chosen so the layer stays
  //    effectively constant-sized; its all-pairs top-M build is bounded
  //    by construction the way k-means' k×k is.
  //  * Layer 2 (the HNSW-style ENTRY layer, r18): ids ≡ 0
  //    (mod NswLayerMod2) — a constant-bounded top layer scored
  //    EXHAUSTIVELY per query in ONE bounded job instead of walked
  //    greedily. This is the Spark-first re-expression of HNSW's upper
  //    layers: in this execution model the scarce resource is
  //    driver-sync ROUNDS (each beam hop is a cluster job), so a single
  //    |L2|×queries scoring job — the exact shape of the IVF coarse
  //    probe, |L2| playing the codebook role — beats the O(log N)
  //    one-hop-per-round greedy descent it replaces. At larger corpora
  //    the layer stays bounded the way IVF's k does (raise the mod /
  //    add a coarser layer); the per-query ENTRY it yields is what lets
  //    the lower layers run fewer rounds.
  //  * Probe: layer-2 exhaustive entry (1 job) → NswSteps1 beam rounds
  //    on layer 1 to localize → NswSteps rounds on layer 0; every
  //    layer-0 VISITED node is a candidate, re-ranked by exact float
  //    cosine like every other ANN leg. Probe cost is
  //    O(steps × beam × M) edge lookups — independent of corpus size,
  //    which is the property that makes graph ANN the default. The
  //    per-query entry cut the round budget from 5 jobs (fixed-entry
  //    seed + 2×L1 + 3×L0) to 4 (L2 entry + 1×L1 + 2×L0), asserted in
  //    IncrementalNswSpec. ----
  private val NswM = 8
  private val NswLayerMod = 16L
  private[operators] val NswLayerMod2 = 256L
  private val NswBeamW = 8
  private[operators] val NswSteps = 2
  private val NswBeam1W = 3
  private[operators] val NswSteps1 = 1

  /** Bounded-job counter for the NSW probe (seed + every beam
    * expansion increments once) — lets specs assert the round budget
    * instead of trusting the comment above. */
  private[operators] val nswProbeJobs = new java.util.concurrent.atomic.AtomicInteger(0)

  // p1 = edge-payload schema v1 (dst's scaled vector carried on the edge)
  def nswStageDir(sfDir: String): String =
    s"/tmp/graft_stage/nsw_m${NswM}_l${NswLayerMod}_b${NswBeamW}_p1_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Scaled-integer vector column — the same mapping as [[scaledVec]]. */
  private def scaledCol(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(CentroidScale)).cast("long"))

  /** Exact integer squared L2 between two scaled long arrays. */
  private def intD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Stage both edge layers once per corpus. Each edge CARRIES its
    * destination's scaled vector (the adjacency-with-payload trick every
    * graph-ANN store uses): beam expansion then scores candidates from
    * the edge row alone, so a probe touches the corpus exactly twice —
    * once to seed, once for the final float re-rank — instead of once
    * per beam step. The ×M payload duplication is the standard storage
    * trade for corpus-scan-free traversal. */
  def ensureNswStaged(s: SparkSession, d: String): (String, String) = {
    val dir = nswStageDir(d)
    val e0Path = dir + "/edges0"
    val e1Path = dir + "/edges1"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      val sv = emb(s, d).select(col("vec_id"), scaledCol(col("embedding")).as("sv"))
      val svS = sv.select(col("vec_id").as("src"), col("sv").as("sv_s"))
      val svD = sv.select(col("vec_id").as("dst"), col("sv").as("sv_d"))
      val wSrc = Window.partitionBy(col("src")).orderBy(col("d2").asc, col("dst").asc)
      def topM(pairs: DataFrame): DataFrame =
        pairs.join(svS, "src").join(svD, "dst")
          .select(col("src"), col("dst"),
            intD2(col("sv_s"), col("sv_d")).as("d2"), col("sv_d"))
          .withColumn("rn", row_number().over(wSrc)).filter(col("rn") <= NswM)
          .select("src", "dst", "d2", "sv_d")
      // layer 0: candidates from shared LSH buckets, never all-pairs
      val bands = stagedCorpusBands(s, d)
      topM(bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst")).distinct())
        .write.mode("overwrite").parquet(e0Path)
      // layer 1: the constant-sized coarse layer; bounded all-pairs
      val coarse = sv.filter(col("vec_id") % NswLayerMod === 0)
      topM(coarse.select(col("vec_id").as("src"))
        .join(coarse.select(col("vec_id").as("dst")), col("src") =!= col("dst")))
        .write.mode("overwrite").parquet(e1Path)
    }: Unit
    (e0Path, e1Path)
  }

  /** `v_ann_nsw` — the staged two-layer NSW probed with a fixed beam;
    * output shape matches every other ANN leg (exact-cosine re-rank of
    * the visited candidate set), oracle = the fully unrolled beam chain
    * (the d_pagerank pattern) over the identically rebuilt edges. */
  def annNsw(s: SparkSession, d: String): DataFrame = {
    val (e0Path, e1Path) = ensureNswStaged(s, d)
    val edges0 = s.read.parquet(e0Path).select(col("src"), col("dst"), col("sv_d"))
    val edges1 = s.read.parquet(e1Path).select(col("src"), col("dst"), col("sv_d"))
    // the entry layer is an arithmetic predicate — pushed to the scan,
    // no literal list, no pre-probe collect
    nswProbe(s, d, edges0, edges1, col("vec_id") % NswLayerMod2 === 0)
  }

  /** The beam probe over the given edge layers and entry frontier —
    * shared by the build-once graph ([[annNsw]]) and the incrementally
    * extended graph ([[incrementalNsw]]): the traversal does not care
    * whether an edge row came from the staged build or an appended
    * insert batch, which is exactly the property that makes the
    * append-only insert cheap.
    *
    * The beam frontier is O(queries × beam width × M) — bounded by the
    * probe CONSTANTS, independent of corpus size — so each descent round
    * SYNCS the frontier through the driver (the same ≤k-row discipline
    * as the IVF codebook and BPE argmax syncs) and the cluster runs
    * exactly ONE bounded job per round: scan the edge table pruned to
    * the frontier's out-edges (`isin` → a pushed IN filter on `src`),
    * score the candidates from the EDGE PAYLOAD (dst's staged scaled
    * vector) against the broadcast query set, collect the O(q×beam×M)
    * scored rows. Top-W selection and the visited set are driver
    * arithmetic over those rows with the same (d2 asc, node asc)
    * tie-break the windowed form used — bit-identical beams. The
    * previous shape chained the rounds as 32-partition window shuffles
    * (later localCheckpoint-pinned): at bench scale the probe was pure
    * scheduling overhead, and at 100 TB the per-round work is the same
    * pruned postings scan either way. The corpus is touched exactly
    * twice: the ENTRY-LAYER scoring (layer-2 predicate pushed to the
    * scan — HNSW's upper-layer descent collapsed into one bounded job,
    * see the family comment) and the final exact-cosine re-rank of the
    * visited set. `l2Filter` selects the entry layer (an arithmetic
    * predicate — base-only for the incremental graph). */
  private def nswProbe(s: SparkSession, d: String,
      edges0: DataFrame, edges1: DataFrame, l2Filter: Column): DataFrame = {
    import s.implicits._
    // the scaled query vectors, synced once: O(queries) rows, bounded
    val qRows: Seq[(Long, Seq[Long])] = queriesDf(s, d)
      .select(col("q_id"), scaledCol(col("q_emb")).as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val qvDf = qRows.toDF("q_id", "qv")
    // one bounded job: score `pairs` (q_id → frontier nodes) from the
    // edge payload, collect the scored candidate rows
    def expandScore(pairs: Seq[(Long, Long)], edges: DataFrame): Seq[(Long, Long, Long)] = {
      nswProbeJobs.incrementAndGet(): Unit
      val nodes = pairs.map(_._2).distinct
      edges.filter(col("src").isin(nodes: _*))
        .join(broadcast(pairs.toDF("q_id", "src")), Seq("src"))
        .join(broadcast(qvDf), Seq("q_id"))
        .select(col("q_id"), col("dst").as("node"),
          intD2(col("qv"), col("sv_d")).as("d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // driver top-W: distinct rows, (d2 asc, node asc) per query — the
    // exact windowed-row_number order of the unrolled-SQL oracle
    def topW(rows: Seq[(Long, Long, Long)], width: Int): Seq[(Long, Long, Long)] =
      rows.distinct.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy(t => (t._3, t._2)).take(width)
      }
    // entry: the constant-bounded TOP LAYER scored exhaustively per
    // query — one bounded job (|L2| × queries rows), predicate pushed
    // to the scan; the probe's first of two corpus touches. The top-W
    // of this scoring IS the per-query entry beam.
    nswProbeJobs.incrementAndGet(): Unit
    val seed: Seq[(Long, Long, Long)] = emb(s, d)
      .filter(l2Filter)
      .select(col("vec_id").as("node"), scaledCol(col("embedding")).as("sv"))
      .crossJoin(broadcast(qvDf))
      .select(col("q_id"), col("node"), intD2(col("qv"), col("sv")).as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    var beam = topW(seed, NswBeam1W)
    for (_ <- 1 to NswSteps1)
      beam = topW(beam ++ expandScore(beam.map(t => (t._1, t._2)), edges1), NswBeam1W)
    var visited: Set[(Long, Long)] = beam.map(t => (t._1, t._2)).toSet
    for (_ <- 1 to NswSteps) {
      val uni = beam ++ expandScore(beam.map(t => (t._1, t._2)), edges0)
      visited ++= uni.map(t => (t._1, t._2))
      beam = topW(uni, NswBeamW)
    }
    // second corpus touch: exact float re-rank of the visited set
    val visitedDf = visited.toSeq.sorted.toDF("q_id", "vec_id")
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(visitedDf), Seq("vec_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(queriesDf(s, d)), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---- Incremental NSW maintenance: the graph-index counterpart of
  // the IVF delta-ingest below. A build-once graph forces a full
  // rebuild per arriving batch; instead the BASE GRAPH IS FROZEN and an
  // arriving vector INSERTS by (a) finding its M nearest base nodes
  // through the staged band index — which carries each base vector as
  // PAYLOAD, so candidate scoring touches only the index and the delta,
  // never a base-vector scan — and (b) APPENDING forward (delta→base)
  // and back (base→delta) edge rows: new rows in new files, no existing
  // edge rewritten (base out-degrees may exceed M — the documented
  // append-only trade; a later rebalance re-ranks, the v_ann_rebalance
  // decision). The probe is the SAME beam traversal; back-links are
  // what make inserted vectors retrievable. ----

  private[operators] val incNswBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  // p1 = payload schema v1 (bands carry scaled base vectors)
  def incNswStageDir(sfDir: String): String =
    s"/tmp/graft_stage/incnsw_m${NswM}_l${NswLayerMod}_p1_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stages the BASE half: the band index WITH vector payload plus the
    * base-only edge layers (the [[ensureNswStaged]] build restricted to
    * non-delta vectors). Built once per corpus fingerprint. */
  def ensureIncNswStaged(s: SparkSession, d: String): (String, String, String) = {
    val dir = incNswStageDir(d)
    val bandsP = dir + "/bands"
    val e0P = dir + "/edges0"
    val e1P = dir + "/edges1"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      incNswBuildCount.incrementAndGet()
      val base = emb(s, d).filter(!isDeltaVec)
      base.select(col("vec_id"), scaledCol(col("embedding")).as("sv"),
          posexplode(lshBandKeysNative(col("embedding"))).as(Seq("band", "bkey")))
        .write.mode("overwrite").parquet(bandsP)
      val svb = base.select(col("vec_id"), scaledCol(col("embedding")).as("sv"))
      val svS = svb.select(col("vec_id").as("src"), col("sv").as("sv_s"))
      val svD = svb.select(col("vec_id").as("dst"), col("sv").as("sv_d"))
      val wSrc = Window.partitionBy(col("src")).orderBy(col("d2").asc, col("dst").asc)
      def topM(pairs: DataFrame): DataFrame =
        pairs.join(svS, "src").join(svD, "dst")
          .select(col("src"), col("dst"),
            intD2(col("sv_s"), col("sv_d")).as("d2"), col("sv_d"))
          .withColumn("rn", row_number().over(wSrc)).filter(col("rn") <= NswM)
          .select("src", "dst", "d2", "sv_d")
      val bands = s.read.parquet(bandsP).select(col("vec_id"), col("band"), col("bkey"))
      topM(bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst")).distinct())
        .write.mode("overwrite").parquet(e0P)
      val coarse = svb.filter(col("vec_id") % NswLayerMod === 0)
      topM(coarse.select(col("vec_id").as("src"))
        .join(coarse.select(col("vec_id").as("dst")), col("src") =!= col("dst")))
        .write.mode("overwrite").parquet(e1P)
    }: Unit
    (bandsP, e0P, e1P)
  }

  /** `v_incremental_nsw` — probe over the INCREMENTALLY MAINTAINED
    * graph: the delta batch band-hashes (one narrow pass over the
    * delta), candidates come from the staged payload-carrying band
    * index, the top-M per delta vector append as forward + back edge
    * rows, and the shared beam probe runs over base ∪ appended edges.
    * REQUIREs the staged graph was not rebuilt by the insert. The
    * oracle rebuilds the same base graph + insert edges from scratch in
    * SQL — append ≡ rebuild-with-frozen-base, hash-checked. */
  def incrementalNsw(s: SparkSession, d: String): DataFrame = {
    val (bandsP, e0P, e1P) = ensureIncNswStaged(s, d)
    val builds = incNswBuildCount.get()
    val baseBands = s.read.parquet(bandsP)
      .select(col("vec_id").as("dst"), col("sv").as("sv_d"), col("band"), col("bkey"))
    val delta = emb(s, d).filter(isDeltaVec)
      .select(col("vec_id").as("src"), scaledCol(col("embedding")).as("sv_s"),
        posexplode(lshBandKeysNative(col("embedding"))).as(Seq("band", "bkey")))
    val wSrc = Window.partitionBy(col("src")).orderBy(col("d2").asc, col("dst").asc)
    // pinned: the O(delta×M) insert-edge batch feeds THREE union legs of
    // an edge table the probe scans once per beam round — unpinned, the
    // band join + window would re-execute per scan
    val dEdges = delta.join(baseBands, Seq("band", "bkey"))
      .select(col("src"), col("sv_s"), col("dst"), col("sv_d"))
      // dedupe shared-band repeats on the KEY PAIR only: the payload
      // vectors are functions of src/dst, and hashing the long arrays
      // through a 4-column distinct would shuffle the payload twice
      .dropDuplicates("src", "dst")
      .select(col("src"), col("dst"),
        intD2(col("sv_s"), col("sv_d")).as("d2"), col("sv_d"), col("sv_s"))
      .withColumn("rn", row_number().over(wSrc)).filter(col("rn") <= NswM)
      .localCheckpoint()
    require(incNswBuildCount.get() == builds,
      "the insert must not rebuild the staged base graph")
    val edges0 = s.read.parquet(e0P).select(col("src"), col("dst"), col("sv_d"))
      .unionByName(dEdges.select(col("src"), col("dst"), col("sv_d")))
      .unionByName(dEdges.select(col("dst").as("src"),
        col("src").as("dst"), col("sv_s").as("sv_d"))) // back-links
    val edges1 = s.read.parquet(e1P).select(col("src"), col("dst"), col("sv_d"))
    // entry layer = BASE-only layer-2 nodes (the frozen graph owns the
    // entry structure; inserts reach the beam via back-links)
    nswProbe(s, d, edges0, edges1,
      !isDeltaVec && col("vec_id") % NswLayerMod2 === 0)
  }

  // ---- Incremental ANN maintenance: the delta-ingest shape on the
  // VECTOR side (the d_incremental_dedup discipline from
  // operators/Dedup.scala applied to the IVF index). A production corpus
  // receives embedding batches daily; rebuilding the index per batch
  // re-scans the accumulated base — O(corpus) work for O(delta) new
  // vectors. Instead the COARSE QUANTIZER IS FROZEN at base-build time:
  // an arriving vector ASSIGNS against the existing staged centroids
  // (one broadcast pass over the delta only) and its posting row is
  // APPENDED to the staged postings — no base vector is re-read, no
  // centroid is re-trained, base-vs-base work never appears in the
  // plan. Because per-vector assignment is a deterministic function of
  // (vector, centroids) and the centroids are fixed, probe-after-append
  // is EXACTLY probe-after-full-rebuild-with-the-same-centroids — the
  // oracle rebuilds from scratch in SQL and the hashes must agree.
  // The delta here is a deterministic fixture slice (vec_id % 10 = 7,
  // the incremental-dedup stand-in for an arriving batch; note probe
  // q_id 7 IS a freshly-ingested vector). Postings are written
  // partitioned by assigned label, so a probe's label filter prunes
  // partition directories before the scan — at 100 TB a probe reads
  // NProbe/k of the index, never all of it. ----

  private val isDeltaVec: Column = pmod(col("vec_id"), lit(10)) === lit(7)
  // the erased slice for v_ann_delete — disjoint from the delta slice
  private val isTombVec: Column = pmod(col("vec_id"), lit(10)) === lit(4)

  private[operators] val incAnnBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def incAnnStageDir(sfDir: String): String =
    "/tmp/graft_stage/incann_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Nearest-frozen-centroid assignment — the ONLY per-vector work an
    * ingest batch pays. Deterministic: cosine desc, label asc tie-break. */
  private def assignNearest(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("a_cos").desc, col("c_label").asc)
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("c_label"),
        cosine(col("embedding"), col("centroid")).as("a_cos"))
      .withColumn("ar", row_number().over(w)).filter(col("ar") === 1)
      .select(col("vec_id"), col("embedding"), col("c_label"))
  }

  /** Stages the BASE half of the incremental IVF index: centroids
    * trained on base vectors only (frozen thereafter) + base postings
    * (vec_id, embedding, assigned label), label-partitioned. Built once
    * per corpus across queries and JVMs (graft.Staging). */
  def ensureIncAnnStaged(s: SparkSession, d: String): (String, String) = {
    val dir = incAnnStageDir(d)
    val centroidsPath = dir + "/centroids"
    val postingsPath = dir + "/postings"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      incAnnBuildCount.incrementAndGet()
      centroidArraysOf(emb(s, d).filter(!isDeltaVec))
        .write.mode("overwrite").parquet(centroidsPath)
      assignNearest(emb(s, d).filter(!isDeltaVec), s.read.parquet(centroidsPath))
        .write.mode("overwrite").partitionBy("c_label").parquet(postingsPath)
    }: Unit
    (centroidsPath, postingsPath)
  }

  private[operators] val rebalBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def rebalStageDir(sfDir: String): String =
    "/tmp/graft_stage/rebal_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stages the REBUILT index the rebalance decision's rebuild leg
    * produces: the quantizer retrained on base+delta plus its full
    * posting assignment. A retrain is a pure corpus function — identical
    * inputs, identical codebook — so re-paying the sampled k-means and
    * the full re-assignment per query run is waste; the decision rule
    * itself stays live in [[annRebalance]] (metadata-plane counts every
    * run) and the retrained-vs-frozen movement REQUIRE runs against this
    * staged codebook. Build-once per corpus (graft.Staging), same
    * discipline as [[ensureIncAnnStaged]]. */
  def ensureRebalancedStaged(s: SparkSession, d: String): (String, String) = {
    val dir = rebalStageDir(d)
    val centroidsPath = dir + "/centroids"
    val postingsPath = dir + "/postings"
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      rebalBuildCount.incrementAndGet()
      centroidArraysOf(emb(s, d))
        .write.mode("overwrite").parquet(centroidsPath)
      assignNearest(emb(s, d), s.read.parquet(centroidsPath))
        .write.mode("overwrite").partitionBy("c_label").parquet(postingsPath)
    }: Unit
    (centroidsPath, postingsPath)
  }

  /** `v_incremental_ann` — IVF probe over the INCREMENTALLY MAINTAINED
    * index: the delta batch assigns against the frozen base-trained
    * centroids (cost ∝ delta), its postings union the staged base
    * postings (in production: appended as new files under the assigned
    * label's partition — a pure file append, no rewrite), and the probe
    * ranks over the merged index. Hash-equal to a full rebuild with the
    * same centroids — the oracle IS that rebuild. */
  def incrementalAnn(s: SparkSession, d: String): DataFrame = {
    val (cPath, pPath) = ensureIncAnnStaged(s, d)
    val cents = s.read.parquet(cPath)
    // the arriving batch: one pass over the delta slice, nothing else
    val deltaPostings = assignNearest(emb(s, d).filter(isDeltaVec), cents)
    val postings = s.read.parquet(pPath)
      .select(col("vec_id"), col("embedding"), col("c_label"))
      .unionByName(deltaPostings)
    incAnnProbe(s, d, cents, postings)
  }

  /** The probe half, shared with the inline full-rebuild twin. */
  private def incAnnProbe(s: SparkSession, d: String,
      cents: DataFrame, postings: DataFrame): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_label").asc)
    val probed = queriesDf(s, d)
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        cosine(col("q_emb"), col("centroid")).as("c_cos"))
      .withColumn("pr", row_number().over(probeW)).filter(col("pr") <= NProbe)
      .select(col("q_id"), col("q_emb"), col("c_label"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    postings.join(broadcast(probed), "c_label")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineF(col("embedding"), col("q_emb")).as("cosine"))
      .withColumn("rank", row_number().over(rankW)).filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  // gate at 3x the expected same-distribution noise: E||Δc||² ≈
  // σ²d·(1/n_a + 1/n_b) with σ²d ≈ E||v||² ≈ 1 for this unit-scale
  // corpus — the threshold SCALES with slice sizes, so the gate holds
  // at every sf (a fixed cutoff drowns in noise on small slices and
  // goes blind on huge ones)
  private val DriftNoiseMult = 3.0

  /** `v_embed_drift` — EMBEDDING-DISTRIBUTION DRIFT GATE between two
    * ingest slices (the health check an embedding pipeline runs when
    * the encoder version, preprocessing, or upstream corpus changes):
    * per-slice centroids from EXACT integer sums (the
    * [[centroidArraysOf]] quantization), compared by SQUARED L2
    * DISTANCE — cosine is the wrong statistic here: the corpus is
    * zero-centered, so half-vs-half centroids are pure noise and their
    * angle carries no signal, while ||Δcentroid||² concentrates near
    * σ²d·(1/n_a + 1/n_b) for same-distribution halves and jumps by
    * the shift² for a planted encoder change. Drift fires above
    * [[DriftNoiseMult]]× that expectation. Two scenarios keep both
    * regimes
    * honest: the raw halves of one corpus must NOT drift, and a
    * planted encoder shift (+0.5 on dimension 0 of one slice —
    * op-for-op reproduced by the oracle, floor-exact) MUST. One
    * aggregation pass per slice — O(dim) state, nothing corpus-sized
    * on the driver. */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    def centRow(vecs: DataFrame, shiftDim0: Boolean): DataFrame = {
      val sums = (0 until Dim).map { i =>
        val base = col("embedding").getItem(i).cast("double")
        val v = if (i == 0 && shiftDim0) base + lit(0.5) else base
        sum(floor(v * lit(CentroidScale))).as(s"s$i")
      }
      vecs.agg(count(lit(1)).as("n"), sums: _*)
        .select(col("n"), array((0 until Dim).map(i =>
          col(s"s$i").cast("double") / (col("n").cast("double") * lit(CentroidScale))): _*)
          .as("cv"))
    }
    def scenario(name: String, shifted: Boolean): DataFrame = {
      val a = centRow(emb(s, d).filter(col("vec_id") % 2 === 0), shiftDim0 = false)
        .select(col("n").as("n_a"), col("cv").as("ca"))
      val b = centRow(emb(s, d).filter(col("vec_id") % 2 === 1), shiftDim0 = shifted)
        .select(col("n").as("n_b"), col("cv").as("cb"))
      a.crossJoin(b) // 1 row × 1 row
        .select(lit(name).as("scenario"), col("n_a"), col("n_b"),
          aggregate(zip_with(col("ca"), col("cb"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v).as("centroid_dist2"))
        .withColumn("drifted",
          (col("centroid_dist2") >
            lit(DriftNoiseMult) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
            .cast("int"))
    }
    scenario("same", shifted = false)
      .unionByName(scenario("shifted", shifted = true))
      .orderBy("scenario")
  }

  // ---- The REBALANCE DECISION above incremental maintenance (the
  // k_sketch_planned_join discipline applied to index ops): appending
  // against frozen centroids is O(delta) but degrades the quantizer as
  // the corpus drifts — so a maintenance job decides per batch from
  // METADATA-PLANE counts (manifest row counts, never a data scan):
  // ratio ≤ threshold → APPEND; above → REBUILD (retrain the coarse
  // quantizer on base+delta). Both regimes must be exercised or the
  // decision is dead code. ----
  private val RebalanceThresholdPct = 25L

  /** `v_ann_rebalance` — two arriving-batch scenarios decided and
    * EXECUTED: the small batch (the `v_incremental_ann` delta slice,
    * 10%) must take the append path WITHOUT retraining (REQUIREd: the
    * staged build counter does not move), the large batch (two thirds
    * of the corpus) must take the rebuild path and actually produce a
    * RETRAINED quantizer (REQUIREd: at least one retrained centroid
    * differs from the frozen staged one — a rebuild that reuses the old
    * centroids is a mislabeled append). Output is the decision ledger a
    * maintenance job logs: counts, ratio, decision, and the executed
    * index's posting/centroid cardinalities. The rebuild's retrain is
    * STAGED ([[ensureRebalancedStaged]] — build-once per corpus); the
    * decision inputs and both REQUIREs execute on every run. */
  def annRebalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cPath, pPath) = ensureIncAnnStaged(s, d)
    val frozen = s.read.parquet(cPath)
    def scenario(name: String, isDelta: Column): (String, Long, Long, Long, String, Long, Long) = {
      // both regime counts in ONE corpus pass (conditional sums), not
      // two. Symmetric when/when (no otherwise): a NULL predicate row
      // counts toward NEITHER leg — the two-filter-count semantics this
      // rewrite replaced — instead of silently falling into base_n; and
      // coalesce pins the empty-corpus sum (NULL) back to 0.
      val cnt = emb(s, d).agg(
        coalesce(sum(when(isDelta, 0L).when(!isDelta, 1L)), lit(0L)).as("base_n"),
        coalesce(sum(when(isDelta, 1L).when(!isDelta, 0L)), lit(0L)).as("delta_n")).collect()(0)
      val baseN = cnt.getLong(0)
      val deltaN = cnt.getLong(1)
      // empty base (coalesce pinned the sum to 0): any arriving batch is
      // by definition a rebuild — and the 0-denominator ratio is moot
      val ratioPct = if (baseN == 0) 100L else deltaN * 100L / baseN
      val decision = if (ratioPct <= RebalanceThresholdPct) "append" else "rebuild"
      val builds = incAnnBuildCount.get()
      val (nCentroids, nPostings) =
        if (decision == "append") {
          val postings = s.read.parquet(pPath)
            .select(col("vec_id"), col("embedding"), col("c_label"))
            .unionByName(assignNearest(emb(s, d).filter(isDelta), frozen))
          require(incAnnBuildCount.get() == builds,
            "append path must not rebuild the staged index")
          (frozen.count(), postings.count())
        } else {
          // the rebuild leg reads the STAGED retrained index (a pure
          // corpus function — see ensureRebalancedStaged); the movement
          // REQUIRE stays live against the staged codebook, and the
          // posting count is a parquet-metadata read
          val (rcPath, rpPath) = ensureRebalancedStaged(s, d)
          val retrained = s.read.parquet(rcPath)
          val moved = retrained.as("r")
            .join(frozen.as("f"), col("r.c_label") === col("f.c_label"))
            .filter(col("r.centroid") =!= col("f.centroid")).limit(1).count()
          require(moved > 0,
            "rebuild must retrain: no centroid moved vs the frozen quantizer")
          (retrained.count(), s.read.parquet(rpPath).count())
        }
      (name, baseN, deltaN, ratioPct, decision, nCentroids, nPostings)
    }
    Seq(
      scenario("daily_batch", isDeltaVec),
      scenario("backfill", pmod(col("vec_id"), lit(3)) =!= 0))
      .toDF("scenario", "base_n", "delta_n", "ratio_pct", "decision",
        "n_centroids", "n_postings")
      .orderBy("scenario")
  }

  /** The one-plan full-rebuild formulation — the executable spec of
    * [[incrementalAnn]]'s semantics (IncrementalAnnSpec asserts
    * append ≡ rebuild row-for-row); NOT the production shape: it
    * re-trains nothing but re-assigns every base vector per run. */
  private[operators] def incrementalAnnInline(s: SparkSession, d: String): DataFrame = {
    val cents = centroidArraysOf(emb(s, d).filter(!isDeltaVec)).localCheckpoint()
    incAnnProbe(s, d, cents, assignNearest(emb(s, d), cents))
  }

  // ---- Diversity-aware selection: MMR rerank + greedy k-center coreset.
  // Both are the data-CURATION side of similarity search: MMR picks a
  // small result set that is relevant AND mutually dissimilar (the RAG
  // context-window packer's dial); k-center picks corpus representatives
  // maximizing coverage (the D4-style diversification/pruning pass). ----

  private[operators] val MmrPool = 10
  private[operators] val MmrK = 5

  /** `v_mmr_rerank` — Maximal Marginal Relevance over the staged exact
    * top-[[MmrPool]] candidate pool: greedily pick [[MmrK]] results per
    * query, each step's winner maximizing `0.5·rel − 0.5·max-sim-to-
    * already-picked` (λ = 1/2; ties by vec_id asc). Pure top-k repeats
    * near-duplicate hits; MMR is the standard fix when the k results
    * feed a context window.
    *
    * Scale shape: the candidate pool is Q×[[MmrPool]] ids read from the
    * staged truth table; ONE corpus scan attaches their embeddings
    * (pool broadcast, semi-join side); the pairwise-sim table
    * (Q×C×(C−1) rows) and each greedy pick are localCheckpoint-pinned
    * BOUNDED frames — the k-step unroll never re-touches the corpus.
    * All doubles are the shared fold/`list_reduce` cosine, so the
    * greedy trajectory is bit-identical cross-engine. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    // single-partition pins: every frame below is bounded (≤ Q×C²), so
    // the k-step unroll should run 1-task jobs, not 32-partition shuffles
    val cand = stagedExactTopKDeep(s, d).filter(col("rank") <= MmrPool)
      .select(col("q_id"), col("vec_id"), col("cosine").as("rel"))
      .coalesce(1).localCheckpoint() // bounded: Q × MmrPool rows
    val candV = emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(cand.select(col("q_id"), col("vec_id"))), Seq("vec_id"))
    val aSide = candV.select(col("q_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val bSide = candV.select(col("q_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val pairs = aSide.join(bSide, Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        cosineF(col("a_emb"), col("b_emb")).as("sim"))
      .coalesce(1).localCheckpoint() // bounded: Q × MmrPool × (MmrPool−1) rows
    val w = Window.partitionBy(col("q_id"))
    var picked = cand
      .withColumn("rn",
        row_number().over(w.orderBy(col("rel").desc, col("vec_id").asc)))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("step", lit(1))
      .coalesce(1).localCheckpoint() // bounded: Q rows per step, ≤ Q × MmrK total
    for (t <- 2 to MmrK) {
      val ms = pairs
        .join(picked.select(col("q_id"), col("vec_id").as("b_id")),
          Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id")).agg(max(col("sim")).as("maxsim"))
        .withColumnRenamed("a_id", "vec_id")
      val pick = cand
        .join(picked.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
        .join(ms, Seq("q_id", "vec_id"))
        .withColumn("score", lit(0.5) * col("rel") - lit(0.5) * col("maxsim"))
        .withColumn("rn",
          row_number().over(w.orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("rel"), lit(t).as("step"))
      picked = picked.unionByName(pick).coalesce(1).localCheckpoint()
    }
    picked.select(col("q_id"), col("step"), col("vec_id"), col("rel"))
      .orderBy("q_id", "step")
  }

  // The MMR selection is a pure corpus function (fixed probe set, staged
  // pool, deterministic greedy) — the eval overlay reads it STAGED (the
  // stagedEvalResults discipline) instead of re-running the greedy chain
  // per overlay; the live unroll stays measured in `v_mmr_rerank` itself.
  private[operators] val mmrBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  def mmrStageDir(sfDir: String): String =
    s"/tmp/graft_stage/mmr_p${MmrPool}_k${MmrK}_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private[operators] def ensureMmrStaged(s: SparkSession, d: String): String = {
    val dir = mmrStageDir(d)
    graft.Staging.ensure(dir, Seq(s"$d/embeddings.parquet")) {
      mmrBuildCount.incrementAndGet()
      mmrRerank(s, d).write.mode("overwrite").parquet(dir + "/picks")
    }: Unit
    dir + "/picks"
  }

  /** `v_mmr_gain` — the eval overlay for [[mmrRerank]] (the recall/MRR
    * harness discipline): per method, mean relevance and mean intra-list
    * pairwise cosine of the final 5-list — MMR against the pure-relevance
    * exact top-5. The two-row ledger quantifies the trade the reranker
    * buys: lower redundancy (mean_intra_sim) at a small mean_rel cost;
    * the direction of both inequalities is spec-pinned. Bounded overlay:
    * the lists are Q×K rows (MMR's read STAGED — see above), ONE corpus
    * scan attaches member embeddings, means are decimal-exact
    * ([[graft.QueryDsl.davg]]). */
  def mmrGain(s: SparkSession, d: String): DataFrame = {
    val mmr = s.read.parquet(ensureMmrStaged(s, d))
      .select(lit("mmr").as("method"), col("q_id"), col("vec_id"), col("rel"))
    val topk = stagedExactTopK(s, d)
      .select(lit("topk").as("method"), col("q_id"), col("vec_id"),
        col("cosine").as("rel"))
    val lists = mmr.unionByName(topk).coalesce(1).localCheckpoint() // 2×Q×K rows
    val withV = emb(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(lists.select(col("method"), col("q_id"), col("vec_id"))),
        Seq("vec_id"))
    val aSide = withV.select(col("method"), col("q_id"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val bSide = withV.select(col("method"), col("q_id"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val pairSim = aSide.join(bSide, Seq("method", "q_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("method"), cosineF(col("a_emb"), col("b_emb")).as("sim"))
    // davg (not davg4) audited r21 against the quality-mean grid-tie
    // class: that bug requires values CONSTRUCTED on the 1e-4 decimal
    // grid (rational arithmetic landing exactly on k·1e-4 + 5e-5, where
    // Spark's shortest-rendering HALF_UP and DuckDB's scaled-binary
    // rounding disagree). `sim`/`rel` are cosines — dot products through
    // two sqrt's — whose shortest decimal renderings terminate at 5
    // digits only by ~1e-11 chance per value, not systematically; the
    // davg4 pre-round would CHANGE the published means for no structural
    // risk. Revisit only if an SF sweep ever hash-splits these columns.
    val simAgg = pairSim.groupBy(col("method"))
      .agg(graft.QueryDsl.davg(col("sim")).as("mean_intra_sim"))
    val relAgg = lists.groupBy(col("method"))
      .agg(count(lit(1)).as("n_rows"), graft.QueryDsl.davg(col("rel")).as("mean_rel"))
    relAgg.join(simAgg, Seq("method"))
      .select(col("method"), col("n_rows"), col("mean_rel"), col("mean_intra_sim"))
      .orderBy("method")
  }

  private[operators] val KCenterK = 5

  /** `v_kcenter_coreset` — greedy k-center (Gonzalez 2-approximation)
    * corpus representative selection: seed at MIN(vec_id), then
    * [[KCenterK]]−1 rounds each picking the point FARTHEST from the
    * selected set (max of min squared L2; ties by vec_id asc). The
    * output ledger is (step, vec_id, mind2) — mind2 is the coverage
    * radius² the step closed, NULL for the seed; the classic invariant
    * (the radius sequence never increases) is spec-pinned.
    *
    * Scale shape: each round is ONE full-corpus aggregation with NO
    * shuffle — the ≤k selected vectors travel as a broadcast literal,
    * per-row min-distance folds into a single global max(struct(...))
    * argmax (map-side partial agg, one row out). k−1 bounded 1-row
    * driver syncs total, the documented frontier discipline (NSW beam,
    * IVF codebooks). Distances are scaled-integer ([[CentroidScale]])
    * squared L2 — integer-exact, so the greedy trajectory is
    * bit-identical cross-engine. */
  def kcenterCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sv = emb(s, d).select(col("vec_id"), scaledCol(col("embedding")).as("sv"))
    val seed = sv.orderBy(col("vec_id").asc).limit(1)
      .collect()(0) // bounded sync #1: the 1-row seed
    var selected: Vector[(Int, Long, Option[Long], Seq[Long])] =
      Vector((1, seed.getLong(0), None, seed.getSeq[Long](1)))
    for (t <- 2 to KCenterK) {
      val selVecs = typedlit(selected.map(_._4))
      val selIds = selected.map(_._2)
      val mind2 = array_min(transform(selVecs, sel => intD2(col("sv"), sel)))
      // argmax by (mind2 desc, vec_id asc): struct max compares mind2
      // first, then -vec_id (unique, so the sv payload never compares)
      val far = sv.filter(!col("vec_id").isin(selIds: _*))
        .select(struct(mind2.as("mind2"), (-col("vec_id")).as("nid"),
          col("sv").as("sv")).as("c"))
        .agg(max(col("c")).as("m"))
        .select(col("m.mind2"), (-col("m.nid")).as("vec_id"), col("m.sv"))
        .collect()(0) // bounded sync: one argmax row per round
      selected = selected :+
        ((t, far.getLong(1), Some(far.getLong(0)), far.getSeq[Long](2)))
    }
    selected.map { case (step, id, mind2, _) => (step, id, mind2) }
      .toDF("step", "vec_id", "mind2")
      .orderBy("step")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v_incremental_ann" -> (incrementalAnn _),
    "v_ann_filtered" -> (annFiltered _),
    "v_ann_delete" -> (annDelete _),
    "v_ann_rebalance" -> (annRebalance _),
    "v_embed_drift" -> (embedDrift _),
    "v_incremental_nsw" -> (incrementalNsw _),
    "v_ann_nsw" -> (annNsw _),
    "v_ann_mrr" -> (annMrr _),
    "v_ann_mrr_k" -> (annMrrAtK _),
    "v_ann_recall_k" -> (annRecallAtK _),
    "v_embed_stats" -> (embedStats _),
    "v_kmeans_train" -> (kmeansTrain _),
    "v_ann_ivf_trained" -> (annIvfTrained _),
    "v_pq_train" -> (pqKmeansTrain _),
    "v_ann_pq_trained" -> (annPqTrained _),
    "v_ann_pq" -> (annPq _),
    "v_ann_ivfpq" -> (annIvfPq _),
    "v_incremental_ivfpq" -> (incrementalIvfPq _),
    "v_ann_pq_refine" -> (annPqRefine _),
    "v_cosine_topk" -> (cosineTopK _),
    "v_ann_ivf" -> (annIvf _),
    "v_ann_lsh" -> (annLsh _),
    "v_ann_recall" -> (annRecall _),
    "v_matryoshka" -> (matryoshka _),
    "v_rag_e2e" -> (ragE2e _),
    "v_ivf_sweep" -> (ivfSweep _),
    "v_ann_quantized" -> (annQuantized _),
    "v_hard_negatives" -> (hardNegatives _),
    "v_hybrid_search" -> (hybridSearch _),
    "v_lsh_candidates" -> (embedLshCandidates _),
    "v_triplets" -> (triplets _),
    "v_poisoned_lsh" -> (poisonedLshBands _),
    "v_mmr_rerank" -> (mmrRerank _),
    "v_mmr_gain" -> (mmrGain _),
    "v_kcenter_coreset" -> (kcenterCoreset _),
  )

  private[operators] val sqlCos = {
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_transform(range(0, 64),
         |  i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x,y) -> x+y)""".stripMargin
    (a: String, b: String) =>
      s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  }

  private def hex8(m: String, s: Int): String = graft.QueryDsl.sqlHex8(m, s)

  /** Shared DuckDB prefix rebuilding queries + the SRP band-key index:
    * md5-derived hyperplanes, sign bits, (vec_id, band, bkey). The exact
    * prefix the LSH probe AND the NSW layer-0 edge build both consume. */
  private lazy val lshBandsCte: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |hpv AS (
       |  SELECT hs.h, js.j,
       |         ${hex8("md5('hp' || CAST(hs.h AS VARCHAR) || '_' || CAST(js.j AS VARCHAR))", 1)}
       |           / 2147483648.0 - 1.0 AS r
       |  FROM (SELECT unnest(range(0, $LshBits)) AS h) hs,
       |       (SELECT unnest(range(0, 64)) AS j) js),
       |hp AS (SELECT h, list(r ORDER BY j) AS r FROM hpv GROUP BY h),
       |bits AS (
       |  SELECT e.vec_id, hp.h,
       |         CASE WHEN list_reduce(list_transform(range(0, 64),
       |                i -> CAST(e.embedding[i+1] AS DOUBLE) * hp.r[i+1]), (x,y) -> x+y) >= 0
       |              THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e, hp WHERE e.embedding IS NOT NULL),
       |bands AS (
       |  SELECT vec_id, CAST(h // $BitsPerBand AS INT) AS band,
       |         CAST(SUM(bit * ([${(0 until BitsPerBand).map(1 << _).mkString(",")}])[(h % $BitsPerBand) + 1]) AS BIGINT) AS bkey
       |  FROM bits GROUP BY vec_id, h // $BitsPerBand)""".stripMargin

  /** [[lshBandsCte]] extended to the exact-scored LSH candidate set
    * (`scored`). Used by both the ANN top-k and hard-negative oracles. */
  private lazy val lshScoredCte: String =
    lshBandsCte +
      s""",
         |cand AS (
         |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
         |  FROM bands qb JOIN bands cb ON qb.band = cb.band AND qb.bkey = cb.bkey
         |  WHERE qb.vec_id < 8 AND cb.vec_id <> qb.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)""".stripMargin

  /** The exact and approximate top-k oracles as standalone vals so the
    * recall harness can embed each as a parenthesized subquery. */
  private def cosineTopkOracleAt(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  private lazy val cosineTopkOracle: String = cosineTopkOracleAt(K)

  /** Every method's gate SQL as one labelled (method, q_id, rank, vec_id)
    * union — the oracle image of [[stagedEvalResults]], embedded by the
    * recall/MRR sweep oracles. */
  private lazy val annResultsUnionOracle: String =
    Seq("ivf" -> annIvfOracle, "ivf_kmeans" -> annIvfTrainedOracle,
      "ivfpq" -> annIvfPqOracle,
      "lsh" -> annLshOracle, "nsw" -> annNswOracle, "pq" -> annPqOracle,
      "pq_kmeans" -> annPqTrainedOracle, "quant" -> annQuantizedOracle)
      .map { case (n, o) => s"SELECT '$n' AS method, q_id, rank, vec_id FROM ($o) t" }
      .mkString("\nUNION ALL\n")

  private lazy val annLshOracle: String =
    lshScoredCte +
      """,
        |ranked AS (
        |  SELECT q_id, vec_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY q_id
        |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin

  // The NSW chain fully unrolled (the d_pagerank pattern): scaled integer
  // vectors, bucket-candidate layer-0 edges + coarse-layer-1 edges (both
  // top-M by (d2, dst)), the fixed entry, NswSteps1 beam rounds on layer
  // 1, NswSteps rounds on layer 0 with the visited-set union, and the
  // exact-cosine re-rank — every intermediate integer-exact cross-engine.
  private lazy val annNswOracle: String = {
    def edgeCte(name: String, pairs: String): String =
      s"""${name}d AS (
         |  SELECT p.src, p.dst, SUM((a.e - b.e) * (a.e - b.e)) AS d2
         |  FROM $pairs p JOIN sv a ON a.vec_id = p.src
         |       JOIN sv b ON b.vec_id = p.dst AND b.dim = a.dim
         |  GROUP BY p.src, p.dst),
         |$name AS (SELECT src, dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |             ORDER BY d2 ASC, dst ASC) AS rn
         |    FROM ${name}d) t WHERE rn <= $NswM)""".stripMargin
    def step(t: String, prev: String, edges: String, width: Int): String =
      s"""u$t AS (SELECT q_id, node FROM $prev
         |        UNION
         |        SELECT p.q_id, e.dst AS node
         |        FROM $prev p JOIN $edges e ON e.src = p.node),
         |s$t AS (SELECT u.q_id, u.node, SUM((qe.e - ne.e) * (qe.e - ne.e)) AS d2
         |        FROM u$t u JOIN sv qe ON qe.vec_id = u.q_id
         |             JOIN sv ne ON ne.vec_id = u.node AND ne.dim = qe.dim
         |        GROUP BY u.q_id, u.node),
         |b$t AS (SELECT q_id, node FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY d2 ASC, node ASC) AS rn
         |    FROM s$t) t WHERE rn <= $width)""".stripMargin
    val l1Steps = (1 to NswSteps1).map(t =>
      step(s"l$t", if (t == 1) "b0" else s"bl${t - 1}", "e1", NswBeam1W)).mkString(",\n")
    val l0Steps = (1 to NswSteps).map(t =>
      step(s"g$t", if (t == 1) s"bl$NswSteps1" else s"bg${t - 1}", "e0", NswBeamW))
      .mkString(",\n")
    lshBandsCte +
      s""",
         |sv AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e
         |       FROM embeddings),
         |p0 AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
         |       FROM bands x JOIN bands y
         |         ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id <> y.vec_id),
         |${edgeCte("e0", "p0")},
         |cn AS (SELECT vec_id FROM embeddings WHERE vec_id % $NswLayerMod = 0),
         |p1 AS (SELECT a.vec_id AS src, b.vec_id AS dst
         |       FROM cn a, cn b WHERE a.vec_id <> b.vec_id),
         |${edgeCte("e1", "p1")},
         |cn2 AS (SELECT vec_id FROM embeddings WHERE vec_id % $NswLayerMod2 = 0),
         |s0 AS (SELECT u.q_id, u.node, SUM((qe.e - ne.e) * (qe.e - ne.e)) AS d2
         |       FROM (SELECT q.q_id, c.vec_id AS node FROM q, cn2 c) u
         |       JOIN sv qe ON qe.vec_id = u.q_id
         |            JOIN sv ne ON ne.vec_id = u.node AND ne.dim = qe.dim
         |       GROUP BY u.q_id, u.node),
         |b0 AS (SELECT q_id, node FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY d2 ASC, node ASC) AS rn
         |    FROM s0) t WHERE rn <= $NswBeam1W),
         |$l1Steps,
         |$l0Steps,
         |vis AS (${(1 to NswSteps).map(t => s"SELECT q_id, node FROM ug$t")
          .mkString("\n       UNION\n       ")}),
         |rr AS (SELECT v.q_id, v.node AS vec_id,
         |         ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |       FROM vis v JOIN embeddings e ON e.vec_id = v.node
         |            JOIN q ON q.q_id = v.q_id
         |       WHERE v.node <> v.q_id),
         |rankedn AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM rr)
         |SELECT q_id, rank, vec_id, cosine FROM rankedn WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
  }

  // the incremental graph rebuilt from scratch: base-only band blocking
  // for the frozen layers, the delta's band-blocked top-M as forward +
  // back edges, the SAME unrolled beam walk over the union
  private lazy val incNswOracle: String = {
    def edgeCte(name: String, pairs: String): String =
      s"""${name}d AS (
         |  SELECT p.src, p.dst, SUM((a.e - b.e) * (a.e - b.e)) AS d2
         |  FROM $pairs p JOIN sv a ON a.vec_id = p.src
         |       JOIN sv b ON b.vec_id = p.dst AND b.dim = a.dim
         |  GROUP BY p.src, p.dst),
         |$name AS (SELECT src, dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |             ORDER BY d2 ASC, dst ASC) AS rn
         |    FROM ${name}d) t WHERE rn <= $NswM)""".stripMargin
    def step(t: String, prev: String, edges: String, width: Int): String =
      s"""u$t AS (SELECT q_id, node FROM $prev
         |        UNION
         |        SELECT p.q_id, e.dst AS node
         |        FROM $prev p JOIN $edges e ON e.src = p.node),
         |s$t AS (SELECT u.q_id, u.node, SUM((qe.e - ne.e) * (qe.e - ne.e)) AS d2
         |        FROM u$t u JOIN sv qe ON qe.vec_id = u.q_id
         |             JOIN sv ne ON ne.vec_id = u.node AND ne.dim = qe.dim
         |        GROUP BY u.q_id, u.node),
         |b$t AS (SELECT q_id, node FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY d2 ASC, node ASC) AS rn
         |    FROM s$t) t WHERE rn <= $width)""".stripMargin
    val l1Steps = (1 to NswSteps1).map(t =>
      step(s"l$t", if (t == 1) "b0" else s"bl${t - 1}", "e1", NswBeam1W)).mkString(",\n")
    val l0Steps = (1 to NswSteps).map(t =>
      step(s"g$t", if (t == 1) s"bl$NswSteps1" else s"bg${t - 1}", "e0a", NswBeamW))
      .mkString(",\n")
    lshBandsCte +
      s""",
         |sv AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e
         |       FROM embeddings),
         |p0 AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
         |       FROM bands x JOIN bands y
         |         ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id <> y.vec_id
         |       WHERE x.vec_id % 10 <> 7 AND y.vec_id % 10 <> 7),
         |${edgeCte("e0", "p0")},
         |pd AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
         |       FROM bands x JOIN bands y
         |         ON x.band = y.band AND x.bkey = y.bkey
         |       WHERE x.vec_id % 10 = 7 AND y.vec_id % 10 <> 7),
         |${edgeCte("ed", "pd")},
         |e0a AS (SELECT src, dst FROM e0
         |        UNION ALL SELECT src, dst FROM ed
         |        UNION ALL SELECT dst AS src, src AS dst FROM ed),
         |cn AS (SELECT vec_id FROM embeddings
         |       WHERE vec_id % $NswLayerMod = 0 AND vec_id % 10 <> 7),
         |p1 AS (SELECT a.vec_id AS src, b.vec_id AS dst
         |       FROM cn a, cn b WHERE a.vec_id <> b.vec_id),
         |${edgeCte("e1", "p1")},
         |cn2 AS (SELECT vec_id FROM embeddings
         |        WHERE vec_id % $NswLayerMod2 = 0 AND vec_id % 10 <> 7),
         |s0 AS (SELECT u.q_id, u.node, SUM((qe.e - ne.e) * (qe.e - ne.e)) AS d2
         |       FROM (SELECT q.q_id, c.vec_id AS node FROM q, cn2 c) u
         |       JOIN sv qe ON qe.vec_id = u.q_id
         |            JOIN sv ne ON ne.vec_id = u.node AND ne.dim = qe.dim
         |       GROUP BY u.q_id, u.node),
         |b0 AS (SELECT q_id, node FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY d2 ASC, node ASC) AS rn
         |    FROM s0) t WHERE rn <= $NswBeam1W),
         |$l1Steps,
         |$l0Steps,
         |vis AS (${(1 to NswSteps).map(t => s"SELECT q_id, node FROM ug$t")
          .mkString("\n       UNION\n       ")}),
         |rr AS (SELECT v.q_id, v.node AS vec_id,
         |         ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |       FROM vis v JOIN embeddings e ON e.vec_id = v.node
         |            JOIN q ON q.q_id = v.q_id
         |       WHERE v.node <> v.q_id),
         |rankedn AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM rr)
         |SELECT q_id, rank, vec_id, cosine FROM rankedn WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB fragment: Σ over subspace `m` (a column in scope) of
    * (v_i − c_i)² with the same left fold as [[subL2]]. */
  private def sqlSubL2(v: String, c: String): String =
    s"""list_reduce(list_transform(range(0, $PqSubDim),
       |  i -> (CAST($v[m*$PqSubDim+i+1] AS DOUBLE) - $c[m*$PqSubDim+i+1])
       |     * (CAST($v[m*$PqSubDim+i+1] AS DOUBLE) - $c[m*$PqSubDim+i+1])), (x,y) -> x+y)""".stripMargin

  // rebuilds the full PQ pipeline: per-label centroids (the codebook,
  // identical integer-exact construction to the IVF oracle), per-subspace
  // nearest-codeword encode with (dist, label) tie order, the query ADC
  // lookup table, and the decimal-exact ADC sum — every stage
  // bit-identical cross-engine by the same arguments as IVF + dsum.
  // The CTE chain ends at `adc` so the plain top-k and the
  // refine-rerank oracles share one construction.
  private lazy val pqAdcCte: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |expl AS (
       |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
       |         unnest(embedding) AS v
       |  FROM embeddings),
       |cent AS (
       |  SELECT label, pos,
       |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
       |           / (COUNT(*) * 1000000.0) AS c
       |  FROM expl GROUP BY label, pos),
       |carr AS (
       |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
       |  FROM cent GROUP BY label),
       |ms AS (SELECT unnest(range(0, $PqSub)) AS m),
       |cd AS (
       |  SELECT e.vec_id, c.c_label, ms.m,
       |         ${sqlSubL2("e.embedding", "c.centroid")} AS dist
       |  FROM embeddings e, carr c, ms WHERE e.embedding IS NOT NULL),
       |codes AS (
       |  SELECT vec_id, m, c_label AS code FROM (
       |    SELECT vec_id, m, c_label,
       |           row_number() OVER (PARTITION BY vec_id, m
       |             ORDER BY dist ASC, c_label ASC) AS rn
       |    FROM cd) WHERE rn = 1),
       |lut AS (
       |  SELECT q.q_id, c.c_label AS code, ms.m,
       |         ${sqlSubL2("q.q_emb", "c.centroid")} AS lut_d
       |  FROM q, carr c, ms),
       |adc AS (
       |  SELECT l.q_id, k.vec_id,
       |         CAST(SUM(CAST(l.lut_d AS DECIMAL(28,4))) AS DOUBLE) AS approx_d
       |  FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY l.q_id, k.vec_id)""".stripMargin

  private lazy val annPqOracle: String =
    pqAdcCte +
      s""",
         |ranked AS (
         |  SELECT q_id, vec_id, approx_d,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY approx_d ASC, vec_id ASC) AS INT) AS rank
         |  FROM adc)
         |SELECT q_id, rank, vec_id, approx_d FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

  // stage 1 = the same ADC chain widened to the candidate pool, stage 2
  // = exact cosine over the bounded survivors — identical formulas to
  // the PQ and exact oracles respectively
  private lazy val annPqRefineOracle: String =
    pqAdcCte +
      s""",
         |cand AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY approx_d ASC, vec_id ASC) AS rank
         |    FROM adc) t WHERE rank <= $PqRefineCand),
         |scored AS (
         |  SELECT c.q_id, e.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
         |              JOIN q ON q.q_id = c.q_id),
         |ranked2 AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked2 WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

  // rebuilds the residual IVF-PQ pipeline end-to-end: the label
  // centroids, per-vector residuals (CAST AS DOUBLE subtraction — the
  // identical IEEE double), the rb_label residual codebook via the same
  // accumulate-floor-longs mean, per-subspace encode with (dist,
  // rb_label) tie order, the per-probed-list query-residual LUT, the
  // decimal-exact ADC restricted to probed lists, and the bounded exact
  // re-rank — every stage bit-identical cross-engine by the same
  // arguments as the IVF and PQ oracles.
  private lazy val annIvfPqOracle: String = ivfPqOracle(baseOnlyBooks = false)

  /** [[annIvfPqOracle]] with the codebook-training CTEs optionally
    * filtered to the base slice (vec_id % 10 <> 7) — the incremental
    * variant's frozen-books rebuild. Encode/probe stages always cover
    * ALL vectors: append ≡ rebuild-with-frozen-books. */
  private def ivfPqOracle(baseOnlyBooks: Boolean): String = {
    val baseW = if (baseOnlyBooks) " WHERE vec_id % 10 <> 7" else ""
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |expl AS (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
       |         unnest(embedding) AS v
       |  FROM embeddings),
       |cent AS (
       |  SELECT label, pos,
       |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
       |           / (COUNT(*) * 1000000.0) AS c
       |  FROM expl$baseW GROUP BY label, pos),
       |carr AS (
       |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
       |  FROM cent GROUP BY label),
       |rexpl AS (
       |  SELECT e.vec_id, e.label, e.pos, CAST(e.v AS DOUBLE) - c.c AS r
       |  FROM expl e JOIN cent c ON c.label = e.label AND c.pos = e.pos),
       |rcb AS (
       |  SELECT vec_id % $IvfPqRb AS rb_label, pos,
       |         CAST(SUM(CAST(FLOOR(r * 1000000) AS BIGINT)) AS DOUBLE)
       |           / (COUNT(*) * 1000000.0) AS c
       |  FROM rexpl$baseW GROUP BY rb_label, pos),
       |rarr AS (SELECT rb_label, list(c ORDER BY pos) AS rcent FROM rcb GROUP BY rb_label),
       |rres AS (SELECT vec_id, label, list(r ORDER BY pos) AS r
       |         FROM rexpl GROUP BY vec_id, label),
       |ms AS (SELECT unnest(range(0, $PqSub)) AS m),
       |cd AS (
       |  SELECT x.vec_id, x.label, rc.rb_label, ms.m,
       |         ${sqlSubL2("x.r", "rc.rcent")} AS dist
       |  FROM rres x, rarr rc, ms),
       |codes AS (
       |  SELECT vec_id, label, m, rb_label AS code FROM (
       |    SELECT vec_id, label, m, rb_label,
       |           row_number() OVER (PARTITION BY vec_id, m
       |             ORDER BY dist ASC, rb_label ASC) AS rn
       |    FROM cd) WHERE rn = 1),
       |probed AS (
       |  SELECT q_id, q_emb, c_label, centroid,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
       |  FROM q, carr),
       |qres AS (
       |  SELECT q_id, c_label,
       |         list_transform(range(0, $Dim),
       |           i -> CAST(q_emb[i+1] AS DOUBLE) - centroid[i+1]) AS qr
       |  FROM probed WHERE pr <= $NProbe),
       |lut AS (
       |  SELECT p.q_id, p.c_label, rc.rb_label AS code, ms.m,
       |         ${sqlSubL2("p.qr", "rc.rcent")} AS lut_d
       |  FROM qres p, rarr rc, ms),
       |adc AS (
       |  SELECT l.q_id, k.vec_id,
       |         CAST(SUM(CAST(l.lut_d AS DECIMAL(28,4))) AS DOUBLE) AS approx_d
       |  FROM codes k JOIN lut l ON l.c_label = k.label AND l.m = k.m AND l.code = k.code
       |  WHERE k.vec_id <> l.q_id
       |  GROUP BY l.q_id, k.vec_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY approx_d ASC, vec_id ASC) AS rank
       |    FROM adc) t WHERE rank <= $PqRefineCand),
       |scored AS (
       |  SELECT c.q_id, e.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |              JOIN q ON q.q_id = c.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  private lazy val incIvfPqOracle: String = ivfPqOracle(baseOnlyBooks = true)

  // The unrolled Lloyd's chain (the d_pagerank pattern): scaled sample,
  // deterministic init, KmIterations × (exact-integer argmin assignment,
  // truncating-integer-mean update with empty-cluster carry-forward).
  // Every value is integer-exact cross-engine: FLOOR(double·1e6) is the
  // proven centroidArrays mapping, DuckDB's `//` truncates toward zero
  // exactly like Scala Long division, and HUGEINT intermediates carry
  // the same values as the engine's Longs.
  private lazy val kmeansCte: String = {
    def assignCte(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT vec_id, c FROM (
         |    SELECT se.vec_id, i.c,
         |           row_number() OVER (PARTITION BY se.vec_id
         |             ORDER BY SUM((se.e - i.cv)*(se.e - i.cv)) ASC, i.c ASC) AS rn
         |    FROM se JOIN $cent i ON se.dim = i.dim
         |    GROUP BY se.vec_id, i.c) t WHERE rn = 1)""".stripMargin
    def updateCte(name: String, assign: String, prev: String): String =
      s"""$name AS (
         |  SELECT i.c, i.dim, COALESCE(u.cv, i.cv) AS cv
         |  FROM $prev i LEFT JOIN (
         |    SELECT a.c, se.dim, SUM(se.e) // COUNT(*) AS cv
         |    FROM $assign a JOIN se USING (vec_id) GROUP BY a.c, se.dim) u
         |  ON u.c = i.c AND u.dim = i.dim)""".stripMargin
    s"""WITH se AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM embeddings WHERE vec_id % $KmSampleMod = 0),
       |init AS (
       |  SELECT CAST(r.j AS INT) AS c, se.dim, se.e AS cv
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
       |        FROM (SELECT DISTINCT vec_id FROM se) dv) r
       |  JOIN se USING (vec_id) WHERE r.j < $KmClusters),
       |${assignCte("a1", "init")},
       |${updateCte("c1", "a1", "init")},
       |${assignCte("a2", "c1")},
       |${updateCte("c2", "a2", "c1")},
       |${assignCte("a3", "c2")},
       |${updateCte("c3", "a3", "c2")},
       |kcnt AS (SELECT c, COUNT(*) AS n FROM a3 GROUP BY c)""".stripMargin
  }

  private lazy val kmeansTrainOracle: String =
    kmeansCte +
      """
        |SELECT c3.c AS cluster_id, CAST(c3.dim AS INT) AS dim,
        |       CAST(c3.cv AS BIGINT) AS c_val,
        |       CAST(COALESCE(kcnt.n, 0) AS BIGINT) AS n_members
        |FROM c3 LEFT JOIN kcnt ON kcnt.c = c3.c
        |ORDER BY cluster_id, dim""".stripMargin

  // trained-quantizer IVF: the chain continues with the full-corpus
  // assignment (the staged table's definition), the query-side top-2
  // probe under the same exact integer L2, and the float-cosine re-rank
  private lazy val annIvfTrainedOracle: String =
    kmeansCte +
      s""",
         |corp AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e
         |  FROM embeddings),
         |kassign AS (
         |  SELECT vec_id, c FROM (
         |    SELECT corp.vec_id, i.c,
         |           row_number() OVER (PARTITION BY corp.vec_id
         |             ORDER BY SUM((corp.e - i.cv)*(corp.e - i.cv)) ASC, i.c ASC) AS rn
         |    FROM corp JOIN c3 i ON corp.dim = i.dim
         |    GROUP BY corp.vec_id, i.c) t WHERE rn = 1),
         |kprobed AS (
         |  SELECT q_id, c FROM (
         |    SELECT corp.vec_id AS q_id, i.c,
         |           row_number() OVER (PARTITION BY corp.vec_id
         |             ORDER BY SUM((corp.e - i.cv)*(corp.e - i.cv)) ASC, i.c ASC) AS rn
         |    FROM corp JOIN c3 i ON corp.dim = i.dim
         |    WHERE corp.vec_id < 8
         |    GROUP BY corp.vec_id, i.c) t WHERE rn <= $NProbe),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT p.q_id, a.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |  FROM kprobed p JOIN kassign a ON a.c = p.c
         |       JOIN embeddings e ON e.vec_id = a.vec_id
         |       JOIN q ON q.q_id = p.q_id
         |  WHERE a.vec_id <> p.q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

  // the per-subspace Lloyd's chain: identical determinization to
  // kmeansCte, with (m = subspace, dim = position within it) as extra
  // grouping columns — all PqSub codebooks unroll in one CTE chain
  private lazy val pqKmeansCte: String = {
    def assignCte(name: String, cent: String): String =
      s"""$name AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT se2.vec_id, se2.m, i.c,
         |           row_number() OVER (PARTITION BY se2.vec_id, se2.m
         |             ORDER BY SUM((se2.e - i.cv)*(se2.e - i.cv)) ASC, i.c ASC) AS rn
         |    FROM se2 JOIN $cent i ON se2.m = i.m AND se2.dim = i.dim
         |    GROUP BY se2.vec_id, se2.m, i.c) t WHERE rn = 1)""".stripMargin
    def updateCte(name: String, assign: String, prev: String): String =
      s"""$name AS (
         |  SELECT i.c, i.m, i.dim, COALESCE(u.cv, i.cv) AS cv
         |  FROM $prev i LEFT JOIN (
         |    SELECT a.c, a.m, se2.dim, SUM(se2.e) // COUNT(*) AS cv
         |    FROM $assign a JOIN se2 ON se2.vec_id = a.vec_id AND se2.m = a.m
         |    GROUP BY a.c, a.m, se2.dim) u
         |  ON u.c = i.c AND u.m = i.m AND u.dim = i.dim)""".stripMargin
    s"""WITH se2 AS (
       |  SELECT vec_id, CAST((i - 1) // $PqSubDim AS INT) AS m,
       |         CAST((i - 1) % $PqSubDim AS INT) AS dim,
       |         CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |               unnest(embedding) AS v
       |        FROM embeddings WHERE vec_id % $KmSampleMod = 0) t),
       |init2 AS (
       |  SELECT CAST(r.j AS INT) AS c, se2.m, se2.dim, se2.e AS cv
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
       |        FROM (SELECT DISTINCT vec_id FROM se2) dv) r
       |  JOIN se2 USING (vec_id) WHERE r.j < $PqCw),
       |${assignCte("qa1", "init2")},
       |${updateCte("qc1", "qa1", "init2")},
       |${assignCte("qa2", "qc1")},
       |${updateCte("qc2", "qa2", "qc1")},
       |${assignCte("qa3", "qc2")},
       |${updateCte("qc3", "qa3", "qc2")},
       |qcnt AS (SELECT m, c, COUNT(*) AS n FROM qa3 GROUP BY m, c)""".stripMargin
  }

  private lazy val pqKmeansTrainOracle: String =
    pqKmeansCte +
      """
        |SELECT qc3.m AS m, qc3.c AS codeword, qc3.dim AS dim,
        |       CAST(qc3.cv AS BIGINT) AS c_val,
        |       CAST(COALESCE(qcnt.n, 0) AS BIGINT) AS n_members
        |FROM qc3 LEFT JOIN qcnt ON qcnt.m = qc3.m AND qcnt.c = qc3.c
        |ORDER BY 1, 2, 3""".stripMargin

  // trained-codebook ADC: full-corpus integer codes, the query LUT, and
  // the long ADC sum — every stage exact integers
  private lazy val annPqTrainedOracle: String =
    pqKmeansCte +
      s""",
         |corp2 AS (
         |  SELECT vec_id, CAST((i - 1) // $PqSubDim AS INT) AS m,
         |         CAST((i - 1) % $PqSubDim AS INT) AS dim,
         |         CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS e
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |               unnest(embedding) AS v
         |        FROM embeddings) t),
         |codes2 AS (
         |  SELECT vec_id, m, c AS code FROM (
         |    SELECT corp2.vec_id, corp2.m, i.c,
         |           row_number() OVER (PARTITION BY corp2.vec_id, corp2.m
         |             ORDER BY SUM((corp2.e - i.cv)*(corp2.e - i.cv)) ASC, i.c ASC) AS rn
         |    FROM corp2 JOIN qc3 i ON corp2.m = i.m AND corp2.dim = i.dim
         |    GROUP BY corp2.vec_id, corp2.m, i.c) t WHERE rn = 1),
         |lut AS (
         |  SELECT corp2.vec_id AS q_id, i.m, i.c AS code,
         |         SUM((corp2.e - i.cv)*(corp2.e - i.cv)) AS lut_d
         |  FROM corp2 JOIN qc3 i ON corp2.m = i.m AND corp2.dim = i.dim
         |  WHERE corp2.vec_id < 8
         |  GROUP BY corp2.vec_id, i.m, i.c),
         |adc AS (
         |  SELECT l.q_id, k.vec_id, CAST(SUM(l.lut_d) AS BIGINT) AS approx_d
         |  FROM codes2 k JOIN lut l ON l.m = k.m AND l.code = k.code
         |  WHERE k.vec_id <> l.q_id
         |  GROUP BY l.q_id, k.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, approx_d,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY approx_d ASC, vec_id ASC) AS INT) AS rank
         |  FROM adc)
         |SELECT q_id, rank, vec_id, approx_d FROM ranked WHERE rank <= $K
         |ORDER BY q_id, rank""".stripMargin

  private lazy val annIvfOracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |  FROM cent GROUP BY label),
         |probed AS (
         |  SELECT q_id, q_emb, c_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
         |  FROM q, carr),
         |scored AS (
         |  SELECT p.q_id, e.vec_id, ${sqlCos("e.embedding", "p.q_emb")} AS cosine
         |  FROM probed p JOIN embeddings e ON e.label = p.c_label AND e.vec_id <> p.q_id
         |  WHERE p.pr <= 2),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin

  // rebuilds the identical int8 quantization (per-vector max-abs scale,
  // floor to 127 levels): quantized components are exact integers, so
  // the quantized cosines — and hence candidate pool and final ranks —
  // are bit-identical cross-engine. DEGENERATE scales are reproduced
  // explicitly rather than assumed absent: the native Int8Quantize maps
  // a 0/NaN/±Inf scale (all-zero, NaN-component, or Inf-component
  // vector) through IEEE ratio → floor-to-long to an ALL-ZERO output,
  // while DuckDB's floor(NaN) stays NaN — so the CASE below pins the
  // same all-zero result and the gate no longer silently depends on the
  // fixture containing no degenerate vectors
  private lazy val annQuantizedOracle: String = {
    def dotq(a: String, b: String) =
      s"""list_reduce(list_transform(range(0, 64),
         |  i -> $a[i+1] * $b[i+1]), (x,y) -> x+y)""".stripMargin
    def cosq(a: String, b: String) =
      s"${dotq(a, b)} / (sqrt(${dotq(a, a)}) * sqrt(${dotq(b, b)}))"
    s"""WITH sc AS (
       |  SELECT vec_id,
       |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
       |  FROM embeddings),
       |qv AS (
       |  SELECT e.vec_id,
       |         CASE WHEN sc.s = 0 OR isnan(sc.s) OR isinf(sc.s)
       |              THEN list_transform(range(0, 64), i -> CAST(0 AS DOUBLE))
       |              ELSE list_transform(range(0, 64),
       |                i -> floor(CAST(e.embedding[i+1] AS DOUBLE) / sc.s * 127)) END AS qe
       |  FROM embeddings e JOIN sc USING (vec_id)),
       |scored AS (
       |  SELECT qq.vec_id AS q_id, c.vec_id, ${cosq("c.qe", "qq.qe")} AS qcos
       |  FROM qv c, qv qq WHERE qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
       |cand AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY qcos DESC, vec_id ASC) AS r
       |    FROM scored) WHERE r <= $QCand),
       |rer AS (
       |  SELECT cand.q_id, cand.vec_id, ${sqlCos("e.embedding", "q.embedding")} AS cosine
       |  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
       |            JOIN embeddings q ON q.vec_id = cand.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
       |  FROM rer)
       |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // positional unnest zip: generate_subscripts pairs with unnest in the
    // same SELECT; the quantized sum mirrors floor(double(v)*1024)
    "v_embed_stats" ->
      """WITH x AS (
        |  SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT CAST(i - 1 AS INT) AS dim,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1024) AS BIGINT)) AS BIGINT) AS sum_q1024,
        |       CAST(MIN(v) AS DOUBLE) AS min_v,
        |       CAST(MAX(v) AS DOUBLE) AS max_v,
        |       CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM x GROUP BY i ORDER BY dim""".stripMargin,
    "v_cosine_topk" -> cosineTopkOracle,
    "v_ann_ivf" -> annIvfOracle,
    // the FULL REBUILD with the same frozen centroids: base-only
    // integer-floored per-label means, EVERY vector re-assigned to its
    // nearest centroid (cosine desc, label asc), probe + re-rank — hash
    // equality proves probe-after-append ≡ probe-after-rebuild
    "v_incremental_ann" ->
      s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
         |expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM base),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |  FROM cent GROUP BY label),
         |assigned AS (
         |  SELECT vec_id, embedding, c_label FROM (
         |    SELECT e.vec_id, e.embedding, carr.c_label,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "carr.centroid")} DESC,
         |                      carr.c_label ASC) AS ar
         |    FROM embeddings e, carr) WHERE ar = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |probed AS (
         |  SELECT q_id, q_emb, c_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
         |  FROM q, carr),
         |scored AS (
         |  SELECT p.q_id, a.vec_id, ${sqlCos("a.embedding", "p.q_emb")} AS cosine
         |  FROM probed p JOIN assigned a ON a.c_label = p.c_label AND a.vec_id <> p.q_id
         |  WHERE p.pr <= 2),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // the pre-filter contract: only qualifying vectors are ranked
    "v_ann_filtered" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |  FROM cent GROUP BY label),
         |probed AS (
         |  SELECT q_id, q_emb, c_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
         |  FROM q, carr),
         |scored AS (
         |  SELECT p.q_id, e.vec_id, ${sqlCos("e.embedding", "p.q_emb")} AS cosine
         |  FROM probed p JOIN embeddings e
         |    ON e.label = p.c_label AND e.vec_id <> p.q_id AND e.vec_id % 3 = 0
         |  WHERE p.pr <= 2),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // per-slice integer-sum centroids, op-for-op (incl. the planted
    // +0.5 dim-0 shift, floor-exact), compared by the shared cosine fold
    "v_embed_drift" -> {
      def dist2(a: String, b: String) =
        s"""list_reduce(list_transform(range(0, 64),
           |  i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])), (x,y) -> x+y)""".stripMargin
      val cosExpr = dist2("ca.cv", "cb.cv")
      val cosExprS = dist2("ca.cv", "cbs.cv")
      s"""WITH expl AS (
         |  SELECT vec_id % 2 AS half, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings),
         |sums AS (
         |  SELECT half, pos,
         |    CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) AS sv,
         |    CAST(SUM(CAST(FLOOR((CAST(v AS DOUBLE) + 0.5) * 1000000) AS BIGINT)) AS DOUBLE) AS svs,
         |    COUNT(*) AS cnt
         |  FROM expl GROUP BY half, pos),
         |ca AS (SELECT list(sv / (cnt * 1000000.0) ORDER BY pos) AS cv, MAX(cnt) AS n
         |       FROM sums WHERE half = 0),
         |cb AS (SELECT list(sv / (cnt * 1000000.0) ORDER BY pos) AS cv, MAX(cnt) AS n
         |       FROM sums WHERE half = 1),
         |cbs AS (SELECT list((CASE WHEN pos = 0 THEN svs ELSE sv END) / (cnt * 1000000.0)
         |                    ORDER BY pos) AS cv, MAX(cnt) AS n
         |        FROM sums WHERE half = 1)
         |SELECT 'same' AS scenario, ca.n AS n_a, cb.n AS n_b,
         |       $cosExpr AS centroid_dist2,
         |       CAST($cosExpr > $DriftNoiseMult * (1.0 / ca.n + 1.0 / cb.n) AS INT) AS drifted
         |FROM ca, cb
         |UNION ALL
         |SELECT 'shifted', ca.n, cbs.n,
         |       $cosExprS, CAST($cosExprS > $DriftNoiseMult * (1.0 / ca.n + 1.0 / cbs.n) AS INT)
         |FROM ca, cbs
         |ORDER BY scenario""".stripMargin
    },
    // the decision ledger from closed-form counts: append keeps the
    // base-trained quantizer (centroids = base labels), rebuild retrains
    // on everything (centroids = all labels); postings = base + delta
    "v_ann_rebalance" ->
      s"""WITH c AS (
         |  SELECT
         |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 <> 7) AS b1,
         |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 = 7) AS d1,
         |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 = 0) AS b2,
         |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 0) AS d2,
         |    (SELECT COUNT(DISTINCT label) FROM embeddings WHERE vec_id % 10 <> 7) AS cl1,
         |    (SELECT COUNT(DISTINCT label) FROM embeddings) AS cl2,
         |    (SELECT COUNT(*) FROM embeddings) AS n)
         |SELECT 'backfill' AS scenario, CAST(b2 AS BIGINT) AS base_n,
         |       CAST(d2 AS BIGINT) AS delta_n,
         |       CAST(d2 * 100 // b2 AS BIGINT) AS ratio_pct,
         |       'rebuild' AS decision, CAST(cl2 AS BIGINT) AS n_centroids,
         |       CAST(n AS BIGINT) AS n_postings
         |FROM c
         |UNION ALL
         |SELECT 'daily_batch', CAST(b1 AS BIGINT), CAST(d1 AS BIGINT),
         |       CAST(d1 * 100 // b1 AS BIGINT),
         |       'append', CAST(cl1 AS BIGINT), CAST(n AS BIGINT)
         |FROM c
         |ORDER BY scenario""".stripMargin,
    // the merge-on-read contract: ranked over the base index minus the
    // tombstoned slice (the index itself still contains those rows —
    // the engine REQUIREs that before masking)
    "v_ann_delete" ->
      s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
         |expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM base),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |  FROM cent GROUP BY label),
         |assigned AS (
         |  SELECT vec_id, embedding, c_label FROM (
         |    SELECT e.vec_id, e.embedding, carr.c_label,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlCos("e.embedding", "carr.centroid")} DESC,
         |                      carr.c_label ASC) AS ar
         |    FROM base e, carr) WHERE ar = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |probed AS (
         |  SELECT q_id, q_emb, c_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
         |  FROM q, carr),
         |scored AS (
         |  SELECT p.q_id, a.vec_id, ${sqlCos("a.embedding", "p.q_emb")} AS cosine
         |  FROM probed p JOIN assigned a
         |    ON a.c_label = p.c_label AND a.vec_id <> p.q_id AND a.vec_id % 10 <> 4
         |  WHERE p.pr <= 2),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    "v_kmeans_train" -> kmeansTrainOracle,
    "v_ann_ivf_trained" -> annIvfTrainedOracle,
    "v_pq_train" -> pqKmeansTrainOracle,
    "v_ann_pq_trained" -> annPqTrainedOracle,
    "v_ann_pq" -> annPqOracle,
    "v_ann_ivfpq" -> annIvfPqOracle,
    "v_incremental_ivfpq" -> incIvfPqOracle,
    "v_ann_pq_refine" -> annPqRefineOracle,
    // rebuilds the identical int8 quantization (per-vector max-abs scale,
    // floor to 127 levels): quantized components are exact integers, so
    // the quantized cosines — and hence candidate pool and final ranks —
    // are bit-identical cross-engine. DEGENERATE scales are reproduced
    // explicitly rather than assumed absent: the native Int8Quantize maps
    // a 0/NaN/±Inf scale (all-zero, NaN-component, or Inf-component
    // vector) through IEEE ratio → floor-to-long to an ALL-ZERO output,
    // while DuckDB's floor(NaN) stays NaN — so the CASE below pins the
    // same all-zero result and the gate no longer silently depends on the
    // fixture containing no degenerate vectors
    "v_ann_quantized" -> annQuantizedOracle,
    // rebuilds the identical md5-derived hyperplane constants, sign bits,
    // and band keys, then re-ranks candidates exactly like the engine
    "v_ann_lsh" -> annLshOracle,
    // the staged two-layer graph and the fixed-beam descent unrolled
    "v_ann_nsw" -> annNswOracle,
    "v_incremental_nsw" -> incNswOracle,
    // MRR overlay: each method's own gate SQL embedded verbatim, first
    // true-neighbor rank + integer reciprocal per (method, query)
    "v_ann_mrr" -> {
      val methods = Seq(
        "ivf" -> annIvfOracle, "ivf_kmeans" -> annIvfTrainedOracle,
        "ivfpq" -> annIvfPqOracle,
        "lsh" -> annLshOracle, "nsw" -> annNswOracle,
        "pq" -> annPqOracle, "pq_kmeans" -> annPqTrainedOracle,
        "quant" -> annQuantizedOracle)
      val ctes = methods.zipWithIndex.map { case ((_, o), i) =>
        s"""m$i AS (SELECT a.q_id, MIN(a.rank) AS fr
           |       FROM ($o) a JOIN exr USING (q_id, vec_id) GROUP BY a.q_id)""".stripMargin
      }.mkString(",\n")
      val unions = methods.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT '$name' AS method, qs.q_id,
           |       CAST(COALESCE(m$i.fr, 0) AS INT) AS first_hit_rank,
           |       CAST(CASE WHEN COALESCE(m$i.fr, 0) > 0
           |                 THEN 1000 // m$i.fr ELSE 0 END AS BIGINT) AS rr_milli
           |FROM qs LEFT JOIN m$i USING (q_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH exr AS (SELECT q_id, vec_id FROM ($cosineTopkOracle) t),
         |qs AS (SELECT DISTINCT q_id FROM exr),
         |$ctes
         |SELECT method, q_id, first_hit_rank, rr_milli FROM (
         |$unions) u
         |ORDER BY method, q_id""".stripMargin
    },
    // the sweep twins: one deep exact-truth CTE (depth AnnTruthDepth),
    // each method's gate SQL embedded once into a single result union,
    // then one leg per truth depth k filtering trank <= k
    "v_ann_recall_k" -> {
      val legs = RecallKs.map { k =>
        s"""SELECT $k AS k, m.method, qs.q_id,
           |       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit,
           |       CAST(COALESCE(h.n, 0) AS DOUBLE) / $k.0 AS recall
           |FROM mth m CROSS JOIN qs
           |LEFT JOIN (SELECT method, q_id, COUNT(*) AS n
           |           FROM res JOIN ex USING (q_id, vec_id)
           |           WHERE ex.trank <= $k GROUP BY method, q_id) h
           |  ON h.method = m.method AND h.q_id = qs.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS (SELECT q_id, vec_id, rank AS trank
         |            FROM (${cosineTopkOracleAt(AnnTruthDepth)}) t),
         |qs AS (SELECT DISTINCT q_id FROM ex),
         |mth AS (${evalMethods.map(m => s"SELECT '$m' AS method").mkString(" UNION ALL ")}),
         |res AS (
         |$annResultsUnionOracle)
         |SELECT k, method, q_id, n_hit, recall FROM (
         |$legs) u
         |ORDER BY k, method, q_id""".stripMargin
    },
    "v_ann_mrr_k" -> {
      val legs = RecallKs.map { k =>
        s"""SELECT $k AS k, m.method, qs.q_id,
           |       CAST(COALESCE(h.fr, 0) AS INT) AS first_hit_rank,
           |       CAST(CASE WHEN COALESCE(h.fr, 0) > 0
           |                 THEN 1000 // h.fr ELSE 0 END AS BIGINT) AS rr_milli
           |FROM mth m CROSS JOIN qs
           |LEFT JOIN (SELECT method, q_id, MIN(rank) AS fr
           |           FROM res JOIN ex USING (q_id, vec_id)
           |           WHERE ex.trank <= $k GROUP BY method, q_id) h
           |  ON h.method = m.method AND h.q_id = qs.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS (SELECT q_id, vec_id, rank AS trank
         |            FROM (${cosineTopkOracleAt(AnnTruthDepth)}) t),
         |qs AS (SELECT DISTINCT q_id FROM ex),
         |mth AS (${evalMethods.map(m => s"SELECT '$m' AS method").mkString(" UNION ALL ")}),
         |res AS (
         |$annResultsUnionOracle)
         |SELECT k, method, q_id, first_hit_rank, rr_milli FROM (
         |$legs) u
         |ORDER BY k, method, q_id""".stripMargin
    },
    // hybrid retrieval + the rebuilt pair table + the diversify
    // anti-join + the prefix-budget pack, all as one CTE chain
    "v_rag_e2e" ->
      (graft.operators.Dedup.sigCte +
        s""",
           |nd AS (
           |  SELECT c.a, c.b
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
           |  WHERE CAST(list_sum(list_transform(range(0, 16),
           |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5),
           |hq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
           |kw AS (SELECT doc_id FROM documents
           |       WHERE list_contains(string_split(text, ' '), '$HybridKeyword')),
           |scored AS (
           |  SELECT hq.q_id, e.vec_id, ${sqlCos("e.embedding", "hq.q_emb")} AS cosine
           |  FROM embeddings e JOIN kw ON kw.doc_id = e.vec_id, hq
           |  WHERE e.vec_id <> hq.q_id),
           |rk AS (SELECT q_id, vec_id, rank FROM (
           |         SELECT q_id, vec_id,
           |                CAST(row_number() OVER (PARTITION BY q_id
           |                  ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
           |         FROM scored) t WHERE rank <= $K),
           |sym AS (SELECT a AS x, b AS y FROM nd UNION ALL SELECT b, a FROM nd),
           |drp AS (SELECT DISTINCT lo.q_id, lo.vec_id
           |        FROM rk lo JOIN sym ON lo.vec_id = sym.y
           |                   JOIN rk hi ON hi.q_id = lo.q_id AND hi.vec_id = sym.x
           |                              AND hi.rank < lo.rank),
           |kept AS (SELECT rk.* FROM rk
           |         LEFT JOIN drp ON rk.q_id = drp.q_id AND rk.vec_id = drp.vec_id
           |         WHERE drp.q_id IS NULL),
           |tk AS (SELECT doc_id AS vec_id,
           |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |       FROM documents),
           |j AS (SELECT kept.q_id, kept.rank, kept.vec_id, tk.n_tokens,
           |        CAST(SUM(tk.n_tokens) OVER (PARTITION BY kept.q_id ORDER BY kept.rank
           |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |      FROM kept JOIN tk USING (vec_id))
           |SELECT q_id,
           |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY rank) AS INT) AS slot,
           |       vec_id, n_tokens, cum AS cum_tokens
           |FROM j WHERE cum - n_tokens < $RagBudget
           |ORDER BY q_id, slot""".stripMargin),
    // the annIvf oracle parameterized over the probe widths: probe
    // ranking and scored candidates built once, legs as a literal list,
    // candidate counts and recall per (leg, query)
    "v_ivf_sweep" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |expl AS (
         |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, pos,
         |         CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         |           / (COUNT(*) * 1000000.0) AS c
         |  FROM expl GROUP BY label, pos),
         |carr AS (
         |  SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |  FROM cent GROUP BY label),
         |probed AS (
         |  SELECT q_id, q_emb, c_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY ${sqlCos("q_emb", "centroid")} DESC, c_label ASC) AS pr
         |  FROM q, carr),
         |exr AS (SELECT q_id, vec_id FROM ($cosineTopkOracle) t),
         |scored AS (
         |  SELECT p.q_id, p.pr, e.vec_id, ${sqlCos("e.embedding", "p.q_emb")} AS cosine
         |  FROM probed p JOIN embeddings e ON e.label = p.c_label AND e.vec_id <> p.q_id
         |  WHERE p.pr <= ${IvfSweep.max}),
         |legs AS (SELECT unnest([${IvfSweep.mkString(", ")}]) AS nprobe),
         |cand AS (SELECT l.nprobe, sc.q_id, sc.vec_id, sc.cosine
         |         FROM scored sc, legs l WHERE sc.pr <= l.nprobe),
         |tk AS (SELECT nprobe, q_id, vec_id FROM (
         |         SELECT nprobe, q_id, vec_id,
         |                row_number() OVER (PARTITION BY nprobe, q_id
         |                  ORDER BY cosine DESC, vec_id ASC) AS rank
         |         FROM cand) t WHERE rank <= $K),
         |nc AS (SELECT nprobe, q_id, CAST(COUNT(*) AS BIGINT) AS n_cand
         |       FROM cand GROUP BY 1, 2),
         |h AS (SELECT t.nprobe, t.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |      FROM tk t JOIN exr ON t.q_id = exr.q_id AND t.vec_id = exr.vec_id
         |      GROUP BY 1, 2),
         |dom AS (SELECT l.nprobe, qq.q_id FROM legs l, (SELECT DISTINCT q_id FROM q) qq)
         |SELECT dom.nprobe, dom.q_id,
         |       COALESCE(nc.n_cand, 0) AS n_cand, COALESCE(h.n_hit, 0) AS n_hit,
         |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $K.0 AS recall
         |FROM dom LEFT JOIN nc ON dom.nprobe = nc.nprobe AND dom.q_id = nc.q_id
         |         LEFT JOIN h ON dom.nprobe = h.nprobe AND dom.q_id = h.q_id
         |ORDER BY dom.nprobe, dom.q_id""".stripMargin,
    // each prefix-width leg rebuilt with the same fold truncated to
    // range(0, d′); the 64-wide leg reduces to the exact oracle itself
    "v_matryoshka" -> {
      def dotN(a: String, b: String, n: Int) =
        s"""list_reduce(list_transform(range(0, $n),
           |  i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x,y) -> x+y)""".stripMargin
      def cosN(a: String, b: String, n: Int) =
        s"${dotN(a, b, n)} / (sqrt(${dotN(a, a, n)}) * sqrt(${dotN(b, b, n)}))"
      val legs = MrlDims.map { n =>
        s"""tk$n AS (SELECT q_id, vec_id FROM (
           |  SELECT q.q_id, e.vec_id,
           |         row_number() OVER (PARTITION BY q.q_id
           |           ORDER BY ${cosN("e.embedding", "q.q_emb", n)} DESC, e.vec_id ASC) AS rank
           |  FROM embeddings e, q WHERE e.vec_id <> q.q_id) t WHERE rank <= $K)""".stripMargin
      }.mkString(",\n")
      val unions = MrlDims.map(n => s"SELECT $n AS dims, q_id, vec_id FROM tk$n")
        .mkString("\nUNION ALL ")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |exr AS (SELECT q_id, vec_id FROM ($cosineTopkOracle) t),
         |$legs,
         |legs AS ($unions),
         |hits AS (SELECT l.dims, l.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |         FROM legs l JOIN exr ON l.q_id = exr.q_id AND l.vec_id = exr.vec_id
         |         GROUP BY 1, 2),
         |dom AS (SELECT d.dims, q.q_id
         |        FROM (VALUES ${MrlDims.map(n => s"($n)").mkString(", ")}) d(dims),
         |             (SELECT DISTINCT q_id FROM q) q)
         |SELECT dom.dims, dom.q_id, COALESCE(h.n_hit, 0) AS n_hit,
         |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $K.0 AS recall
         |FROM dom LEFT JOIN hits h ON dom.dims = h.dims AND dom.q_id = h.q_id
         |ORDER BY dom.dims, dom.q_id""".stripMargin
    },
    // recall@k: each approximate top-k subquery is the EXACT oracle text
    // of its own gate, embedded verbatim — the recall numbers are over
    // the same result sets the per-path gates hash-check
    "v_ann_recall" ->
      s"""WITH exr AS (SELECT q_id, vec_id FROM ($cosineTopkOracle) t),
         |qs AS (SELECT DISTINCT q_id FROM exr),
         |ivfr AS (SELECT q_id, vec_id FROM ($annIvfOracle) t),
         |tkr AS (SELECT q_id, vec_id FROM ($annIvfTrainedOracle) t),
         |ipqr AS (SELECT q_id, vec_id FROM ($annIvfPqOracle) t),
         |lshr AS (SELECT q_id, vec_id FROM ($annLshOracle) t),
         |nswr AS (SELECT q_id, vec_id FROM ($annNswOracle) t),
         |pqr AS (SELECT q_id, vec_id FROM ($annPqOracle) t),
         |pqt AS (SELECT q_id, vec_id FROM ($annPqTrainedOracle) t),
         |qur AS (SELECT q_id, vec_id FROM ($annQuantizedOracle) t),
         |ih AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN ivfr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |th AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN tkr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |iph AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN ipqr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |lh AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN lshr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |nh AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN nswr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |ph AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN pqr USING (q_id, vec_id)
         |       GROUP BY q_id),
         |pth AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN pqt USING (q_id, vec_id)
         |       GROUP BY q_id),
         |qh AS (SELECT q_id, COUNT(*) AS n FROM exr JOIN qur USING (q_id, vec_id)
         |       GROUP BY q_id)
         |SELECT method, q_id, n_hit, CAST(n_hit AS DOUBLE) / $K.0 AS recall FROM (
         |  SELECT 'ivf' AS method, qs.q_id, CAST(COALESCE(ih.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN ih USING (q_id)
         |  UNION ALL
         |  SELECT 'ivf_kmeans' AS method, qs.q_id, CAST(COALESCE(th.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN th USING (q_id)
         |  UNION ALL
         |  SELECT 'ivfpq' AS method, qs.q_id, CAST(COALESCE(iph.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN iph USING (q_id)
         |  UNION ALL
         |  SELECT 'lsh' AS method, qs.q_id, CAST(COALESCE(lh.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN lh USING (q_id)
         |  UNION ALL
         |  SELECT 'nsw' AS method, qs.q_id, CAST(COALESCE(nh.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN nh USING (q_id)
         |  UNION ALL
         |  SELECT 'pq' AS method, qs.q_id, CAST(COALESCE(ph.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN ph USING (q_id)
         |  UNION ALL
         |  SELECT 'pq_kmeans' AS method, qs.q_id, CAST(COALESCE(pth.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN pth USING (q_id)
         |  UNION ALL
         |  SELECT 'quant' AS method, qs.q_id, CAST(COALESCE(qh.n, 0) AS BIGINT) AS n_hit
         |  FROM qs LEFT JOIN qh USING (q_id)) u
         |ORDER BY method, q_id""".stripMargin,
    "v_hybrid_search" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         |kw AS (SELECT doc_id FROM documents
         |       WHERE list_contains(string_split(text, ' '), '$HybridKeyword')),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS cosine
         |  FROM embeddings e JOIN kw ON kw.doc_id = e.vec_id, q
         |  WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, vec_id, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // same candidate/score pipeline, inverted keep-rule: similarity
    // CEILING (near-dups are positives, not negatives) then top-3
    "v_hard_negatives" ->
      (lshScoredCte +
        s""",
           |ranked AS (
           |  SELECT q_id, vec_id, cosine,
           |         CAST(row_number() OVER (PARTITION BY q_id
           |                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
           |  FROM scored WHERE cosine < $HardNegCut)
           |SELECT q_id, rank, vec_id, cosine FROM ranked WHERE rank <= $HardNegK
           |ORDER BY q_id, rank""".stripMargin),
    // rebuilds the poisoned corpus and band keys in DuckDB: same md5
    // hyperplanes, same sequential fold; NaN/Inf arithmetic is IEEE in
    // both engines and `NaN >= 0` is TRUE in both (NaN sorts above all)
    "v_poisoned_lsh" ->
      s"""WITH hpv AS (
         |  SELECT hs.h, js.j,
         |         ${hex8("md5('hp' || CAST(hs.h AS VARCHAR) || '_' || CAST(js.j AS VARCHAR))", 1)}
         |           / 2147483648.0 - 1.0 AS r
         |  FROM (SELECT unnest(range(0, $LshBits)) AS h) hs,
         |       (SELECT unnest(range(0, 64)) AS j) js),
         |hp AS (SELECT h, list(r ORDER BY j) AS r FROM hpv GROUP BY h),
         |expl AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |         unnest(embedding) AS v
         |  FROM embeddings WHERE vec_id % 11 <> 0 AND embedding IS NOT NULL),
         |pois AS (
         |  SELECT vec_id, pos,
         |         CASE WHEN pos = vec_id % 64 AND vec_id % 11 = 1 THEN CAST('NaN' AS FLOAT)
         |              WHEN pos = vec_id % 64 AND vec_id % 11 = 2 THEN CAST('Infinity' AS FLOAT)
         |              WHEN pos = vec_id % 64 AND vec_id % 11 = 3 THEN CAST('-Infinity' AS FLOAT)
         |              ELSE v END AS v
         |  FROM expl),
         |pe AS (SELECT vec_id, list(v ORDER BY pos) AS embedding FROM pois GROUP BY vec_id),
         |bits AS (
         |  SELECT e.vec_id, hp.h,
         |         CASE WHEN list_reduce(list_transform(range(0, 64),
         |                i -> CAST(e.embedding[i+1] AS DOUBLE) * hp.r[i+1]), (x,y) -> x+y) >= 0
         |              THEN 1 ELSE 0 END AS bit
         |  FROM pe e, hp),
         |bands AS (
         |  SELECT vec_id, CAST(h // $BitsPerBand AS INT) AS band,
         |         CAST(SUM(bit * ([${(0 until BitsPerBand).map(1 << _).mkString(",")}])[(h % $BitsPerBand) + 1]) AS BIGINT) AS bkey
         |  FROM bits GROUP BY vec_id, h // $BitsPerBand)
         |SELECT vec_id, band, bkey FROM bands
         |UNION ALL
         |SELECT vec_id, NULL AS band, NULL AS bkey FROM embeddings
         |WHERE vec_id % 11 = 0 OR embedding IS NULL
         |ORDER BY vec_id, band NULLS FIRST""".stripMargin,
    "v_lsh_candidates" -> lshCandidatesOracle,
    // one scored-candidate table, symmetrized; per anchor the best
    // at-or-above-threshold partner (positive) and the best
    // sub-threshold partner (hard negative), both argmax with the
    // (cosine desc, partner asc) tie order
    "v_triplets" ->
      s"""WITH sc AS (SELECT a, b, cosine FROM ($lshCandidatesOracleBody) z),
         |p AS (SELECT a AS anchor, b AS partner, cosine FROM sc
         |      UNION ALL SELECT b, a, cosine FROM sc),
         |pos AS (SELECT anchor, partner AS positive, cosine AS pos_cosine FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor
         |            ORDER BY cosine DESC, partner ASC) AS rn
         |          FROM p WHERE cosine >= $HardNegCut) t WHERE rn = 1),
         |neg AS (SELECT anchor, partner AS negative, cosine AS neg_cosine FROM (
         |          SELECT *, row_number() OVER (PARTITION BY anchor
         |            ORDER BY cosine DESC, partner ASC) AS rn
         |          FROM p WHERE cosine < $HardNegCut) t WHERE rn = 1)
         |SELECT pos.anchor, pos.positive, pos.pos_cosine, neg.negative, neg.neg_cosine
         |FROM pos JOIN neg USING (anchor)
         |ORDER BY anchor""".stripMargin,
    "v_mmr_rerank" -> mmrRerankOracle,
    "v_mmr_gain" -> mmrGainOracle,
    "v_kcenter_coreset" -> kcenterCoresetOracle,
  )

  /** The full MMR greedy chain as a WITH body (ends at `cum[[MmrK]]`) so
    * both the rerank oracle and the gain overlay embed the same CTEs:
    * the greedy trajectory fully unrolled (the NSW/pagerank house
    * pattern) — exact top-[[MmrPool]] pool, candidate pairwise cosines,
    * then one (selN, cumN) CTE pair per greedy step, each step's argmax
    * over `0.5·rel − 0.5·maxsim` with the (score desc, vec_id asc) tie
    * order, maxsim taken against the cumulative picks. Doubles are the
    * shared fold/`list_reduce` cosine, bit-identical to the Spark path. */
  private lazy val mmrChainCtes: String = {
    val steps = (2 to MmrK).map { t =>
      s"""ms$t AS (
         |  SELECT p.q_id, p.a_id AS vec_id, MAX(p.sim) AS maxsim
         |  FROM pairs p JOIN cum${t - 1} s ON s.q_id = p.q_id AND s.vec_id = p.b_id
         |  GROUP BY p.q_id, p.a_id),
         |sel$t AS (
         |  SELECT q_id, vec_id, rel, CAST($t AS INT) AS step FROM (
         |    SELECT c.q_id, c.vec_id, c.rel,
         |           row_number() OVER (PARTITION BY c.q_id
         |             ORDER BY (0.5 * c.rel - 0.5 * m.maxsim) DESC, c.vec_id ASC) AS rn
         |    FROM cand c JOIN ms$t m ON m.q_id = c.q_id AND m.vec_id = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM cum${t - 1} s
         |                      WHERE s.q_id = c.q_id AND s.vec_id = c.vec_id)) z
         |  WHERE rn = 1),
         |cum$t AS (SELECT * FROM cum${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${sqlCos("e.embedding", "q.q_emb")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |cand AS (
       |  SELECT q_id, vec_id, rel FROM (
       |    SELECT q_id, vec_id, rel, row_number() OVER (PARTITION BY q_id
       |           ORDER BY rel DESC, vec_id ASC) AS rn
       |    FROM scored) t WHERE rn <= $MmrPool),
       |pairs AS (
       |  SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |         ${sqlCos("ea.embedding", "eb.embedding")} AS sim
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |sel1 AS (
       |  SELECT q_id, vec_id, rel, CAST(1 AS INT) AS step FROM (
       |    SELECT q_id, vec_id, rel, row_number() OVER (PARTITION BY q_id
       |           ORDER BY rel DESC, vec_id ASC) AS rn FROM cand) t WHERE rn = 1),
       |cum1 AS (SELECT * FROM sel1),
       |$steps""".stripMargin
  }

  private lazy val mmrRerankOracle: String =
    s"""$mmrChainCtes
       |SELECT q_id, step, vec_id, rel FROM cum$MmrK ORDER BY q_id, step""".stripMargin

  /** [[mmrChainCtes]] extended with the pure-relevance top-[[K]] list and
    * per-method decimal-exact means over relevance and intra-list
    * pairwise cosine. */
  private lazy val mmrGainOracle: String =
    s"""$mmrChainCtes,
       |lists AS (
       |  SELECT 'mmr' AS method, q_id, vec_id, rel FROM cum$MmrK
       |  UNION ALL
       |  SELECT 'topk' AS method, q_id, vec_id, rel FROM (
       |    SELECT q_id, vec_id, rel, row_number() OVER (PARTITION BY q_id
       |           ORDER BY rel DESC, vec_id ASC) AS rn FROM cand) t
       |  WHERE rn <= $K),
       |ps AS (
       |  SELECT l1.method, ${sqlCos("ea.embedding", "eb.embedding")} AS sim
       |  FROM lists l1 JOIN lists l2
       |    ON l1.method = l2.method AND l1.q_id = l2.q_id AND l1.vec_id < l2.vec_id
       |  JOIN embeddings ea ON ea.vec_id = l1.vec_id
       |  JOIN embeddings eb ON eb.vec_id = l2.vec_id),
       |sa AS (SELECT method, ${graft.QueryDsl.sqlDavg("sim")} AS mean_intra_sim
       |       FROM ps GROUP BY method)
       |SELECT l.method, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       ${graft.QueryDsl.sqlDavg("l.rel")} AS mean_rel,
       |       sa.mean_intra_sim
       |FROM lists l JOIN sa ON sa.method = l.method
       |GROUP BY l.method, sa.mean_intra_sim
       |ORDER BY l.method""".stripMargin

  /** Greedy k-center unrolled: scaled-integer vectors (the NSW `sv`
    * CTE), MIN(vec_id) seed, then per round the exact integer min-d²
    * table against the cumulative picks and its (mind2 desc, vec_id asc)
    * argmax. SUM over BIGINT is HUGEINT in DuckDB — mind2 CAST back to
    * BIGINT to match Spark's LongType. */
  private lazy val kcenterCoresetOracle: String = {
    val steps = (2 to KCenterK).map { t =>
      s"""p$t AS (
         |  SELECT a.vec_id AS pid, c.vec_id AS sid,
         |         SUM((a.e - b.e) * (a.e - b.e)) AS d2
         |  FROM cum${t - 1} c
         |  JOIN sv b ON b.vec_id = c.vec_id
         |  JOIN sv a ON a.dim = b.dim
         |  WHERE a.vec_id NOT IN (SELECT vec_id FROM cum${t - 1})
         |  GROUP BY a.vec_id, c.vec_id),
         |n$t AS (SELECT pid AS vec_id, CAST(MIN(d2) AS BIGINT) AS mind2
         |        FROM p$t GROUP BY pid),
         |sel$t AS (
         |  SELECT CAST($t AS INT) AS step, vec_id, mind2 FROM (
         |    SELECT vec_id, mind2,
         |           row_number() OVER (ORDER BY mind2 DESC, vec_id ASC) AS rn
         |    FROM n$t) z WHERE rn = 1),
         |cum$t AS (SELECT * FROM cum${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH sv AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS e
       |       FROM embeddings),
       |sel1 AS (SELECT CAST(1 AS INT) AS step, MIN(vec_id) AS vec_id,
       |                CAST(NULL AS BIGINT) AS mind2 FROM sv),
       |cum1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT step, vec_id, mind2 FROM cum$KCenterK ORDER BY step""".stripMargin
  }

  private lazy val lshCandidatesOracleBody: String =
      s"""WITH hpv AS (
         |  SELECT hs.h, js.j,
         |         ${hex8("md5('hp' || CAST(hs.h AS VARCHAR) || '_' || CAST(js.j AS VARCHAR))", 1)}
         |           / 2147483648.0 - 1.0 AS r
         |  FROM (SELECT unnest(range(0, $LshBits)) AS h) hs,
         |       (SELECT unnest(range(0, 64)) AS j) js),
         |hp AS (SELECT h, list(r ORDER BY j) AS r FROM hpv GROUP BY h),
         |bits AS (
         |  SELECT e.vec_id, hp.h,
         |         CASE WHEN list_reduce(list_transform(range(0, 64),
         |                i -> CAST(e.embedding[i+1] AS DOUBLE) * hp.r[i+1]), (x,y) -> x+y) >= 0
         |              THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e, hp WHERE e.embedding IS NOT NULL),
         |bands AS (
         |  SELECT vec_id, CAST(h // $DedupBitsPerBand AS INT) AS band,
         |         CAST(SUM(bit * ([${(0 until DedupBitsPerBand).map(1 << _).mkString(",")}])[(h % $DedupBitsPerBand) + 1]) AS BIGINT) AS bkey
         |  FROM bits GROUP BY vec_id, h // $DedupBitsPerBand),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
         |SELECT c.a, c.b, ${sqlCos("ea.embedding", "eb.embedding")} AS cosine
         |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a
         |            JOIN embeddings eb ON eb.vec_id = c.b
         |ORDER BY a, b""".stripMargin

  private lazy val lshCandidatesOracle: String = lshCandidatesOracleBody
}
