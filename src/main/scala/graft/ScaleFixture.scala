package graft

import org.apache.spark.sql.functions._

/** Dev-only SCALE-FIXTURE builder for slope evidence (r22, verdict item 4):
  * `runMain graft.ScaleFixture <srcSfDir> <outDir> <k>` replicates the
  * corpus K× so TimeOne can measure per-query scaling ABOVE the largest
  * driver-provided SF (sf0.1). Replica r gets id offsets (doc_id +
  * r·maxDoc, order keys likewise) and a PER-REPLICA WORD SUFFIX on the
  * text — pure [a-z], so tokenizer-eligibility rules are unchanged —
  * which keeps replicas DISJOINT in every hash space (shingles, 5-grams,
  * boilerplate lines): without it, every doc would gain k−1 exact
  * near-dups and the pair-generating operators would measure duplication
  * density, not corpus size. Non-scaled tables are copied verbatim so all
  * query paths resolve. TIMING ONLY — never an oracle input; the driver's
  * testdata stays untouched. */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    // replica r > 0 suffixes its words with the letter 'a' + r, which
    // leaves [a-z] past 26 replicas
    require(k >= 1 && k <= 26, s"k=$k: replica word suffixes stay in [a-z] only for k in 1..26")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      "graft-scale-fixture")
    new java.io.File(out).mkdirs()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until k).map { r =>
      if (r == 0) docs
      else {
        val sfx = lit("zz" + ('a' + r).toChar)
        docs.select(
          (col("doc_id") + lit(r * maxDoc)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, sfx)), " ").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_ unionByName _)
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    val maxOrd = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCust = orders.agg(max("o_custkey")).head().getLong(0) + 1
    (0 until k).map { r =>
      if (r == 0) orders
      else orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * maxOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * maxCust))
    }.reduce(_ unionByName _)
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    Seq("customer", "supplier", "part", "nation", "region", "lineitem",
      "events", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"SCALE_FIXTURE k=$k out=$out")
    spark.stop()
  }
}
