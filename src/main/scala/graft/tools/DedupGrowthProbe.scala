package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: the dedup family's growth row (round-11 verdict ask #7 —
  * the graph heads have three measured decades; this gives the dedup
  * heads theirs). At a given data dir it reports
  *
  *  - NearDupPairs' candidate count and true-pair count through the
  *    production plan (operators.NearDupPairs.stats), whose ratio is
  *    the load-bearing number for the df-ascending prefix ordering's
  *    "linear-ish at 10⁹ docs" claim — candidates must grow with the
  *    corpus, not quadratically in a hot bucket;
  *  - min-of-two timed runs of d2/d3/d5/x18 (the Bench protocol:
  *    Caches.reset before every run so nothing rides a memo).
  *
  * Usage: runMain graft.tools.DedupGrowthProbe <sfDir> [queries...]
  * Prints one JSON line. Run at sf0.1 / /tmp/sf1 / /tmp/sf3
  * (tools/make_sf1.py with 10 and 30 copies) for the decade table in
  * SCALING.md, and at /tmp/adv{1,10,30} (tools/make_adversarial.py —
  * round-12 ask #1) for the cross-copy adversarial decades.
  *
  * Round 12 additions: `bpv_df` / `bpv_hash` — the inverted-index
  * bucket-pair volume Σ_h C(n_h, 2) over PREFIX buckets under (a) the
  * production df-ascending order and (b) the df-IGNORANT hashed order
  * rounds ≤ 9 used. This is the COUNTERFACTUAL the adversarial fixture
  * exists for: on a boilerplate-bearing corpus the hashed order admits
  * corpus-wide shingles into prefixes and its volume goes quadratic in
  * the hot bucket, while the df order keeps it near the candidate
  * count — measured, so the "fixture can actually fail" claim is a
  * number, not an argument. (Computed by two aggregations, no join —
  * the hashed-order join itself would be the quadratic blowup.)
  */
object DedupGrowthProbe {

  /** Σ_h C(n_h, 2) over prefix buckets for a given per-doc shingle
    * ordering — the candidate join's worst-case output volume. */
  private def bucketPairVolume(sh: org.apache.spark.sql.DataFrame): Long = {
    val prefixes = sh.select(col("doc_id"),
      explode(slice(col("hs"), lit(1),
        (col("sz") - ceil(col("sz") * 0.7) + 1).cast("int"))).as("h"))
    prefixes.groupBy("h").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2"))).head.getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("d2_jaccard_pairs", "d3_minhash_lsh",
                         "d5_dedup_clusters", "x18_pretrain_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.load(spark, sfDir, "documents")
    val nDocs = docs.count()
    val shingled = docs.select(col("doc_id"),
      graft.functions.TextFunctions.shingles(col("text"), 3).as("s"))
    val (nCand, nPairs) = graft.operators.NearDupPairs.stats(shingled)

    // counterfactual bucket-pair volumes (see scaladoc): the PRODUCTION
    // df-ascending frame vs the df-ignorant hashed order rounds ≤ 9 used
    val dfFrame = graft.operators.NearDupPairs.shFrame(shingled).cache()
    val bpvDf = bucketPairVolume(dfFrame)
    dfFrame.unpersist(blocking = false)
    val hashFrame = shingled
      .select(col("doc_id"), explode(col("s")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .withColumn("sz", size(col("hs")))
    val bpvHash = bucketPairVolume(hashFrame)

    def timeOnce(name: String): Double = {
      graft.Caches.reset(spark)
      val t0 = System.nanoTime()
      org.apache.spark.sql.GraftBenchPlan
        .withoutTerminalSort(graft.SparkEntry.queries(name)(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val times = names.map { n =>
      val a = timeOnce(n); val b = timeOnce(n)
      n -> math.min(a, b)
    }
    println(s"""{"sf":"$sfDir","n_docs":$nDocs,"n_cand":$nCand,""" +
      s""""n_pairs":$nPairs,""" +
      s""""cand_per_pair":${"%.1f".format(nCand.toDouble / math.max(nPairs, 1))},""" +
      s""""bpv_df":$bpvDf,"bpv_hash":$bpvHash,""" +
      times.map { case (k, v) => s""""$k":${"%.2f".format(v)}""" }
        .mkString("", ",", "}"))
    spark.stop()
  }
}
