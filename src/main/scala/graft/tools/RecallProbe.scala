package graft.tools


/** Dev tool: ANN recall vs the exact brute-force result at a given data
  * dir — the number SimilaritySpec asserts at sf0.001/0.01/0.1, made
  * runnable at dirs the test suite doesn't ship to (the synthetic sf1).
  * Usage: runMain graft.tools.RecallProbe <sfDir>
  * Prints one JSON line: {"v3":0.95,"v4":...,"v5":...,"sf":"<dir>"}.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    def pairs(name: String): Set[(Long, Long)] =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("v1_cosine_topk")
    val recalls = Seq("v3_ann_lsh_topk", "v4_ann_ivf_topk", "v5_ann_sq8_topk",
                      "v9_ann_pq_topk")
      .map { name =>
        val r = (exact intersect pairs(name)).size.toDouble / exact.size
        name.split("_")(0) -> r
      }
    // v9's denser operating point (round 7): same 64-bit codes, 5x the
    // re-rank cushion — the standard recall/cost dial when the coarse
    // ADC ordering under-ranks a true neighbor past candidate 100
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val pq500 = graft.operators.PqAnn.topK(
        corpus = e.select("vec_id", "embedding"),
        queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
          .select("vec_id", "embedding"),
        k = 5, cand = 500)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = recalls :+
      ("v9c500" -> (exact intersect pq500).size.toDouble / exact.size)
    println(all.map { case (k, v) => s""""$k":${"%.3f".format(v)}""" }
      .mkString("{", ",", s""","n_exact":${exact.size},"sf":"$sfDir"}"""))
    spark.stop()
  }
}
