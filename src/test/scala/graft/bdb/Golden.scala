package graft.bdb

import org.apache.spark.sql.DataFrame

/** Committed golden files for the BdbMini pipeline heads (SURVEY §5.3)
  * that remain rows-only in the driver gate (ML training heads), so a
  * regression would otherwise be silent row drift. The fixture and
  * every stage are deterministic (seeded generator, deterministic
  * orderings), so the rendered outputs are committed byte-for-byte and
  * PipelineSpec diffs against them.
  *
  * Doubles are rendered at 6 decimals: far below any real kernel change,
  * above float-sum reassociation noise.
  *
  * Regenerate (after an INTENDED kernel change — review the diff):
  *   sbt "Test/runMain graft.bdb.Golden"
  */
object Golden {

  val queries: Seq[String] =
    // bdb_mirror_matchups / bdb_coverage_features / bdb_press_pipeline /
    // bdb_radius_stage graduated to DuckDB oracles (round 8: the
    // portable mix64 seed made even the MC kernel SQL-replayable) —
    // goldens retired
    Seq("bdb_disguise", "bdb_coverage_model")

  /** Seeded-but-deterministic rows-only DATA queries, goldened at
    * sf0.001: ML training metrics (m2 LR, m4 RF confusion, m5 MLP), the
    * m9 stratified split counts, and the k2 MC-openness head. All are
    * fixed-seed and partition-deterministic under the SparkSpec session
    * config (local[4], 4 shuffle partitions — the generator below pins
    * the same config), so a numeric drift on the pinned Spark version is
    * a test diff, not silence. */
  val dataQueries: Seq[String] = Seq(
    "m2_lr_metrics", "m4_rf_confusion", "m5_mlp_metrics",
    "m9_stratified_split", "k2_openness",
    // round-6 additions: every remaining seeded-deterministic rows-only
    // query (CV search, OvR-GBT, quality gate, HLL profile — sketch
    // merges are register-max, order-independent). m10_pca graduated to
    // a DuckDB oracle in round 12 (covariance block); its eigen half is
    // the extraData entry below.
    "m6_cv_search", "m7_ovr_gbt_metrics",
    "m11_quality_classifier", "s23_profile_approx")

  /** Deterministic golden-gated heads that are NOT registered queries
    * (round 12): the PCA explained-variance spectrum + SIGN-NORMALIZED
    * loadings — the registered m10_pca is now the oracle-gated
    * covariance block, and the convention-bound eigen half is pinned
    * here instead (sign normalization in Pipelines.pcaSpectrum makes it
    * golden-stable). */
  val extraData: Seq[(String, org.apache.spark.sql.SparkSession => DataFrame)] = Seq(
    "m10_pca_spectrum" -> ((s: org.apache.spark.sql.SparkSession) =>
      graft.ml.Pipelines.pcaSpectrum(
        graft.Tables.load(s, dataSfDir, "embeddings"))))

  val dataSfDir = "/root/testdata/sf0.001"

  def resourcePath(name: String) = s"/goldens/$name.csv"

  def render(df: DataFrame): String = {
    val header = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    // Locale.ROOT: "%.6f" under a comma-decimal default locale would
    // render 0,5 and fail the byte comparison spuriously
    def fmt(d: Double) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    val rows = df.collect().map { r =>
      r.toSeq.map {
        case null      => ""
        case d: Double => fmt(d)
        case f: Float  => fmt(f.toDouble)
        case v         => v.toString
      }.mkString(",")
    }
    (header +: rows).mkString("", "\n", "\n")
  }

  /** Writes the goldens into the source tree for committing, from the
    * same session SparkSpec builds. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(Some(graft.SparkSpec.Master))
    try {
      val outDir = java.nio.file.Paths.get("src/test/resources/goldens")
      java.nio.file.Files.createDirectories(outDir)
      (queries.map(_ -> "unused") ++ dataQueries.map(_ -> dataSfDir))
        .foreach { case (name, dir) =>
          val df = graft.SparkEntry.queries(name)(spark, dir)
          java.nio.file.Files.write(outDir.resolve(s"$name.csv"),
            render(df).getBytes("UTF-8"))
          println(s"wrote $name")
        }
      extraData.foreach { case (name, fn) =>
        java.nio.file.Files.write(outDir.resolve(s"$name.csv"),
          render(fn(spark)).getBytes("UTF-8"))
        println(s"wrote $name")
      }
    } finally spark.stop()
  }
}
