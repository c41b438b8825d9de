package graft.bdb

import graft.ml.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §3.1 entry point B — the play-level coverage classifier
  * (`DefCoverage.ipynb:34-237`): defender tracking stats → per-position
  * pivot → play features → RandomForest → accuracy / log-loss /
  * confusion.
  *
  * Scale shape: the stats aggregation is ONE shuffle on
  * (gameId, playId, defensiveTeam, position) — uniform keys, partial
  * aggregation map-side; the pivot is a second shuffle on the play key
  * with a PINNED position list (stable schema, no driver-side distinct
  * scan); the plays join broadcasts (plays is the small side at any
  * scale — one row per play vs ~10³ tracking rows per play). Training
  * input is one row per play — 10⁶ rows at full scale, trivially
  * RF-trainable via spark.ml's distributed trees.
  */
object CoveragePlayModel {

  /** `DefCoverage.ipynb:49` — the defender position whitelist. */
  val defensivePositions: Seq[String] =
    Seq("CB", "S", "FS", "SS", "OLB", "MLB", "ILB", "DB", "LB", "EDGE")

  private val statCols = Seq("x", "y", "s", "a")

  /** Stage 1 (`DefCoverage.ipynb:34-58`): player_play ⋈ plays ⋈ players,
    * dropbacks only, defender positions only, joined to tracking. */
  def defenderTracking(plays: DataFrame, players: DataFrame,
                       playerPlay: DataFrame, tracking: DataFrame): DataFrame = {
    val defenders = playerPlay.select("gameId", "playId", "nflId")
      .join(plays.select("gameId", "playId", "defensiveTeam", "isDropback"),
            Seq("gameId", "playId"))
      .join(broadcast(players.select("nflId", "position")), Seq("nflId"), "left")
      .filter(col("isDropback") && col("position").isin(defensivePositions: _*))
      .select("gameId", "playId", "nflId", "defensiveTeam", "position")
    defenders.join(
      tracking.select("gameId", "playId", "nflId", "frameId", "x", "y", "s", "a"),
      Seq("gameId", "playId", "nflId"))
  }

  /** Stage 2 (`DefCoverage.ipynb:62-80`): mean/std of x,y,s,a + distinct
    * defender count per (play, team, position). pandas `std` is the
    * sample std.
    *
    * Moments are summed in EXACT DECIMAL, not double: double partial
    * aggregation combines in whatever order the ambient partitioning
    * delivers, so `avg`/`stddev_samp` drift by ulps across layouts — and
    * a downstream RandomForest amplifies an ulp-different feature into a
    * visibly different tree (this was a real flake: the bdb goldens
    * diverged only under the full parallel test suite). Decimal sums are
    * order-independent; the per-group variance arithmetic afterwards is
    * fixed-order scalar math. Inputs truncate at scale 6 (tracking
    * values are yards/velocities ~1e2 — far above any physical
    * precision); (16,6)x(16,6) -> (33,12) stays inside DECIMAL's
    * 38-digit cap, so the squares are exact too — no rounding anywhere
    * until the final double cast. */
  def positionStats(defTrack: DataFrame): DataFrame = {
    val aggs = statCols.flatMap { c =>
      val xd = col(c).cast("decimal(16,6)")
      Seq(sum(xd).as(s"${c}_s1"), sum(xd * xd).as(s"${c}_s2"),
          count(col(c)).as(s"${c}_n"))
    } :+ countDistinct(col("nflId")).as("count_defenders")
    val grouped = defTrack.groupBy("gameId", "playId", "defensiveTeam", "position")
      .agg(aggs.head, aggs.tail: _*)
    val stats = statCols.flatMap { c =>
      val (s1, s2, n) = (col(s"${c}_s1").cast("double"),
                         col(s"${c}_s2").cast("double"),
                         col(s"${c}_n").cast("double"))
      Seq((s1 / n).as(s"${c}_mean"),
          when(n > 1, sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0))))
            .as(s"${c}_std"))
    }
    grouped.select(
      Seq(col("gameId"), col("playId"), col("defensiveTeam"), col("position")) ++
        stats :+ col("count_defenders"): _*)
  }

  val pivotStats: Seq[String] =
    statCols.flatMap(c => Seq(s"${c}_mean", s"${c}_std")) :+ "count_defenders"

  /** Stage 3 (`DefCoverage.ipynb:81-93`): pivot wider by position with
    * fill 0, reference column naming `{stat}_{position}`. The position
    * list is pinned by the caller (stable schema — no inference scan). */
  def positionPivot(stats: DataFrame, positions: Seq[String]): DataFrame = {
    val wide = stats.groupBy("gameId", "playId", "defensiveTeam")
      .pivot("position", positions)
      .agg(pivotStats.map(s => first(col(s)).as(s)).head,
           pivotStats.map(s => first(col(s)).as(s)).tail: _*)
    // Spark names pivoted columns {position}_{stat}; the reference emits
    // {stat}_{position} (DefCoverage.ipynb:88-91)
    // in one projection: a rename per column would re-analyze the
    // growing plan ~90 times
    wide.withColumnsRenamed(
        positions.flatMap(p => pivotStats.map(s => s"${p}_$s" -> s"${s}_$p")).toMap)
      .na.fill(0.0)
  }

  val playContextCols: Seq[String] = Seq(
    "down", "yardsToGo", "preSnapHomeScore", "preSnapVisitorScore",
    "absoluteYardlineNumber")

  /** Stage 4 (`DefCoverage.ipynb:95-120`): join play context, fill
    * numeric NAs with 0, derive score_diff, keep labeled plays only. */
  def playFeatures(pivot: DataFrame, plays: DataFrame): DataFrame = {
    val subset = plays
      .select((Seq("gameId", "playId", "defensiveTeam", "pff_passCoverage")
               ++ playContextCols).map(col): _*)
      .dropDuplicates()
    pivot.join(broadcast(subset), Seq("gameId", "playId", "defensiveTeam"))
      .na.fill(0, playContextCols)
      .withColumn("score_diff",
        col("preSnapHomeScore") - col("preSnapVisitorScore"))
      .filter(col("pff_passCoverage").isNotNull)
  }

  /** Feature columns = everything numeric except ids and the label
    * (`DefCoverage.ipynb:134-140`). */
  def featureCols(features: DataFrame): Seq[String] = {
    val exclude = Set("gameId", "playId", "defensiveTeam", "pff_passCoverage")
    features.columns.filterNot(exclude).toSeq
  }

  /** Full feature build over one data model. */
  def features(plays: DataFrame, players: DataFrame,
               playerPlay: DataFrame, tracking: DataFrame,
               positions: Seq[String]): DataFrame =
    playFeatures(
      positionPivot(positionStats(
        defenderTracking(plays, players, playerPlay, tracking)), positions),
      plays)

  /** Stage 5 (`DefCoverage.ipynb:124-187`): label-encode the coverage,
    * assemble the numeric matrix, stratified 80/20 split (the XGBoost
    * cell splits with `stratify=y`), RandomForest, metrics. On tiny
    * inputs the split can starve a class, so metrics are also reported
    * over the full frame (the notebook's final overall-accuracy cell,
    * `DefCoverage.ipynb:221-237`). */
  private def newRf() = new org.apache.spark.ml.classification.RandomForestClassifier()
    .setNumTrees(50).setMaxDepth(8).setSeed(42)

  /** Shared model prep for rfMetrics/confusion: cache the feature
    * matrix (indexer fit, split, RF fit and evaluations are separate
    * actions — uncached, each would recompute the whole defender-stats
    * pipeline), label-encode, assemble. */
  private def prepared(features0: DataFrame)
      : (DataFrame, Seq[String], org.apache.spark.ml.feature.StringIndexerModel, DataFrame) = {
    val features = features0.cache()
    val fc = featureCols(features)
    val indexerModel = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCol("pff_passCoverage").setOutputCol("label")
      .setStringOrderType("alphabetAsc")
      .fit(features)
    // PIN the matrix layout before any model fit: MLlib's RandomForest
    // bootstraps with per-partition RNG streams and sampleBy samples
    // per-partition too, so identical rows in a different partition
    // layout train a (slightly) different model. An explicit partition
    // count (immune to AQE/conf) + hash-by-key + unique-key local sort
    // makes layout a pure function of the data — the property the
    // committed goldens assert.
    val data = indexerModel.transform(
      Pipelines.assembleZeroFilled(features, fc))
      .repartition(4, col("gameId"), col("playId"))
      .sortWithinPartitions("gameId", "playId", "defensiveTeam")
      .cache()
    (features, fc, indexerModel, data)
  }

  def rfMetrics(features0: DataFrame): DataFrame = {
    val (features, fc, _, data) = prepared(features0)
    val inTrain = Pipelines.stratifiedInTrain(
      "label", 0.8, seed = 42, idCols = Seq("gameId", "playId", "defensiveTeam"))
    val model = newRf().fit(data.filter(inTrain))
    // With unit weights, MulticlassClassificationEvaluator's accuracy is
    // (rows predicted right) / (rows), a ratio of exact integer counts,
    // so one aggregation over the scored matrix yields the same doubles
    // for both sides and the row count as a single job.
    val hit = (col("prediction") === col("label")).cast("long")
    val held = !inTrain
    val r = model.transform(data)
      .agg(sum(hit), count(lit(1)), sum(when(held, hit)), count(when(held, lit(1))))
      .head()
    val nPlays = r.getLong(1)
    val nTest = r.getLong(3)
    val spark = features.sparkSession
    import spark.implicits._
    val out = Seq(
      ("overall_accuracy", r.getLong(0).toDouble / nPlays),
      ("val_accuracy", if (nTest == 0) -1.0 else r.getLong(2).toDouble / nTest),
      ("n_plays", nPlays.toDouble),
      ("n_features", fc.size.toDouble)
    ).toDF("metric", "value")
    data.unpersist(); features.unpersist() // metrics are driver scalars
    out
  }

  /** Per-play prediction probabilities over the full frame — the
    * engine's form of the reference's `coverage_predictions.csv`
    * (the file `cover_threshold.R:6` reads: play ids, actual and
    * predicted coverage, one probability per trained class). The
    * per-class columns become one map keyed by coverage name — schema
    * stays stable however many classes the label indexer finds. */
  def predictions(features0: DataFrame): DataFrame = {
    val (_, _, indexerModel, data) = prepared(features0)
    val model = newRf().fit(data)
    val labels = indexerModel.labelsArray(0)
    val toName = udf((i: Double) => labels(i.toInt))
    import org.apache.spark.ml.functions.vector_to_array
    model.transform(data)
      .select(col("gameId"), col("playId"), col("defensiveTeam"),
        col("pff_passCoverage").as("actual_coverage"),
        toName(col("prediction")).as("predicted_coverage"),
        map_from_arrays(
          typedlit(labels.toSeq),
          vector_to_array(col("probability"))).as("probs"))
  }

  /** Confusion matrix over the full frame (`DefCoverage.ipynb:191-206`),
    * by coverage name for readability. (The returned frame derives from
    * the cached matrix, so the cache stays owned by the session here.) */
  def confusion(features0: DataFrame): DataFrame = {
    val (_, _, indexerModel, data) = prepared(features0)
    val model = newRf().fit(data)
    val labels = indexerModel.labelsArray(0)
    val toName = udf((i: Double) => labels(i.toInt))
    model.transform(data)
      .select(col("pff_passCoverage").as("actual"),
              toName(col("prediction")).as("predicted"))
      .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
  }
}
