package graft.ml

import org.apache.spark.ml.feature.{Imputer, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, OneVsRest, RandomForestClassifier}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 — the ML surface (M1-M11) as spark.ml building blocks.
  *
  * The reference's sklearn/keras/XGBoost stack maps to spark.ml:
  * LabelEncoder → StringIndexer (alphabetAsc matches sklearn's
  * lexicographic codes, M1); feature matrix assembly → VectorAssembler /
  * array_to_vector (M2); StandardScaler (M3); train_test_split →
  * randomSplit(seed) / sampleBy stratified (M4); RandomForest/
  * LogisticRegression (M5/M7); multiclass XGBoost/CatBoost (M6) →
  * OneVsRest(GBTClassifier), the fallback SURVEY §2.9 prescribes.
  *
  * Scale notes: all estimators here train via Spark's distributed
  * treeAggregate — no driver-side data pull; scoring is a map-only
  * transform. At 100 TB you train on a sampled/partitioned subset and
  * transform the full corpus — both shapes below.
  */
object Pipelines {

  /** Embeddings table → ml features column. */
  def withFeatures(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))

  /** M2 — named numeric columns → `features` vector after the
    * reference's `fillna(0)` (`DefCoverage.ipynb:140`,
    * `DefPosModel.ipynb:237`). Map-only: no shuffle, no fitting. */
  def assembleZeroFilled(df: DataFrame, cols: Seq[String],
                         out: String = "features"): DataFrame = {
    val filled = df.na.fill(0, cols)
    new VectorAssembler().setInputCols(cols.toArray).setOutputCol(out)
      .transform(filled)
  }

  /** M2 — the Imputer variant (`DefPosModel.ipynb:228-237` region):
    * fill NAs with the column mean learned from the data (one
    * aggregation pass), then assemble. */
  def assembleImputed(df: DataFrame, cols: Seq[String],
                      out: String = "features"): DataFrame = {
    val imputedCols = cols.map(c => s"${c}__imp")
    val imputer = new Imputer().setStrategy("mean")
      .setInputCols(cols.toArray).setOutputCols(imputedCols.toArray)
    val imputed = imputer.fit(df).transform(df)
    new VectorAssembler().setInputCols(imputedCols.toArray).setOutputCol(out)
      .transform(imputed)
      .drop(imputedCols: _*)
  }

  /** M4 — per-class stratified train/test split (sklearn
    * `train_test_split(stratify=y)`, `DefCoverage.ipynb:167-172`).
    * Each row draws Bernoulli(trainFrac) from a DETERMINISTIC uniform:
    * xxhash64(idCols, label, seed) scaled to [0,1). Unlike
    * `df.stat.sampleBy` (which consumes a per-partition RNG stream in
    * row order and therefore needs a cache pin to keep the two sides
    * disjoint), the hash draw is a pure function of the row identity —
    * disjoint + covering by construction, reproducible across
    * re-evaluations, no cached materialization to leak, and at 100 TB
    * both sides stay lazy single-pass filters with no anti-join. */
  def stratifiedSplit(df: DataFrame, labelCol: String, trainFrac: Double,
                      seed: Long, idCols: Seq[String]): (DataFrame, DataFrame) = {
    val inTrain = stratifiedInTrain(labelCol, trainFrac, seed, idCols)
    (df.filter(inTrain), df.filter(!inTrain))
  }

  /** The row predicate behind [[stratifiedSplit]]: true on the train side. */
  def stratifiedInTrain(labelCol: String, trainFrac: Double,
                        seed: Long, idCols: Seq[String]): Column = {
    val u = pmod(xxhash64((idCols :+ labelCol).map(col) :+ lit(seed): _*),
                 lit(1000000L)).cast("double") / 1000000.0
    u < trainFrac
  }

  /** Standardize features (withMean so the oracle formula is exact:
    * scaled = (x − mean) / stddev_samp). */
  def scaled(df: DataFrame): DataFrame = {
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled")
      .setWithMean(true).setWithStd(true)
    scaler.fit(df).transform(df)
  }

  def firstScaledElement(df: DataFrame): DataFrame =
    scaled(df).withColumn("scaled0", element_at(vector_to_array(col("scaled")), 1))

  /** Multinomial logistic regression, fixed seed + split. */
  def lrMetrics(embeddings: DataFrame, labelCol: String): DataFrame = {
    // cache: fit/evaluate/count are separate actions over the same frame
    val data = withFeatures(embeddings).withColumn("label", col(labelCol).cast("double"))
      .cache()
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = new LogisticRegression()
      .setMaxIter(50).setFamily("multinomial").setFeaturesCol("features")
      .fit(train)
    val scored = model.transform(test)
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(scored)
    val ll = new MulticlassClassificationEvaluator()
      .setMetricName("logLoss").evaluate(scored)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val out = Seq(("accuracy", acc), ("logLoss", ll),
        ("n_train", train.count().toDouble), ("n_test", test.count().toDouble))
      .toDF("metric", "value")
    data.unpersist() // all metrics are driver scalars by now
    out
  }

  /** M8 — feed-forward network (the reference's 64→32→16→softmax Keras
    * model, `DefPosModel.ipynb:554-575`) as MultilayerPerceptron. */
  def mlpMetrics(embeddings: DataFrame): DataFrame = {
    val data = withFeatures(embeddings).withColumn("label", col("label").cast("double"))
      .cache()
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val mlp = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
      .setLayers(Array(64, 32, 16, 10)).setMaxIter(20).setBlockSize(128).setSeed(42)
    val model = mlp.fit(train)
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(model.transform(test))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val out = Seq(("mlp_accuracy", acc), ("n_layers", 4.0)).toDF("metric", "value")
    data.unpersist()
    out
  }

  /** M9 — hyperparameter search via CrossValidator (the reference's
    * RandomizedSearchCV, `DefPosModel.ipynb:259-300`; grid not random,
    * delta documented in SURVEY §2.9). */
  def cvBestRegParam(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    // cache: CV refits the estimator folds x grid times over this frame
    val data = withFeatures(embeddings).withColumn("label", col("label").cast("double"))
      .cache()
    val lr = new LogisticRegression().setMaxIter(20).setFamily("multinomial")
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.0, 0.1)).build()
    val cv = new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("logLoss"))
      .setEstimatorParamMaps(grid).setNumFolds(2).setSeed(42)
      // folds x grid = 4 independent fits; run them concurrently
      // (per-fit results and avgMetrics are unchanged)
      .setParallelism(4)
    val model = cv.fit(data)
    val best = model.bestModel.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val spark = embeddings.sparkSession
    import spark.implicits._
    val out = model.avgMetrics.zip(grid).toSeq
      .map { case (m, pm) => (pm(lr.regParam), m) }
      .toDF("regParam", "avg_logloss")
      .withColumn("is_best", col("regParam") === best.getRegParam)
    data.unpersist() // avgMetrics are driver-side already
    out
  }

  /** M6 — multiclass boosted trees. The reference's best models are
    * XGBoost/CatBoost (`DefCoverage.ipynb:164-187`); Spark's GBTClassifier
    * is binary-only, so multiclass comes via OneVsRest(GBT) — the
    * fallback SURVEY §2.9 prescribes. One boosted model per class,
    * trained on the same distributed feature frame. */
  def ovrGbtMetrics(embeddings: DataFrame, labelCol: String): DataFrame = {
    // cache: OneVsRest fits one GBT per class over the same train frame
    val data = withFeatures(embeddings)
      .withColumn("label", col(labelCol).cast("double")).cache()
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val gbt = new GBTClassifier().setMaxIter(10).setMaxDepth(4).setSeed(42)
    // parallelism: the k binary fits are independent; serial (the
    // default) leaves the cluster idle between them. Per-model results
    // are unchanged — each binary GBT sees the same train frame + seed.
    val model = new OneVsRest().setClassifier(gbt).setParallelism(3).fit(train)
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(model.transform(test))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val out = Seq(("ovr_gbt_accuracy", acc),
        ("n_classes", model.models.length.toDouble),
        ("n_test", test.count().toDouble))
      .toDF("metric", "value")
    data.unpersist()
    out
  }

  /** RandomForest confusion matrix: (label, prediction, n) rows —
    * M10's confusion matrix as groupBy(label, prediction).count. */
  def rfConfusion(embeddings: DataFrame): DataFrame = {
    val data = withFeatures(embeddings).withColumn("label", col("label").cast("double"))
      .cache()
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = new RandomForestClassifier()
      .setNumTrees(50).setMaxDepth(8).setSeed(42)
      .fit(train)
    model.transform(test)
      .groupBy(col("label").cast("int").as("label"),
               col("prediction").cast("int").as("prediction"))
      .agg(count(lit(1)).as("n"))
  }

  /** Model-based quality gate: HashingTF(2^14) → IDF → LogisticRegression
    * trained on a heuristic label (stopword presence x length band — the
    * cheap signal a human-labeled seed set replaces in production), then
    * applied to every document. Featurization is the hashing trick, so
    * no vocabulary is built or broadcast — map-only at any corpus size.
    * Returns the corpus with `label` (heuristic) and `prediction`
    * (classifier) columns. */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    val ts = split(col("text"), " ")
    val labeled = docs.withColumn("label",
      when(size(filter(ts, t => t.isin("the", "a", "and", "of", "to", "in", "is"))) * 50
             >= size(ts) && size(ts) >= 20, 1.0)
        .otherwise(0.0))
    val pipe = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("toks"),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(1 << 14),
      new IDF().setInputCol("tf").setOutputCol("features"),
      new LogisticRegression().setMaxIter(20)))
    val Array(train, test) = labeled.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = pipe.fit(train)
    model.transform(labeled)
      .select(docs.columns.map(col) :+ col("label") :+ col("prediction"): _*)
  }

  /** M12's eigen half: PCA over the embedding corpus — per (component,
    * position) rows carrying the explained-variance spectrum and the
    * SIGN-NORMALIZED principal-component loadings. Eigenvector SIGN is
    * convention-bound (LAPACK may return v or −v for the same
    * eigenspace), so each component is flipped to make its first
    * |loading| > 1e-9 positive — the only transformation needed to make
    * the output a stable golden. Everything else is deterministic given
    * the data and partitioning: spark.ml PCA is one treeAggregate of the
    * dim × dim Gramian (map-side partial sums, dimension² driver state —
    * independent of row count) plus a local eigendecomposition, no RNG.
    * The ORACLE-checkable half of PCA — the covariance block this
    * eigensolver consumes — is the registered `m10_pca` query
    * (exact-integer registers, hash-gated); this frame is its
    * golden-gated complement (GoldenDataSpec). */
  def pcaSpectrum(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val emb = withFeatures(embeddings)
    val model = new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pca").setK(k).fit(emb)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pc = model.pc // dim × k, column-major
    val rows = for (c <- 0 until k) yield {
      val colv = Array.tabulate(pc.numRows)(r => pc(r, c))
      val sign = colv.find(math.abs(_) > 1e-9).map(math.signum).getOrElse(1.0)
      (c.toLong, model.explainedVariance(c), colv.map(_ * sign).toSeq)
    }
    rows.toDF("component", "explained_variance", "loadings")
      .select(col("component"), col("explained_variance"),
        posexplode(col("loadings")).as(Seq("pos", "loading")))
      .orderBy("component", "pos")
  }
}
