package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{q, qRowsOnly}
import graft.ml.Pipelines
import graft.operators.Lloyd
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 — ML surface queries. The two deterministic feature
  * transforms are DuckDB-oracle-checked; model training/eval queries are
  * rows-only (training isn't SQL-expressible) with behavior asserted in
  * MLSpec.
  */
object MLQueries {

  val defs: Seq[QueryDef] = Seq(

    // M1 — label encoding. StringIndexer(alphabetAsc) ≡ sklearn
    // LabelEncoder's lexicographic codes ≡ dense_rank over sorted labels.
    q("m1_string_index",
      """SELECT d.doc_id, CAST(i.idx AS DOUBLE) AS lang_idx
        |FROM documents d
        |JOIN (SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx
        |      FROM (SELECT DISTINCT lang FROM documents)) i
        |  ON d.lang = i.lang
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val indexer = new org.apache.spark.ml.feature.StringIndexer()
        .setInputCol("lang").setOutputCol("lang_idx")
        .setStringOrderType("alphabetAsc")
      indexer.fit(docs).transform(docs)
        .select("doc_id", "lang_idx")
        .orderBy("doc_id")
    },

    // M3 — standardization: scaled = (x − mean) / stddev_samp, checked
    // on the first embedding dimension against the SQL formula
    q("m3_standard_scaler",
      """SELECT vec_id,
        |       round((CAST(embedding[1] AS DOUBLE) - m) / sd, 6) AS z0
        |FROM embeddings,
        |     (SELECT avg(CAST(embedding[1] AS DOUBLE)) AS m,
        |             stddev_samp(CAST(embedding[1] AS DOUBLE)) AS sd
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Pipelines.firstScaledElement(
          Pipelines.withFeatures(Tables.load(s, dir, "embeddings")))
        .select(col("vec_id"), round(col("scaled0"), 6).as("z0"))
        .orderBy("vec_id")
    },

    // M4+M7+M10 — multinomial LR: 80/20 split (seed 42), accuracy +
    // log-loss metrics. Rows-only: training isn't SQL-expressible.
    qRowsOnly("m2_lr_metrics") { (s, dir) =>
      Pipelines.lrMetrics(Tables.load(s, dir, "embeddings"), "label")
        .orderBy("metric")
    },

    // M5+M10 — RandomForest confusion matrix over the held-out split
    qRowsOnly("m4_rf_confusion") { (s, dir) =>
      Pipelines.rfConfusion(Tables.load(s, dir, "embeddings"))
        .orderBy("label", "prediction")
    },

    // M8 — feed-forward network (Keras 64→32→16→softmax equivalent)
    qRowsOnly("m5_mlp_metrics") { (s, dir) =>
      Pipelines.mlpMetrics(Tables.load(s, dir, "embeddings"))
        .orderBy("metric")
    },

    // M9 — CrossValidator hyperparameter search (grid over regParam)
    qRowsOnly("m6_cv_search") { (s, dir) =>
      Pipelines.cvBestRegParam(Tables.load(s, dir, "embeddings"))
        .orderBy("regParam")
    },

    // M6 — multiclass boosted trees via OneVsRest(GBTClassifier), on a
    // separable 3-bucket derived label (the table's labels are
    // near-noise — FIXTURES.md; a noise label can't distinguish a
    // working boosted model from a broken one)
    qRowsOnly("m7_ovr_gbt_metrics") { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("bucket_label",
          when(element_at(col("embedding"), 1) < -0.05, 0.0)
            .when(element_at(col("embedding"), 1) > 0.05, 2.0)
            .otherwise(1.0))
      Pipelines.ovrGbtMetrics(emb, "bucket_label").orderBy("metric")
    },

    // M2 — named-columns → feature vector with fillna(0), checked
    // element-by-element against the coalesce formula. Nulls are derived
    // deterministically (events.value carries none at test SFs).
    q("m8_vector_assembly",
      """SELECT event_id,
        |       coalesce(CASE WHEN event_type = 'error' THEN NULL
        |                     ELSE value END, 0) AS f0,
        |       CAST(user_id AS DOUBLE) AS f1
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.ml.functions.vector_to_array
      val df = Tables.load(s, dir, "events")
        .select(col("event_id"),
          when(col("event_type") === "error", lit(null).cast("double"))
            .otherwise(col("value")).as("v"),
          col("user_id").cast("double").as("u"))
      Pipelines.assembleZeroFilled(df, Seq("v", "u"))
        .select(col("event_id"),
          element_at(vector_to_array(col("features")), 1).as("f0"),
          element_at(vector_to_array(col("features")), 2).as("f1"))
        .orderBy("event_id")
    },

    // M4 — stratified 80/20 split: per-class counts of both sides.
    // rows-only (sampleBy's Bernoulli draw is Spark-internal RNG);
    // MLSpec asserts disjointness, coverage, and per-class fractions.
    qRowsOnly("m9_stratified_split") { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val (train, test) = Pipelines.stratifiedSplit(
        emb, "label", 0.8, seed = 42, idCols = Seq("vec_id"))
      train.groupBy("label").agg(count(lit(1)).as("n_train"))
        .join(test.groupBy("label").agg(count(lit(1)).as("n_test")),
              Seq("label"), "full_outer")
        .na.fill(0L, Seq("n_train", "n_test"))
        .orderBy("label")
    },

    // Model-based quality filtering (the fastText/classifier-gate stage
    // modern corpus pipelines run after the heuristic gates): a
    // HashingTF → IDF → LogisticRegression pipeline trained on a
    // heuristic high/low-quality label, then applied to the corpus;
    // per-source kept/dropped counts come back. rows-only (training not
    // SQL-expressible); MLSpec asserts the classifier recovers the
    // heuristic on held-out docs. Scale shape: featurization is map-only
    // (hashing trick — no vocabulary broadcast), LR is the standard
    // distributed fit, scoring is one map pass.
    qRowsOnly("m11_quality_classifier") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val scored = Pipelines.qualityClassifier(docs)
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("prediction") === 1.0, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    },

    // M12 — PCA's DETERMINISTIC half, oracle-gated (round-12 verdict ask
    // #4): the covariance block the eigensolver consumes. PCA = an
    // eigendecomposition of the feature covariance matrix; the
    // eigenvectors' SIGNS are convention-bound (golden territory —
    // Pipelines.pcaSpectrum, GoldenDataSpec), but the covariance entries
    // are exact sums both engines can replay. Discipline (the a36 /
    // IvfAnn pattern): embedding values quantize to exact integer
    // micro-units r = round_half_away(x·1e6) — the v5 rounding both
    // engines compute identically — so the registers (n, Σr_i, Σr_j,
    // Σr_i·r_j) are ORDER-INDEPENDENT exact BIGINTs (|r| ≤ ~2e6 ⇒
    // |Σrr| < 2^62 even at sf3), and the covariance column is ONE shared
    // double formula string over those exact integers — bit-identical
    // cross-engine, rounded on both sides. Block = the first 16 of 64
    // dims' upper triangle (136 entries): the discipline is
    // dimension-independent, the row count stays reviewable.
    // Scale shape: ONE map-side-partial wide aggregate (16 quantized
    // columns → 153 exact-BIGINT sums, a single 1-row exchange), then
    // the 136-entry unpivot is a projection over that row — the same
    // treeAggregate-of-the-Gramian shape spark.ml's PCA itself runs, so
    // this query IS the PCA input pass at any corpus size. MLSpec ties
    // the block to the float covariance PCA consumes (≤ 1e-4, the
    // quantization bound).
    q("m10_pca", McolOracle.sql) { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val d = McolOracle.Dims
      val base = emb.select((1 to d).map(i =>
        Lloyd.microCol(element_at(col("embedding"), i)).as(s"r$i")): _*)
      val aggs = Seq(count(lit(1)).as("n")) ++
        (1 to d).map(i => sum(col(s"r$i")).as(s"s$i")) ++
        (for { i <- 1 to d; j <- i to d }
          yield sum(col(s"r$i") * col(s"r$j")).as(s"p${i}_$j"))
      val one = base.agg(aggs.head, aggs.tail: _*)
      val entries = array((for { i <- 1 to d; j <- i to d } yield
        struct(lit(i).as("i"), lit(j).as("j"), col(s"s$i").as("sx"),
               col(s"s$j").as("sy"), col(s"p${i}_$j").as("sxy"))): _*)
      one.select(col("n"), explode(entries).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("n"),
                col("e.sx").as("sx"), col("e.sy").as("sy"),
                col("e.sxy").as("sxy"))
        .withColumn("cov", round(
          (col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / col("n").cast("double"))
            / ((col("n").cast("double") - lit(1.0)) * lit(1000000000000.0)), 12))
        .orderBy("i", "j")
    },
  )

  /** The DuckDB twin of m10_pca's covariance block, generated from the
    * same (i, j) enumeration so the two sides cannot drift. */
  private object McolOracle {
    val Dims = 16
    val sql: String = {
      s"""WITH r AS (
         |  SELECT ${Lloyd.quantSql(s"embedding[1:$Dims]")} AS rq
         |  FROM embeddings),
         |cells AS (
         |  SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
         |         count(*) AS n,
         |         CAST(sum(rq[CAST(i.i AS INT)]) AS BIGINT) AS sx,
         |         CAST(sum(rq[CAST(j.j AS INT)]) AS BIGINT) AS sy,
         |         CAST(sum(rq[CAST(i.i AS INT)] * rq[CAST(j.j AS INT)]) AS BIGINT) AS sxy
         |  FROM r CROSS JOIN range(1, ${Dims + 1}) i(i)
         |         CROSS JOIN range(1, ${Dims + 1}) j(j)
         |  WHERE j.j >= i.i
         |  GROUP BY 1, 2)
         |SELECT i, j, n, sx, sy, sxy,
         |       round((CAST(sxy AS DOUBLE)
         |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |             / ((CAST(n AS DOUBLE) - 1.0) * 1000000000000.0), 12) AS cov
         |FROM cells ORDER BY i, j""".stripMargin
    }
  }
}
