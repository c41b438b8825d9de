package graft.operators

import graft.Tables
import graft.operators.Lloyd.{microOf, quantCol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ — the production-shape ANN index (the FAISS IVFPQ layout),
  * composing the family's two scale levers: an IVF coarse quantizer
  * prunes the corpus to nProbe Voronoi cells per query, and product
  * quantization compresses each vector's RESIDUAL (vector − its cell
  * centroid) to an M-nibble code scored by ADC table lookups. Residual
  * encoding is what separates this from running v4 and v9 side by side:
  * once the coarse centroid is subtracted, the M subspace codebooks
  * only have to cover the within-cell spread, so the same 64-bit code
  * budget quantizes a much tighter distribution — the standard reason
  * IVF-PQ beats flat PQ at equal code size.
  *
  * Engine portability (what makes v11 oracle-replayable): the coarse
  * quantizer is `IvfAnn.fitCentroids` and the residual codebooks are
  * `PqAnn.fitMicro`, both [[Lloyd.fit]], which the oracle replays with
  * [[Lloyd.fitSql]]. Every IVF-PQ-specific step is EXACT INTEGER
  * arithmetic in micro-units: the final cell assignment is integer
  * squared-L2 against the MICRO-QUANTIZED centroids (cmicro), residuals
  * are BIGINT subtractions, and ADC sums are BIGINT. The only float ops
  * outside the coarse fit are the query-side cell probing by cosine
  * (left-to-right double fold, v4's probe).
  *
  * Scale shape at 100 TB: the index is nCells directories of 8-byte
  * codes — the corpus never shuffles after the one assignment pass;
  * a query touches nProbe/nCells of the code scan, map-side, with its
  * per-cell ADC tables broadcast (nProbe · M · K longs per query). The
  * candidate cut is GroupTopK (map-side partial heaps), so the only
  * per-query shuffle is ≤ cand · partitions candidate rows. Fit cost:
  * coarse Lloyd is v4's (sample-fit at scale); the residual PQ fit
  * ([[Lloyd.fit]] via `PqAnn.fitMicro`) adds PqIters rounds of one
  * stage each, no shuffle — per partition M·K·dsub Long partial sums,
  * whatever the corpus size, merged by `treeReduce`.
  */
object IvfPqAnn {

  val NCells = 16

  /** Wider than v4's nProbe=6: IVF-PQ compounds two approximations
    * (probe misses × residual code coarseness), and the probe width is
    * the standard recall dial — measured at sf0.1: 6/100 → 0.475,
    * 8/200 → 0.725 (SCALING.md table). */
  val NProbe = 8

  /** Integer argmin cell over micro-quantized centroids; ties to the
    * lowest cell id — the comparison the oracle replays with
    * Lloyd.sqDistSql. */
  private def assignIntUdf(cmicro: Array[Array[Long]]) =
    udf { (rq: Seq[Long]) =>
      val v = rq.toArray
      Lloyd.nearestMicro(cmicro, v, 0, v.length)
    }

  /** BIGINT residual vs the assigned cell's micro centroid. */
  private def residualUdf(cmicro: Array[Array[Long]]) =
    udf { (rq: Seq[Long], cell: Int) =>
      val cm = cmicro(cell)
      rq.indices.map(i => rq(i) - cm(i))
    }

  /** nProbe closest cells by cosine against the DOUBLE coarse centroids
    * — exactly v4's probe comparison (dot/(|q||c|), left-to-right
    * folds), ties to the lowest cell. */
  private def probeUdf(cents: Array[Array[Double]], nProbe: Int) =
    udf { (qe: Seq[Float]) =>
      val qn = math.sqrt(qe.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      cents.indices
        .map { c =>
          val cv = cents(c)
          var dot = 0.0
          var nc = 0.0
          var i = 0
          val n = math.min(cv.length, qe.length)
          while (i < n) { dot += qe(i).toDouble * cv(i); i += 1 }
          i = 0
          while (i < cv.length) { nc += cv(i) * cv(i); i += 1 }
          (c, dot / (qn * math.sqrt(nc)))
        }
        .sortBy { case (c, cos) => (-cos, c) }
        .take(nProbe)
        .map(_._1)
    }

  /** Quantize → integer cell assignment → BIGINT residual: one
    * map-only pass over the corpus. The residual codebook fit and the
    * encode both read it. */
  private def assignResiduals(corpus: DataFrame,
                              cmicro: Array[Array[Long]]): DataFrame =
    corpus
      .select(col("vec_id"), col("embedding"),
              quantCol(col("embedding")).as("rq"))
      .withColumn("cell", assignIntUdf(cmicro)(col("rq")))
      .withColumn("res", residualUdf(cmicro)(col("rq"), col("cell")))

  /** Query-side prep: probe cells, per-probed-cell residual + ADC table. */
  private def prepQueries(queries: DataFrame, coarse: Array[Array[Double]],
                          cmicro: Array[Array[Long]],
                          cm: Array[Array[Array[Long]]],
                          nProbe: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              quantCol(col("embedding")).as("qrq"))
      .withColumn("pcell", explode(probeUdf(coarse, nProbe)(col("qe"))))
      .withColumn("qres", residualUdf(cmicro)(col("qrq"), col("pcell")))
      .withColumn("qtable", PqAnn.qtableUdf(cm)(col("qres")))
      .select("query_id", "qe", "pcell", "qtable")

  /** The ADC-scored (query, candidate) frame — the LAST plan-visible
    * stage before GroupTopK's RDD pass (whose output plan prints as
    * `Scan ExistingRDD`), so pruning properties of the code scan are
    * asserted here (IvfPqAnnSpec/SimilaritySpec). */
  private[graft] def adcScores(codes: DataFrame, qp: DataFrame): DataFrame =
    codes
      .join(broadcast(qp),
        col("cell") === col("pcell") && col("vec_id") =!= col("query_id"))
      .withColumn("adc",
        aggregate(sequence(lit(0), lit(PqAnn.M - 1)),
          lit(0L),
          (acc, m) => acc +
            element_at(col("qtable"),
              m * PqAnn.K + element_at(col("codes"), m + 1) + 1)))

  /** ADC scan of the probed cells + candidate cut + exact re-rank —
    * the search tail shared by the fit-and-search and standing-index
    * paths. Map-only ADC: the equi-join on cell keeps corpus rows
    * outside the probe set untouched, and the per-row score is M
    * integer lookups in whole-stage codegen. */
  private def searchCodes(codes: DataFrame, qp: DataFrame,
                          k: Int, cand: Int): DataFrame = {
    val candidates = GroupTopK.topK(adcScores(codes, qp), Seq("query_id"), "adc",
      "vec_id", k = cand, descending = false)
    Cosine.rank(candidates.withColumnRenamed("vec_id", "neighbor_id"), k)
  }

  /** Full IVF-PQ search. corpus and queries: (vec_id, embedding).
    * Output (query_id, neighbor_id, cos, rnk), unordered
    * ([[Cosine.rank]]). */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           cand: Int = 200, nCells: Int = NCells,
           nProbe: Int = NProbe): DataFrame = {
    val coarse = IvfAnn.fitCentroids(corpus, nCells)
    val cmicro = coarse.map(_.map(microOf))

    // not persisted: Lloyd.fit caches the residuals it reads and
    // releases them, so the encode re-runs one map-only pass. The
    // standing-index path (buildIndex) persists and unpersists its own.
    val assigned = assignResiduals(corpus, cmicro)

    val cm = PqAnn.fitMicro(assigned.select(col("vec_id"), col("res")))
    val codes = assigned
      .select(col("vec_id"), col("embedding"), col("cell"),
              PqAnn.encodeUdf(cm)(col("res")).as("codes"))

    searchCodes(codes, prepQueries(queries, coarse, cmicro, cm, nProbe),
      k, cand)
  }

  /** Build-once guard around [[buildIndex]] ([[graft.Caches.once]]):
    * within a JVM the standing index is built exactly once and every
    * subsequent search pays only the probe + pruned code scan. */
  def ensureIndex(corpus: DataFrame, path: String,
                  nCells: Int = NCells): Unit =
    graft.Caches.once(path, "IVF-PQ build") { buildIndex(corpus, path, nCells) }

  /** Build-once guard for the build-then-delete lifecycle (v19 — the
    * IVF-PQ twin of IvfAnn.ensureDeletedIndex). */
  def ensureDeletedIndex(corpus: DataFrame, deleteIds: DataFrame,
                         path: String, nCells: Int = NCells): Unit =
    graft.Caches.once(path, "IVF-PQ build+delete") {
      buildIndex(corpus, path, nCells)
      deleteFromIndex(deleteIds, path)
    }

  /** DELETE from a persisted IVF-PQ index — IvfAnn.deleteFromIndex's
    * tombstone design applied to the code layout: an O(|delete|)
    * parquet append, the partitioned code table untouched; the search
    * path drops tombstoned codes BEFORE ADC scoring, so a deleted
    * vec_id never surfaces, never displaces a live neighbor, and never
    * consumes the `cand` re-rank budget. Compaction
    * ([[compactIndex]]) removes the rows for good. */
  def deleteFromIndex(deleteIds: DataFrame, path: String): Unit =
    IndexTombstones.append(deleteIds, path)

  /** Compaction for the code layout ([[IndexTombstones.compactData]]):
    * rewrite each cell's files to one, dropping tombstoned codes for
    * good. No cellstats here — the PQ index serves probed top-k only,
    * so there are no radii to recompute and the pre-swap hook is a
    * no-op. Single-writer drain-then-read contract, like
    * IvfAnn.compactIndex. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit =
    IndexTombstones.compactData(spark, path, "codes")(_ => ())

  /** Persist the IVF-PQ index (the v8 standing-index pattern applied to
    * IVF-PQ): the code table laid out PARTITIONED BY cell — a probed
    * search touches only nProbe directories — plus the tiny coarse
    * centroid and residual-codebook tables. The operational shape at
    * 100 TB: quantizers fit once, corpus assigned + encoded once, every
    * query batch reads the standing 8-byte-per-vector index. */
  def buildIndex(corpus: DataFrame, path: String, nCells: Int = NCells): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a fresh build resets the lifecycle: stale tombstones from a
    // previous process must not apply to the rebuilt index
    IndexTombstones.clear(spark, path)
    val coarse = IvfAnn.fitCentroids(corpus, nCells)
    val cmicro = coarse.map(_.map(microOf))
    val assigned = graft.Caches.pin(assignResiduals(corpus, cmicro))
    val cm = try {
      val cm = PqAnn.fitMicro(assigned.select(col("vec_id"), col("res")))
      assigned
        .select(col("vec_id"), col("embedding"), col("cell"),
                PqAnn.encodeUdf(cm)(col("res")).as("codes"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
      cm
    } finally graft.Caches.release(assigned)
    coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    // codebooks flattened to (sub, cellk, pos, micro) — exact longs
    (for {
      m <- cm.indices; kc <- cm(m).indices; p <- cm(m)(kc).indices
    } yield (m, kc, p, cm(m)(kc)(p))).toDF("sub", "cellk", "pos", "micro")
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Prepped queries + probed-cell-pruned code scan from a persisted
    * index (the shared head of [[topKFromIndex]]; package-private so
    * the pruned-scan property is plan-assertable — see adcScores). */
  private[graft] def indexedScan(spark: org.apache.spark.sql.SparkSession,
                                 path: String, queries: DataFrame,
                                 nProbe: Int): (DataFrame, DataFrame) = {
    val coarse = Tables.parquet(spark, s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    val cmicro = coarse.map(_.map(microOf))
    val cbRows = Tables.parquet(spark, s"$path/codebooks").collect()
    val subs = cbRows.map(_.getInt(0)).max + 1
    val ks = cbRows.map(_.getInt(1)).max + 1
    val dsub = cbRows.map(_.getInt(2)).max + 1
    val cm = Array.ofDim[Long](subs, ks, dsub)
    cbRows.foreach(r => cm(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3))

    val qp = prepQueries(queries, coarse, cmicro, cm, nProbe)
    val cells = qp.select("pcell").distinct().collect().map(_.getInt(0)).toSeq
    // tombstones drop BEFORE ADC (deleted codes neither score nor eat
    // the cand budget); no-delete indexes skip the join — plan unchanged
    val codes = IndexTombstones.drop(spark, path,
      Tables.parquet(spark, s"$path/codes")
        .filter(col("cell").isin(cells: _*))) // static partition pruning
    (codes, qp)
  }

  /** Top-k search against a persisted index: reconstruct the two tiny
    * quantizer tables (bounded collects: nCells×dim + M·K·dsub rows),
    * then prune the code scan to the probed cells — the isin on the
    * partition column becomes static partition pruning, so only
    * nProbe/nCells of the standing index is ever read. */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int, cand: Int = 200,
                    nProbe: Int = NProbe): DataFrame = {
    val (codes, qp) = indexedScan(spark, path, queries, nProbe)
    searchCodes(codes, qp, k, cand)
  }
}
