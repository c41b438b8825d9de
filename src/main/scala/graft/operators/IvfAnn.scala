package graft.operators

import graft.Tables
import graft.operators.Lloyd.quantCol
import graft.operators.Cosine.{asQueries, cosineSim, normD}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor (the builder prompt's "IVF or
  * LSH-bucketed variant as the scale path"; complements the
  * random-hyperplane LSH in v3 with the data-adaptive coarse-quantizer
  * family used by FAISS-like systems).
  *
  * Build: a Lloyd (k-means) coarse quantizer partitions the corpus into
  * nCells Voronoi cells. Search: each query scores the tiny centroid
  * table (nCells × dim — broadcast-sized by construction), probes its
  * nProbe closest cells, and exact-cosine re-ranks only the vectors in
  * those cells.
  *
  * The quantizer is DETERMINISTIC AND ENGINE-PORTABLE — the same trick
  * that made v5's SQ8 quantizer and v3's hyperplanes oracle-replayable:
  * [[Lloyd.fit]] with one block and double means, whose every float step
  * is a correctly-rounded scalar op or a left-to-right fold (the
  * arithmetic is documented there), and a fixed round count instead of
  * a convergence test on floats. DuckDB regenerates the centroids with
  * [[Lloyd.fitSql]] and [[distSql]] and replays assign→probe→re-rank
  * bit for bit (v4/v8 oracle SQL in SimilarityQueries).
  *
  * Scale shape: candidate selection is an equi-join on `cell` — the
  * shuffle key cardinality is nCells and Lloyd balances occupancy, so
  * there is no skew pile-up; per-query work drops from O(N) to
  * O(N · nProbe / nCells). The fit is [[Lloyd.fit]]: one stage per
  * round, no shuffle — each partition folds its vectors into dense
  * nCells·dim Long sums and `treeReduce` merges them. At 100 TB you fit
  * the quantizer on a sample (Lloyd converges on samples), keep
  * nCells ~ √N so cells stay executor-sized, and the assignment/search
  * stay map-side + one join.
  *
  * == Index lifecycle ==
  * build ([[buildIndex]]) → search ([[topKFromIndex]], [[rangeSearch]])
  * → incremental update ([[updateIndex]]) → DELETE ([[deleteFromIndex]])
  * → COMPACTION ([[compactIndex]]). Deletes are TOMBSTONES: an
  * nDeleted-row parquet append, O(|delete|) — the assignment layout is
  * untouched and every search anti-joins the tombstone set, so a
  * deleted vector can never surface from top-k or range search.
  * Compaction rewrites each cell's accumulated small files (one
  * appended file set per [[updateIndex]] delta — cells × deltas files
  * at daily cadence) into one file per cell, DROPS tombstoned rows for
  * good, and RECOMPUTES the cellstats radii over the survivors (a max
  * over members can only shrink when members leave — the update-path
  * max-merge can never tighten it, only recompute can).
  *
  * == Cellstats publish: atomic generations ==
  * Cellstats are published as VERSIONED generations
  * `$path/cellstats_v<N>`; readers take the highest generation whose
  * `_SUCCESS` marker exists (Spark's committer writes `_SUCCESS` only
  * after every task file has landed, so complete ⇔ visible — the same
  * rename-last discipline as IdempotentLanding's markers). A
  * half-written generation is therefore invisible: a range query racing
  * an in-flight [[updateIndex]]/[[compactIndex]] publish reads the
  * PREVIOUS complete generation — sound, because update radii only grow
  * (conservative) and compaction keeps tombstones applied until its
  * swap completes. The previous generation is retained at publish time
  * (gens ≤ N−2 are retired) so a reader that resolved it just before
  * the publish can still finish; the full protection contract is the
  * SINGLE-WRITER, drain-then-read pattern the suite uses — two
  * concurrent writers on one index path are undefined.
  */
object IvfAnn {

  /** Fixed Lloyd iteration count — part of the algorithm's identity (the
    * oracle unrolls exactly this many steps). */
  val LloydIters = 5

  /** The nearest-centroid loop both assignment UDFs share: argmin cell
    * by squared-L2 over v_i = r_i/1e6, left-to-right fold, ties to the
    * lowest cell id — the exact comparison DuckDB replays. ONE
    * implementation so the drift monitor's assignment can never
    * silently diverge from the index's (the v17 oracle gate depends on
    * bit-for-bit parity between the two). */
  private def nearest(cents: Array[Array[Double]],
                      rq: Array[Long]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    var cIdx = 0
    while (cIdx < cents.length) {
      val c = cents(cIdx)
      var d = 0.0
      val n = math.min(c.length, rq.length)
      var i = 0
      while (i < n) {
        val v = rq(i).toDouble / 1000000.0 - c(i)
        d += v * v
        i += 1
      }
      if (d < bestD) { bestD = d; best = cIdx }
      cIdx += 1
    }
    (best, bestD)
  }

  /** SQL twin of [[nearest]]'s distance: squared-L2 between a BIGINT
    * micro-unit list and a DOUBLE centroid list, same fold order. */
  private[graft] def distSql(rq: String, c: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($rq, $c),
       |  p -> (CAST(p[1] AS DOUBLE)/1000000.0 - CAST(p[2] AS DOUBLE))
       |     * (CAST(p[1] AS DOUBLE)/1000000.0 - CAST(p[2] AS DOUBLE)))), (x, y) -> x + y)""".stripMargin

  private def assignUdf(cents: Array[Array[Double]]) =
    udf { (rq: Seq[Long]) => nearest(cents, rq.toArray)._1 }

  /** [[assignUdf]] plus the winning distance, micro-quantized: returns
    * (cell, nano-units of √bestD) — the drift monitor's per-vector
    * quantization error. √ of an identical double fold is one
    * correctly-rounded op on both engines, and the ×1e9
    * half-away-from-zero round makes the per-vector error an exact
    * BIGINT, so the corpus MEAN is order-independent integer math (the
    * m10/v4 register trick; |Σ| < 2^53 up to ~10⁶ vectors at these
    * norms — sample beyond that). */
  private def assignDistUdf(cents: Array[Array[Double]]) =
    udf { (rq: Seq[Long]) =>
      val (best, bestD) = nearest(cents, rq.toArray)
      (best, math.floor(math.sqrt(bestD) * 1e9 + 0.5).toLong)
    }

  /** Deterministic Lloyd fit ([[Lloyd.fit]], one block): returns the
    * final centroids (dense nCells × dim doubles). One stage per round,
    * no shuffle: each partition sums its vectors' micro components per
    * cell and `treeReduce` merges the nCells·dim partial sums. */
  def fitCentroids(corpus: DataFrame, nCells: Int,
                   iters: Int = LloydIters): Array[Array[Double]] =
    Lloyd.fit(corpus.select(col("vec_id"), quantCol(col("embedding"))),
      nCells, blocks = 1, iters, Lloyd.DoubleMean) {
      (cells, v, _, _) => nearest(cells, v)._1
    }.head

  /** Per-vector (cell, quantization error) against a FIXED centroid
    * table — the drift monitor's primitive (v17): one map-only pass,
    * no shuffle. `qerr_nano` is √(squared-L2 to the assigned centroid)
    * in exact nano-units (see [[assignDistUdf]]). */
  def assignWithDist(corpus: DataFrame,
                     cents: Array[Array[Double]]): DataFrame =
    corpus
      .withColumn("rq", quantCol(col("embedding")))
      .withColumn("ad", assignDistUdf(cents)(col("rq")))
      .select(col("vec_id"), col("ad._1").as("cell"),
              col("ad._2").as("qerr_nano"))

  /** Fit the coarse quantizer and assign every corpus vector to its
    * cell. Returns (assigned, centroids). */
  private def fitAssign(corpus: DataFrame, nCells: Int)
      : (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val cents = fitCentroids(corpus, nCells)
    val assigned = corpus
      .withColumn("rq", quantCol(col("embedding")))
      .withColumn("cell", assignUdf(cents)(col("rq")))
      .select(col("vec_id"), col("embedding"), col("cell"))
    import spark.implicits._
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** nProbe closest cells per query, by the same metric as the re-rank
    * (cosine to the centroid — FAISS-style IP/cosine probing over an
    * L2-trained coarse quantizer). */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
                         nProbe: Int): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(cosineSim(col("qe"), col("centroid")).desc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qe"), col("cell"))

  /** Candidate pairs before re-ranking: each query joined to the
    * vectors of its nProbe probed cells. Exposed so the pruning
    * property (candidates ≪ Q·N) is testable — the final top-k output
    * size says nothing about how much was scanned. queries: (vec_id,
    * embedding), like the corpus. */
  def candidates(corpus: DataFrame, queries: DataFrame,
                 nCells: Int, nProbe: Int): DataFrame = {
    val (assigned, centroids) = fitAssign(corpus, nCells)
    assigned.join(probeCells(asQueries(queries), centroids, nProbe), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
  }

  /** Persist the index: the assignment table laid out PARTITIONED BY
    * cell (so a probed search touches only nProbe directories) plus the
    * tiny centroid table. The operational shape at 100 TB: the quantizer
    * is fit once (on a sample), the corpus is assigned once, and every
    * subsequent query batch reads the standing index — no retraining,
    * no full-corpus scan. A fresh build RESETS the whole lifecycle:
    * stale tombstones and every old cellstats generation are cleared
    * first (the generation reader takes the highest N, so a leftover
    * high generation from a previous process would shadow this build's). */
  def buildIndex(corpus: DataFrame, nCells: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    val fs = fsOf(spark, path)
    fs.delete(new Path(path, "tombstones"), true)
    fs.delete(new Path(path, "cellstats"), true) // the flat pre-generation layout
    cellstatsGenDirs(fs, path).foreach { case (_, p) => fs.delete(p, true) }
    val (assigned, centroids) = fitAssign(corpus, nCells)
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assigned")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // range-search cell stats (normalized anchor + coverage radius per
    // cell — see rangeLive) are a pure function of the index, so they
    // are computed ONCE at build time and persisted alongside: at
    // 100 TB recomputing them would re-scan the whole index per query
    // batch. nCells rows — negligible build cost.
    publishCellstats(spark, path, rangeStats(spark, path))
  }

  /** INCREMENTAL index update (the ANN analog of d8's incremental
    * LSH): append a delta corpus to a persisted index WITHOUT refitting
    * the quantizer. A production index absorbs a crawl's daily arrivals;
    * refitting would re-pay the Lloyd passes AND silently re-assign the
    * standing corpus (cell ids are only meaningful per quantizer), so
    * the operational contract is FROZEN centroids: delta vectors take
    * one map-only assignment pass against the broadcast centroid table
    * and append into the partitioned layout — cost ∝ |delta|, the
    * standing corpus is never touched. The range-search cellstats stay
    * EXACT under update: anchors are a pure function of the frozen
    * centroids, and each coverage radius is a max over members, so
    * max(old radius, delta radius) is the union's radius — an
    * nCells-row merge, published as a NEW cellstats generation (old
    * generations are never mutated). Search quality for delta vectors
    * matches the quantizer's fit on the base distribution; the v17
    * drift monitor ([[assignWithDist]] / SimilarityQueries
    * `v17_quantizer_drift`) measures when that assumption has decayed
    * enough that the right operation is a rebuild, not an update. */
  def updateIndex(delta: DataFrame, path: String): Unit = {
    val spark = delta.sparkSession
    val centroids = Tables.parquet(spark, s"$path/centroids")
    val cents = centroids.orderBy("cell").collect() // nCells rows — bounded
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val assignedDelta = delta
      .withColumn("rq", quantCol(col("embedding")))
      .withColumn("cell", assignUdf(cents)(col("rq")))
      .select(col("vec_id"), col("embedding"), col("cell"))
    // CRASH ORDERING: cellstats BEFORE the data append. Radii grown
    // early are merely conservative (a too-large radius prunes less,
    // never wrong); the reverse order has an unsound window — delta
    // rows visible in the index while their cells' radii are still the
    // old maxima, so a range query's ball-overlap test could prune a
    // cell that now holds an answer. The publish itself is a new
    // generation dir gated on _SUCCESS, so under the single-writer
    // drain-then-read contract a reader sees either the old complete
    // generation or the new one, never a half-written directory.
    // (ensureUpdatedIndex also heals any crashed update by rebuilding,
    // since Caches.once marks a path built only when its build returns.)
    val anchors = centroids
      .select(col("cell"), unitCol(col("centroid")).as("anchor"))
    val deltaStats = assignedDelta
      .join(broadcast(anchors), "cell")
      .select(col("cell"), col("anchor"),
        distCol(unitCol(col("embedding")), col("anchor")).as("radius"))
      .groupBy("cell", "anchor").agg(max("radius").as("radius"))
    val merged = readCellstats(spark, path)
      .select("cell", "anchor", "radius")
      .unionByName(deltaStats)
      .groupBy("cell", "anchor").agg(max("radius").as("radius"))
    publishCellstats(spark, path, merged)
    assignedDelta.write.mode("append").partitionBy("cell")
      .parquet(s"$path/assigned")
  }

  /** DELETE from a persisted index (the lifecycle's departure half:
    * dedup drops, takedowns). Tombstone design: the ids land as an
    * append into `$path/tombstones` — O(|delete|), the partitioned
    * assignment layout is untouched — and every search
    * anti-joins the set, so a deleted vec_id can never surface from
    * [[topKFromIndex]] or [[rangeSearch]]. Deleting is idempotent
    * (anti-join semantics ignore duplicate tombstones) and composes
    * with [[updateIndex]] in any order. Cellstats radii are NOT touched:
    * a max over a superset stays a sound (merely conservative) bound,
    * so range pruning loosens slightly until [[compactIndex]] recomputes
    * the radii over survivors. At 100 TB the tombstone set is the
    * standard broadcast-or-bloom side of the anti-join; compaction is
    * the lever that keeps it small. */
  def deleteFromIndex(deleteIds: DataFrame, path: String): Unit =
    IndexTombstones.append(deleteIds, path)

  private def dropTombstoned(spark: SparkSession, path: String,
                             assigned: DataFrame): DataFrame =
    IndexTombstones.drop(spark, path, assigned)

  /** COMPACTION: rewrite the accumulated per-delta small
    * files (cells × deltas after a run of [[updateIndex]] appends) into
    * ONE file per cell, drop tombstoned rows for good, and RECOMPUTE
    * the cellstats radii over the survivors — the only operation that
    * can TIGHTEN a radius (update's max-merge can only grow it; a max
    * over members shrinks when the extremal member was deleted, and a
    * stale loose radius means range queries scan cells that can no
    * longer hold answers). Publish order, crash-safe under the
    * single-writer contract: (1) survivors land in a staging dir —
    * repartition(cell) puts each cell's rows in exactly one task, so
    * partitionBy(cell) emits one file per cell; (2) recomputed cellstats
    * publish as a new generation (sound while the OLD assignment + the
    * tombstone anti-join still serve reads: survivors' radii cover
    * exactly the rows the anti-join leaves visible); (3) the staging dir
    * replaces `assigned` (delete + rename — a crash between them leaves
    * a missing dir that the ensure* memo heals by rebuild); (4) the
    * tombstones clear LAST — a crash before this leaves tombstones that
    * now anti-join nothing, harmless. */
  def compactIndex(spark: SparkSession, path: String): Unit =
    IndexTombstones.compactData(spark, path, "assigned") { staging =>
      // radii recompute over the survivors, published BEFORE the swap:
      // the recomputed (smaller) radii are sound while the OLD assigned
      // dir + tombstone anti-join still serve reads — survivors' radii
      // cover exactly the rows the anti-join leaves visible
      val centroids = Tables.parquet(spark, s"$path/centroids")
        .select(col("cell"), unitCol(col("centroid")).as("anchor"))
      val recomputed = Tables.parquet(spark, staging)
        .join(broadcast(centroids), "cell")
        .select(col("cell"), col("anchor"),
          distCol(unitCol(col("embedding")), col("anchor")).as("d"))
        .groupBy("cell", "anchor").agg(max("d").as("radius"))
      publishCellstats(spark, path, recomputed)
    }

  /** Build-once guard ([[graft.Caches.once]]): the index is a pure
    * deterministic function of (corpus, nCells), so a path built earlier
    * in this JVM is current; rebuilding per query batch re-pays the Lloyd
    * fit + full-corpus assignment the standing index exists to amortize. */
  def ensureIndex(corpus: DataFrame, nCells: Int, path: String): Unit =
    graft.Caches.once(path, "IVF build") { buildIndex(corpus, nCells, path) }

  /** Build-once guard for the build-then-update lifecycle (v16): fit +
    * assign the BASE corpus, then absorb `delta` via [[updateIndex]] —
    * deterministic per (base, delta, nCells), so one build per JVM. The
    * fresh [[buildIndex]] overwrite also clears any delta a previous
    * process appended, so the append below never double-lands. */
  def ensureUpdatedIndex(base: DataFrame, delta: DataFrame, nCells: Int,
                         path: String): Unit =
    graft.Caches.once(path, "IVF build+update") {
      buildIndex(base, nCells, path)
      updateIndex(delta, path)
    }

  /** Build-once guard for the build-then-delete lifecycle (v18): build
    * over the full corpus, then tombstone `deleteIds` via
    * [[deleteFromIndex]] — deterministic per (corpus, deleteIds,
    * nCells). [[buildIndex]] clears stale tombstones first, so the
    * delete never double-applies across processes. */
  def ensureDeletedIndex(corpus: DataFrame, deleteIds: DataFrame,
                         nCells: Int, path: String): Unit =
    graft.Caches.once(path, "IVF build+delete") {
      buildIndex(corpus, nCells, path)
      deleteFromIndex(deleteIds, path)
    }

  /** Top-k search against a persisted index. The probed cells arrive as
    * an isin filter on the partition column, so the scan prunes to the
    * probed directories (PartitionFilters — asserted in IvfAnnSpec).
    * Tombstoned vectors are anti-joined out BEFORE ranking, so a
    * deleted vec_id never surfaces (and never displaces a live one from
    * the top k). queries: (vec_id, embedding), like the corpus. */
  def topKFromIndex(spark: SparkSession, path: String,
                    queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val centroids = Tables.parquet(spark, s"$path/centroids")
    val probes = probeCells(asQueries(queries), centroids, nProbe)
    val cells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = dropTombstoned(spark, path,
      Tables.parquet(spark, s"$path/assigned")
        .filter(col("cell").isin(cells: _*))) // static partition pruning
    Cosine.rank(assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumnRenamed("vec_id", "neighbor_id"), k)
  }

  /** EXACT range search (radius query) against a persisted index: every
    * corpus vector with cos(q, x) ≥ minCos, for each query — the
    * "find everything similar enough" API (dedup sweeps, recall-free
    * retrieval) that top-k cannot express. Unlike the probed top-k,
    * the result is EXACT: cells are pruned by a sound triangle-
    * inequality bound, never by a probe budget.
    *
    * Geometry: on UNIT vectors, cos(q,x) ≥ τ  ⇔  ‖q̂−x̂‖ ≤ r where
    * r = √(2−2τ), so the cosine threshold is a metric ball and cell
    * pruning is the classic ball-overlap test: precompute per cell the
    * normalized-centroid anchor p̂_c and coverage radius
    * R_c = max_{x∈c} ‖x̂−p̂_c‖; a cell can hold a result only if
    * ‖q̂−p̂_c‖ ≤ r + R_c (triangle inequality — sound no matter how
    * the cells were formed, so the L2-trained quantizer is fine). A
    * small epsilon keeps float rounding from ever pruning a boundary
    * cell. Surviving cells arrive as an isin partition filter like
    * [[topKFromIndex]]; the exact cosine filter runs codegen'd over
    * the scanned survivors only.
    *
    * Scale shape: the cell-stats frame is nCells rows (computed with
    * the index build and persisted alongside); queries × nCells
    * bound tests broadcast; corpus work = only the cells a ball
    * overlaps. Tombstoned vectors are anti-joined out of the scanned
    * survivors. queries: (vec_id, embedding), like the corpus.
    *
    * Wide-radius cutover: the survivor cells normally arrive
    * as an isin PARTITION FILTER so the scan prunes to their
    * directories. But when the query balls overlap MOST cells (a loose
    * minCos — r → √2 covers the sphere), the isin literal list
    * degenerates: at production nCells (~10⁵) it is a 10⁵-element IN
    * that bloats the plan and prunes nothing. Past
    * [[IsinCutoverFraction]] of cells surviving, the partition filter
    * is SKIPPED — the equi-join on `cell` against the surviving
    * (query, cell) pairs still bounds the work (rows of non-surviving
    * cells drop at the join), and correctness never depended on the
    * isin (it is a scan-pruning hint over exactly the cells the join
    * would keep). Both shapes return the identical exact result —
    * asserted in SimilaritySpec at minCos = 0.05 over the standing
    * index. */
  def rangeSearch(spark: SparkSession, path: String,
                  queries: DataFrame, minCos: Double): DataFrame = {
    val (live, cells, nCellsTotal) = rangeLive(spark, path, queries, minCos)
    val assigned = Tables.parquet(spark, s"$path/assigned")
    val pruned =
      if (cells.size > nCellsTotal * IsinCutoverFraction) assigned
      else assigned.filter(col("cell").isin(cells: _*)) // static partition pruning
    dropTombstoned(spark, path, pruned)
      .join(live, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id") &&
              cosineSim(col("qe"), col("embedding")) >= minCos)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(cosineSim(col("qe"), col("embedding")), 6).as("cos"))
  }

  /** Survivor fraction past which [[rangeSearch]] drops the isin
    * partition filter: ¼. Below it the pruned directory read wins; above
    * it the isin is pure plan bloat (and at production nCells, a plan
    * hazard). The cutover computes from this constant, so editing it
    * takes effect. */
  val IsinCutoverFraction = 0.25

  private def unitCol(v: Column): Column =
    // the norm is hoisted OUT of the per-element lambda: normD(v)
    // written inside the transform lambda re-evaluates the O(d) fold
    // per element — O(d²) per vector, over the ENTIRE index in
    // rangeStats and every query in rangeLive. Binding it through a
    // 1-element array makes the inner division read a lambda VARIABLE, so
    // normD evaluates exactly once per vector: normalization is O(d).
    element_at(transform(array(normD(v)), n =>
      transform(v, x => x.cast("double") / n)), 1)
  private def distCol(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d))

  /** Per-cell range-search stats — normalized anchor + coverage radius —
    * computed from the persisted assignment in one scan. [[buildIndex]]
    * publishes the result as the first cellstats generation, so at scale
    * query batches read nCells rows instead of re-scanning the index. */
  private def rangeStats(spark: SparkSession, path: String): DataFrame = {
    val centroids = Tables.parquet(spark, s"$path/centroids")
      .select(col("cell"), unitCol(col("centroid")).as("anchor"))
    Tables.parquet(spark, s"$path/assigned")
      .join(broadcast(centroids), "cell")
      .select(col("cell"), col("anchor"),
        distCol(unitCol(col("embedding")), col("anchor")).as("d"))
      .groupBy("cell", "anchor").agg(max("d").as("radius"))
  }

  // --- cellstats generations: atomic publish ---------------------------

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val GenName = "cellstats_v(\\d+)".r

  /** All generation dirs under the index path, complete or not. */
  private def cellstatsGenDirs(fs: FileSystem,
                               path: String): Seq[(Long, Path)] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { s =>
      s.getPath.getName match {
        case GenName(n) => Some(n.toLong -> s.getPath)
        case _          => None
      }
    }
  }

  /** The highest COMPLETE generation (has the committer's `_SUCCESS`
    * marker — present only once every task file landed, so a reader can
    * never observe a half-written generation). */
  private def currentCellstatsGen(fs: FileSystem,
                                  path: String): Option[(Long, Path)] =
    cellstatsGenDirs(fs, path)
      .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
      .sortBy(_._1).lastOption

  /** Publish `stats` as the next cellstats generation. Completeness is
    * signalled by the write's own `_SUCCESS` (no pointer file to swap —
    * readers take the max complete generation, so visible ⇔ complete).
    * Retirement keeps exactly TWO generations: the one just published
    * and the newest PREVIOUSLY-COMPLETE one, so a reader that resolved
    * the previous generation just before this publish can still finish
    * (single-writer contract — see the object scaladoc). Everything
    * else — older complete generations AND incomplete orphans from
    * crashed publishes — is deleted. Retiring by generation NUMBER
    * alone would keep a crashed publish's incomplete dir while deleting
    * the complete generation beneath it, exactly the one the
    * retain-previous guarantee promises to readers. */
  private def publishCellstats(spark: SparkSession, path: String,
                               stats: DataFrame): Unit = {
    val fs = fsOf(spark, path)
    val next = cellstatsGenDirs(fs, path).map(_._1).maxOption.getOrElse(0L) + 1
    val keepPrev = currentCellstatsGen(fs, path).map(_._1)
    // checkpointed: the merged-update input reads the PREVIOUS
    // generation; materializing first keeps the write's lineage from
    // re-reading it mid-retirement and pins the publish to one job
    val staged = graft.Caches.checkpoint(stats)
    try staged.write.mode("overwrite").parquet(s"$path/cellstats_v$next")
    finally graft.Caches.release(staged)
    cellstatsGenDirs(fs, path)
      .filter { case (n, _) => n != next && !keepPrev.contains(n) }
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** The standing cellstats: highest complete generation; falls back to
    * the flat pre-generation `cellstats` dir (an index an older binary
    * built), then to an in-flight recompute (healed on the next
    * ensure* rewrite). */
  private[operators] def readCellstats(spark: SparkSession,
                                       path: String): DataFrame = {
    val fs = fsOf(spark, path)
    currentCellstatsGen(fs, path) match {
      case Some((_, p)) => Tables.parquet(spark, p.toString)
      case None if fs.exists(new Path(path, "cellstats")) =>
        Tables.parquet(spark, s"$path/cellstats")
      case None => rangeStats(spark, path)
    }
  }

  /** Returns (surviving (query_id, qe, cell) pairs, distinct surviving
    * cell ids, TOTAL cell count) — the total is what [[rangeSearch]]'s
    * wide-radius cutover compares the survivor count against. queries:
    * (vec_id, embedding), like the corpus. */
  def rangeLive(spark: SparkSession, path: String,
                queries: DataFrame, minCos: Double): (DataFrame, Seq[Int], Long) = {
    val eps = 1e-9
    val r = math.sqrt(math.max(2.0 - 2.0 * minCos, 0.0))
    val stats = readCellstats(spark, path).select("cell", "anchor", "radius")
    // materialized eagerly: (a) the stats read/agg runs ONCE, not once
    // for the cell collect and again inside the final plan; (b) the
    // final plan sees a tiny ExistingRDD instead of the query×nCells
    // nested-loop bound test (which is broadcast-tiny but would read as
    // a BNLJ in the plan audit)
    val live = graft.Caches.checkpoint(asQueries(queries)
      .select(col("query_id"), col("qe"), unitCol(col("qe")).as("qhat"))
      .join(broadcast(stats),
        distCol(col("qhat"), col("anchor")) <= lit(r + eps) + col("radius"))
      .select("query_id", "qe", "cell"))
    val cells = live.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    (live, cells, stats.count()) // stats = one row per cell
  }

  /** Top-k cosine neighbors for each query via nProbe-of-nCells IVF.
    * corpus and queries: (vec_id, embedding). */
  def topK(corpus: DataFrame, queries: DataFrame,
           k: Int, nCells: Int, nProbe: Int): DataFrame =
    Cosine.rank(candidates(corpus, queries, nCells, nProbe)
      .withColumnRenamed("vec_id", "neighbor_id"), k)

  /** FILTERED ANN: top-k among vectors satisfying a metadata
    * predicate, expressed as an `allowed` id set — the
    * vector-search-plus-WHERE-clause shape every retrieval stack needs.
    * POST-filter design: the index stays predicate-agnostic (built once
    * over the full corpus, like [[buildIndex]]); probed candidates
    * semi-join the allowed ids BEFORE the exact re-rank, so the rerank
    * cost scales with qualifying candidates only. The standard recall
    * lever under selective predicates is a larger nProbe (candidates
    * thin out by the selectivity factor), which callers pass explicitly.
    * At 100 TB the semi-join is the J16 bloom-prune shape when the
    * allowed set is large, or a broadcast when it is small. */
  def topKFiltered(corpus: DataFrame, queries: DataFrame,
                   allowed: DataFrame, k: Int, nCells: Int,
                   nProbe: Int): DataFrame =
    Cosine.rank(candidates(corpus, queries, nCells, nProbe)
      .join(allowed.select(col(allowed.columns.head).as("vec_id")),
            Seq("vec_id"), "left_semi")
      .withColumnRenamed("vec_id", "neighbor_id"), k)
}
