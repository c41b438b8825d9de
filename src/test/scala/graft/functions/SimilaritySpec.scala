package graft.functions

import graft.SparkSpec
import graft.queries.SimilarityQueries.{cosine, dotD, normD}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("dot, norm, cosine on hand vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      dotD(col("a"), col("b")), normD(col("a")), cosine(col("a"), col("b"))).head
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / 6.0) < 1e-12)
  }

  test("cosine is 1 for parallel and -1 for antiparallel vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 1.0f), Seq(2.0f, 2.0f), Seq(-3.0f, -3.0f)))
      .toDF("a", "b", "c")
    val r = df.select(cosine(col("a"), col("b")), cosine(col("a"), col("c"))).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-12)
  }

  // Recall bounds are asserted at THREE scales: sf0.001 (fast dev
  // signal), sf0.01 and sf0.1 (10× and 100× the corpus — checks that
  // bucketing quality, not toy size, is what carries the bound; the
  // sf0.01 notch caught the rank-2 hyperplane bug, and bucket-occupancy
  // statistics keep shifting with corpus size, so each decade is a real
  // check). The query set is the fixed 8 probes at every sf, so `exact`
  // is always 8 × top-5 = 40 pairs.
  private val recallDirs =
    Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  private def pairsAt(dir: String)(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  for (dir <- recallDirs; sf = dir.split("/sf").last) {
    test(s"ANN LSH top-k achieves >= 60% recall vs brute force at sf$sf") {
      val pairs = pairsAt(dir) _
      val exact = pairs("v1_cosine_topk")
      val ann = pairs("v3_ann_lsh_topk")
      assert(exact.size == 40) // 8 queries × top-5
      val recall = (exact intersect ann).size.toDouble / exact.size
      assert(recall >= 0.6, s"ANN recall $recall too low")
      // every ANN result must be a real corpus neighbor of the query
      assert(ann.forall { case (q, n) => q != n })
    }

    test(s"v13 recall report publishes the IVF-PQ recall this suite asserts at sf$sf") {
      // the report must agree row-for-row with the set arithmetic the
      // other tests here do by hand — and its aggregate must clear the
      // same >= 0.6 floor as the IVF-PQ test below
      val exact = pairsAt(dir)("v1_cosine_topk")
      val approx = pairsAt(dir)("v11_ann_ivfpq")
      val report = graft.SparkEntry.queries("v13_ann_recall")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.groupBy(_._1).foreach { case (q, qexact) =>
        val hand = (qexact intersect approx).size
        assert(report(q) == hand.toLong,
          s"query $q: report says ${report(q)} hits, set arithmetic says $hand")
      }
      val mean = report.values.sum.toDouble / (report.size * 5)
      assert(mean >= 0.6, s"published mean recall $mean below the suite floor")
    }

    test(s"IVF top-k achieves >= 60% recall vs brute force at sf$sf") {
      val pairs = pairsAt(dir) _
      val exact = pairs("v1_cosine_topk")
      val ivf = pairs("v4_ann_ivf_topk")
      val recall = (exact intersect ivf).size.toDouble / exact.size
      assert(recall >= 0.6, s"IVF recall $recall too low")
      assert(ivf.forall { case (q, n) => q != n })
    }

    test(s"SQ8 quantized top-k achieves >= 80% recall vs brute force at sf$sf") {
      val pairs = pairsAt(dir) _
      val exact = pairs("v1_cosine_topk")
      val sq8 = pairs("v5_ann_sq8_topk")
      // int8 per-vector symmetric quantization of 64-dim vectors keeps
      // the candidate ordering nearly intact; with a 4x candidate
      // cushion the exact re-rank should recover almost all true
      // neighbors
      val recall = (exact intersect sq8).size.toDouble / exact.size
      assert(recall >= 0.8, s"SQ8 recall $recall too low")
      assert(sq8.forall { case (q, n) => q != n })
    }

    test(s"PQ (ADC) top-k achieves >= 60% recall vs brute force at sf$sf") {
      // 8x16 codebooks keep only 64 bits per vector, so the ADC ordering
      // is the coarsest of the family — the 20x-k candidate cushion plus
      // exact re-rank holds it at the v4/IVF tier (measured 0.85 / 0.725
      // / 0.65 across the three decades), not the v3/v5 tier
      val pairs = pairsAt(dir) _
      val exact = pairs("v1_cosine_topk")
      val pq = pairs("v9_ann_pq_topk")
      val recall = (exact intersect pq).size.toDouble / exact.size
      assert(recall >= 0.6, s"PQ recall $recall too low")
      assert(pq.forall { case (q, n) => q != n })
    }

    test(s"IVF-PQ top-k achieves >= 60% recall vs brute force at sf$sf") {
      // two compounded approximations (probe misses x residual code
      // coarseness) at the family's widest operating point (nProbe=8,
      // cand=200): measured 0.900 / 0.825 / 0.725 across the decades —
      // residual encoding keeps 64-bit codes at the v4/IVF tier even
      // though only ~half the corpus is ever ADC-scored
      val pairs = pairsAt(dir) _
      val exact = pairs("v1_cosine_topk")
      val ivfpq = pairs("v11_ann_ivfpq")
      val recall = (exact intersect ivfpq).size.toDouble / exact.size
      assert(recall >= 0.6, s"IVF-PQ recall $recall too low")
      assert(ivfpq.forall { case (q, n) => q != n })
    }

    test(s"filtered ANN finds only allowed vectors, recall >= 0.6 at sf$sf") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val e = graft.Tables.load(spark, dir, "embeddings")
      val allowedIds = e.filter(col("label") % 3 === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = graft.SparkEntry.queries("v10_ann_filtered")(spark, dir)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.forall { case (_, n) => allowedIds(n) },
        "filtered ANN must never return a disallowed vector")
      // exact filtered brute force (8 queries x allowed subset)
      val qv = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val exact = e.filter(col("label") % 3 === 0)
        .crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(graft.queries.SimilarityQueries.cosineSim(col("qe"), col("embedding")), 6)
            .as("cos"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect got).size.toDouble / exact.size
      assert(recall >= 0.6, s"filtered ANN recall $recall too low")
    }

    test(s"PQ at the dense operating point (cand=500) recovers recall at sf$sf") {
      // the standard recall/cost dial for 64-bit codes: same codebooks,
      // 5x the exact-re-rank cushion. Measured 1.000/1.000/0.825 across
      // the decades vs 0.850/0.725/0.650 at cand=100 (SCALING.md table);
      // cost is re-rank-side only — the ADC scan is unchanged.
      val exact = pairsAt(dir)("v1_cosine_topk")
      val coarse = pairsAt(dir)("v9_ann_pq_topk")
      val e = graft.Tables.load(spark, dir, "embeddings")
      val dense = graft.operators.PqAnn.topK(
          corpus = e.select("vec_id", "embedding"),
          queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
            .select("vec_id", "embedding"),
          k = 5, cand = 500)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rDense = (exact intersect dense).size.toDouble / exact.size
      val rCoarse = (exact intersect coarse).size.toDouble / exact.size
      assert(rDense >= rCoarse,
        s"a larger re-rank cushion must never lose recall ($rDense < $rCoarse)")
      assert(rDense >= 0.8, s"PQ cand=500 recall $rDense below the dense tier")
    }
  }

  // v8 ≡ v4 at every recall scale: same quantizer seed ⇒ same cells ⇒
  // identical search results, so v4's recall bound above carries over to
  // the persisted-index path verbatim.
  for (dir <- recallDirs; sf = dir.split("/sf").last)
    test(s"persisted IVF index returns exactly the in-memory IVF results at sf$sf") {
      def rows(name: String) =
        graft.SparkEntry.queries(name)(spark, dir)
          .select("query_id", "neighbor_id", "cos", "rnk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(rows("v8_ann_ivf_persisted") == rows("v4_ann_ivf_topk"))
    }

  // v12 ≡ v11 at every recall scale: deterministic quantizers ⇒ the
  // standing index encodes exactly what the fit-and-search path encodes,
  // so v11's recall bound carries over to the persisted path verbatim.
  for (dir <- recallDirs; sf = dir.split("/sf").last)
    test(s"persisted IVF-PQ index returns exactly the in-memory IVF-PQ results at sf$sf") {
      def rows(name: String) =
        graft.SparkEntry.queries(name)(spark, dir)
          .select("query_id", "neighbor_id", "cos", "rnk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(rows("v12_ann_ivfpq_persisted") == rows("v11_ann_ivfpq"))
    }

  test("persisted IVF-PQ search prunes the code scan to the probed cells") {
    import graft.Tables
    val e = Tables.load(spark, sfDir, "embeddings")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_spec"
    graft.operators.IvfPqAnn.buildIndex(e.select("vec_id", "embedding"), path)
    val queries = e.filter(col("vec_id") < 2).select("vec_id", "embedding")
    // plan-assert on the ADC stage — the LAST plan-visible stage before
    // GroupTopK's RDD pass (past it the plan prints as Scan ExistingRDD)
    val (codes, qp) = graft.operators.IvfPqAnn
      .indexedScan(spark, path, queries, nProbe = 2)
    val adc = graft.operators.IvfPqAnn.adcScores(codes, qp)
    val scan = adc.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("PartitionFilters") && l.contains("cell"))
    assert(scan.isDefined, "IVF-PQ index scan lost its cell partition filter")
    // and the end-to-end search over the same index returns results
    val q = graft.operators.IvfPqAnn.topKFromIndex(spark, path,
      queries, k = 5, cand = 50, nProbe = 2)
    assert(q.count() > 0)
  }

  test("persisted IVF search prunes the index scan to the probed cells") {
    import graft.Tables
    val e = Tables.load(spark, sfDir, "embeddings")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_spec"
    graft.operators.IvfAnn.buildIndex(e.select("vec_id", "embedding"), 16, path)
    val q = graft.operators.IvfAnn.topKFromIndex(spark, path,
      e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
      k = 5, nProbe = 2)
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("PartitionFilters") && l.contains("cell"))
    assert(scan.isDefined, "index scan lost its cell partition filter")
    // 2 queries x 2 probes ≤ 4 of 16 cells read
    assert(q.count() > 0)
  }

  test("SQ8 quantization error is bounded: approx cosine within 0.02 of exact") {
    import org.apache.spark.sql.functions._
    // quantize + dequantize round trip: q_i = round(x_i/s), |x_i - q_i*s|
    // <= s/2 per dim, so the cosine of 64-dim unit-ish vectors moves by
    // O(1/127) — assert the observed bound on real corpus vectors
    val e = graft.Tables.load(spark, sfDir, "embeddings").limit(200)
    def quant(c: org.apache.spark.sql.Column) = {
      val scale = greatest(aggregate(c, lit(0.0),
        (a, x) => greatest(a, abs(x.cast("double")))), lit(1e-30)) / 127.0
      transform(c, x => round(x.cast("double") / scale, 0) * scale)
    }
    val drift = e.select(
      abs(cosine(col("embedding"), col("embedding")) -
          cosine(quant(col("embedding")), col("embedding"))).as("d"))
      .agg(max("d")).head.getDouble(0)
    assert(drift <= 0.02, s"quantization cosine drift $drift")
  }

  test("IVF probing scans a bounded candidate fraction, not the full corpus") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val corpus = e.select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val nCand = graft.operators.IvfAnn
      .candidates(corpus, queries, nCells = 16, nProbe = 6).count()
    val full = corpus.count() * queries.count()
    // 6/16 of the cells ⇒ ~37.5% of Q·N in expectation; 60% is the
    // generous ceiling that still fails a degenerate full scan
    assert(nCand < full * 6 / 10, s"IVF scanned $nCand of $full pairs")
    assert(nCand > 0)
  }

  test("v6 semdedup: canonical precedes dropped, same cluster, one row per drop") {
    val rows = graft.SparkEntry.queries("v6_semdedup")(spark, sfDir).collect()
    assert(rows.nonEmpty, "semdedup found no near-dups on the test corpus")
    val dropped = rows.map(_.getAs[Long]("dropped_id"))
    assert(dropped.distinct.length == dropped.length, "a vector dropped twice")
    rows.foreach { r =>
      assert(r.getAs[Long]("canonical_id") < r.getAs[Long]("dropped_id"),
        s"canonical does not precede dropped: $r")
    }
    // every (canonical, dropped) pair really is cosine >= 0.35: re-score
    // the reported pairs directly against the embeddings table
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    import spark.implicits._
    val pairs = rows.map(r =>
      (r.getAs[Long]("canonical_id"), r.getAs[Long]("dropped_id"))).toSeq.toDF("ca", "dr")
    val bad = pairs
      .join(e.select(col("vec_id").as("ca"), col("embedding").as("ea")), "ca")
      .join(e.select(col("vec_id").as("dr"), col("embedding").as("eb")), "dr")
      .filter(cosine(col("ea"), col("eb")) < 0.35)
      .count()
    assert(bad == 0L, s"$bad reported pairs fall below the cosine gate")
  }

  test("v7 MMR: deterministic, relevance-first, more diverse than plain top-k") {
    val run1 = graft.SparkEntry.queries("v7_mmr_topk")(spark, sfDir).collect()
    val run2 = graft.SparkEntry.queries("v7_mmr_topk")(spark, sfDir).collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq, "MMR not deterministic")
    assert(run1.length == 8)
    // with no penalty yet, the first pick must be the plain relevance argmax
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val scored = e.filter(col("vec_id") > 0).crossJoin(probe)
      .select(col("vec_id"), col("embedding"), cosine(col("embedding"), col("qe")).as("rel"))
    val top = scored.orderBy(desc("rel"), col("vec_id")).limit(8).collect()
    assert(run1.head.getLong(1) == top.head.getLong(0), "first MMR pick is not the argmax")
    // diversity: mean pairwise cosine within the MMR set must not exceed
    // the plain top-k's (top-k of one probe clusters tightly; MMR spreads)
    def meanPairwiseCos(ids: Seq[Long]): Double = {
      val vecs = e.filter(col("vec_id").isin(ids: _*))
        .select("embedding").collect().map(_.getSeq[Float](0))
      val sims = for (i <- vecs.indices; j <- i + 1 until vecs.length) yield {
        val (a, b) = (vecs(i), vecs(j))
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        dot / (na * nb)
      }
      sims.sum / sims.length
    }
    val mmrCos = meanPairwiseCos(run1.map(_.getLong(1)).toSeq)
    val topCos = meanPairwiseCos(top.map(_.getLong(0)).toSeq)
    assert(mmrCos <= topCos + 1e-9,
      s"MMR set (mean cos $mmrCos) not more diverse than top-k (mean cos $topCos)")
  }

  // v15 exactness: the ball-overlap pruning must never lose a result at
  // thresholds OTHER than the registered query's. On THIS corpus the
  // bound is sound but non-binding — the synthetic embeddings are
  // near-orthogonal (max cos ~0.4), so any result-bearing τ implies a
  // ball of radius ≥ 1.1 on the unit sphere, which overlaps every
  // spread cell; that is the honest geometry, not a pruning bug, and
  // the tight-cluster test below shows the bound biting where range
  // search is actually used (high-τ dedup sweeps).
  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"v15 range search equals brute force at three thresholds at $sf") {
      import org.apache.spark.sql.functions._
      val dir = s"/root/testdata/$sf"
      val e = graft.Tables.load(spark, dir, "embeddings")
      val path = graft.Caches.scratch("ivf", dir)
      graft.operators.IvfAnn.ensureIndex(
        e.select("vec_id", "embedding"), nCells = 16, path = path)
      val queries = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val brute = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.queries.SimilarityQueries.cosineSim(col("qe"), col("embedding")).as("c"))
      for (tau <- Seq(0.25, 0.3, 0.4)) {
        val got = graft.operators.IvfAnn.rangeSearch(spark, path, queries, tau)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = brute.filter(col("c") >= tau)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, s"tau=$tau at $sf: pruned search lost/invented results")
        val (_, cells, _) = graft.operators.IvfAnn.rangeLive(spark, path, queries, tau)
        info(s"$sf tau=$tau: ${cells.size}/16 cells scanned, ${want.size} results")
      }
    }
  }

  test("v15 pruning BITES on dedup-sweep geometry (tight clusters, high tau)") {
    // the workload range search exists for: near-dup sweeps at cos >=
    // 0.9 over clustered embeddings. 16 well-separated tight clusters
    // (pairwise-near-orthogonal centers, members within ~0.99 cosine of
    // their center): Lloyd recovers the clusters, coverage radii are
    // small, and a 0.9-ball around any member overlaps only its own
    // cell — so the scan must touch a strict subset of cells while the
    // result still equals brute force. An implementation that always
    // scans everything fails here.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 32
    def norm(a: Array[Float]): Float =
      math.sqrt(a.map(x => x.toDouble * x.toDouble).sum).toFloat
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = for (k <- 0 until 16; j <- 0 until 20) yield {
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      val v = centers(k).zip(noise).map { case (c, n) => c / norm(centers(k)) + n }
      ((k * 20 + j).toLong, v.toSeq)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_tight_${System.nanoTime()}"
    graft.operators.IvfAnn.buildIndex(e, nCells = 16, path = path)
    val queries = e.filter(col("vec_id") % 20 === 0).limit(8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val got = graft.operators.IvfAnn.rangeSearch(spark, path, queries, 0.9)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .filter(graft.queries.SimilarityQueries
        .cosineSim(col("qe"), col("embedding")) >= 0.9)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "tight-cluster range search diverged from brute force")
    assert(want.size >= 8 * 10, s"fixture too loose: only ${want.size} true pairs")
    val (_, cells, _) = graft.operators.IvfAnn.rangeLive(spark, path, queries, 0.9)
    info(s"tight fixture: ${cells.size}/16 cells scanned for 8 queries")
    assert(cells.size < 16,
      s"ball-overlap bound scanned all 16 cells on tight clusters — pruning is dead code")
    // the narrow-radius path must ALSO carry its isin partition filter —
    // the complement of the wide-radius cutover test below. One query's
    // 0.9-ball overlaps only its own cell (1/16 ≤ the 25% cutover), so
    // this plan must keep the literal cell list on the scan.
    val narrow = graft.operators.IvfAnn.rangeSearch(
      spark, path, queries.limit(1), 0.9)
    assert(partitionFilterHasCellList(narrow),
      "narrow-radius range search lost its isin partition filter")
  }

  /** Does the plan's index scan carry a literal cell-list partition
    * filter? (Small lists print as `cell#N IN (…)`, large as INSET.) */
  private def partitionFilterHasCellList(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters"))
      .exists(l => l.contains(" IN (") || l.contains(" INSET "))

  test("v15 wide-radius cutover: > 25% surviving cells drops the isin, result stays exact") {
    // round-12 verdict ask #2: at production nCells (~10⁵) a loose
    // threshold survives most cells and the isin literal list bloats the
    // plan while pruning nothing. minCos = 0.05 over the near-orthogonal
    // corpus makes every ball cover all 16 cells → the cutover must take
    // the non-isin path, and the result must STILL equal brute force.
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.load(spark, dir, "embeddings")
    val path = graft.Caches.scratch("ivf", dir)
    graft.operators.IvfAnn.ensureIndex(
      e.select("vec_id", "embedding"), nCells = 16, path = path)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (_, cells, total) = graft.operators.IvfAnn.rangeLive(spark, path, queries, 0.05)
    assert(cells.size.toLong * 4 > total,
      s"fixture must survive > 25% of cells (got ${cells.size}/$total) or the cutover is untested")
    val wide = graft.operators.IvfAnn.rangeSearch(spark, path, queries, 0.05)
    assert(!partitionFilterHasCellList(wide),
      "wide-radius range search must skip the isin partition filter " +
        "(a full-width literal list prunes nothing and bloats the plan)")
    val got = wide.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .filter(graft.queries.SimilarityQueries
        .cosineSim(col("qe"), col("embedding")) >= 0.05)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "non-isin path lost/invented results")
    assert(got.nonEmpty, "fixture must produce results or the test is vacuous")
  }

  test("v16 incremental update: union assigned once, delta surfaces, range search stays exact") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.load(spark, dir, "embeddings")
    val path = graft.Caches.scratch("ivfupd", dir)
    graft.operators.IvfAnn.ensureUpdatedIndex(
      base = e.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding"),
      delta = e.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
      nCells = 16, path = path)
    // the updated standing layout holds the UNION, each vector exactly once
    val assigned = spark.read.parquet(s"$path/assigned")
    assert(assigned.count() == e.count(), "update must append the delta")
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "no vector may be assigned twice (append-once contract)")
    // delta vectors are searchable through the registered query
    val res = graft.SparkEntry.queries("v16_ann_index_update")(spark, dir)
    assert(res.filter(col("neighbor_id") % 5 === 0).count() > 0,
      "no delta vector surfaced in any top-5 — the update is invisible")
    // v15's EXACTNESS survives the update: the merged coverage radii
    // (max of old and delta per cell) must still never prune a result
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val got = graft.operators.IvfAnn.rangeSearch(spark, path, queries, 0.25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .filter(graft.queries.SimilarityQueries
        .cosineSim(col("qe"), col("embedding")) >= 0.25)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "range search over the updated index diverged from brute force")
    assert(want.exists(_._2 % 5 == 0), "fixture vacuous: no delta vector in range")
  }

  test("v16 updateIndex COMPOSES: two sequential deltas, union exact") {
    // a production index absorbs arrivals repeatedly — update must be
    // closed under composition, not a one-shot: build on the base, then
    // two separate day-batches, each through the same updateIndex
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivfupd2_${System.nanoTime()}"
    graft.operators.IvfAnn.buildIndex(
      e.filter(col("vec_id") >= 16).select("vec_id", "embedding"),
      nCells = 16, path = path)
    graft.operators.IvfAnn.updateIndex(
      e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select("vec_id", "embedding"), path)
    graft.operators.IvfAnn.updateIndex(
      e.filter(col("vec_id") < 8).select("vec_id", "embedding"), path)
    val assigned = spark.read.parquet(s"$path/assigned")
    assert(assigned.count() == e.count())
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val got = graft.operators.IvfAnn.rangeSearch(spark, path, queries, 0.25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .filter(graft.queries.SimilarityQueries
        .cosineSim(col("qe"), col("embedding")) >= 0.25)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "range search diverged after composed updates — radius merge must be associative")
  }
}
