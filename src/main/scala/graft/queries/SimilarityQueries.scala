package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.operators.{Cosine, IvfAnn, IvfPqAnn, Lloyd, PqAnn}
import graft.operators.Cosine.{cosineSim, rerankSql, sqlDot, sqlNorm, topkSql}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table: the vector family.
  *
  *  - Exact: v1's brute-force cosine top-k (the ground truth of every
  *    recall check, and of the v13 recall report), v2's near-dup pairs,
  *    v15's range search, v6's semantic dedup and v7's MMR top-k.
  *  - Approximate top-k, one member per scale lever: random-hyperplane
  *    LSH (v3), SQ8 scalar quantization (v5), IVF ([[IvfAnn]]: v4, v10),
  *    PQ ([[PqAnn]]: v9) and IVF-PQ ([[IvfPqAnn]]: v11).
  *  - The standing-index lifecycle: build once and search (v8, v12),
  *    incremental update (v16), drift monitor (v17), tombstone deletes
  *    (v18, v19), and the queries that ride the standing IVF-PQ index
  *    (v13's recall report, v14's hard negatives).
  *
  * Every search answers the same probe batch ([[probes]]) and ends in
  * [[Cosine.rank]], the exact re-rank by rounded cosine; each oracle
  * ends in its DuckDB twin, [[Cosine.rerankSql]] or [[Cosine.topkSql]].
  * The ANN oracles replay the quantizer fits with `Lloyd`'s SQL twins,
  * so the whole approximate path hash-matches, not just its recall.
  *
  * Scale notes: brute force is O(Q·N) — correct and shuffle-light when
  * the query set broadcasts (it does here, and at 100 TB the query side
  * is still tiny relative to the corpus, so the join stays broadcast and
  * the corpus is scanned exactly once, map-side). The approximate paths
  * cut the corpus-side work per query: LSH probes L·(bits+1)/2^bits of
  * N, IVF nProbe/nCells of it, and PQ scores 8-byte codes instead of
  * vectors. Their per-operator scale shapes are in the operators'
  * scaladoc.
  */
object SimilarityQueries {

  /** The probe batch every search here answers: the first eight corpus
    * vectors, in the corpus's (vec_id, embedding) shape. */
  private def probes(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8).select("vec_id", "embedding")

  /** DuckDB twin of [[probes]]' predicate, used bare or after a table
    * alias. */
  private val ProbeSql = "vec_id < 8"

  /** v1's exact brute-force top-`k`: every probe against the whole
    * corpus, re-ranked by [[Cosine.rank]]. Also the ground truth of the
    * v13 recall report. */
  private def bruteTopK(e: DataFrame, k: Int): DataFrame =
    Cosine.rank(e.join(broadcast(Cosine.asQueries(probes(e))),
        col("vec_id") =!= col("query_id"))
      .withColumnRenamed("vec_id", "neighbor_id"), k)

  /** DuckDB twin of [[bruteTopK]] at k = 5. */
  private lazy val bruteTopkSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         round(${sqlDot("q.embedding", "c.embedding")}
       |           / (${sqlNorm("q.embedding")} * ${sqlNorm("c.embedding")}), 6) AS cos
       |  FROM embeddings q JOIN embeddings c ON q.$ProbeSql AND c.vec_id <> q.vec_id)
       |${topkSql("scored", 5)}""".stripMargin

  /** `rq` (vec_id, rq): the micro-unit corpus the ANN oracles fit on. */
  private lazy val rqCte: String =
    s"""rq AS MATERIALIZED (
       |  SELECT vec_id, ${Lloyd.quantSql("embedding")} AS rq
       |  FROM embeddings)""".stripMargin

  /** `rq`, its one-block slicing `rqb` and the coarse IVF fit on it,
    * ending at the centroids `c<iters>` (IvfAnn.fitCentroids).
    * `fitWhere`: the fit (seeds and every round) runs over this subset
    * of `rqb` only, the frozen-quantizer contract of v16/v17; None fits
    * on everything. */
  private def coarseFitCtes(nCells: Int, iters: Int, dim: Int,
                            fitWhere: Option[String] = None): String = {
    val fit = fitWhere.fold("")(w => s"fit AS MATERIALIZED (SELECT * FROM rqb WHERE $w),\n")
    s"""$rqCte,
       |rqb AS (
       |  ${Lloyd.blocksSql("rq", "rq", 1, dim)}),
       |$fit${Lloyd.fitSql("", if (fitWhere.isEmpty) "rqb" else "fit", nCells, 1, dim, iters,
              Lloyd.DoubleMean)(IvfAnn.distSql)}""".stripMargin
  }

  /** `probe` (query_id, cell): the `nProbe` cells of `cents` nearest to
    * each query by cosine, ties to the lower cell — the probe of IvfAnn
    * and IvfPqAnn. */
  private def probeCte(cents: String, nProbe: Int): String =
    s"""probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             ${sqlDot("q.embedding", "c.c")}
       |               / (${sqlNorm("q.embedding")} * ${sqlNorm("c.c")}) DESC, c.cell) AS rn
       |    FROM embeddings q CROSS JOIN $cents c WHERE q.$ProbeSql)
       |  WHERE rn <= $nProbe)""".stripMargin

  /** `cand`: the `cand` lowest-ADC neighbors per query of `adc`. */
  private def adcCandCte(cand: Int): String =
    s"""cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc, neighbor_id) AS crn
       |    FROM adc) WHERE crn <= $cand)""".stripMargin

  /** DuckDB mirror of the product-quantization ANN (operators.PqAnn):
    * the codebook fit (Lloyd.fitSql, M blocks, micro-unit means), then
    * encode → ADC → re-rank. Assignment and ADC scoring are BIGINT
    * arithmetic, so the per-round mean is the only float op. */
  private def pqSql(k: Int, cand: Int, m: Int = PqAnn.M, kCents: Int = PqAnn.K,
                    iters: Int = PqAnn.PqIters, dim: Int = 64): String = {
    val dsub = dim / m
    s"""WITH $rqCte,
       |rqs AS MATERIALIZED (
       |  ${Lloyd.blocksSql("rq", "rq", m, dsub)}),
       |${Lloyd.fitSql("", "rqs", kCents, m, dsub, iters, Lloyd.MicroMean)(Lloyd.sqDistSql)},
       |af AS (
       |  ${Lloyd.nearestSql("rqs", s"c$iters", m)(Lloyd.sqDistSql)}),
       |dt AS (
       |  SELECT q.vec_id AS query_id, c.sub, c.cell, ${Lloyd.sqDistSql("q.v", "c.c")} AS d
       |  FROM rqs q JOIN c$iters c ON q.sub = c.sub WHERE q.$ProbeSql),
       |adc AS (
       |  SELECT dt.query_id, af.vec_id AS neighbor_id, sum(dt.d) AS adc
       |  FROM af JOIN dt ON af.sub = dt.sub AND af.cell = dt.cell
       |                 AND af.vec_id <> dt.query_id
       |  GROUP BY dt.query_id, af.vec_id),
       |${adcCandCte(cand)},
       |${rerankSql(k)}""".stripMargin
  }

  /** DuckDB mirror of the IVF search (operators.IvfAnn): the coarse
    * fit, then assign → probe → re-rank. Every float step is a
    * correctly-rounded scalar op or a left-to-right double fold, so
    * centroids, cells, probes and the rounded cosines match bit for bit.
    *
    * `candPredicate`: optional SQL boolean over alias `ce` (the
    * candidate's embeddings row) — the filtered-ANN variant (v10).
    * `deleteWhere` (v18): SQL boolean over alias `a` (the candidate
    * assignment row) naming the TOMBSTONED ids — candidates matching it
    * are excluded before re-rank, replaying IvfAnn's tombstone
    * anti-join exactly (the fit and assignment still cover the full
    * corpus: deletes never refit the quantizer). */
  private def ivfSql(nCells: Int, nProbe: Int, k: Int,
                     iters: Int = IvfAnn.LloydIters,
                     dim: Int = 64, candPredicate: Option[String] = None,
                     fitWhere: Option[String] = None,
                     deleteWhere: Option[String] = None): String =
    s"""WITH ${coarseFitCtes(nCells, iters, dim, fitWhere)},
       |af AS (
       |  ${Lloyd.nearestSql("rqb", s"c$iters", 1)(IvfAnn.distSql)}),
       |${probeCte(s"c$iters", nProbe)},
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM af a JOIN probe p USING (cell)
       |  ${candPredicate.map(pr => s"JOIN embeddings ce ON ce.vec_id = a.vec_id AND ($pr)")
          .getOrElse("")}
       |  WHERE a.vec_id <> p.query_id
       |  ${deleteWhere.map(w => s"AND NOT ($w)").getOrElse("")}),
       |${rerankSql(k)}""".stripMargin

  /** DuckDB mirror of the v17 quantizer-drift monitor: the
    * fit-on-`fitWhere` coarse fit (the v16 split), every vector's
    * nearest frozen centroid with the winning distance, then per
    * `partExpr` bucket aggregates. Every per-vector error is
    * micro-quantized to exact nano-units (√d is one correctly-rounded op
    * on an identical double fold; the ×1e9 half-away round makes it
    * BIGINT), so the means are order-independent integer sums divided
    * once — hash-stable like the m10/v4 register trick. */
  private def ivfDriftSql(nCells: Int, iters: Int = IvfAnn.LloydIters, dim: Int = 64,
                          fitWhere: Option[String] = None,
                          partExpr: String =
                            "CASE WHEN vec_id % 5 = 0 THEN 'delta' ELSE 'base' END")
      : String =
    s"""WITH ${coarseFitCtes(nCells, iters, dim, fitWhere)},
       |ad AS (
       |  SELECT vec_id, cell,
       |         CAST(floor(sqrt(d) * 1000000000.0 + 0.5) AS BIGINT) AS qerr_nano
       |  FROM (${Lloyd.nearestSql("rqb", s"c$iters", 1)(IvfAnn.distSql)})),
       |p AS (SELECT $partExpr AS part, cell, qerr_nano FROM ad),
       |agg AS (SELECT part, count(*) AS n, sum(qerr_nano) AS s
       |        FROM p GROUP BY part),
       |occ AS (SELECT part, max(cn) AS mx FROM (
       |          SELECT part, cell, count(*) AS cn FROM p GROUP BY part, cell)
       |        GROUP BY part)
       |SELECT a.part AS part, a.n AS n_vecs,
       |       round(CAST(a.s AS DOUBLE) / (CAST(a.n AS DOUBLE) * 1000000000.0), 6) AS mean_qerr,
       |       round(CAST(o.mx AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS max_cell_share,
       |       round((CAST(a.s AS DOUBLE) * CAST(bb.n AS DOUBLE))
       |         / (CAST(bb.s AS DOUBLE) * CAST(a.n AS DOUBLE)), 6) AS qerr_ratio
       |FROM agg a JOIN occ o ON a.part = o.part
       |CROSS JOIN (SELECT n, s FROM agg WHERE part = 'base') bb
       |ORDER BY part""".stripMargin

  /** DuckDB mirror of the IVF-PQ index (operators.IvfPqAnn): v4's
    * coarse fit, its centroids micro-quantized (`cmu`), then every
    * IVF-PQ-specific step in exact BIGINT arithmetic — cell assignment,
    * residuals, the residual codebook fit (Lloyd.fitSql over `rss`, CTEs
    * `pc*`), encoding and ADC — plus v4's cosine probe on the query side.
    *
    * `deleteWhere` (v19): SQL boolean over alias `af0` (the coarse
    * assignment row) naming the TOMBSTONED ids — matching codes are
    * excluded from ADC scoring (before the `cand` cut), replaying
    * IvfPqAnn's tombstone anti-join exactly. */
  private def ivfpqSql(k: Int, cand: Int, deleteWhere: Option[String] = None,
                       nCells: Int = IvfPqAnn.NCells, nProbe: Int = IvfPqAnn.NProbe,
                       coarseIters: Int = IvfAnn.LloydIters, m: Int = PqAnn.M,
                       kCents: Int = PqAnn.K, pqIters: Int = PqAnn.PqIters,
                       dim: Int = 64): String = {
    val dsub = dim / m
    def minus(a: String, b: String) =
      s"list_transform(list_zip($a, $b), pz -> CAST(pz[1] AS BIGINT) - CAST(pz[2] AS BIGINT))"
    s"""WITH ${coarseFitCtes(nCells, coarseIters, dim)},
       |cmu AS MATERIALIZED (
       |  SELECT sub, cell, list_transform(c, x -> ${Lloyd.microSql("x")}) AS c
       |  FROM c$coarseIters),
       |af0 AS MATERIALIZED (
       |  ${Lloyd.nearestSql("rqb", "cmu", 1)(Lloyd.sqDistSql)}),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, ${minus("a.v", "mm.c")} AS res
       |  FROM af0 a JOIN cmu mm ON mm.cell = a.cell),
       |rss AS MATERIALIZED (
       |  ${Lloyd.blocksSql("res", "res", m, dsub)}),
       |${Lloyd.fitSql("p", "rss", kCents, m, dsub, pqIters, Lloyd.MicroMean)(Lloyd.sqDistSql)},
       |afq AS MATERIALIZED (
       |  ${Lloyd.nearestSql("rss", s"pc$pqIters", m)(Lloyd.sqDistSql)}),
       |${probeCte(s"c$coarseIters", nProbe)},
       |qres AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, p.cell AS pcell, ${minus("q.rq", "mm.c")} AS qres
       |  FROM rq q JOIN probe p ON p.query_id = q.vec_id
       |  JOIN cmu mm ON mm.cell = p.cell),
       |qdt AS MATERIALIZED (
       |  SELECT qr.query_id, qr.pcell, c.sub, c.cell,
       |         ${Lloyd.sqDistSql(s"qr.qres[c.sub*$dsub + 1 : c.sub*$dsub + $dsub]", "c.c")} AS d
       |  FROM qres qr CROSS JOIN pc$pqIters c),
       |adc AS MATERIALIZED (
       |  SELECT qdt.query_id, afq.vec_id AS neighbor_id, sum(qdt.d) AS adc
       |  FROM af0
       |  JOIN afq ON afq.vec_id = af0.vec_id
       |  JOIN qdt ON qdt.pcell = af0.cell AND qdt.sub = afq.sub
       |          AND qdt.cell = afq.cell AND afq.vec_id <> qdt.query_id
       |  ${deleteWhere.map(w => s"WHERE NOT ($w)").getOrElse("")}
       |  GROUP BY qdt.query_id, afq.vec_id),
       |${adcCandCte(cand)},
       |${rerankSql(k)}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-k: 8 query vectors × full corpus, top-5 each.
    q("v1_cosine_topk", bruteTopkSql) { (s, dir) =>
      bruteTopK(Tables.load(s, dir, "embeddings"), 5).orderBy("query_id", "rnk")
    },

    // Embedding near-dup detection: all pairs with cosine ≥ 0.35 (the
    // embedding-cosine dedup gate). Near-dups in this corpus share a label
    // cluster by construction, and both engines compare the same pair set,
    // so results align. A naive self-join on `label` alone has two scale
    // problems: only 10 distinct join keys (max
    // 10-way parallelism) and quadratic work per key in ONE task. Fix is
    // an exact triangle split: each label block is cut into K chunks on
    // vec_id, each side is replicated over its chunk-pair combos, and the
    // join key becomes the uniform composite (label, ca, cb) — K(K+1)/2
    // combos per label, each a small rectangle of pairs, spread by an
    // explicit repartition on the key. Pair coverage is exact: unordered
    // chunk pairs ca<=cb, with the vec_id tie-break applied only on the
    // diagonal, and least/greatest restoring vec_a < vec_b output order.
    q("v2_cosine_neardup",
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(${sqlDot("a.embedding", "b.embedding")}
         |         / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}), 6) AS cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")}
         |      / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      val k = 8
      val chunks = array((0 until k).map(lit): _*)
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"),
                pmod(col("vec_id"), lit(k)).cast("int").as("chunk"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
                       col("label"), col("chunk").as("ca"),
                       explode(chunks).as("cb"))
        .filter(col("cb") >= col("ca"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
                       col("label"), explode(chunks).as("ca"),
                       col("chunk").as("cb"))
        .filter(col("cb") >= col("ca"))
      a.repartition(col("label"), col("ca"), col("cb"))
        .join(b, Seq("label", "ca", "cb"))
        .filter(col("ca") =!= col("cb") || col("id_a") < col("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("vec_a"),
                greatest(col("id_a"), col("id_b")).as("vec_b"),
                cosineSim(col("ea"), col("eb")).as("craw"))
        .filter(col("craw") >= 0.35)
        .select(col("vec_a"), col("vec_b"), round(col("craw"), 6).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // ANN scale path: multi-table multi-probe random-hyperplane LSH.
    // L=8 independent tables of 4 sign bits bucket the corpus; each query
    // probes, per table, its own bucket plus every Hamming-1 neighbor
    // bucket. Detection prob per table is q = p⁴+4p³(1−p) with
    // p = 1−θ/π; on this corpus the true top-5 sits near θ≈80-90°
    // (p≈0.5, q≈0.31), so tables are THE recall knob that doesn't grow
    // the per-table probe fraction: L=8 gives 1−(1−q)⁸ ≈ 0.95 where L=4
    // measured only 0.55 recall at sf0.01. Corpus-side work per query
    // stays N·(bits+1)/2^bits per table ≈ 2.5·N total here — tune bits
    // up at real scale (bits=16, L=8 ⇒ ~0.2% of corpus probed).
    // Everything stays one equi-join on a packed (table,bucket) long:
    // uniform keys, no skew. Exact re-rank inside the probed buckets.
    // Recall vs v1 is asserted in the test suite at sf0.001, sf0.01 AND
    // sf0.1. Oracle-checked since the planes went engine-portable: the
    // DuckDB oracle regenerates the hyperplanes from the same squaring-
    // hash Irwin-Hall draws, replays sign-bit bucketing, the Hamming-1
    // probe expansion, the bucket join and the exact re-rank — the
    // whole ANN path hash-matches, not just its recall.
    q("v3_ann_lsh_topk",
      s"""WITH mix AS (
         |  SELECT t, b, i, j,
         |         ((t*1000003 + b*10007 + i*101 + j + 1) % 1000000007) AS h0
         |  FROM range(8) rt(t), range(4) rb(b), range(64) ri(i), range(12) rj(j)),
         |m1 AS (SELECT t,b,i,j, ((h0*h0 + 12345) % 1000000007) AS h FROM mix),
         |m2 AS (SELECT t,b,i,j, ((h*h + 999331) % 1000000007) AS h FROM m1),
         |m3 AS (SELECT t,b,i,j, ((h*h + 42) % 1000000007) AS h FROM m2),
         |g AS (
         |  SELECT t, b, i,
         |         list_reduce(list_prepend(0.0::DOUBLE,
         |           list_transform(list(h ORDER BY j),
         |             v -> (CAST(v AS DOUBLE)+0.5)/1000000007.0)),
         |           (x,y)->x+y) - 6.0 AS gv
         |  FROM m3 GROUP BY t, b, i),
         |planes AS (SELECT t, b, list(gv ORDER BY i) AS w FROM g GROUP BY t, b),
         |dots AS (
         |  SELECT e.vec_id, p.t, p.b,
         |         ${sqlDot("p.w", "e.embedding")} AS d
         |  FROM embeddings e CROSS JOIN planes p),
         |buckets AS (
         |  SELECT vec_id, t,
         |         CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id, t),
         |corpus_tb AS (SELECT vec_id, t*65536 + bucket AS tb FROM buckets),
         |probe_tb AS (
         |  SELECT query_id, unnest(tbs) AS tb FROM (
         |    SELECT vec_id AS query_id,
         |           list_prepend(t*65536 + bucket,
         |             [t*65536 + xor(bucket, 1::BIGINT << pb) for pb in range(0, 4)]) AS tbs
         |    FROM buckets WHERE $ProbeSql)),
         |cand AS (
         |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
         |  FROM corpus_tb c JOIN probe_tb p USING (tb)
         |  WHERE c.vec_id <> p.query_id),
         |${rerankSql(5)}""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // Deterministic iid-Gaussian hyperplanes (fixed seed, one stream
      // indexed h[t][b][i] = g[((t*bits)+b)*dim + i]). NOT a closed-form
      // sinusoid: sin(c+i) = sin(c)·cos(i) + cos(c)·sin(i), so sinusoidal
      // "hyperplanes" all lie in the 2-D span of (cos i, sin i)_i — every
      // bit then quantizes one planar angle, tables are perfectly
      // correlated, and recall plateaus (measured 0.575 at sf0.01 no
      // matter how many tables). Independent Gaussian directions restore
      // the p = 1−θ/π per-bit geometry the table-count analysis assumes.
      val dim = 64
      val bits = 4
      val tables = 8
      // Engine-portable Gaussian-ish planes (so the DuckDB oracle can
      // regenerate them bit-for-bit): Irwin-Hall(12) — the sum of 12
      // iid uniforms minus 6 (mean 0, var 1, symmetric, smooth) — with
      // each uniform drawn from a SQUARING hash mod 1e9+7: h² < P² <
      // 2⁶³, so both engines do exact signed-64 integer math, and the
      // squaring is the nonlinearity that a polynomial/LCG chain lacks —
      // any affine-mod-P scheme stays affine in (i, j), so consecutive
      // dims draw near-identical uniforms and the planes collapse to
      // low rank exactly like the sinusoid planes above (measured: recall
      // 0.45 with a base-131 poly chain here; ≥ 0.9 with the squaring
      // mixer). (h+0.5)/P and the 12-term left-to-right sum are IEEE-
      // correctly-rounded on both engines ⇒ identical coefficient
      // doubles ⇒ identical sign bits. Recall re-measured after the
      // swap at sf0.001/0.01/0.1 (SCALING.md table).
      val gauss = {
        val P = 1000000007L
        Array.tabulate(tables * bits * dim) { idx =>
          val t = idx / (bits * dim); val b = (idx / dim) % bits; val i = idx % dim
          var s = 0.0
          var j = 0
          while (j < 12) {
            var h = (t * 1000003L + b * 10007L + i * 101L + j + 1L) % P
            h = (h * h + 12345L) % P
            h = (h * h + 999331L) % P
            h = (h * h + 42L) % P
            s += (h + 0.5) / P.toDouble
            j += 1
          }
          s - 6.0
        }
      }
      // One compiled pass per row for all tables·bits hyperplane dots
      // (the column form — 32 interpreted `aggregate` lambdas over
      // 64-dim lit arrays per row — was the measured hotspot: 2.5 s warm
      // at sf0.1 vs ~0.6 s for this loop). Join key is (t<<16)|bucket
      // packed into one long: a single uniform equi-join column.
      def packedBuckets(emb: Seq[Float], probeExpand: Boolean): Array[Long] = {
        val out = new Array[Long](if (probeExpand) tables * (bits + 1) else tables)
        var o = 0
        var t = 0
        while (t < tables) {
          var bucket = 0L
          var b = 0
          while (b < bits) {
            var dot = 0.0
            val base = (t * bits + b) * dim
            val n = math.min(dim, emb.length)
            var i = 0
            while (i < n) { dot += gauss(base + i) * emb(i); i += 1 }
            if (dot >= 0) bucket |= 1L << b
            b += 1
          }
          val tag = t.toLong << 16
          out(o) = tag | bucket; o += 1
          if (probeExpand) {
            var pb = 0
            while (pb < bits) { out(o) = tag | (bucket ^ (1L << pb)); o += 1; pb += 1 }
          }
          t += 1
        }
        out
      }
      val bucketsOf = udf((emb: Seq[Float]) => packedBuckets(emb, probeExpand = false))
      val probesOf = udf((emb: Seq[Float]) => packedBuckets(emb, probeExpand = true))
      val corpus = e.select(col("vec_id"), col("embedding"),
        explode(bucketsOf(col("embedding"))).as("tb"))
      val probeTbs = probes(e)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          explode(probesOf(col("embedding"))).as("tb"))
      Cosine.rank(corpus.join(broadcast(probeTbs), Seq("tb"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qe"), col("embedding"))
          .dropDuplicates("query_id", "neighbor_id"), 5)
        .orderBy("query_id", "rnk")
    },

    // ANN scale path #3: int8 scalar quantization (SQ8) + exact re-rank.
    // Each vector is quantized per-vector-symmetric (scale = max|x|/127,
    // q_i = round(x_i/scale) ∈ [-127,127]); the per-vector scales CANCEL
    // in the cosine, so candidate scoring is pure integer arithmetic:
    // cos ≈ Σ qa·qb / (√Σqa² · √Σqb²). At 100 TB the corpus scan for
    // candidate generation reads 1 byte/dim instead of 4 (4× bandwidth,
    // integer-SIMD dots) — the approx stage touches ONLY (vec_id, q, qnorm);
    // full-precision vectors are fetched afterwards by joining the tiny
    // Q×4k candidate set back to the corpus by vec_id for the exact
    // re-rank. Candidate selection is GroupTopK (map-side partial heaps,
    // shuffle O(k·queries·partitions), never a full-corpus window sort).
    // Oracle-checked, unlike the trained-quantizer ANN paths: this
    // quantizer is per-vector max-abs scaling — pure arithmetic DuckDB
    // replays exactly (float→double widening is exact, the away-from-
    // zero HALF_UP round is floor(v+0.5) on both engines, int dot/norm
    // sums are exact, and IEEE-754 requires correctly-rounded sqrt), so
    // the candidate sets and the final rounded re-rank hash-match.
    q("v5_ann_sq8_topk",
      s"""WITH q8 AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x ->
         |           CASE WHEN CAST(x AS DOUBLE)/scale >= 0
         |                THEN CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT)
         |                ELSE -CAST(floor(-CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT) END) AS cq
         |  FROM (SELECT vec_id, embedding,
         |          greatest(list_aggregate(list_transform(embedding,
         |            x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) / 127.0 AS scale
         |        FROM embeddings)),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |         list_reduce(list_prepend(0::BIGINT, list_transform(list_zip(c.cq, q.cq),
         |           p -> p[1]*p[2])), (x,y)->x+y) AS dot,
         |         list_reduce(list_prepend(0::BIGINT, list_transform(c.cq, v -> v*v)), (x,y)->x+y) AS na,
         |         list_reduce(list_prepend(0::BIGINT, list_transform(q.cq, v -> v*v)), (x,y)->x+y) AS nb
         |  FROM q8 q JOIN q8 c ON q.$ProbeSql AND c.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT query_id, vec_id AS neighbor_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY
         |             CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |                  ELSE dot / sqrt(CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)) END DESC,
         |             vec_id) AS r
         |    FROM pairs) WHERE r <= 20),
         |${rerankSql(5)}""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // compiled one-loop-per-row quantize + int cosine (ArrayOps.sq8*):
      // the HOF formulation (aggregate/zip_with lambdas) ran interpreted
      // and dominated the bench at 12.8 s/sf0.1
      val corpus = e.select(col("vec_id"),
        graft.functions.ArrayOps.sq8Quantize(col("embedding")).as("cq"))
      val batch = probes(e)
      val qq = batch.select(col("vec_id").as("query_id"),
        graft.functions.ArrayOps.sq8Quantize(col("embedding")).as("qq"))
      val approx = corpus.join(broadcast(qq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.ArrayOps.sq8Cosine(col("cq"), col("qq")).as("approx"))
      val cand = graft.operators.GroupTopK
        .topK(approx, Seq("query_id"), "approx", "vec_id", k = 20)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
      Cosine.rank(cand
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
          .join(broadcast(Cosine.asQueries(batch)), "query_id"), 5)
        .orderBy("query_id", "rnk")
    },

    // ANN scale path #2: IVF (data-adaptive Lloyd coarse quantizer +
    // nProbe cell probing + exact re-rank) — see operators.IvfAnn for
    // the 100 TB shape AND the exact-arithmetic portability argument.
    // Oracle-checked since the quantizer went deterministic: the DuckDB
    // oracle regenerates the centroids (hash-ranked init + LloydIters
    // unrolled steps with exact integer dimension sums) and replays
    // assign→probe→re-rank bit-for-bit. Recall vs exact v1 is asserted
    // in SimilaritySpec at three scales.
    q("v4_ann_ivf_topk", ivfSql(nCells = 16, nProbe = 6, k = 5)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      IvfAnn.topK(corpus = e.select("vec_id", "embedding"), queries = probes(e),
          k = 5, nCells = 16, nProbe = 6)
        .orderBy("query_id", "rnk")
    },

    // The operational form of v4: the IVF index is BUILT ONCE (quantizer
    // fit + corpus assignment persisted, partitioned by cell) and the
    // query batch searches the standing index — probed cells prune to
    // nProbe directories of the partitioned layout, no retraining, no
    // full-corpus scan. Deterministic quantizer ⇒ identical results to
    // v4 (spec), and the SAME oracle SQL replays it.
    q("v8_ann_ivf_persisted", ivfSql(nCells = 16, nProbe = 6, k = 5)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivf", dir)
      IvfAnn.ensureIndex(e.select("vec_id", "embedding"), nCells = 16, path = path)
      IvfAnn.topKFromIndex(s, path, queries = probes(e), k = 5, nProbe = 6)
        .orderBy("query_id", "rnk")
    },

    // Product-quantization ANN — the fourth family member (LSH / IVF /
    // SQ8 / PQ): 8 subspaces x 16 centroids compress each vector to a
    // 64-BIT CODE, and queries score candidates via 8 integer table
    // lookups (ADC) instead of any float math against corpus vectors —
    // the memory collapse (256 bytes -> 8) that fits a 100 TB corpus's
    // index in RAM. Codebooks from the same deterministic Lloyd scheme
    // as v4; assignment and ADC are EXACT BIGINT arithmetic on
    // micro-quantized centroids, so the oracle replays the entire
    // algorithm with zero float folds. Recall vs exact v1 asserted in
    // SimilaritySpec.
    q("v9_ann_pq_topk", pqSql(k = 5, cand = 100)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      PqAnn.topK(corpus = e.select("vec_id", "embedding"), queries = probes(e),
          k = 5, cand = 100)
        .orderBy("query_id", "rnk")
    },

    // FILTERED ANN: top-k cosine among vectors whose label is
    // in {0, 3, 6, 9} — the vector-search-plus-WHERE-clause shape every
    // retrieval stack needs (RAG over one tenant/language/license).
    // POST-filter design (IvfAnn.topKFiltered): the IVF index stays
    // predicate-agnostic; probed candidates semi-join the allowed id
    // set BEFORE the exact re-rank. nProbe raised 6 → 8 vs v4: the
    // predicate keeps ~40% of candidates, and a wider probe is the
    // standard recall lever under selective filters. Oracle replays
    // quantizer + probing + the same candidate predicate.
    q("v10_ann_filtered",
      ivfSql(nCells = 16, nProbe = 8, k = 5,
             candPredicate = Some("ce.label % 3 = 0"))) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      IvfAnn.topKFiltered(corpus = e.select("vec_id", "embedding"), queries = probes(e),
          allowed = e.filter(col("label") % 3 === 0).select("vec_id"),
          k = 5, nCells = 16, nProbe = 8)
        .orderBy("query_id", "rnk")
    },

    // IVF-PQ — the production-shape index (FAISS IVFPQ): the
    // coarse quantizer prunes to nProbe cells AND product quantization
    // compresses each vector's RESIDUAL (vector − cell centroid) to a
    // 64-bit code scored by ADC lookups. Residual encoding is the point:
    // after the centroid is subtracted the codebooks only cover the
    // within-cell spread, so the same code budget quantizes a tighter
    // distribution than flat PQ (v9). See operators.IvfPqAnn for the
    // 100 TB shape; every IVF-PQ-specific step is exact BIGINT
    // arithmetic, so the oracle replays coarse fit → assignment →
    // residuals → residual Lloyd → encode → probe → ADC bit-for-bit.
    q("v11_ann_ivfpq", ivfpqSql(k = 5, cand = 200)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      IvfPqAnn.topK(corpus = e.select("vec_id", "embedding"), queries = probes(e),
          k = 5, cand = 200)
        .orderBy("query_id", "rnk")
    },

    // v11's standing-index twin (the v8 pattern applied to IVF-PQ):
    // the index — 8-byte codes partitioned by cell, coarse
    // centroids, residual codebooks — is built ONCE per corpus
    // (IvfPqAnn.ensureIndex) and each query batch pays only probe +
    // pruned code scan + ADC + re-rank; the two deterministic Lloyd
    // fits are NOT re-run per batch. Identical results to v11 (the
    // quantizers are deterministic), so the SAME oracle replays it;
    // IvfPqAnnSpec asserts v11 ≡ v12 and the partition-pruned scan.
    q("v12_ann_ivfpq_persisted", ivfpqSql(k = 5, cand = 200)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivfpq", dir)
      IvfPqAnn.ensureIndex(e.select("vec_id", "embedding"), path)
      IvfPqAnn.topKFromIndex(s, path, queries = probes(e), k = 5, cand = 200)
        .orderBy("query_id", "rnk")
    },

    // v13 — ANN recall REPORT: the evaluation harness every
    // retrieval stack runs before trusting an index — per-query
    // recall@5 of the IVF-PQ index (v11's exact algorithm) against the
    // brute-force ground truth (v1's exact top-5), as a first-class
    // oracle-checked query. recall_bp is exact integer basis points
    // (n_hit·2000 for k=5): no float division, so DuckDB replays every
    // value — both sides of the comparison are already deterministic
    // replays, and the report composes them with one (query, neighbor)
    // left join. Scale shape: ground truth is the one-pass broadcast
    // top-k (v1's plan — at 100 TB you'd sample queries, not corpus);
    // the join/agg run on 8×5 rows. SimilaritySpec's recall floor
    // (≥ 0.6) is asserted on the SAME numbers this query publishes.
    //
    // The approx side probes v12's STANDING index, the production form
    // (ensureIndex builds once per corpus and persists; later runs pay
    // probe + pruned code scan + ADC only), instead of re-running both
    // Lloyd fits per evaluation. Identical output — the quantizers are
    // deterministic, so
    // topKFromIndex ≡ topK row-for-row (IvfPqAnnSpec asserts v11 ≡
    // v12) and the SAME oracle replays it. This is also how the
    // harness runs at 100 TB: recall is evaluated against the index
    // you actually serve, not a rebuilt twin.
    q("v13_ann_recall",
      s"""WITH exact_r AS (
         |  SELECT query_id, neighbor_id FROM ($bruteTopkSql)),
         |approx_r AS (
         |  SELECT query_id, neighbor_id FROM (${ivfpqSql(k = 5, cand = 200)}))
         |SELECT e.query_id,
         |       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
         |       CAST(5 AS BIGINT) AS k,
         |       CAST(count(a.neighbor_id) * 2000 AS BIGINT) AS recall_bp
         |FROM exact_r e LEFT JOIN approx_r a
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val exact = bruteTopK(e, 5).select("query_id", "neighbor_id")
      val idxPath = graft.Caches.scratch("ivfpq", dir)
      IvfPqAnn.ensureIndex(e.select("vec_id", "embedding"), idxPath)
      val approx = IvfPqAnn.topKFromIndex(s, idxPath, queries = probes(e), k = 5, cand = 200)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("query_id"), col("n_hit"), lit(5L).as("k"),
                (col("n_hit") * 2000).as("recall_bp"))
        .orderBy("query_id")
    },

    // v14 — HARD-NEGATIVE MINING: the contrastive-training
    // data op every retrieval/embedding pipeline runs — for each query,
    // mine the most-confusable NON-positive candidates as training
    // negatives. Composition of standing machinery, no new plumbing:
    // candidates come from v12's persisted IVF-PQ index (probe + pruned
    // code scan + exact top-25 re-rank), then the POSITIVE BAND is
    // dropped — the top-1 and anything within 2% of it (cos > 0.98 x
    // top1: near-ties are the same answer restated, not negatives; the
    // band is data-relative because absolute near-dup cutoffs are dead
    // code on corpora whose max cosine sits at ~0.4) — and the hardest
    // 5 survivors per query are emitted rank-ordered. Every arithmetic
    // step (ADC candidates, exact rounded cosine, the 0.98 multiply,
    // ranking) replays in DuckDB, so the mined negative SET is
    // hash-checked, not spot-checked. Scale shape: mining rides the
    // standing index like any query batch (the x12 random-negative
    // sampler is the cheap contrast; this is the ANN-mined hard tier).
    q("v14_hard_negatives",
      s"""WITH cands AS (
         |  SELECT query_id, neighbor_id AS neg_id, cos
         |  FROM (${ivfpqSql(k = 25, cand = 200)})),
         |t1 AS (SELECT query_id, max(cos) AS top1 FROM cands GROUP BY 1),
         |hard AS (
         |  SELECT c.query_id, c.neg_id, c.cos,
         |         row_number() OVER (PARTITION BY c.query_id
         |                            ORDER BY c.cos DESC, c.neg_id) AS rnk
         |  FROM cands c JOIN t1 USING (query_id)
         |  WHERE c.cos <= 0.98 * t1.top1)
         |SELECT query_id, neg_id, cos, rnk
         |FROM hard WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val idxPath = graft.Caches.scratch("ivfpq", dir)
      IvfPqAnn.ensureIndex(e.select("vec_id", "embedding"), idxPath)
      val cands = IvfPqAnn.topKFromIndex(s, idxPath, queries = probes(e), k = 25, cand = 200)
        .select(col("query_id"), col("neighbor_id").as("neg_id"), col("cos"))
      val wq = Window.partitionBy("query_id")
      cands
        .withColumn("top1", max("cos").over(wq))
        .filter(col("cos") <= col("top1") * 0.98)
        .withColumn("rnk", row_number().over(
          wq.orderBy(desc("cos"), col("neg_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select("query_id", "neg_id", "cos", "rnk")
        .orderBy("query_id", "rnk")
    },

    // v15 — EXACT RANGE SEARCH: every corpus vector with
    // cos ≥ 0.3 of each query — the radius-query API top-k cannot
    // express (dedup sweeps, "all documents similar enough", threshold
    // retrieval). Unlike v3-v14 this is NOT approximate: on unit
    // vectors cos ≥ τ is a metric ball (‖q̂−x̂‖ ≤ √(2−2τ)), so the
    // standing IVF index's cells prune by the triangle-inequality
    // ball-overlap test (per-cell normalized anchor + coverage radius)
    // and the pruned scan provably contains every answer — which is
    // why the BRUTE-FORCE SQL is the oracle, not a quantizer replay:
    // the results must be identical, and the hash gate checks exactly
    // that. On THIS spread corpus (max cos ~0.4) any result-bearing τ
    // is a ball that overlaps every cell, so the bound is sound but
    // non-binding here; SimilaritySpec proves it BITES on the geometry
    // range search exists for — tight clusters at τ=0.9, the dedup
    // sweep — scanning a strict subset of cells with brute-equal
    // results. Scale shape: cell stats are nCells rows (persisted with
    // the index at 100 TB), the bound test broadcasts, and corpus work
    // is only the overlapped cells.
    q("v15_range_search",
      s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |       round(${sqlDot("q.embedding", "c.embedding")}
         |         / (${sqlNorm("q.embedding")} * ${sqlNorm("c.embedding")}), 6) AS cos
         |FROM embeddings q JOIN embeddings c
         |  ON q.$ProbeSql AND c.vec_id <> q.vec_id
         |WHERE ${sqlDot("q.embedding", "c.embedding")}
         |      / (${sqlNorm("q.embedding")} * ${sqlNorm("c.embedding")}) >= 0.3
         |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivf", dir)
      IvfAnn.ensureIndex(e.select("vec_id", "embedding"), nCells = 16, path = path)
      IvfAnn.rangeSearch(s, path, queries = probes(e), minCos = 0.3)
        .orderBy("query_id", "neighbor_id")
    },

    // v16 — INCREMENTAL INDEX UPDATE: the standing-index
    // lifecycle's missing operation (build → probe → range → UPDATE),
    // the ANN analog of d8's incremental LSH. The quantizer fits on the
    // BASE corpus only (vec_id % 5 ≠ 0); the delta (every 5th vector)
    // is absorbed by IvfAnn.updateIndex — one map-only assignment
    // against the FROZEN broadcast centroids + a partitioned append +
    // an nCells-row cellstats radius merge; cost ∝ |delta|, the
    // standing corpus is never reassigned or rescanned. The registered
    // result is a top-k search over the UPDATED index, so delta vectors
    // must surface as neighbors; the oracle replays the fit-on-base /
    // assign-everything split exactly (ivfSql's fitWhere), making the
    // frozen-quantizer contract itself hash-gated. Exactness of v15's
    // range search under update (merged radii stay sound) is spec-gated
    // in SimilaritySpec.
    q("v16_ann_index_update",
      ivfSql(nCells = 16, nProbe = 6, k = 5,
             fitWhere = Some("vec_id % 5 <> 0"))) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivfupd", dir)
      IvfAnn.ensureUpdatedIndex(
        base = e.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding"),
        delta = e.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
        nCells = 16, path = path)
      IvfAnn.topKFromIndex(s, path, queries = probes(e), k = 5, nProbe = 6)
        .orderBy("query_id", "rnk")
    },

    // v17 — QUANTIZER DRIFT MONITOR: the number that turns
    // v16's frozen-quantizer caveat ("refit when the delta distribution
    // diverges — that is a rebuild, not an update") into an operational
    // trigger. Over the v16 split (fit on vec_id % 5 ≠ 0, delta = the
    // rest) it reports, per part: mean distance-to-assigned-centroid
    // (exact nano-unit registers, so the mean is order-independent
    // BIGINT math), the max cell-occupancy share (assignment skew — a
    // drifted delta piles into few cells), and qerr_ratio =
    // delta-mean / base-mean, the refit trigger (threshold 1.5 — the
    // measured margins are in SCALING.md; DriftSpec shows a shifted
    // delta tripping it and a clean one not). One map-only assignment
    // pass + two tiny aggregates — at 100 TB this rides the SAME pass
    // updateIndex already makes, so monitoring is free at the margin.
    // The oracle replays fit/assign via Lloyd.fitSql and the identical
    // integer registers, so the monitor itself is hash-gated.
    q("v17_quantizer_drift",
      ivfDriftSql(nCells = 16, fitWhere = Some("vec_id % 5 <> 0"))) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // the standing v16 index path: drift is measured against the SAME
      // frozen centroids the update lifecycle serves queries from
      val path = graft.Caches.scratch("ivfupd", dir)
      IvfAnn.ensureUpdatedIndex(
        base = e.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding"),
        delta = e.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
        nCells = 16, path = path)
      val cents = Tables.parquet(s, s"$path/centroids").orderBy("cell").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      val p = IvfAnn
        .assignWithDist(e.select("vec_id", "embedding"), cents)
        .withColumn("part",
          when(col("vec_id") % 5 === 0, "delta").otherwise("base"))
      // ONE corpus pass: the (part, cell) rollup is ≤ 2·nCells rows and
      // every published number folds from it (sums of longs re-associate
      // exactly, so the two-level sum equals the oracle's flat sum);
      // materialized so agg/occ/ratio don't each re-scan the corpus
      val pc = graft.Caches.checkpoint(p.groupBy("part", "cell")
        .agg(count(lit(1)).as("cn"), sum("qerr_nano").as("cs")))
      val agg = pc.groupBy("part")
        .agg(sum("cn").as("n"), sum("cs").as("s"))
      val occ = pc.groupBy("part").agg(max("cn").as("mx"))
      val bb = agg.filter(col("part") === "base")
        .select(col("n").as("bn"), col("s").as("bs"))
      agg.join(occ, "part").crossJoin(broadcast(bb))
        .select(col("part"), col("n").as("n_vecs"),
          round(col("s").cast("double")
            / (col("n").cast("double") * lit(1000000000.0)), 6).as("mean_qerr"),
          round(col("mx").cast("double") / col("n").cast("double"), 6)
            .as("max_cell_share"),
          round((col("s").cast("double") * col("bn").cast("double"))
            / (col("bs").cast("double") * col("n").cast("double")), 6)
            .as("qerr_ratio"))
        .orderBy("part")
    },

    // v18 — DELETE-THEN-SEARCH: the lifecycle's departure
    // half. The index is built over the FULL corpus, then every
    // vec_id % 7 = 3 is tombstoned (IvfAnn.deleteFromIndex — an
    // O(|delete|) parquet append, the partitioned layout untouched) and
    // the registered result is a top-k search over the tombstone-aware
    // path: a deleted vector must never surface as a neighbor, and must
    // not displace live vectors from the top k (the anti-join runs
    // BEFORE ranking). The oracle replays the identical contract —
    // fit + assignment over everything (deletes never refit), candidate
    // exclusion by the tombstone predicate — so tombstone-aware search
    // is itself hash-gated. Compaction equivalence (same results, fewer
    // files, radii recomputed not merged) is spec-gated in
    // IvfLifecycleSpec.
    q("v18_ann_delete_search",
      ivfSql(nCells = 16, nProbe = 6, k = 5,
             deleteWhere = Some("a.vec_id % 7 = 3"))) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivfdel", dir)
      IvfAnn.ensureDeletedIndex(
        corpus = e.select("vec_id", "embedding"),
        deleteIds = e.filter(col("vec_id") % 7 === 3).select("vec_id"),
        nCells = 16, path = path)
      IvfAnn.topKFromIndex(s, path, queries = probes(e), k = 5, nProbe = 6)
        .orderBy("query_id", "rnk")
    },

    // v19 — IVF-PQ DELETE-THEN-SEARCH: v18's tombstone
    // contract applied to the compressed standing index (v12's layout).
    // Tombstoned codes drop BEFORE ADC scoring, so a deleted vector
    // neither surfaces nor consumes the cand re-rank budget — the
    // subtlety v18 doesn't exercise (its anti-join runs on raw vectors;
    // here a stale code could silently crowd out a live candidate at
    // the cand cut even if filtered later). The oracle excludes the
    // same ids from the adc CTE, so the budget semantics are
    // hash-gated too.
    q("v19_ann_ivfpq_delete",
      ivfpqSql(k = 5, cand = 200, deleteWhere = Some("af0.vec_id % 7 = 3"))) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val path = graft.Caches.scratch("ivfpqdel", dir)
      IvfPqAnn.ensureDeletedIndex(
        corpus = e.select("vec_id", "embedding"),
        deleteIds = e.filter(col("vec_id") % 7 === 3).select("vec_id"),
        path = path)
      IvfPqAnn.topKFromIndex(s, path, queries = probes(e), k = 5, cand = 200)
        .orderBy("query_id", "rnk")
    },

    // SemDeDup-style semantic dedup: assign every vector to its nearest
    // centroid by cosine, then drop any vector that has a smaller-id
    // within-cluster neighbor with cosine >= 0.35, reporting the kept
    // canonical per dropped vector. Centroids here are the deterministic
    // vec_id < 10 slice so the DuckDB oracle can replay the assignment
    // exactly — at scale you plug KMeans centroids (operators.IvfAnn
    // trains one) without changing the dataflow. Scale shape: the
    // centroid table broadcasts (k rows), assignment is map-only over
    // the corpus scan, and the pair join shuffles on the cluster key —
    // in SemDeDup k grows ~sqrt(N), so cluster keys are high-cardinality
    // and per-cluster work stays small-quadratic by design (unlike a
    // fixed-label self-join, which is why v2 needs its chunk split).
    q("v6_semdedup",
      s"""WITH assign AS (
         |  SELECT vec_id, embedding, cluster FROM (
         |    SELECT v.vec_id, v.embedding, c.vec_id AS cluster,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${sqlDot("v.embedding", "c.embedding")}
         |               / (${sqlNorm("v.embedding")} * ${sqlNorm("c.embedding")}) DESC,
         |               c.vec_id) AS rn
         |    FROM embeddings v JOIN embeddings c ON c.vec_id < 10 AND v.vec_id >= 10)
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cluster,
         |         ${sqlDot("a.embedding", "b.embedding")}
         |           / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) AS cos
         |  FROM assign a JOIN assign b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT vb AS dropped_id, min(va) AS canonical_id, min(cluster) AS cluster
         |FROM pairs WHERE cos >= 0.35 GROUP BY vb ORDER BY dropped_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("cluster"), col("embedding").as("ce"))
      // argmax by (cos desc, cluster asc) as a max_by aggregate, NOT a
      // row_number window: partial aggregation collapses the k-per-point
      // expansion map-side, so the exchange moves N rows instead of N*k
      val assign = e.filter(col("vec_id") >= 10)
        .join(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cluster"),
          cosineSim(col("embedding"), col("ce")).as("cos_c"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("cluster"), col("embedding")),
                    struct(col("cos_c"), -col("cluster"))).as("best"))
        .select(col("vec_id"), col("best.embedding").as("embedding"),
                col("best.cluster").as("cluster"))
      assign.as("a")
        .join(assign.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vb"), col("a.vec_id").as("va"),
          col("a.cluster").as("cluster"),
          cosineSim(col("a.embedding"), col("b.embedding")).as("cos"))
        .filter(col("cos") >= 0.35)
        .groupBy(col("vb").as("dropped_id"))
        .agg(min("va").as("canonical_id"), min("cluster").as("cluster"))
        .orderBy("dropped_id")
    },

    // MMR diverse top-k (operators.Mmr): relevance = cosine to the
    // vec_id-0 probe; each greedy round is one distributed TakeOrdered
    // with the selected vectors as plan literals. The greedy argmax
    // chain IS SQL-expressible — with per-round scores rounded to 6 dp
    // (see Mmr scaladoc) the trajectory is engine-reproducible, so a
    // recursive CTE over the precomputed cosine matrix replays the loop
    // step for step (same trick as d5's recursive-CTE oracle). The n²
    // pairs CTE exists ONLY in the oracle; the engine ships ≤ k picked
    // vectors as plan literals per round.
    q("v7_mmr_topk",
      s"""WITH RECURSIVE
         |rel AS (
         |  SELECT c.vec_id,
         |         ${sqlDot("c.embedding", "q.embedding")}
         |           / (${sqlNorm("c.embedding")} * ${sqlNorm("q.embedding")}) AS rel
         |  FROM embeddings c JOIN embeddings q ON q.vec_id = 0
         |  WHERE c.vec_id > 0),
         |pairs AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         ${sqlDot("a.embedding", "b.embedding")}
         |           / (${sqlNorm("a.embedding")} * ${sqlNorm("b.embedding")}) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id > 0 AND b.vec_id > 0 AND a.vec_id <> b.vec_id),
         |sel AS (
         |  (SELECT 1 AS rnk, vec_id, round(rel, 6) AS mmr_score, [vec_id] AS picked
         |   FROM rel ORDER BY round(rel, 6) DESC, vec_id LIMIT 1)
         |  UNION ALL
         |  SELECT s.rnk + 1, c.vec_id, c.score, list_append(s.picked, c.vec_id)
         |  FROM sel s CROSS JOIN LATERAL (
         |    SELECT r.vec_id,
         |           round(r.rel - 0.7 * (SELECT max(p.cos) FROM pairs p
         |             WHERE p.ia = r.vec_id AND list_contains(s.picked, p.ib)), 6) AS score
         |    FROM rel r WHERE NOT list_contains(s.picked, r.vec_id)
         |    ORDER BY score DESC, r.vec_id LIMIT 1) c
         |  WHERE s.rnk < 8)
         |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, mmr_score
         |FROM sel ORDER BY rnk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val corpus = e.filter(col("vec_id") > 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("embedding"),
          cosineSim(col("embedding"), col("qe")).as("rel"))
      graft.operators.Mmr.select(corpus, col("rel"), col("embedding"),
          col("vec_id"), k = 8, lambda = 0.7,
          sim = (a, b) => cosineSim(a, b))
        .orderBy("rnk")
    },
  )
}
