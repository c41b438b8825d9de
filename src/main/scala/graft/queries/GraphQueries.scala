package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef._
import graft.Tables

/** Iterative / combinatorial graph algorithms over the order graph — the
  * family that complements `d5_dedup_clusters`' label propagation with the
  * graph primitives a large-scale curation pipeline runs: PageRank-style
  * node scoring (source authority weighting before sampling), triangle
  * counting (cluster-quality / community density diagnostics on near-dup
  * graphs), deterministic random walks (the sampling primitive under
  * node2vec/DeepWalk-style graph embeddings), bounded k-core peeling
  * (fringe/boilerplate pruning), and link prediction by the
  * resource-allocation index (graph-completion candidate scoring).
  *
  * The graph: the supplier–part incidence from `lineitem`
  * (who supplied what), namespaced into one node-id space
  * (supplier s → 2s, part p → 2p+1 — bipartite, so the two never
  * collide) and symmetrized into a directed edge list. All three queries
  * share this edge builder, and all three are exact-integer so the DuckDB
  * oracle replays them bit-for-bit — no float fold-order risk in any
  * cross-row aggregation.
  *
  * 100 TB shape: the edge list is built once (distinct = one shuffle on
  * (src,dst)) and persisted pre-partitioned; each PageRank iteration is a
  * shuffle of O(|E|) contribution rows on dst — the canonical join-agg
  * PageRank loop, where the edge side's partitioning is REUSED across
  * iterations so only the (much smaller) rank table moves. Triangle
  * counting orients every edge (u < v) so each wedge and each triangle is
  * enumerated exactly once; the walk loop moves O(#walks) rows per step
  * with a map-side min_by — the corpus-scale edge table never re-shuffles.
  */
object GraphQueries {

  /** Fixed-point rank scale: 1 rank unit = 1e-9. Integer division is
    * truncation in both engines for these (all-positive) values, so the
    * iteration is portable exactly — no double sums to mirror. */
  private val Scale = 1000000000L

  /** DOULION keep-probability p = 1/4 (the deterministic hash keeps a
    * pair iff `(u·1103515245 + v·12345) mod 4 = 0`); a triangle survives
    * iff all three edges do, so the unbiased count estimator multiplies
    * the sampled count by 1/p³ = 64. */
  private val InvP3 = 64L

  /** Write-once parquet CHECKPOINTS of the two shared graph frames (the
    * s8 stage-checkpoint pattern, [[graft.Caches.once]]): the
    * symmetrized supplier↔part edge list (g1/g3) and the DOULION-sampled
    * part co-purchase pairs (g2/g4/g5/g6). Production shape at 100 TB:
    * the edge list is extracted from the fact table ONCE and every
    * downstream graph job reads the standing columnar copy — rebuilding
    * the distinct/sample per algorithm re-pays the widest shuffle in the
    * family each time. Content is a pure deterministic function of
    * (builder version, sfDir), so the oracle — which recomputes from
    * `lineitem` — replays the same rows. */
  private val CkptVersion = "v1"

  private def checkpointed(s: SparkSession, dir: String, name: String)
                          (build: => DataFrame): DataFrame = {
    val path = graft.Caches.scratch(s"graph_${CkptVersion}_$name", dir)
    graft.Caches.once(path, "graph checkpoint") {
      build.write.mode("overwrite").parquet(path)
    }
    Tables.parquet(s, path)
  }

  /** Symmetrized, deduplicated supplier↔part edge list (checkpointed). */
  private def edges(s: SparkSession, dir: String): DataFrame =
    checkpointed(s, dir, "edges") {
      val li = Tables.load(s, dir, "lineitem")
      val e0 = li.select(
          (col("l_suppkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    }

  /** The ONE DOULION-sampled co-purchase pair builder shared by
    * g2/g4/g5/g6 (checkpointed): parts in the same order are adjacent,
    * pairs oriented u < v, kept iff the portable integer hash says so
    * (p = 1/4). The sampling constants live HERE only — the three wedge
    * consumers must describe the same subgraph or their outputs silently
    * diverge. */
  private def doulionPairs(s: SparkSession, dir: String): DataFrame =
    checkpointed(s, dir, "pairs") {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
      li.toDF("ok", "u").join(li.toDF("ok", "v"), Seq("ok"))
        .where(col("u") < col("v"))
        .where((col("u") * 1103515245L + col("v") * 12345L) % 4 === 0)
        .select("u", "v").distinct()
    }

  private val EdgesSql =
    """e0 AS (
      |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
      |                  CAST(l_partkey AS BIGINT) * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // G1 — PageRank, 3 unrolled iterations, damping 0.85, in FIXED-POINT
    // integer arithmetic: ranks are BIGINT nano-units, a node's
    // out-contribution is `pr div outdeg` (exact truncating division),
    // and the update is  pr' = 0.15·Scale + (85·Σcontrib) div 100  — every
    // step order-independent, so Spark's partial-agg shuffle and DuckDB's
    // single-threaded sum produce identical bits. (A production run at
    // 100 TB would use doubles and tolerate ulp drift; the fixed-point
    // form is the oracle-of-record and differs from the double form by
    // < outdeg nano-units per node per iteration.)
    // Scale shape: `e`+outdeg computed once; per iteration ONE shuffle of
    // contribution partial sums on dst (map-side combine first), then a
    // left join back to the node set for teleport-only nodes. The rank
    // table is O(|V|) — the small side — and the 3-iteration unroll keeps
    // the whole thing one Catalyst plan (no driver-side collect).
    q("g1_pagerank",
      s"""WITH $EdgesSql,
        |n AS (SELECT DISTINCT src AS node_id FROM e),
        |d AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node_id, CAST($Scale AS BIGINT) AS pr FROM n),
        |c1 AS (SELECT e.dst AS node_id, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS contrib
        |       FROM e JOIN r0 r ON e.src = r.node_id JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node_id,
        |              CAST(${15 * Scale / 100} + (85 * COALESCE(c1.contrib, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c1 USING (node_id)),
        |c2 AS (SELECT e.dst AS node_id, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS contrib
        |       FROM e JOIN r1 r ON e.src = r.node_id JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node_id,
        |              CAST(${15 * Scale / 100} + (85 * COALESCE(c2.contrib, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c2 USING (node_id)),
        |c3 AS (SELECT e.dst AS node_id, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS contrib
        |       FROM e JOIN r2 r ON e.src = r.node_id JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node_id,
        |              CAST(${15 * Scale / 100} + (85 * COALESCE(c3.contrib, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c3 USING (node_id))
        |SELECT node_id, pr FROM r3 ORDER BY node_id""".stripMargin) { (s, dir) =>
      // pinned, not checkpointed: the three iterations re-read the edge
      // list from the pin, and the LAZY plan keeps the full lineage
      // visible to PlanHygieneSpec / EXPLAIN.md. The returned plan reads
      // every pin below, so they live until Caches.reset.
      val e = graft.Caches.pin(edges(s, dir))
      // node set + degree-annotated edge list pinned across the three
      // iterations: each is referenced once PER iteration and an
      // unpinned reference re-ran its distinct/agg-join over `e` every
      // time (2 extra aggregates + a join per step) — the standard
      // iterative-PageRank persist (GraphX persists exactly these).
      val n = graft.Caches.pin(e.select(col("src").as("node_id")).distinct())
      val withDeg = graft.Caches.pin(e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"))
      var r = n.withColumn("pr", lit(Scale))
      for (_ <- 1 to 3) {
        // broadcast the RANK side (round 14): it is O(|V|) (2.1k rows
        // here) while Catalyst picked BuildLeft = the full degree-
        // annotated EDGE list (plan: BroadcastExchange of (src, dst,
        // outdeg) per iteration — a |E|-row hash relation built three
        // times). The rank table is the canonical broadcast side of a
        // PageRank step; values unchanged.
        val contrib = withDeg
          .join(broadcast(r.withColumnRenamed("node_id", "src")), "src")
          .select(col("dst").as("node_id"), expr("pr div outdeg").as("c"))
          .groupBy("node_id").agg(sum("c").as("contrib"))
        r = n.join(contrib, Seq("node_id"), "left")
          .select(col("node_id"),
            (lit(15 * Scale / 100) +
              expr("(85 * coalesce(contrib, 0L)) div 100")).as("pr"))
      }
      r.orderBy("node_id")
    },

    // G2 — triangle participation counts on the part co-purchase graph
    // (parts appearing in the same order are adjacent). Two scale levers:
    //  (1) every undirected edge is ORIENTED u < v, so the wedge join
    //      (u<v<w) enumerates each triangle exactly once — the classic
    //      "forward" algorithm; at 100 TB the orientation is by DEGREE
    //      (low-degree endpoint enumerates), bounding wedge fan-out by
    //      the arboricity instead of the max degree;
    //  (2) DOULION edge sparsification: keep each edge iff a portable
    //      integer hash says so (p = 1/4), count EXACTLY on the sampled
    //      subgraph — wedge volume drops p² (16×) and the unbiased
    //      full-graph estimate is count/p³ (global) or count/p² with
    //      p·deg correction (per-node); the deterministic hash makes the
    //      subgraph — and thus the oracle — reproducible, where DOULION's
    //      coin flips would not be. Measured here: 43 s → 3.4 s at sf0.1.
    // Per-order pair generation is bounded: C(lines,2) per order with ~4
    // lines/order, so the self-join never blows up; the sample filter
    // applies AT pair formation, before the distinct's shuffle.
    // Output: top-50 parts by sampled triangle count (deterministic tie)
    // PLUS the unbiased full-graph estimate est_tri = n_tri / p³ =
    // n_tri · 64 (each triangle survives the p = 1/4 edge sampling with
    // probability p³), so a user can't mistake the sampled count for
    // the estimate.
    q("g2_triangle_count",
      s"""WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE (a.l_partkey * 1103515245 + b.l_partkey * 12345) % 4 = 0),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.u = e1.v
        |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pernode AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT a AS node FROM tri UNION ALL
        |    SELECT b AS node FROM tri UNION ALL
        |    SELECT c AS node FROM tri)
        |  GROUP BY node)
        |SELECT node, n_tri, CAST(n_tri * $InvP3 AS BIGINT) AS est_tri
        |FROM pernode
        |ORDER BY n_tri DESC, node LIMIT 50""".stripMargin) { (s, dir) =>
      val pairs = doulionPairs(s, dir)
      val e1 = pairs.toDF("a", "b")
      val e2 = pairs.toDF("b", "c")
      val e3 = pairs.toDF("a", "c")
      val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
      // one evaluation of the triangle enumeration (round 14): the
      // previous 3-way union re-planned the whole 2-join wedge subtree
      // once PER BRANCH (three BroadcastHashJoin pairs in the before-
      // plan — plans/r14/g2_triangle_count_before.txt); exploding
      // array(a, b, c) emits the same three node rows per triangle from
      // a single pass. Identical multiset of rows ⇒ identical counts.
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
        .withColumn("est_tri", col("n_tri") * InvP3)
      perNode.orderBy(desc("n_tri"), col("node")).limit(50)
    },

    // G3 — deterministic "random" walks: from the 8 smallest supplier
    // nodes, 4 steps; at node x (walk w, step i) the next hop is the
    // neighbor y minimizing md5(w|i|x|y) — node2vec/DeepWalk's sampling
    // primitive with a portable hash in place of the RNG, so the oracle
    // replays the exact paths. Each step is ONE equi-join of the
    // O(#walks) frontier against the edge list plus a map-side min_by —
    // the edge table is the build side once and never re-shuffles per
    // step; frontier rows are the only thing that moves. At 100 TB with
    // millions of walks this is the standard frontier-join loop (same
    // shape as d5's label propagation), cost ∝ Σ deg(frontier).
    q("g3_seeded_walks",
      s"""WITH $EdgesSql,
        |starts AS (
        |  SELECT src AS start FROM (SELECT DISTINCT src FROM e WHERE src % 2 = 0)
        |  ORDER BY src LIMIT 8),
        |w0 AS (SELECT start, 0 AS step, start AS node FROM starts),
        |s1 AS (SELECT w.start, 1 AS step,
        |              min_by(e.dst, md5(concat_ws('|', w.start, 1, w.node, e.dst))) AS node
        |       FROM w0 w JOIN e ON e.src = w.node GROUP BY w.start),
        |s2 AS (SELECT w.start, 2 AS step,
        |              min_by(e.dst, md5(concat_ws('|', w.start, 2, w.node, e.dst))) AS node
        |       FROM s1 w JOIN e ON e.src = w.node GROUP BY w.start),
        |s3 AS (SELECT w.start, 3 AS step,
        |              min_by(e.dst, md5(concat_ws('|', w.start, 3, w.node, e.dst))) AS node
        |       FROM s2 w JOIN e ON e.src = w.node GROUP BY w.start),
        |s4 AS (SELECT w.start, 4 AS step,
        |              min_by(e.dst, md5(concat_ws('|', w.start, 4, w.node, e.dst))) AS node
        |       FROM s3 w JOIN e ON e.src = w.node GROUP BY w.start)
        |SELECT start, step, node FROM w0
        |UNION ALL SELECT start, step, node FROM s1
        |UNION ALL SELECT start, step, node FROM s2
        |UNION ALL SELECT start, step, node FROM s3
        |UNION ALL SELECT start, step, node FROM s4
        |ORDER BY start, step""".stripMargin) { (s, dir) =>
      // the returned plan reads e and every step, so they stay pinned
      // until Caches.reset
      val e = graft.Caches.pin(edges(s, dir))
      val starts = e.where(col("src") % 2 === 0)
        .select(col("src").as("start")).distinct()
        .orderBy("start").limit(8)
      var frontier = starts
        .select(col("start"), lit(0).as("step"), col("start").as("node"))
      var path = frontier
      for (i <- 1 to 4) {
        // broadcast the FRONTIER side (round 14): ≤ 8 start rows per
        // step, while Catalyst's size estimate put the (src,dst)-pruned
        // EDGE side under the auto-broadcast threshold — each step was
        // building a 2M-row hash relation of the whole edge list
        // (profile: 8 broadcast-build stages at 2-3.5 s CPU each, the
        // query's entire cost). With the 8-row side broadcast, e streams
        // map-side from its pin. Same rows either way. Each ≤8-row step
        // is pinned too: step i's subtree is consumed TWICE — by step
        // i+1's chain and by the final union — and without the pin each
        // consumer re-ran the full e-scan + probe + min_by (profile: 8
        // heavy map stages for 4 steps).
        frontier = graft.Caches.pin(broadcast(frontier)
          .join(e, frontier("node") === e("src"))
          .withColumn("h",
            md5(concat_ws("|", col("start"), lit(i), col("node"), col("dst"))))
          .groupBy("start")
          .agg(expr("min_by(dst, h)").as("node"))
          .select(col("start"), lit(i).as("step"), col("node")))
        path = path.unionByName(frontier)
      }
      path.orderBy("start", "step")
    },

    // G4 — bounded k-core peeling (K=18, 3 unrolled rounds) on the
    // DOULION-sampled part co-purchase graph (g2's graph — its ~20-edge
    // mean degree is scale-INVARIANT, so the peel bites at every
    // decade): each round drops every node whose surviving degree is
    // < K, then prunes edges to surviving endpoints. The 3-round cut is
    // an UPPER approximation of the true 18-core (nodes the full
    // fixpoint would drop can survive a bounded peel — never the
    // reverse); production runs the same loop to fixpoint with a
    // checkpoint every few rounds (d5's pattern). Web-curation use:
    // low-core nodes are the isolated/spam fringe, high-core the
    // boilerplate clique zone — both standard prune targets.
    // Scale shape per round: one partial-aggregated degree count + two
    // semi-joins (edges → surviving endpoints) — no wedges, no windows;
    // cost is O(|E|) per round with equi-join shuffles only.
    q("g4_kcore",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE (a.l_partkey * 1103515245 + b.l_partkey * 12345) % 4 = 0),
        |e0 AS (SELECT u AS src, v AS dst FROM pairs
        |       UNION ALL SELECT v AS src, u AS dst FROM pairs),
        |e1 AS (SELECT src, dst FROM e0 WHERE src IN (
        |         SELECT src FROM e0 GROUP BY src HAVING count(*) >= 18)
        |       AND dst IN (
        |         SELECT src FROM e0 GROUP BY src HAVING count(*) >= 18)),
        |e2 AS (SELECT src, dst FROM e1 WHERE src IN (
        |         SELECT src FROM e1 GROUP BY src HAVING count(*) >= 18)
        |       AND dst IN (
        |         SELECT src FROM e1 GROUP BY src HAVING count(*) >= 18)),
        |e3 AS (SELECT src, dst FROM e2 WHERE src IN (
        |         SELECT src FROM e2 GROUP BY src HAVING count(*) >= 18)
        |       AND dst IN (
        |         SELECT src FROM e2 GROUP BY src HAVING count(*) >= 18))
        |SELECT src AS node_id, CAST(count(*) AS BIGINT) AS core_deg
        |FROM e3 GROUP BY src HAVING count(*) >= 18
        |ORDER BY node_id""".stripMargin) { (s, dir) =>
      val pairs = doulionPairs(s, dir)
      // the returned plan reads every round's pin, so they live until
      // Caches.reset
      var e = graft.Caches.pin(pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(pairs.select(col("v").as("src"), col("u").as("dst"))))
      for (_ <- 1 to 3) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 18).select("src")
        // pin each round's survivor set: round r+1 references round r
        // TWICE (degree count + endpoint filter), so an unpinned chain
        // re-evaluates 2^r times (measured: 9.1 s -> 4.4 s at sf0.1)
        e = graft.Caches.pin(e.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst"))
      }
      e.groupBy(col("src").as("node_id"))
        .agg(count(lit(1)).as("core_deg"))
        .where(col("core_deg") >= 18)
        .orderBy("node_id")
    },

    // G5 — link prediction by the resource-allocation index: for every
    // non-adjacent ordered pair (u < w) with at least one common
    // neighbor v, score = Σ_v  Scale div deg(v) — RA is Adamic-Adar
    // with 1/deg instead of 1/log(deg), which makes the score EXACT
    // integer arithmetic (order-independent sums, no float folds to
    // mirror). Candidates come from the same oriented wedge join as g2
    // (u < w through v, on the DOULION-sampled co-purchase graph), the
    // existing-edge anti-join removes already-connected pairs, and the
    // top-50 finalizes as TakeOrderedAndProject. At 100 TB this is the
    // standard "completion candidates" sweep: wedge volume is the cost
    // driver and the same degree-orientation / sampling levers apply.
    //
    // Round 8 re-plan (result-identical — exact integer arithmetic, so
    // the DuckDB oracle replays it unchanged): (1) deg(v) joins onto
    // the adjacency list BEFORE the wedge self-join — both are keyed on
    // the wedge center v, so Catalyst reuses ONE exchange for the
    // deg-join and the self-join instead of re-shuffling the full wedge
    // volume to fetch deg afterwards; (2) the existing-edge anti-join
    // moves AFTER the (u,w) aggregation — anti-join is a filter on the
    // group key, so filtering ~|distinct pairs| aggregated rows beats
    // filtering ~|wedges| raw rows. Wedge volume still flows through
    // exactly one partial-aggregated shuffle (the groupBy), which is
    // the floor for this computation.
    q("g5_link_predict",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE (a.l_partkey * 1103515245 + b.l_partkey * 12345) % 4 = 0),
        |und AS (SELECT u AS s, v AS t FROM pairs
        |        UNION ALL SELECT v AS s, u AS t FROM pairs),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY s),
        |wedge AS (
        |  SELECT a.t AS u, a.s AS v, b.t AS w
        |  FROM und a JOIN und b ON a.s = b.s AND a.t < b.t),
        |scored AS (
        |  SELECT wedge.u, wedge.w,
        |         CAST(sum(1000000000 // deg.d) AS BIGINT) AS ra
        |  FROM wedge JOIN deg ON deg.s = wedge.v
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
        |                    WHERE p.u = wedge.u AND p.v = wedge.w)
        |  GROUP BY wedge.u, wedge.w)
        |SELECT u, w, ra FROM scored
        |ORDER BY ra DESC, u, w LIMIT 50""".stripMargin) { (s, dir) =>
      val pairs = doulionPairs(s, dir)
      val und = pairs.select(col("u").as("s"), col("v").as("t"))
        .unionByName(pairs.select(col("v").as("s"), col("u").as("t")))
      // One groupBy on the center folds the adjacency list into a
      // value-sorted array carrying its own contribution c = Scale div
      // deg(v); two nested Generates then emit each unordered neighbor
      // pair EXACTLY once (w ranges over the tail past u's slot, so
      // u < w by sort order) — half the rows a self-join + u<w filter
      // generates, with no per-row hash probe. The generated volume
      // lands directly in the map-side partial (u,w) aggregate.
      val adj = und.groupBy(col("s").as("v"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .select(col("nbrs"),
                expr("1000000000L div size(nbrs)").as("c"))
      val wedge = adj
        .select(posexplode(col("nbrs")).as(Seq("i", "u")),
                col("nbrs"), col("c"))
        .select(col("u"),
                explode(expr("slice(nbrs, i + 2, size(nbrs))")).as("w"),
                col("c"))
      // Measured at sf0.1: 8.27M distinct pairs out of 9.2M wedges —
      // map-side combining is ~nil, so the aggregate IS a shuffle of
      // wedge volume plus an 8M-entry hash map: the exact-sum floor.
      // (A packed single-BIGINT group key was tried and measured even
      // with the two-column key — and it blocks Catalyst from pushing
      // the LeftAnti below the partial aggregate, which prunes
      // existing-edge wedge rows BEFORE the shuffle.)
      val scored = wedge.groupBy("u", "w").agg(sum("c").as("ra"))
        .join(pairs.toDF("u", "w"), Seq("u", "w"), "left_anti")
      scored.orderBy(desc("ra"), col("u"), col("w")).limit(50)
    },

    // G6 — k-core to FIXPOINT (round 8; g4 is the bounded 3-round
    // upper approximation, this is the production prune): peel rounds
    // repeat until the edge count stops changing, with a
    // `localCheckpoint` every 3rd round truncating lineage (d5's
    // pattern — an unpinned/untruncated chain doubles the plan per
    // round) and per-round pin so each round's TWO references to the
    // previous survivor set (degree count + endpoint filter) share one
    // materialization. Convergence measured: 6 effective rounds + 1
    // confirming no-op at BOTH sf0.01 and sf0.1 (the mean degree of the
    // sampled co-purchase graph is scale-invariant), so the oracle's
    // 10-round unroll is at fixpoint with margin — peel rounds past
    // convergence are identities. At 100 TB each round is one
    // partial-aggregated degree count + two O(|E|) semi-joins; the
    // checkpoint bounds both lineage and scheduler state for the
    // tail rounds.
    q("g6_kcore_fixpoint", kcoreFixSql(k = 18, rounds = 10)) { (s, dir) =>
      val pairs = doulionPairs(s, dir)
      var e = graft.Caches.pin(pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(pairs.select(col("v").as("src"), col("u").as("dst"))))
      var n = e.count()
      var round = 0
      var converged = false
      // NOTE (round 13): batching TWO peel rounds per count action
      // (halving driver round-trips; sound — the count is monotone) was
      // A/B-measured at 4.5-4.7 s vs 4.0 s for this per-round form and
      // REVERTED: per-round materialization lets AQE replan each round's
      // joins with runtime stats, which beats the saved actions.
      while (!converged && round < 30) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 18).select("src")
        val next = e.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst")
        val staged =
          if (round % 3 == 2) graft.Caches.checkpoint(next) else graft.Caches.pin(next)
        val m = staged.count()
        // a superseded round is freed at once; the last one lives until
        // Caches.reset, because the returned plan reads it
        graft.Caches.release(e)
        e = staged
        converged = m == n
        n = m
        round += 1
      }
      require(converged, "k-core peel did not converge within 30 rounds")
      e.groupBy(col("src").as("node_id"))
        .agg(count(lit(1)).as("core_deg"))
        .orderBy("node_id")
    },
  )

  /** g6's oracle: the peel unrolled to `rounds` — at fixpoint every
    * round past convergence is an identity, so any unroll ≥ the true
    * round count replays the fixpoint exactly. Every CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    * its predecessor three times, so an uninlined chain re-derives e0
    * 3^rounds times (observed as a file-handle explosion before it even
    * gets slow). */
  private def kcoreFixSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  WHERE (a.l_partkey * 1103515245 + b.l_partkey * 12345) % 4 = 0),
      |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
      |       UNION ALL SELECT v AS src, u AS dst FROM pairs)""".stripMargin
    for (i <- 1 to rounds) sb ++= s""",
      |e$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1} WHERE src IN (
      |          SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k)
      |        AND dst IN (
      |          SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k))""".stripMargin
    sb ++= s"""
      |SELECT src AS node_id, CAST(count(*) AS BIGINT) AS core_deg
      |FROM e$rounds GROUP BY src
      |ORDER BY node_id""".stripMargin
    sb.toString
  }
}
