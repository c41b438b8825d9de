package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.functions.Dedup._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (builder prompt):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash — all over
  * the `documents` table.
  *
  * Scale notes: exact dedup is one hash-shuffle on a 128-bit digest —
  * near-uniform keys, no skew. The LSH path is the 100 TB design: shingle →
  * signature is map-only; the band explode bounds blowup at ×bands; the
  * candidate self-join shuffles on (band, hash64) which is uniform by
  * construction, so no O(n²) stage ever materializes. The exact all-pairs
  * query (d2) exists as the small-scale oracle of record for the LSH
  * result — at scale you run d3, never d2.
  */
object DedupQueries {

  /** Shared DuckDB SQL for exact all-pairs 3-gram Jaccard ≥ 0.7 over
    * `src` (the documents table, or a stratum subselect — d3b).
    * Shingles come from TextFunctions.shinglesSql, the twin of
    * TextFunctions.shingles. */
  private def jaccardPairsSqlOver(src: String) =
    s"""WITH sh AS (
      |  SELECT doc_id,
      |         ${shinglesSql("text", 3)} AS s
      |  FROM $src)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       round(len(list_intersect(a.s, b.s)) * 1.0
      |         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.s, b.s)) * 1.0
      |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  private val jaccardPairsSql = jaccardPairsSqlOver("documents")

  /** The d3b/d4b ORACLE STRATA (round-13 verdict ask #4): the full
    * minhash/simhash verification replays are oracle-infeasible at sf1
    * corpus counts (quadratic all-pairs / 50k-doc signature explosion),
    * so the stratum twins replay only one doc_id % 10 residue class —
    * 1/10 of the docs, 1/100 of the all-pairs work — while running the
    * FULL pipeline at sf1 row widths. The residue differs per family
    * because it must leave TRUE pairs in the stratum at the smallest
    * gated scale or the gate is vacuous: sf0.01's near-dup pairs are
    * same-residue-7 for the Jaccard family (d3b: 1 pair; sf0.1: 5) and
    * same-residue-6 for the simhash family (d4b: 5 pairs; sf0.1: 48).
    * make_sf1's copy offsets (k·10⁸ ≡ 0 mod 10) preserve stratum
    * membership across decade copies, so the counts scale with the
    * decades. */
  private val MinhashStratum = "doc_id % 10 = 7"
  private val SimhashStratum = "doc_id % 10 = 6"

  /** doc_id + distinct 3-gram shingle set. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), shingles(col("text"), 3).as("s"))

  /** Exact J ≥ 0.7 near-dup pairs via hashed prefix filtering (the d2
    * pipeline, factored into operators.NearDupPairs for reuse by the
    * cluster-resolution step and the x18 corpus pipeline). */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.NearDupPairs.over(shingled(s, dir))

  /** d3's MinHash-LSH pipeline over an arbitrary shingled frame
    * (d3 = whole corpus, d3b = the MinhashStratum docs): band-bucket
    * candidate self-join, exact-Jaccard verification. */
  private def minhashLshPairs(sh: DataFrame): DataFrame = {
    val bandsDf = graft.Caches.pin(sh
      .select(col("doc_id"), posexplode(bandKeysFast(16, 4)(col("s"))))
      .toDF("doc_id", "band", "bkey"))
    val cand = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("s", "sa"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("s", "sb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jraw"))
      .filter(col("jraw") >= 0.7)
      .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("j"))
      .orderBy("doc_a", "doc_b")
  }

  /** d4's bit-level DuckDB replay over `src` (the documents table, or
    * the stratum subselect — d4b): poly+splitmix60 signature, pigeonhole
    * chunking, Hamming verification — bit-for-bit against
    * Dedup.simhashPortableFast. */
  private def simhashSql(src: String) =
    s"""WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS t FROM $src),
      |raw AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(7::BIGINT,
      |             list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(ascii(c) AS BIGINT))),
      |             (a,b) -> (a*131 + b) % 1000000007) * 1073741824
      |         + list_reduce(list_prepend(11::BIGINT,
      |             list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(ascii(c) AS BIGINT))),
      |             (a,b) -> (a*137 + b) % 1000000007) AS h0
      |  FROM tk),
      |m1 AS (SELECT doc_id, CAST((xor(h0, h0 >> 30)::HUGEINT * 1105712242481227193) & 1152921504606846975 AS BIGINT) AS h1 FROM raw),
      |m2 AS (SELECT doc_id, CAST((xor(h1, h1 >> 27)::HUGEINT * 346858239137223147) & 1152921504606846975 AS BIGINT) AS h2 FROM m1),
      |th AS (SELECT doc_id, xor(h2, h2 >> 31) AS h FROM m2),
      |bits AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY doc_id),
      |ch AS (
      |  SELECT doc_id, sig, c, (sig >> (c*15)) & 32767 AS cv
      |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c))
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hd
      |FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d4's engine pipeline over an arbitrary documents frame. */
  private def simhashPairs(docs: DataFrame): DataFrame = {
    val sig = graft.Caches.pin(docs
      .select(col("doc_id"), simhashPortableFast(tokens(col("text"))).as("sig")))
    val chunks = sig.select(col("doc_id"), col("sig"),
        explode(simhashChunks(col("sig"), 4, sigBits = 60)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk_idx"), col("c.chunk_val"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              hamming(col("a.sig"), col("b.sig")).cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: md5(text) → keep the lowest doc_id per digest. One
    // shuffle on the digest; min_by keeps selection deterministic.
    q("d1_exact_dedup",
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper")
    },

    // Exact n-gram Jaccard pairs via inverted index: explode shingles,
    // equi-join on the shingle, count shared shingles per pair, then
    // J = c / (|A| + |B| − c). EXACT (any pair with J > 0 shares a
    // shingle) but never materializes the O(n²) cross product — the join
    // shuffles on shingle keys whose frequency is bounded by corpus
    // redundancy (sum f² ≈ 2.8M rows at sf0.1 vs 12.5M naive pairs;
    // at 100 TB add a df-cap prefilter or go through d3's LSH).
    // PPJoin-style prefix filtering, hashed: shingles hash to 64-bit
    // keys (string equality ⇔ hash equality up to a ~n²/2⁶⁵ collision),
    // each doc sorts its hash set (any shared total order works) and
    // indexes only the first L − ⌈0.7·L⌉ + 1 — two docs with J ≥ 0.7
    // MUST share a prefix element (prefix-filter theorem), so the
    // candidate join touches ~30% of the inverted index at ~10% of the
    // naive candidate volume. Size-ratio prune (min/max ≥ 0.7) in the
    // join, exact Jaccard on the full hash sets afterwards.
    q("d2_jaccard_pairs", jaccardPairsSql) { (s, dir) =>
      jaccardPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("j"))
        .orderBy("doc_a", "doc_b")
    },

    // Dedup cluster resolution: near-dup pairs → connected components →
    // canonical (minimum) doc per cluster — the decision step that turns
    // pair lists into keep/drop sets. Distributed min-label propagation
    // to fixpoint (O(component diameter) rounds, each one shuffle —
    // the standard Spark shape for iterative graph algorithms); the
    // oracle replays it as a recursive transitive-closure CTE.
    q("d5_dedup_clusters", {
      // Min-label propagation unrolled to EXACTLY 21 one-hop rounds — the
      // same 7-outer x 3-hop bound as the Spark loop below, so converged
      // or not both engines hold the identical label state (min-label
      // after k hops is a pure function of k). This replaced a recursive
      // transitive-closure CTE that was correct but effectively hung in
      // DuckDB past ~5000 docs (the closure materializes |cluster|^2
      // reach pairs per step); the unrolled rounds join only the
      // near-dup EDGE list — after the all-pairs `pairs` CTE (the
      // d2-class cost that dominates), propagation is ~free, which is
      // what made d5 sf0.1-gateable.
      val rounds = (1 to 21).map { r =>
        s"""l$r AS MATERIALIZED (
           |  SELECT doc_id, min(label) AS label FROM (
           |    SELECT e.u AS doc_id, l.label FROM und e JOIN l${r - 1} l ON l.doc_id = e.v
           |    UNION ALL SELECT doc_id, label FROM l${r - 1}) GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id,
         |         ${shinglesSql("text", 3)} AS s
         |  FROM documents),
         |pairs AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) * 1.0
         |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
         |und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS doc_id, u AS label FROM und),
         |$rounds
         |SELECT doc_id, label AS canonical_id
         |FROM l21 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val edges = jaccardPairs(s, dir).select("doc_a", "doc_b")
      // one materialization of the edge list
      val und = graft.Caches.checkpoint(edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(edges.select(col("doc_b").as("u"), col("doc_a").as("v"))))
      def propagate(l: org.apache.spark.sql.DataFrame) = {
        // one join + one agg per step: own label rides the union into the
        // same min-aggregate, replacing the join + left-join-back form
        // (2 joins/step) — same fixpoint, one fewer shuffle per step
        und.join(l.withColumnRenamed("doc_id", "v"), "v")
          .select(col("u").as("doc_id"), col("label"))
          .unionByName(l)
          .groupBy("doc_id")
          .agg(min("label").as("label"))
      }
      // 3 propagation steps per action (labels travel 3 hops per check —
      // near-dup clusters are shallow, so most corpora converge in one
      // round plus the confirming round); a checkpoint truncates the
      // lineage so round k does not replan rounds 1..k−1 — the standard
      // Spark iterative-algorithm shape. A superseded round is freed at
      // once, and so is the edge list after the loop; the last round
      // lives until Caches.reset, because the returned plan reads it.
      var labels = graft.Caches.checkpoint(und.select(col("u").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
      // convergence check via the label sum: propagate only ever lowers a
      // label (min of self and neighbors), so the sum is stationary iff
      // no label changed — a cheap aggregate instead of a change-join
      def labelSum(l: org.apache.spark.sql.DataFrame): Long =
        l.agg(coalesce(sum("label"), lit(0L))).head.getLong(0) // empty edge set → 0, not null
      var prevSum = labelSum(labels)
      var converged = false
      var outer = 0
      while (!converged && outer < 7) {
        val next = graft.Caches.checkpoint(Iterator.iterate(labels)(propagate).drop(3).next())
        val nextSum = labelSum(next)
        converged = nextSum == prevSum
        prevSum = nextSum
        graft.Caches.release(labels)
        labels = next
        outer += 1
      }
      graft.Caches.release(und)
      labels.select(col("doc_id"), col("label").as("canonical_id"))
        .orderBy("doc_id")
    },

    // MinHash + LSH banding (k=64, 16 bands × 4 rows): candidates from
    // band-bucket self-join, then exact-Jaccard verification. Oracle is the
    // exact all-pairs result — at J ≥ 0.7 and these band parameters the
    // per-pair detection probability is ≈1, and both data and xxhash64 are
    // deterministic, so the match is stable (verified at sf0.01).
    q("d3_minhash_lsh", jaccardPairsSql) { (s, dir) =>
      minhashLshPairs(graft.Caches.pin(shingled(s, dir)))
    },

    // d3b — the STRATUM TWIN (round 13): d3's exact pipeline restricted
    // to the MinhashStratum docs, so the all-pairs oracle stays feasible
    // at sf1 (1/100 of the quadratic work) while the banding/verify
    // pipeline runs at full sf1 row widths. This is the mid-scale
    // oracle d3 itself lost when its replay was classified
    // sf1-infeasible: the stratum result is hash-gated at every decade,
    // so a signature/banding regression that survives sf0.1 cannot hide
    // at sf1 behind a rows-only check.
    q("d3b_minhash_stratum",
      jaccardPairsSqlOver(s"(SELECT * FROM documents WHERE $MinhashStratum)")) { (s, dir) =>
      minhashLshPairs(graft.Caches.pin(Tables.load(s, dir, "documents")
        .filter(expr(MinhashStratum))
        .select(col("doc_id"), shingles(col("text"), 3).as("s"))))
    },

    // Incremental LSH index maintenance: the operational shape at
    // 100 TB — when a delta of new documents arrives (here the
    // deterministic doc_id % 17 == 0 slice), you do NOT re-shingle the
    // corpus; you band ONLY the delta and join its band keys against
    // the standing index (base ∪ delta buckets). Cost ∝ |delta| ×
    // bucket hit rate. Detection probability at these band parameters
    // is ≈1 for J ≥ 0.7 (as for d3), so the oracle is the exact
    // all-pairs result restricted to pairs touching the delta.
    q("d8_incremental_lsh",
      s"""WITH sh AS (
        |  SELECT doc_id,
        |         ${shinglesSql("text", 3)} AS s
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.s, b.s)) * 1.0
        |         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
        |  AND (a.doc_id % 17 = 0 OR b.doc_id % 17 = 0)
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val sh = graft.Caches.pin(shingled(s, dir))
      val bands = sh
        .select(col("doc_id"), posexplode(bandKeysFast(16, 4)(col("s"))))
        .toDF("doc_id", "band", "bkey")
      val deltaBands = bands.filter(col("doc_id") % 17 === 0)
      val cand = deltaBands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
                greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      cand
        .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("s", "sa"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("s", "sb"), "doc_b")
        .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jraw"))
        .filter(col("jraw") >= 0.7)
        .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("j"))
        .orderBy("doc_a", "doc_b")
    },

    // SimHash near-dup: 60-bit portable signatures, pigeonhole chunk
    // blocking (4 chunks of 15 bits ⇒ complete for Hamming ≤ 3), Hamming
    // verification. The signature is the oracle-portable poly+splitmix60
    // family (Dedup.simhashPortableFast), so DuckDB replays signature,
    // chunking, and verification bit-for-bit — the whole operator is
    // hash-checked, not rows-only.
    q("d4_simhash", simhashSql("documents")) { (s, dir) =>
      simhashPairs(Tables.load(s, dir, "documents"))
    },

    // d4b — the STRATUM TWIN (round 13, the d3b pattern): the full
    // bit-level signature/chunk/Hamming replay over the SimhashStratum
    // docs only, keeping the oracle feasible at sf1 (the signature
    // explosion — docs × tokens × 60 bit rows — drops 10×) while the
    // pipeline runs at sf1 row widths. Hash-gated at every decade.
    q("d4b_simhash_stratum",
      simhashSql(s"(SELECT * FROM documents WHERE $SimhashStratum)")) { (s, dir) =>
      simhashPairs(Tables.load(s, dir, "documents").filter(expr(SimhashStratum)))
    },

    // Substring-level dedup (the exact-substring pass of LLM corpus
    // cleaning): every 8-token shingle that occurs in >= 2 DISTINCT docs
    // is "duplicated text"; per doc, overlapping/adjacent duplicated
    // shingles merge into maximal [span_start, span_end] token spans —
    // the cut list a dedup pass hands to the trainer. Scale shape:
    // shingling is map-side; document-frequency counting is ONE shuffle
    // on a 128-bit digest (uniform keys — shingle strings never move);
    // the hot-set filter is a semi-join on the same digest; span
    // merging is a lag/cumsum window partitioned BY DOC, never global.
    // At 100 TB every stage is linear and skew-free.
    q("d7_dup_ngram_spans",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |idx AS (
        |  SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 6, 1))) AS i
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM idx),
        |hot AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM hot)),
        |fl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |       count(*) AS n_shingles
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // gram key = compiled 64-bit hash (ngramHashes): the key is
      // internal to the operator on both engines, so the 8-byte long
      // replaces the md5 hex string — 4× less shuffle, no interpreted
      // HOF lambda per position (collision standard as in d2/x14)
      val sh = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.ngramHashes(col("text"), 8)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
      val hot = sh.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      sh.join(hot, Seq("h"), "left_semi")
        .select("doc_id", "pos")
        .withColumn("brk",
          when(lag("pos", 1).over(w).isNull ||
               col("pos") - lag("pos", 1).over(w) > 8, 1).otherwise(0))
        .withColumn("island", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("span_start"),
             (max("pos") + 7).as("span_end"),
             count(lit(1)).as("n_shingles"))
        .select("doc_id", "span_start", "span_end", "n_shingles")
        .orderBy("doc_id", "span_start")
    },

    // Substring-level dedup APPLIED (d7's transform step): every token
    // position covered by a duplicated 8-gram is cut from the document;
    // the output is the cleaned corpus digest + kept-token count — the
    // text a trainer actually sees after the exact-substring pass.
    // Scale shape: identical to d7 up to the hot-shingle semi-join (one
    // uniform 64-bit gram-hash shuffle), then the cut-position union is a
    // per-doc aggregation and the splice is one compiled map per row.
    q("d9_dedup_apply",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |idx AS (
        |  SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 6, 1))) AS i
        |  FROM toks),
        |sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM idx),
        |hot AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM hot)),
        |cov AS (
        |  SELECT doc_id, list_distinct(flatten(list(range(pos, pos + 8)))) AS cut
        |  FROM m GROUP BY doc_id),
        |clean AS (
        |  SELECT t.doc_id,
        |         CASE WHEN c.cut IS NULL THEN t.ts
        |              ELSE [t.ts[CAST(i AS INT) + 1]
        |                    for i in range(0, len(t.ts))
        |                    if NOT list_contains(c.cut, i)] END AS kept
        |  FROM toks t LEFT JOIN cov c USING (doc_id))
        |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept_tokens,
        |       -- DuckDB array_to_string([]) is NULL; Spark array_join([]) is ''
        |       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_digest
        |FROM clean ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("ts"))
      // same compiled 64-bit gram key as d7 (ngramHashes scaladoc)
      val sh = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.ngramHashes(col("text"), 8)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
      val hot = sh.groupBy("h")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2).select("h")
      val cut = sh.join(hot, Seq("h"), "left_semi")
        .withColumn("cover", sequence(col("pos"), col("pos") + 7))
        .groupBy("doc_id")
        .agg(array_distinct(flatten(collect_list("cover"))).as("cut"))
      // compiled splice: one HashSet + one pass per doc (an exists()
      // lambda per token would be |ts|·|cut| interpreted evals)
      val splice = udf { (ts: Seq[String], cutPos: Seq[Long]) =>
        if (cutPos == null) ts
        else {
          val dead = cutPos.toSet
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ts.length) { if (!dead.contains(i.toLong)) out += ts(i); i += 1 }
          out.toSeq
        }
      }
      docs.join(cut, Seq("doc_id"), "left")
        .withColumn("kept", splice(col("ts"), col("cut")))
        .select(col("doc_id"),
          size(col("kept")).cast("long").as("n_kept_tokens"),
          md5(array_join(col("kept"), " ").cast("binary")).as("clean_digest"))
        .orderBy("doc_id")
    },

    // Streaming-feed dedup, batch twin: an at-least-once delivery is
    // simulated by replaying the whole feed twice; keyed dedup restores
    // exactly-once, so the oracle is simply the original table. Runs
    // through StreamOps.dedupedStream — the SAME code path the
    // watermarked stream uses (dropDuplicatesWithinWatermark;
    // watermark is a no-op on batch), so StreamOpsSpec's stream≡batch
    // assertion plus this oracle certifies the streaming semantics.
    q("d6_stream_dedup",
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      graft.streaming.StreamOps.dedupedStream(e.unionAll(e))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    },

    // d10 — set-CONTAINMENT near-dup pairs (|A∩B|/|A| >= 4/5, ordered):
    // the asymmetric relation Jaccard can't see — a short doc quoted
    // inside a long one scores high containment but low Jaccard (d2 at
    // 0.7 misses it). Spark side is the prefix-filtered containment
    // join (operators/ContainmentJoin.scala: index only each doc's
    // (1-t)-fraction rarest shingles, exact integer verify); the oracle
    // is the brute-force quadratic join — the d2/v2 oracle-of-record
    // pattern. The score divides two exact integers, so it hash-matches.
    q("d10_containment_pairs",
      s"""WITH sh AS (
        |  SELECT doc_id,
        |         ${shinglesSql("text", 3)} AS s
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / CAST(len(a.s) AS DOUBLE) AS containment
        |FROM sh a JOIN sh b ON a.doc_id != b.doc_id
        |-- lossless size prefilter (|A∩B| <= |B|) so the quadratic oracle
        |-- skips the expensive intersect on hopeless pairs
        |WHERE 5 * len(b.s) >= 4 * len(a.s)
        |  AND 5 * len(list_intersect(a.s, b.s)) >= 4 * len(a.s)
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      graft.operators.ContainmentJoin
        .selfJoin(shingled(s, dir), "doc_id", "s", tNum = 4, tDen = 5)
        .orderBy("a_id", "b_id")
    },

    // Incremental containment PROBE (round 7) — d8's delta pattern
    // applied to d10's asymmetric containment: only the doc_id % 5 = 0
    // delta probes the standing index (the other 4/5ths of the
    // corpus), with the canonical rarest-first order FROZEN from the
    // index corpus frequencies (operators/ContainmentJoin.probeJoin —
    // the same code path StreamOps.containmentGate runs per
    // micro-batch, here oracle-checked). Threshold 1/4: "a quarter of
    // the arriving doc's shingles already live in some held doc".
    // Cost ∝ |delta| × bucket hit rate; the standing corpus never
    // re-self-joins. Oracle: quadratic probe restricted to delta ×
    // index pairs with the lossless size prefilter.
    q("d11_containment_probe",
      s"""WITH sh AS (
        |  SELECT doc_id,
        |         ${shinglesSql("text", 3)} AS s
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / CAST(len(a.s) AS DOUBLE) AS containment
        |FROM sh a JOIN sh b
        |  ON a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
        |WHERE 4 * len(b.s) >= len(a.s)
        |  AND 4 * len(list_intersect(a.s, b.s)) >= len(a.s)
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir)
      graft.operators.ContainmentJoin.probeJoin(
          sh.filter(col("doc_id") % 5 === 0),
          sh.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "s", tNum = 1, tDen = 4)
        .orderBy("a_id", "b_id")
    },

    // d12 (round 10) — MinHash Jaccard-ESTIMATION fidelity harness: the
    // a20/v13 shape applied to similarity sketches. d3 trusts 64-hash
    // signatures to band near-dups; this query PUBLISHES what those
    // signatures actually estimate — for every exact J ≥ 0.7 pair, the
    // matching-coordinate count, the estimate in basis points (exact
    // integer arithmetic, n·10⁴ div 64), and the error vs exact J. The
    // signature is fully engine-portable, so the whole estimate is
    // hash-gated, not spec-gated: shingle → 60-bit int via the md5-hex
    // prefix (both engines parse identical hex), permutation i ∈ [0,64)
    // is the portable mix64(x + i), coordinate = min over the doc's
    // shingles. Signature build is MAP-ONLY (nested codegen HOFs — no
    // explode, no shuffle; 64·|s| mix64 calls per doc); the only wide
    // ops are the memoized exact-pairs builder (shared with d2/d5/x18)
    // and the broadcast-size signature joins. At 100 TB signatures
    // persist once and d3's banding consumes them; this harness is the
    // recall bound you quote for that index.
    //
    // The 64-coordinate min fold runs as ONE COMPILED UDF pass (the x18
    // featurization precedent): a nested transform/array_min HOF chain
    // evaluates interpreted per lambda call — ~10⁸ interpreted mix64
    // evals at sf0.1, measured 13.6 s vs 1-2 s compiled. The per-shingle
    // md5-hex base stays a codegen'd SQL transform (string ops, one
    // pass); only the hot numeric loop drops into the UDF.
    //
    // Exactness caveat: the published j_exact/err_bp come from
    // NearDupPairs' xxhash64-hashed shingle SETS while the oracle
    // intersects the string sets — equal only up to hash collisions, a
    // ~n²/2⁶⁵ bound per document pair the estimator column inherits
    // even though the estimate itself is hash-gated. Compute j_exact
    // from the string sets if that bound ever matters.
    q("d12_minhash_estimate", {
      import OracleU64.{mix64Ctes, toSigned}
      s"""WITH sh AS (
        |  SELECT doc_id,
        |         ${shinglesSql("text", 3)} AS s
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hx AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS x
        |  FROM ex),
        |xi AS (
        |  SELECT doc_id, i, CAST(x + i AS UBIGINT) AS mkin
        |  FROM hx CROSS JOIN (SELECT unnest(range(64)) AS i)),
        |${mix64Ctes("xi", "mkin", "mk", "mkout", "mh")},
        |sig AS (
        |  SELECT doc_id, i, min(${toSigned("mkout")}) AS sv
        |  FROM mk GROUP BY doc_id, i),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.s, b.s)) * 1.0
        |           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jraw
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
        |m AS (
        |  SELECT p.doc_a, p.doc_b, round(p.jraw, 4) AS j_exact, p.jraw,
        |         CAST(sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_match
        |  FROM p
        |  JOIN sig sa ON sa.doc_id = p.doc_a
        |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.i = sa.i
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, j_exact, n_match,
        |       n_match * 10000 // 64 AS j_est_bp,
        |       abs(n_match * 10000 // 64
        |           - CAST(round(jraw * 10000, 0) AS BIGINT)) AS err_bp
        |FROM m ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      val sigUdf = udf { (hx: Seq[Long]) =>
        val out = Array.fill(64)(Long.MaxValue)
        hx.foreach { x =>
          var k = 0
          while (k < 64) {
            val v = graft.domain.Openness.mix64(x + k)
            if (v < out(k)) out(k) = v
            k += 1
          }
        }
        out
      }
      val sigs = shingled(s, dir)
        .withColumn("hx", expr(
          "transform(s, g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"))
        .select(col("doc_id"), sigUdf(col("hx")).as("sig"))
      jaccardPairs(s, dir)
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .withColumn("n_match", expr(
          "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("long"))
        .select(col("doc_a"), col("doc_b"), round(col("jraw"), 4).as("j_exact"),
          col("n_match"),
          expr("n_match * 10000L div 64").as("j_est_bp"),
          expr("abs(n_match * 10000L div 64 " +
               "- CAST(round(jraw * 10000, 0) AS BIGINT))").as("err_bp"))
        .orderBy("doc_a", "doc_b")
    },
  )
}
