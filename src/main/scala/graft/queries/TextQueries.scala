package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder prompt):
  * token counting, language-ID, quality scoring, document fingerprinting —
  * all over the `documents` table, each DuckDB-oracle-checked.
  *
  * Scale notes: every query here is map-only over the documents scan (no
  * shuffle except final tiny aggregations) and stays inside whole-stage
  * codegen — no UDFs, only higher-order array functions. At 100 TB these
  * scale linearly and are bounded by scan throughput; the parquet reader
  * prunes to (doc_id, text) so wide metadata columns are never read.
  */
object TextQueries {

  /** Shared DuckDB CTE chain for the repetition-metric family (x41 gate,
    * x42 calibration, x43 agreement): doc-local bigram/top-token stats
    * ending in `rep(doc_id, n_tokens, rep2_bp, top_tok_bp, flagged)`.
    * Keep the expressions verbatim — x41's hash identity depends on
    * them, and x42/x43 must replay the SAME gate. */
  private val repCtes: String =
    """d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |         CAST(len([ts[i] || ' ' || ts[i+1]
      |                   for i in range(1, len(ts))]) AS BIGINT) AS nbg,
      |         CAST(len(list_distinct([ts[i] || ' ' || ts[i+1]
      |                   for i in range(1, len(ts))])) AS BIGINT) AS nbgd
      |  FROM d),
      |t AS (
      |  SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok
      |  FROM (SELECT doc_id, count(*) AS c
      |        FROM (SELECT doc_id, unnest(ts) AS tok FROM d)
      |        GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |rep AS (
      |  SELECT m.doc_id, n_tokens,
      |         CASE WHEN nbg > 0 THEN (nbg - nbgd) * 10000 // nbg
      |              ELSE 0 END AS rep2_bp,
      |         max_tok * 10000 // n_tokens AS top_tok_bp,
      |         (CASE WHEN nbg > 0 THEN (nbg - nbgd) * 10000 // nbg
      |               ELSE 0 END) >= 800
      |           OR max_tok * 10000 // n_tokens >= 1600 AS flagged
      |  FROM m JOIN t USING (doc_id))""".stripMargin

  /** x43's kappa as ONE formula string spliced into both engines (the
    * a36 discipline: identical IEEE expression tree over exact BIGINT
    * confusion counts). */
  private val kappaExpr: String = {
    val nD = "CAST(n11 + n10 + n01 + n00 AS DOUBLE)"
    val po = s"(CAST(n11 + n00 AS DOUBLE) / $nD)"
    val pe = s"((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE) " +
      s"+ CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)) / ($nD * $nD))"
    s"round(($po - $pe) / (1 - $pe), 6)"
  }

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens + BPE-ish regex token count
    q("x1_token_count",
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          bpeIshTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy("doc_id")
    },

    // Language-ID by marker-word profiles, scored against the generator's
    // `lang` ground-truth column
    q("x2_lang_id",
      s"""WITH scored AS (
         |  SELECT lang, [
         |    ${langProfiles.map { case (_, ws) =>
               s"len(list_filter(string_split(text,' '), t -> t IN (${ws.map("'" + _ + "'").mkString(",")})))"
             }.mkString(",\n    ")}] AS scores
         |  FROM documents)
         |SELECT lang,
         |       CAST(sum(CASE WHEN [${langProfiles.map("'" + _._1 + "'").mkString(",")}][list_position(scores, list_max(scores))] = lang
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |       count(*) AS n
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"), langId(col("text")).as("pred"))
        .groupBy("lang")
        .agg(sum(when(col("pred") === col("lang"), 1).otherwise(0)).as("n_correct"),
             count(lit(1)).as("n"))
        .orderBy("lang")
    },

    // Quality scoring: stopword ratio, mean token length, char count.
    // Both sides fold token lengths left-to-right in the same order, so
    // the double division is bitwise identical before rounding.
    q("x3_quality_score",
      """SELECT doc_id,
        |       round(len(list_filter(string_split(text,' '),
        |             t -> t IN ('the','a','and','of','to','in','is'))) * 1.0
        |         / greatest(len(string_split(text,' ')), 1), 6) AS stop_ratio,
        |       round(list_reduce(list_prepend(0::BIGINT,
        |             list_transform(string_split(text,' '), t -> length(t))),
        |             (a, b) -> a + b) * 1.0
        |         / greatest(len(string_split(text,' ')), 1), 6) AS mean_tok_len,
        |       length(text) AS n_chars2
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          round(stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(meanTokenLen(col("text")), 6).as("mean_tok_len"),
          length(col("text")).cast("long").as("n_chars2"))
        .orderBy("doc_id")
    },

    // Winnowing (MOSS) candidate pairs: docs sharing >= 2 window-min
    // fingerprints (a short doc carries only ~|shingles|/w of them, so
    // higher gates lose short near-dups). Any shared run of >= w+n-1
    // tokens guarantees a shared fingerprint; the spec asserts the
    // guarantee and full recall vs the exact d2 pairs at 1/w the index
    // size. The fingerprint is an engine-portable polynomial hash mod
    // 1e9+7 (see TextFunctions.winnowing), so DuckDB replays the whole
    // scheme — shingle hash, window-min, df cap, pair join — exactly.
    q("x5_winnowing_pairs",
      """WITH th AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text,' '),
        |           tok -> list_reduce(list_prepend(7::BIGINT,
        |                    list_transform(regexp_extract_all(tok, '(?s).'),
        |                                   c -> CAST(ascii(c) AS BIGINT))),
        |                  (a,b) -> (a*131 + b) % 1000000007)) AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(len(ts)-2,1)+1),
        |           i -> list_reduce(list_prepend(0::BIGINT, ts[i:least(i+2,len(ts))]),
        |                            (a,b) -> (a*99991 + b) % 1000000007)) AS gs
        |  FROM th),
        |w AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(gs)-3,1)+1),
        |           j -> list_aggregate(gs[j:least(j+3,len(gs))], 'min'))) AS fps
        |  FROM g),
        |f AS (SELECT doc_id, unnest(fps) AS f FROM w),
        |rare AS (SELECT f FROM f GROUP BY f HAVING count(*) <= 10),
        |p AS (SELECT f.doc_id, f.f FROM f JOIN rare USING (f))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS shared_fp
        |FROM p a JOIN p b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1,2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val fp = graft.Caches.pin(Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(winnowing(col("text"), 3, 4)).as("f")))
      // stop-fingerprint removal: window-min selection biases toward
      // small hash values, so popular shingles become fingerprints of
      // MANY docs — hot keys whose self-join cost is freq² with no
      // discriminative value (exactly a stopword). Cap document
      // frequency (<=10 docs) before the join; near-dups share rare prints.
      val rare = fp.groupBy("f").count().filter(col("count") <= 10).select("f")
      val pruned = fp.join(broadcast(rare), "f")
      pruned.as("a")
        .join(pruned.as("b"),
          col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 2)
        .orderBy("doc_a", "doc_b")
    },

    // Rolling-hash document fingerprint (order-sensitive, mod-prime), then
    // a distinct-fingerprint count as the exact-dup detector summary
    q("x4_fingerprint",
      """SELECT doc_id,
        |       list_reduce(list_prepend(0::BIGINT,
        |         list_transform(string_split(text,' '),
        |                        t -> CAST(ascii(t) + length(t) AS BIGINT))),
        |         (acc, v) -> (acc * 31 + v) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), rollingFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // Sensitive-term redaction: global regex replace + per-doc redaction
    // count — the scrubbing pass a corpus runs before training. Digest
    // (not the full redacted body) keeps the compared relation narrow;
    // the replace itself is map-only and codegen'd. DuckDB needs the 'g'
    // flag — its regexp_replace is first-match-only by default, Spark's
    // is global.
    q("x7_redact",
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '\b(key|hash|token)\b')) AS n_redacted,
        |       md5(regexp_replace(text, '\b(key|hash|token)\b',
        |                          '[REDACTED]', 'g')) AS redacted_digest
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pat = "\\b(key|hash|token)\\b"
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_redacted"),
          md5(regexp_replace(col("text"), pat, "[REDACTED]").cast("binary"))
            .as("redacted_digest"))
        .orderBy("doc_id")
    },

    // Token-budget sequence packing (approximate): docs are packed into
    // 512-token context windows by a running token total, SHARDED BY
    // SOURCE — the window is partitioned, never global, so packing
    // parallelizes across shards at 100 TB (the exact first-fit pack is
    // inherently sequential; the cumsum bin is the standard distributed
    // relaxation, overflow bounded by one document per bin).
    q("x8_token_packing",
      """WITH t AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      t.withColumn("cum", sum("n_tokens").over(
          Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / lit(512.0)).cast("long").as("pack_id"))
        .orderBy("doc_id")
    },

    // Corpus vocabulary top-k: explode → count → global top-20 with a
    // deterministic tie-break. The limit runs as TakeOrderedAndProject
    // (per-partition heaps, only k rows reach the driver-side merge) —
    // never a global sort of the full vocabulary.
    q("x9_vocab_topk",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token)
        |SELECT token, freq FROM f
        |ORDER BY freq DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("token"))
        .limit(20)
    },

    // Reproducible corpus sampling: a ~10% sample selected by a
    // DETERMINISTIC key hash (LCG mix), not rand() — the same docs are
    // chosen on every run, every engine, any partitioning. Map-only, no
    // shuffle; contrast with M4's seeded randomSplit whose output is
    // Spark-internal. The multiplier keeps doc_id*a < 2^63 at corpus
    // scale (ids ≤ ~8e9 before widening is needed).
    q("x10_hash_sample",
      """SELECT doc_id, source, n_chars
        |FROM documents
        |WHERE (doc_id * 1103515245 + 12345) % 100 < 10
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter((col("doc_id") * 1103515245L + 12345L) % 100 < 10)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // Length stratification for sampling design: decile strata of token
    // length within each source (ntile), then per-stratum count and
    // token range — the histogram a stratified sampler draws from. The
    // ntile window is partitioned by source, never global.
    q("x11_length_strata",
      """WITH t AS (
        |  SELECT source, len(string_split(text, ' ')) AS n_tokens, doc_id
        |  FROM documents),
        |s AS (
        |  SELECT source, n_tokens,
        |         ntile(10) OVER (PARTITION BY source
        |                         ORDER BY n_tokens, doc_id) AS stratum
        |  FROM t)
        |SELECT source, stratum, count(*) AS n_docs,
        |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM s GROUP BY source, stratum
        |ORDER BY source, stratum""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "documents")
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"), col("doc_id"))
        .withColumn("stratum", ntile(10).over(
            Window.partitionBy("source").orderBy("n_tokens", "doc_id"))
          .cast("long")) // DuckDB ntile → BIGINT; driver hash is type-aware
        .groupBy("source", "stratum")
        .agg(count(lit(1)).as("n_docs"),
             min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
        .orderBy("source", "stratum")
    },

    // BM25 keyword relevance (k1=1.2, b=0.75) for a fixed query-term set —
    // the retrieval scorer a data pipeline uses to mine topical subsets.
    // Scale shape: corpus stats (N, Σlen, per-term document frequency) are
    // ONE map-side-combined aggregation to a single tiny row, broadcast
    // back; scoring is then map-only (per-term tf via codegen'd array
    // filters, fixed-order expression sum — no shuffle); top-20 runs as
    // TakeOrderedAndProject, never a global sort. Both engines evaluate
    // the identical expression tree (exact-integer stats, one ln() per
    // term), so scores agree to the 6-decimal round.
    {
      val terms = Seq("spark", "vector", "stream")
      val duckTf = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n        |         ")
      val duckDf = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val duckScore = terms.indices.map(i =>
        s"""ln((g.n_docs - g.df$i + 0.5) / (g.df$i + 0.5) + 1.0) * tf$i * 2.2
           |      / (tf$i + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / (g.sum_len / g.n_docs)))"""
          .stripMargin).mkString("\n        |    + ")
      q("x13_bm25",
        s"""WITH d AS (
           |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |t AS (
           |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS len,
           |         $duckTf
           |  FROM d),
           |g AS (
           |  SELECT count(*) AS n_docs, CAST(sum(len) AS DOUBLE) AS sum_len,
           |         $duckDf
           |  FROM t),
           |s AS (
           |  SELECT doc_id,
           |    $duckScore AS score
           |  FROM t CROSS JOIN g)
           |SELECT doc_id, round(score, 6) AS bm25 FROM s
           |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ts"))
          .select(col("doc_id") +: size(col("ts")).cast("long").as("len") +:
            terms.zipWithIndex.map { case (t, i) =>
              size(filter(col("ts"), x => x === t)).cast("double").as(s"tf$i")
            }: _*)
        val aggs = count(lit(1)).as("n_docs") +:
          sum("len").cast("double").as("sum_len") +:
          terms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1).otherwise(0)).as(s"df$i"))
        val stats = base.agg(aggs.head, aggs.tail: _*)
        val score = terms.indices.map { i =>
          log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0) *
            col(s"tf$i") * 2.2 /
            (col(s"tf$i") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("len").cast("double") / (col("sum_len") / col("n_docs"))))
        }.reduce(_ + _)
        base.crossJoin(broadcast(stats))
          .select(col("doc_id"), round(score, 6).as("bm25"))
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(20)
      }
    },

    // Deterministic negative sampling for contrastive training: K=4
    // negatives per document by an arithmetic probe over the dense
    // [0, N) id space — reproducible across runs, engines, and
    // partitionings (rand()-based sampling is none of those). Self-hits
    // shift to the next id. Map-only after a broadcast of the scalar N;
    // for non-dense id spaces, remap ids with GlobalRank first.
    q("x12_negative_sampling",
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |i AS (SELECT unnest(range(0, 4)) AS neg_idx),
        |pairs AS (
        |  SELECT d.doc_id, i.neg_idx,
        |         (d.doc_id * 37 + 11 * i.neg_idx + 7) % n.n AS cand, n.n AS n
        |  FROM documents d CROSS JOIN n CROSS JOIN i)
        |SELECT doc_id, neg_idx,
        |       CASE WHEN cand = doc_id THEN (cand + 1) % n ELSE cand END AS neg_id
        |FROM pairs ORDER BY doc_id, neg_idx""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n"))
      d.select("doc_id")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0L), lit(3L))).as("neg_idx"))
        .withColumn("cand", (col("doc_id") * 37 + col("neg_idx") * 11 + 7) % col("n"))
        .select(col("doc_id"), col("neg_idx"),
          when(col("cand") === col("doc_id"), (col("cand") + 1) % col("n"))
            .otherwise(col("cand")).as("neg_id"))
        .orderBy("doc_id", "neg_idx")
    },

    // Benchmark decontamination: flag training docs that share >= 3
    // distinct 3-gram shingles with any held-out eval doc (the n-gram
    // overlap pass run before training to drop test-set leakage; the
    // eval split here is the deterministic doc_id % 29 == 0 slice so
    // both engines carve the identical sets). Scale shape: shingling is
    // map-side; shingles join on an 8-byte xxhash64 key (uniform — the
    // strings never shuffle), then one count-shuffle on the (train,
    // eval) pair. With a real benchmark set (thousands of docs, not a
    // corpus slice) the eval side is broadcast and the whole pass is
    // map-only over the corpus scan.
    q("x14_decontaminate",
      s"""WITH sh AS (
        |  SELECT doc_id, unnest(${shinglesSql("text", 3)}) AS g
        |  FROM documents)
        |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS n_shared
        |FROM sh t JOIN sh e ON t.g = e.g AND t.doc_id % 29 <> 0 AND e.doc_id % 29 = 0
        |GROUP BY train_doc, eval_doc HAVING count(*) >= 3
        |ORDER BY train_doc, eval_doc""".stripMargin) { (s, dir) =>
      val hashed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(shingles(col("text"), 3)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      val tr = hashed.filter(col("doc_id") % 29 =!= 0)
        .select(col("doc_id").as("train_doc"), col("gh"))
      val ev = hashed.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("eval_doc"), col("gh"))
      // the eval side is small by construction (a held-out benchmark, the
      // same contract BoundedCollect enforces for x16/x18), so broadcast
      // it EXPLICITLY: a shuffle join here would key on shingle hash,
      // and a hot shingle (boilerplate appearing in 30% of the corpus)
      // would pile its entire train-side row set onto one task. With the
      // broadcast the join is map-side — skew-immune by plan shape
      // (measured in SkewStressSpec).
      tr.join(broadcast(ev), "gh")
        .groupBy("train_doc", "eval_doc")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy("train_doc", "eval_doc")
    },

    // Domain-weighted mixture sampling: given per-source mix weights and
    // a global token budget (30% of the corpus), derive a per-source
    // sampling rate rate_s = min(1, budget_s / tokens_s) and draw docs by
    // a deterministic LCG coin — the "data mixing" step that reweights
    // domains into a training corpus. Weights here derive from the source
    // name (a stand-in for the mixture config table both engines can
    // reproduce). Scale shape: one per-source agg (20 keys, partial-agg'd
    // map-side), a two-row global scalar broadcast back, then a map-only
    // filter over the scan — the rate computation never touches the data
    // path. All rate math is integer or fixed-order double, so the floor
    // to basis points is bit-identical across engines.
    q("x15_domain_mix",
      """WITH d AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |         1.0 + (CAST(substr(source, 4) AS INT) % 4) AS w
        |  FROM documents),
        |srcs AS (
        |  SELECT source, any_value(w) AS w, count(*) AS n_total,
        |         CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |  FROM d GROUP BY source),
        |rates AS (
        |  SELECT source, n_total, tokens_total,
        |         CAST(floor(least(1.0,
        |           ((SELECT CAST(sum(tokens_total) AS DOUBLE) FROM srcs) * 0.3 * w
        |             / (SELECT sum(w) FROM srcs)) / CAST(tokens_total AS DOUBLE))
        |           * 10000) AS BIGINT) AS rate_bp
        |  FROM srcs),
        |kept AS (
        |  SELECT d.source, count(*) AS n_kept, CAST(sum(d.n_tokens) AS BIGINT) AS tokens_kept
        |  FROM d JOIN rates r ON d.source = r.source
        |  WHERE (d.doc_id * 1103515245 + 12345) % 10000 < r.rate_bp
        |  GROUP BY d.source)
        |SELECT r.source, r.n_total, r.tokens_total, r.rate_bp,
        |       coalesce(k.n_kept, 0) AS n_kept, coalesce(k.tokens_kept, 0) AS tokens_kept
        |FROM rates r LEFT JOIN kept k ON r.source = k.source
        |ORDER BY r.source""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          (lit(1.0) + (substring(col("source"), 4, 10).cast("int") % 4)).as("w"))
      val srcs = d.groupBy("source")
        .agg(first("w").as("w"), count(lit(1)).as("n_total"),
             sum("n_tokens").as("tokens_total"))
      val tot = srcs.agg(sum("tokens_total").cast("double").as("grand_tokens"),
                         sum("w").as("w_sum"))
      val rates = srcs.crossJoin(broadcast(tot))
        .withColumn("rate_bp",
          floor(least(lit(1.0),
            (col("grand_tokens") * lit(0.3) * col("w") / col("w_sum"))
              / col("tokens_total").cast("double")) * 10000).cast("long"))
        .select("source", "n_total", "tokens_total", "rate_bp")
      val kept = d.join(broadcast(rates.select("source", "rate_bp")), "source")
        .filter((col("doc_id") * 1103515245L + 12345L) % 10000 < col("rate_bp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("tokens_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"), col("tokens_total"), col("rate_bp"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
        .orderBy("source")
    },

    // Decontamination-on-ingest (the filter form of x14): keep training
    // docs whose overlap with the WHOLE benchmark shingle set stays
    // under 3 — union-set semantics, strictly more conservative than
    // x14's per-eval-doc pairs. The benchmark set collects to a plan
    // literal (small by construction in practice), so the filter is a
    // map-only projection that runs unchanged over a readStream
    // micro-batch — the stream-static ingest gate (see StreamOpsSpec).
    q("x16_decon_survivors",
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql("text", 3)} AS s
        |  FROM documents),
        |ev AS (SELECT list_distinct(flatten(list(s))) AS es FROM sh WHERE doc_id % 29 = 0)
        |SELECT doc_id, CAST(len(list_intersect(s, es)) AS BIGINT) AS n_shared
        |FROM sh CROSS JOIN ev
        |WHERE doc_id % 29 <> 0 AND len(list_intersect(s, es)) < 3
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val evalSh = graft.functions.BoundedCollect.strings(
        docs.filter(col("doc_id") % 29 === 0)
          .select(explode(shingles(col("text"), 3)).as("g"))
          .distinct(),
        "x16 benchmark shingle set")
      deconSurvivors(docs.filter(col("doc_id") % 29 =!= 0), evalSh, 3)
        .orderBy("doc_id")
    },

    // Within-document repetition (the Gopher-style rep filter): fraction
    // of duplicate word bigrams per doc — high values flag boilerplate
    // and degenerate generations. Unlike d7 (cross-corpus duplicated
    // spans), this is a purely intra-row signal: map-only, no shuffle,
    // linear at any corpus size.
    q("x17_repetition",
      """WITH bg AS (
        |  SELECT doc_id,
        |         [array_to_string(string_split(text,' ')[i:i+1], ' ')
        |           for i in range(1, greatest(len(string_split(text,' ')), 2))] AS b
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(b) AS BIGINT) AS n_bigrams,
        |       CAST(len(list_distinct(b)) AS BIGINT) AS n_distinct,
        |       round(1.0 - len(list_distinct(b)) * 1.0 / len(b), 4) AS dup_frac
        |FROM bg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), bigramStats(col("text")).as("bs"))
        .select(col("doc_id"),
          col("bs.nBigrams").as("n_bigrams"),
          col("bs.nDistinct").as("n_distinct"))
        .withColumn("dup_frac",
          round(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_bigrams"), 4))
        .orderBy("doc_id")
    },

    // The BPE-training merge step: frequency of every ADJACENT token
    // pair across the corpus, top-20 — each BPE iteration merges the
    // argmax pair and recounts. Scale shape: explode is map-side; the
    // count shuffles on the pair string (near-uniform — natural-language
    // pair frequencies are Zipfian but the hot key is bounded by corpus
    // token count, and partial aggregation collapses it map-side);
    // top-20 runs as TakeOrderedAndProject, never a global sort.
    // Deterministic k-per-source corpus sample: rank docs inside each
    // source by an LCG hash of doc_id (reproducible across runs,
    // engines, partitionings — x10's sampler, stratified) and keep the
    // first 5 — the inspection/eval slice a pipeline pulls per domain.
    // Runs on operators.GroupTopK (map-side partial heaps), never a
    // full per-source window sort.
    q("x24_group_sample",
      """WITH r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (doc_id * 1103515245 + 12345) % 1000000007, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, rn FROM r WHERE rn <= 5
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.GroupTopK.topK(
          Tables.load(s, dir, "documents")
            .withColumn("mix", (col("doc_id") * 1103515245L + 12345L) % 1000000007L)
            .select("doc_id", "source", "mix"),
          groupCols = Seq("source"), sortCol = "mix", tieCol = "doc_id",
          k = 5, descending = false, rankCol = "rn")
        .select("doc_id", "source", "rn")
        .orderBy("doc_id")
    },

    // Canonical text normalization — the pass that runs BEFORE dedup
    // keys are computed, so near-identical docs differing only in case/
    // whitespace/Unicode form collapse to one digest: trim, lowercase,
    // whitespace collapse, then Unicode NFC (java.text.Normalizer ↔
    // DuckDB nfc_normalize — both implement UAX#15). Map-only; the
    // digest keeps the compared relation narrow.
    q("x22_normalize",
      """SELECT doc_id,
        |       md5(nfc_normalize(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))))
        |         AS norm_digest,
        |       length(nfc_normalize(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))))
        |         AS n_norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nfc = udf { (t: String) =>
        java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      }
      // whitespace class spelled explicitly on BOTH sides: Java's \s is
      // [ \t\n\x0B\f\r] but DuckDB's (RE2) \s omits \x0B — a vertical tab
      // in the text would otherwise diverge norm_digest between engines
      val canon = nfc(lower(regexp_replace(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " ")))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(canon.cast("binary")).as("norm_digest"),
          length(canon).cast("long").as("n_norm_chars"))
        .orderBy("doc_id")
    },

    // Heavy hitters: every token above 0.5% of total corpus tokens —
    // the vocabulary-pruning / stopword-mining primitive. The INTEGER
    // threshold (freq·200 ≥ total) avoids any float boundary. Scale
    // shape: one count shuffle with map-side partial aggregation, the
    // 1-row total broadcast back; the sketch path (count-min, never
    // underestimates — SketchSpec bounds Spark's built-in, and
    // `a28_countmin` is the engine's own ORACLE-CHECKED CMS aggregate,
    // plans/SketchAgg.scala) replaces the exact count when the
    // vocabulary itself no longer fits a shuffle.
    q("x21_heavy_hitters",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok),
        |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token)
        |SELECT token, freq FROM f CROSS JOIN tot
        |WHERE freq * 200 >= n ORDER BY token""".stripMargin) { (s, dir) =>
      val tok = Tables.load(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
      val tot = tok.agg(count(lit(1)).as("n"))
      tok.groupBy("token").agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(tot))
        .filter(col("freq") * 200 >= col("n"))
        .select("token", "freq")
        .orderBy("token")
    },

    q("x20_bpe_pairs",
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT unnest([ts[i] || ' ' || ts[i+1]
        |                     for i in range(1, len(ts))]) AS pair FROM t)
        |SELECT pair, count(*) AS freq FROM p GROUP BY pair
        |ORDER BY freq DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(bigramPairs(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("pair"))
        .limit(20)
    },

    // CCNet-style n-gram LM perplexity gate: train an add-one-smoothed
    // bigram LM on the 80% split (doc_id % 5 != 0), score each held-out
    // doc by total bigram log-probability, keep docs whose AVERAGE
    // log-prob clears the threshold (avg lp > t ⇔ perplexity < e^-t —
    // the filter CCNet/Gopher run with a KenLM in place of this LM).
    // Cross-engine determinism: each token's lp is rounded to 9 dp and
    // summed as DECIMAL (exact, fold-order-free); the kept test
    // multiplies out the division (sum > t·n) so no float division ever
    // happens. Scale shape: two count aggs over the train split (bigram /
    // unigram keys, uniform by construction), then the score pass joins
    // the exploded held-out bigrams to the count tables — vocab-sized
    // build sides (≪ corpus; broadcast when they fit, and the 1-build-row
    // per key shape means a hot probe key is volume for AQE to split,
    // never a build-side bucket), then one groupBy on doc_id.
    q("x25_lm_perplexity",
      """WITH train AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents WHERE doc_id % 5 != 0),
        |uni AS (
        |  SELECT tok, count(*) AS c1
        |  FROM (SELECT unnest(ts) AS tok FROM train) GROUP BY tok),
        |vc AS (SELECT count(*) AS v FROM uni),
        |bi AS (
        |  SELECT bg, count(*) AS c2
        |  FROM (SELECT unnest([ts[i] || ' ' || ts[i+1]
        |                       for i in range(1, len(ts))]) AS bg FROM train)
        |  GROUP BY bg),
        |held AS (
        |  SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1]
        |                         for i in range(1, len(ts))]) AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
        |        FROM documents WHERE doc_id % 5 = 0)),
        |lp AS (
        |  SELECT h.doc_id,
        |         CAST(round(ln(CAST(coalesce(b.c2, 0) + 1 AS DOUBLE)
        |                      / CAST(coalesce(u.c1, 0) + vc.v AS DOUBLE)), 9)
        |              AS DECIMAL(18,9)) AS lp
        |  FROM held h
        |  LEFT JOIN bi b ON h.bg = b.bg
        |  LEFT JOIN uni u ON string_split(h.bg, ' ')[1] = u.tok
        |  CROSS JOIN vc)
        |SELECT doc_id, count(*) AS n_scored,
        |       CAST(sum(lp) AS DOUBLE) AS sum_logp,
        |       sum(lp) > CAST('-3.43' AS DECIMAL(18,9)) * count(*) AS kept
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val (bi, uni, vocab) = lmCounts(train)
      lmScore(docs.filter(col("doc_id") % 5 === 0), bi, uni, vocab,
              BigDecimal("-3.43"))
        .orderBy("doc_id")
    },

    // Moore-Lewis contrastive data selection (the classic in-domain
    // selection scheme; DSIR is its importance-weighted descendant):
    // score each held-out doc by avg over tokens of
    // ln p_in(tok) − ln p_gen(tok), where p_in is an add-one unigram LM
    // trained on in-domain text (lang = 'en' here) and p_gen on the full
    // train split. Positive score = looks more in-domain than general;
    // selected docs should skew 'en' (TextQueriesSpec asserts the
    // separability). Same determinism scheme as x25 (9-dp rounded lp
    // deltas summed as DECIMAL, multiplied-out threshold) and the same
    // scale shape: vocab-sized count tables, map-heavy score pass, one
    // doc_id agg.
    q("x26_moore_lewis",
      """WITH train AS (
        |  SELECT lang, string_split(text, ' ') AS ts
        |  FROM documents WHERE doc_id % 5 != 0),
        |gen AS (
        |  SELECT tok, count(*) AS cg
        |  FROM (SELECT unnest(ts) AS tok FROM train) GROUP BY tok),
        |ind AS (
        |  SELECT tok, count(*) AS ci
        |  FROM (SELECT unnest(ts) AS tok FROM train WHERE lang = 'en')
        |  GROUP BY tok),
        |gs AS (SELECT CAST(sum(cg) AS BIGINT) AS ng, count(*) AS vg FROM gen),
        |is_ AS (SELECT CAST(coalesce(sum(ci), 0) AS BIGINT) AS ni,
        |               count(*) AS vi FROM ind),
        |held AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 5 = 0),
        |lp AS (
        |  SELECT h.doc_id, h.lang,
        |         CAST(round(ln(CAST(coalesce(i.ci, 0) + 1 AS DOUBLE)
        |                      / CAST(is_.ni + is_.vi AS DOUBLE))
        |                  - ln(CAST(coalesce(g.cg, 0) + 1 AS DOUBLE)
        |                      / CAST(gs.ng + gs.vg AS DOUBLE)), 9)
        |              AS DECIMAL(18,9)) AS d
        |  FROM held h
        |  LEFT JOIN ind i ON h.tok = i.tok
        |  LEFT JOIN gen g ON h.tok = g.tok
        |  CROSS JOIN gs CROSS JOIN is_)
        |SELECT doc_id, any_value(lang) AS lang, count(*) AS n_tokens,
        |       CAST(sum(d) AS DOUBLE) AS sum_delta,
        |       sum(d) > 0 AS selected
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      def counts(df: org.apache.spark.sql.DataFrame, name: String) = df
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as(name))
      val gen = counts(train, "cg")
      val ind = counts(train.filter(col("lang") === "en"), "ci")
      val gs = gen.agg(sum("cg").cast("long").as("ng"), count(lit(1)).as("vg"))
      val is = ind.agg(coalesce(sum("ci"), lit(0L)).cast("long").as("ni"),
                       count(lit(1)).as("vi"))
      docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
                explode(split(col("text"), " ", -1)).as("tok"))
        .join(ind, Seq("tok"), "left")
        .join(gen, Seq("tok"), "left")
        .crossJoin(broadcast(gs)).crossJoin(broadcast(is))
        .select(col("doc_id"), col("lang"),
          round(log((coalesce(col("ci"), lit(0L)) + 1).cast("double") /
                    (col("ni") + col("vi")).cast("double")) -
                log((coalesce(col("cg"), lit(0L)) + 1).cast("double") /
                    (col("ng") + col("vg")).cast("double")), 9)
            .cast("decimal(18,9)").as("d"))
        .groupBy("doc_id")
        .agg(first("lang").as("lang"), count(lit(1)).as("n_tokens"),
             sum("d").cast("double").as("sum_delta"),
             (sum("d") > 0).as("selected"))
        .orderBy("doc_id")
    },

    // Per-domain KL divergence from the corpus token distribution —
    // the drift/contamination monitor a corpus pipeline runs per
    // ingest batch (a source whose KL jumps changed its content mix).
    // KL(p_s ‖ q) over the full corpus vocabulary with add-one
    // smoothing on both sides, so zero-count cells contribute their
    // smoothed mass and the sum is a true (non-negative) divergence.
    // Determinism: same scheme as x25/x26 — each grid cell's term
    // rounds to 9 dp and sums as DECIMAL; only the final per-source
    // total terminal-casts to DOUBLE. Scale shape: the term grid is
    // |domains| × |vocab| BY CONSTRUCTION (that is the quantity being
    // summed, not an accidental blow-up): corpus counts broadcast
    // against the ~20-row per-source totals, the per-source counts
    // arrive by an equi-join on (source, tok), and the corpus scan is
    // one partial-agg'd token count.
    q("x27_domain_kl",
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |corpus AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |gs AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM corpus),
        |src AS (SELECT source, tok, count(*) AS cs FROM toks GROUP BY source, tok),
        |stot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM src GROUP BY source),
        |grid AS (
        |  SELECT st.source, st.ns, co.tok, co.c, coalesce(s.cs, 0) AS cs
        |  FROM stot st CROSS JOIN corpus co
        |  LEFT JOIN src s ON s.source = st.source AND s.tok = co.tok),
        |terms AS (
        |  SELECT source, ns,
        |         CAST(round((CAST(cs+1 AS DOUBLE)/CAST(ns+gs.v AS DOUBLE))
        |              * ln( (CAST(cs+1 AS DOUBLE)*CAST(gs.n+gs.v AS DOUBLE))
        |                   /(CAST(ns+gs.v AS DOUBLE)*CAST(c+1 AS DOUBLE))), 9)
        |              AS DECIMAL(18,9)) AS t
        |  FROM grid CROSS JOIN gs)
        |SELECT source, any_value(ns) AS n_tokens, CAST(sum(t) AS DOUBLE) AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val (corpus, gs) = corpusCounts(docs)
      val src = docs
        .select(col("source"), explode(split(col("text"), " ", -1)).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
      klScore(src, "source", corpus, gs).orderBy("source")
    },

    // Sliding-window chunking with overlap (RAG / embedding-prep): 32-token
    // windows at stride 24 (8-token overlap), ragged last window. A start
    // offset is emitted only if it adds tokens beyond the previous window's
    // end (range stop = max(n - overlap, 1)), so no chunk is fully contained
    // in its predecessor. Map-only: tokenize once, explode the precomputed
    // start offsets, slice per start — no shuffle except the oracle-
    // determinism sort; at 100 TB this is scan-bound and embarrassingly
    // parallel, and the parquet reader prunes to (doc_id, text).
    q("x28_chunk_overlap",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |st AS (SELECT doc_id, ts,
        |              unnest(range(0, greatest(len(ts) - 8, 1), 24)) AS s
        |       FROM toks)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |       array_to_string(ts[s+1 : s+32], ' ') AS chunk_text,
        |       CAST(len(ts[s+1 : s+32]) AS BIGINT) AS n_chunk_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      chunkWindows(Tables.load(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")
    },

    // Zipf rank-frequency slope — the standard corpus-health check (a
    // healthy natural-language corpus has log-freq ~ -1 × log-rank; a
    // slope collapsing toward 0 means template/boilerplate flooding).
    // Closed-form OLS of ln(freq) on ln(rank) over the top-1000 terms.
    // Determinism: the x25 scheme — each ln rounds to 9 dp DECIMAL(18,9),
    // products/sums stay exact decimal in both engines, and only the
    // final already-aggregated scalars terminal-cast to DOUBLE. Scale
    // shape: one partial-agg'd term count, TakeOrdered top-1000 (the
    // global window runs on the 1000-row limit result, never the vocab),
    // then a 1000-row single-pass OLS aggregate.
    q("x30_zipf_slope",
      """WITH tf AS (
        |  SELECT term, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |top AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r
        |  FROM tf ORDER BY c DESC, term LIMIT 1000),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
        |         CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        |  FROM top),
        |s AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts)
        |SELECT n_terms,
        |       CAST(sx AS DOUBLE) AS sum_lnr, CAST(sy AS DOUBLE) AS sum_lnf,
        |       round((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |            /(n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |         AS zipf_slope
        |FROM s""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
      val top = tf.orderBy(col("c").desc, col("term")).limit(1000)
        .withColumn("r",
          row_number().over(Window.orderBy(col("c").desc, col("term"))))
      val pts = top.select(
        round(log(col("r").cast("double")), 9).cast("decimal(18,9)").as("x"),
        round(log(col("c").cast("double")), 9).cast("decimal(18,9)").as("y"))
      pts.agg(count(lit(1)).as("n_terms"),
              sum("x").as("sx"), sum("y").as("sy"),
              sum(col("x") * col("y")).as("sxy"),
              sum(col("x") * col("x")).as("sxx"))
        .select(col("n_terms"),
          col("sx").cast("double").as("sum_lnr"),
          col("sy").cast("double").as("sum_lnf"),
          round((col("n_terms") * col("sxy").cast("double") -
                 col("sx").cast("double") * col("sy").cast("double")) /
                (col("n_terms") * col("sxx").cast("double") -
                 col("sx").cast("double") * col("sx").cast("double")), 6)
            .as("zipf_slope"))
    },

    // Heaps'-law vocabulary growth — x30's companion corpus-health curve:
    // new distinct terms per corpus decile and the cumulative vocabulary.
    // Natural text keeps adding vocabulary sub-linearly forever; a curve
    // that flatlines early means a closed template vocabulary (exactly
    // what the synthetic corpus shows). One pass: each term maps to the
    // FIRST decile it appears in (min over an exploded scan — partial-
    // agg'd on the term key, no per-decile rescans), then a 10-row
    // cumulative sum. The decile boundary uses integer arithmetic on
    // doc_id against a 1-row max scalar, identical in both engines.
    q("x31_heaps_growth",
      """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |tok AS (
        |  SELECT (doc_id * 10) // m AS d, unnest(string_split(text, ' ')) AS term
        |  FROM documents CROSS JOIN mx),
        |ft AS (SELECT term, min(d) AS f FROM tok GROUP BY term),
        |nt AS (SELECT f AS decile, count(*) AS new_terms FROM ft GROUP BY f)
        |SELECT decile, new_terms,
        |       CAST(sum(new_terms) OVER (ORDER BY decile) AS BIGINT) AS vocab_cum
        |FROM nt ORDER BY decile""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val mx = docs.agg((max("doc_id") + 1).as("m"))
      val ft = docs.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 10) div m").as("d"),
                explode(split(col("text"), " ", -1)).as("term"))
        .groupBy("term").agg(min("d").as("f"))
      ft.groupBy(col("f").as("decile"))
        .agg(count(lit(1)).as("new_terms"))
        .withColumn("vocab_cum",
          sum("new_terms").over(
            Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("decile")
    },

    // Per-doc top-5 TF-IDF terms (keyword extraction / doc profiling).
    // Determinism: idf = ln((N+1)/(df+1)) + 1 rounds to 9 dp and casts to
    // DECIMAL(18,9) (the x25/x26/x27 scheme), so score = cnt × idf is
    // decimal-exact cross-engine; rank orders by (score DESC, term ASC)
    // with the exact decimal, and only the output column terminal-casts
    // to DOUBLE. Scale shape: tf is one partial-agg'd shuffle on
    // (doc_id, term); df one on term; the df join is also on term — a
    // stopword key is hot on the probe side but the build side is one
    // row per term, so a shuffled hash join carries it without skew
    // mitigation; the top-k window partitions by doc_id (uniform).
    // N arrives as a broadcast 1-row cross join, never a collect.
    q("x29_tfidf_topk",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM tok GROUP BY term),
        |nd AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         tf.cnt * CAST(round(ln(CAST(nd.n + 1 AS DOUBLE)
        |                               / CAST(df.dfreq + 1 AS DOUBLE)) + 1.0, 9)
        |                       AS DECIMAL(18,9)) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN nd)
        |SELECT doc_id, rnk, term, CAST(score AS DOUBLE) AS tfidf
        |FROM (SELECT doc_id, term, score,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY score DESC, term) AS rnk
        |      FROM scored)
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
      val dfreq = tok.groupBy("term").agg(countDistinct("doc_id").as("dfreq"))
      val nd = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          // cnt as DECIMAL(19,0), not long: long promotes to DECIMAL(20,0)
          // and 20+18+1 > 38 overflows Spark's decimal precision cap, which
          // silently drops the product to scale 8; 19+18+1 = 38 stays exact
          // AND covers the full long range (no 1e10 per-doc term-count bound).
          (col("cnt").cast("decimal(19,0)") *
            round(log((col("n") + 1).cast("double") /
                      (col("dfreq") + 1).cast("double")) + 1.0, 9)
              .cast("decimal(18,9)")).as("score"))
      import org.apache.spark.sql.expressions.Window
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("term"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("rnk"), col("term"),
          col("score").cast("double").as("tfidf"))
        .orderBy("doc_id", "rnk")
    },

    // Deterministic epoch shuffle — the training-order permutation every
    // multi-epoch run needs: each (doc, epoch) pair gets the sort key
    // mix64(doc_id*3 + epoch) (the native codegen scrambler), so every
    // epoch is an independent, reproducible global permutation — same
    // order on any cluster size, any partitioning, any restart, with NO
    // stored shuffle manifest. Scale shape: the sort is Spark's
    // range-partitioned exchange (the TeraSort shape — sample, range-
    // split, sort within partitions) and positions come from GlobalRank's
    // zipWithIndex pass, NOT a row_number() over a partitionless window
    // (which would move 100 TB into one task). The oracle regenerates the
    // keys via the staged mod-2^64 replay and re-ranks; ordering
    // reinterprets the u64 key as the SIGNED long Spark sorts.
    q("x32_epoch_shuffle",
      s"""WITH e0 AS (
         |  SELECT doc_id, unnest(range(0, 3)) AS epoch FROM documents),
         |e AS (
         |  SELECT doc_id, epoch, CAST(doc_id * 3 + epoch AS UBIGINT) AS mkin
         |  FROM e0),
         |${OracleU64.mix64Ctes("e", "mkin", "mk", "mkout", "mx")},
         |keyed AS (
         |  SELECT doc_id, epoch, ${OracleU64.toSigned("mkout")} AS skey FROM mk)
         |SELECT epoch,
         |       row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id) AS pos,
         |       doc_id
         |FROM keyed ORDER BY epoch, pos""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select("doc_id")
      val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
      val keyed = d
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .withColumn("skey", expr("mix64(doc_id * 3 + epoch)"))
      graft.operators.GlobalRank
        .withGlobalRank(keyed, "gpos", col("epoch"), col("skey"), col("doc_id"))
        .crossJoin(nDocs)
        // each epoch holds exactly n_docs rows, so the global rank over
        // (epoch, key) folds into a per-epoch 1-based position exactly
        .select(col("epoch"), (col("gpos") - col("epoch") * col("n_docs")).as("pos"),
                col("doc_id"))
        .orderBy("epoch", "pos")
    },

    // x33 — token-budget-constrained domain mixture selection: the sampling
    // step that turns per-domain mixture weights into an actual document
    // list. Per source, docs are ranked by quality (mean chars per token,
    // best first) and taken greedily while the cumulative token count stays
    // within the domain's budget (here 30% of its total tokens — a fixed
    // uniform mixture; non-uniform weights are one literal map away).
    //
    // Shape: one shuffle by source for the budget agg (broadcast back — a
    // #domains-row dim) and one window per source for the rank + running
    // sum. Token counts and cumulative sums are exact integers, so the
    // budget cut is engine-portable. At 100 TB the per-domain window is the
    // textbook low-cardinality skew (20 domains = 20 sequential chains);
    // the scale path is the two-pass partial-rank offset pattern
    // `GlobalRank` implements — per-partition partial token sums, then a
    // broadcast prefix-offset join — which keeps every core busy. The
    // greedy-cut semantics and the oracle are unchanged under that swap.
    q("x33_token_budget_mix",
      """WITH d AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         CAST(n_chars AS DOUBLE) /
        |           CAST(len(string_split(text, ' ')) AS DOUBLE) AS quality
        |  FROM documents),
        |b AS (
        |  SELECT source, 3 * CAST(sum(n_tokens) AS DOUBLE) / 10.0 AS budget
        |  FROM d GROUP BY source),
        |r AS (
        |  SELECT d.source, d.doc_id, d.quality, b.budget,
        |         row_number() OVER w AS rk,
        |         CAST(sum(n_tokens) OVER (PARTITION BY d.source
        |           ORDER BY quality DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_tokens
        |  FROM d JOIN b USING (source)
        |  WINDOW w AS (PARTITION BY d.source ORDER BY quality DESC, doc_id))
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk, cum_tokens
        |FROM r WHERE cum_tokens <= budget
        |ORDER BY source, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val nTok = size(split(col("text"), " ")).cast("long")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), nTok.as("n_tokens"),
          (col("n_chars").cast("double") / nTok.cast("double")).as("quality"))
      val budgets = broadcast(d.groupBy("source")
        .agg((lit(3) * sum("n_tokens").cast("double") / lit(10.0)).as("budget")))
      val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      d.join(budgets, "source")
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum_tokens",
          sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)))
        .filter(col("cum_tokens") <= col("budget"))
        .select("source", "doc_id", "rk", "cum_tokens")
        .orderBy("source", "rk")
    },

    // x35 — phrase search over a positional postings index: the
    // search-engine shape. The corpus becomes (term, doc, pos) postings;
    // a phrase query is an equi-join of the two terms' posting lists on
    // (doc, adjacent positions) — at 100 TB the postings are the standing
    // bucketed/sorted index and a query touches only the two terms'
    // lists, never the corpus. Counting is in token space (overlap-safe:
    // "w w w" has TWO "w w" hits), which a consumed-scan regex would
    // undercount — the oracle replays the same position arithmetic with
    // a filtered list comprehension.
    q("x35_phrase_search",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |SELECT doc_id,
        |       CAST(len([i for i in range(1, len(ts))
        |                 if ts[i] = 'table' AND ts[i+1] = 'hash'])
        |            AS BIGINT) AS n_hits
        |FROM t
        |WHERE len([i for i in range(1, len(ts))
        |           if ts[i] = 'table' AND ts[i+1] = 'hash']) > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val postings = Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "term")
      val t1 = postings.filter(col("term") === "table")
        .select(col("doc_id"), col("p").as("p1"))
      val t2 = postings.filter(col("term") === "hash")
        .select(col("doc_id"), col("p").as("p2"))
      t1.join(t2, Seq("doc_id")).filter(col("p2") === col("p1") + 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },

    // Temperature-resampled domain mixture (round 7) — the T<1
    // multinomial UPSAMPLING standard in multilingual/multi-domain
    // pretraining (x15 is the downsampling-to-budget sibling): sampling
    // mass p_i ∝ tokens_i^α (α = 0.5) flattens the domain distribution,
    // so low-resource sources REPEAT (multiplier > 1×) while the head
    // shrinks. The realized plan is deterministic: per-source multiplier
    // in integer basis points (one floor over doubles whose inputs are
    // DECIMAL-exact — sqrt is IEEE-correctly-rounded in both engines,
    // the s_i sum is exact decimal, then a single ×/÷ chain), per-doc
    // repetition = bp div 10⁴ + {0,1} by the LCG hash on doc_id (x10's
    // portable sampler). Scale shape: two tiny per-source aggs broadcast
    // back over one corpus pass; the training manifest is one
    // explode(sequence(1, rep)) away, never materialized here. Output:
    // the sampling plan + realized doc/token counts per source.
    q("x36_temperature_mix",
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |srcs AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |  FROM d GROUP BY source),
        |ws AS (
        |  SELECT *, CAST(round(sqrt(CAST(tokens_total AS DOUBLE)), 6)
        |                 AS DECIMAL(18,6)) AS s
        |  FROM srcs),
        |scal AS (SELECT sum(s) AS s_sum,
        |                CAST(sum(tokens_total) AS BIGINT) AS tok_all FROM ws),
        |rates AS (
        |  SELECT source, n_docs, tokens_total,
        |         CAST(floor(10000.0 * (CAST(tok_all AS DOUBLE) *
        |              (CAST(s AS DOUBLE) / CAST(s_sum AS DOUBLE))) /
        |              CAST(tokens_total AS DOUBLE)) AS BIGINT) AS mult_bp
        |  FROM ws CROSS JOIN scal),
        |per AS (
        |  SELECT d.source,
        |         (r.mult_bp // 10000) +
        |         CASE WHEN (d.doc_id * 1103515245 + 12345) % 10000
        |                   < r.mult_bp % 10000 THEN 1 ELSE 0 END AS rep,
        |         d.n_tokens
        |  FROM d JOIN rates r USING (source))
        |SELECT r.source, r.n_docs, r.tokens_total, r.mult_bp,
        |       CAST(sum(p.rep) AS BIGINT) AS docs_out,
        |       CAST(sum(p.rep * p.n_tokens) AS BIGINT) AS tokens_out
        |FROM rates r JOIN per p ON r.source = p.source
        |GROUP BY r.source, r.n_docs, r.tokens_total, r.mult_bp
        |ORDER BY r.source""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      val srcs = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_total"))
      val ws = srcs.withColumn("s",
        round(sqrt(col("tokens_total").cast("double")), 6).cast("decimal(18,6)"))
      val scal = ws.agg(sum("s").as("s_sum"),
                        sum("tokens_total").cast("long").as("tok_all"))
      val rates = ws.crossJoin(broadcast(scal))
        .withColumn("mult_bp",
          floor(lit(10000.0) * (col("tok_all").cast("double") *
              (col("s").cast("double") / col("s_sum").cast("double"))) /
            col("tokens_total").cast("double")).cast("long"))
        .select("source", "n_docs", "tokens_total", "mult_bp")
      val per = d.join(broadcast(rates.select("source", "mult_bp")), "source")
        .withColumn("rep",
          expr("mult_bp div 10000") +
          when((col("doc_id") * 1103515245L + 12345L) % 10000 <
               col("mult_bp") % 10000, 1L).otherwise(0L))
      per.groupBy("source")
        .agg(sum("rep").cast("long").as("docs_out"),
             sum(col("rep") * col("n_tokens")).cast("long").as("tokens_out"))
        .join(broadcast(rates), "source")
        .select("source", "n_docs", "tokens_total", "mult_bp",
                "docs_out", "tokens_out")
        .orderBy("source")
    },

    // Corpus comparison / domain signature (round 7): which terms
    // DISTINGUISH sub-corpus A (lang='en') from B (everything else) —
    // the log-odds-with-prior tool behind contamination hunts, domain
    // fingerprints, and "what did this crawl add" diffs. Scored by the
    // smoothed odds ratio  (a+1)(Nb−b+1) / ((Na−a+1)(b+1))  computed as
    // ONE double division of two EXACT BIGINT cross-products (counts
    // here keep products < 2^53, so the division is a single correctly-
    // rounded op — bitwise identical on both engines; at 100 TB counts
    // you lift the products into DECIMAL(38,0) before the terminal
    // divide). Monotone in the log-odds score, so the ranking equals
    // the log-odds ranking without ever computing a log (libm log is
    // NOT bitwise portable — the same reason x25 sums DECIMAL lp).
    // Output: top-25 A-discriminative + top-25 B-discriminative terms.
    // Scale shape: one token explode + one (term, side) partial-agg
    // shuffle; the two corpus totals broadcast as 1-row scalars.
    q("x37_corpus_diff",
      """WITH tok AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a, t.term
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)),
        |tc AS (
        |  SELECT term,
        |         CAST(sum(in_a) AS BIGINT) AS a,
        |         CAST(sum(1 - in_a) AS BIGINT) AS b
        |  FROM tok GROUP BY term),
        |tot AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
        |  FROM tc),
        |scored AS (
        |  SELECT term, a, b,
        |         CAST((a + 1) * (nb - b + 1) AS DOUBLE)
        |           / CAST((na - a + 1) * (b + 1) AS DOUBLE) AS odds
        |  FROM tc, tot),
        |side_a AS (
        |  SELECT 'A' AS side, term, a AS n_in, b AS n_out, odds
        |  FROM scored ORDER BY odds DESC, term LIMIT 25),
        |side_b AS (
        |  SELECT 'B' AS side, term, b AS n_in, a AS n_out, odds
        |  FROM scored ORDER BY odds ASC, term LIMIT 25)
        |SELECT * FROM side_a UNION ALL SELECT * FROM side_b
        |ORDER BY side, odds DESC, term""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions.tokens
      val tok = Tables.load(s, dir, "documents")
        .select(when(col("lang") === "en", 1).otherwise(0).as("in_a"),
                explode(tokens(col("text"))).as("term"))
      val tc = tok.groupBy("term")
        .agg(sum("in_a").as("a"), sum(lit(1) - col("in_a")).as("b"))
      val tot = tc.agg(sum("a").as("na"), sum("b").as("nb"))
      val scored = graft.Caches.pin(tc.crossJoin(broadcast(tot))
        .select(col("term"), col("a"), col("b"),
          (((col("a") + 1) * (col("nb") - col("b") + 1)).cast("double")
            / ((col("na") - col("a") + 1) * (col("b") + 1)).cast("double"))
            .as("odds")))
      val sideA = scored.orderBy(desc("odds"), col("term")).limit(25)
        .select(lit("A").as("side"), col("term"),
                col("a").as("n_in"), col("b").as("n_out"), col("odds"))
      val sideB = scored.orderBy(col("odds"), col("term")).limit(25)
        .select(lit("B").as("side"), col("term"),
                col("b").as("n_in"), col("a").as("n_out"), col("odds"))
      sideA.unionByName(sideB).orderBy(col("side"), desc("odds"), col("term"))
    },

    // x39 (round 10) — overlapping sliding-window chunking: the
    // embedding-prep / RAG-ingest operator (split every document into
    // W-token windows advancing by stride S < W, so context is never
    // cut at a hard boundary). MAP-ONLY: size + explode(sequence) +
    // slice are all codegen'd collection expressions, no shuffle
    // anywhere except the terminal determinism sort (stripped by the
    // bench) — the shape that tokenize-and-chunk keeps at 100 TB,
    // where this runs as a pure scan-side transform feeding the
    // embedding batch scorer (mm*/K4). Chunk count is exact integer
    // arithmetic — ceil((n−W)/S)+1, floor-div form — so both engines
    // agree on every boundary; the last chunk is the short tail.
    q("x39_chunk_overlap",
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         unnest(range(0, CASE WHEN n <= 64 THEN 1
        |                             ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx,
        |         toks
        |  FROM d)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS chunk_len,
        |       array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
        |         AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val W = 64
      val S = 48
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          when(col("n") <= W, lit(1L))
            .otherwise(expr(s"(n - $W + ${S - 1}) div $S + 1")))
        .select(col("doc_id"), col("n"), col("toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(W.toLong), col("n") - col("chunk_idx") * S).as("chunk_len"),
          array_join(slice(col("toks"),
            (col("chunk_idx") * S + 1).cast("int"), lit(W)), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // x40 (round 10) — deterministic stratified sampling with EXACT
    // per-stratum quotas: the train/eval carve-out operator (take
    // exactly ceil(20% · n_source) docs per source, chosen by the
    // portable mix64 order so the sample is reproducible across
    // engines, runs, and partitionings — no rand(), no seed state).
    // Shape (round 11): the GlobalRank two-pass — ONE range-partitioned
    // sort on (source, skey, doc_id) + per-partition offsets, then the
    // per-stratum rank folds out of the global rank by subtracting each
    // stratum's prefix offset (rows in strictly-preceding sources; a
    // window over the #sources-row count frame, bounded by source
    // cardinality). Round 10 shipped this as a Window.partitionBy(source)
    // rank with the swap documented-but-unwired; SkewStressSpec's
    // dominant-stratum fixture (85% one source) measures why the swap is
    // the production shape: the window serializes the dominant stratum
    // into ONE task, the range exchange splits it on the mix64 key. The
    // HASH-THRESHOLD twin (keep iff mix64(key) < frac · 2⁶⁴ — map-only,
    // no sort, quota approximate) remains the fully shuffle-free variant
    // for quota-tolerant pipelines.
    q("x40_stratified_sample", {
      import OracleU64.{mix64Ctes, toSigned}
      s"""WITH d0 AS (
        |  SELECT doc_id, source, CAST(doc_id AS UBIGINT) AS mkin
        |  FROM documents),
        |${mix64Ctes("d0", "mkin", "mk", "mkout", "sx")},
        |keyed AS (
        |  SELECT doc_id, source, ${toSigned("mkout")} AS skey FROM mk),
        |n AS (SELECT source, count(*) AS n_src FROM keyed GROUP BY source),
        |r AS (
        |  SELECT k.source, k.doc_id, k.skey, n.n_src,
        |         row_number() OVER (PARTITION BY k.source
        |                            ORDER BY k.skey, k.doc_id) AS rk
        |  FROM keyed k JOIN n USING (source))
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= (n_src + 4) // 5
        |ORDER BY source, rk""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                expr("mix64(doc_id)").as("skey"))
      val n = d.groupBy("source").agg(count(lit(1)).as("n_src"))
      // stratum prefix offsets over the tiny per-source count frame
      // (global window, bounded by source cardinality — PlanHygieneSpec
      // allowlisted); broadcast back over the ranked facts
      val offs = broadcast(n.withColumn("off",
        coalesce(sum("n_src").over(Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
      graft.operators.GlobalRank
        .withGlobalRank(d, "gpos", col("source"), col("skey"), col("doc_id"))
        .join(offs, "source")
        .withColumn("rk", col("gpos") - col("off"))
        .filter(col("rk") <= expr("(n_src + 4) div 5"))
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    },

    // x41 (round 10) — intra-document REPETITION quality gate (the
    // Gopher data-rules family x3's surface ratios don't cover):
    // duplicate-bigram fraction and most-common-token share, published
    // in exact integer basis points with the gate verdict. Repetitive
    // machine-generated or boilerplate text scores high on BOTH while
    // length/stopword ratios (x3) stay normal — this is the standard
    // LLM-corpus filter those rules add. Thresholds (800 / 1600 bp)
    // sit at ~p95 of the synthetic corpus so the gate actually fires
    // in every gate decade. Shape: the bigram stats are MAP-ONLY
    // codegen'd collection ops; the top-token count is the one honest
    // shuffle — (doc_id, token)-keyed, uniform, partial-aggregated —
    // NOT a per-doc O(n²) HOF scan, which would die on 10k-token docs.
    q("x41_repetition_ratio",
      s"""WITH $repCtes
        |SELECT doc_id, n_tokens, rep2_bp, top_tok_bp, flagged
        |FROM rep ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.TextFunctions
        .repetitionMetrics(Tables.load(s, dir, "documents"))
        .orderBy("doc_id")
    },

    // x42 (round 11) — CALIBRATION BINS + ECE over a gate score: the
    // model-eval operator every quality-classifier pipeline runs
    // (reliability diagram + expected calibration error). Here the
    // "model" is x41's repetition score (confidence = the gate's own
    // basis-point score, capped at 10000) against its flag verdict —
    // a deterministic score/label pair, so the WHOLE computation is
    // exact integer arithmetic: per-1000-bp bin, n / mean-confidence /
    // accuracy / |gap| in bp, and ECE = Σ n·gap div N riding every row
    // as the a10-style broadcast scalar. Swap any real model's scores
    // in and the operator is unchanged. Shape: the gate metrics are
    // x41's map-only/one-shuffle stats; binning adds ONE ≤10-key
    // aggregate; the ECE scalar is a 1-row broadcast.
    q("x42_calibration_bins",
      s"""WITH $repCtes,
        |s AS (SELECT least(rep2_bp + top_tok_bp, 10000) AS s_bp, flagged
        |      FROM rep),
        |b AS (SELECT least(s_bp // 1000, 9) AS bin,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(s_bp) AS BIGINT) AS sum_s,
        |             CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |      FROM s GROUP BY 1),
        |g AS (SELECT bin, n, sum_s // n AS conf_bp,
        |             n_pos * 10000 // n AS acc_bp,
        |             abs(sum_s // n - n_pos * 10000 // n) AS gap_bp
        |      FROM b),
        |e AS (SELECT CAST(sum(n * gap_bp) // sum(n) AS BIGINT) AS ece_bp FROM g)
        |SELECT bin, n, conf_bp, acc_bp, gap_bp, ece_bp
        |FROM g CROSS JOIN e ORDER BY bin""".stripMargin) { (s, dir) =>
      val rep = graft.functions.TextFunctions
        .repetitionMetrics(Tables.load(s, dir, "documents"))
      val b = rep
        .select(least(col("rep2_bp") + col("top_tok_bp"), lit(10000L)).as("s_bp"),
                col("flagged"))
        .groupBy(expr("least(s_bp div 1000, 9)").as("bin"))
        .agg(count(lit(1)).as("n"), sum("s_bp").as("sum_s"),
             sum(when(col("flagged"), 1L).otherwise(0L)).as("n_pos"))
      val g = b.select(col("bin"), col("n"),
          expr("sum_s div n").as("conf_bp"),
          expr("n_pos * 10000 div n").as("acc_bp"),
          expr("abs(sum_s div n - n_pos * 10000 div n)").as("gap_bp"))
      val e = g.agg(expr("sum(n * gap_bp) div sum(n)").cast("long").as("ece_bp"))
      g.crossJoin(broadcast(e)).orderBy("bin")
    },

    // x43 (round 11) — INTER-GATE AGREEMENT (Cohen's kappa): when two
    // quality gates disagree, is it noise or signal? The operator every
    // multi-filter pipeline needs before composing gates (two gates
    // with kappa ≈ 1 are redundant; ≈ 0, independent; < 0, adversarial).
    // Here: x41's repetition gate vs a surface gate (stopword share
    // < 3% — machine/boilerplate text is stopword-poor). Confusion
    // counts are exact BIGINTs from integer-bp comparisons; kappa is
    // ONE formula string spliced into both engines over those counts
    // (the a36 discipline), rounded at 6 dp. Shape: two map-only gate
    // passes + x41's one shuffle, then a single 4-counter aggregate.
    q("x43_gate_agreement",
      s"""WITH $repCtes,
        |q2 AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(ts,
        |              t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT)
        |           AS stop_cnt,
        |         CAST(len(ts) AS BIGINT) AS n_tok
        |  FROM d),
        |gx AS (
        |  SELECT r.doc_id, r.flagged AS a_flag,
        |         (q2.stop_cnt * 10000 // q2.n_tok) < 300 AS b_flag
        |  FROM rep r JOIN q2 ON q2.doc_id = r.doc_id),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN a_flag AND b_flag THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |  CAST(sum(CASE WHEN a_flag AND NOT b_flag THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |  CAST(sum(CASE WHEN NOT a_flag AND b_flag THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |  CAST(sum(CASE WHEN NOT a_flag AND NOT b_flag THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM gx)
        |SELECT n11, n10, n01, n00,
        |       (n11 + n10) * 10000 // (n11 + n10 + n01 + n00) AS a_rate_bp,
        |       (n11 + n01) * 10000 // (n11 + n10 + n01 + n00) AS b_rate_bp,
        |       $kappaExpr AS kappa
        |FROM c""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val rep = graft.functions.TextFunctions.repetitionMetrics(docs)
        .select(col("doc_id"), col("flagged").as("a_flag"))
      val surface = docs.select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), " +
             "t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT)")
          .as("stop_cnt"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
        .select(col("doc_id"),
          (expr("stop_cnt * 10000 div n_tok") < 300).as("b_flag"))
      rep.join(surface, "doc_id")
        .agg(
          sum(when(col("a_flag") && col("b_flag"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("a_flag") && !col("b_flag"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a_flag") && col("b_flag"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("a_flag") && !col("b_flag"), 1L).otherwise(0L)).as("n00"))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          expr("(n11 + n10) * 10000 div (n11 + n10 + n01 + n00)").as("a_rate_bp"),
          expr("(n11 + n01) * 10000 div (n11 + n10 + n01 + n00)").as("b_rate_bp"),
          expr(kappaExpr).as("kappa"))
    },
  )
}
