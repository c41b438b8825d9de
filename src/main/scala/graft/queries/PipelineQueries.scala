package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document featurization result of [[PipelineQueries.docFeatUdf]]:
  * one compiled pass emits every scalar the x18/x19 gates need. */
case class DocFeat(nTokens: Long, nStop: Long, sumLen: Long, pred: String,
                   nBg: Long, nBgDistinct: Long)

/** The end-to-end pretraining-corpus pipeline: every cleaning stage the
  * engine provides, composed in the order a production corpus build runs
  * them (builder prompt; stages are the x-family operators):
  *
  *   raw → language gate (x2) → quality gates (x3/x17) → exact dedup (d1)
  *       → near-dedup (d2's prefix-filter pairs) → decontamination (x16)
  *       → token packing (x8)
  *
  * x18 emits the surviving corpus with its pack assignment (per-doc rows —
  * the strongest cross-engine check); x19 emits the per-stage funnel
  * report (docs + tokens after each stage) a pipeline operator watches.
  *
  * Scale shape at 100 TB: the language/quality gates are map-only over the
  * scan; exact dedup is one shuffle on a 128-bit digest; near-dedup is the
  * prefix-filtered inverted-index join (uniform 8-byte keys, never O(n²) —
  * swap in d3's LSH banding above ~10⁹ docs, detection ≈1 at J ≥ 0.7);
  * decontamination is a map-only filter against a plan-literal benchmark
  * set; packing is a per-source window, never global. Every gate uses
  * INTEGER threshold arithmetic (n_stop·50 ≥ n_tokens etc.), so no float
  * boundary can flip a keep/drop decision between engines.
  */
object PipelineQueries {

  /** Shared DuckDB CTE chain replicating each stage. */
  private val stageCte = {
    val stopList = langProfiles.head._2.map("'" + _ + "'").mkString(",")
    val scoreList = langProfiles.map { case (_, ws) =>
      s"len(list_filter(ts, x -> x IN (${ws.map("'" + _ + "'").mkString(",")})))"
    }.mkString(",\n    ")
    val codeList = langProfiles.map("'" + _._1 + "'").mkString(",")
    s"""WITH t AS (
       |  SELECT doc_id, source, text, string_split(text, ' ') AS ts FROM documents),
       |feat AS (
       |  SELECT doc_id, source, text, ts, len(ts) AS n_tokens,
       |         len(list_filter(ts, x -> x IN ($stopList))) AS n_stop,
       |         list_reduce(list_prepend(0::BIGINT,
       |           list_transform(ts, x -> CAST(length(x) AS BIGINT))),
       |           (a, b) -> a + b) AS sum_len,
       |         [$scoreList] AS scores,
       |         [array_to_string(ts[i:i+1], ' ')
       |           for i in range(1, greatest(len(ts), 2))] AS bg
       |  FROM t),
       |s1 AS (
       |  SELECT * FROM feat
       |  WHERE [$codeList][list_position(scores, list_max(scores))] = 'en'),
       |s2 AS (
       |  SELECT * FROM s1
       |  WHERE n_tokens >= 10
       |    AND n_stop * 50 >= n_tokens
       |    AND sum_len >= 3 * n_tokens AND sum_len <= 12 * n_tokens
       |    AND (len(bg) - len(list_distinct(bg))) * 10 <= 3 * len(bg)),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
       |s3 AS (SELECT s2.* FROM s2 JOIN keepers USING (doc_id)),
       |sh3 AS (
       |  SELECT doc_id, source, n_tokens,
       |         list_distinct([array_to_string(ts[i:i+2], ' ')
       |           for i in range(1, greatest(len(ts) - 1, 2))]) AS s
       |  FROM s3),
       |nd AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0
       |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7),
       |s4 AS (SELECT * FROM sh3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
       |ev AS (
       |  SELECT list_distinct(flatten(list(list_distinct(
       |           [array_to_string(string_split(text, ' ')[i:i+2], ' ')
       |             for i in range(1, greatest(len(string_split(text, ' ')) - 1, 2))])))) AS es
       |  FROM documents WHERE doc_id % 29 = 0),
       |s5 AS (
       |  SELECT s4.doc_id, s4.source, s4.n_tokens
       |  FROM s4 CROSS JOIN ev
       |  WHERE coalesce(len(list_intersect(s4.s, es)), 0) < 3)""".stripMargin
  }

  /** One compiled pass per document over the whitespace tokens: counts,
    * stopword hits, char sum, per-profile language scores (argmax,
    * first-profile tie-break — langId's exact rule), and bigram
    * duplication stats. Replaces five interpreted HOF lambdas
    * (filter/aggregate/transform ×2 + langId's per-profile filters) that
    * boxed every token through Catalyst's lambda evaluator, AND drops the
    * materialized non-distinct bigram array (≈2× the text, previously
    * cached) in favor of two scalar counts. Same split semantics as
    * Spark's `split(text, " ")`: limit −1 keeps trailing empties. */
  private val docFeatUdf = udf { (text: String) =>
    // null-safe like the HOF form it replaced (split(null) -> null row)
    if (text == null) null
    else {
    val ts = text.split(" ", -1)
    val n = ts.length
    var sumLen = 0L
    var i = 0
    while (i < n) { sumLen += ts(i).length; i += 1 }
    val scores = new Array[Int](profileSets.length)
    i = 0
    while (i < n) {
      var p = 0
      while (p < profileSets.length) {
        if (profileSets(p)(ts(i))) scores(p) += 1
        p += 1
      }
      i += 1
    }
    var best = 0
    var p = 1
    while (p < scores.length) { if (scores(p) > scores(best)) best = p; p += 1 }
    // bigrams as x18's oracle defines them: indices 1..max(n−1,1); a
    // single-token doc contributes its one token as its one "bigram"
    val nBg = math.max(n - 1, 1)
    val seen = new java.util.HashSet[String](nBg * 2)
    if (n == 1) seen.add(ts(0))
    else {
      i = 0
      while (i < n - 1) { seen.add(ts(i) + " " + ts(i + 1)); i += 1 }
    }
    DocFeat(n.toLong, scores(0).toLong, sumLen, profileCodes(best),
      nBg.toLong, seen.size.toLong)
    }
  }
  private val profileSets: Array[Set[String]] =
    langProfiles.map(_._2.toSet).toArray
  private val profileCodes: Array[String] = langProfiles.map(_._1).toArray

  /** Spark stage frames (raw-features, lang, quality, exact, neardup,
    * decon), built once per (session, data dir) in
    * [[graft.Caches.memo]] and shared by x18/x19, so the second caller
    * reuses the two pinned frames instead of pinning a second copy in
    * storage memory; `Caches.reset` frees both with the memo. The
    * near-dup drop rule is greedy-by-id: a doc is dropped when ANY lower-id
    * survivor is a J ≥ 0.7 near-dup (same rule on both engines; full
    * transitive clustering is d5's job). */
  private def built(s: SparkSession, dir: String): (Seq[(String, DataFrame)], DataFrame) =
    graft.Caches.memo(s, ("pipeline stages", dir))(buildStages(s, dir))

  private def stages(s: SparkSession, dir: String): Seq[(String, DataFrame)] =
    built(s, dir)._1

  /** One row per RAW doc with `stage_reached` = index of the last stage
    * the doc survives (0_raw=0 .. 5_decon=5) — x19's single-pass input. */
  private def labeled(s: SparkSession, dir: String): DataFrame = built(s, dir)._2

  private def buildStages(s: SparkSession, dir: String): (Seq[(String, DataFrame)], DataFrame) = {
    val docs = Tables.load(s, dir, "documents")
    // x19 aggregates 3 stages over this frame; x18 re-walks it
    val feat = graft.Caches.pin(docs
      .select(col("doc_id"), col("source"), col("text"), docFeatUdf(col("text")).as("ft"))
      .select(col("doc_id"), col("source"), col("text"),
        col("ft.nTokens").as("n_tokens"), col("ft.nStop").as("n_stop"),
        col("ft.sumLen").as("sum_len"), col("ft.pred").as("pred"),
        col("ft.nBg").as("n_bg"), col("ft.nBgDistinct").as("n_bg_distinct")))
    val s1 = feat.filter(col("pred") === "en")
    val s2 = s1.filter(
      col("n_tokens") >= 10 &&
      col("n_stop") * 50 >= col("n_tokens") &&
      col("sum_len") >= col("n_tokens") * 3 &&
      col("sum_len") <= col("n_tokens") * 12 &&
      (col("n_bg") - col("n_bg_distinct")) * 10 <= col("n_bg") * 3)
    val keepers = s2
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val s3 = s2.join(keepers, Seq("doc_id"), "left_semi")
    val sh3 = graft.Caches.pin(s3
      .select(col("doc_id"), col("source"), col("n_tokens"), shingles(col("text"), 3).as("s")))
    val nd = graft.operators.NearDupPairs.over(sh3.select("doc_id", "s"))
      .select(col("doc_b").as("doc_id")).distinct()
    val s4 = sh3.join(nd, Seq("doc_id"), "left_anti")
    // benchmark set: collected once at plan build as 8-byte xxhash64
    // keys (16× smaller than the strings; hash ⇔ string equality up to
    // ~n²/2⁶⁵ as in d2/x14). Small by construction in production — a
    // held-out eval set, not a corpus slice.
    val evalSh = graft.functions.BoundedCollect.longs(
      docs.filter(col("doc_id") % 29 === 0)
        .select(explode(shingles(col("text"), 3)).as("g"))
        .select(xxhash64(col("g")).as("h"))
        .distinct(),
      "x18 stage-5 benchmark shingle set")
    val overlap = overlapCounterHashed(s, evalSh) // broadcast set, O(|s|)/row
    val s5 = s4.filter(overlap(transform(col("s"), xxhash64(_))) < 3)
      .select("doc_id", "source", "n_tokens")

    // x19 single-pass input (round-9 verdict ask #1b): label every RAW
    // doc with the LAST stage it survives, so the funnel is ONE
    // aggregate job over this frame instead of six over the nested
    // stage frames. Semantics are identical to the nested filters
    // because the stages are strictly nested as doc_id sets:
    //   stage 0 fail: language gate (null-safe — null text ⇒ null pred
    //     ⇒ stopped here, matching feat's null n_tokens row surviving
    //     only the raw count);
    //   stage 1 fail: quality predicate (all columns non-null once the
    //     language gate passed);
    //   stage 2 fail: not the min-doc_id keeper of its md5(text) group
    //     among quality survivors (left-join marker on `keepers`);
    //   stage 3 fail: greedy-by-id near-dup drop (marker on `nd`);
    //   stage 4 fail: benchmark-overlap ≥ 3. Every doc reaching the
    //     stage-3/4 branches is in sh3 by construction (s3 = sh3 rows),
    //     so the ndFlags left join can only be null for docs already
    //     stopped by an earlier branch.
    val qualOk =
      col("n_tokens") >= 10 &&
      col("n_stop") * 50 >= col("n_tokens") &&
      col("sum_len") >= col("n_tokens") * 3 &&
      col("sum_len") <= col("n_tokens") * 12 &&
      (col("n_bg") - col("n_bg_distinct")) * 10 <= col("n_bg") * 3
    val ndFlags = sh3
      .join(nd.withColumn("nd_drop", lit(true)), Seq("doc_id"), "left")
      .withColumn("decon_ok", overlap(transform(col("s"), xxhash64(_))) < 3)
      .select(col("doc_id"),
        coalesce(col("nd_drop"), lit(false)).as("nd_drop"), col("decon_ok"))
    val labeledDf = feat
      .join(keepers.withColumn("exact_keep", lit(true)), Seq("doc_id"), "left")
      .join(ndFlags, Seq("doc_id"), "left")
      .withColumn("stage_reached",
        when(not(col("pred") <=> lit("en")), lit(0))
          .when(not(qualOk), lit(1))
          .when(col("exact_keep").isNull, lit(2))
          .when(col("nd_drop"), lit(3))
          .when(not(col("decon_ok")), lit(4))
          .otherwise(lit(5)))
      .select("doc_id", "n_tokens", "stage_reached")

    (Seq("0_raw" -> feat, "1_lang" -> s1, "2_quality" -> s2,
         "3_exact" -> s3, "4_neardup" -> s4, "5_decon" -> s5),
     labeledDf)
  }

  val defs: Seq[QueryDef] = Seq(

    q("x18_pretrain_pipeline",
      s"""$stageCte,
         |pk AS (
         |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s5)
         |SELECT doc_id, source, n_tokens,
         |       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
         |FROM pk ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s5 = stages(s, dir).last._2
      s5.withColumn("cum", sum("n_tokens").over(
          Window.partitionBy("source").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / lit(512.0)).cast("long").as("pack_id"))
        .orderBy("doc_id")
    },

    q("x19_pipeline_funnel",
      s"""$stageCte
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM feat
         |  UNION ALL SELECT '1_lang', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_quality', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s2
         |  UNION ALL SELECT '3_exact', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s3
         |  UNION ALL SELECT '4_neardup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s4
         |  UNION ALL SELECT '5_decon', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s5)
         |ORDER BY stage""".stripMargin) { (s, dir) =>
      // Single-pass funnel (round-9 verdict ask #1b): a doc whose last
      // surviving stage is r is counted in stages 0..r, so exploding
      // sequence(0, stage_reached) (≤ 6 tiny ints per doc) and grouping
      // once replaces the previous SIX aggregate jobs over the nested
      // stage frames — one job, 6× smaller ambient-noise cross-section.
      // The 6-row literal scaffold keeps empty trailing stages present
      // (count 0, null token sum) exactly as the oracle's UNION ALL does;
      // the equi-join on k broadcasts, no BNLJ.
      val perStage = labeled(s, dir)
        .select(explode(sequence(lit(0), col("stage_reached"))).as("k"),
          col("n_tokens"))
        .groupBy("k")
        .agg(count(lit(1)).as("d"), sum("n_tokens").as("t"))
      val scaffold = s.createDataFrame(
        Seq("0_raw", "1_lang", "2_quality", "3_exact", "4_neardup", "5_decon")
          .zipWithIndex).toDF("stage", "k")
      scaffold.join(perStage, Seq("k"), "left")
        .select(col("stage"), coalesce(col("d"), lit(0L)).as("n_docs"),
          col("t").as("n_tokens"))
        .orderBy("stage")
    },
  )
}
