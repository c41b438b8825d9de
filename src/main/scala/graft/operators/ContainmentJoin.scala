package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-containment similarity self-join: all ordered pairs (a, b) with
  * |S_a ∩ S_b| / |S_a| ≥ t — the ASYMMETRIC near-duplicate relation
  * (quotes, wrappers, boilerplate-plus-payload) that symmetric Jaccard
  * (d2/d3) cannot express: a short document fully quoted inside a long
  * one has high containment but low Jaccard.
  *
  * Candidate generation is the prefix-filter principle applied to
  * containment (the Ed-Join/PPJoin family): if |S_a ∩ S_b| ≥ ⌈t·|S_a|⌉,
  * then among ANY |S_a| − ⌈t·|S_a|⌉ + 1 elements of S_a at least one is
  * in S_b — so indexing only a's (1−t)-fraction rarest shingles (global
  * document-frequency order) against b's full set is lossless. The
  * threshold is kept as a ratio tNum/tDen so every filter and the verify
  * are EXACT integer comparisons (tDen·|∩| ≥ tNum·|S_a|); only the
  * reported score divides.
  *
  * JOSIE-style index-side pruning (round 7; position/length filters in
  * the candidate join, both integer-exact and lossless):
  *
  *  - LENGTH: |∩| ≤ |S_b|, so a candidate with tDen·nb < tNum·na can
  *    never verify — pruned before the distinct/verify.
  *  - POSITIONAL: both sides rank tokens in the SAME global canonical
  *    order, so for the EARLIEST common token of a true pair — at rank
  *    i of na in a, rank j of nb in b, with no common token before
  *    it — the overlap is bounded by 1 + min(na−i, nb−j). If that bound
  *    misses ⌈t·na⌉ the pair cannot verify; later collisions only have
  *    smaller remainders (positions grow on BOTH sides together because
  *    the order is shared), so dropping every failing collision row
  *    never loses a pair whose earliest collision passes — and the
  *    earliest common token of a qualifying pair is always in a's
  *    prefix (prefix theorem) and in b's full index.
  *  - Optionally (boilerplate-heavy corpora), a BLOOM prune of the index
  *    explode against the distinct probe-prefix tokens: hot boilerplate
  *    shingles have high document frequency, so rarest-first prefixes
  *    exclude them and the bloom removes them from the index MAP-SIDE,
  *    before the candidate join's exchange ever sees them. False
  *    positives only re-admit rows the join would drop anyway.
  *
  * 100 TB shape: the probe side explodes ≈ (1−t)·|S_a| + 1 shingles per
  * doc; the candidate join is the only wide op, its input cut by the
  * bloom and its output cut by the length/position filters before the
  * distinct; then an array_intersect verify per candidate, map-side
  * after two id-keyed joins.
  *
  * CACHE LIFECYCLE (round 14, ADVICE): the operators below cache shared
  * sub-frames (`ranked` in [[frames]], `freq` in [[probeJoin]]) for the
  * duration of the returned LAZY plan — the operator cannot unpersist
  * them itself because the consuming action happens in the caller.
  * Callers owning a long-lived session must release them via
  * `spark.catalog.clearCache()` (or `graft.Caches.reset`) between
  * invocations — the bench/verify harness already does.
  */
object ContainmentJoin {

  /** The probe-prefix and index frames the candidate join runs over.
    * Public so the pruning/bloom cut can be MEASURED, not argued
    * (ContainmentJoinSpec / SCALING.md). */
  def frames(df: DataFrame, idCol: String, shCol: String,
             tNum: Int, tDen: Int,
             indexBloomItems: Option[Long] = None): (DataFrame, DataFrame) = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"need 0 < t <= 1; got $tNum/$tDen")
    val base = df.select(col(idCol).as("sid"), col(shCol).as("sh"),
                         size(col(shCol)).cast("long").as("n"))
    // shingles HASH to 64-bit keys at explode (round 13, the
    // j17/j18/NearDupPairs discipline): the freq aggregate, rank window
    // and candidate equi-join below all key on longs instead of shingle
    // strings — cheaper aggregate hashing, 8-byte exchange keys (guide
    // §2.3). Lossless: the prefix theorem and the JOSIE length/position
    // bounds hold for ANY shared total order ((df, hash) is one), a
    // collision only MERGES shingle identities, so it can add candidates
    // but never lose one. The verify in selfJoin/probeJoin is hash-exact,
    // not string-exact: it intersects the same xxhash64 sets, so when a
    // shingle of a and a DIFFERENT shingle of b (one a lacks) share a
    // hash, |∩| over-counts by one and a pair just under the threshold
    // can pass (odds ≈ na·nb / 2⁶⁴ per pair). The brute-force oracle
    // compares strings and never sees the candidate set.
    val exploded = base.select(col("sid"), col("n"), explode(col("sh")).as("gs"))
      .select(col("sid"), col("n"), xxhash64(col("gs")).as("g"))
    // global shingle document-frequency → rarest-first canonical order;
    // ONE ranking pass yields both the probe prefix and the index position.
    // cached (round 13): the prefix and index sides BOTH read this frame,
    // and when the candidate join broadcasts one side Catalyst cannot
    // reuse the other side's exchange — uncached, the whole
    // explode → df-join → rank pipeline ran twice (visible as two full
    // Window subtrees in the before-plan). One materialization, same rows.
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    val ranked = exploded.join(freq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy("sid").orderBy(col("df"), col("g"))).cast("long"))
      .cache()
    // prefix size = n - ceil(t*n) + 1, all in integers
    // (integer ceil division (div, not `/`): the double route is exact
    // only below 2^53 and this bound must never shrink the prefix)
    val prefix = ranked
      .filter(col("rk") <= col("n") -
        expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select(col("sid").as("a_id"), col("g"),
              col("rk").as("a_rk"), col("n").as("na"))
    val indexAll = ranked.select(col("sid").as("b_id"), col("g"),
                                 col("rk").as("b_rk"), col("n").as("nb"))
    val index = indexBloomItems match {
      case Some(items) =>
        val bf = prefix.stat.bloomFilter("g", items, 0.03)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val mightContain = udf((g: java.lang.Long) =>
          g != null && bc.value.mightContainLong(g))
        indexAll.filter(mightContain(col("g")))
      case None => indexAll
    }
    (prefix, index)
  }

  /** Pre-distinct candidate collision rows (a_id, b_id). `positional`
    * toggles the JOSIE length+position filters; `indexBloomItems` sizes
    * the optional map-side bloom prune of the index explode (None = off). */
  def candidatePairs(df: DataFrame, idCol: String, shCol: String,
                     tNum: Int, tDen: Int, positional: Boolean = true,
                     indexBloomItems: Option[Long] = None): DataFrame = {
    val (prefix, index) = frames(df, idCol, shCol, tNum, tDen, indexBloomItems)
    val joined = prefix.join(index, "g")
      .filter(col("a_id") =!= col("b_id"))
    val pruned =
      if (positional)
        joined
          .filter(col("nb") * tDen >= col("na") * tNum) // length prune
          .filter((lit(1L) + least(col("na") - col("a_rk"),
                                   col("nb") - col("b_rk"))) * tDen >=
            col("na") * tNum) // positional prune
      else joined
    pruned.select("a_id", "b_id")
  }

  /** Asymmetric PROBE join for the incremental/streaming case (the d8
    * pattern): each probe doc `a` is tested for ≥ t containment inside
    * ANY standing index doc `b`. The canonical rarest-first order is
    * FROZEN from the INDEX corpus document frequencies (probe-side
    * shingles unseen by the index get df = 0 — rarest — which is
    * consistent on both sides, so the prefix theorem and the positional
    * bound still hold; such tokens cannot collide anyway). Cost ∝
    * |probe| × bucket hit rate — the standing index is never
    * re-self-joined.
    *
    * Output: a_id (probe), b_id (index), containment = |∩|/|S_a|.
    */
  def probeJoin(probe: DataFrame, index: DataFrame, idCol: String,
                shCol: String, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"need 0 < t <= 1; got $tNum/$tDen")
    def prep(df: DataFrame) =
      df.select(col(idCol).as("sid"), col(shCol).as("sh"),
                size(col(shCol)).cast("long").as("n"))
    val pBase = prep(probe)
    val iBase = prep(index)
    // hashed shingle keys, as in frames() — same losslessness argument,
    // and the frozen-df semantics carry over (an unseen probe hash left-
    // joins to null → df 0, consistent on both sides)
    def hashed(df: DataFrame) = df
      .select(col("sid"), col("n"), explode(col("sh")).as("gs"))
      .select(col("sid"), col("n"), xxhash64(col("gs")).as("g"))
    val iExploded = hashed(iBase)
    // cached (round 13): the frozen index-corpus df table is read by BOTH
    // ranked() calls below (probe side and index side) — uncached, the
    // index explode + aggregate ran twice. Small frame (distinct index
    // shingles), one materialization.
    val freq = iExploded.groupBy("g").agg(count(lit(1)).as("df")).cache()
    def ranked(exploded: DataFrame) = exploded
      .join(freq, Seq("g"), "left")
      .withColumn("dfz", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("sid").orderBy(col("dfz"), col("g"))).cast("long"))
    val pPrefix = ranked(hashed(pBase))
      .filter(col("rk") <= col("n") -
        expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select(col("sid").as("a_id"), col("g"),
              col("rk").as("a_rk"), col("n").as("na"))
    val iIndex = ranked(iExploded)
      .select(col("sid").as("b_id"), col("g"),
              col("rk").as("b_rk"), col("n").as("nb"))
    val cands = pPrefix.join(iIndex, "g")
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("nb") * tDen >= col("na") * tNum)
      .filter((lit(1L) + least(col("na") - col("a_rk"),
                               col("nb") - col("b_rk"))) * tDen >=
        col("na") * tNum)
      .select("a_id", "b_id").distinct()
    // verify on the 64-bit hashed shingle sets (round 14): the candidate
    // pipeline above already equates shingles by xxhash64 — the verify
    // intersect now counts the same hashed identities instead of
    // re-hashing full strings per pair (array_intersect hashes every
    // element of both arrays for every candidate; long keys hash in one
    // op vs a per-char pass, and the verify join's exchange carries
    // 8-byte elements instead of shingle strings). Same losslessness
    // standard as the candidate keys and d2's jraw: a collision can only
    // MERGE identities, and the arrays are pre-distinct.
    cands
      .join(pBase.select(col("sid").as("a_id"),
                         transform(col("sh"), g => xxhash64(g)).as("ha"),
                         col("n").as("na")), "a_id")
      .join(iBase.select(col("sid").as("b_id"),
                         transform(col("sh"), g => xxhash64(g)).as("hb")), "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .filter(col("inter") * tDen >= lit(tNum) * col("na"))
      .select(col("a_id"), col("b_id"),
              (col("inter").cast("double") / col("na").cast("double"))
                .as("containment"))
  }

  /** df must carry (idCol, shCol: array<string> of DISTINCT shingles).
    * Output: a_id, b_id, containment (double), for ordered pairs a ≠ b
    * with containment ≥ tNum/tDen.
    */
  def selfJoin(df: DataFrame, idCol: String, shCol: String,
               tNum: Int, tDen: Int,
               indexBloomItems: Option[Long] = None): DataFrame = {
    val base = df.select(col(idCol).as("sid"), col(shCol).as("sh"),
                         size(col(shCol)).cast("long").as("n"))
    val cands = candidatePairs(df, idCol, shCol, tNum, tDen,
        positional = true, indexBloomItems = indexBloomItems)
      .distinct()
    // hashed verify — see probeJoin's note (round 14).
    cands
      .join(base.select(col("sid").as("a_id"),
                        transform(col("sh"), g => xxhash64(g)).as("ha"),
                        col("n").as("na")), "a_id")
      .join(base.select(col("sid").as("b_id"),
                        transform(col("sh"), g => xxhash64(g)).as("hb")), "b_id")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .filter(col("inter") * tDen >= lit(tNum) * col("na"))
      .select(col("a_id"), col("b_id"),
              (col("inter").cast("double") / col("na").cast("double"))
                .as("containment"))
  }
}
