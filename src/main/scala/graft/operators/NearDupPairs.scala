package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact J ≥ 0.7 near-dup pairs over a shingled frame `(doc_id, s)` via
  * PPJoin-style prefix filtering (reference dedups by full-text
  * equality only; this is the corpus-scale generalization).
  *
  * Shingles hash to 64-bit keys (string equality ⇔ hash equality up to
  * a ~n²/2⁶⁵ collision) and every doc sorts its hash set by GLOBAL
  * DOCUMENT FREQUENCY ascending, (df, h) lexicographic — the canonical
  * PPJoin/Vernica ordering. The prefix (first L − ⌈0.7·L⌉ + 1 elements)
  * then holds each doc's RAREST shingles, so the inverted-index buckets
  * the candidate self-join explodes on are the LOW-df ones: candidate
  * volume is Σ_h df_prefix(h)², and putting common shingles in prefixes
  * (round ≤ 9 hashed order) makes that quadratic in the hottest bucket
  * — the difference between 173k and 32k candidates on the sf0.1
  * corpus, and between feasible and quadratic at 10⁹ docs.
  *
  * Candidates are then pruned by the tight PPJoin pair bound before the
  * verify join ever sees them: for a pair sharing `cnt` prefix elements
  * whose LAST shared prefix element sits at positions (pa, pb), every
  * shared element ≤ that one is itself a prefix match in both docs
  * (positions are monotone in the shared total order), so
  * `overlap ≤ cnt + min(sza − pa, szb − pb)`; J ≥ 0.7 needs
  * `overlap ≥ ⌈7·(sza+szb)/17⌉` and the filter is exact-integer
  * (`bound·17 ≥ 7·(sza+szb)`). Size-ratio prune (min/max ≥ 0.7) inside
  * the join; exact Jaccard on the full hash sets afterwards. Never
  * materializes the O(n²) cross product: every exchange carries uniform
  * 8-byte hash keys or (id, size, pos) ints.
  *
  * Returns (doc_a, doc_b, jraw) with doc_a < doc_b and jraw ≥ 0.7 —
  * order-invariant, so the round-10 reordering cannot move any oracle.
  */
object NearDupPairs {

  /** Memoized per (session, canonicalized input plan) in
    * [[graft.Caches.memo]]: d2, d5 and the x18 pipeline all ask for pairs
    * over semantically identical shingle frames, so one computation
    * serves them all, and only the SMALL pairs result stays resident (the
    * wide hashed-shingle pin is released as soon as the pairs
    * materialize). */
  def over(shingled: DataFrame): DataFrame =
    graft.Caches.memo(shingled.sparkSession,
        ("neardup pairs", shingled.queryExecution.analyzed.canonicalized))(
      compute(shingled))

  private def compute(shingled: DataFrame): DataFrame = {
    // `sh` is read three times (inverted index + both verify-join
    // sides), so it is pinned for the duration of the call; the small
    // pairs result is checkpointed so the pin can be released before
    // returning.
    val sh = graft.Caches.pin(shFrame(shingled))
    try graft.Caches.checkpoint(verify(sh, candidatesOf(sh)))
    finally graft.Caches.release(sh)
  }

  /** Document frequency per shingle hash (one agg over the exploded
    * sets), then each doc re-assembles its hashes sorted by (df, h) —
    * a global total order, so positions are comparable across docs.
    * package-visible for AdversarialDedupSpec's bucket-pair-volume
    * counterfactual (df order vs hashed order). */
  private[graft] def shFrame(shingled: DataFrame): DataFrame = {
    val ex = shingled
      .select(col("doc_id"), explode(col("s")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    // df via groupBy + join-back, NOT a count window partitioned by h.
    // Round 10 tried the window (one less corpus pass, ~0.3 s at
    // sf0.1) and SkewStressSpec rejected it: a window moves FULL ROWS
    // through the h-exchange with no map-side combine, so a dominant
    // shingle serializes into one task — the groupBy's partial
    // aggregation collapses the hot key per map partition before the
    // exchange, and the join-back broadcasts (or AQE-skew-splits) the
    // tiny df side. Skew robustness beats the saved pass at 10⁹ docs.
    val freq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(freq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("fh"))
      .select(col("doc_id"), transform(col("fh"), _.getField("h")).as("hs"))
      .withColumn("sz", size(col("hs")))
  }

  /** Positional inverted index over prefixes only (pos is the 1-based
    * rank of the element in the doc's (df, h)-sorted hash array) →
    * candidate pairs surviving the size-ratio and tight positional
    * bounds. */
  private def candidatesOf(sh: DataFrame): DataFrame = {
    val inv = sh.select(col("doc_id"), col("sz"),
      posexplode(slice(col("hs"), lit(1),
        (col("sz") - ceil(col("sz") * 0.7) + 1).cast("int"))))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("pos"),
        col("col").as("sh_h"))
    inv.as("a")
      .join(inv.as("b"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * lit(10) >= col("b.sz") * 7 &&
        col("b.sz") * lit(10) >= col("a.sz") * 7)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .groupBy("doc_a", "doc_b", "sza", "szb")
      .agg(count(lit(1)).as("cnt"), max("pa").as("pamax"), max("pb").as("pbmax"))
      .filter((col("cnt") +
               least(col("sza") - col("pamax"), col("szb") - col("pbmax"))) * 17
                >= (col("sza") + col("szb")) * 7)
      .select("doc_a", "doc_b")
  }

  /** Exact Jaccard on the full hash sets over the candidates. */
  private def verify(sh: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("sz").as("sza")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("sz").as("szb")), "doc_b")
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jraw", col("c").cast("double") / (col("sza") + col("szb") - col("c")))
      .filter(col("jraw") >= 0.7)
      .select(col("doc_a"), col("doc_b"), col("jraw"))

  /** Candidate and true pair counts for a shingled frame, through the
    * exact plan `over` runs — the candidates/true-pairs ratio is the
    * number the prefix ordering's "linear-ish at 10⁹ docs" claim rests
    * on (AdversarialDedupSpec asserts it; SCALING.md records the
    * decades). Not memoized; bypasses `over`'s cache. */
  private[graft] def stats(shingled: DataFrame): (Long, Long) = {
    val sh = graft.Caches.pin(shFrame(shingled))
    val cand = graft.Caches.pin(candidatesOf(sh))
    try (cand.count(), verify(sh, cand).count())
    finally { graft.Caches.release(cand); graft.Caches.release(sh) }
  }
}
