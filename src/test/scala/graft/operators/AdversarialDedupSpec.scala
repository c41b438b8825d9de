package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The STANDING adversarial-dedup guardrail (round-13 verdict ask #5):
  * a CI-sized replica of tools/make_adversarial.py's fixture, run on
  * every `sbt test`, so the df-ascending prefix order cannot be
  * re-ordered next round without a test going red. The full-scale
  * numbers (×1/×10/×30 decades, wall clocks, the 1.144 B bucket-pair
  * counterfactual at 30 copies) live in SCALING.md's adversarial-decade
  * tables, measured over `tools/make_adversarial.py` fixtures — this spec
  * holds the LINE at CI size through the same `NearDupPairs.stats` and
  * `shFrame` hooks.
  *
  * Fixture (the make_adversarial.py recipes, in memory, ~2k docs):
  *  - corpus-wide boilerplate: a universal 3-token phrase on 30% of
  *    every copy's docs (one shingle with df = 30% of the corpus) and
  *    four 4-token family phrases on a further 40% (10% each) — shared
  *    VERBATIM across copies, the channel that makes a df-ignorant
  *    prefix order quadratic;
  *  - cross-copy near-dup cliques: every 40th doc is an 80-token base
  *    with an 11-token copy-specific mutation block → J = 65/91 ≈ 0.714
  *    between any two copies, so TRUE pairs grow C(copies, 2) per base;
  *  - everything else copy-suffixed (shingle-disjoint across copies).
  */
class AdversarialDedupSpec extends SparkSpec {

  private val Copies = 5
  private val BaseDocs = 400
  private val CliqueEvery = 40 // bases at i % 40 == 7 → 10 bases

  private def docText(i: Int, c: Int): String = {
    if (i % CliqueEvery == 7) {
      val toks = Array.tabulate(80)(j => s"cq${i}t$j")
      for (j <- 30 until 41) toks(j) = s"cq${i}m${c}y${j - 30}"
      toks.mkString(" ")
    } else {
      val base = (0 until 40).map(j => s"d${i}w$j")
      val t = if (c == 0) base else base.map(_ + s"_$c")
      val m = i % 10
      val tail =
        if (m < 3) Seq("advhot1", "advhot2", "advhot3") // universal, 30%
        else if (m < 7) { val k = i % 4                 // families, 10% each
          Seq(s"bp${k}a", s"bp${k}b", s"bp${k}c", s"bp${k}d") }
        else Seq.empty
      (t ++ tail).mkString(" ")
    }
  }

  private lazy val shingled: DataFrame = {
    import spark.implicits._
    val rows = for (c <- 0 until Copies; i <- 0 until BaseDocs)
      yield ((c * 1000000 + i).toLong, docText(i, c))
    rows.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("s"))
  }

  /** Σ_h C(n_h, 2) over prefix buckets — the bucket-pair-volume
    * counterfactual at CI size (computed by
    * aggregation; the hashed-order join itself would BE the blowup). */
  private def bucketPairVolume(sh: DataFrame): Long =
    sh.select(col("doc_id"),
        explode(slice(col("hs"), lit(1),
          (col("sz") - ceil(col("sz") * 0.7) + 1).cast("int"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) DIV 2"))).head.getLong(0)

  test("all cross-copy clique pairs found; candidates track true pairs, not corpus^2") {
    val bases = (0 until BaseDocs).filter(_ % CliqueEvery == 7)
    val wantPairs = (for {
      i <- bases
      ca <- 0 until Copies
      cb <- ca + 1 until Copies
    } yield ((ca * 1000000 + i).toLong, (cb * 1000000 + i).toLong)).toSet
    assert(wantPairs.size == bases.size * Copies * (Copies - 1) / 2)

    val got = NearDupPairs.over(shingled)
      .select("doc_a", "doc_b", "jraw").collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((wantPairs -- gotPairs).isEmpty,
      s"${(wantPairs -- gotPairs).size} cross-copy true pairs MISSED — " +
      "the prefix filter dropped real near-dups")
    // every reported pair must be a clique pair (boilerplate alone can
    // never reach J >= 0.7 on 40-token docs), at the designed J = 65/91
    assert(gotPairs == wantPairs, s"unexpected extra pairs: ${gotPairs -- wantPairs}")
    got.foreach(r => assert(math.abs(r.getDouble(2) - 65.0 / 91.0) < 1e-9))

    val (nCand, nPairs) = NearDupPairs.stats(shingled)
    assert(nPairs == wantPairs.size.toLong)
    // candidates must track TRUE PAIRS (the fixture's legitimate
    // C(copies,2) growth), never the corpus-squared a hot boilerplate
    // bucket would produce: 2000 docs → ~2.0M unordered pairs. The
    // decades measure the slope; this bound fails any plan that admits
    // the df=30% shingle into prefixes.
    assert(nCand <= nPairs * 20,
      s"$nCand candidates for $nPairs true pairs — prefix selection " +
      "admitted hot shingles (df order broken?)")
  }

  test("df-ascending prefix order beats the df-ignorant order by >= 10x bucket volume") {
    val dfOrder = NearDupPairs.shFrame(shingled).cache()
    val bpvDf = bucketPairVolume(dfOrder)
    dfOrder.unpersist(blocking = false)
    // the counterfactual: hashed (df-ignorant) global order, the
    // pre-round-9 shape — boilerplate shingles land in prefixes and
    // their inverted-index buckets go quadratic in the hot tier
    val hashOrder = shingled
      .select(col("doc_id"), explode(col("s")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
      .withColumn("sz", size(col("hs")))
    val bpvHash = bucketPairVolume(hashOrder)
    info(s"bpv_df=$bpvDf bpv_hash=$bpvHash (${bpvHash.toDouble / bpvDf}x)")
    assert(bpvDf < bpvHash / 10,
      s"df-ascending order no longer suppresses the boilerplate channel: " +
      s"bpv_df=$bpvDf vs bpv_hash=$bpvHash — prefix selection re-ordered?")
  }
}
