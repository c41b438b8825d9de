package graft.operators

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

/** Both edit-distance self-joins against brute force on text that is not
  * one UTF-16 unit per character: Spark's `levenshtein` and `length`
  * count code points, so the joins' gram and deletion hashes must too, or
  * an edit next to a surrogate pair silently drops a qualifying pair. The
  * alphabet mixes ASCII, two astral characters (surrogate pairs) and a
  * combining mark. Shrinking is off: each case runs Spark jobs, and a
  * shrink search takes hundreds of cases. */
object EditDistanceProps extends Properties("EditDistanceJoin") {

  private lazy val spark = Graft.session(Some(SparkSpec.Master))

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val symbol = Gen.oneOf("a", "b", "\u0301", "\uD83D\uDE00", "\uD835\uDC9C")
  private def word(min: Int, max: Int) = Gen.choose(min, max).flatMap(Gen.listOfN(_, symbol))

  /** One code-point edit: insert, delete or substitute a symbol. */
  private def edited(w: List[String]): Gen[List[String]] = for {
    op <- Gen.choose(0, 2); sym <- symbol; i <- Gen.choose(0, w.length)
  } yield {
    val j = math.min(i, w.length - 1)
    if (op == 0 || w.isEmpty) w.patch(i, List(sym), 0)
    else if (op == 1) w.patch(j, Nil, 1)
    else w.updated(j, sym)
  }

  /** Pairs of words one or two edits apart, long enough that the gram
    * join's prefix filter (not its short-string fallback) must find them,
    * among unrelated short words. */
  private val corpus: Gen[Seq[String]] = for {
    bases <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, word(4, 12)))
    near <- Gen.sequence[List[List[String]], List[String]](
      bases.map(b => Gen.oneOf(edited(b), edited(b).flatMap(edited))))
    noise <- Gen.listOfN(6, word(0, 5))
  } yield (bases ++ near ++ noise).map(_.mkString)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** (a_id, b_id, dist) for every pair within k: the cross join, no filter. */
  private def brute(strs: Seq[String], k: Int): Set[(Long, Long, Long)] = {
    val df = frame(strs)
    pairs(df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.s"), col("b.s")).cast("long").as("d"))
      .filter(col("d") <= k))
  }

  private def frame(strs: Seq[String]) = {
    val s = spark
    import s.implicits._
    strs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "s")
  }

  property("j17's deletion-neighbourhood join finds every pair within k code-point edits") =
    forAllNoShrink(corpus, Gen.oneOf(1, 2)) { (strs, k) =>
      val want = brute(strs, k)
      val got = pairs(EditDistanceJoin.deletionSelfJoin(frame(strs), "id", "s", k))
      (got == want) :| s"k=$k missing ${want -- got}, extra ${got -- want}"
    }

  property("j18's q-gram prefix join finds every pair within k code-point edits") =
    forAllNoShrink(corpus, Gen.oneOf(1, 2)) { (strs, k) =>
      val want = brute(strs, k)
      val got = pairs(EditDistanceJoin.selfJoin(frame(strs), "id", "s", k, q = 2))
      (got == want) :| s"k=$k missing ${want -- got}, extra ${got -- want}"
    }
}
