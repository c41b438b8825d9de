package graft.operators

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

/** Both containment joins against brute-force set containment, in the
  * shapes of d10 (self-join, t = 4/5) and d11 (probe join, t = 1/4, the
  * probe side `id % 5 == 0` against the rest). The shingles are strings
  * over an alphabet of ASCII, two astral characters (surrogate pairs) and
  * a combining mark, so a join that split or normalized a shingle would
  * show. Shrinking is off: each case runs Spark jobs, and a shrink search
  * takes hundreds of cases. */
object ContainmentProps extends Properties("ContainmentJoin") {

  private lazy val spark = Graft.session(Some(SparkSpec.Master))

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val symbol = Gen.oneOf("a", "b", "\u0301", "\uD83D\uDE00", "\uD835\uDC9C")
  private val shingle = Gen.choose(1, 3).flatMap(Gen.listOfN(_, symbol)).map(_.mkString)
  private val doc = Gen.choose(1, 8).flatMap(Gen.listOfN(_, shingle)).map(_.distinct)

  /** Random documents, each followed by one derived from it: a non-empty
    * subset (contained in its base) or the base plus new shingles (its
    * base is contained in it). Every document has at least one shingle,
    * as every d10 document does. */
  private val corpus: Gen[Seq[Seq[String]]] = for {
    bases <- Gen.choose(3, 10).flatMap(Gen.listOfN(_, doc))
    derived <- Gen.sequence[List[Seq[String]], Seq[String]](bases.map(b => Gen.oneOf(
      Gen.atLeastOne(b).map(_.toSeq),
      Gen.choose(1, 3).flatMap(Gen.listOfN(_, shingle)).map(extra => (b ++ extra).distinct))))
  } yield bases ++ derived

  private def frame(docs: Seq[Seq[String]]): DataFrame = {
    val s = spark
    import s.implicits._
    docs.zipWithIndex.map { case (sh, i) => (i.toLong, sh) }.toDF("id", "sh")
  }

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** (a, b, |a ∩ b| / |a|) for every pair from `pairs` at containment ≥ tNum/tDen. */
  private def brute(docs: Seq[Seq[String]], tNum: Int, tDen: Int)
                   (pairs: (Long, Long) => Boolean): Set[(Long, Long, Double)] = {
    val sets = docs.map(_.toSet).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b && pairs(a, b)
      inter = (sa intersect sb).size
      if inter * tDen >= tNum * sa.size
    } yield (a, b, inter.toDouble / sa.size.toDouble)).toSet
  }

  property("d10's self-join finds every pair at containment >= 4/5") =
    forAllNoShrink(corpus) { docs =>
      val want = brute(docs, 4, 5)((_, _) => true)
      val got = triples(ContainmentJoin.selfJoin(frame(docs), "id", "sh", 4, 5))
      (got == want) :| s"missing ${want -- got}, extra ${got -- want}"
    }

  property("d11's probe join finds every probe-index pair at containment >= 1/4") =
    forAllNoShrink(corpus) { docs =>
      val want = brute(docs, 1, 4)((a, b) => a % 5 == 0 && b % 5 != 0)
      val df = frame(docs)
      val id = df("id")
      val got = triples(ContainmentJoin.probeJoin(
        df.filter(id % 5 === 0), df.filter(id % 5 =!= 0), "id", "sh", 1, 4))
      (got == want) :| s"missing ${want -- got}, extra ${got -- want}"
    }
}
