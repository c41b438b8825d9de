package graft

import graft.domain.Interception
import graft.functions.{WelfordCV, WelfordState}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property suites for the pure (non-Spark) kernels —
  * SURVEY.md §5.4's property-based layer. Runs under sbt's native
  * ScalaCheck integration (no scalatest bridge needed).
  */
object WelfordProps extends Properties("WelfordCV") {

  private val values = Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6))

  private def naiveCV(xs: List[Double]): Double = {
    val n = xs.length
    val mean = xs.sum / n
    if (n < 2 || mean == 0.0) Double.NaN
    else math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)) / mean
  }

  property("matches the naive two-pass CV") = forAll(values) { xs =>
    val got = WelfordCV.finish(xs.foldLeft(WelfordCV.zero)(WelfordCV.reduce))
    val want = naiveCV(xs)
    (got.isNaN && want.isNaN) || math.abs(got - want) <= 1e-8 * math.max(1.0, math.abs(want))
  }

  property("merge is split-invariant") = forAll(values, Gen.choose(0, 1000)) { (xs, cut) =>
    val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
    val (a, b) = xs.splitAt(k)
    def fold(s: List[Double]): WelfordState = s.foldLeft(WelfordCV.zero)(WelfordCV.reduce)
    val whole = WelfordCV.finish(fold(xs))
    val merged = WelfordCV.finish(WelfordCV.merge(fold(a), fold(b)))
    (whole.isNaN && merged.isNaN) ||
      math.abs(whole - merged) <= 1e-8 * math.max(1.0, math.abs(whole))
  }
}

object HllProps extends Properties("HllAgg") {
  import graft.plans.HllAgg

  private val P = 6
  private val keys = Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))

  private def merged(a: Array[Int], b: Array[Int]): Array[Int] =
    a.zip(b).map { case (x, y) => math.max(x, y) }

  private def est(r: Array[Int]): Long =
    HllAgg.estimate(P, r.map(m => BigInt(1) << (59 - m)).sum)

  property("merge is split-invariant (any partitioning, same sketch)") =
    forAll(keys, Gen.choose(0, 1000)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (a, b) = xs.splitAt(k)
      merged(HllAgg.sketchOf(a, P), HllAgg.sketchOf(b, P)).toSeq ==
        HllAgg.sketchOf(xs, P).toSeq
    }

  property("idempotent under re-delivery (xs ++ xs sketches like xs)") =
    forAll(keys) { xs =>
      HllAgg.sketchOf(xs ++ xs, P).toSeq == HllAgg.sketchOf(xs, P).toSeq
    }

  property("permutation-invariant (shuffle order never changes registers)") =
    forAll(keys) { xs =>
      HllAgg.sketchOf(xs.reverse, P).toSeq == HllAgg.sketchOf(xs, P).toSeq
    }

  property("union estimate dominates both sides (registers only grow)") =
    forAll(keys, keys) { (a, b) =>
      val u = est(merged(HllAgg.sketchOf(a, P), HllAgg.sketchOf(b, P)))
      u >= est(HllAgg.sketchOf(a, P)) && u >= est(HllAgg.sketchOf(b, P))
    }
}

object KmvProps extends Properties("KmvAgg") {
  import graft.plans.KmvAgg
  import scala.jdk.CollectionConverters._

  // small k so generated lists actually exercise the truncation branch
  private val K = 16
  private val keys = Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))

  private def sketch(xs: Seq[Long]): Seq[Long] = {
    val s = new java.util.TreeSet[java.lang.Long](KmvAgg.UnsignedOrder)
    xs.foreach(k => KmvAgg.insert(s, graft.domain.Openness.mix64(k), K))
    s.iterator().asScala.map(Long.unbox).toSeq
  }

  private def mergeKept(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
    val s = new java.util.TreeSet[java.lang.Long](KmvAgg.UnsignedOrder)
    (a ++ b).foreach(h => KmvAgg.insert(s, h, K))
    s.iterator().asScala.map(Long.unbox).toSeq
  }

  property("merge is split-invariant (any partitioning, same minima)") =
    forAll(keys, Gen.choose(0, 1000)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (a, b) = xs.splitAt(k)
      mergeKept(sketch(a), sketch(b)) == sketch(xs)
    }

  property("idempotent under re-delivery (xs ++ xs sketches like xs)") =
    forAll(keys)(xs => sketch(xs ++ xs) == sketch(xs))

  property("permutation-invariant (arrival order never changes minima)") =
    forAll(keys)(xs => sketch(xs.reverse) == sketch(xs))

  property("exact below k: estimate == distinct count for unfilled sketches") =
    forAll(Gen.listOf(Gen.choose(-1000L, 1000L))) { xs =>
      val d = xs.distinct
      d.size >= K || KmvAgg.estimate(sketch(d), K) == d.size.toLong
    }

  property("set algebra is exact when neither sketch filled") =
    forAll(Gen.listOf(Gen.choose(0L, 12L)), Gen.listOf(Gen.choose(0L, 12L))) {
      (a, b) =>
        val (u, i, jbp) = KmvAgg.setAlgebra(sketch(a), sketch(b), K)
        val (sa, sb) = (a.toSet, b.toSet)
        val (tu, ti) = ((sa ++ sb).size.toLong, (sa & sb).size.toLong)
        u == tu && i == ti && jbp == (if (tu == 0) 0L else ti * 10000 / tu)
    }
}

object BloomProps extends Properties("BloomAgg") {
  import graft.plans.Sketch.Bloom

  private val Bits = 1 << 10
  private val D = 3
  private val keys = Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))

  property("merge is split-invariant (any partitioning, same bitmap)") =
    forAll(keys, Gen.choose(0, 1000)) { (xs, cut) =>
      val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (a, b) = xs.splitAt(k)
      Bloom.bitmapOf(a, Bits, D).zip(Bloom.bitmapOf(b, Bits, D))
        .map { case (x, y) => x | y }.toSeq ==
        Bloom.bitmapOf(xs, Bits, D).toSeq
    }

  property("idempotent under re-delivery (xs ++ xs == xs)") =
    forAll(keys)(xs =>
      Bloom.bitmapOf(xs ++ xs, Bits, D).toSeq ==
        Bloom.bitmapOf(xs, Bits, D).toSeq)

  property("no false negatives: every inserted key tests positive") =
    forAll(keys) { xs =>
      val w = Bloom.bitmapOf(xs, Bits, D)
      xs.forall(Bloom.contains(w, _, Bits, D))
    }

  property("membership is monotone: a superset bitmap keeps all members") =
    forAll(keys, keys) { (xs, ys) =>
      val w = Bloom.bitmapOf(xs ++ ys, Bits, D)
      xs.forall(Bloom.contains(w, _, Bits, D))
    }
}

object InterceptionProps extends Properties("Interception") {

  private val state = for {
    vp <- Gen.choose(0.5, 11.0)
    vb <- Gen.choose(12.0, 30.0)
    px <- Gen.choose(1.0, 119.0); py <- Gen.choose(1.0, 52.0)
    bx <- Gen.choose(1.0, 119.0); by <- Gen.choose(1.0, 52.0)
    deg <- Gen.choose(0, 359)
  } yield (vp, px, py, vb, bx, by, deg)

  property("radius is positive and finite when the ball is faster") =
    forAll(state) { case (vp, px, py, vb, bx, by, deg) =>
      val r = Interception.radiusAt(vp, px, py, vb, bx, by, math.toRadians(deg))
      r > 0 && java.lang.Double.isFinite(r)
    }

  property("radius is monotone in receiver speed") =
    forAll(state) { case (vp, px, py, vb, bx, by, deg) =>
      val t = math.toRadians(deg)
      Interception.radiusAt(vp, px, py, vb, bx, by, t) <=
        Interception.radiusAt(vp + 1.0, px, py, vb, bx, by, t) + 1e-9
    }

  property("reach point is always inside the field after clamping") =
    forAll(state) { case (vp, px, py, vb, bx, by, deg) =>
      val t = math.toRadians(deg)
      val r = Interception.radiusAt(vp, px, py, vb, bx, by, t)
      val (x, y) = Interception.clampedReach(px, py, t, r)
      x >= 0 && x <= Interception.FieldX && y >= 0 && y <= Interception.FieldY
    }

  property("scaling all speeds scales the radius linearly") =
    forAll(state, Gen.choose(1.1, 3.0)) { case ((vp, px, py, vb, bx, by, deg), k) =>
      val t = math.toRadians(deg)
      val r1 = Interception.radiusAt(vp, px, py, vb, bx, by, t)
      val r2 = Interception.radiusAt(vp * k, px, py, vb * k, bx, by, t)
      // same geometry, faster clock: meet point unchanged ⇒ radius equal
      math.abs(r1 - r2) <= 1e-6 * math.max(1.0, r1)
    }
}

/** The pruned openness kernel against the plain loop it replaces, bit for
  * bit, over rows built to reach every shortcut's edge: zero-speed, NaN
  * and infinitely fast defenders, defenders inside the reach box, on its
  * edge and at the cull bound, receivers at field corners and off the
  * field on both axes (an inverted box), headings below 0, above 2π and
  * aimed so the ±π/8 cone edge crosses the box, `vb` of 0, +∞ and NaN,
  * and empty defender lists.
  */
object OpennessProps extends Properties("Openness") {
  import graft.domain.{Openness, OpennessReference}
  import Gen.{choose, const, frequency, oneOf}
  import Prop.propBoolean

  private val FX = Interception.FieldX
  private val FY = Interception.FieldY
  private val Nan = Double.NaN
  private val Inf = Double.PositiveInfinity

  final case class Row(vs: Double, dir: Double, px: Double, py: Double,
                       dxs: Array[Double], dys: Array[Double], dss: Array[Double],
                       vb: Double, fx: Double, fy: Double, seed: Long) {
    override def toString: String =
      s"Row($vs, $dir, $px, $py, ${dxs.mkString("[", ",", "]")}, " +
        s"${dys.mkString("[", ",", "]")}, ${dss.mkString("[", ",", "]")}, $vb, $fx, $fy, $seed)"
  }

  private val receiver: Gen[(Double, Double)] = frequency(
    6 -> (for { x <- choose(0.0, FX); y <- choose(0.0, FY) } yield (x, y)),
    1 -> oneOf((0.0, 0.0), (FX, 0.0), (0.0, FY), (FX, FY)),
    1 -> (for { x <- choose(FX + 0.5, FX + 2); y <- choose(FY + 0.5, FY + 2) } yield (x, y)))

  private val ballSpeed: Gen[Double] =
    frequency(6 -> choose(5.0, 30.0), 1 -> choose(1e-3, 1.0), 1 -> const(0.0),
              1 -> const(Inf), 1 -> const(Nan))

  private val row: Gen[Row] = for {
    (px, py) <- receiver
    vs <- frequency(6 -> choose(0.05, 7.0), 2 -> choose(0.05, 0.6), 1 -> const(0.0))
    vb <- ballSpeed
    fx <- choose(0.0, FX)
    fy <- choose(0.0, FY)
    // the kernel's reach box, unordered as it computes it
    x0 = math.max(0.0, px - vs); x1 = math.min(FX, px + vs)
    y0 = math.max(0.0, py - vs); y1 = math.min(FY, py + vs)
    (lx, hx) = (math.min(x0, x1), math.max(x0, x1))
    (ly, hy) = (math.min(y0, y1), math.max(y0, y1))
    (farX, farY) = Seq((lx, ly), (lx, hy), (hx, ly), (hx, hy))
      .maxBy { case (cx, cy) => math.hypot(cx - fx, cy - fy) }
    farD = math.hypot(farX - fx, farY - fy)
    tFar = farD / vb
    inBox = for { x <- choose(lx, hx); y <- choose(ly, hy) } yield (x, y)
    dir <- frequency(
      3 -> choose(0.0, 2 * math.Pi),
      1 -> choose(-20.0, 0.0),
      1 -> choose(2 * math.Pi, 30.0),
      2 -> (for { (qx, qy) <- inBox; sign <- oneOf(-1.0, 1.0); turns <- choose(-2, 2) }
            yield math.atan2(qy - py, qx - px) + sign * math.Pi / 8 + turns * 2 * math.Pi))
    defender = frequency(
      6 -> (for { x <- choose(-5.0, FX + 5); y <- choose(-5.0, FY + 5); s <- choose(0.5, 10.0) }
            yield (x, y, s)),
      1 -> (for { x <- choose(0.0, FX); y <- choose(0.0, FY) } yield (x, y, 0.0)),
      1 -> oneOf((Nan, 20.0, 5.0), (30.0, Nan, 5.0), (30.0, 20.0, Nan)),
      1 -> (for { x <- choose(0.0, FX); y <- choose(0.0, FY) } yield (x, y, Inf)),
      1 -> (for { (x, y) <- inBox; s <- choose(0.0, 10.0) } yield (x, y, s)),
      1 -> (for { y <- choose(ly, hy); x <- oneOf(x0, x1); s <- choose(0.5, 10.0) }
            yield (x, y, s)),
      // near the cull bound: past the corner the ball reaches last, on
      // the ray from the thrower, reaching that corner up to 3 % before
      // the ball or 1e-6 after it, so the bound is nearly tight
      3 -> (for { s <- choose(0.5, 10.0); rel <- choose(-0.03, 1e-6) } yield {
              val d = s * tFar * (1 + rel) / farD
              (farX + (farX - fx) * d, farY + (farY - fy) * d, s)
            }))
    m <- frequency(1 -> const(0), 6 -> choose(1, 11))
    ds <- Gen.listOfN(m, defender)
    seed <- Gen.long
  } yield Row(vs, dir, px, py, ds.map(_._1).toArray, ds.map(_._2).toArray,
              ds.map(_._3).toArray, vb, fx, fy, seed)

  property("openCount is bit-identical to the unpruned loop") =
    Prop.forAllNoShrink(row) { r =>
      val got = Openness.openCount(r.vs, r.dir, r.px, r.py, r.dxs, r.dys, r.dss,
        r.vb, r.fx, r.fy, r.seed, 1.0)
      val want = OpennessReference.openCount(r.vs, r.dir, r.px, r.py, r.dxs, r.dys, r.dss,
        r.vb, r.fx, r.fy, r.seed, 1.0)
      (java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want)) :| s"got=$got want=$want"
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(500)
}

/** The x38 oracle-equivalence claim as a law: applying a VALID BPE merge
  * table sequentially in rank order equals the tokenizer-standard
  * iterative lowest-rank-pair encode loop. Valid = each merge's operands
  * are base symbols or outputs of strictly earlier merges — which is
  * what training produces; the suite trains tables on random corpora and
  * then encodes UNSEEN random words both ways. (The proof sketch in
  * BpeQueries' scaladoc: applying merge r everywhere only creates
  * adjacencies involving symbol_r, and every merge consuming symbol_r
  * has rank > r, so the sequential pass can never skip a lower-rank
  * merge the iterative loop would have taken.)
  */
object BpeEncodeProps extends Properties("BpeEncode") {

  private type Merge = (String, String)

  /** Reference trainer (pure model of BpeQueries.trainMerges). */
  private def train(corpus: Seq[String], rounds: Int): Seq[Merge] = {
    var words: Map[Vector[String], Int] = corpus
      .flatMap(_.split(" ").filter(_.length >= 2))
      .groupBy(identity).view.mapValues(_.size).toMap
      .map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = Vector.newBuilder[Merge]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[Merge, Long]
      words.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((l, rr), c) => (-c, l, rr) }._1
        out += best
        words = words.groupBy { case (syms, _) => mergeOnce(syms, best) }
          .map { case (k, vs) => k -> vs.values.sum }
        r += 1
      }
    }
    out.result()
  }

  /** Left-to-right non-overlapping merge of one pair (what `replace`
    * does under the delimiter encoding). */
  private def mergeOnce(syms: Vector[String], m: Merge): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += (m._1 + m._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** x38's form: apply the table sequentially in rank order. */
  private def encodeSeq(word: String, merges: Seq[Merge]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector)(mergeOnce)

  /** Tokenizer-standard form: repeatedly merge the LOWEST-RANK pair
    * present anywhere in the word. */
  private def encodeIter(word: String, merges: Seq[Merge]): Vector[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word.map(_.toString).toVector
    var continue = true
    while (continue && syms.length >= 2) {
      val present = syms.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))).filter(rank.contains).toSeq
      if (present.isEmpty) continue = false
      else syms = mergeOnce(syms, present.minBy(rank))
    }
    syms
  }

  private val corpusGen: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 12)
    ws <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString))
  } yield ws.map(_.take(8))
  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.take(12).mkString)

  property("sequential rank-order apply == iterative lowest-rank encode") =
    forAll(corpusGen, wordGen, Gen.choose(1, 8)) { (corpus, word, rounds) =>
      val merges = train(corpus.map(_.mkString), rounds)
      encodeSeq(word, merges) == encodeIter(word, merges)
    }

  property("encode round-trips: concatenating tokens restores the word") =
    forAll(corpusGen, wordGen, Gen.choose(1, 8)) { (corpus, word, rounds) =>
      val merges = train(corpus.map(_.mkString), rounds)
      encodeSeq(word, merges).mkString == word
    }

  // round 11: the PRODUCTION loop (functions.BpeEncode — the scale twin
  // x38's scaladoc points to for 32k-100k-merge tables) against the
  // chain model, on trained tables DEEPER than the registered query's
  // R=8 so nested-operand merges actually fire
  property("production BpeEncode.encode == sequential chain model") =
    forAll(corpusGen, wordGen, Gen.choose(1, 32)) { (corpus, word, rounds) =>
      val merges = train(corpus.map(_.mkString), rounds)
      val pairs = merges.toIndexedSeq
      graft.functions.BpeEncode
        .encode(word, pairs, pairs.zipWithIndex.toMap).toVector ==
        encodeSeq(word, merges)
    }
}

/** The shared Lloyd fit against the three per-operator loops it
  * replaced (kept in test code as IvfReference, PqReference and
  * IvfPqReference): IVF centroids equal by raw double bits, PQ and
  * residual-PQ codebooks equal as exact longs. Each corpus is fitted by
  * the reference once and by `Lloyd.fit` at 1 and at 7 input
  * partitions. The corpora mix fresh vectors with repeats of a small
  * pool (ties, and cells left empty when seeds coincide), negative
  * components and components at ±k.5e-6 (the micro-rounding edge);
  * IVF corpora run down to a single row, below nCells, and residual
  * inputs are signed micro-units. Each fit is a few Spark jobs, hence
  * the small sample count.
  */
object LloydProps extends Properties("Lloyd") {
  import graft.operators.{IvfAnn, IvfPqReference, IvfReference, PqAnn, PqReference}
  import Gen.{choose, frequency, listOfN, oneOf}
  import Prop.propBoolean
  import org.apache.spark.sql.DataFrame

  private lazy val spark = Graft.session(Some(SparkSpec.Master))

  private val component: Gen[Double] = frequency(
    4 -> choose(-1.0, 1.0),
    2 -> choose(-40, 40).map(k => (k + 0.5) / 1e6),
    1 -> choose(-3, 3).map(_.toDouble))

  /** Unique vec_ids, negative ones included, each with a vector that is
    * either fresh or one of a pool of 1-4 repeated vectors. */
  private def rows[A](minRows: Int, vector: Gen[Array[A]]): Gen[Seq[(Long, Array[A])]] =
    for {
      pool <- choose(1, 4).flatMap(listOfN(_, vector))
      n <- choose(minRows, 40)
      vecs <- listOfN(n, frequency(2 -> vector, 3 -> oneOf(pool)))
      ids <- Gen.listOfN(n, choose(-1000000000L, 1000000000L))
      if ids.distinct.size == n
    } yield ids.zip(vecs)

  private def embeddings(dim: Int, minRows: Int) =
    rows(minRows, listOfN(dim, component).map(_.toArray))

  private def frame(parts: Int, rs: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(rs.map { case (id, v) => (id, v.toSeq) }, parts)
      .toDF("vec_id", "embedding")
  }

  private def resFrame(parts: Int, rs: Seq[(Long, Array[Long])]): DataFrame = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(rs.map { case (id, v) => (id, v.toSeq) }, parts)
      .toDF("vec_id", "res")
  }

  private def bits(c: Array[Array[Double]]): Seq[Seq[Long]] =
    c.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  private def longs(c: Array[Array[Array[Long]]]): Seq[Seq[Seq[Long]]] =
    c.toSeq.map(_.toSeq.map(_.toSeq))

  property("IVF centroids are bit-identical to the reference loop") =
    Prop.forAllNoShrink(oneOf(3, 8).flatMap(embeddings(_, 1)), choose(1, 16)) { (rs, nCells) =>
      val want = bits(IvfReference.fitCentroids(frame(4, rs), nCells))
      Seq(1, 7).forall(p => bits(IvfAnn.fitCentroids(frame(p, rs), nCells)) == want) :|
        s"${rs.size} rows, nCells $nCells"
    }

  property("PQ codebooks are identical to the reference loop") =
    Prop.forAllNoShrink(embeddings(16, PqAnn.K)) { rs =>
      val want = longs(PqReference.fitCodebooks(frame(4, rs)))
      Seq(1, 7).forall(p => longs(PqAnn.fitCodebooks(frame(p, rs))) == want) :|
        s"${rs.size} rows"
    }

  property("residual PQ codebooks are identical to the reference loop") =
    Prop.forAllNoShrink(rows(PqAnn.K,
        listOfN(16, frequency(3 -> choose(-2000000L, 2000000L), 1 -> choose(-3L, 3L)))
          .map(_.toArray))) { rs =>
      val want = longs(IvfPqReference.fitResidualCodebooks(resFrame(4, rs)))
      Seq(1, 7).forall(p => longs(PqAnn.fitMicro(resFrame(p, rs))) == want) :|
        s"${rs.size} rows"
    }

  /** Two vectors sharing a cell with a 9e12 component: their micro sums
    * (about 1.8e19) overflow a Long, so both fits must throw rather than
    * wrap. The PQ corpus is exactly K rows, all seeds, with the two big
    * vectors equal so that both land in the lower of their two cells. */
  property("a Long overflow in the sums throws, as the reference's ANSI sum does") =
    Prop.lzy {
      def arithmetic(t: Throwable): Boolean =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ArithmeticException])
      def throwsArithmetic(body: => Any): Boolean =
        try { body; false } catch { case t: Throwable => arithmetic(t) }
      val big = Array.fill(16)(0.0).updated(3, 9e12)
      val rs = Seq(1L -> big, 2L -> big) ++
        (3L to PqAnn.K.toLong).map(id => id -> Array.fill(16)(id.toDouble / 100))
      val ivf = frame(2, rs.take(2))
      val pq = frame(2, rs)
      Prop.all(
        throwsArithmetic(IvfReference.fitCentroids(ivf, 1)) :| "IVF reference",
        throwsArithmetic(IvfAnn.fitCentroids(ivf, 1)) :| "IVF",
        throwsArithmetic(PqReference.fitCodebooks(pq)) :| "PQ reference",
        throwsArithmetic(PqAnn.fitCodebooks(pq)) :| "PQ")
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)
}
