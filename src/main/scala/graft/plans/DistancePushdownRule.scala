package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Cast, Expression, ExpressionInfo, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** SURVEY.md §7.3 case (c) territory — a demonstrative optimizer
  * `Rule[LogicalPlan]`: a circle predicate `within_dist(x, y, cx, cy, r)`
  * is not sargable (the data source sees an opaque conjunct and scans
  * everything), but it implies the bounding box
  *
  *   cx−r ≤ x ≤ cx+r  AND  cy−r ≤ y ≤ cy+r
  *
  * which IS sargable. The rule prepends those conjuncts with cx±r
  * folded to literals, `PushDownPredicates` moves them to the scan, and
  * Parquet row-group statistics skip everything outside the box — at
  * 100 TB this is the difference between a full scan and reading only
  * the row groups near the query point. The exact circle test still
  * runs (codegen'd) over the surviving rows, so semantics are unchanged.
  *
  * Registered only through `GraftExtensions`, which injects it into the
  * optimizer's operator-optimization batch.
  */
object DistancePushdownRule extends Rule[LogicalPlan] {

  /** Fold the box edges to literals here rather than leave `cx − r` to
    * ConstantFolding. Only literal comparisons are translated into
    * data-source filters. The batch would fold them on a later pass, but
    * folding here makes the conjuncts sargable in the pass that adds them,
    * whatever the rule's position in the batch. */
  private def bounds(w: WithinDist): Expression = {
    val cxv = w.cx.eval().asInstanceOf[Double]
    val cyv = w.cy.eval().asInstanceOf[Double]
    val rv = w.r.eval().asInstanceOf[Double]
    val xBox = And(
      GreaterThanOrEqual(w.x, Literal(cxv - rv)),
      LessThanOrEqual(w.x, Literal(cxv + rv)))
    val yBox = And(
      GreaterThanOrEqual(w.y, Literal(cyv - rv)),
      LessThanOrEqual(w.y, Literal(cyv + rv)))
    And(xBox, yBox)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) if cond.exists {
        case w: WithinDist => !w.expanded
        case _ => false
      } =>
      val newCond = cond.transform {
        // only expand when the box edges are foldable — otherwise the
        // conjuncts cannot reach the scan and would only add per-row work
        case w: WithinDist if !w.expanded &&
            w.cx.foldable && w.cy.foldable && w.r.foldable =>
          And(bounds(w), w.copy(expanded = true))
        case w: WithinDist if !w.expanded =>
          w.copy(expanded = true)
      }
      f.copy(condition = newCond)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * `Graft.configure`) is the one way the engine's SQL functions, pushdown
  * rule and GroupTopK strategy reach a session. Sessions made with
  * `newSession()` share the parent's extensions, so they inherit all of it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DistancePushdownRule)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), GraftExtensions.build(f)))
    }
  }
}

object GraftExtensions {

  /** One SQL function. The trailing `intParams.size` arguments must be
    * integer literals (named in the error); `longKey` casts the leading
    * argument, the key, to BIGINT. `make` gets the leading arguments and
    * the literal values. */
  private[graft] final case class SqlFunction(
      name: String, cls: Class[_ <: Expression], arity: Int, usage: String,
      intParams: Seq[String], longKey: Boolean,
      make: (Seq[Expression], Seq[Int]) => Expression)

  private def castTo(t: DataType)(e: Expression): Expression =
    if (e.dataType == t) e else Cast(e, t)

  private[graft] val functions: Seq[SqlFunction] = Seq(
    // numeric literals (SQL decimals under ANSI) are normalized to DOUBLE
    SqlFunction("within_dist", classOf[WithinDist], 5,
      "within_dist(x, y, cx, cy, r) takes 5 arguments", Nil, longKey = false,
      (a, _) => {
        val d = a.map(castTo(DoubleType))
        WithinDist(d(0), d(1), d(2), d(3), d(4))
      }),
    SqlFunction("cosine_sim", classOf[CosineSim], 2,
      "cosine_sim(a, b) takes 2 arguments", Nil, longKey = false,
      (a, _) => CosineSim(a(0), a(1))),
    SqlFunction("mix64", classOf[Mix64], 1,
      "mix64(x) takes 1 argument", Nil, longKey = false,
      (a, _) => Mix64(a(0))),
    SqlFunction("count_min", classOf[SketchAgg], 3,
      "count_min(key, depth, width) takes 3 arguments (depth/width literal ints)",
      Seq("depth", "width"), longKey = true,
      (a, n) => SketchAgg(a(0), Sketch.CountMin(n(0), n(1)))),
    SqlFunction("hll_sketch", classOf[HllAgg], 2,
      "hll_sketch(key, p) takes 2 arguments (precision p a literal int)",
      Seq("precision"), longKey = true,
      (a, n) => HllAgg(a(0), n(0))),
    SqlFunction("ams_sketch", classOf[SketchAgg], 3,
      "ams_sketch(key, depth, width) takes 3 arguments (depth/width literal ints)",
      Seq("depth", "width"), longKey = true,
      (a, n) => SketchAgg(a(0), Sketch.Ams(n(0), n(1)))),
    SqlFunction("kmv_sketch", classOf[KmvAgg], 2,
      "kmv_sketch(key, k) takes 2 arguments (k a literal int)",
      Seq("k"), longKey = true,
      (a, n) => KmvAgg(a(0), n(0))),
    SqlFunction("bloom_agg", classOf[SketchAgg], 3,
      "bloom_agg(key, bits, depth) takes 3 arguments (bits/depth literal ints)",
      Seq("bits", "depth"), longKey = true,
      (a, n) => SketchAgg(a(0), Sketch.Bloom(n(0), n(1)))))

  private[graft] def build(f: SqlFunction)(args: Seq[Expression]): Expression = {
    require(args.length == f.arity, f.usage)
    val (lead, lits) = args.splitAt(f.arity - f.intParams.size)
    val ints = f.intParams.zip(lits).map {
      case (_, Literal(v: Int, _)) => v
      case (what, other) => throw new IllegalArgumentException(
        s"${f.name} $what must be an integer literal, got $other")
    }
    f.make(if (f.longKey) lead.map(castTo(LongType)) else lead, ints)
  }
}
