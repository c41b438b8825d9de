package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Exact per-group top-k with MAP-SIDE partial selection — the grouped
  * analog of `TakeOrderedAndProject` (which Spark only applies to global
  * ORDER BY + LIMIT). The reference's per-group top-1/slice_max sites
  * (`QBReadStats.R:182-184`, `BuildingReadOrder.R:141-146`) compile to a
  * window rank in Spark, which shuffles EVERY row to rank it and keep k.
  *
  * Here each input partition keeps a size-k bounded heap per group key
  * and emits only its local top-k; the final exact window rank runs over
  * those ≤ k·partitions survivors per key. Shuffle volume drops from
  * O(N) to O(k · keys · partitions) — at 100 TB with k=3 that is the
  * difference between shuffling the corpus and shuffling a rounding
  * error of it. Results are identical to the window formulation because
  * per-group top-k is a mergeable (bounded-semilattice) aggregate:
  * global top-k ⊆ union of per-partition top-k.
  *
  * Ordering: (sortCol descending?, tieCol ascending) — a TOTAL order is
  * required for a deterministic result, so tieCol must disambiguate.
  */
object GroupTopK {

  def topK(df: DataFrame, groupCols: Seq[String], sortCol: String,
           tieCol: String, k: Int, descending: Boolean = true,
           rankCol: String = "rnk"): DataFrame = {
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val sIdx = schema.fieldIndex(sortCol)
    val tIdx = schema.fieldIndex(tieCol)

    // the heap comparator works on external Row values via Comparable, so
    // only atomic orderable types are supported (arrays/structs/maps would
    // ClassCastException mid-task) — fail fast at plan time instead. The
    // native topKNative path builds its comparator from Catalyst's
    // RowOrdering and has no such restriction.
    import org.apache.spark.sql.types._
    Seq(sortCol -> sIdx, tieCol -> tIdx).foreach { case (n, i) =>
      schema(i).dataType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType => ()
        case dt => throw new IllegalArgumentException(
          s"GroupTopK.topK: unsupported sort/tie column type $dt for '$n'; " +
          "use an atomic orderable type or GroupTopK.topKNative")
      }
    }
    // Spark SQL sorts -0.0 and 0.0 as EQUAL (it normalizes signed zeros);
    // java.lang.Double/Float.compareTo orders -0.0 < 0.0. Normalize before
    // comparing so a -0.0/0.0 straddle at the k boundary can't select
    // different survivors than the window-rank formulation. (NaN needs no
    // fix: compareTo puts it last under asc, same as Spark.)
    def normZero(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
      case other => other
    }

    // comparisons in FINAL SORT ORDER terms: negative = sorts earlier.
    // Null placement matches Spark's window defaults (asc = NULLS FIRST,
    // desc = NULLS LAST) so results stay identical to the row_number
    // formulation when sort values are null.
    def sortCmp(a0: Any, b0: Any): Int = {
      val (a, b) = (normZero(a0), normZero(b0))
      if (a == null && b == null) 0
      else if (a == null) { if (descending) 1 else -1 }
      else if (b == null) { if (descending) -1 else 1 }
      else {
        val n = a.asInstanceOf[Comparable[Any]].compareTo(b)
        if (descending) -n else n
      }
    }
    def tieCmp(a0: Any, b0: Any): Int = { // ascending, NULLS FIRST
      val (a, b) = (normZero(a0), normZero(b0))
      if (a == null && b == null) 0
      else if (a == null) -1
      else if (b == null) 1
      else a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    // "better" = earlier in the requested order
    def better(a: Row, b: Row): Boolean = {
      val c = sortCmp(a.get(sIdx), b.get(sIdx))
      if (c != 0) c < 0
      else tieCmp(a.get(tIdx), b.get(tIdx)) < 0
    }
    // ranks better rows greater; reversed, the heap's head is the WORST
    // kept row — the eviction candidate. Sort/tie values must be
    // non-null (Comparable), like any total order.
    val betterGreater: Ordering[Row] = (a: Row, b: Row) =>
      if (better(a, b)) 1 else if (better(b, a)) -1 else 0

    val survivors = df.rdd.mapPartitions { it =>
      val heaps = mutable.HashMap.empty[Seq[Any], mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val key: Seq[Any] = gIdx.map(r.get).toSeq
        val h = heaps.getOrElseUpdate(key,
          mutable.PriorityQueue.empty[Row](betterGreater.reverse))
        if (h.size < k) h.enqueue(r)
        else if (better(r, h.head)) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }

    val spark = df.sparkSession
    val reduced = spark.createDataFrame(survivors, schema)
    val sort = if (descending) col(sortCol).desc else col(sortCol).asc
    reduced
      .withColumn(rankCol, row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(sort, col(tieCol)))
        .cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** The same operator as a NATIVE Catalyst plan (SURVEY §7.3 case (c)):
    * `GroupTopKPlan` → `GroupTopKStrategy` → partial/final exec pair,
    * with the Exchange carrying only partial survivors (see
    * graft.plans.GroupTopKPlan). Output = input columns + BIGINT `rnk`.
    */
  def topKNative(df: DataFrame, groupCols: Seq[String], sortCol: String,
                 tieCol: String, k: Int, descending: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val lp = df.queryExecution.analyzed
    def attr(n: String) = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not in ${lp.output.map(_.name)}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.GroupTopKPlan(groupCols.map(attr), attr(sortCol), attr(tieCol),
        k, descending, lp))
  }
}
