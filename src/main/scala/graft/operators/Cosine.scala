package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cosine similarity on both engines, and the exact top-k that ends
  * every vector-family search: brute force (v1), LSH (v3), SQ8 (v5),
  * IVF ([[IvfAnn]]), PQ ([[PqAnn]]) and IVF-PQ ([[IvfPqAnn]]).
  *
  * Dot products fold left to right in DOUBLE on both engines (DuckDB's
  * `list_reduce` over a prepended 0.0), so the scores are bitwise equal
  * before the round to 6 places that the ranking uses. Ranking on the
  * rounded score, ties to the lower neighbor_id, keeps the order robust
  * to sub-round float drift between engines. Each Spark definition sits
  * next to its DuckDB twin.
  */
object Cosine {

  /** Left-to-right double fold of sum(a[i]*b[i]) — same order as DuckDB's
    * list_reduce, so results match bitwise. */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normD(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))

  /** Codegen fast path: the native `CosineSim` Catalyst expression
    * (graft.plans) — identical math to `cosine` (left-to-right double
    * folds, so the result is bitwise equal to the DuckDB oracle) with
    * the loop compiled into whole-stage codegen instead of a UDF
    * boundary. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** DuckDB twin of [[dotD]] (double fold, same order). */
  private[graft] def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  /** DuckDB twin of [[normD]]. */
  private[graft] def sqlNorm(a: String): String =
    s"""sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))""".stripMargin

  /** The exact top-k: `pairs` (query_id, qe, neighbor_id, embedding)
    * scored by the rounded cosine of qe and embedding, then the top `k`
    * per query, ties to the lower neighbor_id. Output (query_id,
    * neighbor_id, cos, rnk) with a long rnk, unordered: the registered
    * query owns the terminal sort. */
  def rank(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .select(col("query_id"), col("neighbor_id"),
              round(cosineSim(col("qe"), col("embedding")), 6).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id")))
        .cast("long"))
      .filter(col("rnk") <= k)

  /** DuckDB twin of [[rank]]'s cut: the top `k` rows of `rel`
    * (query_id, neighbor_id, cos) per query, ordered as the queries
    * publish them. */
  private[graft] def topkSql(rel: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM $rel)
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** DuckDB twin of [[rank]] as the ANN oracles' tail: the CTE `cand`
    * (query_id, neighbor_id) re-ranked by exact rounded cosine, top `k`
    * per query. */
  private[graft] def rerankSql(k: Int): String =
    s"""rerank AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |         round(${sqlDot("qv.embedding", "cv.embedding")}
       |           / (${sqlNorm("qv.embedding")} * ${sqlNorm("cv.embedding")}), 6) AS cos
       |  FROM cand
       |  JOIN embeddings cv ON cv.vec_id = cand.neighbor_id
       |  JOIN embeddings qv ON qv.vec_id = cand.query_id)
       |${topkSql("rerank", k)}""".stripMargin

  /** A query batch in the corpus's shape (vec_id, embedding), renamed
    * to the (query_id, qe) the searches join on. */
  private[graft] def asQueries(batch: DataFrame): DataFrame =
    batch.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
}
