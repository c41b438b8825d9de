package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The library's front door and the one place a SparkSession is built:
  * library code, the Verify and Bench harnesses, the tools and the test
  * traits all call `Graft.session`.
  *
  * The engine's Catalyst extensions — the SQL functions (`within_dist`,
  * `cosine_sim`, `mix64` and the sketch aggregates), the distance-pushdown
  * rule and the GroupTopK planner strategy — come only from the
  * `graft.plans.GraftExtensions` class that `configure` names in
  * `spark.sql.extensions`. A `newSession()` of such a session inherits
  * them. `configure` also sets the confs the engine is designed against:
  *
  *  - AQE on with skew-join handling (runtime re-plan is the default
  *    scale path; manual salting stays available via a17's pattern)
  *  - `nanosAsLong` for TIMESTAMP(NANOS) parquet (see `Tables.load`)
  *  - UTC session timezone (determinism across engines/sites)
  *
  * A `local[n]` master also pins `spark.sql.shuffle.partitions` to n.
  * Otherwise shuffle partitioning is left to the deployment (set it to
  * ≈ 2-3× total executor cores).
  */
object Graft {

  /** Apply the engine's configuration to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")

  private val LocalN = """local\[(\d+)\]""".r

  /** A ready session; `master` defaults to whatever the environment
    * provides (spark-submit) and falls back to all local cores.
    *
    * `getOrCreate` returns a session that already exists, and the
    * extensions of that session were fixed when it was built. One built
    * without `configure` is rejected here rather than failing later with
    * a missing function or a "No plan for" error. */
  def session(master: Option[String] = None): SparkSession = {
    val base = SparkSession.builder()
    val withMaster = master.fold(
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        base
      else base.master("local[*]")
    ) {
      case m @ LocalN(n) => base.master(m).config("spark.sql.shuffle.partitions", n)
      case m => base.master(m)
    }
    val s = configure(withMaster).getOrCreate()
    if (!s.sessionState.functionRegistry.functionExists(FunctionIdentifier("within_dist")))
      throw new IllegalStateException(
        "the active SparkSession lacks the graft extensions (within_dist is " +
          "not registered): it was built without Graft.configure. Build it " +
          "through Graft.session or Graft.configure, or stop it first.")
    s
  }
}
