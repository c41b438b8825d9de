package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Two data dirs whose path strings share a `String.hashCode` ("…/Aa" and
  * "…/BB") must not share a standing artifact: v8's persisted IVF index
  * and g1's edge checkpoint are built once per JVM per scratch path, so a
  * path keyed by a 32-bit hash would serve the first dir's index and
  * edges for the second. Each result is checked against the same query
  * over a copy of that dir at a path that collides with nothing. */
class ScratchCollisionSpec extends SparkSpec {

  private val root = s"${System.getProperty("java.io.tmpdir")}/graft_collision_spec"
  private val src = "/root/testdata/sf0.01"

  /** `dir` holds sf0.01's embeddings and lineitem, perturbed when `perturb`. */
  private def write(dir: String, perturb: Boolean): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      val old = Files.walk(d)
      try old.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally old.close()
    }
    Files.createDirectories(d)
    if (!perturb)
      Seq("embeddings", "lineitem").foreach { t =>
        Files.copy(Paths.get(s"$src/$t.parquet"), d.resolve(s"$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    else {
      Tables.load(spark, src, "embeddings").filter(col("vec_id") % 3 =!= 1)
        .write.parquet(s"$dir/embeddings.parquet")
      Tables.load(spark, src, "lineitem").filter(col("l_orderkey") % 3 =!= 0)
        .write.parquet(s"$dir/lineitem.parquet")
    }
  }

  private def rows(query: String, dir: String): Seq[String] =
    SparkEntry.queries(query)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("v8 and g1 over two data dirs with equal path hashCodes each read their own artifacts") {
    val (a, b) = (s"$root/Aa", s"$root/BB")
    assert(a.hashCode == b.hashCode)
    val (aloneA, aloneB) = (s"$root/alone_a", s"$root/alone_b")
    assert(Set(a, b, aloneA, aloneB).map(_.hashCode).size == 3)
    Seq(a -> false, b -> true, aloneA -> false, aloneB -> true).foreach {
      case (d, p) => write(d, p)
    }
    for (q <- Seq("v8_ann_ivf_persisted", "g1_pagerank")) {
      val (wantA, wantB) = (rows(q, aloneA), rows(q, aloneB))
      assert(wantA != wantB, s"$q: the perturbed dir must change the result")
      assert(rows(q, a) == wantA, s"$q over $a")
      assert(rows(q, b) == wantB, s"$q over $b served another dir's artifact")
    }
  }
}
