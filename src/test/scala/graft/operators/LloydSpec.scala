package graft.operators

import graft.{ScopedStageListener, SparkSpec, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The shared Lloyd fit's budget: one job for the seeds plus one per
  * round, and nothing left cached afterwards, whether the fit returns
  * or throws, nor after an IVF-PQ search that runs two fits. Suites share the SparkContext, so "nothing left" means no
  * persisted RDD whose lineage reaches this test's own input, and no
  * cache-manager entry for the quantized frame the fits read. */
class LloydSpec extends SparkSpec {

  private def embeddings = Tables.load(spark, sfDir, "embeddings")

  test(s"IvfAnn.fitCentroids runs LloydIters + 1 = ${IvfAnn.LloydIters + 1} jobs") {
    val e = embeddings
    assert(ScopedStageListener.jobs(spark, "lloyd-ivf") {
      IvfAnn.fitCentroids(e, 16)
    } == IvfAnn.LloydIters + 1)
  }

  test(s"PqAnn.fitCodebooks runs PqIters + 1 = ${PqAnn.PqIters + 1} jobs") {
    val e = embeddings
    assert(ScopedStageListener.jobs(spark, "lloyd-pq") {
      PqAnn.fitCodebooks(e)
    } == PqAnn.PqIters + 1)
  }

  /** A 16-dim corpus of `n` rows from its own source RDD; `big` makes
    * rows 1 and 2 one vector with a 9e12 component, so they share a
    * cell and their micro-unit sum overflows. */
  private def corpus(n: Int, big: Boolean): (DataFrame, RDD[_]) = {
    val s = spark
    import s.implicits._
    val rows = (1 to n).map { id =>
      val v = Array.tabulate(16)(i => ((id * 7 + i * 3) % 11 - 5) / 10.0)
      (id.toLong, if (big && id <= 2) Array.fill(16)(0.0).updated(3, 9e12).toSeq else v.toSeq)
    }
    val source = s.sparkContext.parallelize(rows, 3)
    (source.toDF("vec_id", "embedding"), source)
  }

  private def reaches(r: RDD[_], id: Int): Boolean =
    r.id == id || r.dependencies.exists(d => reaches(d.rdd, id))

  private def assertNothingCached(e: DataFrame, source: RDD[_]): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs.values.filter(reaches(_, source.id))
    assert(persisted.isEmpty, s"persisted RDDs over the input: ${persisted.map(_.id)}")
    val quantized = e.select(col("vec_id"), Lloyd.quantCol(col("embedding")).as("rq"))
    assert(quantized.storageLevel == StorageLevel.NONE, "the quantized frame is still cached")
  }

  test("a fit releases what it cached") {
    val (e, source) = corpus(40, big = false)
    IvfAnn.fitCentroids(e, 4)
    PqAnn.fitCodebooks(e)
    assertNothingCached(e, source)
  }

  test("v11's search leaves nothing cached over its input") {
    val (e, source) = corpus(40, big = false)
    IvfPqAnn.topK(e, e.filter(col("vec_id") < 4), k = 5, cand = 20).collect()
    assertNothingCached(e, source)
  }

  test("a fit that fails mid-round releases what it cached") {
    val (e, source) = corpus(PqAnn.K, big = true)
    intercept[Exception](IvfAnn.fitCentroids(e, 1))
    intercept[Exception](PqAnn.fitCodebooks(e))
    assertNothingCached(e, source)
  }
}
