package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-13 lifecycle gates for the persisted IVF index: tombstone
  * deletes, compaction (file defrag + radius RECOMPUTE), the atomic
  * generation-based cellstats publish, and the lifecycle-keyed build
  * memo. The registered v18 query hash-gates delete-then-search against
  * the DuckDB oracle; this spec covers what SQL cannot see — file
  * layouts, in-flight publishes, radii tightening.
  */
class IvfLifecycleSpec extends SparkSpec {

  private def tmp(tag: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_lc_${tag}_${System.nanoTime()}"

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    val root = new java.io.File(dir)
    if (root.exists()) walk(root) else Seq.empty
  }

  private def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    corpus.join(broadcast(Cosine.asQueries(queries)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Cosine.cosineSim(col("qe"), col("embedding")), 6)
          .as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def bruteRange(corpus: DataFrame, queries: DataFrame, tau: Double) =
    corpus.join(broadcast(Cosine.asQueries(queries)), col("vec_id") =!= col("query_id"))
      .filter(Cosine.cosineSim(col("qe"), col("embedding")) >= tau)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def gotRange(path: String, queries: DataFrame, tau: Double) =
    IvfAnn.rangeSearch(spark, path, queries, tau)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("deleted vectors never surface from top-k or range search, and don't displace live ones") {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val path = tmp("del")
    IvfAnn.buildIndex(e.select("vec_id", "embedding"), nCells = 16, path)
    val queries = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
    // delete ids that DO appear in the pre-delete results, so the test
    // cannot pass vacuously
    val pre = IvfAnn.topKFromIndex(spark, path, queries, k = 5, nProbe = 16)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val toDelete = pre.take(5)
    assert(toDelete.nonEmpty)
    import spark.implicits._
    IvfAnn.deleteFromIndex(toDelete.toSeq.toDF("vec_id"), path)

    val post = IvfAnn.topKFromIndex(spark, path, queries, k = 5, nProbe = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(post.forall { case (_, n) => !toDelete.contains(n) },
      "a tombstoned vector surfaced from top-k")
    // nProbe = nCells makes the probed search exhaustive, so the result
    // must equal the brute-force top-k over the SURVIVOR corpus — i.e.
    // deletes must also backfill ranks, not just blank out rows
    val survivors = e.filter(!col("vec_id").isin(toDelete.toSeq: _*))
    assert(post == bruteTopK(survivors, queries, 5),
      "tombstone-aware top-k diverged from brute force over survivors")
    // range search: same exclusion, exactness preserved
    assert(gotRange(path, queries, 0.25) == bruteRange(survivors, queries, 0.25),
      "tombstone-aware range search diverged from brute force over survivors")
  }

  test("compaction: fewer files, brute-equal results, radii recomputed (shrink), tombstones cleared") {
    // engineered geometry where the radius RECOMPUTE is observable: 8
    // tight clusters plus one far outlier per cluster. The outlier is
    // each cell's extremal member, so deleting it must SHRINK the
    // recomputed radius — the update-path max-merge could never do that.
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
    }
    val centers = Array.fill(8)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val members = for (k <- 0 until 8; j <- 0 until 20) yield {
      val v = centers(k).map(_ + rnd.nextGaussian() * 0.03)
      ((k * 30 + j).toLong, v.map(_.toFloat).toSeq)
    }
    val outliers = for (k <- 0 until 8) yield {
      val v = centers(k).map(_ + rnd.nextGaussian() * 0.45)
      ((k * 30 + 25).toLong, v.map(_.toFloat).toSeq)
    }
    val e = (members ++ outliers).toDF("vec_id", "embedding")
    val path = tmp("cmp")
    IvfAnn.buildIndex(e, nCells = 8, path)
    // fragment the layout the way a run of daily updates would
    val deltas = for (g <- 0 until 3; k <- 0 until 8) yield {
      val v = centers(k).map(_ + rnd.nextGaussian() * 0.03)
      ((1000 + g * 10 + k).toLong, v.map(_.toFloat).toSeq)
    }
    for (g <- 0 until 3)
      IvfAnn.updateIndex(
        deltas.slice(g * 8, g * 8 + 8).toDF("vec_id", "embedding"), path)
    val outlierIds = outliers.map(_._1)
    IvfAnn.deleteFromIndex(outlierIds.toDF("vec_id"), path)

    val queries = e.filter(col("vec_id") % 30 === 0).select("vec_id", "embedding")
    // the expected survivor corpus, held as LOCAL rows: a frame lazily
    // read from $path/assigned would break once compaction swaps the
    // files out from under its cached listing
    val survivors = (members ++ deltas).toDF("vec_id", "embedding")
    val preFiles = parquetFiles(s"$path/assigned").size
    val preRadii = IvfAnn.readCellstats(spark, path)
      .select("cell", "radius").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val preRange = gotRange(path, queries, 0.9)
    assert(preRange == bruteRange(survivors, queries, 0.9),
      "pre-compaction range search diverged (tombstone anti-join)")

    IvfAnn.compactIndex(spark, path)

    val postFiles = parquetFiles(s"$path/assigned").size
    assert(postFiles < preFiles,
      s"compaction must defragment: $preFiles -> $postFiles files")
    assert(postFiles <= 8, s"one file per cell expected, got $postFiles")
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must clear the applied tombstones")
    val postRadii = IvfAnn.readCellstats(spark, path)
      .select("cell", "radius").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    postRadii.foreach { case (cell, r) =>
      assert(r <= preRadii(cell) + 1e-12,
        s"cell $cell radius grew under compaction: ${preRadii(cell)} -> $r")
    }
    val shrunk = postRadii.count { case (cell, r) => r < preRadii(cell) - 1e-9 }
    assert(shrunk >= 4,
      s"deleting every cell's extremal member must shrink radii (only $shrunk/8 shrank) " +
      "— a max-merge instead of a recompute would leave them all stale")
    // results identical through the rewrite, and the deleted stay deleted
    assert(gotRange(path, queries, 0.9) == preRange,
      "compaction changed range-search results")
    val topkPost = IvfAnn.topKFromIndex(spark, path, queries, k = 5, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topkPost == bruteTopK(survivors, queries, 5),
      "post-compaction top-k diverged from brute force over survivors")
  }

  test("a half-published cellstats generation is invisible to readers") {
    // the round-12 ADVICE race: the old in-place overwrite deleted the
    // live cellstats before writing the new — a racing reader saw a
    // missing/partial directory. Generations + the _SUCCESS gate mean a
    // reader either sees the previous complete generation or the new
    // one, never a torn write. Simulate the in-flight window by
    // planting a POISONED next generation (radius 0 ⇒ everything would
    // be pruned) without its _SUCCESS: results must be unaffected.
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val path = tmp("gen")
    IvfAnn.buildIndex(e.select("vec_id", "embedding"), nCells = 16, path)
    val queries = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val want = gotRange(path, queries, 0.3)
    assert(want.nonEmpty, "fixture must produce range results")

    val poison = IvfAnn.readCellstats(spark, path)
      .withColumn("radius", lit(0.0))
    poison.write.mode("overwrite").parquet(s"$path/cellstats_v99")
    val success = new java.io.File(s"$path/cellstats_v99/_SUCCESS")
    assert(success.exists(), "spark write must have committed the fixture gen")
    assert(success.delete()) // now it is a crashed, half-published gen
    assert(gotRange(path, queries, 0.3) == want,
      "an incomplete cellstats generation leaked into a read — zero radii " +
      "would have pruned every cell")

    // completing the publish (restoring _SUCCESS on a CORRECT gen) makes
    // the new generation take over
    val fixed = IvfAnn.readCellstats(spark, path)
    fixed.write.mode("overwrite").parquet(s"$path/cellstats_v100")
    assert(gotRange(path, queries, 0.3) == want,
      "a complete republished generation must serve identical results")
    assert(new java.io.File(s"$path/cellstats_v100/_SUCCESS").exists())
  }

  test("updateIndex publishes cellstats as a NEW generation, never mutating the old") {
    import spark.implicits._
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val path = tmp("upd")
    IvfAnn.buildIndex(
      e.filter(col("vec_id") >= 8).select("vec_id", "embedding"), 16, path)
    def gens() = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("cellstats_v")).sorted.toSeq
    val before = gens()
    IvfAnn.updateIndex(
      e.filter(col("vec_id") < 8).select("vec_id", "embedding"), path)
    val after = gens()
    assert(after.size >= 2 && after.last != before.last,
      s"update must publish a fresh generation: $before -> $after")
    // repeated updates retire old generations: never more than 2 retained
    for (i <- 0 until 3)
      IvfAnn.updateIndex(Seq((5000L + i, Seq.fill(64)(0.01f)))
        .toDF("vec_id", "embedding"), path)
    assert(gens().size <= 2,
      s"generation retirement must bound the dir count, got ${gens()}")
  }

  test("generation retirement keeps the previous COMPLETE gen, drops a crashed orphan above it") {
    // round-13 review finding: retiring by generation NUMBER alone kept
    // a crashed publish's incomplete dir while deleting the complete
    // generation beneath it — exactly the one the retain-previous
    // guarantee promises a racing reader. Retirement must key on
    // completeness, not number.
    import spark.implicits._
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val path = tmp("genret")
    IvfAnn.buildIndex(
      e.filter(col("vec_id") >= 8).select("vec_id", "embedding"), 16, path)
    def gens() = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("cellstats_v")).sorted.toSeq
    assert(gens() == Seq("cellstats_v1"))
    // a crashed publish left an incomplete generation ABOVE the live one
    IvfAnn.readCellstats(spark, path)
      .write.mode("overwrite").parquet(s"$path/cellstats_v5")
    assert(new java.io.File(s"$path/cellstats_v5/_SUCCESS").delete())
    // the next real publish (an update) must retain v1 — the newest
    // previously-COMPLETE gen — and retire the crashed v5
    IvfAnn.updateIndex(
      e.filter(col("vec_id") < 8).select("vec_id", "embedding"), path)
    val after = gens()
    assert(after.contains("cellstats_v1"),
      s"the previously-complete generation must survive retirement: $after")
    assert(after.contains("cellstats_v6"), s"new gen missing: $after")
    assert(!after.contains("cellstats_v5"),
      s"the crashed incomplete generation must be retired: $after")
    // and the index still serves exact results
    val queries = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
    assert(gotRange(path, queries, 0.25) ==
      bruteRange(e, queries, 0.25))
  }

  test("compaction refuses an all-tombstoned index instead of bricking it") {
    // a partitioned write of zero survivors emits no data files; the
    // swap would leave $path/assigned unreadable for every later
    // search. Deleting a whole index is a rebuild decision — compaction
    // must fail fast and leave the layout serving.
    import spark.implicits._
    val e = graft.Tables.load(spark, sfDir, "embeddings").limit(40)
      .select("vec_id", "embedding")
    val path = tmp("empty")
    IvfAnn.buildIndex(e, nCells = 4, path)
    IvfAnn.deleteFromIndex(e.select("vec_id"), path) // everything
    val ex = intercept[IllegalStateException] {
      IvfAnn.compactIndex(spark, path)
    }
    assert(ex.getMessage.contains("empty survivor set"))
    // the live layout is untouched: still readable, tombstones still
    // applied (empty result, not an exception)
    val queries = e.limit(2).select("vec_id", "embedding")
    assert(IvfAnn.topKFromIndex(spark, path, queries, k = 3, nProbe = 4)
      .count() == 0)
  }

  test("IVF-PQ tombstones: deleted codes never surface, never eat the cand budget; compaction equivalent") {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val path = tmp("pqdel")
    IvfPqAnn.buildIndex(e.select("vec_id", "embedding"), path)
    val queries = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val pre = IvfPqAnn.topKFromIndex(spark, path, queries, k = 5, cand = 200)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val toDelete = pre.take(4)
    assert(toDelete.nonEmpty)
    import spark.implicits._
    IvfPqAnn.deleteFromIndex(toDelete.toSeq.toDF("vec_id"), path)
    def search() = IvfPqAnn.topKFromIndex(spark, path, queries, k = 5, cand = 200)
      .select("query_id", "neighbor_id", "cos", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val post = search()
    assert(post.forall { case (_, n, _, _) => !toDelete.contains(n) },
      "a tombstoned code surfaced from IVF-PQ search")
    // ranks must backfill: 5 results per query, none vacated by the delete
    assert(post.groupBy(_._1).forall(_._2.size == 5),
      "deletes must backfill the top k, not leave holes")
    // compaction removes the rows for good; results identical; files bounded
    val preFiles = parquetFiles(s"$path/codes").size
    IvfPqAnn.compactIndex(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(parquetFiles(s"$path/codes").size <= preFiles)
    assert(search() == post, "compaction changed IVF-PQ search results")
  }

  test("one index path, one lifecycle: cross-lifecycle ensure* calls throw") {
    import spark.implicits._
    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val path = tmp("memo")
    IvfAnn.ensureIndex(e, 16, path)
    IvfAnn.ensureIndex(e, 16, path) // same lifecycle: memo no-op
    val ex = intercept[IllegalStateException] {
      IvfAnn.ensureUpdatedIndex(e, e.limit(1), 16, path)
    }
    assert(ex.getMessage.contains("lifecycle"))
    val ex2 = intercept[IllegalStateException] {
      IvfAnn.ensureDeletedIndex(e, Seq(1L).toDF("vec_id"), 16, path)
    }
    assert(ex2.getMessage.contains("lifecycle"))
  }
}
