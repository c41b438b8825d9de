package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: the index-lifecycle growth row (the DedupGrowthProbe
  * convention applied to the round-13 lifecycle ops). At a given data
  * dir it builds a standing IVF index on a base slice of `embeddings`,
  * absorbs a run of updateIndex deltas, tombstones a slice, compacts,
  * and prints ONE JSON line with the numbers the SCALING.md small-files
  * arithmetic rests on:
  *
  *  - `files_built` / `files_fragmented` / `files_compacted` — the
  *    assigned-layout file counts after build, after U deltas (the
  *    cells × deltas fragmentation), and after compaction (≈ 1/cell);
  *  - `range_rows_pre` = `range_rows_post` — compaction is
  *    result-invariant (checked here, not just in the CI spec);
  *  - wall clocks for update (per delta), delete, compact, and the
  *    range query before/after compaction.
  *
  * Usage: runMain graft.tools.IvfLifecycleProbe <sfDir> [nDeltas]
  */
object IvfLifecycleProbe {

  private def parquetCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    val root = new java.io.File(dir)
    if (root.exists()) walk(root) else 0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nDeltas = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")

    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lcprobe_${System.nanoTime()}"
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // base = everything outside the delta residues; deltas arrive one
    // residue class at a time (disjoint, like daily crawl batches)
    val mod = nDeltas * 3
    val base = e.filter(col("vec_id") % mod >= nDeltas)
    val (_, tBuild) = timed {
      graft.operators.IvfAnn.buildIndex(base, nCells = 16, path)
    }
    val filesBuilt = parquetCount(s"$path/assigned")
    val tUpdates = (0 until nDeltas).map { k =>
      timed(graft.operators.IvfAnn.updateIndex(
        e.filter(col("vec_id") % mod === k), path))._2
    }
    val filesFragmented = parquetCount(s"$path/assigned")

    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def rangeCount(): (Long, Double) =
      timed(graft.operators.IvfAnn.rangeSearch(spark, path, queries, 0.25).count())

    val deleteIds = e.filter(col("vec_id") % 20 === 11).select("vec_id")
    val nDelete = deleteIds.count()
    val (_, tDelete) = timed(
      graft.operators.IvfAnn.deleteFromIndex(deleteIds, path))
    val (rowsPre, tRangePre) = rangeCount() // tombstone anti-join active
    val (_, tCompact) = timed(
      graft.operators.IvfAnn.compactIndex(spark, path))
    val filesCompacted = parquetCount(s"$path/assigned")
    val (rowsPost, tRangePost) = rangeCount() // tombstones gone, layout tight

    println(
      s"""{"metric":"ivf_lifecycle","sf_dir":"$sfDir","n_vecs":${e.count()},
         |"n_deltas":$nDeltas,"n_deleted":$nDelete,
         |"files_built":$filesBuilt,"files_fragmented":$filesFragmented,
         |"files_compacted":$filesCompacted,
         |"t_build_s":${f"$tBuild%.2f"},"t_update_mean_s":${f"${tUpdates.sum / nDeltas}%.2f"},
         |"t_delete_s":${f"$tDelete%.2f"},"t_compact_s":${f"$tCompact%.2f"},
         |"range_rows_pre":$rowsPre,"range_rows_post":$rowsPost,
         |"t_range_pre_s":${f"$tRangePre%.2f"},"t_range_post_s":${f"$tRangePost%.2f"}}"""
        .stripMargin.replace("\n", ""))
    assert(rowsPre == rowsPost,
      "compaction changed range results — lifecycle invariant broken")
    spark.stop()
  }
}
