package graft.operators

import graft.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tombstone/compaction machinery shared by the two standing-index
  * families (IvfAnn's raw-vector `assigned` layout, IvfPqAnn's
  * compressed `codes` layout). One implementation of the protocol —
  * O(|delete|) tombstone appends, broadcast left-anti drops, the
  * survivors-rewrite compaction with its crash ordering — so the two
  * families cannot drift apart: with two copies, every protocol fix
  * would have to land twice. */
private[operators] object IndexTombstones {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append `deleteIds`' first column to `$path/tombstones` — an
    * O(|delete|) parquet append; the data layout is untouched. */
  def append(deleteIds: DataFrame, path: String): Unit =
    deleteIds.select(col(deleteIds.columns.head).cast("long").as("vec_id"))
      .write.mode("append").parquet(s"$path/tombstones")

  /** The standing tombstone set, or None when nothing was ever deleted
    * — None keeps no-delete search plans byte-identical to the
    * pre-lifecycle ones (no vacuous anti-join in every EXPLAIN). */
  def setOpt(spark: SparkSession, path: String): Option[DataFrame] =
    if (fsOf(spark, path).exists(new Path(path, "tombstones")))
      Some(Tables.parquet(spark, s"$path/tombstones").select("vec_id").distinct())
    else None

  /** Anti-join the tombstone set out of `rows` (broadcast — compaction
    * is the lever that keeps the set small). */
  def drop(spark: SparkSession, path: String, rows: DataFrame): DataFrame =
    setOpt(spark, path) match {
      case Some(t) => rows.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None    => rows
    }

  def clear(spark: SparkSession, path: String): Unit = {
    fsOf(spark, path).delete(new Path(path, "tombstones"), true)
    ()
  }

  /** Rewrite `$path/$dataDir` to the tombstone survivors, one file per
    * cell (repartition(cell) puts each cell's rows in exactly one task,
    * so partitionBy(cell) emits one file per cell), then clear the
    * tombstones LAST — a crash before the clear leaves tombstones that
    * anti-join nothing, harmless. `beforeSwap(stagingPath)` runs after
    * the survivors are durable in staging but before they replace the
    * live dir — IvfAnn recomputes + publishes its cellstats there (the
    * radii must cover the survivors BEFORE they serve reads); IvfPq has
    * no per-cell stats and passes a no-op.
    *
    * Refuses to compact to an EMPTY survivor set: a partitioned write
    * of zero rows emits no data files, so the swap would leave an
    * unreadable dir and brick every subsequent search — deleting a
    * whole index is a rebuild decision, not a compaction. */
  def compactData(spark: SparkSession, path: String, dataDir: String)
                 (beforeSwap: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val survivors = drop(spark, path,
        Tables.parquet(spark, s"$path/$dataDir"))
      .repartition(col("cell"))
    val staging = s"$path/${dataDir}_compact_staging"
    survivors.write.mode("overwrite").partitionBy("cell").parquet(staging)
    def hasParquet(p: Path): Boolean = fs.listStatus(p).exists { s =>
      if (s.isDirectory) hasParquet(s.getPath)
      else s.getPath.getName.endsWith(".parquet")
    }
    if (!hasParquet(new Path(staging)))
      throw new IllegalStateException(
        s"refusing to compact $path/$dataDir to an empty survivor set — " +
        "every row is tombstoned; drop the index and rebuild instead " +
        "(an empty partitioned layout would be unreadable)")
    beforeSwap(staging)
    if (!fs.delete(new Path(s"$path/$dataDir"), true))
      throw new java.io.IOException(s"compaction: failed to retire $path/$dataDir")
    if (!fs.rename(new Path(staging), new Path(s"$path/$dataDir")))
      throw new java.io.IOException(
        s"compaction: failed to publish $staging -> $path/$dataDir")
    clear(spark, path)
  }
}
