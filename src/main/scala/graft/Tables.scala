package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Catalog over the driver's synthetic parquet tables (TESTDATA.md), and
  * the one place the engine reads parquet.
  *
  * Design note: every read takes its paths at call time and goes through
  * [[parquet]], which hands Spark the schema read from one footer on the
  * driver. Without a schema, Spark's parquet inference runs a job before
  * any action — one job per read even for a single file with
  * `mergeSchema` off — and that job was most of a small query's fixed
  * cost. The scan itself is Spark's V1 `FileScan parquet`, which prunes
  * columns and pushes filters down. Nothing here caches or collects; at
  * cluster scale these would be external tables with partition columns,
  * and every query below would partition-prune the same way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  // Layout note: the dev parquet files are single row groups, and a row
  // group is parquet's minimum read unit, so every scan here lands in ONE
  // task. A round-robin repartition after the scan costs more in exchange
  // and planning than the single-task compute it would spread at these
  // sizes; real tables are many files × many row groups and yield ≥ cores
  // splits from the scan itself.

  /** `spark.read.parquet(paths: _*)` with the schema Spark's own
    * non-merging inference would derive, read on the driver from the one
    * file that inference reads — so no job runs before the first action.
    * The file is picked the way Spark lists input: names starting with `_`
    * or `.` are skipped, except `_metadata`, `_common_metadata` and `k=v`
    * partition directories; leaves are sorted by path; `_common_metadata`
    * wins, then `_metadata`, then the first data file. Nothing is
    * remembered between calls, so every call sees the files as they are.
    * Wherever the footer cannot decide — a merging session, a missing
    * path, no data file, an unreadable footer — Spark infers the schema
    * itself and raises its own errors (`PATH_NOT_FOUND`,
    * `UNABLE_TO_INFER_SCHEMA`). */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** One parquet file's schema exactly as Spark's inference converts its
    * footer: the Spark row-metadata schema when the writer stored one,
    * else the parquet types under the session's conversion settings
    * (`nanosAsLong`, NTZ inference, binary-as-string). Throws what the
    * footer read throws. */
  def fileSchema(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, ParquetFileReader.readFooter(conf, file, SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else schemaFile(spark.sessionState.newHadoopConf(), paths)
      .flatMap(f => scala.util.Try(fileSchema(spark, f)).toOption)

  /** The file Spark's non-merging parquet inference reads for `paths`.
    * Spark's file index lists every root recursively, filtering names
    * below a root (and a root that is a file); without `k=v` directories
    * under a root it keeps only the root's direct files. */
  private def schemaFile(conf: Configuration, paths: Seq[String]): Option[Path] = {
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }
    def leaves(s: FileStatus, depth: Int): Seq[(FileStatus, Int)] =
      if (!s.isDirectory) Seq(s -> depth)
      else s.getPath.getFileSystem(conf).listStatus(s.getPath).toSeq
        .filter(visible).flatMap(leaves(_, depth + 1))
    val found = paths.flatMap { p =>
      val path = new Path(p)
      Option(path.getFileSystem(conf).globStatus(path)).toSeq.flatten
        .filter(s => s.isDirectory || visible(s)).flatMap(leaves(_, 0))
    }
    val partitioned = found.exists { case (f, depth) =>
      Iterator.iterate(f.getPath.getParent)(_.getParent).take(depth - 1)
        .exists(_.getName.contains("="))
    }
    val files = found.collect { case (f, d) if partitioned || d <= 1 => f.getPath }
      .sortBy(_.toString)
    def named(n: String) = files.find(_.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find { f =>
        f.getName != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
          f.getName != ParquetFileWriter.PARQUET_METADATA_FILE
      })
  }

  /** events.ts normalization — the generator has shipped two physical types
    * across rounds, and DuckDB (the oracle engine) reads both as naive
    * microsecond TIMESTAMP, so we normalize the Spark side to match:
    *
    *  - TIMESTAMP(NANOS): Spark's schema converter rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]); read as raw nanos via the `nanosAsLong`
    *    legacy conf that `Graft.configure` sets on every session, then
    *    truncate to microseconds (exactly DuckDB's behavior).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *    cast to session-local TimestampType (sessions run UTC, so values are
    *    identical) to keep downstream `unix_micros`/watermark code on the
    *    same type it has always seen. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // Fail fast on an unknown generator vintage rather than letting a
        // surprise physical type surface later as unix_micros/watermark or
        // oracle-hash drift far from the scan.
        throw new IllegalStateException(
          s"events.ts has unexpected type $other; known vintages are " +
            "TIMESTAMP(NANOS) (read as Long via nanosAsLong), " +
            "TIMESTAMP_NTZ(MICROS), and session-local TIMESTAMP")
    }
  }

  /** Register every table as a temp view named exactly like the parquet
    * file, so `spark.sql` text matches the DuckDB oracle dialect's names. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
