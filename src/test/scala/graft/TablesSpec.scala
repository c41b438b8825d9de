package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType

/** `Tables.parquet` hands Spark the schema of the one footer Spark's own
  * inference would read: for every layout the engine reads, the schema
  * equals `spark.read.parquet`'s (names, types, nullability, metadata,
  * column order) and building the frame starts no job. */
class TablesSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def jobsOf(body: => Unit): Int = ScopedStageListener.jobs(spark, "tables")(body)

  /** Schema parity with Spark's inference, and zero jobs for the helper. */
  private def assertParity(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    var footer: DataFrame = null
    assert(jobsOf { footer = Tables.parquet(spark, paths: _*) } == 0,
      s"Tables.parquet(${paths.mkString(", ")}) started a job")
    assert(footer.schema == inferred)
  }

  private def tmp(name: String): JPath = Files.createTempDirectory(s"graft_tables_$name")

  /** `df` as ONE parquet file at `dest` (Spark writes directories). */
  private def singleFile(df: DataFrame, dest: JPath): Unit = {
    val staged = tmp("stage")
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next()
    Files.copy(part, dest)
  }

  test("every sf0.01 table: footer schema equals inference, Tables.load starts no job") {
    // the counter sees the job a schemaless read starts
    assert(jobsOf(spark.read.parquet(s"$sf001/orders.parquet")) == 1)
    Tables.names.foreach { n =>
      assertParity(s"$sf001/$n.parquet")
      assert(jobsOf(Tables.load(spark, sf001, n)) == 0, s"Tables.load($n) started a job")
    }
    assert(Tables.load(spark, sf001, "events").schema("ts").dataType == TimestampType)
  }

  test("a multi-file directory") {
    val dir = tmp("multi")
    spark.range(0, 300, 1, 3).selectExpr("id", "cast(id % 7 AS INT) AS k", "uuid() AS u")
      .write.mode("overwrite").parquet(dir.toString)
    assert(Files.list(dir).iterator().asScala.count(_.toString.endsWith(".parquet")) == 3)
    assertParity(dir.toString)
  }

  test("a Spark-written directory with _SUCCESS and nested, array, decimal, timestamp columns") {
    val dir = tmp("complex")
    spark.range(0, 40, 1, 2).selectExpr(
      "id",
      "named_struct('a', id, 'b', cast(id AS STRING), 'c', named_struct('z', id * 0.5D)) AS s",
      "array(named_struct('x', id * 1.5D), named_struct('x', -1D)) AS arr",
      "map(cast(id AS STRING), array(id)) AS m",
      "cast(id / 7 AS DECIMAL(18, 9)) AS d9",
      "cast(id * 1000 AS DECIMAL(38, 2)) AS d38",
      "timestamp_micros(id * 1000000) AS ts",
      "cast(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ntz",
      "date_add(DATE'2024-01-01', cast(id AS INT)) AS dt",
      "cast(cast(id AS STRING) AS BINARY) AS bin",
      "IF(id % 3 = 0, NULL, cast(id AS STRING)) AS maybe")
      .write.mode("overwrite").parquet(dir.toString)
    assert(Files.exists(dir.resolve("_SUCCESS")))
    assertParity(dir.toString)
  }

  test("a partitionBy (k=v) directory") {
    val dir = tmp("part")
    Tables.load(spark, sfDir, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir.toString)
    assertParity(dir.toString)
    assert(Tables.parquet(spark, dir.toString).schema.last.name == "l_returnflag")
  }

  test("an IVF index directory") {
    val path = tmp("ivf").resolve("index").toString
    graft.operators.IvfAnn.buildIndex(
      Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding"), nCells = 8, path)
    val parts = Files.list(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
    assert(parts.contains("assigned") && parts.contains("centroids") &&
      parts.exists(_.startsWith("cellstats_v")), parts)
    parts.foreach(p => assertParity(s"$path/$p"))
  }

  test("the footer is the one Spark's inference reads: summaries first, then the first data file") {
    val a = spark.range(3).selectExpr("id AS a")
    val b = spark.range(3).selectExpr("cast(id AS STRING) AS b")
    val c = spark.range(3).selectExpr("id * 2D AS c")
    // first data file by path; hidden names never count
    val plain = tmp("first")
    singleFile(b, plain.resolve("b.parquet"))
    singleFile(a, plain.resolve("a.parquet"))
    singleFile(c, plain.resolve(".0hidden.parquet"))
    singleFile(c, plain.resolve("_0hidden.parquet"))
    // without k=v directories Spark reads only a root's direct files
    Files.createDirectory(plain.resolve("0nested"))
    singleFile(c, plain.resolve("0nested").resolve("c.parquet"))
    assertParity(plain.toString)
    assert(Tables.parquet(spark, plain.toString).columns.toSeq == Seq("a"))
    // explicit files: sorted across all roots, not by argument order
    assertParity(plain.resolve("b.parquet").toString, plain.resolve("a.parquet").toString)
    // _common_metadata wins over _metadata, which wins over data files
    val summaries = tmp("summary")
    singleFile(a, summaries.resolve("a.parquet"))
    singleFile(b, summaries.resolve("_metadata"))
    assertParity(summaries.toString)
    assert(Tables.parquet(spark, summaries.toString).columns.toSeq == Seq("b"))
    singleFile(c, summaries.resolve("_common_metadata"))
    assertParity(summaries.toString)
    assert(Tables.parquet(spark, summaries.toString).columns.toSeq == Seq("c"))
  }

  test("no memo: a rewritten directory is read with its new schema") {
    val dir = tmp("rewrite").resolve("t").toString
    spark.range(3).selectExpr("id AS first").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("first"))
    spark.range(3).selectExpr("id AS second").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("second"))
  }

  test("a missing path and a directory without data files raise Spark's own errors") {
    val missing = intercept[AnalysisException](
      Tables.parquet(spark, tmp("gone").resolve("nothing-here").toString))
    assert(missing.getErrorClass == "PATH_NOT_FOUND")
    val empty = tmp("empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val none = intercept[AnalysisException](Tables.parquet(spark, empty.toString))
    assert(none.getErrorClass == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a session with mergeSchema on gets Spark's merged schema") {
    val dir = tmp("merge")
    singleFile(spark.range(3).selectExpr("id AS a"), dir.resolve("a.parquet"))
    singleFile(spark.range(3).selectExpr("id AS b"), dir.resolve("b.parquet"))
    val merging: SparkSession = Graft.session(Some(SparkSpec.Master)).newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val merged = Tables.parquet(merging, dir.toString).schema
    assert(merged == merging.read.parquet(dir.toString).schema)
    assert(merged.fieldNames.toSeq == Seq("a", "b"))
    assert(Tables.parquet(spark, dir.toString).schema.fieldNames.toSeq == Seq("a"))
  }

  // --- events.ts vintages, written the way a non-Spark generator writes ---

  /** `dir/events.parquet` whose `ts` is `primitive` with the parquet
    * `annotation`, written by parquet-hadoop's example writer (no Spark
    * metadata in the footer, like the generator's files). */
  private def eventsFile(primitive: String, annotation: String, values: Seq[Any]): String = {
    val dir = tmp("events")
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required $primitive ts ($annotation); }")
    val writer = ExampleParquetWriter.builder(new HPath(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val groups = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      val g = groups.newGroup().append("event_id", i.toLong)
      v match {
        case l: Long => g.append("ts", l)
        case s: String => g.append("ts", s)
      }
      writer.write(g)
    } finally writer.close()
    dir.toString
  }

  private def micros(dir: String): Seq[Long] =
    Tables.load(spark, dir, "events").orderBy("event_id")
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq

  test("events vintages: TIMESTAMP(NANOS) and TIMESTAMP(MICROS, NTZ) normalize as before") {
    val us = Seq(1700000000123456L, 1L, 0L)
    val nanos = eventsFile("int64", "TIMESTAMP(NANOS,false)", us.map(_ * 1000 + 789))
    val ntz = eventsFile("int64", "TIMESTAMP(MICROS,false)", us)
    Seq(nanos, ntz).foreach { dir =>
      assertParity(s"$dir/events.parquet")
      assert(jobsOf(Tables.load(spark, dir, "events")) == 0)
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampType)
      assert(micros(dir) == us)
    }
  }

  test("events with an unknown ts type fail fast with the same message") {
    val dir = eventsFile("binary", "STRING", Seq("2024-01-01"))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    assert(e.getMessage == "events.ts has unexpected type StringType; known vintages are " +
      "TIMESTAMP(NANOS) (read as Long via nanosAsLong), TIMESTAMP_NTZ(MICROS), " +
      "and session-local TIMESTAMP")
  }
}
