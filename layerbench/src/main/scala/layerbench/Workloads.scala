package layerbench

import scala.collection.mutable.ArrayBuffer

import graft.bdb._
import graft.serve.PlayQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** An op's class: "heavy" ops are the workload's bulk work, "light" ops its
  * small interactive requests. */
final case class OpTime(kind: String, ms: Option[Double])

/** A benchmark workload: inputs under a directory, a pass of ops run in a
  * closed loop, and output checks that run outside the timed loop. */
trait Workload {
  def name: String
  /** Prepare the inputs under `dir`; the last call's inputs are used. */
  def generate(spark: SparkSession, dir: String): Unit
  /** One pass over the workload's ops. */
  def pass(spark: SparkSession, r: Runner): Seq[OpTime]
  /** The untimed warm-up before the timed loop; it may keep outputs for `check`. */
  def warmup(spark: SparkSession, r: Runner): Seq[OpTime] = pass(spark, r)
  /** Problems found in the outputs; empty when they are correct. */
  def check(spark: SparkSession): Seq[String]
}

/** The paper's product over `BdbData` replicated to `games` games. The
  * heavy ops are the pipeline stages, one op each: openness prep -> radius
  * (the Monte-Carlo kernel) -> read order -> PRESS, plus matchup mirrors
  * and the coverage classifier. The frames the reference materializes
  * (cleaned, radius, reads, timing) are written to parquet and read back
  * by the next stage. The light ops are `lookups` play-viewer requests
  * (`graft.serve.PlayQueries`) at seeded uniform (game, play, frame): fetch
  * the frame, then the reach polygon of one of its players.
  *
  * The warm-up pass runs the same ops on copy 0 alone (the fixture's two
  * games) with `warmLookups` requests: it compiles the code paths of the
  * timed pass at a fraction of its cost. */
final class BdbPipeline(games: Int, seed: Long, lookups: Int, warmLookups: Int) extends Workload {
  val name = "bdb_pipeline"
  val BallSpeed = 20.0
  private var dir = ""
  private val rng = new java.util.SplittableRandom(seed)
  private val problems = ArrayBuffer.empty[String]
  // the last timed pass's collected cross-play results, checked after the loop
  private var last = Map.empty[String, Array[Row]]
  private val entitiesPerFrame = BdbMini.tracking.count(t =>
    t.gameId == BdbMini.games.head.gameId && t.playId == 100 && t.frameId == 1)

  def generate(spark: SparkSession, d: String): Unit = {
    dir = d
    BdbData.write(spark, s"$d/input", games, seed)
  }

  private def out(n: String) = s"$dir/out/$n"

  def pass(spark: SparkSession, r: Runner): Seq[OpTime] = {
    val (times, results) = run(spark, r, BdbData.read(spark, s"$dir/input"), s"$dir/out", games, lookups)
    last = results
    times
  }

  override def warmup(spark: SparkSession, r: Runner): Seq[OpTime] =
    run(spark, r, BdbData.copy0(BdbData.read(spark, s"$dir/input")), s"$dir/warm-out", 2, warmLookups)._1

  private def run(spark: SparkSession, r: Runner, in: BdbData.Frames, outDir: String, nGames: Int,
                  nLookups: Int): (Seq[OpTime], Map[String, Array[Row]]) = {
    var results = Map.empty[String, Array[Row]]
    def out(n: String) = s"$outDir/$n"
    def read(n: String) = spark.read.parquet(out(n))
    def write(c: OpCtx, df: => DataFrame, n: String): Unit =
      c.build(df).write.mode("overwrite").parquet(out(n))
    def collect(c: OpCtx, n: String, df: => DataFrame): Unit = {
      val rows = c.build(df).collect()
      c.rows(rows.length)
      results += n -> rows
    }
    val stages: Seq[(String, OpCtx => Unit)] = Seq(
      "prep" -> (c => write(c, OpennessPrep(in.tracking, in.plays, in.playerPlay), "cleaned")),
      "radius" -> (c => write(c, RadiusStage(read("cleaned")), "radius")),
      "read_order" -> { c =>
        write(c, ReadOrder.dropbackTiming(in.tracking, in.plays, in.players), "timing")
        write(c, ReadOrder.readsData(in.tracking, in.playerPlay), "reads")
        collect(c, "vs_coverage", ReadOrder.vsCoverage(read("radius")))
      },
      "press" -> (c => collect(c, "press", QBMetrics.press(
        QBMetrics.throwScoring(in.plays, in.playerPlay, read("timing"), read("reads")),
        in.playerPlay, in.players))),
      "matchup" -> (c => collect(c, "mirrors", MatchupAnalysis.mirrorMatches(
        MatchupAnalysis.routeTrees(in.tracking, in.playerPlay, in.plays)))),
      "coverage" -> (c => collect(c, "coverage", CoveragePlayModel.rfMetrics(
        CoveragePlayModel.features(in.plays, in.players, in.playerPlay, in.tracking,
          CoveragePlayModel.defensivePositions)))))
    // a stage reads its predecessor's output, so stop at the first failure
    val times = ArrayBuffer.empty[OpTime]
    stages.iterator.map { case (n, body) => OpTime("heavy", r.op("heavy", n)(body)) }
      .takeWhile { t => times += t; t.ms.isDefined }.foreach(_ => ())
    (times.toSeq ++ (1 to nLookups).map(_ => OpTime("light", lookup(r, in.tracking, nGames))), results)
  }

  private def lookup(r: Runner, tracking: DataFrame, nGames: Int): Option[Double] = {
    val gameId = BdbMini.games(rng.nextInt(2)).gameId +
      rng.nextInt(math.max(1, nGames / 2)) * BdbData.GameStride
    val playId = (rng.nextInt(6) + 1) * 100
    val frameId = rng.nextInt(40) + 1
    val pick = rng.nextInt(entitiesPerFrame)
    var frame: Array[Row] = Array.empty
    var polygon: Seq[(Int, Double, Double)] = Nil
    val t = r.op("light", s"lookup $gameId/$playId/$frameId") { c =>
      frame = c.call("frame")(PlayQueries.playFrame(tracking, gameId, playId, frameId).collect())
      val players = frame.filter(!_.isNullAt(0)).sortBy(_.getLong(0))
      val ball = frame.find(_.isNullAt(0)).get
      val target = players(pick % players.length)
      polygon = c.call("polygon")(PlayQueries.reachPolygon(tracking, gameId, playId, frameId,
        target.getLong(0), BallSpeed, ball.getAs[Double]("x"), ball.getAs[Double]("y")))
      c.rows(frame.length + 1)
    }
    // checked outside the op's timer
    if (t.isDefined && (frame.length != entitiesPerFrame || polygon.size != 360))
      problems += s"lookup $gameId/$playId/$frameId: ${frame.length} entities " +
        s"(expected $entitiesPerFrame), ${polygon.size} vertices (expected 360)"
    t
  }

  /** Copy 0's per-play outputs (cleaned, radius, timing, reads, route
    * trees) must match the row counts and hashes of the same stages run on
    * the in-memory fixture, recorded in expected.json; with
    * LAYERBENCH_RECORD set the fixture stages are run and their values
    * printed instead. The last pass's cross-play results must have the row
    * counts the fixture implies for `games` games. */
  def check(spark: SparkSession): Seq[String] = {
    val copies = math.max(1, games / 2)
    val got = perPlay(spark.read.parquet(out("cleaned")), spark.read.parquet(out("radius")),
      spark.read.parquet(out("timing")), spark.read.parquet(out("reads")),
      last.getOrElse("mirrors", Array.empty[Row]).toSeq)
      .map { case (k, rows) => k -> Digest(rows) }
    if (sys.env.contains("LAYERBENCH_RECORD")) {
      val fx = BdbData.fixture(spark)
      val cleaned = OpennessPrep(fx.tracking, fx.plays, fx.playerPlay)
      val mirrors = MatchupAnalysis.mirrorMatches(
        MatchupAnalysis.routeTrees(fx.tracking, fx.playerPlay, fx.plays)).collect().toSeq
      perPlay(cleaned, RadiusStage(cleaned), ReadOrder.dropbackTiming(fx.tracking, fx.plays, fx.players),
        ReadOrder.readsData(fx.tracking, fx.playerPlay), mirrors)
        .foreach { case (k, rows) => System.err.println(s"[layerbench] record $k: ${Digest(rows).json}") }
      System.err.println("[layerbench] record vs_coverage: " +
        Digest(ReadOrder.vsCoverage(RadiusStage(cleaned)).collect().toSeq).json)
    }
    val want = Expected.section("bdb_pipeline")
    got.foreach { case (k, d) =>
      if (!want.get(k).contains(d)) problems += s"$k: copy 0 gives $d, the fixture ${want.get(k)}"
    }

    def rows(label: String, want: Long): Unit = {
      val n = last.get(label).map(_.length.toLong)
      if (!n.contains(want)) problems += s"$label: ${n.getOrElse("no")} rows, expected $want"
    }
    // players are shared by all copies, so the PRESS board keeps one row per QB
    rows("press", BdbMini.players.count(_.position == "QB").toLong)
    // route x coverage x second does not depend on the game
    rows("vs_coverage", want.get("vs_coverage").map(_.rows).getOrElse(-1L))
    rows("coverage", 4) // overall and validation accuracy, plays, features
    val labelled = BdbMini.plays.count(p => p.isDropback && p.pff_passCoverage != null) * copies
    val nPlays = last.getOrElse("coverage", Array.empty[Row])
      .collectFirst { case r if r.getString(0) == "n_plays" => r.getDouble(1) }
    if (!nPlays.contains(labelled.toDouble))
      problems += s"coverage: n_plays $nPlays, expected $labelled"
    problems.take(8).toSeq
  }

  /** Copy 0's per-play outputs, as driver-side rows with sorted columns. */
  private def perPlay(cleaned: DataFrame, radius: DataFrame, timing: DataFrame, reads: DataFrame,
                      mirrors: Seq[Row]): Seq[(String, Seq[Row])] = {
    val fixtureGames = BdbMini.games.map(_.gameId)
    def rows(df: DataFrame) = df.filter(col("gameId").isin(fixtureGames: _*))
      .select(df.columns.sorted.map(col).toSeq: _*).collect().toSeq
    // mirrorMatches rows: gameId, playId, route_tree, mirror_gameId, mirror_playId
    val trees = mirrors.filter(r => fixtureGames.contains(r.getLong(0)))
      .map(r => Row(r.get(0), r.get(1), r.get(2))).distinct
    Seq("cleaned" -> rows(cleaned), "radius" -> rows(radius), "timing" -> rows(timing),
      "reads" -> rows(reads), "route_trees" -> trees)
  }
}

/** Registered queries from `graft.SparkEntry.queries` over the tables the
  * launcher generated (layerbench/tablegen.py), each run the way
  * `graft.Bench` runs it: `Caches.reset`, then the query with its terminal
  * sort stripped into the noop sink. One op per query: the heavy class,
  * then the light class. */
final class QuerySuite(dir: String, heavy: Seq[String], light: Seq[String]) extends Workload {
  val name = "query_suite"
  private lazy val queries = graft.SparkEntry.queries

  /** The launcher wrote the tables to `dir` before the JVM started. */
  def generate(spark: SparkSession, d: String): Unit = ()

  private def classes = heavy.map("heavy" -> _) ++ light.map("light" -> _)

  def pass(spark: SparkSession, r: Runner): Seq[OpTime] = classes.map { case (cls, q) =>
    graft.Caches.reset(spark)
    OpTime(cls, r.op(cls, q) { c =>
      val df = c.build(queries(q)(spark, dir))
      org.apache.spark.sql.GraftBenchPlan.withoutTerminalSort(df)
        .write.format("noop").mode("overwrite").save()
    })
  }

  /** Writes each query's full output, terminal sort kept, with its oracle
    * SQL; the launcher compares them with DuckDB's answer over the same
    * parquet files. Then one pass as the timed loop runs it: the first
    * noop pass after the writes still runs slower and spreads widely. */
  override def warmup(spark: SparkSession, r: Runner): Seq[OpTime] = {
    val oracle = graft.SparkEntry.oracleSql
    val times = classes.map { case (cls, q) =>
      graft.Caches.reset(spark)
      OpTime(cls, r.op(cls, q) { c =>
        c.build(queries(q)(spark, dir)).write.mode("overwrite").parquet(s"$dir/check/$q")
      })
    }
    graft.Caches.reset(spark)
    val entries = (heavy ++ light).map(q => s"${Json.str(q)}:${oracle.get(q).map(Json.str).getOrElse("null")}")
    val w = new java.io.PrintWriter(s"$dir/check/oracle.json", "UTF-8")
    try w.println(entries.mkString("{", ",", "}"))
    finally w.close()
    times ++ pass(spark, r)
  }

  def check(spark: SparkSession): Seq[String] = Nil
}
