package layerbench

import graft.bdb.BdbMini
import graft.bdb.Schemas._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/** The BDB fixture (`graft.bdb.BdbMini`, two games) replicated to `games`
  * games. Copy r > 0 shifts every gameId by r * GameStride and jitters the
  * tracking kinematics from the seed (positions by up to half a yard,
  * speeds by up to 10 %), so each copy is a different play set of the same
  * shape and cost. Copy 0 is the fixture itself, byte for byte, which is
  * what the pipeline check compares against. Players are shared by all
  * copies, as in a real season.
  */
object BdbData {
  val GameStride = 100000000L

  final case class Frames(games: DataFrame, plays: DataFrame, players: DataFrame,
                          playerPlay: DataFrame, tracking: DataFrame)

  /** Read with the fixture's schemas: partition discovery alone would type
    * gameId as int whenever every game's id happens to fit in one. */
  def read(spark: SparkSession, dir: String): Frames = {
    def t[T <: Product: TypeTag](n: String) =
      spark.read.schema(Encoders.product[T].schema).parquet(s"$dir/$n")
    Frames(t[Game]("games"), t[Play]("plays"), t[Player]("players"),
      t[PlayerPlay]("player_play"), t[Tracking]("tracking"))
  }

  /** Copy 0 alone: the fixture's games, read back from a replicated set. */
  def copy0(f: Frames): Frames = {
    def own(df: DataFrame) = df.filter(df("gameId").isin(BdbMini.games.map(_.gameId): _*))
    Frames(own(f.games), own(f.plays), f.players, own(f.playerPlay), own(f.tracking))
  }

  def fixture(spark: SparkSession): Frames = {
    val (g, p, pl, pp, tr) = BdbMini.load(spark)
    Frames(g, p, pl, pp, tr)
  }

  def write(spark: SparkSession, dir: String, games: Int, seed: Long): Unit = {
    import spark.implicits._
    val copies = 0 until math.max(1, games / 2)
    def shift(r: Int) = r * GameStride
    val tracking = copies.flatMap { r =>
      val rng = new java.util.SplittableRandom(seed * 1000003L + r)
      def jit(v: Double, amp: Double) = if (r == 0) v else v + (rng.nextDouble() - 0.5) * 2 * amp
      BdbMini.tracking.map { t =>
        t.copy(gameId = t.gameId + shift(r),
          x = math.max(0.0, math.min(120.0, jit(t.x, 0.5))),
          y = math.max(0.0, math.min(53.3, jit(t.y, 0.5))),
          s = if (r == 0) t.s else t.s * (1.0 + (rng.nextDouble() - 0.5) * 0.2))
      }
    }
    val frames = Seq(
      "games" -> copies.flatMap(r => BdbMini.games.map(g => g.copy(gameId = g.gameId + shift(r)))).toDF(),
      "plays" -> copies.flatMap(r => BdbMini.plays.map(p => p.copy(gameId = p.gameId + shift(r)))).toDF(),
      "players" -> BdbMini.players.toDF(),
      "player_play" -> copies.flatMap(r =>
        BdbMini.playerPlay.map(p => p.copy(gameId = p.gameId + shift(r)))).toDF(),
      "tracking" -> tracking.toDF())
    // tracking is stored one directory per game, the layout
    // graft.serve.PlayQueries is written for; the small tables are one file
    frames.foreach {
      case ("tracking", df) =>
        df.repartition(df("gameId")).sortWithinPartitions("playId", "frameId")
          .write.mode("overwrite").partitionBy("gameId").parquet(s"$dir/tracking")
      case (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
  }
}
