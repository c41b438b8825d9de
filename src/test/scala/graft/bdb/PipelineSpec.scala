package graft.bdb

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline test over the BdbMini fixture: prep → openness →
  * read order → QB metrics → matchups (SURVEY.md §3.1 entry point A,
  * §5.3 golden-output strategy — goldens are computed invariants since
  * the fixture is generated, not committed). */
class PipelineSpec extends SparkSpec {

  private lazy val (_, plays, players, playerPlay, tracking) = BdbMini.load(spark)
  private lazy val cleaned = OpennessPrep(tracking, plays, playerPlay).cache()
  private lazy val radius = RadiusStage(cleaned).cache()

  test("fixture invariants: 11 defenders + 1 football per frame") {
    val defCounts = tracking
      .join(plays.select("gameId", "playId", "defensiveTeam"), Seq("gameId", "playId"))
      .filter(col("club") === col("defensiveTeam"))
      .groupBy("gameId", "playId", "frameId").count()
    assert(defCounts.filter(col("count") =!= 11).count() == 0)
    val ballCounts = tracking.filter(col("displayName") === "football")
      .groupBy("gameId", "playId", "frameId").count()
    assert(ballCounts.filter(col("count") =!= 1).count() == 0)
  }

  test("cleaned_player_data: dropback AFTER_SNAP route-runner frames only") {
    // 2 games × 5 dropback plays × 29 AFTER_SNAP frames × 5 route runners
    assert(cleaned.count() == 2 * 5 * 29 * 5)
    assert(cleaned.filter(size(col("defenders")) =!= 11).count() == 0)
  }

  test("throw speed is the median ball speed in frames +2..+7 after pass_forward") {
    // ball speed after pass_forward is constant 8.0 in the fixture
    val speeds = OpennessPrep.throwSpeedTable(tracking)
      .select("throw_speed").distinct().collect().map(_.getDouble(0))
    assert(speeds.toSeq == Seq(8.0))
    // and fx is the ball x at the throw frame
    val fx = OpennessPrep.throwSpeedTable(tracking)
      .filter(col("gameId") === 2022090800L && col("playId") === 100)
      .head.getAs[Double]("fx")
    val expected = tracking.filter(col("displayName") === "football" &&
        col("gameId") === 2022090800L && col("playId") === 100 && col("frameId") === 25)
      .head.getAs[Double]("x")
    assert(fx == expected)
  }

  test("openness scores are deterministic and defender-independent of partitioning") {
    val a = radius.select("gameId", "playId", "frameId", "nflId", "open_count")
      .collect().map(_.toString).sorted
    val b = RadiusStage(cleaned.repartition(7))
      .select("gameId", "playId", "frameId", "nflId", "open_count")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("secondId dense-ranks frames within each play from 0") {
    val firsts = radius.groupBy("gameId", "playId").agg(min("secondId").as("m"))
    assert(firsts.filter(col("m") =!= 0).count() == 0)
    val perFrame = radius.select("gameId", "playId", "frameId", "secondId").distinct()
    val bad = perFrame.filter(col("secondId") =!= col("frameId") - 12) // AFTER_SNAP starts at 12
    assert(bad.count() == 0)
  }

  test("dropback timing: cumulative distance crosses dropbackDistance at the right frame") {
    val timing = ReadOrder.dropbackTiming(tracking, plays, players)
    assert(timing.count() == 10) // 5 dropbacks × 2 games
    // QB speed 1.5 yd/s, a=0.2: step = 0.151 yd/frame; dropbackDistance
    // 2.0 ⇒ ceil(2.0/0.151) = 14th AFTER_SNAP frame = frameId 25
    val t = timing.filter(col("gameId") === 2022090800L && col("playId") === 100).head
    assert(t.getAs[Int]("top_drop_frame") == 25)
    assert(t.getAs[scala.collection.Seq[Int]]("readFrames").toList == List(25, 30, 35, 40, 45))
  }

  test("reads order receivers across the formation from the targeted side") {
    val reads = ReadOrder.readsData(tracking, playerPlay)
    assert(reads.count() == 12)
    val r = reads.filter(col("gameId") === 2022090800L && col("playId") === 100).head
    val targets = r.getAs[scala.collection.Seq[Long]]("targets")
    assert(targets.length == 5)
    // targeted receiver (index 1, y=17 at snap < 26.65 ⇒ side R ⇒ order
    // by descending y): ids 14 (y≈44), 13, 12, 11, 10
    assert(targets.toList == List(14L, 13L, 12L, 11L, 10L))
  }

  test("QB metrics: PRESS averages to 100 and correct_read is well-defined") {
    val timing = ReadOrder.dropbackTiming(tracking, plays, players)
    val reads = ReadOrder.readsData(tracking, playerPlay)
    val throws = QBMetrics.throwScoring(plays, playerPlay, timing, reads)
    // TRADITIONAL + !unblockedPressure = 4 plays per game
    assert(throws.count() == 8)
    assert(throws.filter(col("expected_slot").between(1, 5)).count() == 8)
    val press = QBMetrics.press(throws, playerPlay, players)
    assert(press.count() == 2)
    val meanPress = press.agg(avg("PRESS")).head.getDouble(0)
    assert(math.abs(meanPress - 100.0) < 0.01)
    val ent = QBMetrics.readEntropy(throws, playerPlay, players)
    assert(ent.count() == 2)
    assert(ent.filter(col("read_entropy") < 0).count() == 0)
  }

  test("matchups: play 500 mirrors play 100's route tree under same coverage") {
    val trees = MatchupAnalysis.routeTrees(tracking, playerPlay, plays)
    val t100 = trees.filter(col("playId") === 100 && col("gameId") === 2022090800L)
      .head.getAs[String]("route_tree")
    assert(t100 == "GO OUT SLANT CROSS HITCH")
    val mirrors = MatchupAnalysis.mirrorMatches(trees)
      .filter(col("mirror_playId").isNotNull)
    // both games have the 100 ↔ 500 mirror pair (both Cover-3)
    val pairs = mirrors.select("gameId", "playId", "mirror_playId").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(pairs.contains((2022090800L, 100, 500)))
    assert(pairs.contains((2022090800L, 500, 100)))
  }

  test("vs_coverage lookup aggregates by route × coverage × second") {
    val vc = ReadOrder.vsCoverage(radius)
    assert(vc.count() > 0)
    // openness can be negative (−0.2·k contested-pile-up penalty) but
    // never null or NaN for rows with 11 defenders present
    assert(vc.filter(col("avg_openness").isNull || isnan(col("avg_openness"))).count() == 0)
    val seconds = ReadOrder.secondsData(radius)
    assert(seconds.groupBy("gameId", "playId", "frameId").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("every fixture row scores bit-equal under the pruned and the plain kernel") {
    import graft.domain.{Openness, OpennessReference}
    def field(f: String) = transform(col("defenders"), d => d.getField(f))
    // the same inputs and seed key RadiusStage hands the kernel
    val rows = cleaned.select(col("s"), radians(col("dir")), col("x"), col("y"),
        col("throw_speed"), col("fx"), col("fy"), field("x"), field("y"), field("s"),
        (((col("gameId") * 31 + col("playId")) * 31 + col("frameId")) * 31
          + col("nflId")).cast("long"))
      .collect()
    assert(rows.length == 2 * 5 * 29 * 5)
    rows.foreach { r =>
      val Seq(vs, dir, px, py, vb, fx, fy) = (0 until 7).map(r.getDouble)
      val Seq(dxs, dys, dss) = (7 until 10).map(i => r.getSeq[Double](i).toArray)
      val seed = Openness.mix64(r.getLong(10))
      val got = Openness.openCount(vs, dir, px, py, dxs, dys, dss, vb, fx, fy, seed, 1.0)
      val want = OpennessReference.openCount(vs, dir, px, py, dxs, dys, dss, vb, fx, fy, seed, 1.0)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"row $r: got=$got want=$want")
    }
  }

  test("coverage features: one row per dropback play, stat_pos matrix shape") {
    val (_, _, players, _, _) = BdbMini.load(spark)
    val feats = CoveragePlayModel.features(plays, players, playerPlay, tracking,
      positions = Seq("CB", "S"))
    // 2 games × 5 dropback plays (TRADITIONAL ×4 + ROLLOUT; the run is out)
    assert(feats.count() == 10)
    // BdbMini analog of the reference's 9,713 × 82 matrix
    // (DefCoverage.ipynb:122): 3 keys + 9 stats × 2 positions + 5 play
    // context cols + coverage + score_diff
    assert(feats.columns.length == 3 + 9 * 2 + 5 + 1 + 1)
    // exact names and order: reference {stat}_{position} naming, position
    // blocks in the pinned order, stats in pivotStats order
    val statPos = for (p <- Seq("CB", "S"); st <- Seq("x_mean", "x_std", "y_mean",
      "y_std", "s_mean", "s_std", "a_mean", "a_std", "count_defenders")) yield s"${st}_$p"
    assert(feats.columns.toSeq == Seq("gameId", "playId", "defensiveTeam") ++ statPos ++
      Seq("pff_passCoverage", "down", "yardsToGo", "preSnapHomeScore",
        "preSnapVisitorScore", "absoluteYardlineNumber", "score_diff"))
    val fc = CoveragePlayModel.featureCols(feats)
    assert(fc.size == 9 * 2 + 5 + 1)
    assert(fc.contains("x_mean_CB") && fc.contains("count_defenders_S")
      && fc.contains("score_diff"))
    // 11 defenders split 6/5 between CB and S in every play (which side
    // gets 6 alternates by game); pivot fill never fires
    val counts = feats.select("count_defenders_CB", "count_defenders_S").collect()
    assert(counts.forall(r => Set(r.getLong(0), r.getLong(1)) == Set(5L, 6L)))
  }

  test("pipeline heads match the committed goldens byte-for-byte") {
    // Only the ML-training heads remain golden-backed (Golden.queries =
    // bdb_coverage_model / bdb_disguise — model metrics DuckDB cannot
    // replay); the relational/kernel stages all graduated to DuckDB
    // oracles in round 8. The goldens turn a training regression into a
    // test diff instead of silent drift. Regenerate ONLY for an intended
    // model change: sbt "Test/runMain graft.bdb.Golden"
    Golden.queries.foreach { name =>
      val got = Golden.render(graft.SparkEntry.queries(name)(spark, "unused"))
      val want = {
        val in = getClass.getResourceAsStream(Golden.resourcePath(name))
        assert(in != null, s"missing committed golden for $name")
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      assert(got == want, {
        val g = got.linesIterator.toSeq; val w = want.linesIterator.toSeq
        val firstDiff = g.zipAll(w, "<eof>", "<eof>").indexWhere(p => p._1 != p._2)
        s"$name diverged from golden at line $firstDiff: " +
          s"got=${g.lift(firstDiff)} want=${w.lift(firstDiff)}"
      })
    }
  }

  test("coverage model: RF separates Cover-3 from Cover-1 on the fixture") {
    val (_, _, players, _, _) = BdbMini.load(spark)
    val feats = CoveragePlayModel.features(plays, players, playerPlay, tracking,
      positions = Seq("CB", "S"))
    val metrics = CoveragePlayModel.rfMetrics(feats)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // coverage alternates with down in the fixture — learnable, but the
    // split-trained model may miss a down value absent from train
    assert(metrics("overall_accuracy") >= 0.8, s"acc=${metrics("overall_accuracy")}")
    assert(metrics("n_plays") == 10.0 && metrics("n_features") == 24.0)
    val conf = CoveragePlayModel.confusion(feats)
    assert(conf.agg(sum("n")).head.getLong(0) == 10L)
    // perfect fit ⇒ diagonal-only confusion
    assert(conf.filter(col("actual") =!= col("predicted")).count() == 0)
  }

  test("disguise detection replays cover_threshold.R over the predictions") {
    val (_, _, players, _, _) = BdbMini.load(spark)
    val preds = CoveragePlayModel.predictions(
      CoveragePlayModel.features(plays, players, playerPlay, tracking,
        positions = Seq("CB", "S")).repartition(4))
    val flagged = DisguiseDetection(preds).cache()
    val rows = flagged.collect()
    assert(rows.length == 10) // one row per labeled fixture play
    // RF class probabilities sum to 1 — rowSums (cover_threshold.R:12)
    assert(rows.forall(r => math.abs(r.getAs[Double]("row_sum") - 1.0) < 1e-9))
    // canonicalization really fired: no space/hyphen survives in names
    assert(rows.forall(r => !r.getAs[String]("actual_coverage").exists(" -".contains(_))))
    // the dig rule, re-derived per row (cover_threshold.R:27-35)
    rows.foreach { r =>
      val expect =
        if (r.getAs[Double]("prob_actual") > 0.8 ||
            r.getAs[String]("actual_coverage") == r.getAs[String]("predicted_coverage")) 0
        else 1
      assert(r.getAs[Int]("disguised") == expect, s"dig mismatch on $r")
    }
    // sum(dig) (cover_threshold.R:39) consistent with the per-play flags
    assert(DisguiseDetection.disguisedCount(flagged) ==
      rows.map(_.getAs[Int]("disguised").toLong).sum)
    flagged.unpersist()
  }

  test("disguise detection on hand rows: dig branches and name canon") {
    // the fixture RF fits perfectly (dig = 0 everywhere), so the
    // disguised=1 branch and the hyphen/space rewrites need hand rows:
    //   a) mispredicted + low prob on actual     -> dig 1
    //   b) mispredicted but prob_actual > .8     -> dig 0 (threshold arm)
    //   c) correct prediction, low prob          -> dig 0 (equality arm)
    //   d) actual class missing from the map     -> prob 0, dig 1
    import spark.implicits._
    val preds = Seq(
      (1L, 1, "A", "2-Man", "Cover 6", Map("2-Man" -> 0.3, "Cover 6" -> 0.7)),
      (1L, 2, "A", "Cover 6", "2-Man", Map("2.Man" -> 0.09, "Cover.6" -> 0.91)),
      (1L, 3, "A", "Cover-3", "Cover 3", Map("Cover.3" -> 0.2, "2.Man" -> 0.8)),
      (1L, 4, "A", "Quarters", "Cover 0", Map("Cover.0" -> 1.0)))
      .toDF("gameId", "playId", "defensiveTeam",
            "actual_coverage", "predicted_coverage", "probs")
    val out = DisguiseDetection(preds).orderBy("playId").collect()
    assert(out.map(_.getAs[Int]("disguised")).toSeq == Seq(1, 0, 0, 1))
    assert(out.map(_.getAs[String]("actual_coverage")).toSeq ==
      Seq("2.Man", "Cover.6", "Cover.3", "Quarters"))
    assert(out(3).getAs[Double]("prob_actual") == 0.0) // missing-class fallback
    assert(DisguiseDetection.disguisedCount(DisguiseDetection(preds)) == 2L)
  }
}
