package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.{q, qRowsOnly}
import graft.bdb._

/** SURVEY.md §3.1 entry point A as registered queries: the full
  * prep → openness → read-order → PRESS pipeline and the matchup
  * analysis, running on the deterministic BdbMini fixture (the sfDir
  * tables carry no tracking data; the pipeline is the reference's
  * domain product and is exercised end to end here + golden-tested in
  * PipelineSpec).
  *
  * The two purely-relational stages (`bdb_mirror_matchups`,
  * `bdb_coverage_features`) are DuckDB-oracled over the parquet fixture
  * replica (BdbMini.writeFixture); the kernel/ML stages stay rows-only
  * (MC openness / RF training are not SQL-expressible) with committed
  * goldens.
  */
object BdbQueries {

  /** DuckDB-side view of the parquet fixture replica (BdbMini
    * .writeFixture). Derived from the SAME path constant the writer
    * uses, so the two can never drift. */
  private def fixSql(table: String): String =
    s"read_parquet('${BdbMini.fixturePath}/$table/*.parquet')"

  /** The two purely-relational pipeline stages are DuckDB-oracled over
    * the parquet fixture (round-8 ask #1); the kernel/ML stages stay
    * rows-only with committed goldens. */
  private val mirrorOracle: String =
    s"""WITH pp AS (SELECT * FROM ${fixSql("player_play")}),
       |tr AS (SELECT * FROM ${fixSql("tracking")}),
       |pl AS (SELECT * FROM ${fixSql("plays")}),
       |trees AS (
       |  SELECT r.gameId, r.playId,
       |         string_agg(r.routeRan, ' ' ORDER BY t.y, r.nflId) AS route_tree
       |  FROM pp r
       |  JOIN tr t ON r.gameId = t.gameId AND r.playId = t.playId
       |           AND r.nflId = t.nflId
       |  WHERE r.wasRunningRoute AND t.frameType = 'SNAP'
       |  GROUP BY r.gameId, r.playId),
       |tc AS (
       |  SELECT trees.gameId, trees.playId, trees.route_tree,
       |         pl.pff_passCoverage
       |  FROM trees JOIN pl ON trees.gameId = pl.gameId
       |                    AND trees.playId = pl.playId),
       |wr AS (
       |  SELECT *, array_to_string(list_reverse(string_split(route_tree, ' ')), ' ')
       |           AS reversed_route
       |  FROM tc)
       |SELECT a.gameId, a.playId, a.route_tree,
       |       b.gameId AS mirror_gameId, b.playId AS mirror_playId
       |FROM wr a LEFT JOIN wr b
       |  ON a.pff_passCoverage = b.pff_passCoverage
       | AND a.route_tree = b.reversed_route
       | AND (a.gameId <> b.gameId OR a.playId <> b.playId)
       |ORDER BY a.gameId, a.playId""".stripMargin

  /** BuildingReadOrder.R + QBReadStats.R as one DuckDB CTE chain:
    * dropback timing (sequential window cumsum of the kinematic step,
    * `s*0.1 + a*(0.5*0.1*0.1)` with the constant folded identically),
    * ±y read order with the pinned (y, nflId) tie-break, the
    * argmin-slot expected receiver (first tie wins:
    * list_position∘list_min), and the PRESS ratio whose grand mean is
    * a sorted sequential fold (list_reduce∘list_sort — Spark's
    * aggregate∘sort_array, bit-identical order). */
  private val pressOracle: String =
    s"""WITH pl AS (SELECT * FROM ${fixSql("plays")}),
       |pls AS (SELECT * FROM ${fixSql("players")}),
       |pp AS (SELECT * FROM ${fixSql("player_play")}),
       |tr AS (SELECT * FROM ${fixSql("tracking")}),
       |qbs AS (SELECT nflId FROM pls WHERE position = 'QB'),
       |qbf AS (
       |  SELECT t.gameId, t.playId, t.frameId, t.s, t.a, p.dropbackDistance
       |  FROM tr t JOIN qbs q ON t.nflId = q.nflId
       |  JOIN pl p ON t.gameId = p.gameId AND t.playId = p.playId
       |           AND p.isDropback
       |  WHERE t.frameType = 'AFTER_SNAP'),
       |cum AS (
       |  SELECT gameId, playId, frameId, dropbackDistance,
       |         sum(s * 0.1 + a * (0.5 * 0.1 * 0.1)) OVER (
       |           PARTITION BY gameId, playId ORDER BY frameId
       |           ROWS UNBOUNDED PRECEDING) AS cum_dist
       |  FROM qbf),
       |timing AS (
       |  SELECT gameId, playId,
       |         min(CASE WHEN cum_dist >= dropbackDistance THEN frameId END)
       |           AS top_drop_frame
       |  FROM cum GROUP BY gameId, playId),
       |rr AS (SELECT gameId, playId, nflId, wasTargettedReceiver
       |       FROM pp WHERE wasRunningRoute),
       |snap AS (SELECT gameId, playId, nflId, y FROM tr
       |         WHERE frameType = 'SNAP'),
       |rrp AS (SELECT r.gameId, r.playId, r.nflId, r.wasTargettedReceiver, s.y
       |        FROM rr r JOIN snap s ON r.gameId = s.gameId
       |         AND r.playId = s.playId AND r.nflId = s.nflId),
       |side AS (SELECT gameId, playId,
       |                CASE WHEN y < 53.3 / 2 THEN 'R' ELSE 'L' END AS firstSide
       |         FROM rrp WHERE wasTargettedReceiver),
       |ordered AS (
       |  SELECT rrp.gameId, rrp.playId, rrp.nflId,
       |         row_number() OVER (PARTITION BY rrp.gameId, rrp.playId
       |           ORDER BY CASE WHEN side.firstSide = 'R' THEN -rrp.y
       |                         ELSE rrp.y END, rrp.nflId) AS read_order
       |  FROM rrp JOIN side ON rrp.gameId = side.gameId
       |                    AND rrp.playId = side.playId),
       |reads AS (
       |  SELECT gameId, playId, list(nflId ORDER BY read_order) AS targets
       |  FROM ordered GROUP BY gameId, playId),
       |db AS (SELECT gameId, playId, timeToThrow FROM pl
       |       WHERE isDropback AND dropbackType = 'TRADITIONAL'
       |         AND NOT unblockedPressure),
       |tgt AS (SELECT gameId, playId, nflId AS targeted_nflId FROM pp
       |        WHERE wasTargettedReceiver),
       |thr AS (
       |  SELECT d.gameId, d.playId, r.targets, g.targeted_nflId,
       |         t.top_drop_frame + round(d.timeToThrow, 1) * 10
       |           AS throw_frame_abs
       |  FROM db d
       |  JOIN timing t ON d.gameId = t.gameId AND d.playId = t.playId
       |  JOIN reads r ON d.gameId = r.gameId AND d.playId = r.playId
       |  JOIN tgt g ON d.gameId = g.gameId AND d.playId = g.playId),
       |scored AS (
       |  SELECT gameId, playId, targeted_nflId,
       |         targets[CAST(list_position(fd, list_min(fd)) AS INT)]
       |           = targeted_nflId AS correct_read
       |  FROM (SELECT thr.*, t2.top_drop_frame,
       |               [abs(t2.top_drop_frame + i * 5 - thr.throw_frame_abs)
       |                for i in range(0, 5)] AS fd
       |        FROM thr JOIN timing t2 ON thr.gameId = t2.gameId
       |                              AND thr.playId = t2.playId)),
       |qbplay AS (
       |  SELECT pp.gameId, pp.playId, pp.nflId AS qb_nflId, pls.displayName
       |  FROM pp JOIN pls ON pp.nflId = pls.nflId
       |  WHERE pls.position = 'QB'),
       |perqb AS (
       |  SELECT q.qb_nflId, q.displayName,
       |         CAST(count(*) AS BIGINT) AS snaps,
       |         CAST(sum(CASE WHEN s.correct_read THEN 1 ELSE 0 END)
       |              AS DOUBLE) / count(*) AS effective_read_pct
       |  FROM scored s JOIN qbplay q ON s.gameId = q.gameId
       |                            AND s.playId = q.playId
       |  GROUP BY q.qb_nflId, q.displayName),
       |grand AS (
       |  SELECT list_reduce(list_sort(list(effective_read_pct)),
       |                     (acc, x) -> acc + x) / count(*) AS gmean
       |  FROM perqb)
       |SELECT qb_nflId, displayName, snaps, effective_read_pct,
       |       round(effective_read_pct / gmean * 100, 2) AS PRESS
       |FROM perqb CROSS JOIN grand
       |ORDER BY qb_nflId""".stripMargin

  /** Openness_Data_Frame_Prep.R + radius_model.R as one DuckDB CTE
    * chain — the k2_openness oracle pattern applied to the REAL
    * pipeline stage: rebuild cleaned_player_data relationally (throw
    * anchor, exact ball-speed median, receiver/defender frames), fold
    * the row key with *31s, replay the SplitMix64 seed scramble in
    * native-UBIGINT wrap arithmetic (`OracleU64.mix64Ctes`), enumerate
    * every MC sample as `unnest(range(n))` (draw j of SplitMix64 is a
    * pure function of (seed, j) — no recursion), and score: ball/
    * receiver/defender reach tests are sqrt-only IEEE doubles, the
    * heading bonus replays Java's fmod-wrap + atan2, and open_count is
    * an exact integer-fifths sum divided by 5. Defender tests run only
    * for samples the receiver can reach (the kernel short-circuits the
    * same way), as an 11-way row join + GROUP BY ALL per sample. */
  private val radiusOracle: String = {
    import OracleU64.mix64Ctes
    s"""WITH pl AS (SELECT * FROM ${fixSql("plays")}),
       |pp AS (SELECT * FROM ${fixSql("player_play")}),
       |tr AS (SELECT * FROM ${fixSql("tracking")}),
       |dbp AS (SELECT gameId, playId, defensiveTeam FROM pl WHERE isDropback),
       |anchored AS (
       |  SELECT gameId, playId,
       |         min(CASE WHEN event = 'pass_forward' THEN frameId END)
       |           AS throw_frame
       |  FROM tr GROUP BY gameId, playId),
       |ball AS (
       |  SELECT t.gameId, t.playId, t.frameId, t.x, t.y, t.s, a.throw_frame
       |  FROM tr t JOIN anchored a ON t.gameId = a.gameId
       |                           AND t.playId = a.playId
       |  WHERE t.displayName = 'football' AND a.throw_frame IS NOT NULL),
       |spd AS (
       |  SELECT gameId, playId, median(s) AS vb FROM ball
       |  WHERE frameId BETWEEN throw_frame + 2 AND throw_frame + 7
       |  GROUP BY gameId, playId),
       |bat AS (SELECT gameId, playId, x AS fx, y AS fy FROM ball
       |        WHERE frameId = throw_frame),
       |tspd AS (SELECT s.gameId, s.playId, s.vb, b.fx, b.fy
       |         FROM spd s JOIN bat b ON s.gameId = b.gameId
       |                             AND s.playId = b.playId),
       |rrs AS (SELECT gameId, playId, nflId FROM pp WHERE wasRunningRoute),
       |recv AS (
       |  SELECT t.gameId, t.playId, t.frameId, t.nflId,
       |         t.x AS px, t.y AS py, t.s AS vs,
       |         (t.dir / 180.0) * pi() AS dir0
       |  FROM tr t
       |  JOIN dbp d ON t.gameId = d.gameId AND t.playId = d.playId
       |  JOIN rrs r ON t.gameId = r.gameId AND t.playId = r.playId
       |            AND t.nflId = r.nflId
       |  WHERE t.frameType = 'AFTER_SNAP'),
       |defs AS (
       |  SELECT t.gameId, t.playId, t.frameId,
       |         list({'dx': t.x, 'dy': t.y, 'ds': t.s}) AS dlist
       |  FROM tr t JOIN dbp d ON t.gameId = d.gameId AND t.playId = d.playId
       |  WHERE t.frameType = 'AFTER_SNAP' AND t.club = d.defensiveTeam
       |  GROUP BY t.gameId, t.playId, t.frameId),
       |cl AS (
       |  SELECT r.*, t.vb, t.fx, t.fy
       |  FROM recv r JOIN tspd t ON r.gameId = t.gameId
       |                         AND r.playId = t.playId),
       |sk AS (SELECT *, CAST(((gameId * 31 + playId) * 31 + frameId) * 31
       |                      + nflId AS UBIGINT) AS e FROM cl),
       |${mix64Ctes("sk", "e", "sd", "seed", "ra")},
       |box AS (
       |  SELECT gameId, playId, frameId, nflId, vs, dir0, px, py, vb, fx, fy,
       |         seed,
       |         greatest(0.0, px - vs) AS x0, least(120.0, px + vs) AS x1,
       |         greatest(0.0, py - vs) AS y0, least(53.3, py + vs) AS y1
       |  FROM sd),
       |samples AS MATERIALIZED (
       |  -- MATERIALIZED is the parallelism lever, not a semantic: the
       |  -- source is 1.4k rows (2 row groups), so the whole unnested
       |  -- 14M-sample pipeline would otherwise run on <=2 threads;
       |  -- materializing right after the expansion lets every
       |  -- downstream stage scan fresh 122k-row chunks on all cores
       |  SELECT *, CAST(unnest(range(CAST(ceil((x1-x0) * (y1-y0) * 100.0)
       |                              AS BIGINT))) AS UBIGINT) AS i
       |  FROM box),
       |g0 AS (SELECT *, 2*i+1 AS jx, 2*i+2 AS jy FROM samples),
       |g1 AS (SELECT *, ${OracleU64.umul("jx", OracleU64.G)} AS gx,
       |               ${OracleU64.umul("jy", OracleU64.G)} AS gy FROM g0),
       |u0 AS (SELECT *, ${OracleU64.uadd("seed", "gx")} AS ax0,
       |               ${OracleU64.uadd("seed", "gy")} AS ay0 FROM g1),
       |u1 AS (SELECT gameId, playId, frameId, nflId, i, vs, dir0, px, py,
       |              vb, fx, fy, x0, x1, y0, y1,
       |              xor(ax0, ax0 >> 30) AS bx0, xor(ay0, ay0 >> 30) AS by0
       |       FROM u0),
       |u2 AS (SELECT *, ${OracleU64.umul("bx0", OracleU64.C1)} AS ax1,
       |               ${OracleU64.umul("by0", OracleU64.C1)} AS ay1 FROM u1),
       |u3 AS (SELECT gameId, playId, frameId, nflId, i, vs, dir0, px, py,
       |              vb, fx, fy, x0, x1, y0, y1,
       |              xor(ax1, ax1 >> 27) AS bx1, xor(ay1, ay1 >> 27) AS by1
       |       FROM u2),
       |u4 AS (SELECT *, ${OracleU64.umul("bx1", OracleU64.C2)} AS ax2,
       |               ${OracleU64.umul("by1", OracleU64.C2)} AS ay2 FROM u3),
       |pt AS (SELECT gameId, playId, frameId, nflId, i, vs, dir0, px, py,
       |              vb, fx, fy,
       |              x0 + CAST(xor(ax2, ax2 >> 31) >> 11 AS DOUBLE)
       |                   * 1.1102230246251565e-16 * (x1 - x0) AS sx,
       |              y0 + CAST(xor(ay2, ay2 >> 31) >> 11 AS DOUBLE)
       |                   * 1.1102230246251565e-16 * (y1 - y0) AS sy
       |       FROM u4),
       |tb1 AS MATERIALIZED (
       |  -- MATERIALIZED is load-bearing: without it DuckDB pushes the
       |  -- `tr <= tb` filter below the projections by SUBSTITUTING the
       |  -- column definitions into the predicate — re-expanding the
       |  -- whole staged scramble as one macro expression (each umul
       |  -- references its argument 4x, compounding per stage), the
       |  -- exact no-CSE pathology OracleU64's scaladoc pins. Measured:
       |  -- 37 min -> 23 s on the same 12.7M samples.
       |  SELECT gameId, playId, frameId, nflId, i, dir0, px, py, sx, sy,
       |         sqrt((sx-fx)*(sx-fx) + (sy-fy)*(sy-fy)) / vb AS tb,
       |         sqrt((sx-px)*(sx-px) + (sy-py)*(sy-py))
       |           / greatest(vs, 1e-9) AS tr
       |  FROM pt),
       |alive AS (SELECT * FROM tb1 WHERE tr <= tb),
       |kd AS (
       |  SELECT a.gameId, a.playId, a.frameId, a.nflId,
       |         a.dir0, a.px, a.py, a.sx, a.sy,
       |         list_sum(list_transform(d.dlist, e ->
       |           CASE WHEN sqrt((a.sx-e.dx)*(a.sx-e.dx)
       |                        + (a.sy-e.dy)*(a.sy-e.dy))
       |                     / greatest(e.ds, 1e-9) <= a.tb
       |                THEN 1 ELSE 0 END)) AS kdef
       |  FROM alive a JOIN defs d ON a.gameId = d.gameId
       |    AND a.playId = d.playId AND a.frameId = d.frameId),
       |lvl3 AS (
       |  SELECT gameId, playId, frameId, nflId, kdef,
       |         CASE WHEN kdef = 0 THEN
       |           abs(fmod(fmod(atan2(sy - py, sx - px), 2*pi()) + 2*pi(), 2*pi())
       |             - fmod(fmod(dir0, 2*pi()) + 2*pi(), 2*pi())) END AS d0
       |  FROM kd),
       |sc AS (
       |  SELECT gameId, playId, frameId, nflId,
       |         CASE WHEN kdef = 0 THEN
       |                5 + CASE WHEN least(d0, 2*pi() - d0) <= pi() / 8
       |                         THEN 1 ELSE 0 END
       |              WHEN kdef > 1 THEN -kdef ELSE 0 END AS s5
       |  FROM lvl3),
       |agg AS (SELECT gameId, playId, frameId, nflId, sum(s5) AS s5sum
       |        FROM sc GROUP BY ALL)
       |SELECT cl.gameId, cl.playId, cl.frameId, cl.nflId,
       |       CAST(dense_rank() OVER (PARTITION BY cl.gameId, cl.playId
       |                               ORDER BY cl.frameId) AS INT) - 1
       |         AS secondId,
       |       COALESCE(agg.s5sum, 0) / 5.0 AS open_count
       |FROM cl LEFT JOIN agg ON cl.gameId = agg.gameId
       |  AND cl.playId = agg.playId AND cl.frameId = agg.frameId
       |  AND cl.nflId = agg.nflId
       |ORDER BY cl.gameId, cl.playId, cl.frameId, cl.nflId""".stripMargin
  }

  /** DefCoverage.ipynb:101-119 as one DuckDB CTE chain: the exact
    * decimal-summed moment arithmetic of CoveragePlayModel.positionStats
    * (sum/sum-of-squares in DECIMAL(16,6)/(,12), then double scalar math
    * — identical IEEE ops on both engines), the pinned CB/S pivot with
    * fill-0, and the play-context join + score_diff. */
  private val coverageFeaturesOracle: String = {
    val stats = Seq("x", "y", "s", "a")
    val moments = stats.map { c =>
      s"""         CAST(sum(CAST($c AS DECIMAL(16,6))) AS DOUBLE) AS ${c}_s1,
         |         CAST(sum(CAST($c AS DECIMAL(16,6)) * CAST($c AS DECIMAL(16,6))) AS DOUBLE) AS ${c}_s2,
         |         CAST(count($c) AS DOUBLE) AS ${c}_n""".stripMargin
    }.mkString(",\n")
    val meansStds = stats.map { c =>
      s"""         ${c}_s1 / ${c}_n AS ${c}_mean,
         |         CASE WHEN ${c}_n > 1
         |              THEN sqrt(greatest((${c}_s2 - ${c}_s1 * ${c}_s1 / ${c}_n) / (${c}_n - 1), 0.0))
         |         END AS ${c}_std""".stripMargin
    }.mkString(",\n")
    val pivotCols = Seq("CB", "S").flatMap { p =>
      stats.flatMap { c =>
        Seq(s"    COALESCE(max(CASE WHEN position = '$p' THEN ${c}_mean END), 0.0) AS ${c}_mean_$p",
            s"    COALESCE(max(CASE WHEN position = '$p' THEN ${c}_std END), 0.0) AS ${c}_std_$p")
      } :+
      s"    COALESCE(max(CASE WHEN position = '$p' THEN count_defenders END), 0) AS count_defenders_$p"
    }.mkString(",\n")
    s"""WITH pp AS (SELECT * FROM ${fixSql("player_play")}),
       |pl AS (SELECT * FROM ${fixSql("plays")}),
       |ply AS (SELECT * FROM ${fixSql("players")}),
       |tr AS (SELECT * FROM ${fixSql("tracking")}),
       |dt AS (
       |  SELECT d.gameId, d.playId, d.nflId, d.defensiveTeam, d.position,
       |         t.x, t.y, t.s, t.a
       |  FROM (
       |    SELECT pp.gameId, pp.playId, pp.nflId, pl.defensiveTeam, ply.position
       |    FROM pp
       |    JOIN pl ON pp.gameId = pl.gameId AND pp.playId = pl.playId
       |    LEFT JOIN ply ON pp.nflId = ply.nflId
       |    WHERE pl.isDropback AND ply.position IN ('CB', 'S')) d
       |  JOIN tr t ON d.gameId = t.gameId AND d.playId = t.playId
       |           AND d.nflId = t.nflId),
       |g AS (
       |  SELECT gameId, playId, defensiveTeam, position,
       |$moments,
       |         count(DISTINCT nflId) AS count_defenders
       |  FROM dt GROUP BY gameId, playId, defensiveTeam, position),
       |st AS (
       |  SELECT gameId, playId, defensiveTeam, position,
       |$meansStds,
       |         count_defenders
       |  FROM g),
       |pv AS (
       |  SELECT gameId, playId, defensiveTeam,
       |$pivotCols
       |  FROM st GROUP BY gameId, playId, defensiveTeam),
       |sub AS (
       |  SELECT DISTINCT gameId, playId, defensiveTeam, pff_passCoverage,
       |         down, yardsToGo, preSnapHomeScore, preSnapVisitorScore,
       |         absoluteYardlineNumber
       |  FROM pl)
       |SELECT pv.*, sub.pff_passCoverage,
       |       COALESCE(sub.down, 0) AS down,
       |       COALESCE(sub.yardsToGo, 0) AS yardsToGo,
       |       COALESCE(sub.preSnapHomeScore, 0) AS preSnapHomeScore,
       |       COALESCE(sub.preSnapVisitorScore, 0) AS preSnapVisitorScore,
       |       COALESCE(sub.absoluteYardlineNumber, 0) AS absoluteYardlineNumber,
       |       COALESCE(sub.preSnapHomeScore, 0) - COALESCE(sub.preSnapVisitorScore, 0)
       |         AS score_diff
       |FROM pv JOIN sub ON pv.gameId = sub.gameId AND pv.playId = sub.playId
       |                AND pv.defensiveTeam = sub.defensiveTeam
       |WHERE sub.pff_passCoverage IS NOT NULL
       |ORDER BY pv.gameId, pv.playId""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Stages 2+3+4+5: cleaned_player_data → openness → timing/reads →
    // per-QB PRESS leaderboard (press_data, FIXTURES.md §3)
    // Stages 4+5 (BuildingReadOrder.R + QBReadStats.R): DuckDB-oracled
    // since round 8 — every op in the chain is engine-portable exact
    // arithmetic: the dropback cumulative distance is a sequential
    // window sum (same addition order both engines), the read schedule
    // and argmin-slot lookup are integer/array ops, the per-QB pct is
    // an integer-valued double sum over one division, and the PRESS
    // grand mean is a SORTED sequential fold both engines replay
    // (QBMetrics.press). bround(timeToThrow,1) vs DuckDB's
    // round-half-away is indistinguishable on this fixture (values
    // carry one decimal — the HALF_EVEN pin targets the reference's R
    // semantics, not the oracle).
    q("bdb_press_pipeline", pressOracle) { (s, _) =>
      val fix = BdbMini.writeFixture(s)
      val plays = Tables.parquet(s, s"$fix/plays")
      val players = Tables.parquet(s, s"$fix/players")
      val playerPlay = Tables.parquet(s, s"$fix/player_play")
      val tracking = Tables.parquet(s, s"$fix/tracking")
      val timing = ReadOrder.dropbackTiming(tracking, plays, players)
      val reads = ReadOrder.readsData(tracking, playerPlay)
      val throws = QBMetrics.throwScoring(plays, playerPlay, timing, reads)
      QBMetrics.press(throws, playerPlay, players)
        .orderBy("qb_nflId")
    },

    // Stages 2+3: openness scoring with secondId (radius_data) —
    // DuckDB-oracled since round 8 (the portable mix64 seed, see
    // RadiusStage scaladoc): the oracle independently re-runs the FULL
    // Monte-Carlo kernel over the fixture — ~14M samples, every
    // defender reach test — and the integer-fifths scores hash-match.
    q("bdb_radius_stage", radiusOracle) { (s, _) =>
      val fix = BdbMini.writeFixture(s)
      val plays = Tables.parquet(s, s"$fix/plays")
      val playerPlay = Tables.parquet(s, s"$fix/player_play")
      val tracking = Tables.parquet(s, s"$fix/tracking")
      val cleaned = OpennessPrep(tracking, plays, playerPlay)
      RadiusStage(cleaned)
        .select("gameId", "playId", "frameId", "nflId", "secondId", "open_count")
        .orderBy("gameId", "playId", "frameId", "nflId")
    },

    // Stage 6: route trees + mirror matching (Matchup Information.R:
    // 75-84) — J7/A9 over the fixture, DuckDB-oracled (round 8): the
    // Spark side reads the parquet replica BdbMini.writeFixture lays
    // down, and the oracle replays route-tree build + reverse-match
    // over the very same files.
    q("bdb_mirror_matchups", mirrorOracle) { (s, _) =>
      val fix = BdbMini.writeFixture(s)
      val plays = Tables.parquet(s, s"$fix/plays")
      val playerPlay = Tables.parquet(s, s"$fix/player_play")
      val tracking = Tables.parquet(s, s"$fix/tracking")
      val trees = MatchupAnalysis.routeTrees(tracking, playerPlay, plays)
      MatchupAnalysis.mirrorMatches(trees)
        .orderBy("gameId", "playId")
    },

    // Entry point B, stages 1-4: defender stats → position pivot → play
    // feature matrix (DefCoverage.ipynb:34-120) — DuckDB-oracled
    // (round 8): the moment sums are exact DECIMAL on both engines and
    // the scalar mean/std math is identical IEEE double ops, so the
    // whole 28-column matrix hash-matches.
    q("bdb_coverage_features", coverageFeaturesOracle) { (s, _) =>
      val fix = BdbMini.writeFixture(s)
      val plays = Tables.parquet(s, s"$fix/plays")
      val players = Tables.parquet(s, s"$fix/players")
      val playerPlay = Tables.parquet(s, s"$fix/player_play")
      val tracking = Tables.parquet(s, s"$fix/tracking")
      CoveragePlayModel.features(plays, players, playerPlay, tracking,
          positions = Seq("CB", "S"))
        .orderBy("gameId", "playId")
    },

    // Entry point B, stage 5: coverage RandomForest metrics
    // (DefCoverage.ipynb:124-187, 221-237). repartition(4) — NOT
    // coalesce, which would throttle the whole upstream feature-build
    // stage to 4 tasks — inserts a barrier so only the many small
    // tree-training jobs run on 4 instead of 32 near-empty partitions
    // (the matrix is 10 rows; a fixture-sized decision made here, not
    // in the engine API).
    qRowsOnly("bdb_coverage_model") { (s, _) =>
      val (_, plays, players, playerPlay, tracking) = BdbMini.load(s)
      CoveragePlayModel.rfMetrics(
          CoveragePlayModel.features(plays, players, playerPlay, tracking,
            positions = Seq("CB", "S")).repartition(4))
        .orderBy("metric")
    },

    // cover_threshold.R:8-39 — disguise detection over the coverage
    // model's per-play probabilities: canon names, probability-of-actual
    // lookup, dig flag at the 0.8 threshold, per-play disguised column.
    // (repartition(4): same fixture-sized tree-training barrier as
    // bdb_coverage_model.)
    qRowsOnly("bdb_disguise") { (s, _) =>
      val (_, plays, players, playerPlay, tracking) = BdbMini.load(s)
      DisguiseDetection(CoveragePlayModel.predictions(
          CoveragePlayModel.features(plays, players, playerPlay, tracking,
            positions = Seq("CB", "S")).repartition(4)))
        .orderBy("gameId", "playId", "defensiveTeam")
    },
  )
}
