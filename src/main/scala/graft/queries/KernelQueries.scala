package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.domain.{Interception, Kernels, Kinematics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.8 — the compute kernels (K1/K2), exercised over
  * kinematic columns derived deterministically from the events table
  * (the testdata has no tracking table; the kernels are generic).
  *
  * Scale notes: both kernels are per-row map work — no shuffle, no
  * driver involvement, embarrassingly parallel across partitions exactly
  * like the reference's future_lapply chunking (K3), which Spark
  * subsumes. K1 is closed-form (~360 flops/row vs 360 optimizer runs in
  * the reference). K2's per-row seeded RNG keeps results identical under
  * any partitioning — repartition-safe by construction.
  */
object KernelQueries {

  /** Deterministic kinematic columns derived from events: receiver speed
    * 5-10 yd/s, ball speed 15-25 yd/s (vb > vp always), positions on the
    * 120 × 53.3 field. */
  private def kin(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("vp", lit(5.0) + col("value") % 5)
    .withColumn("px", col("value") % 100 + 10)
    .withColumn("py", (col("user_id") % 40).cast("double") + 5)
    .withColumn("vb", lit(15.0) + col("value") % 10)
    .withColumn("bx", lit(60.0))
    .withColumn("by", lit(26.65))

  private val k1Udf = udf { (vp: Double, px: Double, py: Double,
                             vb: Double, bx: Double, by: Double) =>
    Interception.partialRadius(vp, px, py, vb, bx, by)
  }.withName(Kernels.K1Name)

  /** DuckDB replay of the FULL k2 Monte-Carlo kernel (what makes the MC
    * oracle-checkable at all): SplitMix64's draw j is a pure function of
    * (seed, j) — state after j draws is seed + (j+1)·GOLDEN mod 2^64 —
    * so `unnest(range(n))` enumerates every sample with no recursion,
    * and the kernel's ops are all exactly-specified IEEE doubles (sqrt
    * forms, fmod, one atan2; see Openness scaladoc). It replays the
    * plain loop, every sample against every defender with `atan2`, so it
    * checks the kernel's pruning independently. The u64 wrap
    * arithmetic runs on native UBIGINT via a 32-bit-split multiply whose
    * partial products all stay below 2^64, with a single HUGEINT
    * add-then-mask per multiply; every intermediate is a NAMED CTE
    * COLUMN because DuckDB does not CSE textually repeated expression
    * trees — the staged form below replays 1000 rows x ~5k samples in
    * ~6 s where a naive macro expansion took 175 s. */
  private val k2OracleSql: String = {
    import OracleU64.{umul, uadd, G, C1, C2}
    s"""WITH k AS (
       |  SELECT event_id, 2.0 + (value % 3) AS vs, (value % 6.28) AS dir0,
       |         (value % 100) + 10 AS px, CAST(user_id % 40 AS DOUBLE) + 5 AS py,
       |         15.0 + (value % 10) AS vb, 60.0 AS fx, 26.65 AS fy,
       |         CAST(event_id AS UBIGINT) AS e
       |  FROM events WHERE event_id < 1000),
       |${OracleU64.mix64Ctes("k", "e", "sd", "seed", "sa")},
       |box AS (
       |  SELECT event_id, vs, dir0, px, py, vb, fx, fy, seed,
       |         greatest(0.0, px - vs) AS x0, least(120.0, px + vs) AS x1,
       |         greatest(0.0, py - vs) AS y0, least(53.3, py + vs) AS y1
       |  FROM sd),
       |samples AS (
       |  SELECT event_id, vs, dir0, px, py, vb, fx, fy, seed, x0, x1, y0, y1,
       |         CAST(unnest(range(CAST(ceil((x1-x0) * (y1-y0) * 100.0) AS BIGINT))) AS UBIGINT) AS i
       |  FROM box),
       |g0 AS (SELECT *, 2*i+1 AS jx, 2*i+2 AS jy FROM samples),
       |g1 AS (SELECT *, ${umul("jx", G)} AS gx, ${umul("jy", G)} AS gy FROM g0),
       |t0 AS (SELECT *, ${uadd("seed", "gx")} AS ax0, ${uadd("seed", "gy")} AS ay0 FROM g1),
       |t1 AS (SELECT event_id, vs, dir0, px, py, vb, fx, fy, x0, x1, y0, y1,
       |              xor(ax0, ax0 >> 30) AS bx0, xor(ay0, ay0 >> 30) AS by0 FROM t0),
       |t2 AS (SELECT *, ${umul("bx0", C1)} AS ax1, ${umul("by0", C1)} AS ay1 FROM t1),
       |t3 AS (SELECT event_id, vs, dir0, px, py, vb, fx, fy, x0, x1, y0, y1,
       |              xor(ax1, ax1 >> 27) AS bx1, xor(ay1, ay1 >> 27) AS by1 FROM t2),
       |t4 AS (SELECT *, ${umul("bx1", C2)} AS ax2, ${umul("by1", C2)} AS ay2 FROM t3),
       |pt AS (SELECT event_id, vs, dir0, px, py, vb, fx, fy,
       |              x0 + CAST(xor(ax2, ax2 >> 31) >> 11 AS DOUBLE)
       |                   * 1.1102230246251565e-16 * (x1 - x0) AS sx,
       |              y0 + CAST(xor(ay2, ay2 >> 31) >> 11 AS DOUBLE)
       |                   * 1.1102230246251565e-16 * (y1 - y0) AS sy FROM t4),
       |tb1 AS (
       |  SELECT event_id, vs, dir0, px, py, sx, sy,
       |         sqrt((sx-fx)*(sx-fx) + (sy-fy)*(sy-fy)) / vb AS tb
       |  FROM pt),
       |lvl2 AS (
       |  SELECT event_id, dir0, px, py, sx, sy, tb,
       |         sqrt((sx-px)*(sx-px) + (sy-py)*(sy-py)) / greatest(vs, 1e-9) AS tr,
       |         (CASE WHEN sqrt((sx-(px+3))*(sx-(px+3)) + (sy-(py+2))*(sy-(py+2))) / 6.0 <= tb THEN 1 ELSE 0 END
       |        + CASE WHEN sqrt((sx-(px-4))*(sx-(px-4)) + (sy-(py-1))*(sy-(py-1))) / 7.0 <= tb THEN 1 ELSE 0 END
       |        + CASE WHEN sqrt((sx-(px+1))*(sx-(px+1)) + (sy-(py-5))*(sy-(py-5))) / 8.0 <= tb THEN 1 ELSE 0 END) AS kdef
       |  FROM tb1),
       |lvl3 AS (
       |  SELECT event_id, tr, tb, kdef,
       |         CASE WHEN kdef = 0 THEN
       |           abs(fmod(fmod(atan2(sy - py, sx - px), 2*pi()) + 2*pi(), 2*pi())
       |             - fmod(fmod(dir0, 2*pi()) + 2*pi(), 2*pi())) END AS d0
       |  FROM lvl2),
       |scored AS (
       |  SELECT event_id,
       |    CASE WHEN tr <= tb THEN
       |      CASE WHEN kdef = 0 THEN 5 + CASE WHEN least(d0, 2*pi() - d0) <= pi() / 8 THEN 1 ELSE 0 END
       |           WHEN kdef > 1 THEN -kdef ELSE 0 END
       |    ELSE 0 END AS s5
       |  FROM lvl3)
       |SELECT event_id, round(sum(s5) / 5.0, 4) AS open_count
       |FROM scored GROUP BY event_id ORDER BY event_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // K1 — interception radius, closed form. The oracle replays the same
    // quadratic-root formula as a DuckDB list comprehension over the 360
    // headings — the kernel is *independently* recomputed by a second
    // engine, not just re-run.
    q("k1_intercept_radius",
      """WITH k AS (
        |  SELECT event_id,
        |         5.0 + (value % 5)  AS vp,
        |         (value % 100) + 10 AS px,
        |         CAST(user_id % 40 AS DOUBLE) + 5 AS py,
        |         15.0 + (value % 10) AS vb,
        |         60.0 AS bx, 26.65 AS by
        |  FROM events WHERE event_id < 2000),
        |r AS (
        |  SELECT event_id,
        |         [ vp * ( vp*((px-bx)*cos(radians(d)) + (py-by)*sin(radians(d)))
        |               + sqrt( vp*vp * ((px-bx)*cos(radians(d)) + (py-by)*sin(radians(d)))
        |                             * ((px-bx)*cos(radians(d)) + (py-by)*sin(radians(d)))
        |                     + (vb*vb - vp*vp) * ((px-bx)*(px-bx) + (py-by)*(py-by)) )
        |               ) / (vb*vb - vp*vp)
        |           for d in range(0, 360) ] AS radii
        |  FROM k)
        |SELECT event_id,
        |       round(list_min(radii), 4) AS r_min,
        |       round(list_max(radii), 4) AS r_max,
        |       round(list_aggregate(radii, 'sum') / 360, 4) AS r_mean
        |FROM r ORDER BY event_id""".stripMargin) { (s, dir) =>
      // Kernels.spread: the filtered single-file scan would feed the
      // 360-heading kernel to 1-2 tasks
      Kernels.spread(
          kin(Tables.load(s, dir, "events").filter(col("event_id") < 2000)),
          col("event_id"))
        .withColumn("radii", k1Udf(col("vp"), col("px"), col("py"),
                                   col("vb"), col("bx"), col("by")))
        .select(col("event_id"),
          round(array_min(col("radii")), 4).as("r_min"),
          round(array_max(col("radii")), 4).as("r_max"),
          round(aggregate(col("radii"), lit(0.0), _ + _) / 360, 4).as("r_mean"))
        .orderBy("event_id")
    },

    // K2 — seeded Monte-Carlo openness, ORACLE-CHECKED over all 1000
    // rows: the seed is a SplitMix64 scramble of the row key — portable 64-bit
    // arithmetic both engines reproduce bit-for-bit — and every kernel op
    // is an exactly-specified IEEE double op, so DuckDB independently
    // regenerates seeds, replays all ~5M weighted MC samples, and the
    // integer-fifths scores hash-match. Partitioning-invariance stays
    // asserted in OpennessSpec.
    q("k2_openness", k2OracleSql) { (s, dir) =>
      // Kernels.spread: ~5M MC samples behind a 1000-row single-file
      // scan would otherwise run in one or two tasks
      Kernels.spread(
          kin(Tables.load(s, dir, "events").filter(col("event_id") < 1000)),
          col("event_id"))
        .withColumn("vs", lit(2.0) + col("value") % 3) // small reach box
        .withColumn("dir0", (col("value") % lit(6.28)))
        .withColumn("dxs", array(col("px") + 3, col("px") - 4, col("px") + 1))
        .withColumn("dys", array(col("py") + 2, col("py") - 1, col("py") - 5))
        .withColumn("dss", array(lit(6.0), lit(7.0), lit(8.0)))
        .withColumn("seed", Kernels.mix64Udf(col("event_id")))
        .withColumn("open_count",
          round(Kernels.k2Udf(array(col("vs"), col("dir0"), col("px"), col("py"),
                                    col("vb"), col("bx"), col("by")),
                              col("dxs"), col("dys"), col("dss"), col("seed")), 4))
        .select("event_id", "open_count")
        .orderBy("event_id")
    },

    // F2 — per-step Euclidean distance between consecutive positions
    // (distance_step — BuildingReadOrder.R:87, DefPosModel.ipynb:143-147)
    q("f2_step_distance",
      """SELECT event_id, user_id,
        |       round(sqrt((x - lx) * (x - lx) + (y - ly) * (y - ly)), 4) AS step
        |FROM (SELECT event_id, user_id,
        |             value % 100 AS x, (value * 7) % 50 AS y,
        |             lag(value % 100)  OVER w AS lx,
        |             lag((value * 7) % 50) OVER w AS ly
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE lx IS NOT NULL ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("x", col("value") % 100)
        .withColumn("y", (col("value") * 7) % 50)
        .withColumn("lx", lag("x", 1).over(w))
        .withColumn("ly", lag("y", 1).over(w))
        .filter(col("lx").isNotNull)
        .select(col("event_id"), col("user_id"),
          round(sqrt((col("x") - col("lx")) * (col("x") - col("lx")) +
                     (col("y") - col("ly")) * (col("y") - col("ly"))), 4).as("step"))
        .orderBy("event_id")
    },
  )
}
