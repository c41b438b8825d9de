package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import org.apache.spark.sql.functions._

/** SURVEY.md §2.7 — scalar function families (F1-F16).
  *
  * All pure per-row expressions: codegen'd, no shuffle, fully pushdown-
  * transparent. Transcendental functions (cos/sin/atan2) can differ from
  * the oracle's libm in the last ulp, so those results are rounded to 6
  * decimals on BOTH sides; plain arithmetic is compared bit-exact.
  */
object ScalarFuncQueries {

  val defs: Seq[QueryDef] = Seq(

    // F1/F2/F4 — trig & math + euclidean distance + kinematics step
    // (radius_model.R:24-31; DefPosModel.ipynb:143-147; BuildingReadOrder.R:87)
    q("f1_math",
      """SELECT event_id,
        |       round(cos(value), 6) AS cos_v,
        |       round(sin(value), 6) AS sin_v,
        |       round(atan2(value, 10.0), 6) AS heading,
        |       round(sqrt(abs(value)), 6) AS root,
        |       CAST(floor(value) AS BIGINT) AS flr,
        |       least(value, 10.0) AS capped,
        |       greatest(value, 1.0) AS floored,
        |       round(sqrt(pow(value - 5.0, 2) + pow(value - 2.0, 2)), 6) AS dist,
        |       round(value * 0.1 + 0.5 * value * 0.01, 6) AS kin_step
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          round(cos(col("value")), 6).as("cos_v"),
          round(sin(col("value")), 6).as("sin_v"),
          round(atan2(col("value"), lit(10.0)), 6).as("heading"),
          round(sqrt(abs(col("value"))), 6).as("root"),
          floor(col("value")).as("flr"),
          least(col("value"), lit(10.0)).as("capped"),
          greatest(col("value"), lit(1.0)).as("floored"),
          round(sqrt(pow(col("value") - 5.0, 2) + pow(col("value") - 2.0, 2)), 6).as("dist"),
          round(col("value") * 0.1 + lit(0.5) * col("value") * 0.01, 6).as("kin_step"))
        .orderBy("event_id")
    },

    // F3 — angle normalization to [0, 2π) with fmod (radius_model.R:153)
    q("f3_angle_norm",
      """SELECT event_id,
        |       round(fmod(fmod(value, 2 * pi()) + 2 * pi(), 2 * pi()), 6) AS angle
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val twoPi = lit(2 * math.Pi)
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          round(((col("value") % twoPi) + twoPi) % twoPi, 6).as("angle"))
        .orderBy("event_id")
    },

    // F5 — string concat with separators (paste/str_c — Matchup
    // Information.R:40; cover_threshold.R:29)
    q("f5_concat",
      """SELECT o_orderkey,
        |       concat(o_orderstatus, ' - ', o_orderpriority) AS label,
        |       concat('prio_', o_orderpriority) AS prefixed
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          concat_ws(" - ", col("o_orderstatus"), col("o_orderpriority")).as("label"),
          concat(lit("prio_"), col("o_orderpriority")).as("prefixed"))
        .orderBy("o_orderkey")
    },

    // F6 — string split / reverse / rejoin (route mirror — Matchup
    // Information.R:75-77)
    q("f6_split_reverse",
      """SELECT DISTINCT o_orderpriority,
        |       array_to_string(list_reverse(string_split(o_orderpriority, '-')), '-')
        |         AS mirrored
        |FROM orders ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"),
          array_join(reverse(split(col("o_orderpriority"), "-")), "-").as("mirrored"))
        .distinct()
        .orderBy("o_orderpriority")
    },

    // F7/F8 — regex replace + case conversion (cover_threshold.R:19-20;
    // Visualization.R:158-159)
    q("f7_regex_upper",
      """SELECT DISTINCT c_mktsegment,
        |       upper(regexp_replace(lower(c_mktsegment), '[aeiou]', '_', 'g')) AS coded
        |FROM customer ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer")
        .select(col("c_mktsegment"),
          upper(regexp_replace(lower(col("c_mktsegment")), "[aeiou]", "_")).as("coded"))
        .distinct()
        .orderBy("c_mktsegment")
    },

    // F9 — timestamp parse with ragged fractional seconds
    // (DefPosModel.ipynb:57-67): 1-, 3-, and 6-digit fractions plus a
    // malformed row that must coerce to NULL
    q("f9_ts_parse",
      """SELECT id, ts_parsed FROM (VALUES
        |  (1, TRY_CAST('2024-03-01 10:00:07.1' AS TIMESTAMP)),
        |  (2, TRY_CAST('2024-03-01 10:00:07.123' AS TIMESTAMP)),
        |  (3, TRY_CAST('2024-03-01 10:00:07.123456' AS TIMESTAMP)),
        |  (4, TRY_CAST('not a timestamp' AS TIMESTAMP))) AS t(id, ts_parsed)
        |ORDER BY id""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq((1, "2024-03-01 10:00:07.1"),
          (2, "2024-03-01 10:00:07.123"),
          (3, "2024-03-01 10:00:07.123456"),
          (4, "not a timestamp"))
        .toDF("id", "raw")
        .select(col("id"), try_to_timestamp(col("raw")).as("ts_parsed"))
        .orderBy("id")
    },

    // F10 — interval arithmetic (±2 s window — DefPosModel.ipynb:90,103)
    q("f10_interval",
      """SELECT event_id,
        |       ts + INTERVAL 2 SECOND AS ts_plus2s,
        |       ts - INTERVAL 2 SECOND AS ts_minus2s
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 2 SECONDS")).as("ts_plus2s"),
          (col("ts") - expr("INTERVAL 2 SECONDS")).as("ts_minus2s"))
        .orderBy("event_id")
    },

    // F11/F12 — mm:ss ↔ seconds + sprintf-style formatting
    // (Visualization.R:111-125)
    q("f11_clock",
      """SELECT event_id,
        |       printf('%d:%02d', minute(ts), CAST(second(ts) AS INT)) AS clock,
        |       minute(ts) * 60 + CAST(second(ts) AS INT) AS secs_into_hour
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          format_string("%d:%02d", minute(col("ts")), second(col("ts"))).as("clock"),
          (minute(col("ts")) * 60 + second(col("ts"))).cast("long")
            .as("secs_into_hour"))
        .orderBy("event_id")
    },

    // F13 — conditional scalar + clamp (pmax/pmin — killer_plot_
    // function.R:58-70)
    q("f13_clamp",
      """SELECT l_orderkey, l_linenumber,
        |       greatest(least(l_quantity, 40.0), 10.0) AS qty_clamped,
        |       CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(least(col("l_quantity"), lit(40.0)), lit(10.0)).as("qty_clamped"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("size_flag"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // F15 — rounding-mode semantics: Spark round() is HALF_UP, R (and the
    // reference's round) is HALF_EVEN ⇒ bround. Exercised on exact .5
    // fractions (odd quantity / 2). Oracle reproduces HALF_EVEN explicitly.
    q("f15_bround",
      """SELECT l_orderkey, l_linenumber, half,
        |       CAST(CASE WHEN l_quantity % 2 = 1 THEN
        |         CAST(l_quantity AS BIGINT) // 2
        |           + CASE WHEN (CAST(l_quantity AS BIGINT) // 2) % 2 = 0
        |                  THEN 0 ELSE 1 END
        |       ELSE CAST(l_quantity AS BIGINT) // 2 END AS DOUBLE) AS banker_rounded,
        |       round(half) AS half_up_rounded
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity,
        |             l_quantity / 2.0 AS half FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .withColumn("half", col("l_quantity") / 2.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("half"),
          bround(col("half")).as("banker_rounded"),
          round(col("half")).as("half_up_rounded"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // F16 — sequence generation + fold (rep/seq — radius_model.R:11-15).
    // BIGINT accumulator on the Spark side + explicit BIGINT cast on the
    // oracle: DuckDB's list_aggregate sum widens to HUGEINT and the driver
    // hash is type-aware.
    q("f16_sequence",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(list_aggregate(generate_series(1, l_linenumber), 'sum')
        |            AS BIGINT) AS tri_sum
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          aggregate(sequence(lit(1), col("l_linenumber")), lit(0L),
            (acc, x) => acc + x).as("tri_sum"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // F18 — native codegen Expression + optimizer Rule (graft.plans):
    // within_dist compiles the circle test into whole-stage codegen and
    // DistancePushdownRule prepends sargable bounding-box conjuncts that
    // reach the parquet scan as range filters (asserted in WithinDistSpec)
    q("f18_within_dist",
      """SELECT event_id FROM events
        |WHERE (value - 50.0) * (value - 50.0)
        |      + (CAST(user_id AS DOUBLE) - 10.0) * (CAST(user_id AS DOUBLE) - 10.0)
        |      <= 900.0
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events").createOrReplaceTempView("f18_events")
      s.sql("""SELECT event_id FROM f18_events
              |WHERE within_dist(value, CAST(user_id AS DOUBLE), 50.0, 10.0, 30.0)
              |ORDER BY event_id""".stripMargin)
    },

    // F17 — JSON field extraction from a string column (semi-structured
    // props on the events stream; not in the reference but table stakes
    // for a log-shaped pipeline). Codegen'd path, no UDF.
    q("f17_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    },
  )
}
