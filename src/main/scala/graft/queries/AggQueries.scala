package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import graft.plans.SketchHash
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 — aggregations (A1-A16) over the synthetic tables.
  *
  * Scale notes: every groupBy below compiles to HashAggregate with
  * partial (map-side) aggregation, so the shuffle carries one row per
  * (partition, group), not per input row. Low-cardinality groups
  * (returnflag × linestatus = 6) reduce to near-nothing before the
  * exchange. Double-typed aggregates are rounded on BOTH sides of the
  * oracle compare, since summation order is engine-dependent at the ulp
  * level.
  */
object AggQueries {

  /** floor(709·2^71 / (1000·S)) numerator — alpha_64·m²·2^59 in exact
    * fixed point (see plans/HllAgg.scala). */
  private val HllEstNum = "1674078918177289228255232"

  /** Shared a29/a30 oracle chain: per-returnflag HLL register file of
    * the column `key` — DISTINCT keys, the portable mix64 scramble
    * (OracleU64.mix64Ctes), register = low 6 seed bits, rank = 59 −
    * bitlength(suffix), padded to all 64 registers per group (empty
    * register ⇒ rho 0). Ends in CTE `regs(l_returnflag, reg, rho)`.
    * A non-empty `tag` suffixes the working CTEs (`regs` becomes
    * `regs_low`), so a second chain fits in the same WITH. */
  private def hllRegsCtes(key: String, tag: String = ""): String = {
    import OracleU64.mix64Ctes
    val (regs, hash) = if (tag.isEmpty) ("regs", "hh") else ("regs_low", s"h$tag")
    s"""k$tag AS (
      |  SELECT DISTINCT l_returnflag, CAST($key AS UBIGINT) AS e
      |  FROM lineitem),
      |${mix64Ctes(s"k$tag", "e", s"sd$tag", "seed", hash)},
      |rr$tag AS (
      |  SELECT l_returnflag, CAST(seed & CAST(63 AS UBIGINT) AS BIGINT) AS reg,
      |         CASE WHEN (seed >> 6) = CAST(0 AS UBIGINT) THEN 59
      |              ELSE 59 - length(bin(seed >> 6)) END AS rho1
      |  FROM sd$tag),
      |$regs AS (
      |  SELECT g.l_returnflag, r.reg,
      |         CAST(coalesce(max(rr$tag.rho1), 0) AS BIGINT) AS rho
      |  FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
      |  CROSS JOIN (SELECT CAST(unnest(range(64)) AS BIGINT) AS reg) r
      |  LEFT JOIN rr$tag ON rr$tag.l_returnflag = g.l_returnflag AND rr$tag.reg = r.reg
      |  GROUP BY 1, 2)""".stripMargin
  }

  /** Exact BigInt floor division for the HLL estimate (Spark decimal
    * division ROUNDS to the result scale, which can cross an integer
    * boundary); runs once per group/pair — never on a hot path. */
  private val hllEst = udf { (sum: java.math.BigDecimal) =>
    graft.plans.HllAgg.estimate(6, BigInt(sum.toBigInteger))
  }

  /** S = Σ_j 2^(59−M_j) over a 64-register rho array: per-term BIGINT
    * shift (≤ 2^59), summed as DECIMAL(38,0) map-side — exact. */
  private def hllHarmonicSum(regsCol: String): org.apache.spark.sql.Column =
    expr(
      s"aggregate($regsCol, CAST(0 AS DECIMAL(38,0)), (acc, r) -> " +
      "acc + CAST(shiftleft(CAST(1 AS BIGINT), CAST(59 - r AS INT)) " +
      "AS DECIMAL(38,0)))")

  // ---- HLL range correction (round 9, verdict ask #5): the paper's
  // small-range branch published as query output, oracle-exactly.
  // V = #zero registers has only 64 possible values, so floor(m·ln(m/V))
  // is a fixed table BOTH engines consume as literals (HllAgg
  // .linearCountTable — no engine-resident ln). Cutoff 5m/2 = 160.

  private val HllLcThreshold: Long = graft.plans.HllAgg.lcThreshold(6)
  private val hllLcTable: IndexedSeq[Long] = graft.plans.HllAgg.linearCountTable(6)
  /** The table as a DuckDB list literal (1-indexed by V via list_extract). */
  private val hllLcSqlList: String = hllLcTable.mkString("[", ", ", "]")
  private def hllLcArr = array(hllLcTable.map(lit(_)): _*)

  /** Zero-register count V over a rho array (any SQL array expr). */
  private def hllNZero(regsExpr: String): org.apache.spark.sql.Column =
    expr(s"aggregate($regsExpr, CAST(0 AS BIGINT), (acc, r) -> " +
         "acc + IF(r = 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))")

  private def hllCorrected(est: org.apache.spark.sql.Column,
                           nZero: org.apache.spark.sql.Column) =
    when(est <= HllLcThreshold && nZero > 0,
         element_at(hllLcArr, nZero.cast("int"))).otherwise(est)

  private def hllBand(est: org.apache.spark.sql.Column,
                      nZero: org.apache.spark.sql.Column) =
    when(est <= HllLcThreshold && nZero > 0, lit("linear_counting"))
      .otherwise(lit("raw"))

  /** Same branch in oracle SQL over (estCol, nZeroCol). */
  private def hllCorrectedSql(estCol: String, nZeroCol: String): String =
    s"CASE WHEN $estCol <= $HllLcThreshold AND $nZeroCol > 0 " +
    s"THEN list_extract($hllLcSqlList, CAST($nZeroCol AS INT)) " +
    s"ELSE $estCol END"

  private def hllBandSql(estCol: String, nZeroCol: String): String =
    s"CASE WHEN $estCol <= $HllLcThreshold AND $nZeroCol > 0 " +
    s"THEN 'linear_counting' ELSE 'raw' END"

  // ---- KMV / theta sketch (a33/a34, round 9): bottom-k minima over
  // the portable mix64 hash. K fixed at 64 to match the HLL register
  // budget (512 bytes vs 64 — the price of supporting set algebra).

  private val KmvK = 64
  /** 2^64 as a DuckDB HUGEINT expression. */
  private val Two64Sql = "(CAST(18446744073709551615 AS HUGEINT) + 1)"

  private val kmvEst = udf { (kept: Seq[Long]) =>
    graft.plans.KmvAgg.estimate(kept, KmvK)
  }
  /** (est_union, est_inter, jaccard_bp) from two kept-minima arrays —
    * bounded work (≤ 2k values), runs once per pair row. */
  private val kmvAlgebra = udf { (a: Seq[Long], b: Seq[Long]) =>
    graft.plans.KmvAgg.setAlgebra(a, b, KmvK)
  }

  /** Shared a33/a34 oracle chain: per-returnflag k-minimum mix64 values
    * over DISTINCT orderkeys (mix64 is a bijection, so DISTINCT keys ⇒
    * DISTINCT seeds and `row_number` needs no tie policy). Ends in
    * `kept(l_returnflag, seed, rn)` (UBIGINT seed, rn 1-based) and
    * `kstats(l_returnflag, n_kept, vk, est, band)` — the classic
    * bottom-k estimator (k-1)·2^64/v_k, exact-count branch when the
    * sketch never filled. */
  private val kmvKeptCtes: String = {
    import OracleU64.mix64Ctes
    s"""k AS (
      |  SELECT DISTINCT l_returnflag, CAST(l_orderkey AS UBIGINT) AS e
      |  FROM lineitem),
      |${mix64Ctes("k", "e", "sd", "seed", "km")},
      |kept AS (
      |  SELECT l_returnflag, seed,
      |         row_number() OVER (PARTITION BY l_returnflag ORDER BY seed) AS rn
      |  FROM sd QUALIFY rn <= $KmvK),
      |kstats AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
      |         max(seed) AS vk,
      |         CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS BIGINT)
      |              ELSE CAST(CAST(${KmvK - 1} AS HUGEINT) * $Two64Sql
      |                        // CAST(max(seed) AS HUGEINT) AS BIGINT) END AS est,
      |         CASE WHEN count(*) < $KmvK THEN 'exact' ELSE 'estimate' END AS band
      |  FROM kept GROUP BY 1)""".stripMargin
  }

  /** a35's bitmap geometry: 2^17 bits = 2048 words = 16 KiB, sized for
    * the sf0.01 build side (~15k orderkeys × 3 hashes ⇒ ~29% fill,
    * ~2.5% FPR) and DELIBERATELY held fixed across decades so the
    * saturation behavior is itself measured output. */
  private val BloomBits = 131072

  /** Membership of SQL column `k` in a35's broadcast `words` bitmap —
    * the same affine positions as `bloom_agg`, as pure column
    * arithmetic (codegen'd; no UDF on the probe path). */
  private def bloomMemberSql(k: String): String =
    (0 until 3).map { d =>
      import SketchHash.{A, B, P}
      val pos = s"(((($k % $P) * ${A(d)} + ${B(d)}) % $P) % $BloomBits)"
      s"((shiftright(element_at(words, CAST($pos div 64 AS INT) + 1), " +
      s"CAST($pos % 64 AS INT)) & 1) = 1)"
    }.mkString(" AND ")

  val defs: Seq[QueryDef] = Seq(

    // A1 — group-by mean (radius_model.R:265-268)
    q("a1_avg_group",
      """SELECT l_returnflag, l_linestatus, round(avg(l_quantity), 4) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(avg("l_quantity"), 4).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A2 — group-by exact median (QB throw speed —
    // Openness_Data_Frame_Prep.R:87-88)
    q("a2_median",
      """SELECT l_returnflag, round(median(l_extendedprice), 4) AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(median(col("l_extendedprice")), 4).as("med_price"))
        .orderBy("l_returnflag")
    },

    // A3 — group-by count (QBReadStats.R:142-144)
    q("a3_count",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // A4 — ratio of aggregates sum(flag)/n (QBReadStats.R:142-144)
    q("a4_flag_ratio",
      """SELECT l_returnflag,
        |       round(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
        |             * 1.0 / count(*), 6) AS high_disc_rate
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("high_disc_rate"))
        .orderBy("l_returnflag")
    },

    // A5 — multi-column multi-stat agg incl. sample stddev + countDistinct
    // (DefCoverage.ipynb:101-119; pandas std ⇒ stddev_samp)
    q("a5_multi_stat",
      """SELECT l_returnflag,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(stddev_samp(l_extendedprice), 4) AS std_price,
        |       round(min(l_extendedprice), 4) AS min_price,
        |       round(max(l_extendedprice), 4) AS max_price,
        |       count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(avg("l_extendedprice"), 4).as("avg_price"),
             round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
             round(min("l_extendedprice"), 4).as("min_price"),
             round(max("l_extendedprice"), 4).as("max_price"),
             countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")
    },

    // A6 — min/max over orderable non-numerics (timestamps)
    // (BuildingReadOrder.R:109 min frameId)
    q("a6_minmax_ts",
      """SELECT l_orderkey, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(min("l_shipdate").as("first_ship"), max("l_shipdate").as("last_ship"))
        .orderBy("l_orderkey")
    },

    // A7 — first/last-in-group under an explicit ordering via min_by/max_by
    // (start_x/end_x per defender-play — DefPosModel.ipynb:163-169);
    // never bare first() (non-deterministic). The ordering key (o_orderkey)
    // is unique within each group, so the result is fully deterministic.
    q("a7_min_by",
      """SELECT o_custkey,
        |       min_by(o_totalprice, o_orderkey) AS first_order_price,
        |       max_by(o_totalprice, o_orderkey) AS last_order_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min_by(col("o_totalprice"), col("o_orderkey")).as("first_order_price"),
             max_by(col("o_totalprice"), col("o_orderkey")).as("last_order_price"))
        .orderBy("o_custkey")
    },

    // A9 — ordered string aggregation (route_tree — Matchup
    // Information.R:63-68). Sort INSIDE the agg: input order is
    // non-deterministic in a distributed engine.
    // (l_orderkey, l_linenumber) is NOT unique in the testdata, so the sort
    // key inside the agg is the full deterministic chain.
    q("a9_ordered_concat",
      """SELECT l_orderkey,
        |       string_agg(l_returnflag, ' '
        |         ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS flag_seq
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey")
        // .getField on array<struct> is GetArrayStructFields — native
        // codegen'd field extraction, vs an interpreted transform lambda
        .agg(array_join(
          array_sort(collect_list(struct(
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_returnflag"))))
            .getField("l_returnflag"),
          " ").as("flag_seq"))
        .orderBy("l_orderkey")
    },

    // A10 — grand-total aggregate broadcast back (PRESS = x/mean(x)*100 —
    // QBReadStats.R:220-224): share of total revenue per returnflag
    q("a10_share_of_total",
      """SELECT l_returnflag, round(grp / sum(grp) OVER (), 6) AS share
        |FROM (SELECT l_returnflag, sum(l_extendedprice) AS grp
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val grouped = Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_extendedprice").as("grp"))
      grouped
        .withColumn("share", round(col("grp") / sum("grp").over(Window.partitionBy()), 6))
        .select("l_returnflag", "share")
        .orderBy("l_returnflag")
    },

    // A11 — Shannon entropy over a frequency distribution
    // (QBReadStats.R:330-342)
    q("a11_entropy",
      """SELECT round(-sum(p * log2(p)), 6) AS entropy FROM (
        |  SELECT count(*) * 1.0 / sum(count(*)) OVER () AS p
        |  FROM events GROUP BY event_type)""".stripMargin) { (s, dir) =>
      val freq = Tables.load(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") / sum("n").over(Window.partitionBy()))
      freq.agg(round(-sum(col("p") * log2(col("p"))), 6).as("entropy"))
    },

    // A12 — coefficient of variation of group counts (QBReadStats.R:344-349)
    q("a12_coef_of_var",
      """SELECT round(stddev_samp(n) / avg(n), 6) AS cv FROM (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .agg(round(stddev_samp(col("n")) / avg(col("n")), 6).as("cv"))
    },

    // A13 — exact count distinct (QBReadStats.R:324-326); the scale path is
    // approx_count_distinct (HLL) — exercised in the bench suite
    q("a13_count_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    // A14 — frequency table → percentages (DefPosModel.ipynb:812-815)
    q("a14_freq_pct",
      """SELECT o_orderpriority, n, round(n * 100.0 / sum(n) OVER (), 4) AS pct
        |FROM (SELECT o_orderpriority, count(*) AS n
        |      FROM orders GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .withColumn("pct",
          round(col("n") * lit(100.0) / sum("n").over(Window.partitionBy()), 4))
        .orderBy("o_orderpriority")
    },

    // A15 — row-wise horizontal sum over an array column
    // (rowSums over prob columns — cover_threshold.R:11). Both sides fold
    // left-to-right in DOUBLE so the float math is bitwise identical.
    q("a15_rowwise_sum",
      """SELECT vec_id,
        |       round(list_aggregate(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE)), 'sum'), 4) AS vec_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4).as("vec_sum"))
        .orderBy("vec_id")
    },

    // A8 — min over the first/last element-in-group only (first/last
    // frame's min-distance — DefPosModel.ipynb:177-191): per user, the
    // value at the boundary timestamps, via window min/max + filter (no
    // per-group loop). event_id tie-breaks equal timestamps.
    q("a8_boundary_min",
      """SELECT user_id,
        |       round(min(CASE WHEN ts = first_ts THEN value END), 2) AS first_val,
        |       round(min(CASE WHEN ts = last_ts THEN value END), 2) AS last_val
        |FROM (SELECT user_id, ts, value,
        |             min(ts) OVER (PARTITION BY user_id) AS first_ts,
        |             max(ts) OVER (PARTITION BY user_id) AS last_ts
        |      FROM events)
        |WHERE ts = first_ts OR ts = last_ts
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id")
      Tables.load(s, dir, "events")
        .withColumn("first_ts", min("ts").over(w))
        .withColumn("last_ts", max("ts").over(w))
        .filter(col("ts") === col("first_ts") || col("ts") === col("last_ts"))
        .groupBy("user_id")
        .agg(round(min(when(col("ts") === col("first_ts"), col("value"))), 2).as("first_val"),
             round(min(when(col("ts") === col("last_ts"), col("value"))), 2).as("last_val"))
        .orderBy("user_id")
    },

    // A19 (extension) — grouping-set rollup (SURVEY §2.4 "available
    // free via cube/rollup"): subtotals + grand total in one pass,
    // grouping_id disambiguates NULL-as-subtotal from NULL data
    q("a19_rollup",
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |       coalesce(l_linestatus, '<all>') AS status,
        |       grouping_id(l_returnflag, l_linestatus) AS gid,
        |       count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status, gid""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
             round(sum("l_quantity"), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
                coalesce(col("l_linestatus"), lit("<all>")).as("status"),
                col("gid"), col("n"), col("qty"))
        .orderBy("flag", "status", "gid")
    },

    // A21 — CUBE: all four grouping sets in one pass (rollup's sibling;
    // SURVEY §2.4 lists grouping sets as the available extension)
    q("a21_cube",
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |       coalesce(l_linestatus, '<all>') AS status,
        |       grouping_id(l_returnflag, l_linestatus) AS gid,
        |       count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status, gid""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
             round(sum("l_quantity"), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
                coalesce(col("l_linestatus"), lit("<all>")).as("status"),
                col("gid"), col("n"), col("qty"))
        .orderBy("flag", "status", "gid")
    },

    // A18 — A12's coefficient of variation as a SINGLE-PASS typed
    // Aggregator (Welford/Chan merge — associative partials, safe under
    // partial aggregation at any parallelism); oracle is the two-agg
    // composition
    q("a18_welford_cv",
      """SELECT o_orderpriority, round(stddev_samp(o_totalprice) / avg(o_totalprice), 6) AS cv
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val cvUdaf = udaf(graft.functions.WelfordCV)
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(round(cvUdaf(col("o_totalprice")), 6).as("cv"))
        .orderBy("o_orderpriority")
    },

    // A17 (scale pattern) — salted two-phase aggregation: the skew
    // mitigation for hot keys at 100 TB. Phase 1 aggregates on
    // (key, salt) spreading a hot key over 8 reducers; phase 2 merges
    // the partials. Result is identical to the direct groupBy (the
    // oracle) — sums/counts are associative; avg is derived post-merge.
    q("a17_salted_agg",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
        |       round(sum(value) / count(*), 6) AS mean_val
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val salted = Tables.load(s, dir, "events")
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(8)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"), sum("value").as("pt"))
      salted
        .groupBy("event_type")
        .agg(sum("pn").as("n"), round(sum("pt"), 2).as("total"),
             round(sum("pt") / sum("pn"), 6).as("mean_val"))
        .orderBy("event_type")
    },

    // A16 — global scalar reductions (QBReadStats.R:126,157,218)
    q("a16_global_scalars",
      """SELECT count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS total_qty,
        |       round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
             round(sum("l_quantity"), 2).as("total_qty"),
             round(avg("l_discount"), 6).as("avg_disc"))
    },

    // A20 (added, scale path; re-pointed round 10, verdict ask #4) —
    // the approximate-sketch vs exact-twin comparison, now ORACLE-EXACT
    // instead of rows-only: the estimator is graft's own hll_sketch
    // (plans/HllAgg.scala, the same DuckDB-replayable aggregate behind
    // a29/a30) over events.user_id per event_type, published NEXT TO
    // the exact count-distinct with the measured error in basis points
    // — the v13-recall-harness shape for cardinality sketches. The
    // exact twin exists here only as the harness (at 100 TB you ship
    // the 64-byte register file, not the per-key shuffle); err_bp is
    // exact integer arithmetic (abs diff ·10⁴ floor-div exact) so both
    // engines agree to the bit. Bonus of the user_id key: its per-type
    // cardinality (~150 at sf0.01) straddles the small-range cutoff
    // 5m/2 = 160, so the linear-counting branch FIRES at sf0.01 and
    // the raw branch takes over at sf0.1 — this one gate exercises
    // both correction branches across the scale decades. Quantile
    // sketching has its exact-twin gates at a23/a26/a27.
    q("a20_approx_sketches", {
      import OracleU64.mix64Ctes
      s"""WITH k AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS UBIGINT) AS e
        |  FROM events),
        |${mix64Ctes("k", "e", "sd", "seed", "hh")},
        |rr AS (
        |  SELECT event_type, CAST(seed & CAST(63 AS UBIGINT) AS BIGINT) AS reg,
        |         CASE WHEN (seed >> 6) = CAST(0 AS UBIGINT) THEN 59
        |              ELSE 59 - length(bin(seed >> 6)) END AS rho1
        |  FROM sd),
        |regs AS (
        |  SELECT g.event_type, r.reg,
        |         CAST(coalesce(max(rr.rho1), 0) AS BIGINT) AS rho
        |  FROM (SELECT DISTINCT event_type FROM events) g
        |  CROSS JOIN (SELECT CAST(unnest(range(64)) AS BIGINT) AS reg) r
        |  LEFT JOIN rr ON rr.event_type = g.event_type AND rr.reg = r.reg
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT event_type,
        |         CAST(CAST('$HllEstNum' AS HUGEINT)
        |              // (1000 * sum(CAST((CAST(1 AS BIGINT)
        |                   << CAST(59 - rho AS INT)) AS HUGEINT)))
        |              AS BIGINT) AS est_raw,
        |         CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT ex.event_type, exact_users, est_raw, n_zero,
        |       ${hllCorrectedSql("est_raw", "n_zero")} AS est_users,
        |       ${hllBandSql("est_raw", "n_zero")} AS band,
        |       abs(${hllCorrectedSql("est_raw", "n_zero")} - exact_users)
        |         * 10000 // exact_users AS err_bp
        |FROM ex JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
             expr("hll_sketch(user_id, 6)").as("regs"))
        .withColumn("est_raw", hllEst(hllHarmonicSum("regs")))
        .withColumn("n_zero", hllNZero("regs"))
        .withColumn("est_users", hllCorrected(col("est_raw"), col("n_zero")))
        .withColumn("band", hllBand(col("est_raw"), col("n_zero")))
        .select(col("event_type"), col("exact_users"), col("est_raw"),
                col("n_zero"), col("est_users"), col("band"),
                expr("abs(est_users - exact_users) * 10000L div exact_users")
                  .as("err_bp"))
        .orderBy("event_type")
    },

    // A22 — per-group z-score normalization (feature standardization
    // without MLlib, the relational twin of m3_standard_scaler): group
    // stats once, broadcast back over the fact rows. Two passes over
    // the group key, one shuffle for the tiny stats side; the stats
    // join is broadcast so the fact scan never shuffles.
    q("a22_group_zscore",
      """WITH s AS (SELECT event_type, avg(value) AS mu,
        |                  stddev_samp(value) AS sd
        |           FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round((e.value - s.mu) / s.sd, 4) AS z
        |FROM events e JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val stats = e.groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sd"))
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
                round((col("value") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("event_id")
    },

    // A23 — exact DISCRETE quantiles + IQR outlier fences per group
    // (robust statistics without interpolation): q1/med/q3 are the column
    // VALUES at ranks ceil(k·n/4), selected via row_number — so unlike
    // interpolating median/percentile (a2 must round to 4 dp to cross
    // engines) these are bit-exact on both sides, and the 1.5×IQR fences
    // and outlier counts are one fixed IEEE expression tree over them.
    // Shape: one window sort per group + a broadcast of the 3-row-per-
    // group quantile frame back over the facts; at 100 TB the rank-select
    // runs as the w7 GlobalRank pattern per group, or approx_percentile
    // (a20) when 1-ulp exactness isn't required.
    q("a23_quantile_disc",
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |qs AS (
        |  SELECT l_returnflag,
        |         max(CASE WHEN rn = (n+3)//4 THEN v END) AS q1,
        |         max(CASE WHEN rn = (2*n+3)//4 THEN v END) AS med,
        |         max(CASE WHEN rn = (3*n+3)//4 THEN v END) AS q3
        |  FROM r GROUP BY l_returnflag)
        |SELECT r.l_returnflag, qs.q1, qs.med, qs.q3,
        |       CAST(sum(CASE WHEN r.v < qs.q1 - 1.5*(qs.q3 - qs.q1)
        |                       OR r.v > qs.q3 + 1.5*(qs.q3 - qs.q1)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM r JOIN qs USING (l_returnflag)
        |GROUP BY r.l_returnflag, qs.q1, qs.med, qs.q3
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val w = Window.partitionBy("l_returnflag")
      val ranked = li
        .withColumn("rn", row_number().over(w.orderBy("v")))
        .withColumn("n", count(lit(1)).over(w))
      val qs = ranked.groupBy("l_returnflag")
        .agg(max(when(col("rn") === expr("(n+3) div 4"), col("v"))).as("q1"),
             max(when(col("rn") === expr("(2*n+3) div 4"), col("v"))).as("med"),
             max(when(col("rn") === expr("(3*n+3) div 4"), col("v"))).as("q3"))
      val iqr15 = lit(1.5) * (col("q3") - col("q1"))
      li.join(broadcast(qs), "l_returnflag")
        .groupBy("l_returnflag", "q1", "med", "q3")
        .agg(sum(when(col("v") < col("q1") - iqr15 ||
                      col("v") > col("q3") + iqr15, 1).otherwise(0))
          .cast("long").as("n_outliers"))
        .select("l_returnflag", "q1", "med", "q3", "n_outliers")
        .orderBy("l_returnflag")
    },

    // A24 — per-group equi-width histogram (8 bins over [min, max]):
    // the profiling / distribution-drift primitive. Bin edges come from
    // the per-group min/max (broadcast back, a23's pattern) and the bin
    // index is one fixed IEEE tree — (v−min)/(max−min) is the same
    // double on both engines, ×8 floored, top edge clamped into the
    // last bin — so counts hash-match without any rounding. A constant
    // group (hi = lo) is pinned to bin 0 explicitly: the 0/0 division
    // is NaN, and the engines disagree on NaN (Spark's floor-cast gives
    // 0, DuckDB's least() keeps NaN and the a25-style BIGINT cast
    // errors). Empty bins are materialized via a tiny bins×groups cross
    // join so the histogram shape is complete (a drift monitor needs
    // the zeros). One fact shuffle for the stats, one for the counts;
    // the bin frame join is broadcast.
    q("a24_histogram",
      """WITH s AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type),
        |b AS (
        |  SELECT e.event_type,
        |         CASE WHEN s.hi = s.lo THEN 0
        |              ELSE CAST(least(floor((e.value - s.lo) / (s.hi - s.lo) * 8), 7)
        |                        AS BIGINT) END AS bin
        |  FROM events e JOIN s USING (event_type)),
        |grid AS (
        |  SELECT event_type, unnest(range(0, 8)) AS bin FROM s),
        |c AS (
        |  SELECT event_type, bin, count(*) AS n FROM b GROUP BY event_type, bin)
        |SELECT g.event_type, g.bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN c USING (event_type, bin)
        |ORDER BY event_type, bin""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val stats = e.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"))
      val binned = e.join(broadcast(stats), "event_type")
        .select(col("event_type"),
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(floor((col("value") - col("lo")) /
                               (col("hi") - col("lo")) * 8), lit(7))
                         .cast("long")).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
      val grid = stats.select(col("event_type"),
        explode(sequence(lit(0L), lit(7L))).as("bin"))
      grid.join(binned, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
                coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "bin")
    },

    // A25 — population stability index (PSI) per feature group: a24's
    // histogram as a DRIFT metric. Bin edges come from the REFERENCE
    // period (first half-month); the current period bins into the same
    // edges with out-of-range values clamped into the edge bins (that is
    // where distribution shift shows up). Laplace-smoothed shares, and
    // the x25/x27 determinism trick for the transcendental: each term's
    // ln is computed on exact-integer ratios, rounded to 9 dp, and
    // summed as DECIMAL — fold-order-free, so PSI hash-matches.
    // Shape: two bounded aggs (8 bins × #groups) + broadcast joins; the
    // monitored fact table is scanned twice (ref/cur period split), each
    // pass map-side.
    q("a25_psi",
      """WITH s AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events WHERE day(ts) <= 15 GROUP BY event_type),
        |rb AS (
        |  SELECT e.event_type,
        |         CASE WHEN s.hi = s.lo THEN 0
        |              ELSE least(greatest(CAST(floor((e.value - s.lo)
        |                     / (s.hi - s.lo) * 8) AS BIGINT), 0), 7) END AS bin
        |  FROM events e JOIN s USING (event_type) WHERE day(e.ts) <= 15),
        |cb AS (
        |  SELECT e.event_type,
        |         CASE WHEN s.hi = s.lo THEN 0
        |              ELSE least(greatest(CAST(floor((e.value - s.lo)
        |                     / (s.hi - s.lo) * 8) AS BIGINT), 0), 7) END AS bin
        |  FROM events e JOIN s USING (event_type) WHERE day(e.ts) > 15),
        |grid AS (SELECT event_type, unnest(range(0, 8)) AS bin FROM s),
        |rc AS (SELECT event_type, bin, count(*) AS n FROM rb GROUP BY event_type, bin),
        |cc AS (SELECT event_type, bin, count(*) AS n FROM cb GROUP BY event_type, bin),
        |rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n FROM rc GROUP BY event_type),
        |ct AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n FROM cc GROUP BY event_type),
        |terms AS (
        |  SELECT g.event_type,
        |         CAST(round((CAST(coalesce(cc.n,0)+1 AS DOUBLE)/CAST(ct.n+8 AS DOUBLE)
        |                    - CAST(coalesce(rc.n,0)+1 AS DOUBLE)/CAST(rt.n+8 AS DOUBLE))
        |              * ln( (CAST(coalesce(cc.n,0)+1 AS DOUBLE)*CAST(rt.n+8 AS DOUBLE))
        |                   /(CAST(coalesce(rc.n,0)+1 AS DOUBLE)*CAST(ct.n+8 AS DOUBLE))), 9)
        |              AS DECIMAL(18,9)) AS t
        |  FROM grid g
        |  LEFT JOIN rc ON rc.event_type = g.event_type AND rc.bin = g.bin
        |  LEFT JOIN cc ON cc.event_type = g.event_type AND cc.bin = g.bin
        |  JOIN rt ON rt.event_type = g.event_type
        |  JOIN ct ON ct.event_type = g.event_type)
        |SELECT event_type, CAST(sum(t) AS DOUBLE) AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val ref = e.filter(dayofmonth(col("ts")) <= 15)
      val cur = e.filter(dayofmonth(col("ts")) > 15)
      val stats = ref.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"))
      def binsOf(df: org.apache.spark.sql.DataFrame) =
        df.join(broadcast(stats), "event_type")
          .select(col("event_type"),
            when(col("hi") === col("lo"), lit(0L))
              .otherwise(least(greatest(floor((col("value") - col("lo")) /
                      (col("hi") - col("lo")) * 8).cast("long"), lit(0L)),
                    lit(7L))).as("bin"))
      val rc = binsOf(ref).groupBy("event_type", "bin").agg(count(lit(1)).as("rn"))
      val cc = binsOf(cur).groupBy("event_type", "bin").agg(count(lit(1)).as("cn"))
      // period totals fold out of the 8-bins-per-group frames — the fact
      // table is scanned once per period, not twice
      val rt = rc.groupBy("event_type").agg(sum("rn").as("rtot"))
      val ct = cc.groupBy("event_type").agg(sum("cn").as("ctot"))
      val grid = stats.select(col("event_type"),
        explode(sequence(lit(0L), lit(7L))).as("bin"))
      val cN = (coalesce(col("cn"), lit(0L)) + 1).cast("double")
      val rN = (coalesce(col("rn"), lit(0L)) + 1).cast("double")
      val cD = (col("ctot") + 8).cast("double")
      val rD = (col("rtot") + 8).cast("double")
      grid.join(rc, Seq("event_type", "bin"), "left")
        .join(cc, Seq("event_type", "bin"), "left")
        .join(broadcast(rt), "event_type")
        .join(broadcast(ct), "event_type")
        .select(col("event_type"),
          round((cN / cD - rN / rD) * log(cN * rD / (rN * cD)), 9)
            .cast("decimal(18,9)").as("t"))
        .groupBy("event_type")
        .agg(sum("t").cast("double").as("psi"))
        .orderBy("event_type")
    },

    // A26 — weighted median per group (quantity-weighted price): the
    // smallest value whose cumulative weight reaches half the group
    // total. Weights accumulate as DECIMAL (exact, fold-order-free) and
    // the half-total test multiplies out (2·cum ≥ total) so no division
    // touches the comparison; the reported median is a raw column value.
    // Same discrete-not-interpolated philosophy as a23.
    //
    // Scale shape (round 7): the cumulative window the ORACLE uses
    // partitions by l_returnflag — a 3-value enum — which on the Spark
    // side would sort the whole fact table on 3 tasks regardless of
    // cluster size. The Spark plan instead runs WeightedMedian's
    // two-phase shape: (group, value) pre-aggregation collapses ties,
    // then a range-partitioned sort + broadcast partial-weight offsets
    // locate the half-total flip point with no single-task group sort
    // (operators/WeightedMedian.scala; the GlobalRank offset pattern).
    q("a26_weighted_median",
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |                    l_partkey, l_suppkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |           PARTITION BY l_returnflag) AS tw
        |  FROM lineitem)
        |SELECT l_returnflag, min(v) AS wmedian
        |FROM r WHERE 2 * cw >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.WeightedMedian
        .weightedMedian(Tables.load(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag")
    },

    // A27 — exact weighted p90 per group (round 7): a26's machinery
    // generalized to any q = qNum/qDen — the flip test becomes
    // qDen·cum ≥ qNum·total, still integer/DECIMAL-exact and
    // division-free. Same two-phase scale plan (pre-agg + range sort +
    // broadcast offsets), no enum-partition window anywhere.
    q("a27_weighted_p90",
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |           PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |                    l_partkey, l_suppkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |           PARTITION BY l_returnflag) AS tw
        |  FROM lineitem)
        |SELECT l_returnflag, min(v) AS wp90
        |FROM r WHERE 10 * cw >= 9 * tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      graft.operators.WeightedMedian
        .weightedQuantile(Tables.load(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity",
          qNum = 9, qDen = 10, outName = "wp90")
        .orderBy("l_returnflag")
    },

    // A28 — Count-Min sketch of the l_partkey frequency distribution
    // (round 8): x21_heavy_hitters' bounded-memory scale twin, built by
    // the custom `count_min` TypedImperativeAggregate
    // (plans/SketchAgg.scala — extension tier (b): a custom Catalyst
    // aggregate, injected via GraftExtensions). The aggregation state
    // is ONE 4x64 Long array whatever the key cardinality: partials
    // combine map-side and the exchange moves one 2 KiB buffer per
    // partition — the shape that replaces a heavy-tailed full GROUP BY
    // at 100 TB. Unlike a20/s23's HLL (engine-internal, spec-gated),
    // the cell hashes are affine maps mod the Mersenne prime 2^31-1, so
    // DuckDB regenerates the ENTIRE sketch content and this is
    // hash-checked like any exact query. Point-estimate guarantee
    // (min over rows >= true count, error <= e/width * N) is asserted
    // in CountMinSpec against exact counts.
    q("a28_countmin",
      s"""SELECT d, (((l_partkey % 2147483647) * a + b) % 2147483647) % 64 AS w,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |CROSS JOIN ${SketchHash.affineRowsSql(4)}
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .agg(expr("count_min(l_partkey, 4, 64)").as("cms"))
        .select(posexplode(col("cms")).as(Seq("i", "cnt")))
        .select(expr("CAST(i div 64 AS BIGINT)").as("d"),
                expr("CAST(i % 64 AS BIGINT)").as("w"), col("cnt"))
        .filter(col("cnt") > 0) // the oracle GROUP BY emits no empty cells
        .orderBy("d", "w")
    },

    // A29 — grouped HyperLogLog distinct-count sketch (plans/HllAgg
    // .scala, the second custom TypedImperativeAggregate): per
    // returnflag, 64 one-byte registers estimate count(DISTINCT
    // l_orderkey) with ~13% standard error — state is 64 BYTES per
    // group whatever the key cardinality, vs the per-distinct-key
    // shuffle rows an exact grouped COUNT DISTINCT moves at 100 TB.
    // Merge is element-wise max (idempotent + commutative), so
    // partials combine map-side and re-delivery cannot inflate the
    // estimate (the property Count-Min lacks). Like a28 the ENTIRE
    // sketch is oracle-checked, not spec-gated: the key hash is the
    // portable mix64 (OracleU64.mix64Ctes replays it in UBIGINT wrap
    // arithmetic), the register rank is 59 - bitlength(suffix), and
    // the harmonic-mean estimate is ONE exact integer division —
    // floor(709·2^71 / (1000·S)) with S = Σ 2^(59-M_j) summed as
    // DECIMAL (alpha_64 = 0.709 from the HLL paper, scale 2^59 making
    // every term integral).
    //
    // Round 9 (verdict ask #5): the paper's SMALL-RANGE correction is
    // now published as output — `est_corrected`/`band` switch to
    // linear counting floor(m·ln(m/V)) when est ≤ 5m/2 and V (zero
    // registers) > 0, via the fixed 64-entry integer table both
    // engines consume as literals (HllAgg.linearCountTable — oracle-
    // exact, no engine ln). The orderkey sketch sits in the 'raw' band
    // at every tested SF, so a SECOND sketch over l_linenumber (~7
    // distinct) is published alongside: its raw estimator lands inside
    // the band and the linear-counting branch FIRES in this very
    // oracle gate (est_low_raw ~6x over truth, est_low lands on it) —
    // the correction is live code, not a spec-only assertion. The
    // large-range branch has no 64-bit-hash analog (HllAgg scaladoc).
    q("a29_hll_distinct",
      s"""WITH ${hllRegsCtes("l_orderkey")},
        |${hllRegsCtes("l_linenumber", tag = "l")},
        |est AS (
        |  SELECT l_returnflag,
        |         CAST(CAST('$HllEstNum' AS HUGEINT)
        |              // (1000 * sum(CAST((CAST(1 AS BIGINT)
        |                   << CAST(59 - rho AS INT)) AS HUGEINT)))
        |              AS BIGINT) AS est,
        |         CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM regs GROUP BY 1),
        |est_low AS (
        |  SELECT l_returnflag,
        |         CAST(CAST('$HllEstNum' AS HUGEINT)
        |              // (1000 * sum(CAST((CAST(1 AS BIGINT)
        |                   << CAST(59 - rho AS INT)) AS HUGEINT)))
        |              AS BIGINT) AS est_low_raw,
        |         CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS low_n_zero
        |  FROM regs_low GROUP BY 1)
        |SELECT regs.l_returnflag AS l_returnflag, reg, rho, est, n_zero,
        |       ${hllCorrectedSql("est", "n_zero")} AS est_corrected,
        |       ${hllBandSql("est", "n_zero")} AS band,
        |       est_low_raw, low_n_zero,
        |       ${hllCorrectedSql("est_low_raw", "low_n_zero")} AS est_low,
        |       ${hllBandSql("est_low_raw", "low_n_zero")} AS band_low
        |FROM regs JOIN est USING (l_returnflag)
        |JOIN est_low USING (l_returnflag)
        |ORDER BY l_returnflag, reg""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch(l_orderkey, 6)").as("regs"),
             expr("hll_sketch(l_linenumber, 6)").as("regs_low"))
        // the harmonic/zero folds are map-side over the 64-element
        // arrays — no second aggregation or window touches the groups
        .withColumn("est", hllEst(hllHarmonicSum("regs")))
        .withColumn("n_zero", hllNZero("regs"))
        .withColumn("est_low_raw", hllEst(hllHarmonicSum("regs_low")))
        .withColumn("low_n_zero", hllNZero("regs_low"))
        .select(col("l_returnflag"), col("est"), col("n_zero"),
          hllCorrected(col("est"), col("n_zero")).as("est_corrected"),
          hllBand(col("est"), col("n_zero")).as("band"),
          col("est_low_raw"), col("low_n_zero"),
          hllCorrected(col("est_low_raw"), col("low_n_zero")).as("est_low"),
          hllBand(col("est_low_raw"), col("low_n_zero")).as("band_low"),
          posexplode(col("regs")).as(Seq("reg", "rho")))
        .select(col("l_returnflag"), col("reg").cast("long").as("reg"),
          col("rho"), col("est"), col("n_zero"), col("est_corrected"),
          col("band"), col("est_low_raw"), col("low_n_zero"),
          col("est_low"), col("band_low"))
        .orderBy("l_returnflag", "reg")
    },

    // A30 — HLL sketch ALGEBRA (a29's real 100 TB payoff): distinct
    // orderkeys over every UNION of two returnflag groups, computed
    // by element-wise max of the groups' 64-byte register files —
    // zip_with(greatest) on the already-aggregated sketches, NO second
    // scan of the fact table for the union math — plus the
    // inclusion–exclusion intersection estimate |A∩B| ≈ Ê(A)+Ê(B)−Ê(A∪B).
    // This is the sketch-rollup shape: per-partition/per-day register
    // files persist once, and any later union/rollup/overlap question
    // is answered at register scale (3 pairs × 64 bytes here). The
    // self-join runs on the 3-row aggregate (broadcast); estimates are
    // the same exact fixed-point division as a29, so DuckDB replays
    // every output value. est_inter is signed by construction: raw
    // estimator noise can push inclusion–exclusion slightly negative
    // for near-disjoint sets — reported as computed, not clamped.
    q("a30_hll_union",
      s"""WITH ${hllRegsCtes("l_orderkey")},
        |pairs AS (
        |  SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
        |         a.rho AS rho_a, b.rho AS rho_b,
        |         greatest(a.rho, b.rho) AS rho_u
        |  FROM regs a JOIN regs b
        |    ON a.reg = b.reg AND a.l_returnflag < b.l_returnflag),
        |sums AS (
        |  SELECT flag_a, flag_b,
        |         sum(CAST((CAST(1 AS BIGINT) << CAST(59 - rho_a AS INT))
        |             AS HUGEINT)) AS sa,
        |         sum(CAST((CAST(1 AS BIGINT) << CAST(59 - rho_b AS INT))
        |             AS HUGEINT)) AS sb,
        |         sum(CAST((CAST(1 AS BIGINT) << CAST(59 - rho_u AS INT))
        |             AS HUGEINT)) AS su,
        |         CAST(sum(CASE WHEN rho_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vu
        |  FROM pairs GROUP BY 1, 2),
        |ests AS (
        |  SELECT flag_a, flag_b, vu,
        |         CAST(CAST('$HllEstNum' AS HUGEINT) // (1000 * sa) AS BIGINT) AS est_a,
        |         CAST(CAST('$HllEstNum' AS HUGEINT) // (1000 * sb) AS BIGINT) AS est_b,
        |         CAST(CAST('$HllEstNum' AS HUGEINT) // (1000 * su) AS BIGINT) AS est_union
        |  FROM sums)
        |SELECT flag_a, flag_b, est_a, est_b, est_union,
        |       est_a + est_b - est_union AS est_inter,
        |       ${hllCorrectedSql("est_union", "vu")} AS est_union_corrected,
        |       ${hllBandSql("est_union", "vu")} AS band_union
        |FROM ests ORDER BY flag_a, flag_b""".stripMargin) { (s, dir) =>
      // 3 rows × 64 longs — the "persisted sketch table"
      val sk = graft.Caches.pin(Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch(l_orderkey, 6)").as("regs")))
      val unionRegs = "zip_with(a.regs, b.regs, (x, y) -> greatest(x, y))"
      sk.as("a").join(broadcast(sk.as("b")),
          col("a.l_returnflag") < col("b.l_returnflag"))
        .select(
          col("a.l_returnflag").as("flag_a"),
          col("b.l_returnflag").as("flag_b"),
          hllEst(hllHarmonicSum("a.regs")).as("est_a"),
          hllEst(hllHarmonicSum("b.regs")).as("est_b"),
          hllEst(hllHarmonicSum(unionRegs)).as("est_union"),
          hllNZero(unionRegs).as("vu"))
        .withColumn("est_inter",
          col("est_a") + col("est_b") - col("est_union"))
        // round-9 range correction on the DERIVED union sketch — the
        // rollup consumer reads the corrected number, not the raw
        // estimator ('raw' band at this SF; the firing branch is
        // oracle-gated in a29's low-cardinality sketch)
        .withColumn("est_union_corrected",
          hllCorrected(col("est_union"), col("vu")))
        .withColumn("band_union", hllBand(col("est_union"), col("vu")))
        .drop("vu")
        .orderBy("flag_a", "flag_b")
    },

    // A31 — join-SIZE estimation from AMS/AGMS signed sketches
    // (plans/SketchAgg.scala, the third sketch in the family): the
    // query-planning primitive that prices |lineitem ⋈ orders| from
    // two 320 KiB register files WITHOUT touching either table again —
    // at 100 TB the sketches ride the same scan as any per-partition
    // stat, and every later join-size question is a 5×8192 dot
    // product + median. The SIGNS are the design decision: Count-Min's
    // unsigned inner product was built first and REJECTED — its
    // additive N₁N₂/width collision term measured 1.9×/18×/183× over
    // the true size across sf0.01/0.1/1 at this width, while AMS's
    // sign cancellation leaves variance ≈ F₂·F₂/width (within ~1% on
    // the same data; CountMinSpec asserts the band). Estimate = exact
    // median (3rd of 5 per-row dots, both engines take the same order
    // statistic); everything replays in DuckDB via the affine hash
    // family.
    q("a31_ams_joinsize",
      s"""WITH c1 AS (
        |  SELECT d, (((l_orderkey % 2147483647) * a + b) % 2147483647) % 8192 AS w,
        |         sum((((s3 * (l_orderkey % 2147483647) + s2) % 2147483647
        |              * (l_orderkey % 2147483647) + s1) % 2147483647
        |              * (l_orderkey % 2147483647) + s0) % 2147483647 % 2 * 2 - 1) AS n
        |  FROM lineitem CROSS JOIN ${SketchHash.signedRowsSql(5)}
        |  GROUP BY 1, 2),
        |c2 AS (
        |  SELECT d, (((o_orderkey % 2147483647) * a + b) % 2147483647) % 8192 AS w,
        |         sum((((s3 * (o_orderkey % 2147483647) + s2) % 2147483647
        |              * (o_orderkey % 2147483647) + s1) % 2147483647
        |              * (o_orderkey % 2147483647) + s0) % 2147483647 % 2 * 2 - 1) AS n
        |  FROM orders CROSS JOIN ${SketchHash.signedRowsSql(5)}
        |  GROUP BY 1, 2),
        |dots AS (
        |  SELECT c1.d, CAST(sum(c1.n * c2.n) AS BIGINT) AS dot
        |  FROM c1 JOIN c2 ON c1.d = c2.d AND c1.w = c2.w
        |  GROUP BY c1.d),
        |es AS (SELECT dot AS est_join_size FROM dots
        |       ORDER BY dot LIMIT 1 OFFSET 2),
        |tr AS (SELECT count(*) AS true_join_size
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT est_join_size, true_join_size,
        |       est_join_size - true_join_size AS err
        |FROM es CROSS JOIN tr""".stripMargin) { (s, dir) =>
      val amsL = Tables.load(s, dir, "lineitem")
        .agg(expr("ams_sketch(l_orderkey, 5, 8192)").as("c1"))
      val amsO = Tables.load(s, dir, "orders")
        .agg(expr("ams_sketch(o_orderkey, 5, 8192)").as("c2"))
      val est = amsL.join(broadcast(amsO)) // 1 row × 1 row
        .select(posexplode(expr("zip_with(c1, c2, (x, y) -> x * y)"))
          .as(Seq("i", "prod")))
        .groupBy(expr("i div 8192").as("d"))
        .agg(sum("prod").as("dot"))
        // exact median: 3rd of the 5 sorted per-row dots (odd depth ⇒
        // a real order statistic, no averaging to drift on)
        .agg(element_at(sort_array(collect_list("dot")), 3)
          .as("est_join_size"))
      val exact = Tables.load(s, dir, "lineitem").select("l_orderkey")
        .join(Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
        .agg(count(lit(1)).as("true_join_size"))
      est.join(broadcast(exact)) // 1 row × 1 row
        .select(col("est_join_size"), col("true_join_size"),
          (col("est_join_size") - col("true_join_size")).as("err"))
    },

    // A32 — second frequency moment F₂ = Σ_k f(k)² from ONE AMS sketch
    // (the sketch's original AMS'96 purpose): F₂ is the self-join size
    // and the skew diagnostic — it is exactly the quantity that says
    // whether a key column needs a17's salting before a join or
    // group-by, priced from a 320 KiB register file instead of a full
    // GROUP BY over the hot column. Estimate = median of the per-row
    // sums of squared cells; measured 0% / 0% / 0.23% error on the
    // heavy-tailed l_partkey at sf0.001/0.01/0.1. Same cubic-sign hash
    // family as a31, fully DuckDB-replayed.
    q("a32_ams_f2",
      s"""WITH c1 AS (
        |  SELECT d, (((l_partkey % 2147483647) * a + b) % 2147483647) % 8192 AS w,
        |         sum((((s3 * (l_partkey % 2147483647) + s2) % 2147483647
        |              * (l_partkey % 2147483647) + s1) % 2147483647
        |              * (l_partkey % 2147483647) + s0) % 2147483647 % 2 * 2 - 1) AS n
        |  FROM lineitem CROSS JOIN ${SketchHash.signedRowsSql(5)}
        |  GROUP BY 1, 2),
        |dots AS (
        |  SELECT d, CAST(sum(n * n) AS BIGINT) AS dot
        |  FROM c1 GROUP BY d),
        |es AS (SELECT dot AS est_f2 FROM dots ORDER BY dot LIMIT 1 OFFSET 2),
        |tr AS (SELECT CAST(sum(n * n) AS BIGINT) AS true_f2
        |       FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_partkey))
        |SELECT est_f2, true_f2, est_f2 - true_f2 AS err
        |FROM es CROSS JOIN tr""".stripMargin) { (s, dir) =>
      val est = Tables.load(s, dir, "lineitem")
        .agg(expr("ams_sketch(l_partkey, 5, 8192)").as("c1"))
        .select(posexplode(expr("transform(c1, x -> x * x)"))
          .as(Seq("i", "sq")))
        .groupBy(expr("i div 8192").as("d"))
        .agg(sum("sq").as("dot"))
        .agg(element_at(sort_array(collect_list("dot")), 3).as("est_f2"))
      val exact = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("true_f2"))
      est.join(broadcast(exact)) // 1 row × 1 row
        .select(col("est_f2"), col("true_f2"),
          (col("est_f2") - col("true_f2")).as("err"))
    },

    // A33 — KMV / bottom-k "theta" distinct sketch (plans/KmvAgg.scala,
    // the fourth sketch in the family): the k = 64 unsigned-smallest
    // mix64 values of the DISTINCT keys per group. State is k longs
    // whatever the cardinality; merge is set-union-then-truncate —
    // idempotent like HLL's max, so re-delivery is harmless and
    // partials combine map-side. Why keep it next to a29: the kept
    // minima are a uniform SAMPLE of the key space, which is what
    // makes a34's DIRECT intersection/Jaccard estimates possible
    // (HLL only subtracts two noisy estimates). Like the rest of the
    // family the ENTIRE sketch is oracle-checked: register content =
    // the k minima bit-for-bit (row_number over the replayed mix64
    // chain), estimate = one HUGEINT floor division of the classic
    // unbiased bottom-k form (k-1)·2^64/v_k, and the exact-count
    // branch (sketch never filled) is published via `band` — the a29
    // est_corrected lesson applied from birth.
    q("a33_kmv_distinct",
      s"""WITH $kmvKeptCtes
        |SELECT kept.l_returnflag AS l_returnflag,
        |       CAST(rn - 1 AS INT) AS pos,
        |       ${OracleU64.toSigned("seed")} AS hval,
        |       n_kept, est, band
        |FROM kept JOIN kstats USING (l_returnflag)
        |ORDER BY l_returnflag, pos""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr(s"kmv_sketch(l_orderkey, $KmvK)").as("kept"))
        .select(col("l_returnflag"),
          size(col("kept")).cast("long").as("n_kept"),
          kmvEst(col("kept")).as("est"),
          when(size(col("kept")) < KmvK, lit("exact"))
            .otherwise(lit("estimate")).as("band"),
          posexplode(col("kept")).as(Seq("pos", "hval")))
        .select(col("l_returnflag"), col("pos"), col("hval"),
          col("n_kept"), col("est"), col("band"))
        .orderBy("l_returnflag", "pos")
    },

    // A34 — KMV SET ALGEBRA (why the fourth sketch earns its place):
    // per returnflag pair, DIRECT |A∪B| / |A∩B| / Jaccard estimates
    // from the two 512-byte register files alone. Theta-sketch rule:
    // T = min over the pair of (v_k when full, 2^64 when exact); every
    // kept value unsigned-< T is a uniform sample with inclusion
    // probability T/2^64, so each estimate is count·2^64/T — ONE
    // integer division with RELATIVE error ~1/√k, where a30's HLL
    // inclusion–exclusion subtracts two absolute-error estimates (and
    // can go negative on near-disjoint sets; jaccard_bp here is exact
    // integer basis points of the SAMPLE ratio, never negative). The
    // pair join runs on the 3-row cached aggregate (broadcast); the
    // algebra is a bounded ≤2k-value fold per pair. Oracle replays
    // every kept value, threshold, count, and division in UBIGINT /
    // HUGEINT arithmetic.
    q("a34_kmv_intersect",
      s"""WITH $kmvKeptCtes,
        |th AS (
        |  SELECT l_returnflag, n_kept, est,
        |         CASE WHEN n_kept < $KmvK THEN $Two64Sql
        |              ELSE CAST(vk AS HUGEINT) END AS theta
        |  FROM kstats),
        |pairs AS (
        |  SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
        |         a.est AS est_a, b.est AS est_b,
        |         least(a.theta, b.theta) AS t
        |  FROM th a JOIN th b ON a.l_returnflag < b.l_returnflag),
        |pairseeds AS (
        |  SELECT p.flag_a, p.flag_b, p.t, s.seed,
        |         max(CASE WHEN s.l_returnflag = p.flag_a THEN 1 ELSE 0 END) AS in_a,
        |         max(CASE WHEN s.l_returnflag = p.flag_b THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN kept s
        |    ON s.l_returnflag IN (p.flag_a, p.flag_b)
        |   AND CAST(s.seed AS HUGEINT) < p.t
        |  GROUP BY p.flag_a, p.flag_b, p.t, s.seed),
        |cnts AS (
        |  SELECT flag_a, flag_b, t,
        |         CAST(count(*) AS HUGEINT) AS n_union,
        |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |              AS HUGEINT) AS n_inter
        |  FROM pairseeds GROUP BY 1, 2, 3)
        |SELECT c.flag_a, c.flag_b, p.est_a, p.est_b,
        |       CAST(c.n_union * $Two64Sql // c.t AS BIGINT) AS est_union,
        |       CAST(c.n_inter * $Two64Sql // c.t AS BIGINT) AS est_inter,
        |       CAST(CASE WHEN c.n_union = 0 THEN 0
        |                 ELSE c.n_inter * 10000 // c.n_union END AS BIGINT) AS jaccard_bp
        |FROM cnts c JOIN pairs p
        |  ON p.flag_a = c.flag_a AND p.flag_b = c.flag_b
        |ORDER BY c.flag_a, c.flag_b""".stripMargin) { (s, dir) =>
      // 3 rows × ≤64 longs — the persisted sketch table
      val sk = graft.Caches.pin(Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr(s"kmv_sketch(l_orderkey, $KmvK)").as("kept")))
      sk.as("a").join(broadcast(sk.as("b")),
          col("a.l_returnflag") < col("b.l_returnflag"))
        .select(
          col("a.l_returnflag").as("flag_a"),
          col("b.l_returnflag").as("flag_b"),
          kmvEst(col("a.kept")).as("est_a"),
          kmvEst(col("b.kept")).as("est_b"),
          kmvAlgebra(col("a.kept"), col("b.kept")).as("alg"))
        .select(col("flag_a"), col("flag_b"), col("est_a"), col("est_b"),
          col("alg._1").as("est_union"), col("alg._2").as("est_inter"),
          col("alg._3").as("jaccard_bp"))
        .orderBy("flag_a", "flag_b")
    },

    // A35 — Bloom filter as a mergeable aggregate (plans/SketchAgg
    // .scala, the fifth sketch): the membership structure behind every
    // "does this key exist on the other side" prune — j16's semi-join
    // bloom, d10's containment bloom — as first-class oracle-checked
    // state. Bit positions are Count-Min's affine maps (SketchHash.cell,
    // shared code), so DuckDB regenerates the ENTIRE 16 KiB bitmap; merge is
    // element-wise OR (idempotent — re-delivery safe). The output is
    // the engineering contract made measurable, per row of the word
    // table: (a) the no-false-negative invariant as data —
    // member_hits = member_probes over every distinct build key —
    // and (b) the measured false-positive rate of disjoint probe keys
    // in exact basis points, next to the fill ratio that predicts it.
    // Fixed bits across scale factors is deliberate: at 10x the keys
    // the same filter visibly saturates toward fpr_bp -> 10000 (never
    // losing a member) — the sizing lesson (bits ~ 1.44 d n) as
    // hash-checked output instead of a doc footnote.
    q("a35_bloom_filter",
      s"""WITH h AS (SELECT * FROM ${SketchHash.affineRowsSql(3)}),
        |pos AS (
        |  SELECT DISTINCT (((o_orderkey % 2147483647) * a + b) % 2147483647)
        |                  % $BloomBits AS p
        |  FROM orders CROSS JOIN h),
        |wbits AS (
        |  SELECT p // 64 AS word_idx,
        |         bit_or(CAST(1 AS UBIGINT) << CAST(p % 64 AS INT)) AS ub
        |  FROM pos GROUP BY 1),
        |widx AS (SELECT CAST(unnest(range(${BloomBits / 64})) AS BIGINT) AS word_idx),
        |words AS (
        |  SELECT widx.word_idx,
        |         ${OracleU64.toSigned("coalesce(wb.ub, CAST(0 AS UBIGINT))")} AS bits
        |  FROM widx LEFT JOIN wbits wb USING (word_idx)),
        |bset AS (SELECT CAST(coalesce(sum(bit_count(ub)), 0) AS BIGINT) AS bits_set
        |         FROM wbits),
        |mk AS (SELECT DISTINCT o_orderkey AS k FROM orders),
        |fk AS (SELECT DISTINCT l_orderkey + 1000000000 AS k FROM lineitem),
        |mq AS (SELECT k, (((k % 2147483647) * a + b) % 2147483647) % $BloomBits AS p
        |       FROM mk CROSS JOIN h),
        |fq AS (SELECT k, (((k % 2147483647) * a + b) % 2147483647) % $BloomBits AS p
        |       FROM fk CROSS JOIN h),
        |mh AS (SELECT mq.k, count(*) AS nbits
        |       FROM mq JOIN wbits wb ON wb.word_idx = mq.p // 64
        |        AND (wb.ub >> CAST(mq.p % 64 AS INT)) & CAST(1 AS UBIGINT)
        |            = CAST(1 AS UBIGINT)
        |       GROUP BY mq.k),
        |fh AS (SELECT fq.k, count(*) AS nbits
        |       FROM fq JOIN wbits wb ON wb.word_idx = fq.p // 64
        |        AND (wb.ub >> CAST(fq.p % 64 AS INT)) & CAST(1 AS UBIGINT)
        |            = CAST(1 AS UBIGINT)
        |       GROUP BY fq.k),
        |stats AS (
        |  SELECT (SELECT count(*) FROM mk) AS member_probes,
        |         (SELECT count(*) FROM mh WHERE nbits = 3) AS member_hits,
        |         (SELECT count(*) FROM fk) AS fp_probes,
        |         (SELECT count(*) FROM fh WHERE nbits = 3) AS fp_hits)
        |SELECT CAST(word_idx AS INT) AS word_idx, bits, bits_set,
        |       bits_set * 10000 // $BloomBits AS fill_bp,
        |       member_probes, member_hits, fp_probes, fp_hits,
        |       fp_hits * 10000 // fp_probes AS fpr_bp
        |FROM words CROSS JOIN bset CROSS JOIN stats
        |ORDER BY word_idx""".stripMargin) { (s, dir) =>
      // one row: the 16 KiB bitmap + its popcount
      val bf = graft.Caches.pin(Tables.load(s, dir, "orders")
        .agg(expr(s"bloom_agg(o_orderkey, $BloomBits, 3)").as("words"))
        .withColumn("bits_set",
          expr("aggregate(transform(words, w -> bit_count(w)), 0, (a, b) -> a + b)")
            .cast("long")))
      val members = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k")).distinct()
      val nonMembers = Tables.load(s, dir, "lineitem")
        .select((col("l_orderkey") + 1000000000L).as("k")).distinct()
      def probeStats(probes: org.apache.spark.sql.DataFrame,
                     pCol: String, hCol: String) =
        probes.crossJoin(broadcast(bf.select("words")))
          .agg(count(lit(1)).as(pCol),
               sum(when(expr(bloomMemberSql("k")), 1L).otherwise(0L)).as(hCol))
      val m = probeStats(members, "member_probes", "member_hits")
      val f = probeStats(nonMembers, "fp_probes", "fp_hits")
      bf.select(col("bits_set"),
          posexplode(col("words")).as(Seq("word_idx", "bits")))
        .crossJoin(broadcast(m)).crossJoin(broadcast(f))
        .select(col("word_idx"), col("bits"), col("bits_set"),
          expr(s"bits_set * 10000 div $BloomBits").as("fill_bp"),
          col("member_probes"), col("member_hits"),
          col("fp_probes"), col("fp_hits"),
          expr("fp_hits * 10000 div fp_probes").as("fpr_bp"))
        .orderBy("word_idx")
    },

    // a36 (round 11) — the MOMENTS SKETCH (Gan et al., VLDB'18): the
    // sixth sketch-family member and the mergeable QUANTILE sketch the
    // family lacked. State per group is O(1) and ORDER-INDEPENDENT —
    // (n, Σq, Σq², Σq³, Σq⁴, exact BIGINT arithmetic) — so unlike
    // t-digest/KLL (whose merge trees are order-dependent and therefore
    // unhashable), the register CONTENT itself is oracle-exact, the
    // same property that let a28-a35 gate Count-Min/HLL/AMS/KMV/Bloom.
    // Quantile estimates use the Cornish-Fisher expansion (closed-form
    // from the standardized moments — replayable; the paper's max-ent
    // solver is iterative and belongs at the consumer, not the gate),
    // published next to the exact interpolated quantiles so the
    // estimator's error is itself a checked column. The FORMULA STRINGS
    // are shared verbatim between the Spark plan (selectExpr) and the
    // DuckDB oracle, so both engines run the identical IEEE expression
    // tree — the a29/k2 bitwise-replay discipline. Scale shape: one
    // partial-aggregated HashAggregate (5 longs per group map-side);
    // the exact-quantile twin is the gate-side harness only — at 100 TB
    // the sketch IS the product and merges across any partitioning.
    // Range note: quantity ∈ [1,50] keeps Σq⁴ far inside int64; a wider
    // value domain promotes the power sums to DECIMAL(38,0) with the
    // same order-independence (sums stay exact, merges stay exact).
    q("a36_moments_quantiles", {
      val steps = MomentFormulas.layers.map { layer =>
        layer.map { case (name, f) => s"$f AS $name" }.mkString(", ")
      }
      s"""WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(qv) AS BIGINT) AS s1,
        |         CAST(sum(qv * qv) AS BIGINT) AS s2,
        |         CAST(sum(qv * qv * qv) AS BIGINT) AS s3,
        |         CAST(sum(qv * qv * qv * qv) AS BIGINT) AS s4,
        |         round(quantile_cont(CAST(qv AS DOUBLE), 0.5), 4) AS p50_exact,
        |         round(quantile_cont(CAST(qv AS DOUBLE), 0.9), 4) AS p90_exact
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qv
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |d1 AS (SELECT *, ${steps(0)} FROM s),
        |d2 AS (SELECT *, ${steps(1)} FROM d1),
        |d3 AS (SELECT *, ${steps(2)} FROM d2),
        |d4 AS (SELECT *, ${steps(3)} FROM d3)
        |SELECT l_returnflag, n, s1, s2, s3, s4,
        |       round(m, 6) AS mean, round(sd, 6) AS std,
        |       round(g1, 6) AS skew_g1, round(g2, 6) AS kurt_g2,
        |       round(p50_est, 4) AS p50_est, round(p90_est, 4) AS p90_est,
        |       p50_exact, p90_exact
        |FROM d4 ORDER BY l_returnflag""".stripMargin
    }) { (s, dir) =>
      val sums = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qv"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             sum("qv").as("s1"),
             sum(expr("qv * qv")).as("s2"),
             sum(expr("qv * qv * qv")).as("s3"),
             sum(expr("qv * qv * qv * qv")).as("s4"),
             round(expr("percentile(qv, 0.5)"), 4).as("p50_exact"),
             round(expr("percentile(qv, 0.9)"), 4).as("p90_exact"))
      val derived = MomentFormulas.layers.foldLeft(sums) { (df, layer) =>
        layer.foldLeft(df) { case (d, (name, f)) => d.withColumn(name, expr(f)) }
      }
      derived.select(col("l_returnflag"),
          col("n"), col("s1"), col("s2"), col("s3"), col("s4"),
          round(col("m"), 6).as("mean"), round(col("sd"), 6).as("std"),
          round(col("g1"), 6).as("skew_g1"), round(col("g2"), 6).as("kurt_g2"),
          round(col("p50_est"), 4).as("p50_est"),
          round(col("p90_est"), 4).as("p90_est"),
          col("p50_exact"), col("p90_exact"))
        .orderBy("l_returnflag")
    },
  )

  /** a36's moment→quantile derivation as LAYERED FORMULA STRINGS, each
    * layer referencing only columns of earlier layers — spliced
    * verbatim into both the Spark plan and the DuckDB oracle so the
    * two engines evaluate the identical IEEE expression tree (sums are
    * exact BIGINT, so every double op starts from identical inputs).
    * z90 is the standard-normal 0.9 quantile; Cornish-Fisher at z=0
    * (the median) collapses to m − sd·g1/6. */
  private object MomentFormulas {
    // cast: DuckDB parses the bare literal as DECIMAL and decimal
    // multiplication overflows scale 38; both engines must run it DOUBLE
    private val z90 = "CAST(1.2815515655446004 AS DOUBLE)"
    val layers: Seq[Seq[(String, String)]] = Seq(
      Seq(
        "nd"  -> "CAST(n AS DOUBLE)",
        "m"   -> "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
        "ex2" -> "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)",
        "ex3" -> "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)",
        "ex4" -> "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"),
      Seq(
        "vr"  -> "ex2 - m * m",
        "mu3" -> "ex3 - 3 * m * ex2 + 2 * m * m * m",
        "mu4" -> "ex4 - 4 * m * ex3 + 6 * m * m * ex2 - 3 * m * m * m * m"),
      Seq(
        "sd"  -> "sqrt(vr)",
        "g2"  -> "mu4 / (vr * vr) - 3"),
      Seq(
        "g1"  -> "mu3 / (sd * sd * sd)",
        "p50_est" -> "m + sd * (0 - mu3 / (sd * sd * sd) / 6)",
        "p90_est" -> (s"m + sd * ($z90 " +
          s"+ ($z90 * $z90 - 1) * (mu3 / (sd * sd * sd)) / 6 " +
          s"+ ($z90 * $z90 * $z90 - 3 * $z90) * (mu4 / (vr * vr) - 3) / 24 " +
          s"- (2 * $z90 * $z90 * $z90 - 5 * $z90) " +
          s"* (mu3 / (sd * sd * sd)) * (mu3 / (sd * sd * sd)) / 36)"))
    )
  }
}
