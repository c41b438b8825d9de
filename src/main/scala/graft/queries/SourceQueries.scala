package graft.queries

import graft.{Caches, QueryDef, Tables}
import graft.QueryDef.q
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SURVEY.md §2.1 — sources & sinks (S1-S9): CSV scan with explicit
  * schema, glob scan of a file family, overwrite/append write modes,
  * parquet stage checkpoints, partitioned writes with partition pruning,
  * and PK-uniqueness data-quality checks.
  *
  * Each query WRITES to a scratch dir then reads its own output back, so
  * the oracle (plain SQL over the original table) also proves the
  * round-trip is lossless. Scratch dirs are per-(query, sfDir)
  * ([[graft.Caches.scratch]]) so runs over two data dirs don't collide.
  *
  * Scale notes: all writes go through Spark's committer — partition-
  * parallel, no driver bottleneck; `repartition(n)` stands in for the
  * reference's 300k-row chunked-transaction ingest (S5). Partitioned
  * parquet + filter ⇒ partition pruning at the scan (S8/P11 at 100 TB:
  * partition by the join/filter key, prune to one directory).
  */
object SourceQueries {

  /** s26's injected structurally-broken JSONL lines. The single source of
    * truth for BOTH the fixture write and the oracle's quarantined count
    * (`${s26BadLines.size}` is interpolated into the SQL), so the two can
    * never drift apart. */
  private val s26BadLines: Seq[String] = Seq(
    "{\"doc_id\": 1, \"text\": \"truncated",
    "this is not json at all",
    "{\"doc_id\": 3, \"text\": }")

  val defs: Seq[QueryDef] = Seq(

    // S18 — Z-order clustered layout (operators.ZOrder): events written
    // along the Morton curve of (user_id, value), then a box predicate
    // read back from the clustered files. The oracle is the same filter
    // on the original table — layout never changes results, only which
    // files a selective scan must touch (ZOrderSpec measures the
    // pruning; at 100 TB this is the difference between reading ~4% and
    // 100% of the table for a 2-dim selective query).
    q("s18_zorder_skip",
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 2 AND 6 AND value BETWEEN 50 AND 150
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val path = Caches.scratch("s18", dir)
      val e = Tables.load(s, dir, "events").select("event_id", "user_id", "value")
      graft.operators.ZOrder.cluster(e, "user_id", "value")
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .filter(col("user_id").between(2, 6) && col("value").between(50, 150))
        .orderBy("event_id")
    },

    // S1 + S9 — CSV sink then CSV scan with EXPLICIT schema (inference is
    // nondeterministic at scale; DatabaseCreation.R:14-35 infers, we pin)
    q("s1_csv_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s1", dir)
      Tables.load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
      // INT matches the source parquet's physical type, so the roundtrip
      // is type-identical to the oracle (driver hash is type-aware)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").csv(out)
        .orderBy("n_nationkey")
    },

    // JSONL sink + scan with explicit schema — the interchange format of
    // LLM training corpora (one JSON doc per line). The roundtrip carries
    // the free-text column through JSON string escaping and back, so the
    // oracle hash proves escape fidelity, not just row counts. Explicit
    // schema on read for the same reason as s1: inference samples and is
    // nondeterministic at scale. Scale shape: line-splittable format,
    // writes partition-parallel, reads split per file like CSV.
    q("s24_jsonl_roundtrip",
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s24", dir)
      Tables.load(s, dir, "documents")
        .write.mode(SaveMode.Overwrite).json(out)
      s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(out)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ORC sink + scan — the second columnar format a lake ingests from.
    // Same roundtrip-against-the-parquet-oracle trick as s1/s24: the
    // oracle never sees the ORC file; it recomputes from the source
    // table, so a value mangled by the format conversion hash-fails.
    q("s25_orc_roundtrip",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s25", dir)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
        .write.mode(SaveMode.Overwrite).orc(out)
      s.read.orc(out)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
    },

    // S2 — glob scan of a file family (tracking_week_*.csv —
    // DatabaseCreation.R:32-36): write two disjoint halves as separate
    // file families, read them back with one glob, no manual union
    q("s2_glob_scan",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, dir) =>
      val out = Caches.scratch("s2", dir)
      val r = Tables.load(s, dir, "region").select("r_regionkey", "r_name")
      r.filter(col("r_regionkey") % 2 === 0)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$out/week_0")
      r.filter(col("r_regionkey") % 2 === 1)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$out/week_1")
      s.read.schema("r_regionkey INT, r_name STRING")
        .option("header", "true").csv(s"$out/week_*")
        .orderBy("r_regionkey")
    },

    // S3 + S4 — overwrite then append write modes (DatabaseCreation.R:
    // 15-29, 33-36): after one overwrite + one append every key is
    // present exactly twice
    q("s3_write_modes",
      """SELECT r_regionkey, 2 AS n_copies FROM region ORDER BY r_regionkey""") { (s, dir) =>
      val out = Caches.scratch("s3", dir)
      val r = Tables.load(s, dir, "region").select("r_regionkey")
      r.write.mode(SaveMode.Overwrite).parquet(out)
      r.write.mode(SaveMode.Append).parquet(out)
      Tables.parquet(s, out)
        .groupBy("r_regionkey").agg(count(lit(1)).cast("int").as("n_copies"))
        .orderBy("r_regionkey")
    },

    // S8 — materialized stage checkpoint (cleaned_player_data →
    // Openness_Data_Frame_Prep.R:101): write an aggregate stage to
    // parquet, read it back, continue the pipeline from the checkpoint
    q("s8_stage_checkpoint",
      """SELECT o_orderpriority, round(sum(total), 2) AS grand
        |FROM (SELECT o_orderpriority, o_custkey, sum(o_totalprice) AS total
        |      FROM orders GROUP BY 1, 2)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s8", dir)
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(sum("o_totalprice").as("total"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      Tables.parquet(s, out)
        .groupBy("o_orderpriority")
        .agg(round(sum("total"), 2).as("grand"))
        .orderBy("o_orderpriority")
    },

    // S8b/P11 — hive-partitioned write + partition-pruned read (the
    // gameId-partitioned layout that makes single-play lookups O(1 dir)):
    // only the l_returnflag=R directory is scanned on read-back
    q("s9_partitioned_prune",
      """SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s9", dir)
      Tables.load(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("l_returnflag").parquet(out)
      Tables.parquet(s, out)
        .filter(col("l_returnflag") === "R") // prunes to one partition dir
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("l_linestatus")
    },

    // S10 (scale path) — bucketed tables: both sides of a recurring join
    // written bucketed on the join key ⇒ the join plans with NO shuffle
    // Exchange (asserted in SourceQueriesSpec). At 100 TB this converts
    // every repeated lineitem⋈orders into a zero-shuffle map-side join —
    // the single biggest cost lever for a star-schema workload.
    q("s10_bucketed_join",
      """SELECT o_orderkey, o_orderpriority, count(*) AS n_lines,
        |       round(sum(l_quantity), 2) AS qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val suffix = math.abs(dir.hashCode).toHexString
      val (ordersT, liT) = (s"orders_bkt_$suffix", s"lineitem_bkt_$suffix")
      // the warehouse directory outlives the in-memory catalog across
      // JVMs: drop the catalog entry AND clear any orphaned location
      Seq(ordersT, liT).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(loc)
        }
      }
      Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.mode(SaveMode.Overwrite).bucketBy(8, "o_orderkey").saveAsTable(ordersT)
      Tables.load(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode(SaveMode.Overwrite).bucketBy(8, "l_orderkey").saveAsTable(liT)
      // disable broadcast so the bucket co-location (not broadcast) is
      // what eliminates the exchange — mirrors the at-scale case where
      // neither side fits in memory
      s.table(ordersT).hint("merge")
        .join(s.table(liT).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("o_orderkey")
    },

    // S6 — PK/FK declarations become assertable data-quality checks:
    // count of duplicated primary keys (expected 0) per table, emitted as
    // rows so the check is itself a query
    q("s6_pk_uniqueness",
      """SELECT 'orders' AS tbl,
        |       (SELECT count(*) FROM
        |         (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) AS n_dup_keys
        |UNION ALL
        |SELECT 'part', (SELECT count(*) FROM
        |  (SELECT p_partkey FROM part GROUP BY p_partkey HAVING count(*) > 1))
        |ORDER BY tbl""".stripMargin) { (s, dir) =>
      def dups(t: String, key: String): DataFrame =
        Tables.load(s, dir, t).groupBy(key).count().filter(col("count") > 1)
          .agg(count(lit(1)).as("n_dup_keys"))
          .select(lit(t).as("tbl"), col("n_dup_keys"))
      dups("orders", "o_orderkey").unionByName(dups("part", "p_partkey"))
        .orderBy("tbl")
    },

    // S10 — HTML leaderboard sink (QBReadStats.R:229-258): top-10 +
    // rows-24-33 tables side by side, saved as one HTML file, emitted
    // as (section, html) rows. The reduce (orderBy + limit) runs
    // distributed; only 33 rows reach the renderer. rows-only: HTML
    // strings aren't a DuckDB-comparable relation; structure is
    // asserted in HtmlSinkSpec.
    QueryDef.qRowsOnly("s11_html_sink") { (s, dir) =>
      import graft.sources.HtmlSink
      // pinned: the two renderTable collects below would otherwise each
      // re-run the global top-33 reduction; both run here, so the pin
      // dies with them
      val ranked = Caches.pin(Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(33)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("o_totalprice"), col("o_orderkey")))))
      val (top, bottom) = try (
        HtmlSink.renderTable(ranked.filter(col("rnk") <= 10), "Top 10 Orders"),
        HtmlSink.renderTable(ranked.filter(col("rnk").between(24, 33)), "Orders 24-33"))
      finally Caches.release(ranked)
      val html = HtmlSink.document(HtmlSink.sideBySide(Seq(top, bottom)))
      HtmlSink.write(s, html, s"${Caches.scratch("s11", dir)}/leaderboard.html")
      import s.implicits._
      Seq(("top10", top), ("rows24_33", bottom), ("combined", html))
        .toDF("section", "html").orderBy("section")
    },

    // S12 — custom DataSource V2 provider (graft.sources.BdbMiniSource):
    // per-game input partitions, EqualTo(gameId) pushdown prunes whole
    // splits, column pruning reaches the reader. rows-only: the table
    // is the generated fixture; parity + pushdown asserted in
    // BdbMiniSourceSpec.
    QueryDef.qRowsOnly("s12_dsv2_source") { (s, _) =>
      s.read.format("graft-bdb").option("table", "tracking").load()
        .filter(col("gameId") === 2022090800L) // pushed: 1 of 2 splits read
        .groupBy("club")
        .agg(count(lit(1)).as("n"), round(avg("s"), 6).as("avg_speed"))
        .orderBy("club")
    },

    // S13 — MERGE INTO / upsert semantics over a stored snapshot: a
    // change feed (updates to ~10% of keys + a slice of brand-new keys)
    // merged into the base by keep-latest-per-key. The union+row_number
    // formulation is the engine-agnostic MERGE: one shuffle on the key,
    // no driver-side diffing, and at 100 TB the window degenerates to a
    // per-key top-1 (GroupTopK's shape) over base ∪ delta — the delta
    // side is typically small enough that partition-pruned rewrites
    // touch only affected partitions.
    q("s13_upsert_merge",
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(o_totalprice AS DECIMAL(38,2)) AS o_totalprice, 0 AS version
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05, 2)
        |              AS DECIMAL(38,2)) AS o_totalprice, 1 AS version
        |  FROM orders WHERE o_orderkey % 100 < 10
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderpriority,
        |         CAST(o_totalprice AS DECIMAL(38,2)), 1 AS version
        |  FROM orders WHERE o_orderkey % 100 >= 95),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                               ORDER BY version DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM changes))
        |SELECT o_orderkey, o_orderpriority,
        |       CAST(o_totalprice AS DOUBLE) AS o_totalprice, version
        |FROM merged WHERE rn = 1 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // money math in exact DECIMAL on both engines: double*1.05 lands on
      // half-way thirds decimals where Spark (shortest-repr HALF_UP) and
      // DuckDB (binary-value round) disagree. The OUTPUT column is a
      // terminal decimal-to-double cast (bit-identical both sides) — a
      // decimal output column cannot hash-match across the driver's readers.
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice").cast("decimal(38,2)").as("o_totalprice"),
                lit(0).as("version"))
      val updates = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 100 < 10)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05, 2) AS DECIMAL(38,2))")
            .as("o_totalprice"),
          lit(1).as("version"))
      val inserts = base.filter(col("o_orderkey") % 100 >= 95)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("version", lit(1))
      val merged = base.unionByName(updates).unionByName(inserts)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("o_orderkey").orderBy(desc("version"))))
      merged.filter(col("rn") === 1)
        .select(col("o_orderkey"), col("o_orderpriority"),
                col("o_totalprice").cast("double").as("o_totalprice"),
                col("version"))
        .orderBy("o_orderkey")
    },

    // S14 — table profiling (deequ-style data-quality summary): per
    // column, null count, exact distinct count, numeric min/max (epoch
    // micros for timestamps, NULL for strings). Counts/min/max come from
    // one wide agg with NO distincts — pure map-side partial agg, one
    // single-row exchange. Each exact distinct count is its OWN
    // sub-aggregate: Spark plans a per-column partial-distinct keyed by
    // that column alone, so every scan prunes to one column and every
    // shuffle carries only that column's post-dedup distinct values.
    // The previous single-agg multi-distinct form compiled to Expand(×7)
    // with the FULL column tuple as the shuffle key — the whole table,
    // seven times, through the wire; it did not survive a 100× scale-up
    // (and regressed 1.06 s → 2.67 s as columns were added). At 100 TB,
    // exact distincts on unbounded-cardinality columns (props, ts) still
    // shuffle their distinct values by definition — swap in
    // approx_count_distinct (a20's HLL machinery) and the whole profile
    // collapses to the map-side wide agg; this exact form stays as the
    // small-scale oracle twin.
    q("s14_profile",
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |       count(*) - count(event_id) AS n_nulls,
        |       count(DISTINCT event_id) AS n_distinct,
        |       CAST(min(event_id) AS DOUBLE) AS min_val,
        |       CAST(max(event_id) AS DOUBLE) AS max_val FROM events
        |UNION ALL
        |SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT ts),
        |       CAST(epoch_us(min(ts)) AS DOUBLE), CAST(epoch_us(max(ts)) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'user_id', count(*), count(*) - count(user_id),
        |       count(DISTINCT user_id),
        |       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'event_type', count(*), count(*) - count(event_type),
        |       count(DISTINCT event_type),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM events
        |UNION ALL
        |SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value),
        |       min(value), max(value) FROM events
        |UNION ALL
        |SELECT 'props', count(*), count(*) - count(props), count(DISTINCT props),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM events
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val stats = e.agg(
        count(lit(1)).as("n"),
        count(col("event_id")).as("c_event_id"),
        min(col("event_id")).cast("double").as("mn_event_id"),
        max(col("event_id")).cast("double").as("mx_event_id"),
        count(col("ts")).as("c_ts"),
        unix_micros(min(col("ts"))).cast("double").as("mn_ts"),
        unix_micros(max(col("ts"))).cast("double").as("mx_ts"),
        count(col("user_id")).as("c_user_id"),
        min(col("user_id")).cast("double").as("mn_user_id"),
        max(col("user_id")).cast("double").as("mx_user_id"),
        count(col("event_type")).as("c_event_type"),
        count(col("value")).as("c_value"),
        min(col("value")).as("mn_value"),
        max(col("value")).as("mx_value"),
        count(col("props")).as("c_props"))
      // one single-distinct sub-aggregate per column (see plan note
      // above); the cross joins are single-row broadcasts
      val wide = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(cn => e.agg(countDistinct(col(cn)).as(s"d_$cn")))
        .foldLeft(stats)(_ crossJoin _)
      wide.selectExpr(
        """stack(6,
          |  'event_id',   n, n - c_event_id,   d_event_id,   mn_event_id, mx_event_id,
          |  'ts',         n, n - c_ts,         d_ts,         mn_ts,       mx_ts,
          |  'user_id',    n, n - c_user_id,    d_user_id,    mn_user_id,  mx_user_id,
          |  'event_type', n, n - c_event_type, d_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'value',      n, n - c_value,      d_value,      mn_value,    mx_value,
          |  'props',      n, n - c_props,      d_props,      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |) AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)""".stripMargin)
        .orderBy("col_name")
    },

    // S15 — dynamic partition overwrite: rewrite ONE partition of a
    // partitioned table in place (partitionOverwriteMode=dynamic), the
    // idempotent-backfill primitive of a partitioned lake. Static mode
    // would truncate the whole table; dynamic touches only partitions
    // present in the incoming frame. Oracle replays the rewrite
    // arithmetically. At 100 TB this is the difference between
    // rewriting one day and rewriting the table.
    q("s15_dynamic_overwrite",
      """SELECT event_type, count(*) AS n,
        |       round(sum(CASE WHEN event_type = 'click' THEN value * 2
        |                      ELSE value END), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val path = Caches.scratch("s15", dir)
      val e = Tables.load(s, dir, "events")
      e.write.mode("overwrite").partitionBy("event_type").parquet(path)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        e.filter(col("event_type") === "click")
          .withColumn("value", col("value") * 2)
          .write.mode("overwrite").partitionBy("event_type").parquet(path)
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      Tables.parquet(s, path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("event_type")
    },

    // S16 — snapshot diff: added/removed/changed/unchanged between two
    // table versions via one full-outer join on the key — the audit
    // operator behind incremental publishing (what changed since the
    // last snapshot?). One shuffle on the key; at 100 TB both snapshots
    // bucketed on the key make it exchange-free (s10's layout).
    q("s16_snapshot_diff",
      """WITH snap0 AS (SELECT o_orderkey, o_totalprice FROM orders),
        |snap1 AS (
        |  SELECT o_orderkey, round(o_totalprice * 1.05, 2) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 < 10
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 >= 10 AND o_orderkey % 100 < 90
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 >= 95)
        |SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |            WHEN b.o_orderkey IS NULL THEN 'removed'
        |            WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       count(*) AS n
        |FROM snap0 a FULL JOIN snap1 b ON a.o_orderkey = b.o_orderkey
        |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val snap0 = o.select(col("o_orderkey"), col("o_totalprice"))
      val m = col("o_orderkey") % 100
      val snap1 = o.filter(m < 10)
          .select(col("o_orderkey"),
                  round(col("o_totalprice") * 1.05, 2).as("o_totalprice"))
        .unionByName(o.filter(m >= 10 && m < 90)
          .select(col("o_orderkey"), col("o_totalprice")))
        .unionByName(o.filter(m >= 95)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
                  col("o_totalprice")))
      snap0.as("a").join(snap1.as("b"),
          col("a.o_orderkey") === col("b.o_orderkey"), "full")
        .select(
          when(col("a.o_orderkey").isNull, "added")
            .when(col("b.o_orderkey").isNull, "removed")
            .when(col("a.o_totalprice") =!= col("b.o_totalprice"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },

    // S17 — incremental aggregate maintenance: a stored per-user
    // aggregate over history is MERGED with the delta's aggregate
    // instead of rescanning history — the materialized-view-refresh
    // primitive. Decimal accumulation (j8's pattern) makes the merge
    // exact, so merged(history, delta) ≡ full recompute, which is
    // exactly what the oracle computes. At 100 TB the history side is
    // a tiny aggregate table; only the delta is scanned.
    q("s17_incremental_agg",
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val cutoff = lit("2024-01-21").cast("timestamp")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("t"))
      val hist = agg(e.filter(col("ts") < cutoff))   // stored aggregate
      val delta = agg(e.filter(col("ts") >= cutoff)) // new arrivals
      hist.as("h").join(delta.as("d"),
          col("h.user_id") === col("d.user_id"), "full")
        .select(
          coalesce(col("h.user_id"), col("d.user_id")).as("user_id"),
          (coalesce(col("h.n"), lit(0L)) + coalesce(col("d.n"), lit(0L)))
            .as("n_events"),
          // both-sides-NULL must stay NULL (a user whose values are all
          // NULL sums to NULL in the full recompute, not 0)
          // terminal decimal-to-double cast: exact merge, hashable output
          when(col("h.t").isNull && col("d.t").isNull,
               lit(null).cast("double"))
            .otherwise(
              (coalesce(col("h.t"), lit(0).cast("decimal(18,6)")) +
               coalesce(col("d.t"), lit(0).cast("decimal(18,6)")))
                .cast("double"))
            .as("total"))
        .orderBy("user_id")
    },

    // S20 — schema evolution: a v2 writer adds a column; mergeSchema
    // reads old and new files as one table, old rows null-filled. The
    // append-only lake's schema-drift contract: additive columns never
    // require a rewrite of existing data. (Column pruning still works —
    // footers are per-file, and files lacking the column skip it.)
    q("s20_schema_evolution",
      """SELECT r_regionkey, r_name,
        |       CASE WHEN r_regionkey < 3 THEN NULL ELSE 'v2' END AS batch_tag
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s20", dir)
      val r = Tables.load(s, dir, "region")
      r.filter(col("r_regionkey") < 3).select("r_regionkey", "r_name")
        .write.mode(SaveMode.Overwrite).parquet(out)
      r.filter(col("r_regionkey") >= 3)
        .select(col("r_regionkey"), col("r_name"), lit("v2").as("batch_tag"))
        .write.mode(SaveMode.Append).parquet(out)
      s.read.option("mergeSchema", "true").parquet(out)
        .orderBy("r_regionkey")
    },

    // S21 — small-file compaction (the OPTIMIZE maintenance pass): a
    // 64-file fragmented write is compacted to 4 right-sized files;
    // the oracle proves the rewrite is lossless, the spec counts the
    // files. At 100 TB compaction is a per-partition repartition job —
    // no driver bottleneck — and is what keeps scan task counts (and
    // footer-read overhead) bounded after many incremental appends.
    q("s21_compaction",
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val frag = Caches.scratch("s21frag", dir)
      val opt = Caches.scratch("s21opt", dir)
      Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .repartition(64) // the incremental-append fragmentation
        .write.mode(SaveMode.Overwrite).parquet(frag)
      Tables.parquet(s, frag)
        .repartition(4) // the compaction rewrite
        .write.mode(SaveMode.Overwrite).parquet(opt)
      Tables.parquet(s, opt)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // S22 — corrupt-file tolerance: a landing zone holds good parquet
    // plus one truncated/garbage file (the torn write every large-scale
    // ingest eventually sees); `ignoreCorruptFiles` skips it and the
    // scan returns exactly the good rows — the oracle is the clean
    // table. Without the conf the same read throws, which is the
    // correct default (silent skips must be opt-in); at 100 TB this is
    // per-file error isolation, not a driver-side retry loop.
    q("s22_corrupt_tolerance",
      """SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""") { (s, dir) =>
      val out = Caches.scratch("s22", dir)
      val good = Tables.load(s, dir, "nation").select("n_nationkey", "n_name")
      good.repartition(2)
        .write.mode(SaveMode.Overwrite).parquet(out)
      // a torn write: valid magic prefix, garbage tail, .parquet suffix
      val torn = new java.io.FileOutputStream(s"$out/part-junk.parquet")
      torn.write("PAR1".getBytes ++ Array.fill[Byte](64)(0x5a))
      torn.close()
      // the written schema is known: no inference job over the landing zone
      s.read.option("ignoreCorruptFiles", "true").schema(good.schema).parquet(out)
        .orderBy("n_nationkey")
    },

    // Malformed-record tolerance for the text formats — s22's sibling for
    // JSONL ingest. Raw crawl/vendor feeds always carry some broken lines;
    // PERMISSIVE mode with a corrupt-record column quarantines them
    // per-ROW (vs s22's per-FILE parquet isolation) while every valid
    // row survives. The oracle recomputes the good-row count from the
    // source table and pins the quarantined count to the three injected
    // structurally-broken lines — so a parser that silently drops or
    // mis-admits rows hash-fails. (Measured boundary, worth knowing:
    // quarantine catches STRUCTURAL malformation only; a type-mismatched
    // field, e.g. a string where BIGINT is declared, is nulled and the
    // row admitted as valid.) Scale shape: line-splittable scan, the
    // corrupt column is per-row projection, no extra pass.
    q("s26_jsonl_malformed",
      s"""SELECT lang,
         |       count(*) AS n_good,
         |       CAST(0 AS BIGINT) AS n_bad
         |FROM documents GROUP BY lang
         |UNION ALL
         |SELECT '_corrupt' AS lang, CAST(0 AS BIGINT) AS n_good,
         |       CAST(${s26BadLines.size} AS BIGINT) AS n_bad
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      val out = Caches.scratch("s26", dir)
      Tables.load(s, dir, "documents")
        .write.mode(SaveMode.Overwrite).json(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/part-garbage.json"),
        s26BadLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val read = s.read
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
          "n_chars BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
      read
        .withColumn("lang", when(col("_bad").isNotNull, lit("_corrupt"))
          .otherwise(col("lang")))
        .groupBy("lang")
        .agg(count(when(col("_bad").isNull, 1)).as("n_good"),
             count(col("_bad")).as("n_bad"))
        .orderBy("lang")
    },

    // S19 — SCD2 dimension build (slowly-changing dimension, type 2):
    // two snapshot versions of the orders dimension (v1 reprices ~10% of
    // keys and adds a slice of new keys — s13's deterministic change
    // feed) become validity-interval rows (eff_from, eff_to, is_current):
    // one row per key per VALUE EPOCH, new row only where the value
    // actually changed. The union + per-key lag-filter + lead shape is
    // one shuffle on the key; at 100 TB each snapshot delta is small and
    // the window partitions by key — never global. Money math stays in
    // exact DECIMAL (s13's pattern); the output price is a terminal
    // decimal-to-double cast.
    q("s19_scd2",
      """WITH v0 AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,2)) AS price,
        |         0 AS version
        |  FROM orders),
        |v1 AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 100 < 10
        |              THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05, 2)
        |                        AS DECIMAL(38,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(38,2)) END AS price,
        |         1 AS version
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, CAST(o_totalprice AS DECIMAL(38,2)), 1
        |  FROM orders WHERE o_orderkey % 100 >= 95),
        |u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
        |ch AS (
        |  SELECT *, lag(price) OVER (PARTITION BY o_orderkey ORDER BY version) AS prev
        |  FROM u),
        |scd AS (
        |  SELECT o_orderkey, price, version AS eff_from,
        |         lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS eff_to
        |  FROM ch WHERE prev IS NULL OR price <> prev)
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, eff_from, eff_to,
        |       eff_to IS NULL AS is_current
        |FROM scd ORDER BY o_orderkey, eff_from""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = Tables.load(s, dir, "orders")
      val v0 = o.select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(38,2)").as("price"), lit(0).as("version"))
      val v1 = o.select(col("o_orderkey"),
          when(col("o_orderkey") % 100 < 10,
            // SQL literal 1.05 is DECIMAL(3,2): exact decimal multiply
            // (the DSL's `* 1.05` would promote to an inexact double)
            expr("CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05, 2) AS DECIMAL(38,2))"))
            .otherwise(col("o_totalprice").cast("decimal(38,2)")).as("price"),
          lit(1).as("version"))
        .unionByName(o.filter(col("o_orderkey") % 100 >= 95)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice").cast("decimal(38,2)").as("price"),
            lit(1).as("version")))
      val w = Window.partitionBy("o_orderkey").orderBy("version")
      v0.unionByName(v1)
        .withColumn("prev", lag("price", 1).over(w))
        .filter(col("prev").isNull || col("price") =!= col("prev"))
        .withColumn("eff_to", lead("version", 1).over(w))
        .select(col("o_orderkey"), col("price").cast("double").as("price"),
          col("version").as("eff_from"), col("eff_to"),
          col("eff_to").isNull.as("is_current"))
        .orderBy("o_orderkey", "eff_from")
    },

    // S23 — the 100 TB scale path of s14's profile: identical output
    // shape, but every distinct count is an HLL++ sketch
    // (approx_count_distinct, rsd 2%). The WHOLE profile is now one wide
    // agg with no distinct expansion: map-side partial sketches, a
    // single-row exchange, nothing but fixed-size sketch state on the
    // wire — the plan that survives any scale-up. s14's exact form stays
    // as the small-scale oracle twin; no DuckDB oracle here because HLL
    // estimates are implementation-specific (spec asserts each estimate
    // within 5% of the exact count instead).
    //
    // rsd choice: Spark sizes the sketch at 2^ceil(2·log2(1.106/rsd))
    // registers, and the agg buffer is one UnsafeRow spanning ALL
    // sketches — rsd 1% → 6×2^14 register fields, whose generated
    // update/merge code costs ~4.6 s in compile+buffer handling
    // REGARDLESS of data size (measured; 2% → 1.3 s, 5% → 0.6 s). 2%
    // keeps the estimate 2.5σ inside the 5% spec at a flat cost the
    // first real data step amortizes.
    QueryDef.qRowsOnly("s23_profile_approx") { (s, dir) =>
      val e = Tables.load(s, dir, "events")
      val wide = e.agg(
        count(lit(1)).as("n"),
        count(col("event_id")).as("c_event_id"),
        approx_count_distinct(col("event_id"), 0.02).as("d_event_id"),
        min(col("event_id")).cast("double").as("mn_event_id"),
        max(col("event_id")).cast("double").as("mx_event_id"),
        count(col("ts")).as("c_ts"),
        approx_count_distinct(col("ts"), 0.02).as("d_ts"),
        unix_micros(min(col("ts"))).cast("double").as("mn_ts"),
        unix_micros(max(col("ts"))).cast("double").as("mx_ts"),
        count(col("user_id")).as("c_user_id"),
        approx_count_distinct(col("user_id"), 0.02).as("d_user_id"),
        min(col("user_id")).cast("double").as("mn_user_id"),
        max(col("user_id")).cast("double").as("mx_user_id"),
        count(col("event_type")).as("c_event_type"),
        approx_count_distinct(col("event_type"), 0.02).as("d_event_type"),
        count(col("value")).as("c_value"),
        approx_count_distinct(col("value"), 0.02).as("d_value"),
        min(col("value")).as("mn_value"),
        max(col("value")).as("mx_value"),
        count(col("props")).as("c_props"),
        approx_count_distinct(col("props"), 0.02).as("d_props"))
      wide.selectExpr(
        """stack(6,
          |  'event_id',   n, n - c_event_id,   d_event_id,   mn_event_id, mx_event_id,
          |  'ts',         n, n - c_ts,         d_ts,         mn_ts,       mx_ts,
          |  'user_id',    n, n - c_user_id,    d_user_id,    mn_user_id,  mx_user_id,
          |  'event_type', n, n - c_event_type, d_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'value',      n, n - c_value,      d_value,      mn_value,    mx_value,
          |  'props',      n, n - c_props,      d_props,      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          |) AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)""".stripMargin)
        .orderBy("col_name")
    },
  )
}
