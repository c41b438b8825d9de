package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY.md §2.11 — the streaming surface. The reference replays 10 Hz
  * tracking frames from files; here the same event-time operators run as
  * a Structured Streaming pipeline over a file source, with the batch
  * twins (w12/w13 in WindowQueries) sharing the exact aggregation
  * expressions — the parity the spec asserts.
  *
  * Scale notes: the file source lists+schedules splits incrementally;
  * watermarking bounds state (only windows newer than watermark stay in
  * the state store); session windows merge in the state store per key.
  * On a cluster this runs identically with a checkpointLocation on
  * shared storage — nothing here is local-mode-specific.
  */
object StreamOps {

  /** File-source stream over parquet event files. The testdata's ts is
    * TIMESTAMP(NANOS); reading through the nanosAsLong legacy conf (set
    * by `Graft.configure`) and truncating to micros matches Tables.load /
    * the DuckDB oracle.
    * `maxFilesPerTrigger` throttles micro-batch size (rate-limited
    * replay; also how specs force multi-batch execution). */
  def eventStream(spark: SparkSession, path: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // readStream needs an explicit schema; probe the files' physical ts type
    // once (footer reads on the driver, no job) so both generator vintages —
    // TIMESTAMP(NANOS) read as raw longs, and TIMESTAMP(MICROS) read as NTZ —
    // normalize to the same session-UTC TimestampType the downstream
    // watermarks expect.
    // One probed schema is applied to every file the stream ever picks up,
    // so a source directory must hold a single generator vintage: the probe
    // reads EVERY present file's footer (footer reads are cheap driver-side
    // metadata fetches; an end-sampled probe would still miss a second
    // vintage buried mid-listing — the exact failure this closes) and FAILS
    // FAST on a mix. Residual gap, stated in the require: files arriving
    // AFTER the probe are never re-checked — a producer that switches
    // vintage mid-stream is silently misread; keep one directory per
    // vintage. If the directory is empty or absent at start — the normal
    // "stream first, producers later" file-source pattern — default to the
    // current generator's TIMESTAMP(NANOS) layout instead of failing; the
    // stream then starts and drains files as they arrive.
    val vintages: Seq[org.apache.spark.sql.types.DataType] = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      val files =
        if (fs.exists(hPath))
          fs.listStatus(hPath).filter(s => s.isFile &&
              s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath).sortBy(_.toString).toSeq
        else Seq.empty
      files.flatMap(f =>
        scala.util.Try(Tables.fileSchema(spark, f)("ts").dataType).toOption)
        .distinct
    }
    require(vintages.size <= 1,
      s"mixed events.ts parquet vintages under $path: " +
        s"${vintages.mkString(", ")} — a file-stream source directory must " +
        "hold a single generator vintage (the probed schema is applied to " +
        "every file the stream picks up; files arriving after this probe " +
        "are not re-checked)")
    val tsIsLong =
      vintages.headOption.forall(_ == org.apache.spark.sql.types.LongType)
    val tsDdl = if (tsIsLong) "BIGINT" else "TIMESTAMP_NTZ"
    val reader = spark.readStream
      .schema(s"event_id BIGINT, ts $tsDdl, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(path)
    if (tsIsLong) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** W12's streaming twin: watermarked tumbling-window counts/sums. */
  def windowedTotals(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total"))

  /** W13's streaming twin: watermarked session windows per user. */
  def sessionTotals(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
              col("n_events"), col("session_value"))

  /** Custom keyed state (mapGroupsWithState territory): cumulative
    * per-user event count and value total, emitted per micro-batch.
    * Uses the streaming aggregation state store (Update mode). */
  def runningUserTotals(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** start/last are epoch MICROSECONDS — the data is micro-precision and
    * gap comparisons must not truncate to millis. `totalMicros` is the
    * session value total in exact DECIMAL(_,6) semantics stored as a
    * scaled Long: a sequential Double fold is association-order-dependent
    * and can flip the 2-decimal rounding vs an oracle that sums in
    * arbitrary order (the same hazard w3/j8 fixed with DECIMAL sums). */
  case class SessionState(startUs: Long, lastUs: Long, n: Long, totalMicros: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        total_value: Double)

  private def toUs(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def mkTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** double → exact DECIMAL(_,6) as a scaled Long, matching both engines'
    * CAST(value AS DECIMAL(18,6)) (shortest-repr, HALF_UP at scale 6). */
  private def valueMicros(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def closed(uid: Long, s: SessionState): SessionOut =
    SessionOut(uid, mkTs(s.startUs), mkTs(s.lastUs),
      s.n,
      // exact decimal total → round HALF_UP to 2 → double; identical to
      // round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE in the oracle
      java.math.BigDecimal.valueOf(s.totalMicros, 6)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())

  /** Gap-based sessionization with CUSTOM state via
    * `flatMapGroupsWithState` — the shape session_window cannot express
    * when per-session state is richer than an aggregate (here it also
    * demonstrates the open/closed session lifecycle). A session closes
    * when the next event is > gapMinutes after the last.
    *
    * Streaming mode (`emitOpen = false`): closed sessions emit in
    * Append mode; the open session per user stays in the state store
    * with an event-time timeout at last + gap, so it emits when the
    * watermark passes the gap with no new events. Batch mode
    * (`emitOpen = true`): groups arrive whole, every session emits.
    *
    * Scale shape: one shuffle on user_id into the state store; state
    * per key is O(1) (six scalars), so the store stays bounded by the
    * number of LIVE users inside the gap horizon, not by history. The
    * in-memory per-invocation sort is over one user's events in one
    * micro-batch — repartition-and-sort is the batch fallback if a
    * single key's batch slice outgrows memory. */
  def gapSessions(events: DataFrame, gapMinutes: Int,
                  emitOpen: Boolean): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    val timeoutConf =
      if (emitOpen) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    events.select("user_id", "ts", "value").as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(closed(uid, s))
          } else {
            val evs = it.toVector.sortBy(e => toUs(e.ts))
            var cur = state.getOption
            val out = Vector.newBuilder[SessionOut]
            evs.foreach { e =>
              val us = toUs(e.ts)
              cur match {
                case Some(s) if us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = us, n = s.n + 1,
                                    totalMicros = s.totalMicros + valueMicros(e.value)))
                case Some(s) =>
                  out += closed(uid, s)
                  cur = Some(SessionState(us, us, 1L, valueMicros(e.value)))
                case None =>
                  cur = Some(SessionState(us, us, 1L, valueMicros(e.value)))
              }
            }
            cur match {
              case Some(s) if emitOpen =>
                out += closed(uid, s)
                state.remove()
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(
                  math.max(s.lastUs / 1000L + gapUs / 1000L,
                           state.getCurrentWatermarkMs + 1))
              case None => ()
            }
            out.result().iterator
          }
      }
  }

  /** Streaming entry: watermarked gap sessionization (Append mode). */
  def gapSessionStream(events: DataFrame, gapMinutes: Int): Dataset[SessionOut] =
    gapSessions(events.withWatermark("ts", "0 seconds"), gapMinutes, emitOpen = false)

  /** Exactly-once repair of an at-least-once feed: drop redelivered
    * events by key inside the watermark horizon
    * (`dropDuplicatesWithinWatermark`). Batch twin: `d6_stream_dedup`.
    *
    * Scale shape: one shuffle on event_id into the state store, and —
    * unlike plain `dropDuplicates` on a stream — state is EVICTED once
    * the watermark passes an event's time, so the store is bounded by
    * the dedup horizon (events per hour), not by stream history. This
    * is the streaming half of the d1 exact-dedup story: d1 dedups a
    * corpus at rest, this dedups the feed that builds it.
    *
    * `dropDuplicatesWithinWatermark` exists only for streams, so the
    * batch twin (`d6_stream_dedup`) takes the plain `dropDuplicates`
    * branch — same keyed keep-one semantics, and StreamOpsSpec asserts
    * the two branches produce the identical relation over the same
    * (duplicated) feed. */
  def dedupedStream(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream interval join: each view joined to the same user's
    * purchases that land within [view_ts, view_ts + 2 h) — the
    * attribution join a live training-data feed runs. Batch twin:
    * `j14_interval_join` (identical select on the batch frames).
    *
    * Both sides are watermarked and the join condition carries the
    * time-range bound, so the state store retains only rows inside the
    * horizon (Spark derives each side's eviction point from watermark +
    * interval); without the range bound stream-stream join state grows
    * forever. One shuffle per side on user_id. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") < col("view_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
              col("view_ts"), col("purchase_ts"),
              round(col("purchase_value"), 2).as("purchase_value"))
  }

  /** Streaming entry for the interval join: split one event stream by
    * type and join the two sides. */
  def viewPurchaseJoinStream(events: DataFrame): DataFrame =
    viewPurchaseJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "purchase"))

  /** Idempotent insert-if-absent sink via `foreachBatch` — the
    * production pattern for landing an at-least-once stream in a plain
    * parquet table with exactly-once EFFECT: each micro-batch is
    * deduped against the keys already in the sink (left_anti) and only
    * fresh rows are appended. Unlike `dedupedStream`, idempotency here
    * survives a checkpoint wipe or a replay from offset 0, because the
    * sink itself is the state.
    *
    * The fresh set is materialized (pinned + count) BEFORE the append
    * so the anti-join's scan of `path` completes before new files land
    * in it. The anti-join is null-safe (`<=>`): a redelivered NULL-key
    * row must be recognized as already landed, or replays would append
    * it forever. Only the sink-not-yet-created read failure is treated
    * as an empty sink — any other read error must ABORT the batch (a
    * transient FS error read as "empty" would re-append every
    * previously-landed key). Scale shape: the sink-side read prunes to
    * the key column; with the sink bucketed on the key the anti-join
    * is exchange-free on the sink side. */
  def upsertSink(events: DataFrame, path: String,
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, path)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The per-micro-batch body of [[upsertSink]], exposed so failure-
    * injection tests can wrap it (fail AFTER the append = effects landed
    * but the offset commit lost — the redelivery case the anti-join must
    * absorb). Exactly-once EFFECT holds as long as this body is
    * idempotent per input batch, which it is: re-running it with the same
    * rows finds every key already in the sink and appends nothing. */
  def upsertBatch(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val existingKeys =
      (try Some(Tables.parquet(spark, path))
       catch {
         // first batch: sink directory does not exist yet
         case e: org.apache.spark.sql.AnalysisException
           if e.getErrorClass == "PATH_NOT_FOUND" => None
       })
        .map(_.select(col("event_id").as("landed_id")))
        .getOrElse(batch.select(col("event_id").as("landed_id")).limit(0))
    val fresh = graft.Caches.pin(batch.dropDuplicates("event_id")
      .join(existingKeys, col("event_id") <=> col("landed_id"), "left_anti"))
    try {
      fresh.count()
      fresh.write.mode("append").parquet(path)
    } finally graft.Caches.release(fresh)
  }

  /** x25's streaming twin: model-gated ingest — each arriving
    * micro-batch is scored against a STANDING bigram LM (trained once
    * on the static corpus, vocab-sized count frames pinned until
    * `Caches.reset` of their session) and only
    * kept docs land. Per-doc scoring is batch-local (a doc's bigrams
    * live in its own row), so per-micro-batch `foreachBatch` scoring
    * equals the batch x25 result exactly, and the read-only LM means
    * zero cross-batch state in the scoring itself. Two distinct
    * duplicate sources get two distinct mechanisms, neither of which
    * re-reads the sink (the earlier anti-join against the landed sink's
    * doc_ids was O(sink) work per batch over the stream's lifetime):
    *
    *  - an at-least-once FEED (the same doc re-staged in a later file)
    *    is absorbed by streaming `dropDuplicates` on doc_id — keyed
    *    state-store lookups, O(batch) per batch. The horizon here is
    *    unbounded because documents carry no event time; a production
    *    feed with an ingest timestamp should use
    *    `dropDuplicatesWithinWatermark` to bound the dedup state.
    *  - engine REDELIVERY of a crashed micro-batch (same batchId, same
    *    offsets) converges via [[IdempotentLanding]]: scoring is
    *    deterministic per batch, so the batch re-lands onto its own
    *    batchId-keyed file set.
    *
    * Scale shape: count frames broadcast; the score pass is map-heavy
    * over the micro-batch; the sink is never re-read. */
  def lmGateSink(docs: DataFrame, train: DataFrame, threshold: BigDecimal,
                 path: String,
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions._
    val (bi, uni, vocab) = lmCounts(train)
    Seq(bi, uni, vocab).foreach(graft.Caches.pin(_))
    val lineage = new IdempotentLanding.Lineage(checkpoint)
    docs.dropDuplicates("doc_id").writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lmGateBatch(batch, batchId, bi, uni, vocab, threshold, path,
          lineage.of(batch.sparkSession))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The per-micro-batch body of [[lmGateSink]], exposed (like
    * [[upsertBatch]]) so failure-injection tests can wrap it: scoring is
    * read-only and deterministic per input batch, so a redelivered
    * batch re-lands onto its own batchId-keyed file set and the sink
    * converges to exactly-once content. */
  def lmGateBatch(batch: DataFrame, batchId: Long, bi: DataFrame,
                  uni: DataFrame, vocab: DataFrame, threshold: BigDecimal,
                  path: String, lineage: String = ""): Unit = {
    import graft.functions.TextFunctions._
    IdempotentLanding.land(
      lmScore(batch, bi, uni, vocab, threshold).filter(col("kept")),
      path, batchId, lineage)
  }

  /** x41's streaming twin: the repetition quality gate applied on
    * ingest. The metrics are DOC-LOCAL (duplicate-bigram fraction +
    * top-token share never look across documents), so the micro-batch
    * body IS the batch operator over the batch's rows — zero
    * cross-batch state, trivially stream≡batch. Exactly-once under
    * crash + redelivery comes from [[IdempotentLanding]]: the gate is
    * deterministic per batch, so landing keyed by batchId replaces the
    * earlier read-the-whole-sink anti-join — per-batch work is O(batch)
    * no matter how large the sink has grown. Only [[upsertBatch]] keeps
    * the anti-join, because there the key namespace spans batches by
    * CONTRACT (insert-if-absent: the sink itself is the dedup state).
    * Kept = NOT flagged: repetitive machine/boilerplate text never
    * reaches the sink. */
  def repetitionGateBatch(batch: DataFrame, batchId: Long, path: String,
                          lineage: String = ""): Unit =
    IdempotentLanding.land(
      graft.functions.TextFunctions.repetitionMetrics(batch)
        .filter(!col("flagged")),
      path, batchId, lineage)

  /** d10's streaming twin (the d8 pattern): containment / near-dup
    * GATING on ingest. Each arriving micro-batch of documents is
    * shingled and PROBED against a standing shingle index
    * (`ContainmentJoin.probeJoin`: prefix filter in the index corpus's
    * frozen rarest-first order, JOSIE length/position prunes,
    * integer-exact verify) and one (a_id, b_id, containment) row lands
    * per flagged pair — the "is this arriving doc mostly contained in
    * something we already hold" alarm that catches quotes/wrapper dups
    * symmetric Jaccard misses. The index is read-only ⇒ zero cross-batch
    * state; the probe is deterministic per batch, so exactly-once under
    * crash + redelivery is [[IdempotentLanding]] keyed by batchId (the
    * earlier anti-join re-read every landed a_id per batch — O(sink)
    * forever). An at-least-once FEED (the same doc re-staged in a later
    * micro-batch — a different duplicate source than engine redelivery)
    * is absorbed by streaming `dropDuplicates` on doc_id, exactly like
    * [[lmGateSink]]: keyed state-store lookups, O(batch) per batch,
    * horizon unbounded because documents carry no event time (a feed
    * with an ingest timestamp should use
    * `dropDuplicatesWithinWatermark`). Scale shape: cost ∝ |delta| ×
    * bucket hit rate — the standing corpus is never re-self-joined,
    * exactly like d8's incremental LSH, and the sink is never re-read. */
  def containmentGate(docs: DataFrame, refShingled: DataFrame,
                      tNum: Int, tDen: Int, path: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val lineage = new IdempotentLanding.Lineage(checkpoint)
    docs.dropDuplicates("doc_id").writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        containmentGateBatch(batch, batchId, refShingled, tNum, tDen, path,
          lineage.of(batch.sparkSession))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The per-micro-batch body of [[containmentGate]], exposed for
    * failure-injection tests (deterministic per input batch, so a
    * redelivered batch re-lands its own batchId-keyed file set and the
    * sink converges to exactly-once content). */
  def containmentGateBatch(batch: DataFrame, batchId: Long,
                           refShingled: DataFrame,
                           tNum: Int, tDen: Int, path: String,
                           lineage: String = ""): Unit = {
    import graft.functions.TextFunctions.shingles
    val probe = batch.select(col("doc_id"), shingles(col("text"), 3).as("s"))
    IdempotentLanding.land(
      graft.operators.ContainmentJoin
        .probeJoin(probe, refShingled, "doc_id", "s", tNum, tDen),
      path, batchId, lineage)
  }

  /** Online retrieval: arriving query vectors probe the STANDING IVF
    * index (`IvfAnn.buildIndex` — v8's persisted layout) per
    * micro-batch, landing one (query_id, neighbor_id, cos, rnk) row per
    * result. The index is read-only ⇒ zero cross-batch state; the probe
    * prunes to nProbe partition directories exactly like the batch
    * `topKFromIndex` (same code path) and is deterministic per batch,
    * so exactly-once under crash + redelivery is [[IdempotentLanding]]
    * keyed by batchId; a re-staged query (at-least-once FEED) is
    * absorbed by streaming `dropDuplicates` on vec_id (the lmGateSink
    * pattern — keyed state, O(batch) per batch, unbounded horizon
    * because query vectors carry no event time). Scale shape: cost ∝
    * |delta queries| × (nProbe/nCells corpus fraction); the corpus
    * never rescans outside the probed cells, never re-fits, and the
    * sink is never re-read. */
  def annGate(queryVecs: DataFrame, indexPath: String, k: Int, nProbe: Int,
              path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val lineage = new IdempotentLanding.Lineage(checkpoint)
    queryVecs.dropDuplicates("vec_id").writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annGateBatch(batch, batchId, indexPath, k, nProbe, path,
          lineage.of(batch.sparkSession))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Per-micro-batch body of [[annGate]], exposed for failure-injection
    * tests (deterministic per input batch: redelivery converges to
    * exactly-once sink content). */
  def annGateBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   k: Int, nProbe: Int, path: String,
                   lineage: String = ""): Unit = {
    IdempotentLanding.land(
      graft.operators.IvfAnn.topKFromIndex(batch.sparkSession, indexPath, batch, k, nProbe),
      path, batchId, lineage)
  }

  /** The deterministic frontier-advance loop shared by g3's batch walk
    * and the streaming walk gate: from each seed, `steps` hops where the
    * next node minimizes md5(start|step|node|dst) over the neighbors —
    * node2vec/DeepWalk's sampling primitive with a portable hash for the
    * RNG. Output (start, step, node), one row per (seed, step 0..steps).
    * Scale shape: each step is ONE equi-join of the O(#seeds) frontier
    * against the standing edge list + a map-side min_by; the edge table
    * never re-shuffles per step. */
  def walkAdvance(seeds: DataFrame, edges: DataFrame, steps: Int): DataFrame = {
    var frontier = seeds
      .select(col("start"), lit(0).as("step"), col("start").as("node"))
    var paths = frontier
    for (i <- 1 to steps) {
      frontier = frontier
        .join(edges, frontier("node") === edges("src"))
        .withColumn("h",
          md5(concat_ws("|", col("start"), lit(i), col("node"), col("dst"))))
        .groupBy("start")
        .agg(expr("min_by(dst, h)").as("node"))
        .select(col("start"), lit(i).as("step"), col("node"))
      paths = paths.unionByName(frontier)
    }
    paths
  }

  /** g3's streaming twin (round 8 — the walk/frontier shape finally has
    * a stream analog like dedup/ANN/containment do): arriving walk-seed
    * rows advance `steps` deterministic hops against the STANDING edge
    * list per micro-batch, landing the full (start, step, node) paths.
    * The edge list is read-only reference data (the g1/g3 parquet
    * checkpoint at scale) ⇒ zero cross-batch state; the md5-hash walk is
    * deterministic per batch, so exactly-once under crash + redelivery
    * is [[IdempotentLanding]] keyed by batchId; a re-staged seed
    * (at-least-once FEED) is absorbed by streaming `dropDuplicates` on
    * start (the lmGateSink pattern — without it, a redelivered-by-feed
    * seed would land its whole walk twice, since the md5 walk emits
    * identical rows). Cost ∝ |delta seeds| × steps × mean degree, and
    * the sink is never re-read. */
  def walkGate(seeds: DataFrame, edges: DataFrame, steps: Int,
               path: String,
               checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val lineage = new IdempotentLanding.Lineage(checkpoint)
    seeds.dropDuplicates("start").writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        walkGateBatch(batch, batchId, edges, steps, path,
          lineage.of(batch.sparkSession))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Per-micro-batch body of [[walkGate]], exposed for failure-injection
    * tests (deterministic per input batch: redelivery converges to
    * exactly-once sink content). */
  def walkGateBatch(batch: DataFrame, batchId: Long, edges: DataFrame,
                    steps: Int, path: String, lineage: String = ""): Unit =
    IdempotentLanding.land(
      walkAdvance(batch.select("start"), edges, steps), path, batchId, lineage)

  /** x27's streaming twin: per-micro-batch distribution drift monitor.
    * Each arriving batch's smoothed token distribution is KL-compared
    * to the STANDING corpus distribution (count frame + scalars built
    * once, pinned until `Caches.reset`) and one (batch_id, n_tokens, kl) row lands per
    * micro-batch — the ingest alarm that fires when a feed's content
    * mix shifts away from the corpus it is joining. Read-only reference
    * frames ⇒ zero cross-batch state; the epoch id keys the output row
    * so a batch retry overwrites its own row's key space rather than
    * alarming twice (append of an identical (batch_id, …) row is
    * idempotent for the reader who keys by batch_id). */
  def driftMonitorSink(docs: DataFrame, refCorpus: DataFrame, path: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions._
    val (corpus, gs) = corpusCounts(refCorpus)
    Seq(corpus, gs).foreach(graft.Caches.pin(_))
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val grouped = batch
          .select(lit(batchId).as("batch_id"),
                  explode(split(col("text"), " ", -1)).as("tok"))
          .groupBy("batch_id", "tok").agg(count(lit(1)).as("cs"))
        klScore(grouped, "batch_id", corpus, gs)
          .write.mode("append").parquet(path)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Corpus ingest gate: the x18 pipeline's MAP-ONLY stages (language
    * gate, integer-arithmetic quality gates, hashed-set
    * decontamination) composed as one stateless projection+filter — the
    * SAME code runs over a batch frame and a readStream micro-batch
    * (append mode, zero state, zero shuffle), so documents are cleaned
    * on arrival and only survivors ever land in the lake. Dedup stages
    * are deliberately absent: exact/near dedup need corpus-wide state
    * and run as the batch/incremental passes (d1/d8).
    * `evalHashes` = xxhash64 of the benchmark's 3-gram shingles. */
  def ingestGate(docs: DataFrame, evalHashes: Seq[Long]): DataFrame = {
    import graft.functions.TextFunctions._
    val ts = tokens(col("text"))
    val bigrams = transform(sequence(lit(1), greatest(size(ts) - 1, lit(1))),
      i => array_join(slice(ts, i, lit(2)), " "))
    val stops = langProfiles.head._2
    val overlap = overlapCounterHashed(docs.sparkSession, evalHashes)
    docs
      .withColumn("n_tokens", size(ts).cast("long"))
      .withColumn("n_stop",
        size(filter(ts, t => t.isin(stops.map(lit(_)): _*))).cast("long"))
      .withColumn("sum_len", aggregate(ts, lit(0L), (acc, t) => acc + length(t)))
      .withColumn("bg", bigrams)
      .filter(langId(col("text")) === "en")
      .filter(col("n_tokens") >= 10 &&
        col("n_stop") * 50 >= col("n_tokens") &&
        col("sum_len") >= col("n_tokens") * 3 &&
        col("sum_len") <= col("n_tokens") * 12 &&
        (size(col("bg")).cast("long") - size(array_distinct(col("bg"))).cast("long")) * 10
          <= size(col("bg")).cast("long") * 3)
      .filter(overlap(transform(shingles(col("text"), 3), xxhash64(_))) < 3)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  case class PatEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                      ch: String)
  /** DFA state for the 'vc*p' pattern: dfa 0 = no live candidate, 1 = saw a
    * 'v' and only 'c's since; cand = 1-based position of that 'v'; pos =
    * events consumed so far for this user; n = matches emitted. */
  case class PatState(dfa: Int, cand: Long, pos: Long, n: Long)
  case class FunnelMatch(user_id: Long, match_start: Long, match_end: Long,
                         match_no: Long)

  case class ObsEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                      value: Double)
  /** lastT/lastV: the latest observation (ties on t resolved by the later
    * event_id, matching w21's (t, is_grid, event_id) sort); nextGrid: the
    * next hour-aligned grid timestamp not yet emitted. */
  case class LerpState(lastT: Long, lastV: Double, nextGrid: Long)
  case class GridPoint(user_id: Long, grid_us: Long, v_interp: Double)

  /** Online time-series resampling + linear interpolation — the streaming
    * twin of `w21_resample_lerp`. Batch unions the grid with all history
    * and sorts once; the stream needs only the LAST observation per user
    * (three scalars), emitting each hourly grid point the moment its
    * bracketing observation arrives — state is O(1) per user regardless
    * of stream length, the same bounded-state story as [[funnelMatches]].
    *
    * Exact-parity semantics with the batch query, including ties: a grid
    * point landing exactly on an observation takes that timestamp's FINAL
    * value in (t, event_id) order, so boundary emission is DELAYED until
    * event time advances past it. Consequently the only rows batch has
    * that a drained stream lacks are per-user grid points exactly at the
    * final observation's timestamp (hour-aligned final stamps — rare),
    * which is precisely what the parity spec subtracts. Leading grid
    * points (before the first observation) emit with its value on first
    * sight, interior points lerp with the identical IEEE expression tree
    * the batch query uses. */
  def resampleLerp(events: DataFrame): Dataset[GridPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[ObsEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LerpState, GridPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[ObsEvent], state: GroupState[LerpState]) =>
          var st = state.getOption
          val out = Vector.newBuilder[GridPoint]
          it.toVector.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
            val t = toUs(e.ts)
            st match {
              case None =>
                var g = Math.floorDiv(t, hourUs) * hourUs
                while (g < t) { // before the first obs: next_v semantics
                  out += GridPoint(uid, g, e.value); g += hourUs
                }
                st = Some(LerpState(t, e.value, g))
              case Some(s) if t == s.lastT => // later event_id at same stamp wins
                st = Some(s.copy(lastV = e.value))
              case Some(s) =>
                var g = s.nextGrid
                if (g == s.lastT) { // delayed boundary: exact obs value
                  out += GridPoint(uid, g, s.lastV); g += hourUs
                }
                while (g < t) { // interior: w21's exact lerp tree
                  val f = (g - s.lastT).toDouble / (t - s.lastT).toDouble
                  out += GridPoint(uid, g, s.lastV + (e.value - s.lastV) * f)
                  g += hourUs
                }
                st = Some(LerpState(t, e.value, g))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Online sequence-pattern matching — the streaming twin of
    * `w22_seq_pattern`. The batch query materializes each user's whole
    * event-initial string and runs a regex; a stream can't hold history,
    * but the pattern ('vc*p': view, any clicks, purchase) is a 2-state
    * DFA, so per-user state is FOUR scalars regardless of stream length —
    * the state store is bounded by live users, not history. Each completed
    * funnel emits one Append-mode row as it happens (the batch query only
    * reports count + first position after the fact).
    *
    * Leftmost-match parity with the regex: a fresh 'v' always restarts the
    * candidate (for "v v p" the regex's leftmost successful start is the
    * SECOND v — attempts from the first fail on the intervening non-c), so
    * `cand` tracks the latest 'v'; 'c' keeps a live candidate alive; 'p'
    * completes it; anything else kills it. StreamOpsSpec proves streamed
    * matches across time-split micro-batches equal the batch run and
    * aggregate exactly to w22's (n_funnels, first_pos).
    *
    * Same micro-batch ordering contract as [[gapSessions]]: events are
    * sorted within each batch slice; cross-batch order comes from
    * event-time-ordered file arrival (watermark-bounded disorder would be
    * handled by buffering inside the watermark — not needed for the
    * file-replay sources this engine drives). */
  def funnelMatches(events: DataFrame): Dataset[FunnelMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ch"))
      .as[PatEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, FunnelMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[PatEvent], state: GroupState[PatState]) =>
          var st = state.getOption.getOrElse(PatState(0, 0L, 0L, 0L))
          val out = Vector.newBuilder[FunnelMatch]
          it.toVector.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
            val pos = st.pos + 1
            e.ch match {
              case "v" => st = PatState(1, pos, pos, st.n)
              case "c" => st = st.copy(pos = pos)
              case "p" if st.dfa == 1 =>
                val n = st.n + 1
                out += FunnelMatch(uid, st.cand, pos, n)
                st = PatState(0, 0L, pos, n)
              case _ => st = PatState(0, 0L, pos, st.n)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                       value: Double)
  /** O(1)-per-user EWMA monitor state: the running average, the anomaly
    * tally, the max deviation, and the event count. */
  case class EwmaState(ewma: Double, anoms: Long, maxdev: Double, n: Long)
  case class EwmaRow(user_id: Long, n_events: Long, ewma_final: Double,
                     anomalies: Long, max_dev: Double)

  /** Online EWMA + anomaly monitor — the streaming twin of
    * `w25_ewma_anomaly`, and the scale path its scaladoc names: the
    * batch query collects each user's events into one sorted array;
    * the stream folds them through FOUR SCALARS of state per user
    * (mapGroupsWithState, Update mode), emitting the user's current
    * monitor row each trigger. The fold is the identical IEEE
    * expression sequence (α = 1/4: exact scaling + one
    * correctly-rounded multiply-add per step), so after draining a
    * time-ordered file replay the final per-user rows are
    * BIT-IDENTICAL to the batch query's — asserted in StreamOpsSpec.
    * Ordering contract (same as funnelMatches/resampleLerp): events
    * for one user must not arrive in an earlier micro-batch than an
    * older event — true for time-partitioned file replay and any
    * log-structured source. */
  def ewmaAnomaly(events: DataFrame): Dataset[EwmaRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        (col("value") % 100).cast("double").as("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0.0, 0L, 0.0, 0L))
          it.toVector.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
            st = if (st.n == 0L) EwmaState(e.value, 0L, 0.0, 1L)
            else {
              val dev = math.abs(e.value - st.ewma)
              EwmaState(0.25 * e.value + 0.75 * st.ewma,
                st.anoms + (if (dev > 30.0) 1L else 0L),
                math.max(st.maxdev, dev), st.n + 1L)
            }
          }
          state.update(st)
          EwmaRow(uid, st.n, st.ewma, st.anoms, st.maxdev)
      }
  }
}
