package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Streaming/batch parity: the streaming pipeline over the same event
  * files must produce exactly the batch result once the stream drains
  * (Trigger.AvailableNow + memory sink). */
class StreamOpsSpec extends SparkSpec {

  /** File-stream sources require a DIRECTORY; stage the single events
    * file into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def runStream(df: DataFrame, name: String, mode: String = "complete"): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        s"${System.getProperty("java.io.tmpdir")}/graft_ck_${name}_${System.nanoTime()}")
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def canon(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Write `df` as a single parquet file `name.parquet` inside `dir` with
    * the given mtime — the file source replays files in mtime order, so
    * staged slices become ordered micro-batches (with maxFilesPerTrigger=1).
    * One copy of the write-coalesce-copy-setLastModified dance for every
    * multi-batch / restart test. */
  private def stageSlice(df: DataFrame, dir: java.nio.file.Path,
                         name: String, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()
    val dst = dir.resolve(s"$name.parquet")
    java.nio.file.Files.copy(part, dst)
    dst.toFile.setLastModified(mtime)
  }

  test("streaming tumbling-window totals equal the batch result") {
    val streamed = runStream(
      StreamOps.windowedTotals(StreamOps.eventStream(spark, eventsDir)),
      "win_totals")
    val batch = graft.SparkEntry.queries("w12_tumbling_window")(spark, sfDir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming session windows equal the batch result") {
    val streamed = runStream(
      StreamOps.sessionTotals(StreamOps.eventStream(spark, eventsDir)),
      "sess_totals")
    val batch = graft.SparkEntry.queries("w13_session_window")(spark, sfDir)
    assert(canon(streamed) == canon(batch))
  }

  test("running user totals match a batch groupBy after drain") {
    import org.apache.spark.sql.functions._
    val streamed = runStream(
      StreamOps.runningUserTotals(StreamOps.eventStream(spark, eventsDir)),
      "user_totals")
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    assert(canon(streamed) == canon(batch))
  }

  test("flatMapGroupsWithState gap sessions: streamed closed sessions match batch") {
    import org.apache.spark.sql.functions._
    val streamed = runStream(
      StreamOps.gapSessionStream(StreamOps.eventStream(spark, eventsDir), 30).toDF(),
      "gap_sessions", mode = "append")
    val batch = graft.SparkEntry.queries("w14_gap_sessions")(spark, sfDir)
    val s = canon(streamed)
    val b = canon(batch)
    // Append mode emits sessions closed by a later event or by the
    // event-time timeout; a user's final session can stay open past the
    // end of the bounded stream, so streamed ⊆ batch and the difference
    // is only users' final sessions.
    assert(s.subsetOf(b), s"streamed produced sessions batch did not: ${(s -- b).take(3)}")
    val lastPerUser = canon(batch
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("session_start"))))
      .filter(col("r") === 1).drop("r"))
    assert((b -- s).subsetOf(lastPerUser),
      s"batch-only sessions must be final-open ones: ${((b -- s) -- lastPerUser).take(3)}")
    assert(s.nonEmpty)
  }

  test("watermarked stream dedup restores exactly-once from a duplicated feed") {
    // stage the feed TWICE = at-least-once redelivery across files
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dup")
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("a.parquet"))
    java.nio.file.Files.copy(src, dir.resolve("b.parquet"))
    val streamed = runStream(
      StreamOps.dedupedStream(StreamOps.eventStream(spark, dir.toString)),
      "dedup_stream", mode = "append")
    val batch = Tables.load(spark, sfDir, "events")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(canon(streamed.selectExpr(cols: _*)) == canon(batch.selectExpr(cols: _*)))
    assert(streamed.count() == batch.count())
  }

  test("dedup state survives a checkpoint restart: redelivery dropped, fresh rows pass") {
    import org.apache.spark.sql.functions._
    // Run 1 drains file a; between runs the feed redelivers a (b) and
    // ships one genuinely new file (c: ids offset, ts +2h). The restarted
    // query reuses the SAME checkpoint, so the restored watermark + dedup
    // state must drop every redelivered row while passing the fresh ones.
    // Sink is a file sink (the recovery-capable one — memory sinks
    // refuse checkpoint restore); reads go through its _spark_metadata
    // commit log, so a torn write would not count either.
    val dir = java.nio.file.Files.createTempDirectory("graft_recov_src")
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("a.parquet"))
    val ck = java.nio.file.Files.createTempDirectory("graft_recov_ck").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_recov_sink").toString + "/t"

    def runOnce(): DataFrame = {
      val q = StreamOps.dedupedStream(StreamOps.eventStream(spark, dir.toString))
        .writeStream.format("parquet").outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .option("path", sink)
        .start()
      q.awaitTermination()
      spark.read.parquet(sink)
    }

    val n = Tables.load(spark, sfDir, "events").count()
    assert(runOnce().count() == n)

    java.nio.file.Files.copy(src, dir.resolve("b.parquet"))
    val idOffset = 100000000L
    // Read with the file's native ts type (long nanos in the old generator
    // vintage, TIMESTAMP_NTZ micros in the new) so the shifted copy lands
    // with the SAME physical type — eventStream probes the directory once
    // and applies one schema to every file in it.
    val raw = spark.read.parquet(s"$dir/a.parquet")
    val outDir = java.nio.file.Files.createTempDirectory("graft_recov_new")
    // shift the fresh feed to land entirely AFTER the restored watermark
    // (~ max ts - 1h): every fresh ts = original + span + 2h > max ts
    val b = raw.agg(min("ts"), max("ts")).head()
    val shifted =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
        val span = b.getLong(1) - b.getLong(0)
        raw.withColumn("ts", col("ts") + lit(span + 7200L * 1000 * 1000 * 1000))
      } else {
        val spanUs = java.time.temporal.ChronoUnit.MICROS.between(
          b.getAs[java.time.LocalDateTime](0), b.getAs[java.time.LocalDateTime](1))
        raw.withColumn("ts",
          expr(s"ts + INTERVAL ${spanUs + 7200L * 1000 * 1000} MICROSECOND"))
      }
    shifted.withColumn("event_id", col("event_id") + idOffset)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/c")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$outDir/c"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, dir.resolve("c.parquet"))

    val landed = runOnce()
    assert(landed.count() == 2 * n,
      "restored state must drop the redelivered file and pass the fresh one")
    assert(landed.filter(col("event_id") < idOffset).count() == n,
      "redelivered rows must not land twice")
    assert(landed.filter(col("event_id") >= idOffset).count() == n,
      "every fresh row must land")
  }

  test("stream-stream interval join equals the batch interval join") {
    val events = StreamOps.eventStream(spark, eventsDir)
    val streamed = runStream(
      StreamOps.viewPurchaseJoinStream(events),
      "vp_join", mode = "append")
    val batch = graft.SparkEntry.queries("j14_interval_join")(spark, sfDir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
  }

  test("foreachBatch upsert sink lands a duplicated feed exactly once") {
    // duplicated feed, forced into SEPARATE micro-batches
    // (maxFilesPerTrigger=1) so idempotency crosses batch boundaries
    // through the sink itself, not the state store
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_src")
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("a.parquet"))
    java.nio.file.Files.copy(src, dir.resolve("b.parquet"))
    val stream = StreamOps.eventStream(spark, dir.toString, maxFilesPerTrigger = Some(1))
    val sink = java.nio.file.Files.createTempDirectory("graft_upsert_sink").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_upsert_ck").toString
    val q = StreamOps.upsertSink(stream, sink, ck)
    q.awaitTermination()
    val landed = spark.read.parquet(sink)
    val batch = Tables.load(spark, sfDir, "events")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(landed.count() == batch.count())
    assert(canon(landed.selectExpr(cols: _*)) == canon(batch.selectExpr(cols: _*)))
  }

  test("stream-static decontamination gate equals the batch x16 result") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val evalSh = docs.filter(col("doc_id") % 29 === 0)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("g"))
      .distinct().collect().map(_.getString(0)).toSeq
    // stage the documents file as a stream source directory
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docStream = spark.readStream
      .schema(docs.schema).parquet(dir.toString)
      .filter(col("doc_id") % 29 =!= 0)
    // map-only filter → append mode with zero state
    val streamed = runStream(
      graft.functions.TextFunctions.deconSurvivors(docStream, evalSh, 3),
      "decon_gate", mode = "append")
    val batch = graft.SparkEntry.queries("x16_decon_survivors")(spark, sfDir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming LM gate: per-micro-batch scoring equals batch x25, lands once") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val held = docs.filter(col("doc_id") % 5 === 0)
    // stage the held-out docs as TWO files + one redelivery so the gate
    // crosses micro-batch boundaries (maxFilesPerTrigger=1) and must
    // stay idempotent
    val dir = java.nio.file.Files.createTempDirectory("graft_lmgate_src")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lmgate_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/p")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/p"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    stage(held.filter(col("doc_id") % 2 === 0), "a.parquet")
    stage(held.filter(col("doc_id") % 2 =!= 0), "b.parquet")
    stage(held.filter(col("doc_id") % 2 === 0), "c_redelivery.parquet")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val sink = java.nio.file.Files.createTempDirectory("graft_lmgate_sink").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_lmgate_ck").toString
    val q = StreamOps.lmGateSink(stream, train, BigDecimal("-3.43"), sink, ck)
    q.awaitTermination()
    val landed = spark.read.parquet(sink)
    val batch = graft.SparkEntry.queries("x25_lm_perplexity")(spark, sfDir)
      .filter(col("kept"))
    assert(canon(landed) == canon(batch),
      "streamed gate output must equal the kept rows of batch x25")
    assert(landed.count() == batch.count(), "redelivered docs must land once")
  }

  test("streaming drift monitor: per-batch KL equals the batch computation") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val docs = Tables.load(spark, sfDir, "documents")
    // two micro-batches with deliberately different content mixes
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_src")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_drift_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/p")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/p"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    val feedA = docs.filter(col("lang") === "en")
    val feedB = docs.filter(col("lang") =!= "en")
    stage(feedA, "a.parquet")
    stage(feedB, "b.parquet")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val sink = java.nio.file.Files.createTempDirectory("graft_drift_sink").toString + "/t"
    val ck = java.nio.file.Files.createTempDirectory("graft_drift_ck").toString
    val q = StreamOps.driftMonitorSink(stream, docs, sink, ck)
    q.awaitTermination()
    val landed = spark.read.parquet(sink)
      .select("n_tokens", "kl").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(landed.size == 2, "one monitor row per micro-batch")
    // batch replay: the same KL computed without the streaming machinery
    val (corpus, gs) = corpusCounts(docs)
    def batchKl(feed: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val g = feed.select(lit(0L).as("batch_id"),
          explode(split(col("text"), " ", -1)).as("tok"))
        .groupBy("batch_id", "tok").agg(count(lit(1)).as("cs"))
      val r = klScore(g, "batch_id", corpus, gs).head()
      (r.getLong(1), r.getDouble(2))
    }
    assert(landed == Set(batchKl(feedA), batchKl(feedB)))
    // the monitor's point: both feeds diverge from the blended corpus
    assert(landed.forall(_._2 > 0.0))
  }

  test("streaming ingest gate equals the batch gate (zero state, append mode)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val evalHashes = docs.filter(col("doc_id") % 29 === 0)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("g"))
      .select(xxhash64(col("g")).as("h"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docStream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val streamed = runStream(
      StreamOps.ingestGate(docStream, evalHashes), "ingest_gate", mode = "append")
    val batch = StreamOps.ingestGate(docs, evalHashes)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
    assert(streamed.count() < docs.count(), "gate must drop something")
  }

  test("streaming chunker equals the batch x28 result (stateless, append)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("documents.parquet"))
    val docStream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val streamed = runStream(
      graft.functions.TextFunctions.chunkWindows(docStream),
      "chunk_stream", mode = "append")
    val batch = graft.SparkEntry.queries("x28_chunk_overlap")(spark, sfDir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > docs.count(), "multi-chunk docs must expand")
  }

  test("online funnel DFA across micro-batches equals batch run and w22's aggregate") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    // three disjoint event-time slices written as separate files with
    // increasing mtimes → the file source replays them as three ordered
    // micro-batches, forcing DFA state to carry across batch boundaries
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_ev")
    val slices = Seq(
      ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
      ev.filter(dayofmonth(col("ts")) > 20))
    slices.zipWithIndex.foreach { case (s, i) =>
      stageSlice(s, dir, f"slice_$i%02d", 1000000L * (i + 1))
    }
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val streamed = runStream(StreamOps.funnelMatches(src).toDF(),
      "funnel_matches", mode = "append")
    val batch = StreamOps.funnelMatches(ev).toDF()
    assert(canon(streamed) == canon(batch), "stream/batch DFA divergence")
    // aggregate parity with the registered w22 query
    val agg = canon(batch.groupBy("user_id")
      .agg(max("match_no").as("n_funnels"), min("match_start").as("first_pos")))
    val w22 = canon(graft.SparkEntry.queries("w22_seq_pattern")(spark, sfDir)
      .filter(col("n_funnels") > 0)
      .select("user_id", "n_funnels", "first_pos"))
    assert(agg == w22, "DFA aggregate != w22 regex result")
    assert(streamed.count() > 0)
  }

  test("online resample-lerp across micro-batches equals w21 minus pending boundaries") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_lerp_ev")
    val slices = Seq(
      ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
      ev.filter(dayofmonth(col("ts")) > 20))
    slices.zipWithIndex.foreach { case (s, i) =>
      stageSlice(s, dir, f"slice_$i%02d", 1000000L * (i + 1))
    }
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val streamed = runStream(StreamOps.resampleLerp(src).toDF(),
      "lerp_stream", mode = "append")
    val batch = graft.SparkEntry.queries("w21_resample_lerp")(spark, sfDir)
    // the stream delays a boundary grid point until event time advances
    // past it, so the only batch-not-stream rows are grid points exactly
    // at a user's FINAL observation timestamp (hour-aligned final stamps)
    val pendingBoundaries = batch.join(
      ev.groupBy("user_id").agg(max(unix_micros(col("ts"))).as("last_t")),
      "user_id").filter(col("grid_us") === col("last_t"))
      .select("user_id", "grid_us", "v_interp")
    val s = canon(streamed)
    val b = canon(batch)
    val pend = canon(pendingBoundaries)
    assert(s.subsetOf(b), s"stream emitted rows batch lacks: ${(s -- b).take(3)}")
    assert((b -- s) == pend,
      s"batch-only rows must be exactly the pending boundaries: ${((b -- s) -- pend).take(3)}")
    assert(s.size > 10000, "expected the full interpolated grid (~10.5k at sf0.001)")
  }

  test("online EWMA monitor across micro-batches is bit-identical to w25") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_ev")
    val slices = Seq(
      ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
      ev.filter(dayofmonth(col("ts")) > 20))
    slices.zipWithIndex.foreach { case (s, i) =>
      stageSlice(s, dir, f"slice_$i%02d", 1000000L * (i + 1))
    }
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    // Update mode: the memory sink accumulates one monitor row per
    // (user, trigger); the LIVE row is the one with the highest
    // n_events (monotone) — that final snapshot must equal batch w25
    val all = runStream(StreamOps.ewmaAnomaly(src).toDF(),
      "ewma_stream", mode = "update")
    val finalRows = all
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("n_events"))))
      .filter(col("rn") === 1).drop("rn")
    val batch = graft.SparkEntry.queries("w25_ewma_anomaly")(spark, sfDir)
    assert(canon(finalRows) == canon(batch),
      "drained EWMA stream != batch w25 (bit-exact claim)")
    assert(finalRows.count() > 0)
  }

  test("EWMA monitor state survives a mid-stream crash + checkpoint restart") {
    // round 10 (verdict ask #5): w25's streaming twin is the one stateful
    // fold whose state is four raw scalars — exactly what a checkpoint
    // restore could corrupt SILENTLY (a drifted ewma double still "works").
    // Both halves are staged up front; the query CRASHES mid-stream after
    // micro-batch 0's append is durable but before its offset commit, so
    // the restart must (a) roll the state store back to the version batch
    // 0 started from, (b) redeliver batch 0 idempotently, and (c) fold
    // batch 1 on top of restored state. The final per-user monitor rows
    // must be BIT-identical to batch w25 — any restore drift in the IEEE
    // fold sequence shows up as a hash mismatch, not a crash.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQueryException
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_recov")
    stageSlice(ev.filter(dayofmonth(col("ts")) <= 15), dir, "h1", 1000000L)
    stageSlice(ev.filter(dayofmonth(col("ts")) > 15), dir, "h2", 2000000L)
    val ck = java.nio.file.Files.createTempDirectory("graft_ewma_recov_ck").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_ewma_recov_sink").toString + "/t"

    def runOnce(crashAfterFirstAppend: Boolean): Unit = {
      @volatile var crashed = false
      val q = StreamOps.ewmaAnomaly(
          spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(dir.toString))
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // idempotent per batch id: redelivery overwrites, never doubles
          batch.write.mode("overwrite").parquet(s"$sink/batch=$id")
          if (crashAfterFirstAppend && !crashed) {
            crashed = true
            throw new RuntimeException("injected post-append failure")
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        case e: StreamingQueryException
          if e.getMessage.contains("injected post-append failure") => ()
      }
    }

    runOnce(crashAfterFirstAppend = true)
    val afterCrash = spark.read.parquet(sink)
    assert(afterCrash.count() > 0, "pre-crash append must be durable")
    assert(afterCrash.agg(max("n_events")).head().getLong(0) <
           ev.groupBy("user_id").count().agg(max("count")).head().getLong(0),
      "the crash must land BEFORE the stream drained (else nothing restarts)")

    runOnce(crashAfterFirstAppend = false) // same checkpoint: resume + fold h2
    val finalRows = spark.read.parquet(sink)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("n_events"))))
      .filter(col("rn") === 1).drop("rn", "batch")
    val batch = graft.SparkEntry.queries("w25_ewma_anomaly")(spark, sfDir)
    assert(canon(finalRows) == canon(batch),
      "post-restart EWMA rows != batch w25 (bit-exact restore claim)")
    assert(finalRows.count() > 0)
  }

  test("sketch aggregate state survives a checkpoint restart (HLL + KMV + Bloom)") {
    // the serde path the unit roundtrip tests CAN'T reach: a custom
    // TypedImperativeAggregate's buffer written to the streaming state
    // store by run 1, reloaded from disk by run 2, and MERGED with new
    // partials — a broken serialize/deserialize or a non-commutative
    // merge shows up here as a drifted register file, not a crash
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_recov")
    stageSlice(ev.filter(dayofmonth(col("ts")) <= 15), dir, "h1", 1000000L)
    val ck = java.nio.file.Files.createTempDirectory("graft_sketch_ck").toString
    def runOnce(name: String): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        .agg(expr("hll_sketch(user_id, 6)").as("regs"),
             expr("kmv_sketch(user_id, 64)").as("kept"),
             expr("bloom_agg(user_id, 16384, 3)").as("words"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
    }
    runOnce("sketch_recov_r1")
    stageSlice(ev.filter(dayofmonth(col("ts")) > 15), dir, "h2", 2000000L)
    runOnce("sketch_recov_r2") // same checkpoint: h1 state reloaded, h2 merged
    val row = spark.table("sketch_recov_r2").head()
    val batch = ev.agg(expr("hll_sketch(user_id, 6)").as("regs"),
                       expr("kmv_sketch(user_id, 64)").as("kept"),
                       expr("bloom_agg(user_id, 16384, 3)").as("words")).head()
    Seq(0, 1, 2).foreach { i =>
      assert(row.getSeq[Long](i) == batch.getSeq[Long](i),
        s"sketch column $i drifted across the checkpoint restart")
    }
  }

  test("funnel DFA state survives a checkpoint restart mid-pattern") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_recov")
    // first half of the month drains in run 1; run 2 restarts from the
    // SAME checkpoint and must resume every user's DFA mid-pattern
    stageSlice(ev.filter(dayofmonth(col("ts")) <= 15), dir, "h1", 1000000L)
    val ck = java.nio.file.Files.createTempDirectory("graft_funnel_ck").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_funnel_sink").toString + "/t"
    def runOnce(): Unit = {
      val q = StreamOps.funnelMatches(
          spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(dir.toString))
        .toDF().writeStream.format("parquet").outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck).option("path", sink)
        .start()
      q.awaitTermination()
    }
    runOnce()
    val afterH1 = spark.read.parquet(sink).count()
    stageSlice(ev.filter(dayofmonth(col("ts")) > 15), dir, "h2", 2000000L)
    runOnce()
    val landed = canon(spark.read.parquet(sink))
    val batch = canon(StreamOps.funnelMatches(ev).toDF())
    assert(landed == batch,
      "restart from checkpoint must resume DFA state, not recount")
    assert(afterH1 > 0 && landed.size > afterH1,
      "both runs must contribute matches")
  }

  test("streaming containment gate equals the batch probe join") {
    import graft.functions.TextFunctions.shingles
    val docs = Tables.load(spark, sfDir, "documents")
    val ref = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), shingles(col("text"), 3).as("s"))
    val delta = docs.filter(col("doc_id") % 3 =!= 0).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cgate_src")
    stageSlice(delta.filter(col("doc_id") % 2 === 0), dir, "s1", 1000000L)
    stageSlice(delta.filter(col("doc_id") % 2 === 1), dir, "s2", 2000000L)
    // at-least-once FEED: the even docs re-staged as a LATER micro-batch —
    // the streaming dropDuplicates(doc_id) must keep their pairs single
    stageSlice(delta.filter(col("doc_id") % 2 === 0), dir, "s3_dup", 3000000L)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cgate_${System.nanoTime()}"
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.containmentGate(stream, ref, 1, 4,
      s"$base/out", s"$base/ck")
    q.awaitTermination()
    val landed = canon(spark.read.parquet(s"$base/out"))
    val batch = canon(graft.operators.ContainmentJoin.probeJoin(
      delta.select(col("doc_id"), shingles(col("text"), 3).as("s")),
      ref, "doc_id", "s", 1, 4))
    info(s"flagged pairs: streamed=${landed.size} batch=${batch.size}")
    assert(landed == batch)
    assert(landed.nonEmpty,
      "fixture must flag at least one contained pair or the test is vacuous")
    // canon() is a Set and would hide duplicate ROWS — the raw count is
    // the duplicated-feed assertion
    assert(spark.read.parquet(s"$base/out").count() == landed.size,
      "re-staged docs must not land their pairs twice")
  }

  test("streaming ANN gate equals the batch standing-index search") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_anngate_${System.nanoTime()}"
    graft.operators.IvfAnn.buildIndex(
      e.filter(col("vec_id") >= 8).select("vec_id", "embedding"),
      nCells = 16, path = s"$base/idx")
    val delta = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_anngate_src")
    stageSlice(delta.filter(col("vec_id") % 2 === 0), dir, "s1", 1000000L)
    stageSlice(delta.filter(col("vec_id") % 2 === 1), dir, "s2", 2000000L)
    // at-least-once FEED: even queries re-staged in a later micro-batch
    stageSlice(delta.filter(col("vec_id") % 2 === 0), dir, "s3_dup", 3000000L)
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.annGate(stream, s"$base/idx", k = 5, nProbe = 6,
      s"$base/out", s"$base/ck")
    q.awaitTermination()
    val landed = canon(spark.read.parquet(s"$base/out"))
    val batch = canon(graft.operators.IvfAnn.topKFromIndex(
      spark, s"$base/idx",
      delta,
      k = 5, nProbe = 6))
    info(s"results: streamed=${landed.size} batch=${batch.size}")
    assert(landed == batch)
    assert(landed.size == 40, "8 queries x top-5 expected")
    assert(spark.read.parquet(s"$base/out").count() == 40,
      "re-staged queries must not land their top-k twice (canon is a Set)")
  }

  test("streaming walk gate equals the batch frontier advance") {
    // standing edge list: the g1/g3 supplier↔part graph
    val li = Tables.load(spark, sfDir, "lineitem")
    val e0 = li.select((col("l_suppkey").cast("long") * 2).as("src"),
                       (col("l_partkey").cast("long") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))).cache()
    val seeds = edges.where(col("src") % 2 === 0)
      .select(col("src").as("start")).distinct()
      .orderBy("start").limit(8).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_walkgate_src")
    stageSlice(seeds.filter(col("start") % 4 === 0), dir, "s1", 1000000L)
    stageSlice(seeds.filter(col("start") % 4 =!= 0), dir, "s2", 2000000L)
    // at-least-once FEED: the first seed slice re-staged in a later batch
    stageSlice(seeds.filter(col("start") % 4 === 0), dir, "s3_dup", 3000000L)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_walkgate_${System.nanoTime()}"
    val stream = spark.readStream.schema("start BIGINT")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.walkGate(stream, edges, steps = 4,
      s"$base/out", s"$base/ck")
    q.awaitTermination()
    val landed = canon(spark.read.parquet(s"$base/out"))
    val batch = canon(StreamOps.walkAdvance(seeds, edges, steps = 4))
    info(s"walk rows: streamed=${landed.size} batch=${batch.size}")
    assert(landed == batch)
    assert(landed.size == 8 * 5, "8 seeds x steps 0..4 expected")
    assert(spark.read.parquet(s"$base/out").count() == 8 * 5,
      "re-staged seeds must not land their walks twice (canon is a Set)")
  }

  // --- round-7 regression: schema probe on empty / mixed-vintage dirs ----

  test("stream starts on an EMPTY source directory and drains late files") {
    // "stream first, producers later": eventStream must not throw on an
    // empty (or even absent) directory — it defaults the schema and the
    // next run picks up whatever has arrived since
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_src")
    val stream = StreamOps.eventStream(spark, dir.toString) // must not throw
    val drained = runStream(
      stream.groupBy().count(), "empty_start")
    assert(drained.collect().headOption.forall(_.getLong(0) == 0L))
    // files arrive after the first drain (in the generator's NTZ-micros
    // vintage, like a real producer); a later run sees them
    stageSlice(Tables.load(spark, sfDir, "events")
        .withColumn("ts", col("ts").cast("timestamp_ntz")),
      dir, "late", 1000000L)
    val after = runStream(
      StreamOps.eventStream(spark, dir.toString).groupBy().count(),
      "late_files")
    assert(after.collect().head.getLong(0) ==
      Tables.load(spark, sfDir, "events").count())
  }

  test("the vintage probe reads footers on the driver: no job for a 3-file directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_src")
    Seq("a", "b", "c").foreach(n => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve(s"$n.parquet")))
    var stream: DataFrame = null
    assert(graft.ScopedStageListener.jobs(spark, "probe") {
      stream = StreamOps.eventStream(spark, dir.toString)
    } == 0)
    assert(stream.isStreaming)
  }

  test("mixed ts vintages in one source directory fail fast at the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mixed_src")
    // vintage A: the generator's file as-is (NTZ-micros or nanos-as-long)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("a_vintage.parquet"))
    // vintage B: the SAME data written as UTC-adjusted TIMESTAMP(MICROS) —
    // reads back as session TimestampType, a different probe type
    val saved = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try stageSlice(Tables.load(spark, sfDir, "events"), dir, "b_vintage", 2000000L)
    finally saved match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val e = intercept[IllegalArgumentException] {
      StreamOps.eventStream(spark, dir.toString)
    }
    assert(e.getMessage.contains("mixed events.ts parquet vintages"))
  }

  test("streaming Count-Min sketch is BIT-IDENTICAL to the batch sketch") {
    // the strongest stream≡batch claim in the suite: count_min's merge
    // is element-wise addition (order-independent), so a complete-mode
    // streaming aggregate over N micro-batches ends in EXACTLY the
    // batch buffer — not approximately, not modulo ordering: the same
    // 256 longs. The standing-sketch ingest monitor shape: heavy-user
    // tracking with one 2 KiB state whatever the user cardinality.
    import org.apache.spark.sql.functions.expr
    val batch = Tables.load(spark, sfDir, "events")
      .agg(expr("count_min(user_id, 4, 64)").as("cms"))
      .head().getSeq[Long](0)
    val streamed = runStream(
      StreamOps.eventStream(spark, eventsDir)
        .agg(expr("count_min(user_id, 4, 64)").as("cms")),
      "cms_gate", mode = "complete")
      .head().getSeq[Long](0)
    assert(streamed == batch,
      "streaming CMS buffer differs from the batch buffer")
  }

  test("streaming HLL sketch is BIT-IDENTICAL to the batch sketch") {
    // the max-merge twin of the Count-Min claim, with a stronger
    // delivery property: max is also IDEMPOTENT, so this holds even
    // under at-least-once replay (a re-delivered micro-batch cannot
    // inflate the registers the way re-added CMS counts would) — the
    // standing distinct-visitor monitor shape: one 64-byte state
    // whatever the user cardinality.
    import org.apache.spark.sql.functions.expr
    val batch = Tables.load(spark, sfDir, "events")
      .agg(expr("hll_sketch(user_id, 6)").as("regs"))
      .head().getSeq[Long](0)
    val streamed = runStream(
      StreamOps.eventStream(spark, eventsDir)
        .agg(expr("hll_sketch(user_id, 6)").as("regs")),
      "hll_gate", mode = "complete")
      .head().getSeq[Long](0)
    assert(streamed == batch,
      "streaming HLL register file differs from the batch registers")
  }

  test("streaming AMS signed sketch is BIT-IDENTICAL to the batch sketch") {
    // completes the sketch-family trio (count_min / hll_sketch /
    // ams_sketch): signed-sum merge is order-independent, so the
    // drained complete-mode stream ends in exactly the batch buffer —
    // the standing join-size/self-join-moment monitor shape.
    import org.apache.spark.sql.functions.expr
    val batch = Tables.load(spark, sfDir, "events")
      .agg(expr("ams_sketch(user_id, 5, 64)").as("ams"))
      .head().getSeq[Long](0)
    val streamed = runStream(
      StreamOps.eventStream(spark, eventsDir)
        .agg(expr("ams_sketch(user_id, 5, 64)").as("ams")),
      "ams_gate", mode = "complete")
      .head().getSeq[Long](0)
    assert(streamed == batch,
      "streaming AMS buffer differs from the batch buffer")
  }

  test("streaming Bloom bitmap is BIT-IDENTICAL to the batch bitmap") {
    // the fifth sketch's twin: OR-merge is order-independent and
    // idempotent, so the drained complete-mode stream holds exactly
    // the batch words — the standing membership gate shape (e.g. a
    // live "seen this key?" prune on an ingest stream).
    import org.apache.spark.sql.functions.expr
    val batch = Tables.load(spark, sfDir, "events")
      .agg(expr("bloom_agg(user_id, 16384, 3)").as("words"))
      .head().getSeq[Long](0)
    val streamed = runStream(
      StreamOps.eventStream(spark, eventsDir)
        .agg(expr("bloom_agg(user_id, 16384, 3)").as("words")),
      "bloom_gate", mode = "complete")
      .head().getSeq[Long](0)
    assert(streamed == batch,
      "streaming Bloom words differ from the batch bitmap")
  }

  test("streaming KMV sketch is BIT-IDENTICAL to the batch sketch") {
    // the fourth sketch's twin (round 9): union-then-truncate merge is
    // order-independent AND idempotent (set semantics — HLL's replay
    // tolerance with sample-carrying state), so the drained
    // complete-mode stream holds exactly the batch k-minima — the
    // standing overlap/Jaccard monitor shape: two live KMV states
    // answer "how much do these streams' key sets overlap" at any
    // moment via a34's algebra, no rescan.
    import org.apache.spark.sql.functions.expr
    val batch = Tables.load(spark, sfDir, "events")
      .agg(expr("kmv_sketch(user_id, 64)").as("kept"))
      .head().getSeq[Long](0)
    val streamed = runStream(
      StreamOps.eventStream(spark, eventsDir)
        .agg(expr("kmv_sketch(user_id, 64)").as("kept")),
      "kmv_gate", mode = "complete")
      .head().getSeq[Long](0)
    assert(streamed == batch,
      "streaming KMV kept-minima differ from the batch sketch")
  }
}
