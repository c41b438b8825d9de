package graft.streaming

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Exactly-once landing of a DETERMINISTIC micro-batch into a flat
  * parquet sink directory, with per-batch work independent of sink size.
  *
  * The gates' original idempotency story re-read the ENTIRE landed sink
  * and left-anti-joined each micro-batch against it — correct, but
  * O(sink) work per batch, growing without bound over a stream's
  * lifetime. This helper replaces the read-the-world check with the
  * property foreachBatch actually guarantees: a redelivered batch
  * arrives with the SAME batchId over the SAME source offsets, so for a
  * deterministic batch body the output is bit-identical and the landing
  * only has to be idempotent PER BATCH ID. Protocol:
  *
  *  1. `_graft_commits/<batchId>` marker exists → the batch fully
  *     landed before a prior crash: return. O(1). When both the marker
  *     and the caller carry a lineage stamp, they must agree — a
  *     mismatch means a DIFFERENT stream's batch is being skipped, and
  *     the landing throws instead (see the lineage section below).
  *  2. Stage the batch's output under `_graft_staging/<batchId>` with
  *     overwrite — idempotent, a half-written staging dir from a prior
  *     delivery is replaced wholesale.
  *  3. Delete any `graft-b<batchId>-*.parquet` already in the sink (a
  *     prior delivery that crashed mid-publish), then rename the staged
  *     files to those DETERMINISTIC names. Re-running the publish
  *     converges to the same file set even if the task split changed
  *     between deliveries (the delete sweep removes orphans before the
  *     rename). Every rename/delete RESULT is checked: a silent `false`
  *     from the FS must abort the batch, or the marker written in step 4
  *     would certify files that never published and redelivery would
  *     then skip the batch forever.
  *  4. Publish the commit marker last, and ATOMICALLY: the marker body
  *     (lineage stamp + manifest — the published file names, one per
  *     line) is written to `_graft_commits/.<batchId>.tmp` and RENAMED
  *     into place. `fs.create` makes a path visible before its content
  *     is durable, so writing the marker in place would open a window
  *     where a crash leaves an EMPTY marker that step 1 then trusts —
  *     the batch would skip forever with its files uncertified and its
  *     manifest lines lost. The rename (atomic under the same contract
  *     step 3 already assumes) makes marker-visible ⇔ marker-complete.
  *     Non-numeric names in `_graft_commits` (the `.tmp` staging) are
  *     ignored by every reader, so an orphaned temp from a crash is
  *     inert and overwritten by the redelivery.
  *
  * Both bookkeeping dirs live INSIDE the sink path and start with `_`,
  * which Spark/Hadoop data discovery ignores — `Tables.parquet(spark, path)`
  * sees exactly the published data files. A crash at ANY point leaves a
  * state the redelivery repairs: before staging (nothing happened),
  * mid-staging (overwritten), mid-publish (swept and re-published),
  * before the marker rename (re-published to identical content, the
  * orphan temp overwritten), after the rename (skipped).
  *
  * == Lineage ==
  * batchId is only a key WITHIN one checkpoint lineage: a
  * fresh-checkpoint stream pointed at an old sink restarts batchIds at
  * 0 while old markers persist, so the skip in step 1 would silently
  * drop the new stream's batches. Two defenses, layered:
  *
  *  - every marker is STAMPED with the caller's `lineageId` (first
  *    line, `#lineage=<id>`), and whenever a marker is found — any
  *    batch, not just 0 — the stamp must equal the caller's: a mismatch
  *    throws. [[lineageIdOf]] derives the id from the stream's own
  *    checkpoint metadata (the StreamingQuery UUID, minted once per
  *    fresh checkpoint and stable across restarts of the same one), so
  *    even wiping and reusing the same checkpoint DIRECTORY yields a
  *    fresh id and is caught. This closes the round-12 residual: an old
  *    sink whose ONLY marker is batch 0 now throws instead of skipping.
  *  - the stamp-free fallback (legacy markers, or callers that pass no
  *    lineage): batch 0 arriving over markers >0 throws (batch 0 of a
  *    healthy lineage can never follow a committed batch >0). This is
  *    the round-11 check, kept for markers written before stamping.
  *
  * == Filesystem contract (HDFS semantics assumed) ==
  * Steps 3 and 4 publish by `rename`, which this protocol assumes is a
  * cheap ATOMIC METADATA operation — true on HDFS, local filesystems,
  * and rename-capable stores (ABFS, GCS to a point). It is FALSE on
  * S3-style object stores, where "rename" is a copy + delete: non-atomic
  * (a crash mid-rename can leave both or neither name) and O(data), so
  * the staged bytes move twice. On such a store, run this protocol only
  * through an atomic-rename layer (e.g. an HDFS/consistent-metadata
  * tier over the bucket), or switch the READERS to the manifest: every
  * commit marker lists its published files, so a manifest-trusting
  * reader (union of all markers' file lists — [[readCommitted]] is that
  * reader) never observes a half-published batch regardless of rename
  * atomicity — the standard object-store commit design (Iceberg/Delta's
  * metadata-log pattern).
  *
  * == Reader visibility ==
  * Exactly-once here is a CONVERGENCE guarantee for the sink's final
  * content, not snapshot isolation for concurrent readers: a
  * REDELIVERED batch's sweep/rename window (step 3) briefly removes
  * files a prior delivery had already published, so a reader listing
  * the directory mid-repair can see previously-visible rows missing
  * until the re-publish lands. The AvailableNow drain-then-read pattern
  * every gate here uses (single writer, readers start after the stream
  * terminates) is safe; continuous concurrent readers should read
  * through [[readCommitted]] (markers are never removed, so manifest
  * readers only ever see fully-committed batches).
  *
  * Contract: the caller's batch body must be deterministic given the
  * batch rows (every gate here is — scoring is read-only), and one sink
  * path must be fed by ONE stream with ONE checkpoint lineage (batchId
  * is the key namespace — the lineage stamp above enforces it).
  */
object IdempotentLanding {

  private val LineagePrefix = "#lineage="

  /** The lineage id for a stream's checkpoint: the StreamingQuery UUID
    * from `<checkpoint>/metadata` — minted once when the checkpoint is
    * created, stable across restarts of the SAME checkpoint, fresh for
    * a wiped-and-reused directory. Falls back to the checkpoint path
    * string when the metadata file is absent (e.g. unit tests landing
    * without a stream), which still distinguishes distinct directories. */
  def lineageIdOf(spark: org.apache.spark.sql.SparkSession,
                  checkpoint: String): String = {
    val meta = new Path(checkpoint, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fromMeta =
      if (!fs.exists(meta)) None
      else {
        val in = fs.open(meta)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(body).map(_.group(1))
      }
    fromMeta.getOrElse(checkpoint)
  }

  /** Memoized [[lineageIdOf]] for one checkpoint: the id is minted once
    * per checkpoint and stable for the stream's life, so a gate reads
    * the metadata file once per stream instead of once per micro-batch
    * (it must still resolve lazily, INSIDE foreachBatch — the metadata
    * file does not exist until the stream has started). */
  final class Lineage(checkpoint: String) {
    @volatile private var cached: String = null
    def of(spark: org.apache.spark.sql.SparkSession): String = {
      if (cached == null) cached = lineageIdOf(spark, checkpoint)
      cached
    }
  }

  def land(kept: DataFrame, path: String, batchId: Long,
           lineageId: String = ""): Unit = {
    val spark = kept.sparkSession
    val sink = new Path(path)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new Path(path, "_graft_commits")
    val marker = new Path(commitsDir, batchId.toString)
    if (fs.exists(marker)) {
      // redelivery of a fully-landed batch — but only of OUR batch: a
      // stamped marker from another lineage means a fresh-checkpoint
      // stream is aiming at an old sink and would silently skip forever
      val stamp = markerLineage(fs, marker)
      if (lineageId.nonEmpty && stamp.exists(_ != lineageId))
        throw new IllegalStateException(
          s"sink $path batch $batchId carries a commit marker from lineage " +
          s"${stamp.get}, but this stream's lineage is $lineageId — a " +
          "fresh-checkpoint stream was pointed at an old sink; its batches " +
          "would silently skip. Use a fresh sink directory (or restore the " +
          "original checkpoint).")
      // batch 0 with nothing to compare stamps against (either side
      // unstamped — a legacy marker, or a lineage-less caller) falls
      // back to the round-11 conservative check: batch 0 can never
      // follow committed batches > 0, whoever wrote them
      if (batchId == 0L && (stamp.isEmpty || lineageId.isEmpty))
        failIfStaleLineage(fs, commitsDir, path)
      return
    }
    // unstamped-marker fallback for batch 0 when there is nothing to
    // compare stamps against (marker 0 absent but higher markers present)
    if (batchId == 0L) failIfStaleLineage(fs, commitsDir, path)

    val staging = new Path(path, s"_graft_staging/$batchId")
    kept.write.mode("overwrite").parquet(staging.toString)

    // sweep a prior delivery's partial publish, then publish by rename
    fs.globStatus(new Path(path, s"graft-b$batchId-*.parquet")).foreach { s =>
      if (!fs.delete(s.getPath, false))
        throw new java.io.IOException(
          s"failed to sweep stale published file ${s.getPath} for batch $batchId")
    }
    val parts = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val published = parts.zipWithIndex.map { case (p, k) =>
      val dest = new Path(path, s"graft-b$batchId-$k.parquet")
      if (!fs.rename(p, dest))
        throw new java.io.IOException(
          s"failed to publish $p -> $dest for batch $batchId — aborting " +
          "before the commit marker so redelivery repairs the batch")
      dest.getName
    }
    fs.delete(staging, true) // best-effort cleanup; an orphan staging dir
                             // is re-overwritten by any future redelivery

    // marker body: optional lineage stamp + the manifest. Written to a
    // temp name and RENAMED into place so the marker is never visible
    // half-written (see step 4 in the protocol above).
    fs.mkdirs(commitsDir)
    val stampLine =
      if (lineageId.nonEmpty) s"$LineagePrefix$lineageId\n" else ""
    val tmp = new Path(commitsDir, s".$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write((stampLine + published.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(
        s"failed to publish commit marker $marker for batch $batchId — " +
        "data files are durable; redelivery re-publishes and re-commits")
    ()
  }

  /** Batch 0 of a healthy lineage can never follow a committed batch >0
    * — the stamp-free fresh-checkpoint detection (see the lineage
    * section of the scaladoc). */
  private def failIfStaleLineage(fs: org.apache.hadoop.fs.FileSystem,
                                 commitsDir: Path, path: String): Unit = {
    if (!fs.exists(commitsDir)) return
    val stale = fs.listStatus(commitsDir).map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toLong).toOption).filter(_ > 0L)
    if (stale.nonEmpty)
      throw new IllegalStateException(
        s"sink $path carries commit markers up to batch ${stale.max} but " +
        "this stream is delivering batch 0 — a fresh-checkpoint stream " +
        "was pointed at an old sink; its batches would silently skip. " +
        "Use a fresh sink directory (or restore the original checkpoint).")
  }

  private def markerLineage(fs: org.apache.hadoop.fs.FileSystem,
                            marker: Path): Option[String] = {
    val in = fs.open(marker)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    body.linesIterator.toSeq.headOption
      .filter(_.startsWith(LineagePrefix)).map(_.stripPrefix(LineagePrefix))
  }

  /** The committed manifest: every data file in the sink's current READ
    * SET, in (batchId, file) order — compacted spans attributed to the
    * span's highest covered batchId. The object-store-safe read set — a
    * manifest-trusting reader (or compaction) takes THIS list as the
    * sink's content instead of a directory listing, so rename
    * non-atomicity and mid-repair sweeps are never observable.
    * Non-numeric names (the `.tmp` marker staging) and `#`-prefixed
    * stamp lines are skipped. When a compaction record exists
    * ([[compactSink]]), its files REPLACE the per-batch manifests of
    * every batch it covers; batches landed after it contribute their
    * own markers as before. */
  def manifest(spark: org.apache.spark.sql.SparkSession,
               path: String): Seq[(Long, String)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new Path(path, "_graft_commits")
    if (!fs.exists(commitsDir)) return Seq.empty
    val (covered, compacted) = latestCompaction(fs, commitsDir)
      .map { case (_, p) => readCompactionRecord(fs, p) }
      .getOrElse((-1L, Seq.empty[String]))
    compacted.map(covered -> _) ++
      fs.listStatus(commitsDir).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption
          .map(_ -> s.getPath))
        .filter(_._1 > covered)
        .sortBy(_._1)
        .flatMap { case (bid, p) =>
          val in = fs.open(p)
          val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close()
          body.split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
            .map(bid -> _)
        }
  }

  // --- sink compaction (round 13: the streaming twin of the IVF index's
  // compactIndex — a long-lived gate sink otherwise accumulates one file
  // set per micro-batch forever) --------------------------------------

  private val CompactionName = "compaction_(\\d+)".r

  private def latestCompaction(fs: org.apache.hadoop.fs.FileSystem,
                               commitsDir: Path): Option[(Long, Path)] =
    fs.listStatus(commitsDir).toSeq.flatMap { s =>
      s.getPath.getName match {
        case CompactionName(g) => Some(g.toLong -> s.getPath)
        case _                 => None
      }
    }.sortBy(_._1).lastOption

  /** (covered max batchId, consolidated file names). */
  private def readCompactionRecord(fs: org.apache.hadoop.fs.FileSystem,
                                   rec: Path): (Long, Seq[String]) = {
    val in = fs.open(rec)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val lines = body.split("\n").filter(_.nonEmpty)
    val covered = lines.find(_.startsWith("#covered="))
      .map(_.stripPrefix("#covered=").toLong).getOrElse(-1L)
    (covered, lines.filterNot(_.startsWith("#")).toSeq)
  }

  /** COMPACT the sink's committed content: rewrite the current read set
    * (every file [[manifest]] certifies) into one consolidated file set
    * and publish a compaction record that supersedes the per-batch
    * manifests it covers. The batchId-keyed exactly-once protocol is
    * untouched: every batch MARKER remains in place, so a redelivered
    * old batch still takes the O(1) skip (its lineage stamp included) —
    * only the manifest's FILE LIST is re-pointed. Protocol, crash-safe
    * under the single-writer contract:
    *
    *  1. Sweep orphans: data files in the sink that are NOT in the
    *     current read set (a prior compaction that crashed between its
    *     record publish and its deletes) are deleted — plain directory
    *     readers converge back to the committed content.
    *  2. The read set rewrites (coalesced) into a staging dir, then
    *     renames to `graft-c<gen>-*.parquet`.
    *  3. The compaction record `_graft_commits/compaction_<gen>`
    *     publishes via the marker temp+rename discipline: first line
    *     `#covered=<max batchId>`, then the consolidated file names.
    *     From this instant manifest readers see the new read set.
    *  4. The superseded files delete LAST. A crash before this leaves
    *     duplicates visible to PLAIN directory readers only (manifest
    *     readers are consistent at every step), and step 1 of the next
    *     compaction heals it — same reader-visibility contract as the
    *     landing sweep itself (drain-then-read, or read via
    *     [[readCommitted]]).
    *
    * Scale shape: one read+write of the committed data, O(files)
    * metadata ops; run it when files-per-sink exceeds the listing
    * budget (the IVF compaction cadence argument, SCALING.md). */
  def compactSink(spark: org.apache.spark.sql.SparkSession,
                  path: String, numFiles: Int = 1): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new Path(path, "_graft_commits")
    val entries = manifest(spark, path)
    if (entries.isEmpty) return
    // 1. orphan sweep: converge plain readers before changing anything
    val readSet = entries.map(_._2).toSet
    fs.globStatus(new Path(path, "graft-*.parquet"))
      .filterNot(s => readSet(s.getPath.getName))
      .foreach { s =>
        if (!fs.delete(s.getPath, false))
          throw new java.io.IOException(s"compaction: failed to sweep orphan ${s.getPath}")
      }
    val gen = latestCompaction(fs, commitsDir).map(_._1).getOrElse(0L) + 1
    val covered = entries.map(_._1).max
    // 2. consolidate into staging, publish by rename
    val staging = new Path(path, s"_graft_staging/compact_$gen")
    Tables.parquet(spark, entries.map(e => new Path(path, e._2).toString): _*)
      .coalesce(numFiles)
      .write.mode("overwrite").parquet(staging.toString)
    val parts = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val published = parts.zipWithIndex.map { case (p, k) =>
      val dest = new Path(path, s"graft-c$gen-$k.parquet")
      if (fs.exists(dest) && !fs.delete(dest, false))
        throw new java.io.IOException(s"compaction: failed to sweep stale $dest")
      if (!fs.rename(p, dest))
        throw new java.io.IOException(s"compaction: failed to publish $p -> $dest")
      dest.getName
    }
    fs.delete(staging, true)
    // 3. record publishes atomically (the marker discipline)
    val tmp = new Path(commitsDir, s".compaction_$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write((s"#covered=$covered\n" + published.mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(commitsDir, s"compaction_$gen")))
      throw new java.io.IOException(s"compaction: failed to publish record gen $gen")
    // 4. superseded files delete last (crash here -> next run's step 1)
    readSet.foreach(f => fs.delete(new Path(path, f), false))
    ()
  }

  /** THE manifest-trusting reader (round-13: the documented object-store
    * read pattern, now a callable surface instead of prose): reads
    * exactly the files the commit markers certify, so a stray
    * uncommitted file in the sink directory — a half-published batch on
    * a non-atomic store, a crashed writer's orphan, a foreign file — is
    * never observed, where `Tables.parquet(spark, path)`'s directory
    * listing would pick it up. Returns an empty (zero-column) frame for
    * a sink with no commits. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val files = manifest(spark, path).map { case (_, f) =>
      new Path(path, f).toString }
    if (files.isEmpty) spark.emptyDataFrame
    else Tables.parquet(spark, files: _*)
  }
}
