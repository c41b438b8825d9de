package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one home of engine-owned state: where it lives, when it is built
  * and when it is released.
  *
  *  - [[memo]] keeps a per-session result that queries with a common
  *    sub-plan share: d2/d5/x18 share near-dup pairs, x18/x19 share the
  *    pipeline stage frames, x34/x38 share the trained BPE merges, and
  *    `serve.PlayQueries` keeps the viewer's last-requested frame: one
  *    per session, fetched when a request names a frame it does not hold
  *    and replaced by the next such request.
  *  - [[pin]] persists a frame that several consumers read, and
  *    [[checkpoint]] materializes one eagerly and cuts its lineage. A pin
  *    whose consumers all run inside the call that made it is freed by
  *    [[release]] in a `finally` once they have run; a pin that the
  *    returned lazy plan reads lives until [[reset]].
  *  - [[once]] guards a per-JVM write-once artifact on disk: the graph
  *    checkpoints, the IVF and IVF-PQ indexes, the BPE checkpoint, the
  *    BdbMini fixture. Its content is a pure function of its inputs, so
  *    the first call in a JVM rewrites it, healing a stale copy an older
  *    binary left, and later calls trust it.
  *  - [[scratch]] names the directory such an artifact, or a query's
  *    write-then-read-back output, lives in.
  *
  * `reset(s)` ends the lifetime of everything s memoized or pinned, so a
  * frame built in s before `reset(s)` must not run after it: a pinned
  * frame would recompute, a checkpointed one fails because its blocks are
  * gone. It touches nothing else: not another session's memos or pins,
  * and not a frame a caller persisted itself (a caller's own `.cache()`
  * stays the caller's, unless it has the very plan of a pin: Spark keeps
  * one cache entry per plan). Sharing is the production shape, but a
  * benchmark that times "query X" must not hand X a result another query
  * already paid for, so the harnesses reset before every timed run,
  * returning the session to a cold-plan (but warm-JVM) state.
  *
  * Memos and artifacts assume the files under a data dir do not change
  * while they live: a memo goes stale until `reset`, an artifact until a
  * new JVM. That holds for bench, verify and tests.
  */
object Caches {

  /** A value built at most once. The builder holds the slot's lock, so a
    * second caller waits for the first build instead of repeating it,
    * while builds of other slots run on. A failed build leaves the slot
    * empty and the next call retries. */
  private final class Slot {
    private var value: Option[Any] = None
    def get(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  private val memos = new ConcurrentHashMap[(SparkSession, Any), Slot]

  /** The value memoized for `key` in `session`, building it on first use.
    * Keys share one namespace, so callers tag theirs. A frame the build
    * pins lives as long as the memo: both end at [[reset]]. */
  def memo[A](session: SparkSession, key: Any)(build: => A): A =
    memos.computeIfAbsent((session, key), _ => new Slot).get(build).asInstanceOf[A]

  /** How many memos `session` holds. */
  private[graft] def memoCount(session: SparkSession): Int =
    memos.keySet.asScala.count(_._1 eq session)

  /** Every live pin (a Dataset or an RDD, by identity) with the session
    * it belongs to and the call that frees it. */
  private val pins = new ConcurrentHashMap[AnyRef, (SparkSession, () => Unit)]

  private def hold[A <: AnyRef](session: SparkSession, pinned: A)(free: => Unit): A = {
    pins.put(pinned, (session, () => free))
    pinned
  }

  /** `ds`, persisted at MEMORY_AND_DISK and pinned in its own session. */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    hold(ds.sparkSession, ds.persist(StorageLevel.MEMORY_AND_DISK))(ds.unpersist(blocking = false))

  /** `rdd`, persisted at MEMORY_AND_DISK and pinned in `session`. */
  def pin[T](session: SparkSession, rdd: RDD[T]): RDD[T] =
    hold(session, rdd.persist(StorageLevel.MEMORY_AND_DISK))(rdd.unpersist(blocking = false))

  /** `ds` materialized now by an eager local checkpoint and pinned in its
    * own session. The result reads the checkpointed blocks instead of
    * `ds`'s lineage; freeing it unpersists those blocks, which otherwise
    * only a driver GC would reach. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint(eager = true)
    val blocks = cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    hold(ds.sparkSession, cp)(blocks.foreach(_.unpersist(blocking = false)))
  }

  /** Free one pin now; anything that is not a live pin is left as it is. */
  def release(pinned: AnyRef): Unit = Option(pins.remove(pinned)).foreach(_._2())

  private val artifacts = new ConcurrentHashMap[String, (String, Slot)]

  /** Run `build`, which writes the artifact at `path`, once per JVM.
    * `lifecycle` names what the build leaves at `path` (an index built,
    * then updated, is not the plain index), so a call for another
    * lifecycle on a built path throws instead of silently skipping its
    * own steps. */
  def once(path: String, lifecycle: String)(build: => Unit): Unit = {
    val (owner, slot) = artifacts.computeIfAbsent(path, _ => (lifecycle, new Slot))
    if (owner != lifecycle)
      throw new IllegalStateException(
        s"$path is owned by lifecycle '$owner' in this JVM; refusing " +
        s"'$lifecycle': one path, one lifecycle (use a distinct path per lifecycle)")
    slot.get(build)
  }

  /** The scratch directory for `kind` over the data dir `dir`. It is keyed
    * by the full md5 of the absolute dir, because a 32-bit hash can
    * collide across two data dirs in one JVM and silently serve one dir's
    * artifact for the other. It sits in a per-user subdirectory, so users
    * sharing a host never share an artifact. */
  def scratch(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${System.getProperty("user.name", "anon")}/" +
      s"${kind}_$digest"
  }

  /** Drop `session`'s memos and free its pins. */
  def reset(session: SparkSession): Unit = {
    memos.keySet.asScala.filter(_._1 eq session).foreach(memos.remove)
    pins.asScala.collect { case (p, (s, _)) if s eq session => p }.foreach(release)
  }
}
