package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel

/** The lifecycle `graft.Caches` promises: a memo or a pin lives until
  * `reset` of its own session (a pin may die earlier by `release`),
  * `once` builds a path once per JVM without holding up builds of other
  * paths, and `scratch` names one directory per data dir. Memos and pins
  * live in fresh sessions and keys and paths carry this suite's name and
  * a fresh nanoTime, so no other suite's entry is touched. */
class CachesSpec extends SparkSpec {

  private def fresh(tag: String) = s"CachesSpec-$tag-${System.nanoTime()}"

  test("reset(a) releases a's memos and unpersists their pins, and keeps b's") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val key = fresh("memo")
    val pin = Caches.memo(a, key) { val df = Caches.pin(a.range(100).toDF("x")); df.count(); df }
    Caches.memo(b, key)("b's value")
    assert(Caches.memo[AnyRef](a, key)(fail("a's memo was rebuilt")) eq pin)
    assert(pin.storageLevel == StorageLevel.MEMORY_AND_DISK)

    Caches.reset(a)
    assert(pin.storageLevel == StorageLevel.NONE)
    assert(Caches.memo[String](b, key)(fail("b's memo was dropped by reset(a)")) == "b's value")
    assert(Caches.memo(a, key)("rebuilt") == "rebuilt")
    Caches.reset(b)
    Caches.reset(a)
  }

  test("session b's pin survives reset(a)") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val aPin = Caches.pin(a.range(0, 50).toDF("x"))
    val bPin = Caches.pin(b.range(50, 100).toDF("x"))
    val bCkpt = Caches.checkpoint(b.range(100, 150).toDF("x"))
    Seq(aPin, bPin).foreach(_.count())

    Caches.reset(a)
    assert(aPin.storageLevel == StorageLevel.NONE)
    assert(bPin.storageLevel == StorageLevel.MEMORY_AND_DISK, "reset(a) freed b's pin")
    assert(bCkpt.count() == 50, "reset(a) freed b's checkpoint")

    Caches.reset(b)
    assert(bPin.storageLevel == StorageLevel.NONE)
  }

  test("release frees one pin, and reset frees checkpointed blocks without a GC") {
    val a = spark.newSession()
    val sc = a.sparkContext
    def blocks(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    val (kept, freed) = (Caches.pin(a.range(10).toDF("x")), Caches.pin(a.range(20).toDF("x")))
    val ckpt = Caches.checkpoint(a.range(30).toDF("x"))
    assert(blocks(ckpt).nonEmpty && blocks(ckpt).forall(sc.getPersistentRDDs.contains))

    Caches.release(freed)
    assert(freed.storageLevel == StorageLevel.NONE)
    assert(kept.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Caches.release(freed) // a second release is a no-op

    Caches.reset(a)
    assert(kept.storageLevel == StorageLevel.NONE)
    assert(!blocks(ckpt).exists(sc.getPersistentRDDs.contains))
  }

  test("two threads calling once on one path build it once") {
    val path = fresh("once")
    val builds = new AtomicInteger
    val (started, go) = (new CountDownLatch(1), new CountDownLatch(1))
    val first = Future {
      Caches.once(path, "spec") { started.countDown(); go.await(); builds.incrementAndGet() }
    }
    assert(started.await(30, TimeUnit.SECONDS))
    val second = Future(Caches.once(path, "spec")(builds.incrementAndGet()))
    Thread.sleep(200)
    assert(!second.isCompleted, "the second caller returned before the build finished")
    go.countDown()
    Await.result(first, 30.seconds)
    Await.result(second, 30.seconds)
    assert(builds.get == 1)
  }

  test("once on two paths does not serialize") {
    val (p1, p2) = (fresh("p1"), fresh("p2"))
    val (started, otherBuilt) = (new CountDownLatch(1), new CountDownLatch(1))
    val first = Future {
      Caches.once(p1, "spec") {
        started.countDown()
        assert(otherBuilt.await(10, TimeUnit.SECONDS), s"the build of $p2 waited on $p1's")
      }
    }
    assert(started.await(30, TimeUnit.SECONDS))
    Caches.once(p2, "spec")(otherBuilt.countDown())
    Await.result(first, 30.seconds)
  }

  test("a failed build leaves the path unbuilt, and the next call builds it") {
    val path = fresh("retry")
    intercept[IllegalStateException](Caches.once(path, "spec")(throw new IllegalStateException))
    var built = false
    Caches.once(path, "spec") { built = true }
    assert(built)
  }

  test("scratch paths differ for data dirs whose path strings share a hashCode") {
    assert("/data/Aa".hashCode == "/data/BB".hashCode)
    assert(Caches.scratch("ivf", "/data/Aa") != Caches.scratch("ivf", "/data/BB"))
    assert(Caches.scratch("ivf", "/data/Aa") == Caches.scratch("ivf", "/data/Aa"))
    assert(Caches.scratch("ivf", "/data/Aa") != Caches.scratch("ivfpq", "/data/Aa"))
  }
}
