package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel

/** The lifecycle `graft.Caches` promises: a memo lives until `reset` of
  * its own session, `once` builds a path once per JVM without holding
  * up builds of other paths, and `scratch` names one directory per data
  * dir. Keys and paths carry this suite's name and a fresh nanoTime, so
  * no other suite's entry is touched. */
class CachesSpec extends SparkSpec {

  private def fresh(tag: String) = s"CachesSpec-$tag-${System.nanoTime()}"

  test("reset(a) releases a's memos and unpersists their pins, and keeps b's") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val key = fresh("memo")
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pin = a.range(100).toDF("x").cache()
    pin.count()
    Caches.memo(a, key)(pin)(df => { released.add("a"); df.unpersist(blocking = true) })
    Caches.memo(b, key)("b's value")(_ => released.add("b"))
    assert(Caches.memo[AnyRef](a, key)(fail("a's memo was rebuilt"))(_ => ()) eq pin)

    Caches.reset(a)
    assert(released.toArray.toSeq == Seq("a"))
    assert(pin.storageLevel == StorageLevel.NONE)
    assert(Caches.memo[String](b, key)(fail("b's memo was dropped by reset(a)"))(_ => ()) == "b's value")
    assert(Caches.memo(a, key)("rebuilt")(_ => ()) == "rebuilt")

    Caches.reset(b)
    assert(released.toArray.toSeq == Seq("a", "b"))
    Caches.reset(a)
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
