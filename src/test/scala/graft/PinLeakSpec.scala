package graft

/** One release path for everything a query pins: after a registered
  * query has run and `Caches.reset` has run on its session, no RDD the
  * query persisted is left in `getPersistentRDDs`, without waiting for a
  * driver GC (the only thing that frees an unowned local checkpoint).
  *
  * `getPersistentRDDs` is context-wide and other suites share the
  * SparkContext, so each RDD is attributed to its query by the call site
  * the query ran under: an RDD records the caller's call-site property
  * when it is created (threads Spark starts for the query, such as
  * broadcast builds, copy it), and `RDD.toString` ends with it. The
  * suite's own session keeps its resets away from other suites' pins.
  * Nothing is forgiven: the spark.ml estimators the queries fit
  * unpersist what they persist themselves. */
class PinLeakSpec extends IsolatedSparkSpec {

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name leaves no persisted RDD after Caches.reset") {
      val sc = spark.sparkContext
      val site = s"PinLeakSpec/$name"
      sc.setCallSite(site)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally sc.clearCallSite()
      Caches.reset(spark)
      val left = sc.getPersistentRDDs.values.map(_.toString)
        .filter(_.endsWith(s" at $site"))
      assert(left.isEmpty, s"$name left ${left.size} persisted RDD(s) after reset: $left")
    }
  }
}
