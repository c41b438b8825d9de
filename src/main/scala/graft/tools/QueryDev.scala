package graft.tools


/** Dev tool: explain + time individual registered queries.
  * Usage: runMain graft.tools.QueryDev <sfDir> <query> [query...]
  * Env: SPARK_GRAFT_CPUS (default 32), QUERYDEV_EXPLAIN=1 to print plans.
  */
object QueryDev {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (sys.env.contains("QUERYDEV_EXPLAIN")) {
        println(s"===== $name plan =====")
        fn(spark, sfDir).explain("formatted")
      }
      // same protocol as graft.Bench: memo caches reset before every run so
      // run2 is JVM-warm but never memo-warm — comparable to the bench's min
      (1 to 2).foreach { i =>
        graft.Caches.reset(spark)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
