package graft.tools

import graft.ScopedStageListener

/** Run registered queries under the bench protocol (cache reset, noop
  * sink, terminal sort stripped) while aggregating per-stage executor
  * time, task count and shuffle volume — the local-mode stand-in for the
  * Spark UI's stage table.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.tools.StageProfile <query> [<query>...]"
  */
object StageProfile {
  final case class Agg(name: String, runMs: Long, cpuMs: Long, tasks: Int,
                       shRead: Long, shWrite: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => }
    }
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"no such query: $name")
        case Some(fn) =>
          // timed exactly like Bench.timeOnce, twice (warm number matters)
          for (round <- 1 to 2) {
            val stages = new scala.collection.mutable.ArrayBuffer[Agg]
            graft.Caches.reset(spark)
            val t0 = System.nanoTime()
            ScopedStageListener.observe(spark) { sc =>
              val si = sc.stageInfo
              val m = si.taskMetrics
              stages.synchronized {
                stages += Agg(si.name.take(90), m.executorRunTime,
                  m.executorCpuTime / 1000000, si.numTasks,
                  m.shuffleReadMetrics.totalBytesRead,
                  m.shuffleWriteMetrics.bytesWritten,
                  m.inputMetrics.bytesRead)
              }
            } {
              org.apache.spark.sql.GraftBenchPlan.withoutTerminalSort(fn(spark, sfDir))
                .write.format("noop").mode("overwrite").save()
            }
            val el = (System.nanoTime() - t0) / 1e9
            val snap = stages.synchronized(stages.toVector)
            println(f"%n=== $name round $round: $el%.2f s wall, ${snap.size} stages, " +
              f"${snap.map(_.runMs).sum / 1e3}%.1f s executor-run total")
            snap.sortBy(-_.runMs).take(18).foreach { a =>
              println(f"  ${a.runMs}%6d ms run ${a.cpuMs}%6d ms cpu ${a.tasks}%4d tasks " +
                f"shR=${a.shRead / 1024}%8d KiB shW=${a.shWrite / 1024}%8d KiB " +
                f"in=${a.input / 1024}%8d KiB  ${a.name}")
            }
          }
      }
    }
    spark.stop()
  }
}
