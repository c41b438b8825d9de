package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries into
  * <outDir>/<query>_<tag>.txt, so plan claims can be checked without Spark.
  *
  * Usage: sbt "Test/runMain graft.tools.PlanSnap <outDir> <tag> <query1> [query2...]"
  *        (query "ALL" dumps every registered query)
  *
  * Output is normalized like EXPLAIN.md (expression/plan ids stripped) so
  * a before/after diff shows only real plan-shape changes.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names =
      if (args.drop(2).sameElements(Array("ALL"))) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plansnap] no such query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val norm = txt.linesIterator.map(ExplainDump.normalize).mkString("\n")
            Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), norm + "\n")
            println(s"[plansnap] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
