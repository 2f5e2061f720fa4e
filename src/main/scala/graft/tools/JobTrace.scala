package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

/** Dev tool: per-JOB trace for one query — job id, wall, task count
  * and the callsite description, so the 40-job queries can be broken
  * down into which operator pays which sequential floor.
  *
  * Usage: scripts/run_main.sh graft.tools.JobTrace [sfDir] <name>
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case d :: rest if d.startsWith("/") => (d, rest)
      case rest => ("/root/testdata/sf0.1", rest)
    }
    val spark = graft.GraftSession.toolSession(defaultCpus = "32")
    try trace(spark, sfDir, names)
    finally spark.stop()
  }

  private def trace(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    names: List[String]): Unit = {
    graft.GraftSession.warmUp(spark, sfDir)
    graft.queries.TrainingQueries.prewarmFixtures(spark, sfDir)
    val starts = TrieMap.empty[Int, (Long, String, Int)]
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (tracing) {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?") + " | " +
          j.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n').take(40)}(${s.numTasks})")
            .mkString(" <- ")
        val nTasks = j.stageInfos.map(_.numTasks).sum
        starts(j.jobId) = (System.nanoTime(), desc, nTasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
        starts.remove(e.jobId).foreach { case (t0, desc, nTasks) =>
          println(f"[jobtrace]   job ${e.jobId}%-4d ${(System.nanoTime() - t0) / 1e9}%7.3f s tasks=$nTasks%-4d $desc")
        }
      }
    })
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[jobtrace] unknown query: $name")
        case Some(fn) =>
          // a failing query is logged and skipped; the rest still run
          try {
            // warm pass (codegen + any shared census builds)
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Thread.sleep(100)
            println(s"[jobtrace] === $name ===")
            tracing = true
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val w = (System.nanoTime() - t0) / 1e9
            Thread.sleep(100)
            println(f"[jobtrace] === $name total $w%.2f s ===")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[jobtrace] $name FAILED: $e")
          } finally tracing = false
      }
    }
  }
}
