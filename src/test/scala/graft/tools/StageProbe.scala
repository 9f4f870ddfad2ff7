package graft.tools

import org.apache.spark.scheduler._

/** Diagnostic main: runs one catalog query with a stage-completion
  * listener, printing per-stage wall/task time — the instrument the
  * bench's per-query task_ms totals can't provide. Test-scope only. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = for {
          s <- si.submissionTime; e <- si.completionTime
        } yield e - s
        println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"wall=${wall.getOrElse(-1L)}%6d ms " +
          f"task=${si.taskMetrics.executorRunTime}%7d ms  ${si.name.take(90)}")
      }
    })
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val cnt = fn(spark, sfDir).count()
      println(f"[query] $n rows=$cnt total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
