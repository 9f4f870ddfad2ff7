package graft.tools

import org.apache.spark.scheduler._

/** Per-job/per-stage timeline for ONE catalog query — the measurement
  * tool behind the r19 optimization round (guide §1: decide whether
  * wall goes to scheduling, shuffle, compute, or driver gaps before
  * touching anything). Prints, for each Spark job inside the query
  * window: submission→completion wall, the gap since the previous
  * job's completion (driver-side think time — plan/collect/JIT), task
  * count and summed task time. Streaming queries additionally print
  * per-microbatch progress durations.
  *
  * Usage: sbt "runMain graft.tools.ProfileOne <q1,q2,...> [repeat]"
  * (a comma list runs in order, profiling each — so a memoized
  * fixture dependency, e.g. bigvec_derive, can be paid OUTSIDE the
  * target query's window exactly like catalog order does)
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val repeat = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)

    case class JobRec(id: Int, desc: String, t0: Long, var t1: Long = 0L,
        var nTasks: Int = 0, var taskMs: Long = 0L, var cpuMs: Long = 0L,
        var shufMb: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
    val order = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId,
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .filter(_ != null).getOrElse(""), e.time)
        jobs.put(e.jobId, r); order.add(r)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(e.stageId, -1)
        val r = jobs.get(jid)
        if (r != null && e.taskMetrics != null) {
          r.nTasks += 1
          r.taskMs += e.taskMetrics.executorRunTime
          r.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
          r.shufMb += (e.taskMetrics.shuffleReadMetrics.totalBytesRead +
            e.taskMetrics.shuffleWriteMetrics.bytesWritten) >> 20
        }
      }
    })
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        System.err.println(s"[stream] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[stream] batch ${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        System.err.println(s"[stream] terminated")
    })

    // same session prep as Bench so first-run numbers are comparable
    try graft.core.KernelWarmup.run() catch { case _: Throwable => () }
    try graft.SparkEntry.queries.headOption.foreach { case (_, fn) =>
      fn(spark, sfDir).count() } catch { case _: Throwable => () }
    try graft.Queries.warmTrainedModels(spark, sfDir) catch { case _: Throwable => () }

    for (name <- names; fn = graft.SparkEntry.queries(name); i <- 1 to repeat) {
      order.clear(); jobs.clear(); stageToJob.clear()
      System.gc()
      val w0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      // listener queue may lag; give it a beat before reading
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val js = order.iterator().asScala.toVector.sortBy(_.t0)
      var prevEnd = 0L
      var gapTotal = 0.0
      var jobTotal = 0.0
      println(f"==== $name run#$i rows=$n wall=$wall%.2f s: ${js.size} jobs ====")
      js.foreach { r =>
        val dur = (r.t1 - r.t0) / 1e3
        val gap = if (prevEnd == 0) 0.0 else math.max(0, r.t0 - prevEnd) / 1e3
        gapTotal += gap; jobTotal += math.max(0, dur)
        if (dur >= 0.05 || gap >= 0.05)
          println(f"job ${r.id}%4d gap=$gap%6.2f dur=$dur%6.2f tasks=${r.nTasks}%5d " +
            f"taskSum=${r.taskMs / 1000.0}%7.2f cpuSum=${r.cpuMs / 1000.0}%7.2f " +
            f"shufMb=${r.shufMb}%4d  ${r.desc.take(60)}")
        prevEnd = math.max(prevEnd, r.t1)
      }
      println(f"==== jobs=$jobTotal%.2f s, driver gaps=$gapTotal%.2f s, wall=$wall%.2f s ====")
    }
    spark.stop()
  }
}
