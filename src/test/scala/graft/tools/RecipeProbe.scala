package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicLong

/** Diagnostic main (VERDICT r16 #4): phase-split executor-CPU
  * decomposition of the distributed_ondisk_recipe_big lifecycle —
  * fixture derive / 4 shard assignments / on-disk merge+write /
  * loaded search — so the fourth-decade growth can be attributed to
  * a phase instead of argued about. Run once at SPARK_GRAFT_SCALE_X=1
  * and once at =10 (own JVM each, the scaling.py tier protocol) and
  * compare per-phase cpu_ms growth: the build/merge phases carry the
  * linear model, the search phase is nq x probed-rows — QUADRATIC
  * when the query set samples the corpus (the ivf_search_big model),
  * which is the super-10x term inside the blended recipe row.
  * Test-scope only. */
object RecipeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val cpuMs = new AtomicLong
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        cpuMs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime / 1000000L)
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        ()
      }
    })
    // listener delivery is async: poll until the counters are stable
    def settle(): (Long, Long) = {
      var last = (-1L, -1L)
      var cur = (cpuMs.get, taskMs.get)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && cur != last) {
        last = cur
        Thread.sleep(500)
        cur = (cpuMs.get, taskMs.get)
      }
      cur
    }
    var mark = (0L, 0L)
    var t0 = System.nanoTime()
    def phase(label: String): Unit = {
      val wall = (System.nanoTime() - t0) / 1e9
      val now = settle()
      println(f"[phase] $label%-12s wall=$wall%8.2f s  " +
        f"cpu_ms=${now._1 - mark._1}%9d  task_ms=${now._2 - mark._2}%9d")
      mark = now
      t0 = System.nanoTime()
    }

    import graft.Queries
    import graft.index.IvfIndex
    import org.apache.spark.sql.functions._
    val single = Queries.ivfBig(spark, sfDir) // forces bigVecs + build
    phase("fixture")
    val base = Queries.bigVecs(spark, sfDir)
    val shards = (0 until 4).map { g =>
      IvfIndex.build(base.filter(pmod(col("id"), lit(4)) === g),
        "id", "vec", nlist = single.nlist, centroids0 = single.centroids)
    }
    // builds are lazy; force the 4 shard assignments without writing
    shards.foreach(_.invlists.count())
    phase("assign4")
    val tmp = java.nio.file.Files.createTempDirectory("graft_recipe_probe")
    try {
      // the write path recomputes the (unpersisted) assignments —
      // merge_write cpu therefore ~ assign4 + parquet encode
      val merged = IvfIndex.mergeOnDisk(shards, s"$tmp/index")
      phase("merge_write")
      val n = merged.search(Queries.bigQueries(spark, sfDir), k = 10, nprobe = 8)
        .collect().length
      phase("search")
      println(s"[probe] search rows=$n scaleX=${sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "1")}")
    } finally graft.streaming.StreamingIngest.rmTree(tmp)
    spark.stop()
  }
}
