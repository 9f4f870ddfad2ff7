package graft

/** Times one named catalog query in a fresh session — separates a
  * query's intrinsic cost from cross-session-state effects when a
  * bench run shows an outlier. Usage:
  *   sbt "runMain graft.TimeOne <name> [repeat]"
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val fn = SparkEntry.queries(name)
    for (i <- 1 to repeat) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[timeone] $name run#$i rows=$n  ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
