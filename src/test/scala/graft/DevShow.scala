package graft

/** Dev-only: show a named catalog query's result (Test/runMain graft.DevShow <name>...). */
object DevShow {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    if (args.headOption.contains("--nnd")) {
      import org.apache.spark.sql.functions._
      val pts = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") < 100)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = graft.knn.KnnGraph.exact(pts, 5).select("src", "dst").cache()
      val total = exact.count()
      for (it <- 1 to 5) {
        val approx = graft.knn.KnnGraph.nnDescent(pts, 5, iters = it)
        val hits = exact.join(approx.select("src", "dst"), Seq("src", "dst"), "left_semi").count()
        println(f"[nnd] iters=$it recall=${hits.toDouble / total}%.4f")
      }
      spark.stop(); return
    }
    args.foreach { name =>
      println(s"==== $name @ $sfDir")
      SparkEntry.queries(name)(spark, sfDir).show(30, truncate = false)
    }
    spark.stop()
  }
}
