package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Widen.{Cluster, Scan, Single}

class WidenSpec extends SparkTestBase {

  private def target = spark.sparkContext.defaultParallelism

  /** A shuffle-free one-split parquet scan (the shape of neardup_dedup's
    * docs and of the catalog's embeddings base side). */
  private def scan = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("widen").toString
    (0 until 200).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("a limit, an ungrouped aggregate and an unpartitioned window run in one " +
    "partition: each is widened to defaultParallelism without counting") {
    val df = scan
    val single = Seq(df.limit(50), df.agg(count(lit(1)).as("n")),
      df.withColumn("r", row_number().over(Window.orderBy(col("id")))))
    single.foreach { s =>
      assert(Widen.width(s) == Single, s.queryExecution.optimizedPlan)
      val (wide, jobs) = jobsLaunchedBy(Widen(s))
      assert(jobs == 0, s"widening ${s.queryExecution.optimizedPlan} ran $jobs jobs")
      assert(wide.rdd.getNumPartitions == target)
    }
  }

  test("the topmost partitioning node decides") {
    val df = scan
    assert(Widen.width(df.groupBy(col("id") % 3).count().limit(2)) == Single)
    assert(Widen.width(df.limit(50).groupBy(col("id") % 3).count()) == Cluster)
    assert(Widen.width(df.withColumn("r",
      row_number().over(Window.partitionBy(col("id") % 3).orderBy(col("id"))))) == Cluster)
  }

  test("a parquet scan is still widened only when it has fewer splits than the cluster") {
    val df = scan
    assert(Widen.width(df) == Scan)
    assert(df.rdd.getNumPartitions < target)
    assert(Widen(df).rdd.getNumPartitions == target)
    // the catalog's base side (hnsw_reconstruct_rerank, knn_graph_*)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") >= 10).select(col("vec_id").as("id"), col("embedding").as("vec"))
    assert(Widen.width(emb) == Scan)
    val wide = spark.range(0, 1000, 1, target + 2).toDF("id")
    assert(Widen(wide) eq wide)
  }
}
