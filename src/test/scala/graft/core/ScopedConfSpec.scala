package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import java.util.concurrent.CyclicBarrier
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** A conf scope runs on a cloned session and never writes the caller's:
  * concurrent scopes with different values, a body that throws, and the
  * streaming drains all leave the shared session exactly as it was. */
class ScopedConfSpec extends SparkTestBase {

  /** Partition counts of the plan's shuffles (AQE's initial plan when
    * the plan is adaptive). */
  private def shuffleWidths(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
  }

  test("concurrent scopes with different widths each plan at their own " +
      "width and never write the parent conf") {
    val before = spark.conf.getAll
    val session = spark.sessionState.conf.numShufflePartitions
    assert(session > 2, "the test needs a session wider than both scopes")
    // both bodies are inside their scopes at once at each barrier
    val barrier = new CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def scoped(width: Int): Future[(Seq[Int], Long)] = Future {
      ScopedConf.tinyShuffle(spark, width) { s =>
        barrier.await(60, SECONDS)
        assert(spark.conf.getAll == before)
        val agg = shim.rebind(s, spark.range(1000).toDF("id"))
          .groupBy((col("id") % 7).as("g")).count()
        val groups = agg.collect().length.toLong
        barrier.await(60, SECONDS)
        assert(spark.conf.getAll == before)
        (shuffleWidths(agg), groups)
      }
    }
    try {
      val (f1, f2) = (scoped(1), scoped(2))
      val (w1, g1) = Await.result(f1, 2.minutes)
      val (w2, g2) = Await.result(f2, 2.minutes)
      assert(w1 == Seq(1) && w2 == Seq(2), s"widths $w1 / $w2")
      assert(g1 == 7 && g2 == 7)
    } finally pool.shutdown()
    assert(spark.conf.getAll == before)
  }

  test("a body that throws leaves the parent conf unchanged") {
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      ScopedConf.withConfs(spark, "spark.sql.shuffle.partitions" -> "1",
          "spark.sql.adaptive.enabled" -> "false") { s =>
        assert(s.conf.get("spark.sql.shuffle.partitions") == "1")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.getAll == before)
  }

  test("a clone reuses the code its parent compiled") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val q = spark.range(5000)
      .select((col("id") * 3 + 7).as("x"), (col("id") % 13).as("g"))
      .groupBy(col("g")).agg(sum(col("x") * 2 + 1).as("s"))
    q.collect()
    val compiled = CodeGenerator.compileTime
    val width = spark.sessionState.conf.numShufflePartitions.toString
    ScopedConf.withConfs(spark, "spark.sql.shuffle.partitions" -> width) { s =>
      shim.rebind(s, q).collect()
    }
    assert(CodeGenerator.compileTime == compiled)
  }

  test("a width at or above the session's runs on the caller's session") {
    val session = spark.sessionState.conf.numShufflePartitions
    ScopedConf.tinyShuffle(spark, session)(s => assert(s eq spark))
  }

  test("nnDescent returns a graph bound to the caller's session and leaves " +
      "its conf unchanged") {
    val before = spark.conf.getAll
    val base = spark.range(60).select(col("id"),
      array((0 until 4).map(j => sin(col("id") * (j + 1))): _*)
        .cast("array<float>").as("vec"))
    val g = graft.knn.KnnGraph.nnDescent(base, 3, iters = 1)
    assert(g.sparkSession eq spark)
    assert(g.count() == 60 * 3)
    assert(spark.conf.getAll == before)
  }

  test("windowedEventCounts registers no view, leaves the parent conf " +
      "unchanged and returns a frame at the caller's shuffle width") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scoped_events")
    try {
      val events = s"$dir/events"
      spark.range(240).select(
        timestamp_seconds(col("id") * 300).as("ts"),
        concat(lit("e"), (col("id") % 3).cast("string")).as("event_type"),
        (col("id") % 10).cast("double").as("value"))
        .coalesce(1).write.parquet(events)
      val views = spark.catalog.listTables().collect().map(_.name).toSet
      val before = spark.conf.getAll
      val res = graft.streaming.StreamingIngest.windowedEventCounts(spark, events)
      // 240 events x 5 min = 20 hours, 3 event types in each hour
      assert(res.count() == 20 * 3)
      assert(res.agg(sum(col("cnt"))).first().getLong(0) == 240L)
      assert(spark.catalog.listTables().collect().map(_.name).toSet == views)
      assert(spark.conf.getAll == before)
      val perType = res.groupBy(col("event_type")).count()
      assert(shuffleWidths(perType) ==
        Seq(spark.sessionState.conf.numShufflePartitions))
    } finally graft.streaming.StreamingIngest.rmTree(dir)
  }
}
