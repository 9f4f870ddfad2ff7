package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it launched: a listener
    * counts job starts, and a sentinel RDD action (exactly one job, no
    * AQE) flushes the async listener bus — the bus delivers in order,
    * so once the sentinel's start arrives every earlier job's has. */
  def jobsLaunchedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.sentinel") != null)
          flushed.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(flushed.await(10, java.util.concurrent.TimeUnit.SECONDS), "listener bus not flushed")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
