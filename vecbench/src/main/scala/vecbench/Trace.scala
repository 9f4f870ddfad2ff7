package vecbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.vecbench.SparkInternals

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the millisecond timestamps Spark puts on job events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Running totals of what Spark has done, read at span boundaries. */
final case class Totals(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
    taskCpuNs: Long, schedDelayMs: Long, shuffleBytes: Long, spillBytes: Long,
    planMs: Double, codegenNs: Long, gcMs: Long)

/** Spark listener plus query-execution listener that keep [[Totals]]
  * and the interval of every job. In local mode the executors share the
  * driver JVM, so GC and janino compile time are read JVM-wide. */
final class SparkProbe(spark: SparkSession) {
  private var jobs, stages, tasks, failedTasks = 0L
  private var taskCpuNs, schedDelayMs, shuffleBytes, spillBytes = 0L
  private var planMs = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Double, Double)]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkProbe.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s.toDouble, e.time.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SparkProbe.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      tasks += 1
      if (e.reason != org.apache.spark.Success) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        // scheduler delay as the Spark UI defines it: time a task spent
        // outside deserialisation, running and result serialisation
        schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      SparkProbe.this.synchronized { planMs += ms }
    }
  })

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Totals after every event posted so far has been delivered. */
  def totals(): Totals = {
    SparkInternals.drainListeners(spark.sparkContext)
    var gc = 0L
    gcBeans.forEach(b => gc += math.max(0L, b.getCollectionTime))
    synchronized {
      Totals(jobs, stages, tasks, failedTasks, taskCpuNs, schedDelayMs,
        shuffleBytes, spillBytes, planMs, CodeGenerator.compileTime, gc)
    }
  }

  /** Length of the union of job intervals within [from, to]. */
  def jobBusyMs(from: Double, to: Double): Double = synchronized {
    Trace.unionMs(jobIntervals.toSeq.map { case (s, e) => (math.max(s, from), math.min(e, to)) })
  }
}

/** One recorded span: a call into a layer, made from the benchmark.
  * `op` is the timed operation it belongs to (negative outside the loop). */
final case class Span(id: Int, parent: Int, name: String, phase: String, op: Int,
    startMs: Double, endMs: Double, values: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Span recorder. While enabled, every [[span]] reads the Spark totals
  * on entry and exit and keeps the differences; spans stay in memory
  * until the run writes them out. Disabled, a span is just its body. */
final class Tracer(probe: SparkProbe) {
  var enabled = false
  var phase = "setup"
  var op = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, mutable.Map[String, Double])]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val notes = mutable.Map.empty[String, Double]
      val before = probe.totals()
      val start = Clock.ms
      stack = (id, notes) :: stack
      try body
      finally {
        val end = Clock.ms
        stack = stack.tail
        val after = probe.totals()
        val busy = probe.jobBusyMs(start, end)
        spans += Span(id, parent, name, phase, op, start, end, Map(
          "ms" -> (end - start),
          "jobs" -> (after.jobs - before.jobs).toDouble,
          "stages" -> (after.stages - before.stages).toDouble,
          "tasks" -> (after.tasks - before.tasks).toDouble,
          "failed_tasks" -> (after.failedTasks - before.failedTasks).toDouble,
          "job_busy_ms" -> busy,
          "driver_gap_ms" -> (end - start - busy),
          "plan_ms" -> (after.planMs - before.planMs),
          "codegen_ms" -> (after.codegenNs - before.codegenNs) / 1e6,
          "task_cpu_ms" -> (after.taskCpuNs - before.taskCpuNs) / 1e6,
          "sched_wait_ms" -> (after.schedDelayMs - before.schedDelayMs).toDouble,
          "shuffle_mb" -> (after.shuffleBytes - before.shuffleBytes) / 1048576.0,
          "spill_mb" -> (after.spillBytes - before.spillBytes) / 1048576.0,
          "gc_ms" -> (after.gcMs - before.gcMs).toDouble) ++ notes)
      }
    }

  /** Adds a count to the innermost open span (ignored when disabled). */
  def note(key: String, value: Double): Unit =
    stack.headOption.foreach { case (_, notes) => notes(key) = notes.getOrElse(key, 0.0) + value }
}

object Trace {

  /** Total length covered by a set of possibly overlapping intervals;
    * empty or inverted intervals count for nothing. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionMs(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.id -> (s.ms - covered)
    }.toMap
  }
}
