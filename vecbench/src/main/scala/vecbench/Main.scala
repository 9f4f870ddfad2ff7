package vecbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.vecbench.SparkInternals

/** One correctness check. `op` is the timed operation it belongs to,
  * or negative for set-up and run-level checks. */
final case class Outcome(op: Int, name: String, ok: Boolean, detail: String)

/** Outcome of every correctness check a run makes. */
final class Checks {
  val outcomes = ArrayBuffer.empty[Outcome]

  def expect(op: Int, name: String, ok: Boolean, detail: => String = ""): Unit = {
    outcomes += Outcome(op, name, ok, if (ok) "" else detail)
    if (!ok) System.err.println(s"[vecbench] CHECK FAILED (op $op): $name ${if (detail.isEmpty) "" else s"- $detail"}")
  }

  def failures: Seq[Outcome] = outcomes.filterNot(_.ok).toSeq
}

/** Per-op timings of one timed region. */
final case class Region(opMs: Seq[Double], items: Long, taskCpuNs: Long,
    startMs: Double, endMs: Double) {
  def busyMs: Double = opMs.sum
}

/** Runs one workload: untimed input preparation, several timed set-ups,
  * the timed loop with tracing off, and with `--trace 1` a second timed
  * loop with tracing on, plus the kernel probes. Writes the run record
  * and the one-line result, and exits non-zero when any check failed. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, record: String, result: String, tree: String)

  val SetupReps = 3
  /** At least three ops, so the median discards one disturbed op. */
  val MinOps = 3
  /** How much slower the first half of a timed loop may run than the
    * second before the run counts as under-warmed. */
  val WarmTolerance = 0.5

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    log(f"session ready after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    val code =
      try run(spark, o)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    log(f"stopped after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("work"), need("record"), need("result"), m.getOrElse("tree", "unknown"))
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"vecbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // the session settings of the engine's own catalog bench
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(spark: SparkSession, o: Opts): Int = {
    val probe = new SparkProbe(spark)
    val tracer = new Tracer(probe)
    val checks = new Checks
    val ctx = Ctx(spark, o.seed, o.work, o.cores, tracer, checks)
    val wl = Workloads(o.workload, ctx)

    val prepS = seconds { wl.prepare() }
    log(f"inputs prepared in $prepS%.2f s")
    tracer.enabled = o.trace
    val setupS = (0 until SetupReps).map { r =>
      val s = seconds { wl.setup() }
      log(f"set-up ${r + 1}/$SetupReps took $s%.2f s"); s
    }
    tracer.enabled = false
    val plain = timedLoop(spark, probe, tracer, wl, checks, o.seconds)
    log(s"timed loop: ${plain.opMs.length} ops, ms ${plain.opMs.map(x => f"$x%.0f").mkString(" ")}")
    val traced = if (!o.trace) None else {
      tracer.enabled = true
      tracer.phase = "timed"
      Some(timedLoop(spark, probe, tracer, wl, checks, o.seconds))
    }
    tracer.phase = "extra"
    if (o.trace) wl.traceExtras()
    val quality = wl.finish()
    tracer.enabled = false
    val kernels = if (o.trace) Kernels.measure(o.seed) else Map.empty[String, Double]
    checks.expect(-1, "timed loop is warm (first half within tolerance of second)",
      Stats.warm(plain.opMs, WarmTolerance), plain.opMs.map(x => f"$x%.1f").mkString(","))

    val endToEnd = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "work_per_s" -> (plain.items / (plain.busyMs / 1000), "1/s"),
      "op_ms_p50" -> (Stats.median(plain.opMs), "ms"),
      "cpu_us_per_item" -> (plain.taskCpuNs / 1e3 / plain.items, "us"),
      "recall" -> (quality, "ratio"))
    val perLayer = traced.map { r =>
      val spans = tracer.spans.toSeq
      val acc = accountedPct(spans, r)
      checks.expect(-1, "span self times plus gaps account for the timed region within 5%",
        math.abs(acc - 100) <= 5, f"$acc%.2f%%")
      PerLayer(spans, r.opMs.length, SetupReps, kernels) ++ Map(
        "trace.overhead_pct" -> (100 * (Stats.median(r.opMs) / Stats.median(plain.opMs) - 1), "pct"),
        "trace.accounted_pct" -> (acc, "pct"))
    }.getOrElse(Map.empty)

    val failedOps = checks.failures.filter(_.op >= 0).map(_.op).distinct.size
    val runChecks = checks.outcomes.filter(_.op < 0)
    val failed = failedOps + runChecks.count(!_.ok)
    val attempted = plain.opMs.length + traced.map(_.opMs.length).getOrElse(0) + runChecks.size
    val reported = if (o.trace) perLayer else endToEnd
    val metrics = reported.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) }

    writeRecord(o, Map(
      "run_id" -> java.util.UUID.randomUUID().toString,
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "tree" -> o.tree, "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[${o.cores}]",
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "sizes" -> wl.sizes, "item" -> wl.item, "prepare_s" -> prepS, "setup_s" -> setupS,
      "op_ms" -> plain.opMs, "items" -> plain.items,
      "op_ms_tail" -> Stats.tail(plain.opMs).map { case (p, v) => Map("percentile" -> p, "ms" -> v) },
      "traced_op_ms" -> traced.map(_.opMs), "details" -> wl.details,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> checks.outcomes.map(c => Map("op" -> c.op, "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "phase" -> s.phase, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "values" -> s.values))))
    val result = Json.render(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics))
    java.nio.file.Files.write(java.nio.file.Paths.get(o.result),
      result.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (failed == 0) 0 else 1
  }

  private def log(msg: String): Unit = System.err.println(s"[vecbench] $msg")

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Runs ops until `seconds` of wall time have passed (at least
    * [[MinOps]]), checking each op's output outside the timing. Before
    * every op the session must hold no persisted Dataset: the only
    * persisted data a timed op may read is what that op persists itself,
    * so no op is ever served from an earlier op's cached result. */
  private def timedLoop(spark: SparkSession, probe: SparkProbe, tracer: Tracer,
      wl: Workload, checks: Checks, seconds: Int): Region = {
    val opMs = ArrayBuffer.empty[Double]
    var items = 0L
    val before = probe.totals()
    val start = Clock.ms
    var i = 0
    var broken = false
    while (!broken && (Clock.ms - start < seconds * 1000.0 || i < MinOps)) {
      val cached = SparkInternals.cachedEntries(spark)
      checks.expect(i, "no persisted result is left over before the op", cached == 0,
        s"$cached cached entries")
      tracer.op = i
      val t0 = Clock.ms
      try {
        items += tracer.span("bench.op")(wl.op(i))
        opMs += Clock.ms - t0
        wl.check(i)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          checks.expect(i, "op completes", ok = false, e.toString)
          broken = true
      }
      i += 1
    }
    tracer.op = -1
    val end = Clock.ms
    val after = probe.totals()
    Region(opMs.toSeq, items, after.taskCpuNs - before.taskCpuNs, start, end)
  }

  /** (Sum of self times of the timed region's spans + time outside any
    * top-level span) as a share of the region's wall time. */
  private def accountedPct(spans: Seq[Span], r: Region): Double = {
    val timed = spans.filter(_.phase == "timed")
    val self = Trace.selfMs(timed)
    val top = timed.filter(_.parent < 0)
    val gap = (r.endMs - r.startMs) - top.map(_.ms).sum
    100 * (self.values.sum + gap) / (r.endMs - r.startMs)
  }

  private def writeRecord(o: Opts, record: Map[String, Any]): Unit = {
    val p = java.nio.file.Paths.get(o.record)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, Json.render(record).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Per-layer metrics from a traced run's spans. A span metric is the
  * span's total per timed op when the span runs in the timed loop,
  * else per set-up repetition, else per traced extra call; a layer the
  * workload never calls reports 0. `spark.*` metrics are per timed op,
  * read from the op spans. */
object PerLayer {

  /** (span name, value key, metric unit) of every reported span metric. */
  val SpanMetrics: Seq[(String, String, String)] = Seq(
    ("cluster.kmeans_fit", "ms", "ms"), ("cluster.kmeans_fit", "task_cpu_ms", "ms"),
    ("cluster.kmeans_fit", "jobs", "count"),
    ("index.ivf_add", "ms", "ms"),
    ("index.ivfpq_add", "ms", "ms"), ("index.ivfpq_add", "task_cpu_ms", "ms"),
    ("index.ivfpq_add", "shuffle_mb", "MB"),
    ("io.save", "ms", "ms"), ("io.save", "bytes", "bytes"), ("io.load", "ms", "ms"),
    ("knn.flat_search.plan", "ms", "ms"),
    ("knn.flat_search.exec", "ms", "ms"), ("knn.flat_search.exec", "task_cpu_ms", "ms"),
    ("knn.flat_search.exec", "pairs_scanned", "count"),
    ("index.ivf_search.plan", "ms", "ms"), ("index.ivf_search.plan", "jobs", "count"),
    ("index.ivf_search.exec", "ms", "ms"), ("index.ivf_search.exec", "task_cpu_ms", "ms"),
    ("index.ivf_search.exec", "pairs_scanned", "count"),
    ("index.ivfpq_search.plan", "ms", "ms"), ("index.ivfpq_search.plan", "jobs", "count"),
    ("index.ivfpq_search.exec", "ms", "ms"), ("index.ivfpq_search.exec", "task_cpu_ms", "ms"),
    ("index.ivfpq_search.exec", "pairs_scanned", "count"),
    ("llm.near_dup_pairs", "ms", "ms"), ("llm.near_dup_pairs", "task_cpu_ms", "ms"),
    ("llm.near_dup_pairs", "shuffle_mb", "MB"), ("llm.near_dup_pairs", "spill_mb", "MB"),
    ("llm.near_dup_pairs", "gc_ms", "ms"), ("llm.near_dup_pairs", "pairs", "count"),
    ("llm.lsh_candidates", "count", "count"),
    ("bench.op", "self_ms", "ms"))

  /** (value key, metric name, unit) of the per-op Spark metrics. */
  val OpMetrics: Seq[(String, String, String)] = Seq(
    ("jobs", "spark.jobs_per_op", "count"), ("stages", "spark.stages_per_op", "count"),
    ("tasks", "spark.tasks_per_op", "count"), ("failed_tasks", "spark.failed_tasks", "count"),
    ("driver_gap_ms", "spark.driver_gap_ms", "ms"), ("plan_ms", "spark.plan_ms", "ms"),
    ("codegen_ms", "spark.codegen_ms", "ms"), ("job_busy_ms", "spark.job_busy_ms", "ms"),
    ("sched_wait_ms", "spark.sched_wait_ms", "ms"), ("task_cpu_ms", "spark.task_cpu_ms", "ms"),
    ("shuffle_mb", "spark.shuffle_mb", "MB"), ("spill_mb", "spark.spill_mb", "MB"),
    ("gc_ms", "spark.gc_ms", "ms"))

  val KernelMetrics: Seq[String] = Seq("l2sq_ns", "pq_encode_ns", "pq_adc_ns", "minhash_ns", "intersect_ns")

  def apply(spans: Seq[Span], timedOps: Int, setupReps: Int,
      kernels: Map[String, Double]): Map[String, (Double, String)] = {
    val self = Trace.selfMs(spans)
    def value(s: Span, key: String): Double =
      if (key == "self_ms") self(s.id) else s.values.getOrElse(key, 0.0)
    /** Total of `key` over the spans named `name`, per unit of the
      * phase they ran in. */
    def perUnit(name: String, key: String): Double = {
      val named = spans.filter(_.name == name)
      Seq("timed" -> timedOps, "setup" -> setupReps, "extra" -> 1).collectFirst {
        case (phase, units) if named.exists(_.phase == phase) =>
          named.filter(_.phase == phase).map(value(_, key)).sum / units
      }.getOrElse(0.0)
    }
    def nsPerPair(name: String): Double = {
      val pairs = perUnit(s"$name.exec", "pairs_scanned")
      if (pairs == 0) 0.0 else perUnit(s"$name.exec", "task_cpu_ms") * 1e6 / pairs
    }
    val spanMetrics = SpanMetrics.map { case (name, key, unit) =>
      s"$name.$key" -> (perUnit(name, key), unit)
    }
    val opSpans = spans.filter(s => s.name == "bench.op" && s.phase == "timed")
    val opMetrics = OpMetrics.map { case (key, metric, unit) =>
      metric -> (if (opSpans.isEmpty) 0.0 else opSpans.map(value(_, key)).sum / opSpans.size, unit)
    }
    val candidates = perUnit("llm.lsh_candidates", "count")
    val pairs = perUnit("llm.near_dup_pairs", "pairs")
    (spanMetrics ++ opMetrics ++ Seq(
      "knn.flat_search.exec.ns_per_pair" -> (nsPerPair("knn.flat_search"), "ns"),
      "index.ivf_search.exec.ns_per_pair" -> (nsPerPair("index.ivf_search"), "ns"),
      "index.ivfpq_search.exec.ns_per_pair" -> (nsPerPair("index.ivfpq_search"), "ns"),
      "llm.verify_yield" -> (if (candidates == 0) 0.0 else pairs / candidates, "ratio")) ++
      KernelMetrics.map(k => s"core.$k" -> (kernels.getOrElse(k, 0.0), "ns"))).toMap
  }
}
