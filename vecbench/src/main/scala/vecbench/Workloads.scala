package vecbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.apache.spark.sql.vecbench.SparkInternals

import graft.cluster.KMeans
import graft.index.{IvfIndex, IvfPqIndex}
import graft.io.IndexIO
import graft.knn.Knn
import graft.llm.Dedup

/** What a workload needs from the run: the session, the seed, a working
  * directory, the tracer and the place to record check outcomes. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, cores: Int,
    tracer: Tracer, checks: Checks) {
  def path(name: String): String = s"$work/$name"
}

/** One named workload. The runner calls [[prepare]] once (untimed),
  * [[setup]] several times (timed into setup_s), then [[op]] in a timed
  * loop with [[check]] after each op (untimed), then [[finish]]. */
trait Workload {
  /** Input sizes and parameters, for the run record. */
  def sizes: Map[String, Any]
  /** What one item of `work_per_s` is. */
  def item: String
  def prepare(): Unit
  def setup(): Unit
  /** One timed operation; returns the items it completed. */
  def op(i: Int): Long
  def check(i: Int): Unit
  /** End-of-run checks; returns the workload's answer-quality figure. */
  def finish(): Double
  /** Extra figures for the run record and the traced metrics. */
  def details: Map[String, Double] = Map.empty
  /** Traced-run-only calls that the timed loop does not make. */
  def traceExtras(): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("index_build", "small_batch_search", "neardup_dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "index_build" => new IndexBuild(ctx)
    case "small_batch_search" => new SmallBatchSearch(ctx)
    case "neardup_dedup" => new NearDupDedup(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  val K = 10
  val D = 64
  /** Lloyd iterations of the coarse k-means and of PQ training. Each is
    * one Spark job, and at these sizes job overhead dominates a build. */
  val KMeansIters = 5
  val PqIters = 3

  /** Generated vectors written as parquet, with exact top-K of the
    * first `nTruth` queries. Query ids equal their array positions. */
  final class VectorInputs(ctx: Ctx, n: Int, nq: Int, nTruth: Int) {
    val data: Gen.Vectors = Gen.vectors(ctx.seed, n, nq, D)
    val basePath: String = ctx.path("base")
    val queryPath: String = ctx.path("queries")
    val truth: Map[Long, Array[(Long, Double)]] =
      Truth.topK(data.base, data.queries.take(nTruth), K).zipWithIndex
        .map { case (t, q) => q.toLong -> t }.toMap

    def write(): Unit = {
      writeVectors(ctx, data.base, basePath, "id", "vec")
      writeVectors(ctx, data.queries, queryPath, "qid", "qvec")
    }
    def base: DataFrame = ctx.spark.read.parquet(basePath)
    def queries: DataFrame = ctx.spark.read.parquet(queryPath)

    /** Whether (qid, rank, id, dist) rows give every truth query exactly
      * its reference ids, in order, with distances equal up to rounding. */
    def exactMatches(rows: Array[Row]): Boolean = {
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
      truth.forall { case (q, t) =>
        got.get(q).exists(g => g.length == t.length && g.zip(t).forall {
          case ((gi, gd), (ti, td)) => gi == ti && math.abs(gd - td) <= 1e-9 * math.max(1.0, td)
        })
      }
    }

    /** Recall@K of (qid, rank, id, dist) rows over the truth subset. */
    def recall(rows: Array[Row]): Double =
      Truth.recall(byQuery(rows).filter { case (q, _) => truth.contains(q) },
        truth.map { case (q, t) => q -> t.map(_._1).toSeq })
  }

  def vectorSchema(idCol: String, vecCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType, nullable = false),
    StructField(vecCol, ArrayType(FloatType, containsNull = false), nullable = false)))

  def writeVectors(ctx: Ctx, vs: Array[Array[Float]], path: String,
      idCol: String, vecCol: String): Unit = {
    val rows = vs.indices.map(i => Row(i.toLong, vs(i)))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores),
      vectorSchema(idCol, vecCol)).write.mode("overwrite").parquet(path)
  }

  /** ids of each query's answer rows, in rank order. */
  def byQuery(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    }

  /** Every query of `qids` has exactly K answers, ranked 1..K. */
  def fullAnswers(rows: Array[Row], qids: Iterable[Long]): Boolean = {
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).sorted.toSeq }
    qids.forall(q => got.get(q).contains((1L to K).toSeq))
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Rows the join nodes of a finished plan produced: for a search,
    * the (query, candidate) pairs it scored. */
  def joinOutputRows(plan: SparkPlan): Long =
    PlanWalk.collect(plan) {
      case j if j.nodeName.endsWith("Join") && j.metrics.contains("numOutputRows") =>
        j.metrics("numOutputRows").value
    }.sum

  /** Searches `queries` with `search`, as two spans: `.plan` around the
    * call that builds the result (which may run eager jobs) and `.exec`
    * around the action that collects it. */
  def tracedSearch(ctx: Ctx, name: String)(search: => DataFrame): Array[Row] = {
    val df = ctx.tracer.span(s"$name.plan")(search)
    ctx.tracer.span(s"$name.exec") {
      val rows = df.collect()
      if (ctx.tracer.enabled) ctx.tracer.note("pairs_scanned",
        joinOutputRows(SparkInternals.executedPlan(df)).toDouble)
      rows
    }
  }

  def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  def ivfPath(ctx: Ctx): String = ctx.path("index_ivf")
  def ivfpqPath(ctx: Ctx): String = ctx.path("index_ivfpq")

  /** k-means, then IVF-Flat and (with `withPq`) IVF-PQ adds over the
    * one trained quantizer, each saved; returns the bytes on disk. */
  def buildAndSave(ctx: Ctx, base: DataFrame, nlist: Int, withPq: Boolean): Long = {
    val t = ctx.tracer
    def save(path: String)(write: => Unit): Long = t.span("io.save") {
      write
      val bytes = dirBytes(path)
      t.note("bytes", bytes.toDouble)
      bytes
    }
    val km = t.span("cluster.kmeans_fit") {
      KMeans.fit(base, "vec", KMeans.Params(k = nlist, niter = KMeansIters, seed = ctx.seed))
    }
    val ivf = t.span("index.ivf_add") {
      IvfIndex.build(base, "id", "vec", nlist, centroids0 = km.centroids)
    }
    val ivfBytes = save(ivfPath(ctx))(ivf.save(ivfPath(ctx)))
    if (!withPq) ivfBytes
    else {
      val ivfpq = t.span("index.ivfpq_add") {
        IvfPqIndex.build(base, "id", "vec", nlist, m = 16, ksub = 256,
          niterPq = PqIters, seed = ctx.seed, centroids0 = km.centroids)
      }
      try ivfBytes + save(ivfpqPath(ctx))(IndexIO.saveIvfPq(ivfpq, ivfpqPath(ctx)))
      finally ivfpq.codes.unpersist()
    }
  }

  /** The saved indexes, opened with IndexIO's kind dispatch. */
  final case class Loaded(ivf: IvfIndex, ivfpq: Option[IvfPqIndex])

  def loadIndexes(ctx: Ctx, withPq: Boolean): Loaded = {
    val t = ctx.tracer
    Loaded(t.span("io.load")(IndexIO.load(ctx.spark, ivfPath(ctx)).asInstanceOf[IvfIndex]),
      if (!withPq) None
      else Some(t.span("io.load")(IndexIO.load(ctx.spark, ivfpqPath(ctx)).asInstanceOf[IvfPqIndex])))
  }
}

import Workloads._

/** Build: k-means, then IVF-Flat and IVF-PQ adds over the trained
  * quantizer, save, load and count. Exercises cluster, the assign and
  * PQ-encode kernels and io. After the timed loop the last built index
  * is verified by batch searches (IVF-PQ, and exact kNN against the
  * driver's ground truth), which the traced run records as those search
  * layers' spans. Set-up reads the corpus and warms up with
  * the same pipeline over a small sample of it: same plans, so same
  * generated code, and enough calls to compile the kernels, at a
  * fraction of a full build. */
final class IndexBuild(ctx: Ctx) extends Workload {
  val n = 6000; val nlist = 32; val nTruth = 100; val nprobe = 8; val nWarm = 2000
  val sizes: Map[String, Any] = Map("n" -> n, "d" -> D, "nlist" -> nlist,
    "pq_m" -> 16, "pq_ksub" -> 256, "kmeans_niter" -> KMeansIters, "pq_niter" -> PqIters,
    "verify_queries" -> nTruth, "verify_nprobe" -> nprobe, "k" -> K, "warmup_sample" -> nWarm)
  val item = "vector indexed (input parquet to saved index, reloaded and counted)"
  private val in = new VectorInputs(ctx, n, nTruth, nTruth)
  private var last: Loaded = _
  private var rows: Seq[Long] = Nil
  private var bytes = 0L
  private var extra = Map.empty[String, Double]

  private val samplePath = ctx.path("base_sample")

  def prepare(): Unit = {
    in.write()
    writeVectors(ctx, in.data.base.take(nWarm), samplePath, "id", "vec")
  }
  def setup(): Unit = {
    val read = in.base.count()
    ctx.checks.expect(-1, "corpus reads back whole", read == n, s"$read of $n")
    buildAndSave(ctx, ctx.spark.read.parquet(samplePath), nlist, withPq = true)
  }
  def op(i: Int): Long = {
    bytes = buildAndSave(ctx, in.base, nlist, withPq = true)
    last = loadIndexes(ctx, withPq = true)
    rows = ctx.tracer.span("io.count") {
      Seq(last.ivf.invlists.count(), last.ivfpq.get.codes.count())
    }
    n.toLong
  }
  def check(i: Int): Unit =
    ctx.checks.expect(i, "saved indexes reload every vector",
      rows == Seq(n.toLong, n.toLong), s"reloaded $rows of $n")
  def finish(): Double = {
    val q = in.queries
    val pq = tracedSearch(ctx, "index.ivfpq_search")(last.ivfpq.get.search(q, K, nprobe))
    val exact = tracedSearch(ctx, "knn.flat_search")(Knn.knnJoin(q, in.base, K))
    ctx.checks.expect(-1, "IVF-PQ answers every query with k rows", fullAnswers(pq, 0L until nTruth))
    ctx.checks.expect(-1, "exact kNN equals the driver ground truth", in.exactMatches(exact))
    val pqRecall = in.recall(pq)
    extra = Map("recall10_ivfpq" -> pqRecall, "index_bytes_per_vec" -> bytes.toDouble / n)
    ctx.checks.expect(-1, "IVF-PQ recall@10 at nprobe 8 above floor", pqRecall >= 0.5, s"$pqRecall")
    pqRecall
  }
  override def details: Map[String, Double] = extra
}

/** Many short reads: one client in a closed loop, each call 8 queries
  * on the IVF-Flat index, collected before the next call is sent. The
  * kernels scan little per call, so planning, codegen, eager jobs inside
  * search() and job scheduling dominate: the fixed per-query cost that
  * a large batch amortises away. */
final class SmallBatchSearch(ctx: Ctx) extends Workload {
  val n = 5000; val nlist = 32; val pool = 400; val batch = 8; val nprobe = 4
  val warmCalls = 8
  val sizes: Map[String, Any] = Map("n" -> n, "d" -> D, "nlist" -> nlist, "query_pool" -> pool,
    "batch" -> batch, "nprobe" -> nprobe, "k" -> K, "clients" -> 1, "warmup_calls" -> warmCalls)
  val item = "query answered (8 per call)"
  private val in = new VectorInputs(ctx, n, pool, pool)
  private var idx: Loaded = _
  private var requests: IndexedSeq[java.util.List[Row]] = _
  private var out: Array[Row] = _
  private val answers = scala.collection.mutable.Map.empty[Long, Seq[Long]]
  private var extra = Map.empty[String, Double]

  def prepare(): Unit = {
    in.write()
    buildAndSave(ctx, in.base, nlist, withPq = false)
    // the client's request pool, read back from the generated parquet
    val rows = in.queries.collect().sortBy(_.getLong(0))
    requests = rows.grouped(batch).map(_.toSeq.asJava).toIndexedSeq
  }
  def setup(): Unit = {
    idx = loadIndexes(ctx, withPq = false)
    (0 until warmCalls).foreach { c => op(-1 - c); check(-1 - c) }
  }
  private def callOf(i: Int): Int = Math.floorMod(i, requests.length)
  def op(i: Int): Long = {
    val q = ctx.spark.createDataFrame(requests(callOf(i)), vectorSchema("qid", "qvec"))
    out = tracedSearch(ctx, "index.ivf_search")(idx.ivf.search(q, K, nprobe))
    batch
  }
  def check(i: Int): Unit = {
    val qids = requests(callOf(i)).asScala.map(_.getLong(0))
    ctx.checks.expect(i, "every query of the call gets k rows", fullAnswers(out, qids))
    answers ++= byQuery(out)
  }
  def finish(): Double = {
    val r = Truth.recall(answers.toMap,
      in.truth.filter { case (q, _) => answers.contains(q) }.map { case (q, t) => q -> t.map(_._1).toSeq })
    extra = Map("recall10_ivf" -> r)
    ctx.checks.expect(-1, "IVF-Flat recall@10 at nprobe 4 above floor", r >= 0.7, s"$r")
    r
  }
  override def details: Map[String, Double] = extra
}

/** Text near-duplicate detection: MinHash-LSH candidates from banded
  * signatures, verified by exact shingle Jaccard. The MinHash kernels
  * and the band self-join shuffle do the work; no vector layer runs. */
final class NearDupDedup(ctx: Ctx) extends Workload {
  val n = 30000; val threshold = 0.8; val sample = 200
  val sizes: Map[String, Any] = Map("docs" -> n, "tokens_per_doc" -> 50,
    "planted_frac" -> 0.05, "threshold" -> threshold, "ngram" -> 3, "hashes" -> 12, "bands" -> 4)
  val item = "document deduplicated"
  private val gen = Gen.docs(ctx.seed, n)
  private val docsPath = ctx.path("docs")
  private var pairs: Array[(Long, Long)] = _
  private val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var found = 0.0

  def prepare(): Unit = {
    val rows = gen.texts.indices.map(i => Row(i.toLong, gen.texts(i)))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
      .write.mode("overwrite").parquet(docsPath)
  }
  private def docs: DataFrame = ctx.spark.read.parquet(docsPath)
  def setup(): Unit = { op(-1); check(-1) }
  def op(i: Int): Long = {
    pairs = ctx.tracer.span("llm.near_dup_pairs") {
      val df = Dedup.nearDupPairs(docs, "id", "text", threshold)
      val p = try df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
        finally Dedup.release(df)
      ctx.tracer.note("pairs", p.length.toDouble)
      p
    }
    n.toLong
  }
  def check(i: Int): Unit = {
    if (i >= 0) counts += pairs.length
    val planted = gen.planted.toSet
    found = pairs.count(planted).toDouble / planted.size
    val rnd = new java.util.SplittableRandom(ctx.seed + i)
    val sampled = Seq.fill(math.min(sample, pairs.length))(pairs(rnd.nextInt(pairs.length)))
    val bad = sampled.filter { case (a, b) =>
      Truth.jaccard(gen.texts(a.toInt), gen.texts(b.toInt)) < threshold - 1e-9
    }
    ctx.checks.expect(i, "sampled emitted pairs reach the Jaccard threshold", bad.isEmpty,
      s"${bad.size} of ${sampled.size} below $threshold")
  }
  def finish(): Double = {
    ctx.checks.expect(-1, "pair count repeats exactly across passes",
      counts.distinct.size <= 1, counts.mkString(","))
    ctx.checks.expect(-1, "planted pairs found above floor", found >= 0.85, s"$found")
    found
  }
  override def traceExtras(): Unit = ctx.tracer.span("llm.lsh_candidates") {
    val c = Dedup.minhashLshCandidates(docs, "id", "text", 3, 12, 4)
    try ctx.tracer.note("count", c.count().toDouble) finally Dedup.release(c)
  }
  override def details: Map[String, Double] = Map(
    "dedup_recall" -> found, "dedup_pairs" -> counts.headOption.getOrElse(0).toDouble)
}
