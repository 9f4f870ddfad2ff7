package graft.knn

import graft.SparkTestBase
import graft.index.IvfIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import scala.jdk.CollectionConverters._

/** Physical-plan regression checks: the scale story depends on these
  * plan shapes, not just on correct results (builder prompt: "the plan
  * you'd want, not the first one that passed"). */
class PlanSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private def q = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("knnJoin: broadcast queries, partial top-k, base never shuffled") {
    val plan = Knn.knnJoin(q, b, 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"no broadcast NLJ:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"no object hash agg:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"), s"no partial top-k:\n$plan")
    // exactly one data shuffle: the k-rows-per-group final aggregation
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$plan")
  }

  test("Index2Layer reconstruct is shuffle-free (broadcast centroid lookup + in-row decode)") {
    val idx = graft.index.TwoLayerIndex.build(b, "id", "vec",
      nlist = 4, m = 8, ksub = 16, niterCoarse = 2, niterPq = 2)
    val plan = idx.reconstruct.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 0, s"reconstruct must not shuffle, got $shuffles:\n$plan")
  }

  test("spectral-hash search: probe rows looked up in the scan, single top-k exchange") {
    val idx = graft.index.IvfSpectralHash.build(b, "id", "vec",
      nlist = 4, nbit = 16, period = 1.0, thresholdType = "global", niter = 2)
    val plan = idx.search(q, k = 5, nprobe = 2).queryExecution.executedPlan
    assert(plan.toString.contains("probe_lookup"), s"no probe lookup:\n$plan")
    // the in-session codes are not cached, so the plan also carries the
    // build's own joins; the search adds only the top-k merge's exchange
    val exchanges = planWalk.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size == 1 && planWalk.collect(exchanges.head.child) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        a.toString.toLowerCase.contains("partial_topk") }.contains(true),
      s"expected the partial top-k's exchange alone:\n$plan")
  }

  test("window-rank filter gets the built-in WindowGroupLimit pushdown (no custom Rule needed)") {
    // SURVEY §7 listed an optional Rule rewriting row_number<=k to a
    // top-k aggregate; Spark 4's InferWindowGroupLimit already inserts
    // a per-partition group limit before the window sort, so SQL users
    // writing the window idiom get a bounded partial top-k natively —
    // we keep the (faster) heap aggregate for the API path and rely on
    // the built-in for the SQL idiom, per the built-ins-first doctrine.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val plan = emb.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("chunk_documents is a narrow map: zero exchanges") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = graft.llm.Corpus.chunk(docs, "doc_id", "text", 64, 16)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(plan).length
    assert(shuffles == 0, s"chunking must not shuffle, got $shuffles:\n$plan")
  }

  test("decontamination is an equi-join, never a cartesian/BNLJ") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = graft.llm.Corpus.contaminated(
      docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", ngram = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
  }

  test("base-side id filter is pushed to the parquet scan") {
    // other suites may have cached this very parquet read; the scan
    // shape only exists against the raw relation
    spark.catalog.clearCache()
    val df = Knn.knnJoin(q, b, 5, filter = Some(col("id").between(100, 299)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(vec_id,100)"),
      s"filter not pushed:\n$plan")
  }

  test("projection pruning: only vec_id and embedding are read") {
    spark.catalog.clearCache()
    val plan = Knn.knnJoin(q, b, 5).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("label"), "label column should be pruned from scan")
  }

  test("persisted IVF search reads only the probed list_no partitions") {
    // 100 lists of 1000 rows, saved as list_no-sorted files with more
    // than one 20 000-row parquet page each
    val nlist = 100
    val n = 100000
    val inv = spark.range(n).select(col("id"),
      array((col("id") % nlist).cast("float"), lit(0f), lit(0f), lit(0f)).as("vec"),
      (col("id") % nlist).cast("int").as("list_no"))
    val idx = new IvfIndex(4, "l2sq", nlist, Array.tabulate(nlist)(l => Array(l.toFloat, 0f, 0f, 0f)), inv)
    val dir = java.nio.file.Files.createTempDirectory("ivfplan").toString
    idx.save(dir)
    val files = graft.io.IndexLayoutFixtures.storedLists(spark, s"$dir/invlists", "list_no")
    assert(files.map(_.size).max > 20000, s"file sizes ${files.map(_.size)}")
    val loaded = graft.io.IndexIO.loadAs[IvfIndex](spark, dir)
    import spark.implicits._
    val oneQuery = Seq((0L, Seq(42.3f, 0f, 0f, 0f))).toDF("qid", "qvec")
    val lists = loaded.probedListNos(oneQuery, 2)
    assert(lists.sorted.toSeq == Seq(42, 43))
    val probed = loaded.invlists
      .filter(col("list_no").isin(lists.map(Integer.valueOf): _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\n]*list_no".r.findFirstIn(plan).isDefined,
      s"list_no filter not pushed to the parquet scan:\n$plan")
    val read = probed.select(col("list_no"))
    val got = read.collect().map(_.getInt(0))
    assert(got.length == 2000 && got.distinct.sorted.toSeq == Seq(42, 43))
    // the pushed filter skips pages: the scan emits fewer rows than stored
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(read.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1)
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned >= 2000 && scanned < n, s"scanned $scanned of $n rows")
  }

  test("persisted IVF search over scattered probed lists reads only their pages") {
    // 8 queries x nprobe 4 probe 32 lists spread over all 100: more
    // values than spark.sql.parquet.pushdown.inFilterThreshold (10),
    // past which parquet prunes pages by an IN's min and max alone.
    // Pages of 1000 rows, one list each: the shape of a store whose
    // lists are larger than parquet's default 20 000-row page.
    val nlist = 100
    val n = 100000
    val inv = spark.range(n).select(col("id"),
      array((col("id") % nlist).cast("float"), lit(0f), lit(0f), lit(0f)).as("vec"),
      (col("id") % nlist).cast("int").as("list_no"))
    val idx = new IvfIndex(4, "l2sq", nlist, Array.tabulate(nlist)(l => Array(l.toFloat, 0f, 0f, 0f)), inv)
    val dir = java.nio.file.Files.createTempDirectory("ivfscatter").toString
    val key = "parquet.page.row.count.limit"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    try idx.save(dir) finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val loaded = graft.io.IndexIO.loadAs[IvfIndex](spark, dir)
    // one split: its pages, not its splits, keep the probed-list filter
    assert(shim.oneSplit(loaded.invlists) && shim.skipsRows(loaded.invlists, "list_no"))
    import spark.implicits._
    // runs of 4 lists (each pushed as equalities) and of 12 (each as
    // one parquet IN, pruned by its min and max)
    for ((xs, nprobe) <- Seq(Seq(3.2f, 15.7f, 27.1f, 40.4f, 52.8f, 66.3f, 78.6f, 91.2f) -> 4,
        Seq(6.5f, 50.5f, 85.5f) -> 12)) {
      val qs = xs.zipWithIndex.map { case (x, i) => (i.toLong, Seq(x, 0f, 0f, 0f)) }.toDF("qid", "qvec")
      val lists = loaded.probedListNos(qs, nprobe).sorted
      val rows = lists.length * 1000
      assert(lists.length > 30 && lists.head < 5 && lists.last > 90, lists.mkString(","))
      val res = loaded.search(qs, k = 5, nprobe = nprobe)
      assert(res.collect().length == xs.length * 5)
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(res.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size == 1)
      val scanned = scans.head.metrics("numOutputRows").value
      // the probed lists' rows, and at most one page on each side of
      // each run of adjacent lists
      assert(scanned >= rows && scanned <= rows + 2 * xs.length * 1000,
        s"scanned $scanned of $n rows for the probed lists' $rows")
    }
  }

  test("listFilter keeps exactly the probed lists, with or without merged runs") {
    val ids = spark.range(300).select(col("id").cast("int").as("list_no"))
    for (p <- Seq(Array.empty[Int], Array(7), (40 until 60).toArray, Array(5, 3, 4, 90, 17, 17, 250),
        (0 until 300 by 2).toArray)) {
      val got = ids.filter(graft.index.Probes.listFilter(col("list_no"), p))
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(got == p.distinct.sorted.toSeq)
    }
    // 150 runs: merged into 64 ranges, and the IN of all keeps it exact
    import org.apache.spark.sql.catalyst.expressions.{In, Or}
    val merged = ids.filter(graft.index.Probes.listFilter(col("list_no"), (0 until 300 by 2).toArray))
      .queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter].condition
    assert(merged.collect { case o: Or => o }.size == graft.index.Probes.MaxRuns - 1)
    assert(merged.collect { case i: In => i.list.size } == Seq(150))
  }

  test("session-built (cached) IVF search pushes the probed-list INSET into the scan") {
    // the *_big queries search a memory-persisted session index: the
    // probed list_no filter must reach the InMemoryTableScan (the
    // cached-index analog of parquet PartitionFilters — that shape is
    // pinned by the persisted-IVF test above). EXPLAIN.md captures the
    // same shape at sf0.01 (r05 finding: the sections were degenerate
    // LocalTableScan <empty> because the sf0.001 query set is empty).
    val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 3)
    idx.invlists.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    try {
      val plan = idx.search(q, k = 5, nprobe = 2).queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), s"no cached scan:\n$plan")
      assert("list_no#\\d+ IN".r.findFirstIn(plan).isDefined,
        s"probed-list filter not pushed into the cached scan:\n$plan")
      assert(plan.toLowerCase.contains("partial_topk"), s"no partial top-k:\n$plan")
    } finally idx.invlists.unpersist()
  }

  test("fast-scan search keeps the flat-scan shape: broadcast LUTs, partial top-k, one exchange") {
    val fs = graft.index.Pq4FastScanIndex.build(b, "id", "vec", m = 8, niter = 2)
    val plan = fs.search(q, 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"queries+LUTs not broadcast:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"), s"no partial top-k:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$plan")
  }

  test("IVF fast-scan pushes the probed-list filter below the probe lookup") {
    val ivf = graft.index.IvfPq4FastScanIndex.build(b, "id", "vec", nlist = 8,
      m = 8, niterCoarse = 2, niterPq = 2)
    val plan = ivf.search(q, 5, nprobe = 2).queryExecution.executedPlan.toString
    assert("list_no(#\\d+)? IN \\(".r.findFirstIn(plan).isDefined,
      s"probed-list filter not pushed:\n$plan")
    assert("Generate inline\\(probe_lookup\\(list_no".r.findFirstIn(plan).isDefined,
      s"probe rows not looked up in the scan:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"), s"no partial top-k:\n$plan")
  }

  test("IMI+PQ search: probed-cell filter pushed, probe rows looked up, partial top-k") {
    val idx = graft.index.ImiPqIndex.build(b, "id", "vec", ksub = 4,
      m = 8, pqKsub = 16, niterCoarse = 2, niterPq = 2)
    val plan = idx.search(q, 5, nprobe = 4).queryExecution.executedPlan
    val text = plan.toString
    // static cell pruning below the probe lookup (the 100 TB claim: the
    // codes scan touches only the probed cells); Spark renders small
    // in-lists as `IN (...)` and larger ones as `INSET ...`
    assert("cell(#\\d+)? IN(SET)?[ (]".r.findFirstIn(text).isDefined,
      s"probed-cell filter not pushed:\n$text")
    // the LUT/qcode-bearing probe rows are looked up in the codes scan:
    // no join, and at most the top-k merge's exchange (none when the
    // codes scan as one split and the top-k merges in the scan's task)
    assert(text.contains("probe_lookup") && !text.contains("Join"),
      s"probe rows not looked up:\n$text")
    val exchanges = planWalk.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e.nodeName }
    assert(exchanges.size <= 1, s"expected the top-k exchange alone:\n$text")
    assert(text.toLowerCase.contains("partial_topk"), s"no partial top-k:\n$text")
    idx.close()
  }

  test("big-batch IVF search (broadcastQueries=false): the probe join survives " +
    "as a shuffle equi-join when broadcast is disabled, results unchanged") {
    // ivf_search_big_batch's 100x-scale claim must be a demonstrated
    // plan, not an AQE-threshold argument (VERDICT r12): with both
    // broadcast thresholds off, the distributed-probe variant must
    // plan a SortMergeJoin/ShuffledHashJoin on list_no — the shape a
    // corpus-sized query table needs — and return exactly the rows
    // the broadcast plan returns.
    val idx = IvfIndex.build(b, "id", "vec", nlist = 4, niter = 2)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      val viaBroadcast = idx.search(q, 5, nprobe = 2).collect().toSet
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val dist = idx.search(q, 5, nprobe = 2, broadcastQueries = false)
      val plan = dist.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"probe join did not survive as a shuffle equi-join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"unexpected broadcast under threshold=-1:\n$plan")
      assert(dist.collect().toSet == viaBroadcast,
        "distributed-probe results differ from the broadcast plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("big-batch IVF search runs ONE probe-assign: plan construction launches no job " +
    "(VERDICT r13 #1)") {
    // With broadcastQueries=false the query set is corpus-sized: the
    // old static-prune collect ran a full coarse-quantization job
    // inside the plan builder and then recomputed the probe table in
    // the join. The fixed path must build the plan lazily — zero Spark
    // jobs before the caller's action — so the probe assignment runs
    // exactly once, inside the shuffle equi-join.
    val idx = IvfIndex.build(b, "id", "vec", nlist = 4, niter = 2)
    // ensure the fixture caches are warm so the count below is exact
    idx.invlists.count()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val df = idx.search(q, 5, nprobe = 2, broadcastQueries = false,
        maxCodes = Some(1000))
      val pre = idx.searchPreassigned(q,
        df.select(col("qid"), lit(0).as("list_no")), k = 5,
        broadcastProbes = false)
      assert(pre.columns.nonEmpty) // plans built, never executed
      // flush the async listener bus with a sentinel job (RDD action =
      // exactly one job, no AQE), then assert it is the ONLY job seen
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"plan construction launched ${jobs.get() - 1} eager Spark job(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("small-batch IVF-Flat and IVF-PQ search coarse-quantize a createDataFrame " +
    "query set on the driver: no job before the action, at most 3 in it") {
    val idx = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2)
    val pq = graft.index.IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8,
      ksub = 16, niterCoarse = 2, niterPq = 2)
    val local = spark.createDataFrame(q.collect().toSeq.asJava, q.schema)
    val ((flat, adc), planJobs) = jobsLaunchedBy(
      (idx.search(local, 5, nprobe = 2), pq.search(local, 5, nprobe = 2)))
    assert(planJobs == 0, s"search plan construction launched $planJobs job(s)")
    val (rows, execJobs) = jobsLaunchedBy(flat.collect())
    assert(rows.length == 50 && execJobs <= 3, s"IVF-Flat action ran $execJobs jobs")
    assert(adc.count() == 50)
    pq.codes.unpersist()
  }

  test("small-batch IMI-PQ and binary IVF search pick their probes on the driver " +
    "over a createDataFrame query set: no job before the action") {
    val imipq = graft.index.ImiPqIndex.build(b, "id", "vec", ksub = 4, m = 8,
      pqKsub = 16, niterCoarse = 2, niterPq = 2)
    val bivf = graft.index.BinaryIvfIndex.buildFromVectors(b, "id", "vec",
      nlist = 8, niter = 2)
    val local = spark.createDataFrame(q.collect().toSeq.asJava, q.schema)
    val localCodes = spark.createDataFrame(
      q.select(col("qid"), graft.functions.sign_bits(col("qvec")).as("qcode"))
        .collect().toSeq.asJava, new org.apache.spark.sql.types.StructType()
        .add("qid", "long").add("qcode", "binary"))
    val ((adc, hd), planJobs) = jobsLaunchedBy(
      (imipq.search(local, 5, nprobe = 4), bivf.search(localCodes, 5, nprobe = 2)))
    assert(planJobs == 0, s"search plan construction launched $planJobs job(s)")
    for (df <- Seq(adc, hd)) {
      assert(df.count() == 50)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("probe_lookup"), s"no probe lookup:\n$plan")
    }
    imipq.close()
  }

  /** `idx` saved with its clustered frame `frame` as `files`
    * list-sorted data files (one shuffle partition per file, AQE off)
    * under the extra `confs`, and loaded. */
  private def saved[T: scala.reflect.ClassTag](idx: T, frame: String, files: Int,
      confs: (String, String)*): T = {
    val dir = java.nio.file.Files.createTempDirectory("ivfsplits").toString
    val all = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> files.toString) ++ confs
    val prev = all.map { case (k, _) => k -> spark.conf.getOption(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try graft.io.IndexIO.save(idx, dir)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val stored = graft.io.IndexLayoutFixtures.storedLists(spark, s"$dir/$frame", "list_no")
    assert(stored.size == files, s"${stored.size} data files, wanted $files")
    graft.io.IndexIO.loadAs[T](spark, dir)
  }

  /** An IVF-Flat index over `b`, saved as `files` data files and loaded. */
  private def savedIvf(files: Int): IvfIndex =
    saved(IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2), "invlists", files)

  private def localQueries = spark.createDataFrame(q.collect().toSeq.asJava, q.schema)

  private val planWalk = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Rows the probe-lookup generators of a finished plan emitted. */
  private def lookupRows(df: org.apache.spark.sql.DataFrame): Long =
    planWalk.collect(df.queryExecution.executedPlan) {
      case g: org.apache.spark.sql.execution.GenerateExec
          if g.generator.exists(_.isInstanceOf[graft.core.ProbeLookup]) =>
        g.metrics("numOutputRows").value
    }.sum

  /** `body` planned with the broadcast threshold off, so a search joins
    * its probe rows instead of looking them up. */
  private def probeJoin[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether a plan filters on column `c`: in a Filter node, or pushed
    * into a file scan. */
  private def filtersOn(df: org.apache.spark.sql.DataFrame, c: String): Boolean =
    planWalk.collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FilterExec => Seq(f.condition)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.dataFilters ++ s.partitionFilters
    }.flatten.exists(_.references.exists(_.name == c))

  /** Rows the join nodes of a finished plan emitted. */
  private def joinRows(df: org.apache.spark.sql.DataFrame): Long =
    planWalk.collect(df.queryExecution.executedPlan) {
      case j if j.nodeName.endsWith("Join") => j.metrics("numOutputRows").value
    }.sum

  test("small-batch IVF-Flat search over a saved one-file index runs one job: " +
    "probe rows looked up in the scan, top-k merged in its task") {
    val idx = savedIvf(1)
    val local = localQueries
    val ((rows, df), jobs) = jobsLaunchedBy {
      val df = idx.search(local, 5, nprobe = 2)
      (df.collect(), df)
    }
    assert(jobs == 1, s"search and collect ran $jobs jobs")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("probe_lookup"), s"no probe lookup:\n$plan")
    assert(!plan.contains("Exchange"), s"exchange in a one-split search:\n$plan")
    // one page of list_no: parquet could skip nothing, so no filter
    assert(!filtersOn(df, "list_no"), s"probed-list filter in a one-page search:\n$plan")
    assert(rows.length == 50 &&
      rows.toSet == idx.search(local, 5, nprobe = 2, broadcastQueries = false).collect().toSet)
  }

  test("small-batch IVF-Flat search over a two-split store keeps its top-k exchange") {
    val idx = savedIvf(2)
    val local = localQueries
    val df = idx.search(local, 5, nprobe = 2)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("probe_lookup"), s"no probe lookup:\n$plan")
    val exchanges = planWalk.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e.nodeName }
    assert(exchanges == Seq("Exchange"), s"expected the top-k exchange alone:\n$plan")
    assert(rows.toSet == idx.search(local, 5, nprobe = 2, broadcastQueries = false).collect().toSet)
  }

  test("a saved one-page IVF-Flat or IVF-PQ store compiles its scan once for every probe set") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val flat = savedIvf(1)
    val built = graft.index.IvfPqIndex.build(b, "id", "vec", nlist = 8, m = 8,
      ksub = 16, niterCoarse = 2, niterPq = 2)
    val pq = saved(built, "codes", 1)
    built.codes.unpersist()
    // a query at a centroid probes that centroid's list alone at nprobe 1
    def at(cents: Array[Array[Float]], lists: Seq[Int]) = spark.createDataFrame(
      lists.map(l => org.apache.spark.sql.Row(l.toLong, cents(l).toSeq)).asJava, q.schema)
    assert(flat.probedListNos(at(flat.centroids, Seq(0, 1)), 1).toSet == Set(0, 1) &&
      flat.probedListNos(at(flat.centroids, Seq(2, 3)), 1).toSet == Set(2, 3))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    for ((name, cents, search, viaJoin) <- Seq[(String, Array[Array[Float]],
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("IVF-Flat", flat.centroids, flat.search(_, 5, nprobe = 1),
          flat.search(_, 5, nprobe = 1, broadcastQueries = false)),
        ("IVF-PQ", pq.centroids, pq.search(_, 5, nprobe = 1),
          qs => probeJoin(pq.search(qs, 5, nprobe = 1))))) {
      val (warm, fresh) = (at(cents, Seq(0, 1)), at(cents, Seq(2, 3)))
      search(warm).collect()
      val expected = rows(viaJoin(fresh))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val got = search(fresh)
      val res = rows(got)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"$name compiled $compiled classes for a new probe set:\n" +
        got.queryExecution.executedPlan)
      assert(res.size == 10 && res == expected, name)
    }
  }

  test("the probed-list filter stays where the read can skip rows: pages, " +
    "partitions, cached batches; not one page or a computed list_no") {
    // 5000 rows over 8 lists in one data file: the small_batch_search store
    val base = spark.range(5000).select(col("id"),
      array((col("id") % 8).cast("float"), lit(0f), lit(0f), lit(0f)).as("vec"),
      (col("id") % 8).cast("int").as("list_no"))
    val cents = Array.tabulate(8)(l => Array(l.toFloat, 0f, 0f, 0f))
    def store(confs: (String, String)*) =
      saved(new IvfIndex(4, "l2sq", 8, cents, base), "invlists", 1, confs: _*).invlists
    val onePage = store()
    val paged = store("parquet.page.row.count.limit" -> "1000")
    assert(shim.oneSplit(onePage) && shim.oneSplit(paged))
    assert(!shim.skipsRows(onePage, "list_no"), "a one-page store keeps the filter")
    assert(shim.skipsRows(paged, "list_no"), "a five-page store drops the filter")
    // the one-page store's data file copied without its offset index
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(onePage.inputFiles.head)
    val copy = java.nio.file.Files.createTempDirectory("nooffsetindex").toString
    val dst = new org.apache.hadoop.fs.Path(s"$copy/part-0.parquet")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val footer = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData finally r.close()
    }
    val w = new org.apache.parquet.hadoop.ParquetFileWriter(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dst, conf), footer.getSchema,
      org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE, 128L << 20, 0)
    w.start()
    w.appendFile(in)
    w.end(footer.getKeyValueMetaData)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(dst, conf))
    try assert(reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .forall(reader.readOffsetIndex(_) == null))
    finally reader.close()
    val noIndex = graft.io.Frame.read(spark, copy)
    assert(noIndex.count() == 5000 && shim.oneSplit(noIndex))
    assert(shim.skipsRows(noIndex, "list_no"), "a store with no offset index keeps the filter")
    // the older one-directory-per-list layout: one list in one file, one
    // split and one page, pruned by its partition column
    val legacy = java.nio.file.Files.createTempDirectory("bydirs").toString
    base.filter(col("list_no") === 3).coalesce(1).write.mode("overwrite")
      .partitionBy("list_no").parquet(legacy)
    val byDirs = graft.io.Frame.read(spark, legacy)
    assert(shim.oneSplit(byDirs) && shim.skipsRows(byDirs, "list_no"))
    // cached batches keep it; a list_no computed by a projection, or read
    // from local rows, does not
    val inSession = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2).invlists
    assert(!shim.skipsRows(inSession, "list_no"))
    inSession.cache()
    try assert(shim.skipsRows(inSession, "list_no")) finally inSession.unpersist()
    import spark.implicits._
    assert(!shim.skipsRows(Seq((1L, 3)).toDF("id", "list_no"), "list_no"))
  }

  test("an uncached in-session IVF-Flat or binary IVF search assigns each row " +
    "once: one coarse assignment in the plan, none in a filter") {
    val flat = IvfIndex.build(b, "id", "vec", nlist = 8, niter = 2)
    val bivf = graft.index.BinaryIvfIndex.buildFromVectors(b, "id", "vec",
      nlist = 8, niter = 2)
    val local = localQueries
    val codes = spark.createDataFrame(
      q.select(col("qid"), graft.functions.sign_bits(col("qvec")).as("qcode"))
        .collect().toSeq.asJava, new org.apache.spark.sql.types.StructType()
        .add("qid", "long").add("qcode", "binary"))
    for ((name, df, viaJoin, assign) <- Seq(
        ("IVF-Flat", flat.search(local, 5, nprobe = 2),
          flat.search(local, 5, nprobe = 2, broadcastQueries = false), "nearest_centroid"),
        ("binary IVF", bivf.search(codes, 5, nprobe = 2),
          probeJoin(bivf.search(codes, 5, nprobe = 2)), "transform"))) {
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan
      def calls(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e.collect { case x if x.prettyName == assign => x }.size
      val perNode = planWalk.collect(plan) { case p => (p, p.expressions.map(calls).sum) }
      assert(perNode.map(_._2).sum == 1, s"$name: not one $assign in the plan:\n$plan")
      assert(perNode.forall { case (p, n) =>
        n == 0 || !p.isInstanceOf[org.apache.spark.sql.execution.FilterExec] },
        s"$name: $assign in a filter:\n$plan")
      assert(rows.length == 50 && rows.toSet == viaJoin.collect().toSet, name)
    }
  }

  test("the probe lookup emits as many (probe, list row) pairs as the probe join") {
    val idx = savedIvf(1)
    val local = localQueries
    val viaLookup = idx.search(local, 5, nprobe = 3)
    val viaJoin = idx.search(local, 5, nprobe = 3, broadcastQueries = false)
    assert(viaLookup.collect().toSet == viaJoin.collect().toSet)
    val pairs = lookupRows(viaLookup)
    assert(pairs > 0 && pairs == joinRows(viaJoin),
      s"lookup emitted $pairs pairs, the shuffle join ${joinRows(viaJoin)}")
    val viaBroadcast = probeJoin(idx.search(local, 5, nprobe = 3))
    viaBroadcast.collect()
    assert(lookupRows(viaBroadcast) == 0 && joinRows(viaBroadcast) == pairs)
  }

  test("assign uses the heap aggregate (no window, no sort aggregate)") {
    val plan = Knn.assign(q, b).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "assign must not use a window sort")
    assert(!plan.contains("SortAggregate"), s"sort aggregate in assign:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
  }

  test("kmeans subsample never plans a global sort/TakeOrdered (VERDICT r02 #4)") {
    val spark0 = spark
    import spark0.implicits._
    // force the subsample path: n > k * maxPointsPerCentroid
    val vecs = (0 until 3000)
      .map(i => Seq.fill(4)((i % 97).toFloat)).toDF("vec")
      .select(col("vec").cast("array<float>").as("vec"))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans += qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark0.listenerManager.register(listener)
    // the k-row init TakeOrdered is fine (k rows); a TakeOrdered over
    // the SAMPLE (maxTrain rows through the driver) is the
    // scale-killer — assert no job sorts more than the k init rows
    def badPlans() = {
      // listener delivery is async; poll briefly for the last plans
      Thread.sleep(1500)
      val bad = plans.filter(p =>
        p.contains("TakeOrderedAndProject") && !p.contains("limit=4,"))
      assert(bad.isEmpty,
        s"subsample planned a non-init TakeOrdered:\n${bad.headOption.getOrElse("")}")
    }
    try {
      graft.cluster.KMeans.fit(vecs, "vec",
        graft.cluster.KMeans.Params(k = 4, niter = 2, maxPointsPerCentroid = 100))
      badPlans()
      // a sample above the in-process bound (70 000 rows > 2^16) keeps
      // the distributed rounds: still no sample-sized TakeOrdered, and
      // the rounds run as assign + vec_sum aggregation jobs
      plans.clear()
      val big = spark0.range(70000).select(
        transform(sequence(lit(0), lit(3)), i => ((col("id") * 7 + i) % 97).cast("float")).as("vec"))
      graft.cluster.KMeans.fit(big, "vec",
        graft.cluster.KMeans.Params(k = 4, niter = 2, maxPointsPerCentroid = 20000))
      badPlans()
      assert(plans.count(_.contains("vec_sum")) >= 2,
        s"expected one distributed round per iteration:\n${plans.mkString("\n")}")
    } finally spark0.listenerManager.unregister(listener)
  }
}
