package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Catalog part: structured-streaming ingest/windows/state + autotune ParameterSpace + kmeans1d.
  * Entry ORDER is load-bearing (Verify/Bench iterate catalog order;
  * build-timing rows precede the searches reusing their memoized
  * index), so parts concatenate in the original sequence. */
private[graft] trait CatalogStreaming { this: QueriesBase =>

  protected def streamingEntries: Seq[CatalogEntry] = Seq(

    // §2.10 Structured Streaming: tumbling-window agg over the events
    // stream, drained to completion — result equals the batch query
    ("stream_window_agg", (s: SparkSession, dir: String) =>
      graft.streaming.StreamingIngest.windowedEventCounts(
        s, s"$dir/events.parquet"),
      Some("""SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts))::BIGINT AS ws, event_type,
             |  count(*) AS cnt, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // §2.10 session-window streaming aggregation (session_window —
    // sessionization): per-user inactivity-gap sessions with exact-µs
    // session starts; the oracle replays the island detection with a
    // lag() break column and a running sum (break iff the inter-event
    // gap is >= the session gap, matching session_window's
    // strictly-inside merge rule).
    ("stream_session_window", (s: SparkSession, dir: String) =>
      graft.streaming.StreamingIngest.sessionizedEventCounts(
        s, s"$dir/events.parquet", gap = "12 hours", maxUser = 40),
      Some("""WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 40),
             |wm AS (SELECT max(ts) AS m FROM e),
             |b AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL
             |        OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (SELECT user_id, ts, value,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM b)
             |SELECT user_id, epoch_us(min(ts))::BIGINT AS session_start,
             |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS sv
             |FROM s, wm GROUP BY user_id, sid, wm.m
             |HAVING max(ts) + INTERVAL 12 HOUR <= wm.m""".stripMargin)),

    // §2.10 SlidingIndexWindow retention (IVFlib SlidingIndexWindow
    // ::step, faiss/IVFlib.h:61): keep only the newest `keep`
    // time-partitions of the ingested data. The query derives hourly
    // partitions from events, retains the newest 3, and aggregates the
    // survivors; the oracle replays the retention as ORDER BY DESC
    // LIMIT 3 over the distinct partition keys.
    ("sliding_index_window", (s: SparkSession, dir: String) => {
      // ts arrives as either nanos-long or native timestamp; normTs
      // handles both. The nanosAsLong flag is scoped to a cloned
      // session; the result is collected inside the scope.
      val out = graft.core.ScopedConf.withConfs(s,
          graft.streaming.StreamingIngest.NanosAsLong) { c =>
        val ev = graft.streaming.StreamingIngest
          .normTs(c.read.parquet(s"$dir/events.parquet"))
          .withColumn("part", date_trunc("hour", col("ts")))
        val res = graft.streaming.StreamingIngest.slidingWindow(ev, "part", keep = 3)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sv"))
          .select(unix_timestamp(col("part")).as("part"), col("cnt"), col("sv"))
        (res.collect().toSeq, res.schema)
      }
      s.createDataFrame(s.sparkContext.parallelize(out._1, 1), out._2)
    },
      Some("""WITH ev AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS part, value FROM events),
             |keep AS (SELECT DISTINCT part FROM ev ORDER BY part DESC LIMIT 3)
             |SELECT epoch(part)::BIGINT AS part, count(*) AS cnt, round(sum(value), 2) AS sv
             |FROM ev JOIN keep USING (part) GROUP BY 1""".stripMargin)),

    // §2.10 streaming IVF ingest END TO END (startIngest — the
    // reference's incremental add loop, IndexIVF.cpp:254, as a
    // Structured Stream): the embeddings table streams through
    // foreachBatch coarse-assign+append into a fresh
    // list_no-partitioned on-disk index, which is then LOADED and
    // searched at nprobe = nlist — so whatever the per-batch
    // assignment did, the result must equal the exact brute-force
    // top-5. The tiny result is collected so the temp index/source
    // dirs can be removed inside the builder.
    ("stream_ivf_ingest_search", (s: SparkSession, dir: String) => {
      import java.nio.file.{Files, Paths}
      import graft.streaming.StreamingIngest.rmTree
      val model = km8(s, dir)
      val tmp = Files.createTempDirectory("graft_stream_ivf")
      val src = Files.createTempDirectory("graft_stream_ivf_src")
      try {
        Files.copy(Paths.get(s"$dir/embeddings.parquet"),
          src.resolve("embeddings.parquet"))
        val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
        val stream = s.readStream.schema(schema).parquet(src.toString)
          .filter(col("vec_id") >= 10)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val q = graft.streaming.StreamingIngest.startIngest(
          stream, model, s"$tmp/index", s"$tmp/ckpt")
        try q.processAllAvailable() finally q.stop()
        val invlists = s.read.parquet(s"$tmp/index/invlists")
          .select(col("id"), col("vec"), col("list_no").cast("int").as("list_no"))
        val idx = new graft.index.IvfIndex(model.centroids(0).length, "l2sq",
          model.centroids.length, model.centroids, invlists)
        val out = idx.search(qDf(s, dir, 10), 5, nprobe = model.centroids.length)
          .withColumn("dist", r4("dist"))
        // BOUNDED collect, deliberately: the temp-dir invlists are
        // deleted in the finally below, so the ≤ k·nq (= 50-row) final
        // result must be materialized off them before returning. This
        // idiom is only safe because the collected set is the already-
        // top-k'd OUTPUT — never copy it onto a query whose result
        // scales with the data (VERDICT r9 #3).
        val rows = out.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally { rmTree(tmp); rmTree(src) }
    },
      Some(s"""SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id, $dL2 AS dist,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $dL2, b.vec_id) AS "rank"
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE "rank" <= 5""".stripMargin)),

    // streaming exactly-once dedup ingest (training-pipeline shape:
    // drop duplicate records by key as they arrive, stateful
    // dropDuplicates); the oracle is the batch count-distinct
    ("stream_dedup_ingest", (s: SparkSession, dir: String) =>
      graft.streaming.StreamingIngest.dedupIngest(
        s, s"$dir/events.parquet", Seq("user_id", "event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique_users")),
      Some("""SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_unique_users
             |FROM events GROUP BY event_type""".stripMargin)),

    // watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark
    // — the 100 TB ingest shape: per-key state is dropped once the
    // watermark passes first-seen + delay instead of growing with
    // every key ever seen). The staged file drains as one batch, so
    // every duplicate key dedups while its state is live and the
    // result is exactly batch-distinct.
    ("stream_dedup_watermark", (s: SparkSession, dir: String) =>
      graft.streaming.StreamingIngest.dedupIngestWithinWatermark(
        s, s"$dir/events.parquet", Seq("user_id", "event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique_users")),
      Some("""SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_unique_users
             |FROM events GROUP BY event_type""".stripMargin)),

    // custom per-key streaming state (flatMapGroupsWithState over a
    // KeyValueGroupedDataset — the arbitrary-state-machine surface;
    // state store entry per user). Outputs are count/max/min —
    // order-insensitive, so the streaming result is exactly
    // batch-equivalent and the oracle is the plain GROUP BY.
    ("stream_user_state", (s: SparkSession, dir: String) =>
      graft.streaming.StreamingIngest.statefulUserStats(
        s, s"$dir/events.parquet", maxUser = 50),
      Some("""SELECT user_id, count(*)::BIGINT AS cnt,
             |  round(max(value), 2) AS mx, round(min(value), 2) AS mn
             |FROM events WHERE user_id < 50 GROUP BY user_id""".stripMargin)),

    // the same stateful dedup ingest at lineitem scale (600k rows at
    // sf0.1 through the microbatch + state store machinery): dedup by
    // (l_orderkey, l_partkey) — a genuinely duplicated key pair. Only
    // the key COUNT is aggregated (which duplicate survives depends on
    // arrival order, so any payload column would be nondeterministic).
    ("stream_dedup_big", (s: SparkSession, dir: String) => {
      // sf1-equivalent tier: replicate each streamed row scaleX times
      // with shifted keys INSIDE the stream (a 10x source surrogate —
      // 10x rows and 10x distinct keys through the state store).
      // scaleX = 1 (every oracle run) passes the stream unchanged.
      val sx = scaleX
      val expand: DataFrame => DataFrame =
        if (sx <= 1) identity
        else df => df
          .withColumn("_k", explode(sequence(lit(0), lit(sx - 1))))
          .withColumn("l_orderkey",
            col("l_orderkey") + col("_k").cast("long") * lit(1L << 40))
          .drop("_k")
      graft.streaming.StreamingIngest.dedupIngest(
        s, s"$dir/lineitem.parquet", Seq("l_orderkey", "l_partkey"), expand,
        expandFactor = math.max(1, sx).toDouble)
        .agg(count(lit(1)).as("n_unique_keys"))
    },
      Some("""SELECT count(*)::BIGINT AS n_unique_keys FROM (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) t""".stripMargin)),

    // §2.12 autotune: nprobe operating points -> Pareto frontier
    // (recall needs our seeded kmeans; deterministic per engine,
    // rows-only for the driver)
    // Recall and scan-fraction are deterministic given the trained
    // coarse quantizer (the cost proxy is scanned rows, not
    // wall-clock), so the WHOLE autotune loop is oracle-checkable: the
    // SQL replays, for every nprobe operating point, the probe
    // selection, pruned search, recall vs the exact top-k, and probed
    // list mass, then applies the same Pareto-domination filter.
    ("autotune_pareto", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.explore(
        ivf8(s, dir), qDf(s, dir, 10), bDf(s, dir, 10), 10, Seq(1, 2, 4, 8))
      graft.tune.AutoTune.paretoFront(pts)
        .map(p => (p.nprobe, math.rint(p.recall * 1000) / 1000, math.rint(p.scannedFrac * 1000) / 1000))
        .toDF("nprobe", "recall", "scanned_frac")
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf8_centroids/*.parquet')),
              |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |lsz AS (SELECT list_no, count(*)::DOUBLE AS sz FROM basg GROUP BY list_no),
              |tot AS (SELECT sum(sz) AS t FROM lsz),
              |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |truth AS (SELECT qid, id FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 10),
              |cand AS (SELECT n.np, p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM nps n JOIN qc p ON p.pr <= n.np
              |  JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN embeddings b ON b.vec_id = a.id),
              |approx AS (SELECT np, qid, id FROM (
              |  SELECT np, qid, id, row_number() OVER (PARTITION BY np, qid ORDER BY dist, id) AS rk
              |  FROM cand) t WHERE rk <= 10),
              |allq AS (SELECT n.np, q.vec_id AS qid FROM nps n, embeddings q WHERE q.vec_id < 10),
              |inter AS (SELECT a.np, a.qid, count(*)::DOUBLE AS i
              |  FROM approx a JOIN truth t ON t.qid = a.qid AND t.id = a.id
              |  GROUP BY a.np, a.qid),
              |rec AS (SELECT np, avg(coalesce(i, 0) / 10.0) AS recall
              |  FROM allq LEFT JOIN inter USING (np, qid) GROUP BY np),
              |pl AS (SELECT DISTINCT n.np, p.list_no FROM nps n JOIN qc p ON p.pr <= n.np),
              |frac AS (SELECT np, sum(l.sz) / (SELECT t FROM tot) AS f
              |  FROM pl JOIN lsz l USING (list_no) GROUP BY np),
              |pts AS (SELECT r.np, r.recall, f.f FROM rec r JOIN frac f USING (np))
              |SELECT np AS nprobe, round(recall, 3) AS recall, round(f, 3) AS scanned_frac
              |FROM pts p
              |WHERE NOT EXISTS (SELECT 1 FROM pts q
              |  WHERE (q.recall > p.recall AND q.f <= p.f)
              |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // OneRecallAtRCriterion (AutoTune.h:44) — the R@R criterion of the
    // SIFT1B/Deep1B tables: fraction of queries whose TRUE 1-NN lands
    // in the top R, per nprobe operating point (vs autotune_pareto's
    // IntersectionCriterion). Same one-scan sweep; the oracle replays
    // the 1-NN truth, the sweep, the per-point hit counts, and the
    // Pareto filter.
    ("autotune_pareto_1r", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.explore1RecallAtR(
        ivf8(s, dir), qDf(s, dir, 10), bDf(s, dir, 10), r = 10,
        nprobes = Seq(1, 2, 4, 8))
      graft.tune.AutoTune.paretoFront(pts)
        .map(p => (p.nprobe, math.rint(p.recall * 1000) / 1000,
          math.rint(p.scannedFrac * 1000) / 1000))
        .toDF("nprobe", "recall_at_r", "scanned_frac")
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf8_centroids/*.parquet')),
              |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |lsz AS (SELECT list_no, count(*)::DOUBLE AS sz FROM basg GROUP BY list_no),
              |tot AS (SELECT sum(sz) AS t FROM lsz),
              |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |truth1 AS (SELECT qid, id FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 1),
              |cand AS (SELECT n.np, p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM nps n JOIN qc p ON p.pr <= n.np
              |  JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN embeddings b ON b.vec_id = a.id),
              |approx AS (SELECT np, qid, id FROM (
              |  SELECT np, qid, id, row_number() OVER (PARTITION BY np, qid ORDER BY dist, id) AS rk
              |  FROM cand) t WHERE rk <= 10),
              |nq AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id < 10),
              |hits AS (SELECT a.np, count(*)::DOUBLE AS h
              |  FROM approx a JOIN truth1 t ON t.qid = a.qid AND t.id = a.id GROUP BY a.np),
              |pl AS (SELECT DISTINCT n.np, p.list_no FROM nps n JOIN qc p ON p.pr <= n.np),
              |frac AS (SELECT np, sum(l.sz) / (SELECT t FROM tot) AS f
              |  FROM pl JOIN lsz l USING (list_no) GROUP BY np),
              |pts AS (SELECT n.np, coalesce(h.h, 0) / (SELECT n FROM nq) AS recall, f.f
              |  FROM nps n LEFT JOIN hits h USING (np) JOIN frac f USING (np))
              |SELECT np AS nprobe, round(recall, 3) AS recall_at_r, round(f, 3) AS scanned_frac
              |FROM pts p
              |WHERE NOT EXISTS (SELECT 1 FROM pts q
              |  WHERE (q.recall > p.recall AND q.f <= p.f)
              |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // k_factor autotune axis (ParameterSpace "k_factor"/"k_factor_rf",
    // AutoTune.cpp:347,397) over the SQ8 + exact-re-rank composite:
    // ONE stage-1 ADC ranking at max(k_factors) + ONE exact-distance
    // join serve every point (the k_factor = f candidate set is the
    // stage-1 rank prefix <= k·f). The oracle replays SQ8 train/
    // decode, the ADC ranking, the prefix subsets, the exact re-rank,
    // recall vs the exact truth, and the Pareto dominance filter.
    ("autotune_pareto_refine", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.exploreKFactor(
        qDf(s, dir, 10), bDf(s, dir, 10), 10, Seq(1, 2, 4, 8))
      graft.tune.AutoTune.paretoFrontKf(pts)
        .map(p => (p.kFactor, math.rint(p.recall * 1000) / 1000,
          math.rint(p.rerankedFrac * 1000) / 1000))
        .toDF("k_factor", "recall", "reranked_frac")
    },
      Some("""WITH dims AS (
             |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
             |    SELECT i, min(e) AS mn, max(e) AS mx
             |    FROM (SELECT unnest(embedding::DOUBLE[]) AS e, generate_subscripts(embedding, 1) AS i
             |          FROM embeddings WHERE vec_id >= 10) u GROUP BY i) t),
             |dec AS (SELECT vec_id AS id,
             |  list_transform(embedding::DOUBLE[], (x, i) ->
             |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
             |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i]) AS dv
             |  FROM embeddings, dims WHERE vec_id >= 10),
             |s1 AS (SELECT qid, id, rn FROM (
             |  SELECT q.vec_id AS qid, b.id,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv),
             |        p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), b.id) AS rn
             |  FROM embeddings q CROSS JOIN dec b WHERE q.vec_id < 10) t WHERE rn <= 80),
             |kfs AS (SELECT unnest([1, 2, 4, 8]) AS kf),
             |cand AS (SELECT k.kf, s.qid, s.id,
             |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
             |  FROM s1 s JOIN kfs k ON s.rn <= k.kf * 10
             |  JOIN embeddings q ON q.vec_id = s.qid
             |  JOIN embeddings b ON b.vec_id = s.id),
             |approx AS (SELECT kf, qid, id FROM (
             |  SELECT kf, qid, id, row_number() OVER (PARTITION BY kf, qid ORDER BY dist, id) AS rk
             |  FROM cand) t WHERE rk <= 10),
             |truth AS (SELECT qid, id FROM (
             |  SELECT q.vec_id AS qid, b.vec_id AS id,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
             |  FROM embeddings q CROSS JOIN embeddings b
             |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 10),
             |nq AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id < 10),
             |nb AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id >= 10),
             |inter AS (SELECT a.kf, count(*)::DOUBLE AS i
             |  FROM approx a JOIN truth t ON t.qid = a.qid AND t.id = a.id GROUP BY a.kf),
             |pts AS (SELECT k.kf,
             |    coalesce(i.i, 0) / ((SELECT n FROM nq) * 10.0) AS recall,
             |    least(10.0 * k.kf, (SELECT n FROM nb)) / (SELECT n FROM nb) AS f
             |  FROM kfs k LEFT JOIN inter i USING (kf))
             |SELECT kf AS k_factor, round(recall, 3) AS recall, round(f, 3) AS reranked_frac
             |FROM pts p
             |WHERE NOT EXISTS (SELECT 1 FROM pts q
             |  WHERE (q.recall > p.recall AND q.f <= p.f)
             |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // Multi-parameter autotune (ParameterSpace, AutoTune.cpp:347-403):
    // the (nprobe, ht, max_codes) triple the reference's SIFT1B/Deep1B
    // operating points are expressed in. ONE candidate scan at
    // max(nprobes) serves the whole grid; the oracle replays the full
    // IVFPQ chain (coarse assign, residual encode base AND query,
    // per-list LUT + ADC, polysemous Hamming between the code pairs,
    // per-query cumulative scan budget in probe-rank order
    // (IndexIVF.cpp:586)), the grid filters, the
    // recall/scanned aggregates, and the Pareto dominance filter.
    ("autotune_pareto_multi", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.exploreMulti(
        ivfpq8(s, dir), qDf(s, dir, 10), bDf(s, dir, 10), 10,
        nprobes = Seq(2, 8), hts = Seq(12, 32), maxCodesList = Seq(5, 1000000))
      graft.tune.AutoTune.paretoFrontM(pts)
        .map(p => (p.nprobe, p.ht, p.maxCodes,
          math.rint(p.recall * 1000) / 1000, math.rint(p.scannedFrac * 1000) / 1000))
        .toDF("nprobe", "ht", "max_codes", "recall", "scanned_frac")
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/ivfpq_codebooks/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN embeddings b ON b.vec_id = a.id JOIN cent c ON c.list_no = a.list_no),
              |bsub AS (SELECT id, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc AS (SELECT id, list_no, m, j FROM (
              |  SELECT b.id, b.list_no, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qres AS (SELECT p.qid, p.list_no, p.pr,
              |    list_transform(list_zip(q.embedding, c.c), x -> x[1] - x[2]) AS res
              |  FROM qc p JOIN embeddings q ON q.vec_id = p.qid JOIN cent c ON c.list_no = p.list_no),
              |qsub AS (SELECT qid, list_no, pr, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |qenc AS (SELECT qid, list_no, m, j FROM (
              |  SELECT q.qid, q.list_no, q.m, cb.j, row_number() OVER (PARTITION BY q.qid, q.list_no, q.m ORDER BY
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qsub q JOIN cb ON cb.m = q.m) t WHERE rn = 1),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |ham AS (SELECT e.id, qe.qid, e.list_no,
              |    sum(bit_count(xor(e.j::BIGINT, qe.j::BIGINT)))::INT AS hd
              |  FROM enc e JOIN qenc qe ON qe.list_no = e.list_no AND qe.m = e.m
              |  GROUP BY e.id, qe.qid, e.list_no),
              |cand0 AS (SELECT l.qid, e.list_no, p.pr, e.id,
              |    list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist, any_value(h.hd) AS hd
              |  FROM enc e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  JOIN qc p ON p.qid = l.qid AND p.list_no = e.list_no
              |  JOIN ham h ON h.id = e.id AND h.qid = l.qid AND h.list_no = e.list_no
              |  GROUP BY l.qid, e.list_no, p.pr, e.id),
              |hts AS (SELECT unnest([12, 32]) AS ht),
              |lsz AS (SELECT list_no, count(*) AS c FROM basg GROUP BY list_no),
              |cum AS (SELECT p.qid, p.list_no,
              |    sum(coalesce(l.c, 0)) OVER (PARTITION BY p.qid ORDER BY p.pr) - coalesce(l.c, 0) AS bef
              |  FROM qc p LEFT JOIN lsz l USING (list_no)),
              |candh AS (SELECT c.*, h.ht FROM cand0 c JOIN hts h ON c.hd <= h.ht),
              |grid AS (SELECT n.np, m.mc FROM (SELECT unnest([2, 8]) AS np) n,
              |  (SELECT unnest([5, 1000000]) AS mc) m),
              |allc AS (SELECT g.np, c.ht, g.mc, c.qid, c.id, c.dist
              |  FROM candh c JOIN cum u ON u.qid = c.qid AND u.list_no = c.list_no
              |  JOIN grid g ON c.pr <= g.np AND u.bef < g.mc),
              |scanned AS (SELECT np, ht, mc, count(*)::DOUBLE AS s FROM allc GROUP BY np, ht, mc),
              |tot AS (SELECT count(*)::DOUBLE *
              |    (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS t FROM basg),
              |truth AS (SELECT qid, id FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 10),
              |approx AS (SELECT np, ht, mc, qid, id FROM (
              |  SELECT np, ht, mc, qid, id, row_number() OVER (
              |    PARTITION BY np, ht, mc, qid ORDER BY dist, id) AS rk FROM allc) t WHERE rk <= 10),
              |nq AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id < 10),
              |gridh AS (SELECT g.np, h.ht, g.mc FROM grid g, hts h),
              |inter AS (SELECT a.np, a.ht, a.mc, count(*)::DOUBLE AS i
              |  FROM approx a JOIN truth t ON t.qid = a.qid AND t.id = a.id
              |  GROUP BY a.np, a.ht, a.mc),
              |pts AS (SELECT g.np, g.ht, g.mc,
              |    coalesce(i.i, 0) / ((SELECT n FROM nq) * 10.0) AS recall,
              |    coalesce(s.s, 0) / (SELECT t FROM tot) AS f
              |  FROM gridh g LEFT JOIN inter i USING (np, ht, mc)
              |  LEFT JOIN scanned s USING (np, ht, mc))
              |SELECT np AS nprobe, ht, mc AS max_codes,
              |  round(recall, 3) AS recall, round(f, 3) AS scanned_frac
              |FROM pts p
              |WHERE NOT EXISTS (SELECT 1 FROM pts q
              |  WHERE (q.recall > p.recall AND q.f <= p.f)
              |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // The Deep1B operating-point shape (BASELINE.md: IMI2x14,PQ20
    // tuned on (nprobe, ht, max_codes) triples; AutoTune.cpp:347-403):
    // the same 3-axis grid as autotune_pareto_multi but over the IMI
    // coarse — one MinSumK-probed candidate scan serves every grid
    // point. The oracle replays the entire imi_pq_search chain PLUS
    // the query-side residual encode (for the polysemous Hamming),
    // the per-query cumulative scan budget in probe-rank order
    // (IndexIVF.cpp:586), the grid filters,
    // the recall/scanned aggregates, and the Pareto dominance filter.
    ("autotune_pareto_imi", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.exploreMultiImi(
        imipq16(s, dir), qDf(s, dir, 10), bDf(s, dir, 10), 10,
        nprobes = Seq(2, 8), hts = Seq(12, 32), maxCodesList = Seq(5, 1000000))
      graft.tune.AutoTune.paretoFrontM(pts)
        .map(p => (p.nprobe, p.ht, p.maxCodes,
          math.rint(p.recall * 1000) / 1000, math.rint(p.scannedFrac * 1000) / 1000))
        .toDF("nprobe", "ht", "max_codes", "recall", "scanned_frac")
    },
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imipq_coarse_cb/*.parquet')),
              |rcb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/imipq_codebooks/*.parquet')),
              |bh AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id >= 10),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN ccb cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j AS j0, a1.j AS j1, a0.j*16 + a1.j AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |bres AS (SELECT bc.id, bc.cell,
              |    list_transform(list_zip(b.embedding, c0.c || c1.c), p -> p[1] - p[2]) AS res
              |  FROM bcell bc JOIN embeddings b ON b.vec_id = bc.id
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = bc.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = bc.j1),
              |bsub AS (SELECT id, cell, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc AS (SELECT id, cell, m, j FROM (
              |  SELECT b.id, b.cell, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN rcb cb ON cb.m = b.m) t WHERE rn = 1),
              |qh AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id < 10),
              |qtop AS (SELECT qid, m, j, d FROM (
              |  SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d,
              |    row_number() OVER (PARTITION BY q.qid, q.m ORDER BY
              |      list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qh q JOIN ccb cb ON cb.m = q.m) t WHERE rn <= 8),
              |cells AS (SELECT d0.qid, d0.j AS j0, d1.j AS j1, d0.j*16 + d1.j AS cell, d0.d + d1.d AS cd
              |  FROM qtop d0 JOIN qtop d1 ON d0.qid = d1.qid AND d0.m = 0 AND d1.m = 1),
              |probes AS (SELECT qid, j0, j1, cell, pr FROM (
              |  SELECT qid, j0, j1, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |qres AS (SELECT p.qid, p.cell, p.pr,
              |    list_transform(list_zip(q.embedding, c0.c || c1.c), x -> x[1] - x[2]) AS res
              |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = p.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = p.j1),
              |qsub AS (SELECT qid, cell, pr, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |qenc AS (SELECT qid, cell, m, j FROM (
              |  SELECT q.qid, q.cell, q.m, cb.j, row_number() OVER (PARTITION BY q.qid, q.cell, q.m ORDER BY
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qsub q JOIN rcb cb ON cb.m = q.m) t WHERE rn = 1),
              |lut AS (SELECT q.qid, q.cell, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN rcb cb ON cb.m = q.m),
              |ham AS (SELECT e.id, qe.qid, e.cell,
              |    sum(bit_count(xor(e.j::BIGINT, qe.j::BIGINT)))::INT AS hd
              |  FROM enc e JOIN qenc qe ON qe.cell = e.cell AND qe.m = e.m
              |  GROUP BY e.id, qe.qid, e.cell),
              |cand0 AS (SELECT l.qid, e.cell, any_value(p.pr) AS pr, e.id,
              |    list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist, any_value(h.hd) AS hd
              |  FROM enc e JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.j = e.j
              |  JOIN probes p ON p.qid = l.qid AND p.cell = e.cell
              |  JOIN ham h ON h.id = e.id AND h.qid = l.qid AND h.cell = e.cell
              |  GROUP BY l.qid, e.cell, e.id),
              |hts AS (SELECT unnest([12, 32]) AS ht),
              |lsz AS (SELECT cell, count(*) AS c FROM bcell GROUP BY cell),
              |cum AS (SELECT p.qid, p.cell,
              |    sum(coalesce(l.c, 0)) OVER (PARTITION BY p.qid ORDER BY p.pr) - coalesce(l.c, 0) AS bef
              |  FROM probes p LEFT JOIN lsz l USING (cell)),
              |candh AS (SELECT c.*, h.ht FROM cand0 c JOIN hts h ON c.hd <= h.ht),
              |grid AS (SELECT n.np, m.mc FROM (SELECT unnest([2, 8]) AS np) n,
              |  (SELECT unnest([5, 1000000]) AS mc) m),
              |allc AS (SELECT g.np, c.ht, g.mc, c.qid, c.id, c.dist
              |  FROM candh c JOIN cum u ON u.qid = c.qid AND u.cell = c.cell
              |  JOIN grid g ON c.pr <= g.np AND u.bef < g.mc),
              |scanned AS (SELECT np, ht, mc, count(*)::DOUBLE AS s FROM allc GROUP BY np, ht, mc),
              |tot AS (SELECT count(*)::DOUBLE *
              |    (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS t FROM bcell),
              |truth AS (SELECT qid, id FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 10),
              |approx AS (SELECT np, ht, mc, qid, id FROM (
              |  SELECT np, ht, mc, qid, id, row_number() OVER (
              |    PARTITION BY np, ht, mc, qid ORDER BY dist, id) AS rk FROM allc) t WHERE rk <= 10),
              |nq AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id < 10),
              |gridh AS (SELECT g.np, h.ht, g.mc FROM grid g, hts h),
              |inter AS (SELECT a.np, a.ht, a.mc, count(*)::DOUBLE AS i
              |  FROM approx a JOIN truth t ON t.qid = a.qid AND t.id = a.id
              |  GROUP BY a.np, a.ht, a.mc),
              |pts AS (SELECT g.np, g.ht, g.mc,
              |    coalesce(i.i, 0) / ((SELECT n FROM nq) * 10.0) AS recall,
              |    coalesce(s.s, 0) / (SELECT t FROM tot) AS f
              |  FROM gridh g LEFT JOIN inter i USING (np, ht, mc)
              |  LEFT JOIN scanned s USING (np, ht, mc))
              |SELECT np AS nprobe, ht, mc AS max_codes,
              |  round(recall, 3) AS recall, round(f, 3) AS scanned_frac
              |FROM pts p
              |WHERE NOT EXISTS (SELECT 1 FROM pts q
              |  WHERE (q.recall > p.recall AND q.f <= p.f)
              |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // ParameterSpace over the HNSW-coarse composition (AutoTune.cpp:
    // 370 adds nprobe plus the quantizer's own space under the
    // `quantizer_` prefix; :403 adds efSearch for an HNSW quantizer):
    // the (nprobe × quantizer_efSearch) grid on IVF8_HNSW,PQ8,
    // Pareto-filtered on (recall, scanned fraction). Graph walks are
    // not SQL-replayable, so the engine dumps its probe SETS per walk
    // budget (hnswtune_probes sidecar) and the oracle independently
    // re-derives everything downstream: exact base assignment, PQ
    // codes, residual LUTs, ADC ranking, recall vs the exact truth,
    // scan fractions, and the Pareto dominance filter.
    ("autotune_pareto_hnsw_coarse", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = graft.tune.AutoTune.exploreQuantizerEf(
        ivfpq8(s, dir), qDf(s, dir, 10), bDf(s, dir, 10), 5,
        nprobes = Seq(2, 4, 8), efs = Seq(2, 4, 1024))
      graft.tune.AutoTune.paretoFrontQef(pts)
        .map(p => (p.nprobe, p.quantizerEf,
          math.rint(p.recall * 1000) / 1000,
          math.rint(p.scannedFrac * 1000) / 1000))
        .toDF("nprobe", "quantizer_ef", "recall", "scanned_frac")
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/ivfpq_codebooks/*.parquet')),
              |prb AS (SELECT ef, qid, list_no, pr FROM read_parquet('$AUX/hnswtune_probes/*.parquet')),
              |grid AS (SELECT e.ef, n.np FROM (SELECT DISTINCT ef FROM prb) e
              |  CROSS JOIN (SELECT unnest([2, 4, 8]) AS np) n),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |lsz AS (SELECT list_no, count(*)::DOUBLE AS sz FROM basg GROUP BY list_no),
              |tot AS (SELECT sum(sz) AS t FROM lsz),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN embeddings b ON b.vec_id = a.id JOIN cent c ON c.list_no = a.list_no),
              |bsub AS (SELECT id, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc AS (SELECT id, list_no, m, j FROM (
              |  SELECT b.id, b.list_no, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |ql AS (SELECT DISTINCT qid, list_no FROM prb),
              |qres AS (SELECT ql.qid, ql.list_no,
              |    list_transform(list_zip(q.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM ql JOIN embeddings q ON q.vec_id = ql.qid JOIN cent c ON c.list_no = ql.list_no),
              |qsub AS (SELECT qid, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.list_no, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.list_no, e.id),
              |approx AS (SELECT ef, np, qid, id FROM (
              |  SELECT g.ef, g.np, a.qid, a.id,
              |    row_number() OVER (PARTITION BY g.ef, g.np, a.qid ORDER BY a.dist, a.id) AS rk
              |  FROM grid g JOIN prb p ON p.ef = g.ef AND p.pr < g.np
              |  JOIN adc a ON a.qid = p.qid AND a.list_no = p.list_no) t WHERE rk <= 5),
              |truth AS (SELECT qid, id FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS rk
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE rk <= 5),
              |allq AS (SELECT g.ef, g.np, q.vec_id AS qid FROM grid g CROSS JOIN embeddings q WHERE q.vec_id < 10),
              |inter AS (SELECT a.ef, a.np, a.qid, count(*)::DOUBLE AS i
              |  FROM approx a JOIN truth t ON t.qid = a.qid AND t.id = a.id
              |  GROUP BY a.ef, a.np, a.qid),
              |rec AS (SELECT ef, np, avg(coalesce(i, 0) / 5.0) AS recall
              |  FROM allq LEFT JOIN inter USING (ef, np, qid) GROUP BY ef, np),
              |pl AS (SELECT DISTINCT g.ef, g.np, p.list_no
              |  FROM grid g JOIN prb p ON p.ef = g.ef AND p.pr < g.np),
              |frac AS (SELECT ef, np, sum(l.sz) / (SELECT t FROM tot) AS f
              |  FROM pl JOIN lsz l USING (list_no) GROUP BY ef, np),
              |pts AS (SELECT r.ef, r.np, r.recall, f.f FROM rec r JOIN frac f USING (ef, np))
              |SELECT np AS nprobe, ef AS quantizer_ef, round(recall, 3) AS recall, round(f, 3) AS scanned_frac
              |FROM pts p
              |WHERE NOT EXISTS (SELECT 1 FROM pts q
              |  WHERE (q.recall > p.recall AND q.f <= p.f)
              |     OR (q.recall >= p.recall AND q.f < p.f))""".stripMargin)),

    // §2.4 exact 1-D k-means (DP over the value histogram). The DP is
    // exactly optimal, so the oracle can find the SAME optimum a
    // different way: enumerate every (k-1)-boundary segmentation of
    // the sorted distinct values via prefix sums (C(m-1,3) combos for
    // m distinct values — cheap for histogram-sized m) and take the
    // minimum weighted SSE. Agreement proves global optimality, not
    // just engine determinism.
    ("kmeans1d_quantity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val r = graft.cluster.KMeans1D.fit(lineitem(s, dir), "l_quantity", 4)
      // per-cluster mass from the same histogram the DP consumed
      val hist = lineitem(s, dir)
        .select(col("l_quantity").cast("double").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
        .collect().map(row => (row.getDouble(0), row.getLong(1))).sortBy(_._1)
      val k = r.boundaries.length
      val sizes = Array.tabulate(k) { c =>
        val lo = r.boundaries(c)
        val hi = if (c == k - 1) Double.MaxValue else r.boundaries(c + 1)
        hist.filter { case (v, _) => v >= lo && v < hi }.map(_._2).sum
      }
      (0 until k).map(c =>
        (c.toLong, r.boundaries(c), math.rint(r.centroids(c) * 1000) / 1000, sizes(c)))
        .toDF("cluster", "boundary", "centroid", "n")
    },
      Some("""WITH h AS (SELECT l_quantity::DOUBLE AS v, count(*)::DOUBLE AS w FROM lineitem GROUP BY 1),
             |o AS (SELECT v, w, row_number() OVER (ORDER BY v) AS i FROM h),
             |p AS (SELECT i, v, sum(w) OVER (ORDER BY i) AS cw, sum(w*v) OVER (ORDER BY i) AS cs, sum(w*v*v) OVER (ORDER BY i) AS cq FROM o),
             |p0 AS (SELECT 0 AS i, NULL::DOUBLE AS v, 0.0 AS cw, 0.0 AS cs, 0.0 AS cq UNION ALL SELECT i, v, cw, cs, cq FROM p),
             |seg AS (SELECT a.i AS lo, b.i AS hi,
             |    b.cq - a.cq - (b.cs - a.cs)*(b.cs - a.cs)/(b.cw - a.cw) AS sse
             |  FROM p0 a JOIN p0 b ON b.i > a.i),
             |mx AS (SELECT max(i) AS mi FROM p),
             |best AS (SELECT s1.hi AS b1, s2.hi AS b2, s3.hi AS b3
             |  FROM seg s1 JOIN seg s2 ON s2.lo = s1.hi JOIN seg s3 ON s3.lo = s2.hi
             |       JOIN seg s4 ON s4.lo = s3.hi, mx
             |  WHERE s1.lo = 0 AND s4.hi = mx.mi
             |  ORDER BY s1.sse + s2.sse + s3.sse + s4.sse, b1, b2, b3 LIMIT 1),
             |bnds AS (SELECT 0 AS cluster, 0 AS lo, b1 AS hi FROM best
             |  UNION ALL SELECT 1, b1, b2 FROM best
             |  UNION ALL SELECT 2, b2, b3 FROM best
             |  UNION ALL SELECT 3, b3, mx.mi FROM best, mx)
             |SELECT b.cluster::BIGINT AS cluster,
             |  (SELECT v FROM p WHERE i = b.lo + 1) AS boundary,
             |  round((ph.cs - pl.cs) / (ph.cw - pl.cw), 3) AS centroid,
             |  (ph.cw - pl.cw)::BIGINT AS n
             |FROM bnds b JOIN p0 pl ON pl.i = b.lo JOIN p0 ph ON ph.i = b.hi""".stripMargin)),
  )
}
