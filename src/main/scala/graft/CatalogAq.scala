package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, TopKAgg, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Catalog part: additive quantizers (RQ/LSQ/PRQ + norm types), RCQ, HNSW/NSG partition indexes.
  * Entry ORDER is load-bearing (Verify/Bench iterate catalog order;
  * build-timing rows precede the searches reusing their memoized
  * index), so parts concatenate in the original sequence. */
private[graft] trait CatalogAq { this: QueriesBase =>

  protected def aqEntries: Seq[CatalogEntry] = Seq(

    // §2.11 residual quantizer roundtrip (IndexAdditiveQuantizer /
    // ResidualQuantizer minimal slice): 2 greedy levels of
    // full-dimension codebooks. The oracle replays the level-by-level
    // argmin encode, float32 residual, and codeword-sum decode from
    // the codebook sidecar.
    ("rq_roundtrip", (s: SparkSession, dir: String) => {
      val rq = rqModel16(s, dir)
      emb(s, dir).select(col("vec_id"),
        rq.roundtripCol(col("embedding")).as("_dv"), col("embedding"))
        .select(col("vec_id"),
          round(element_at(col("_dv"), 1).cast("double"), 4).as("d1"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"),
              col("_dv").cast("array<double>"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x), 4).as("err"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |a0 AS (SELECT vec_id, embedding, j0 FROM (
              |  SELECT e.vec_id, e.embedding, cb.j AS j0, row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(e.embedding::DOUBLE[], cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM embeddings e JOIN cb ON cb.m = 0) t WHERE rn = 1),
              |r1 AS (SELECT a0.vec_id, a0.embedding, a0.j0,
              |    list_transform(list_zip(a0.embedding, cb.c), p -> p[1] - p[2]) AS res
              |  FROM a0 JOIN cb ON cb.m = 0 AND cb.j = a0.j0),
              |a1 AS (SELECT vec_id, embedding, j0, j1 FROM (
              |  SELECT r1.vec_id, r1.embedding, r1.j0, cb.j AS j1, row_number() OVER (PARTITION BY r1.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(r1.res::DOUBLE[], cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM r1 JOIN cb ON cb.m = 1) t WHERE rn = 1),
              |dec AS (SELECT a1.vec_id, a1.embedding,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM a1 JOIN cb c0 ON c0.m = 0 AND c0.j = a1.j0
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = a1.j1)
              |SELECT vec_id, round(dv[1]::DOUBLE, 4) AS d1,
              |  round(list_aggregate(list_transform(list_zip(embedding::DOUBLE[], dv::DOUBLE[]),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 4) AS err
              |FROM dec""".stripMargin)),

    // Product-residual quantizer roundtrip (ProductResidualQuantizer /
    // ProductLocalSearchQuantizer, faiss/impl/ProductAdditiveQuantizer
    // .h:28,114): 2 splits x 2 levels, beam=2 encode + 2 ICM sweeps
    // (the LSQ refinement). Beam/ICM encoding is not SQL-replayable,
    // so the oracle verifies DECODE from the engine's stored codes
    // (prq_codes sidecar): per-split per-level integer codebook
    // lookups, the level float add, split concat, then the
    // reconstruction error vs the original vectors.
    ("prq_roundtrip", (s: SparkSession, dir: String) => {
      val prq = prqModel(s, dir)
      emb(s, dir).select(col("vec_id").as("id"),
        prq.roundtripCol(col("embedding"), beam = 2, icmIters = 2).as("_dv"),
        col("embedding"))
        .select(col("id"),
          round(element_at(col("_dv"), 1).cast("double"), 4).as("d1"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"),
              col("_dv").cast("array<double>"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x), 4).as("err"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/prq_codebooks/*.parquet')),
              |codes AS (SELECT id, code FROM read_parquet('$AUX/prq_codes/*.parquet')),
              |enc AS (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,4) r(m)),
              |comp AS (SELECT e.id, (e.m // 2) AS s,
              |    generate_subscripts(cb.c, 1) AS i, unnest(cb.c) AS v
              |  FROM enc e JOIN cb ON cb.m = e.m AND cb.j = e.j),
              |sumd AS (SELECT id, s, i, sum(v)::REAL AS v FROM comp GROUP BY id, s, i),
              |dv AS (SELECT id, list(v ORDER BY s, i) AS dv FROM sumd GROUP BY id)
              |SELECT d.id, round(d.dv[1]::DOUBLE, 4) AS d1,
              |  round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], d.dv::DOUBLE[]),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 4) AS err
              |FROM dv d JOIN embeddings b ON b.vec_id = d.id""".stripMargin)),

    // ivf_residual_from_quantizer + ivf_residual_add_from_flat_codes
    // (faiss/IVFlib.h:154,166): the trained RQ's FIRST level becomes
    // the coarse quantizer and the index is populated from
    // pre-encoded flat codes alone — list_no = code[0], invlist code =
    // the tail — without touching a raw vector (the bulk re-ingest
    // path; codes are 8-32x smaller than vectors). nprobe = nlist, so
    // the oracle is the pure decode-from-codes scan: dv = cb0[c0] +
    // cb1[c1] (float adds), exact double distance ranking.
    ("ivfrq_from_codes_search", (s: SparkSession, dir: String) => {
      val model = rqModel16(s, dir)
      val codes = bDf(s, dir, 10).select(col("id"),
        model.encodeCol(col("vec")).as("codes"))
      graft.index.IvfRq.addFromFlatCodes(model, codes)
        .search(qDf(s, dir, 10), 5, nprobe = 16)
        .withColumn("dist", r4("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |d AS (SELECT q.vec_id AS qid, dec.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], dec.dv::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM dec CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // IndexIVFResidualQuantizer (faiss/IndexIVFAdditiveQuantizer.h:26,
    // 64): coarse quantizer + beam/ICM-encoded residual codes per
    // list, searched by reconstruction distance (AQ_decompress) over
    // the probed lists. The oracle replays probe selection from the
    // centroid sidecar (the green ivfpq/ivfsh pattern) and verifies
    // DECODE from the engine's stored codes (beam+ICM encoding is not
    // SQL-replayable): integer codebook lookups, level sum, coarse
    // float add, exact distance ranking.
    ("ivfrq_search", (s: SparkSession, dir: String) =>
      ivfrq8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfrq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/ivfrq_codebooks/*.parquet')),
              |codes AS (SELECT id, list_no, code FROM read_parquet('$AUX/ivfrq_codes/*.parquet')),
              |comp AS (SELECT cs.id, generate_subscripts(cb.c, 1) AS i, unnest(cb.c) AS v
              |  FROM (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,2) r(m)) cs
              |  JOIN cb ON cb.m = cs.m AND cb.j = cs.j),
              |sumd AS (SELECT id, i, sum(v)::REAL AS v FROM comp GROUP BY id, i),
              |dv AS (SELECT id, list(v ORDER BY i) AS dv FROM sumd GROUP BY id),
              |recon AS (SELECT c0.id, c0.list_no,
              |    list_transform(list_zip(ct.c, d.dv), p -> (p[1] + p[2])::REAL) AS rv
              |  FROM codes c0 JOIN cent ct ON ct.list_no = c0.list_no JOIN dv d ON d.id = c0.id),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t WHERE pr <= 4),
              |d AS (SELECT p.qid, r.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], r.rv::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM probes p JOIN recon r ON r.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVF-prefixed aq_norm clause (`IVF8,RQ2x4_Nqint8`,
    // index_factory.cpp:293-430 parses _N<norm> inside the IVF code
    // token; AQInvertedListScannerLUT, IndexIVFAdditiveQuantizer.cpp:
    // 204): the same residual lists as ivfrq_search, searched by the
    // per-(query, probed-list) LUT scan with a stored qint8-quantized
    // residual-reconstruction norm —
    //   dist = ||q-c||^2 - 2<q-c, x_hat> + qint8(||x_hat||^2).
    // The catalog query searches the FACTORY-built index (proving the
    // grammar clause end-to-end); the sidecars come from the
    // deterministic twin-call build. The oracle replays the WHOLE
    // chain in SQL: decode-from-codes, the stored norms, the trained
    // qint8 grid (min/max over all stored norms), probe selection,
    // float residual queries, per-level LUT dots, the bias+norm
    // formula, (dist, id)-ascending top-k.
    ("ivfrq_qnorm_search", (s: SparkSession, dir: String) =>
      ivfRqNorm8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfrqn_centroids/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/ivfrqn_codebooks/*.parquet')),
              |codes AS (SELECT id, list_no, code FROM read_parquet('$AUX/ivfrqn_codes/*.parquet')),
              |enc AS (SELECT id, list_no, r.m AS m, code[r.m+1] AS j FROM codes, range(0,2) r(m)),
              |comp AS (SELECT e.id, generate_subscripts(cb.c, 1) AS i, unnest(cb.c) AS v
              |  FROM enc e JOIN cb ON cb.m = e.m AND cb.j = e.j),
              |sumd AS (SELECT id, i, sum(v)::REAL AS v FROM comp GROUP BY id, i),
              |dv AS (SELECT id, list(v ORDER BY i) AS dv FROM sumd GROUP BY id),
              |nb AS (SELECT id, list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dv),
              |nstat AS (SELECT min(normsq) AS nmin, max(normsq) AS nmax FROM nb),
              |nq AS (SELECT nb.id, CASE WHEN ns.nmax = ns.nmin THEN ns.nmin ELSE
              |    (least(greatest(floor((nb.normsq - ns.nmin)/(ns.nmax - ns.nmin)*256), 0), 255) + 0.5)/256*(ns.nmax - ns.nmin) + ns.nmin END AS nqd
              |  FROM nb, nstat ns),
              |probes AS (SELECT qid, list_no, cd FROM (
              |  SELECT q.vec_id AS qid, c.list_no,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS cd,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t WHERE pr <= 4),
              |qr AS (SELECT p.qid, p.list_no, p.cd,
              |    list_transform(list_zip(q.embedding, c.c), p2 -> p2[1] - p2[2]) AS res
              |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid JOIN cent c ON c.list_no = p.list_no),
              |ip AS (SELECT q.qid, e.id, q.cd,
              |    sum(list_aggregate(list_transform(list_zip(q.res::DOUBLE[], cb.c::DOUBLE[]), p -> p[1]*p[2]), 'sum')) AS ip
              |  FROM qr q JOIN enc e ON e.list_no = q.list_no
              |  JOIN cb ON cb.m = e.m AND cb.j = e.j
              |  GROUP BY q.qid, e.id, q.cd),
              |d AS (SELECT ip.qid, ip.id, ip.cd - 2*ip.ip + nq.nqd AS dist
              |  FROM ip JOIN nq ON nq.id = ip.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVF product-AQ decompress (`IVF8,PRQ2x2x4`,
    // IndexIVFProductResidualQuantizer, index_factory.cpp:351): two
    // per-split residual RQs whose decode/search run through the
    // ZERO-PADDED effective model (the fast-scan closure's trick on
    // the decompress scan). Oracle = probe replay + decode-from-codes
    // over the effective codebooks sidecar (the ivfrq_search pattern
    // at 4 levels; per component only one split's 2 levels are
    // nonzero, so the float round-once argument still holds).
    ("ivfprq_search", (s: SparkSession, dir: String) =>
      ivfPrq8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfprq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/ivfprq_codebooks/*.parquet')),
              |codes AS (SELECT id, list_no, code FROM read_parquet('$AUX/ivfprq_codes/*.parquet')),
              |comp AS (SELECT cs.id, generate_subscripts(cb.c, 1) AS i, unnest(cb.c) AS v
              |  FROM (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,4) r(m)) cs
              |  JOIN cb ON cb.m = cs.m AND cb.j = cs.j),
              |sumd AS (SELECT id, i, sum(v)::REAL AS v FROM comp GROUP BY id, i),
              |dv AS (SELECT id, list(v ORDER BY i) AS dv FROM sumd GROUP BY id),
              |recon AS (SELECT c0.id, c0.list_no,
              |    list_transform(list_zip(ct.c, d.dv), p -> (p[1] + p[2])::REAL) AS rv
              |  FROM codes c0 JOIN cent ct ON ct.list_no = c0.list_no JOIN dv d ON d.id = c0.id),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t WHERE pr <= 4),
              |d AS (SELECT p.qid, r.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], r.rv::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM probes p JOIN recon r ON r.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // The reference's spectral-hash spelling (`IVF8,PCA8,SH`,
    // index_factory.cpp:398): IndexIVFSpectralHash with the d->nbit
    // transform REPLACED by a trained PCA, period ABSENT (the -1e10
    // simple-thresholding sentinel) and the Thresh_global ctor default
    // — signatures degenerate to sign bits of the centered projection.
    // The catalog query searches the FACTORY-built index; the oracle
    // replays the twin-call PCA (rotation + mean bias, REAL-rounded),
    // probe selection, the floor((y-0) * 2/period) & 1 bit formula and
    // the in-list Hamming ranking.
    ("ivfsh_pca_search", (s: SparkSession, dir: String) =>
      ivfShPca8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4),
      Some(s"""WITH rot AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/ivfshpca_rot/*.parquet')),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfshpca_centroids/*.parquet')),
              |ry AS (SELECT vec_id, list(yv ORDER BY d) AS y FROM (
              |  SELECT e.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum') + r.bias)::REAL AS yv
              |  FROM embeddings e CROSS JOIN rot r) t GROUP BY vec_id),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t WHERE pr <= 4),
              |bbits AS (SELECT a.id, a.list_no,
              |    list_transform(y.y::DOUBLE[], v -> floor(v * (2.0 / (-1e10)))::BIGINT & 1) AS bits
              |  FROM basg a JOIN ry y ON y.vec_id = a.id),
              |qbits AS (SELECT p.qid, p.list_no,
              |    list_transform(y.y::DOUBLE[], v -> floor(v * (2.0 / (-1e10)))::BIGINT & 1) AS bits
              |  FROM probes p JOIN ry y ON y.vec_id = p.qid),
              |hd AS (SELECT q.qid, b.id,
              |    len(list_filter(list_zip(q.bits, b.bits), p -> p[1] <> p[2]))::BIGINT AS hamming
              |  FROM qbits q JOIN bbits b ON b.list_no = q.list_no)
              |SELECT qid, "rank", id, hamming FROM (
              |  SELECT qid, id, hamming, row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // LSQ (IndexLocalSearchQuantizer, IndexAdditiveQuantizer.h:119;
    // factory LSQ2x4): the rq16 codebooks ENCODED by iterated
    // conditional modes (icm_encode, impl/LocalSearchQuantizer.cpp:505)
    // instead of beam search. The ICM descent itself is not
    // SQL-replayable, so the oracle verifies DECODE-from-codes + the
    // reconstruction-distance ranking from the engine's integer codes
    // (the prq/index2layer sidecar pattern).
    ("lsq_search", (s: SparkSession, dir: String) => {
      val m = rqModel16(s, dir)
      val b = lsqCodes(s, dir).select(col("id"), m.decodeCol(col("codes")).as("dv"))
      val q = qDf(s, dir, 10)
      b.crossJoin(broadcast(q))
        .select(col("qid"), col("id"), l2sq(col("qvec"), col("dv")).as("_d"))
        .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 5, asc = true))
        .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/lsq_codes/*.parquet')),
              |enc AS (SELECT id, r.m AS m, codes[r.m+1] AS j FROM codes, range(0,2) r(m)),
              |comp AS (SELECT e.id, generate_subscripts(cb.c, 1) AS i, unnest(cb.c) AS v
              |  FROM enc e JOIN cb ON cb.m = e.m AND cb.j = e.j),
              |sumd AS (SELECT id, i, sum(v)::REAL AS v FROM comp GROUP BY id, i),
              |dv AS (SELECT id, list(v ORDER BY i) AS dv FROM sumd GROUP BY id),
              |d AS (SELECT q.vec_id AS qid, b.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM embeddings q CROSS JOIN dv b WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // ResidualCoarseQuantizer as the IVF coarse quantizer
    // (IndexAdditiveQuantizer.h:193; factory IVF16(RCQ2x2),Flat): the
    // 16 coarse centroids are codeword sums that are never
    // materialized — assignment and probe selection run the RQ beam
    // search at L·beam·k·d cost (core/RqExpressions.scala rcqTopLists).
    // At FULL beam (16 = nlist) both degenerate to the exact argmin
    // over the enumerated sums, which the oracle replays from the
    // codebooks sidecar: enumerate cents, argmin-assign the base,
    // top-4 probe lists per query, exact distance over probed lists.
    ("ivf_rcq_search", (s: SparkSession, dir: String) =>
      rcq16(s, dir).search(qDf(s, dir, 10), k = 5, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/rcq_codebooks/*.parquet')),
              |cents AS (SELECT c0.j*4 + c1.j AS list_no,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS cent
              |  FROM cb c0 JOIN cb c1 ON c0.m = 0 AND c1.m = 1),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.cent), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cents c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.cent), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10) t WHERE rn <= 4),
              |d AS (SELECT p.qid, a.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // RQ reconstruction-distance search (the SDC-style use of the
    // additive code): rank base by ||q - decode(encode(b))||².
    ("rq_search", (s: SparkSession, dir: String) => {
      val rq = rqModel16(s, dir)
      val b = bDf(s, dir, 10).select(col("id"), rq.roundtripCol(col("vec")).as("dv"))
      val q = qDf(s, dir, 10)
      b.crossJoin(broadcast(q))
        .select(col("qid"), col("id"), l2sq(col("qvec"), col("dv")).as("_d"))
        .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 5, asc = true))
        .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |a0 AS (SELECT vec_id, embedding, j0 FROM (
              |  SELECT e.vec_id, e.embedding, cb.j AS j0, row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(e.embedding::DOUBLE[], cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM embeddings e JOIN cb ON cb.m = 0 WHERE e.vec_id >= 10) t WHERE rn = 1),
              |r1 AS (SELECT a0.vec_id, a0.embedding, a0.j0,
              |    list_transform(list_zip(a0.embedding, cb.c), p -> p[1] - p[2]) AS res
              |  FROM a0 JOIN cb ON cb.m = 0 AND cb.j = a0.j0),
              |a1 AS (SELECT vec_id, embedding, j0, j1 FROM (
              |  SELECT r1.vec_id, r1.embedding, r1.j0, cb.j AS j1, row_number() OVER (PARTITION BY r1.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(r1.res::DOUBLE[], cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM r1 JOIN cb ON cb.m = 1) t WHERE rn = 1),
              |dec AS (SELECT a1.vec_id AS id,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM a1 JOIN cb c0 ON c0.m = 0 AND c0.j = a1.j0
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = a1.j1),
              |d AS (SELECT q.vec_id AS qid, b.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM embeddings q CROSS JOIN dec b WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // Additive-quantizer LUT search (Search_type_t ST_norm_float,
    // faiss/impl/AdditiveQuantizer.h:58-67): the scan computes
    // d = ||q||^2 - 2·<q,x̂> + ||x̂||^2 where <q,x̂> is L lookups into a
    // per-query LUT (exact: x̂ is a SUM of codewords, so the inner
    // product distributes) and ||x̂||^2 is the norm stored with the
    // codes at add time — no per-candidate decode. Oracle replays the
    // whole chain from the engine's integer codes (rq_codes sidecar):
    // decode, stored norm, LUT terms, same formula, same order.
    ("rq_lut_search", (s: SparkSession, dir: String) => {
      val rq = rqModel16(s, dir)
      val b = bDf(s, dir, 10)
        .select(col("id"), rq.encodeCol(col("vec")).as("codes"))
        .withColumn("normsq", aggregate(
          rq.decodeCol(col("codes")).cast("array<double>"),
          lit(0.0), (a, x) => a + x * x))
      val q = qDf(s, dir, 10).select(col("qid"),
        rq.lutCol(col("qvec")).as("lut"),
        aggregate(col("qvec").cast("array<double>"), lit(0.0),
          (a, x) => a + x * x).as("qn"))
      b.crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          (col("qn") - lit(2.0) * rq.ipFromLutCol(col("codes"), col("lut"))
            + col("normsq")).as("_d"))
        .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 5, asc = true))
        .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |nb AS (SELECT id, cv0, cv1,
              |    list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dec),
              |d AS (SELECT q.vec_id AS qid, nb.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nb.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nb.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
              |    + nb.normsq AS dist
              |  FROM nb CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // Quantized stored-norm AQ search types (Search_type_t
    // ST_norm_qint8/qint4/cqint8/cqint4, AdditiveQuantizer.h:58-67):
    // the same LUT scan as rq_lut_search, with the stored ||x̂||² term
    // quantized — uniformly over the trained [norm_min, norm_max]
    // range (encode_qint8/decode_qint8, AdditiveQuantizer.cpp:167-186)
    // or through a 256/16-entry exact-DP 1-D k-means codebook
    // (train_norm:124-131 Clustering1D). The oracle replays the whole
    // chain from the rq_codes sidecar: decode, stored norm, the
    // clamp/floor qint grid (or the codebook argmin from the cq
    // sidecar), LUT terms, same formula.
    ("rq_qnorm_qint8_search", (s: SparkSession, dir: String) => {
      val (nmin, nmax) = rqNormRange(s, dir)
      rqQnormSearch(s, dir, graft.index.RqNorms.qintDecode(_, 256, nmin, nmax))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |nb AS (SELECT id, cv0, cv1,
              |    list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dec),
              |nstat AS (SELECT min(normsq) AS nmin, max(normsq) AS nmax FROM nb),
              |nq AS (SELECT nb.id, nb.cv0, nb.cv1, CASE WHEN ns.nmax = ns.nmin THEN ns.nmin ELSE
              |    (least(greatest(floor((nb.normsq - ns.nmin)/(ns.nmax - ns.nmin)*256), 0), 255) + 0.5)/256*(ns.nmax - ns.nmin) + ns.nmin END AS nqd
              |  FROM nb, nstat ns),
              |d AS (SELECT q.vec_id AS qid, nq.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
              |    + nq.nqd AS dist
              |  FROM nq CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    ("rq_qnorm_qint4_search", (s: SparkSession, dir: String) => {
      val (nmin, nmax) = rqNormRange(s, dir)
      rqQnormSearch(s, dir, graft.index.RqNorms.qintDecode(_, 16, nmin, nmax))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |nb AS (SELECT id, cv0, cv1,
              |    list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dec),
              |nstat AS (SELECT min(normsq) AS nmin, max(normsq) AS nmax FROM nb),
              |nq AS (SELECT nb.id, nb.cv0, nb.cv1, CASE WHEN ns.nmax = ns.nmin THEN ns.nmin ELSE
              |    (least(greatest(floor((nb.normsq - ns.nmin)/(ns.nmax - ns.nmin)*16), 0), 15) + 0.5)/16*(ns.nmax - ns.nmin) + ns.nmin END AS nqd
              |  FROM nb, nstat ns),
              |d AS (SELECT q.vec_id AS qid, nq.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
              |    + nq.nqd AS dist
              |  FROM nq CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    ("rq_qnorm_cqint8_search", (s: SparkSession, dir: String) =>
      rqQnormSearch(s, dir,
        graft.index.RqNorms.cqDecode(_, rqNormCq(s, dir, 256))),
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |nb AS (SELECT id, cv0, cv1,
              |    list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dec),
              |cq AS (SELECT j, c FROM read_parquet('$AUX/rqnorm_cq8/*.parquet')),
              |nq AS (SELECT id, cv0, cv1, c AS nqd FROM (
              |  SELECT nb.id, nb.cv0, nb.cv1, cq.c, row_number() OVER (PARTITION BY nb.id ORDER BY abs(nb.normsq - cq.c), cq.j) AS rn
              |  FROM nb CROSS JOIN cq) t WHERE rn = 1),
              |d AS (SELECT q.vec_id AS qid, nq.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
              |    + nq.nqd AS dist
              |  FROM nq CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    ("rq_qnorm_cqint4_search", (s: SparkSession, dir: String) =>
      rqQnormSearch(s, dir,
        graft.index.RqNorms.cqDecode(_, rqNormCq(s, dir, 16))),
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1,
              |    list_transform(list_zip(c0.c, c1.c), p -> p[1] + p[2]) AS dv
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |nb AS (SELECT id, cv0, cv1,
              |    list_aggregate(list_transform(dv::DOUBLE[], x -> x*x), 'sum') AS normsq FROM dec),
              |cq AS (SELECT j, c FROM read_parquet('$AUX/rqnorm_cq4/*.parquet')),
              |nq AS (SELECT id, cv0, cv1, c AS nqd FROM (
              |  SELECT nb.id, nb.cv0, nb.cv1, cq.c, row_number() OVER (PARTITION BY nb.id ORDER BY abs(nb.normsq - cq.c), cq.j) AS rn
              |  FROM nb CROSS JOIN cq) t WHERE rn = 1),
              |d AS (SELECT q.vec_id AS qid, nq.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
              |    + nq.nqd AS dist
              |  FROM nq CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // ST_LUT_nonorm (`RQ2x4_Nnone`, AdditiveQuantizer.h:60): the
    // inner-product-only LUT mode — similarity = <q,x̂> from L lookups,
    // no norm stored or read, ranked DESCENDING. Oracle replays the
    // decode + dot products from the engine's integer codes.
    ("rq_nonorm_search", (s: SparkSession, dir: String) => {
      val rq = rqModel16(s, dir)
      val q = qDf(s, dir, 10).select(col("qid"), rq.lutCol(col("qvec")).as("lut"))
      rqNormBase(s, dir).crossJoin(broadcast(q))
        .select(col("qid"), col("id"),
          rq.ipFromLutCol(col("codes"), col("lut")).as("_d"))
        .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 5, asc = false))
        .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
              |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1
              |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
              |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
              |d AS (SELECT q.vec_id AS qid, dec.id,
              |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], dec.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
              |   + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], dec.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')) AS dist
              |  FROM dec CROSS JOIN embeddings q WHERE q.vec_id < 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist DESC, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // ST_norm_rq2x4 on the FLAT AQ route (AdditiveQuantizer.h:63; the
    // packed-LUT twin lives in the 4fs family): the stored norm goes
    // through a greedy 2-level 1-D RQ. Oracle = decode replay of the
    // engine-encoded code pairs against the codebook sidecar — the
    // lsq_codes pattern.
    ("rq_qnorm_rq2x4_search", (s: SparkSession, dir: String) => {
      val cb = rqNorm2Cb(s, dir, 0)
      rqQnormSearch(s, dir, n => graft.index.RqNorms.norm2Decode(
        graft.index.RqNorms.rq2EncodeCol(n, cb), cb))
    },
      Some(rqNorm2x4Sql("rq"))),

    // ST_norm_lsq2x4 (AdditiveQuantizer.h:64): same 2-level codec with
    // LSQ-refined codebooks and the exact joint 256-pair assignment
    // (the 1-D fixed point of LocalSearchQuantizer::icm_encode).
    ("rq_qnorm_lsq2x4_search", (s: SparkSession, dir: String) => {
      val cb = rqNorm2Cb(s, dir, 3)
      rqQnormSearch(s, dir, n => graft.index.RqNorms.norm2Decode(
        graft.index.RqNorms.lsq2EncodeCol(n, cb), cb))
    },
      Some(rqNorm2x4Sql("lsq"))),

    // per-partition HNSW graph accelerator (IndexHNSWfast capability,
    // IndexShards merge). Approximate + partitioning-dependent, so no
    // per-row oracle; the driver gate is mean recall@10 vs the exact
    // flat search (both computed in-engine) >= 0.9, with the oracle
    // independently re-deriving the query count from lineitem and
    // asserting the gate boolean — a recall regression flips the hash
    // red (precedent: recall_half_dims). HnswSpec asserts recall too.
    ("hnsw_partition_search", (s: SparkSession, dir: String) => {
      val q = bigQueries(s, dir); val b = bigVecs(s, dir)
      val approx = graft.knn.PartitionedHnsw.knnJoin(q, b, 10,
        m = 16, efConstruction = 64, efSearch = 96)
      val truth = bigTruth(s, dir)
      graft.eval.Recall.perQuery(truth, approx)
        .agg(count(lit(1)).as("n_queries"),
          // vacuously true when the sf yields no big queries (sf0.001)
          coalesce(avg(col("recall")) >= 0.9, lit(true)).as("recall_ge_090"))
    },
      Some(s"""SELECT count(*)::BIGINT AS n_queries, true AS recall_ge_090
              |FROM ($bigVecSql) v WHERE id % 9973 = 1""".stripMargin)),

    // HNSW exact-degenerate: efSearch >= any partition's size makes
    // the greedy beam cover the whole (connected-by-construction)
    // per-partition graph, so the sharded HNSW must reproduce the flat
    // exact search bit-for-bit — an end-to-end driver-gate check of
    // the graph build, beam search, and shard merge. The approximate
    // regime (efSearch << n) stays covered by hnsw_partition_search +
    // HnswSpec's recall bound.
    ("hnsw_exact_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedHnsw.knnJoin(
        qDf(s, dir, 10), bDf(s, dir, 10), 10,
        m = 16, efConstruction = 64, efSearch = 4096)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    // ReconstructFromNeighbors estimate_code + reconstruct
    // (faiss/IndexHNSW.cpp:796,639; nsq=1, the constructor default):
    // per vector, the argmin codebook row over reconstruction error
    // from [self, M neighbors] of the deterministic exact kNN graph.
    // The oracle replays the WHOLE chain in SQL: the kNN graph, the
    // beta-weighted vector sums for every codebook row, the error
    // argmin, and the chosen row's error.
    ("reconstruct_neighbors_codes", (s: SparkSession, dir: String) => {
      val base = emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val graph = graft.knn.KnnGraph.exact(base, 4)
      val cb = graft.knn.ReconstructFromNeighbors.smoothingCodebook(4, 4)
      graft.knn.ReconstructFromNeighbors.encode(base, graph, cb)
        .select(col("id"), col("code").cast("long").as("code"), r4("err").as("err"))
    },
      Some("""WITH g AS (SELECT src, "rank", dst FROM (
             |  SELECT a.vec_id AS src, b.vec_id AS dst, row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |    list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS "rank"
             |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t WHERE "rank" <= 4),
             |tblv AS (SELECT g.src AS id, g."rank" AS pos, b.embedding::DOUBLE[] AS nv
             |         FROM g JOIN embeddings b ON b.vec_id = g.dst
             |         UNION ALL SELECT vec_id, 0, embedding::DOUBLE[] FROM embeddings),
             |betas AS (SELECT j FROM range(0,4) r(j)),
             |contrib AS (SELECT t.id, bt.j,
             |    list_transform(t.nv, x -> x * CASE WHEN t.pos = 0 THEN 1.0
             |      WHEN t.pos = bt.j + 1 THEN 0.1
             |      WHEN t.pos = ((bt.j + 1) % 4) + 1 THEN -0.1 ELSE 0 END) AS wv
             |  FROM tblv t CROSS JOIN betas bt),
             |rc AS (SELECT id, j, i, sum(x) AS v FROM (
             |  SELECT id, j, unnest(wv) AS x, generate_subscripts(wv, 1) AS i FROM contrib) u
             |  GROUP BY id, j, i),
             |recon AS (SELECT id, j, list(v ORDER BY i) AS rv FROM rc GROUP BY id, j),
             |e AS (SELECT r.id, r.j,
             |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv),
             |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS err
             |  FROM recon r JOIN embeddings b ON b.vec_id = r.id)
             |SELECT id, code, round(err, 4) AS err FROM (
             |  SELECT id, j AS code, err, row_number() OVER (PARTITION BY id ORDER BY err, j) AS rn
             |  FROM e) t WHERE rn = 1""".stripMargin)),

    // k_reorder re-rank (ReconstructFromNeighbors, IndexHNSW.cpp:
    // 334-345): HNSW shortlist re-ranked on neighbor reconstructions.
    // Exact-degenerate gate: codebook [[1,0,...]] (k=1 — no codes,
    // IndexHNSW.cpp:846) makes reconstruction == stored vector, and
    // efSearch covers every partition graph, so the re-ranked result
    // must equal the flat exact search — proving the shortlist join,
    // reconstruction distances, and reorder window end-to-end.
    ("hnsw_reconstruct_rerank", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10); val b = bDf(s, dir, 10)
      val graph = graft.knn.KnnGraph.exact(b, 4)
      val recon = graft.knn.ReconstructFromNeighbors.encode(
        b, graph, Array(Array(1f, 0f, 0f, 0f, 0f)))
      val stage1 = graft.knn.PartitionedHnsw.knnJoin(q, b, 10,
        m = 16, efConstruction = 64, efSearch = 4096)
      graft.knn.ReconstructFromNeighbors.rerank(stage1, q, recon, kReorder = 10)
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    // per-partition NSG (IndexNSG capability, faiss/IndexNSG.h:26) —
    // exact-degenerate gate: searchL >= any partition's size seeds the
    // full candidate pool in LocalNsg.searchOnGraph, so the sharded
    // NSG must reproduce the flat exact search bit-for-bit. An
    // end-to-end driver gate on the kNN-graph bootstrap, MRNG prune,
    // tree_grow connectivity fix, graph search, and shard merge.
    ("nsg_exact_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedNsg.knnJoin(
        qDf(s, dir, 10), bDf(s, dir, 10), 10,
        gk = 16, r = 16, buildL = 32, searchL = 4096)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    // Filtered graph search — the fork's IDSelector-inside-HNSW
    // headline (faiss/IndexHNSWfast.h:87 remove_ids, :99 search with
    // SearchParameters): the predicate is pushed BELOW the per-
    // partition graph build, so the graph contains only admissible
    // points; with the exact-degenerate efSearch the result must be
    // bit-identical to the filtered flat search.
    ("hnsw_filtered_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedHnsw.knnJoin(
        qDf(s, dir, 10), bDf(s, dir, 10), 10,
        m = 16, efConstruction = 64, efSearch = 4096,
        filter = Some(pmod(col("id"), lit(3)) === 0))
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10 AND b.vec_id % 3 = 0", 10))),

    // HNSW over SQ8 code storage (IndexHNSWSQ, faiss/IndexHNSW.h:168,
    // factory "HNSW16,SQ8"): each partition's graph stores
    // 1-byte-per-dim codes and decodes inside the distance
    // (LocalHnswSq) — 4x less executor memory per graph shard. Exact-
    // degenerate gate: efSearch >= any partition's size makes the
    // asymmetric ADC beam cover the whole graph, so the result must
    // equal the flat SQ8 ADC scan bit-for-bit (the sq8_knn oracle
    // verbatim: same trained range, same codes, same kernel).
    ("hnsw_sq_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedHnsw.knnJoinSq(
        qDf(s, dir, 10), bDf(s, dir, 10), 5,
        m = 16, efConstruction = 64, efSearch = 4096)
        .withColumn("dist", r4("dist")),
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
             |qd AS (SELECT q.vec_id AS qid, b.id AS id,
             |  list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv),
             |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
             |  FROM embeddings q CROSS JOIN dec b WHERE q.vec_id < 10)
             |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
             |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank"
             |  FROM qd) w WHERE "rank" <= 5""".stripMargin)),

    // HNSW-SQ8 approximate regime at 600k-row scale: recall@10 vs the
    // FLOAT exact truth (the verdict-prescribed basis — the gate spans
    // both the graph approximation and the SQ8 quantization error).
    ("hnsw_sq_big", (s: SparkSession, dir: String) => {
      val q = bigQueries(s, dir); val b = bigVecs(s, dir)
      val approx = graft.knn.PartitionedHnsw.knnJoinSq(q, b, 10,
        m = 16, efConstruction = 64, efSearch = 96)
      val truth = bigTruth(s, dir)
      graft.eval.Recall.perQuery(truth, approx)
        .agg(count(lit(1)).as("n_queries"),
          coalesce(avg(col("recall")) >= 0.85, lit(true)).as("recall_ge_085"))
    },
      Some(s"""SELECT count(*)::BIGINT AS n_queries, true AS recall_ge_085
              |FROM ($bigVecSql) v WHERE id % 9973 = 1""".stripMargin)),

    // HNSW over PQ code storage (IndexHNSWPQ, faiss/IndexHNSW.h:152,
    // factory "HNSW16,PQ8"): each partition's graph stores M-byte PQ
    // codes (LocalHnswPq) — symmetric sdc-table distances for
    // construction, per-query ADC LUT for search, arithmetic identical
    // to the flat PQ path (PqKernels.lut + adcFromLut term for term).
    // Exact-degenerate gate: efSearch >= any partition's size makes
    // the beam cover the whole graph, so the result must equal the
    // flat IndexPQ ADC scan bit-for-bit — the pq_adc_search oracle
    // verbatim (same trained pq16 codebooks sidecar).
    ("hnsw_pq_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedHnsw.knnJoinPq(
        qDf(s, dir, 10), bDf(s, dir, 10), 10, pq16(s, dir).model,
        m = 16, efConstruction = 64, efSearch = 4096)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/pq16_codebooks/*.parquet')),
              |bsub AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id >= 10),
              |enc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qsub AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id < 10),
              |lut AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.j GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // NSG over PQ code storage (IndexNSGPQ, faiss/IndexNSG.h:83,
    // factory "NSG32,PQ8"): LocalNsgPq — sdc-table build distances,
    // per-query ADC LUT search. Exact-degenerate gate: searchL >= any
    // partition's size over the connected graph must equal the flat
    // IndexPQ ADC scan — the pq_adc_search oracle verbatim (same
    // trained pq16 codebooks sidecar as hnsw_pq_search).
    ("nsg_pq_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedNsg.knnJoinPq(
        qDf(s, dir, 10), bDf(s, dir, 10), 10, pq16(s, dir).model,
        gk = 32, r = 32, buildL = 64, searchL = 4096)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/pq16_codebooks/*.parquet')),
              |bsub AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id >= 10),
              |enc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qsub AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id < 10),
              |lut AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.j GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // NSG over SQ8 code storage (IndexNSGSQ, faiss/IndexNSG.h:91,
    // factory "NSG32,SQ8"): each partition's NSG stores 1-byte-per-dim
    // codes and decodes inside the distance (LocalNsgSq). Exact-
    // degenerate gate: searchL >= any partition's size seeds the full
    // pool over a CONNECTED graph, so the asymmetric ADC ranking must
    // equal the flat SQ8 scan bit-for-bit — the same decode-replay
    // oracle as hnsw_sq_search (both degenerate to the identical flat
    // SQ8 ADC ranking: same trained range, same codes, same kernel).
    ("nsg_sq_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedNsg.knnJoinSq(
        qDf(s, dir, 10), bDf(s, dir, 10), 5,
        gk = 32, r = 32, buildL = 64, searchL = 4096)
        .withColumn("dist", r4("dist")),
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
             |qd AS (SELECT q.vec_id AS qid, b.id AS id,
             |  list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv),
             |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
             |  FROM embeddings q CROSS JOIN dec b WHERE q.vec_id < 10)
             |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
             |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank"
             |  FROM qd) w WHERE "rank" <= 5""".stripMargin)),

    // NSG approximate regime at 600k-row scale: driver gate is mean
    // recall@10 vs the exact flat search >= 0.9 (same pattern as
    // hnsw_partition_search; the oracle re-derives the query count and
    // asserts the gate boolean — a recall regression flips the hash).
    ("nsg_partition_search", (s: SparkSession, dir: String) => {
      val q = bigQueries(s, dir); val b = bigVecs(s, dir)
      val approx = graft.knn.PartitionedNsg.knnJoin(q, b, 10,
        gk = 32, r = 32, buildL = 64, searchL = 96)
      val truth = bigTruth(s, dir)
      graft.eval.Recall.perQuery(truth, approx)
        .agg(count(lit(1)).as("n_queries"),
          coalesce(avg(col("recall")) >= 0.9, lit(true)).as("recall_ge_090"))
    },
      Some(s"""SELECT count(*)::BIGINT AS n_queries, true AS recall_ge_090
              |FROM ($bigVecSql) v WHERE id % 9973 = 1""".stripMargin)),

    // IndexNNDescent searched as an index (faiss/IndexNNDescent.h:23):
    // the raw (unpruned) per-partition kNN graph IS the search
    // structure, walked by the same search_on_graph. Gate: recall@10
    // vs exact >= 0.8 (the reference's own NNDescent tests gate on
    // recall, tests/test_index_accuracy.py pattern).
    ("nndescent_index_search", (s: SparkSession, dir: String) => {
      val q = bigQueries(s, dir); val b = bigVecs(s, dir)
      val approx = graft.knn.PartitionedNsg.knnJoin(q, b, 10,
        gk = 32, r = 32, buildL = 64, searchL = 96, pruneToNsg = false)
      val truth = bigTruth(s, dir)
      graft.eval.Recall.perQuery(truth, approx)
        .agg(count(lit(1)).as("n_queries"),
          coalesce(avg(col("recall")) >= 0.8, lit(true)).as("recall_ge_080"))
    },
      Some(s"""SELECT count(*)::BIGINT AS n_queries, true AS recall_ge_080
              |FROM ($bigVecSql) v WHERE id % 9973 = 1""".stripMargin)),

    // sanity: classic aggregation pipeline (partial agg + shuffle)
    ("q1_agg", (s: SparkSession, dir: String) =>
      lineitem(s, dir).groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        round(sum(col("l_quantity")), 1).as("sum_qty"),
        count(lit(1)).as("cnt"),
        round(avg(col("l_extendedprice")), 2).as("avg_price")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 1) AS sum_qty,
             |  count(*) AS cnt, round(avg(l_extendedprice), 2) AS avg_price
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin))
  )
}
