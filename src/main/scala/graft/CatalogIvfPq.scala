package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, TopKAgg, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Catalog part: IVFPQ(R), LSH/PCA/OPQ/ITQ, two-level, ZnLattice, spectral hash, IVF-SQ, binary, kNN-graph.
  * Entry ORDER is load-bearing (Verify/Bench iterate catalog order;
  * build-timing rows precede the searches reusing their memoized
  * index), so parts concatenate in the original sequence. */
private[graft] trait CatalogIvfPq { this: QueriesBase =>

  protected def ivfPqEntries: Seq[CatalogEntry] = Seq(

    // §2.11 IVFPQ: residual PQ inside the pruned IVF join. nprobe =
    // nlist here, so the oracle replays coarse assignment (argmin over
    // the centroid sidecar), the float32 residual, residual encode,
    // per-(query, list) LUT over (q - centroid), and the ADC sum.
    ("ivfpq_search", (s: SparkSession, dir: String) =>
      ivfpq8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(ivfpqNprobe8Sql)),

    // `IVF<n>_HNSW<m>,PQ<m>` — the canonical billion-scale factory
    // recipe (index_factory.cpp:253-256 parses the coarse quantizer
    // independently of the code; benchs/bench_all_ivf runs
    // IVF65536_HNSW32,PQ16): probe selection walks a per-executor
    // HNSW graph over the centroids instead of the exact O(nlist)
    // argmin, then the residual-PQ ADC search is unchanged. The
    // factory trains with the same deterministic seed/iters as the
    // memoized ivfpq8, and efSearch = max(32, 4·nprobe) >= nlist here
    // makes the walk cover the whole graph — so the full parse →
    // build → HNSW-probe → ADC chain must reproduce the ivfpq replay
    // exactly (the ivf_hnsw_search convention).
    ("ivf_hnsw_pq_search", (s: SparkSession, dir: String) =>
      factoryIvfHnswPq8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(ivfpqNprobe8Sql)),

    // IVFPQ + polysemous Hamming pre-filter (IndexIVFPQ.h:41
    // polysemous_ht — the filter every SIFT1B/Deep1B operating point
    // sets): candidates whose stored code is more than ht bits from
    // the query's per-list residual code are dropped BEFORE the ADC
    // distance. The oracle replays the full ivfpq chain plus the
    // query-side residual encode and the integer Hamming filter.
    ("ivfpq_polysemous_search", (s: SparkSession, dir: String) =>
      ivfpq8(s, dir).search(qDf(s, dir, 10), 10, nprobe = 8,
        polysemousHt = Some(16))
        .withColumn("dist", r4("dist")),
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
              |qres AS (SELECT q.vec_id AS qid, c.list_no,
              |    list_transform(list_zip(q.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qsub AS (SELECT qid, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
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
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  JOIN ham h ON h.id = e.id AND h.qid = l.qid AND h.list_no = e.list_no
              |  WHERE h.hd <= 16
              |  GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVFPQ lossy reconstruction (reconstruct_from_offset,
    // faiss/IndexIVFPQ.cpp): centroid + decoded residual, one
    // broadcast join + in-row decode. The oracle replays assignment,
    // residual encode, codeword lookup, and the float32 centroid add.
    ("ivfpq_reconstruct", (s: SparkSession, dir: String) =>
      ivfpq8(s, dir).reconstruct
        .join(emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
        .select(col("id"), round(element_at(col("vec"), 1), 4).as("d1"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"),
              col("vec").cast("array<double>"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x), 4).as("err")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/ivfpq_codebooks/*.parquet')),
              |cbf AS (SELECT m, j, c FROM read_parquet('$AUX/ivfpq_codebooks/*.parquet')),
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
              |dres AS (SELECT e.id, flatten(list(f.c ORDER BY e.m)) AS dv
              |  FROM enc e JOIN cbf f ON f.m = e.m AND f.j = e.j GROUP BY e.id),
              |rec AS (SELECT a.id,
              |    list_transform(list_zip(c.c, d.dv), p -> p[1] + p[2]) AS rv
              |  FROM basg a JOIN cent c ON c.list_no = a.list_no JOIN dres d ON d.id = a.id)
              |SELECT r.id, round(r.rv[1], 4) AS d1,
              |  round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv::DOUBLE[]),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 4) AS err
              |FROM rec r JOIN embeddings b ON b.vec_id = r.id""".stripMargin)),

    // IVFPQ range search (IndexIVFPQ::range_search): every candidate
    // in the probed lists whose ADC distance over the residual LUT is
    // under the radius — the filter applies below any aggregation, so
    // only in-radius rows leave the scan. nprobe = nlist ⇒ the probed
    // set is the whole base; the oracle replays the full residual
    // encode + LUT + ADC chain and keeps dist < r.
    ("ivfpq_range_search", (s: SparkSession, dir: String) =>
      ivfpq8(s, dir).rangeSearch(qDf(s, dir, 10), radius = 1.3, nprobe = 8)
        .withColumn("dist", r4("dist")),
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
              |qres AS (SELECT q.vec_id AS qid, c.list_no,
              |    list_transform(list_zip(q.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qsub AS (SELECT qid, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, id, round(dist, 4) AS dist FROM adc WHERE dist < 1.3""".stripMargin)),

    // §2.7 intersect (left_semi) of two id sets
    ("intersect_ids", (s: SparkSession, dir: String) => {
      val a = emb(s, dir).filter(col("vec_id") % 2 === 0).select(col("vec_id"))
      val b = emb(s, dir).filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      a.join(b, Seq("vec_id"), "left_semi")
    },
      Some("SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0 AND vec_id % 3 = 0")),

    // §2.7 except (left_anti)
    ("except_ids", (s: SparkSession, dir: String) => {
      val a = emb(s, dir).filter(col("vec_id") % 2 === 0).select(col("vec_id"))
      val b = emb(s, dir).filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      a.join(b, Seq("vec_id"), "left_anti")
    },
      Some("SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0 AND vec_id % 3 <> 0")),

    // §2.3 search_and_reconstruct: kNN that also returns the matched
    // vector (joined back on id, rounded first component as witness)
    ("search_and_reconstruct", (s: SparkSession, dir: String) => {
      val res = Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5)
      res.join(bDf(s, dir, 10), "id")
        .select(col("qid"), col("rank"), col("id"), r4("dist").as("dist"),
          round(element_at(col("vec"), 1).cast("double"), 4).as("v1"))
    },
      Some(s"""SELECT qid, "rank", id, round(dist, 4) AS dist, round(v1, 4) AS v1 FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id, $dL2 AS dist,
              |    b.embedding[1]::DOUBLE AS v1,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $dL2, b.vec_id) AS "rank"
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE "rank" <= 5""".stripMargin)),

    // §2.3 IndexFlat1D: exact 1-D nearest search (|q - v| metric)
    ("knn_1d", (s: SparkSession, dir: String) => {
      val vals = emb(s, dir).select(col("vec_id").as("id"),
        element_at(col("embedding"), 1).cast("double").as("v"))
      val qs = vals.filter(col("id") < 10)
        .select(col("id").as("qid"), col("v").as("qv"))
      val base = vals.filter(col("id") >= 10)
      base.crossJoin(broadcast(qs))
        .select(col("qid"), col("id"), abs(col("v") - col("qv")).as("_d"))
        .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 3, asc = true))
        .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
    },
      Some("""SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
             |  SELECT q.vec_id AS qid, b.vec_id AS id,
             |    abs(b.embedding[1]::DOUBLE - q.embedding[1]::DOUBLE) AS dist,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      abs(b.embedding[1]::DOUBLE - q.embedding[1]::DOUBLE), b.vec_id) AS "rank"
             |  FROM embeddings q CROSS JOIN embeddings b
             |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE "rank" <= 3""".stripMargin)),

    // §2.3 range search under a similarity metric (IP: dist > radius)
    ("range_search_ip", (s: SparkSession, dir: String) =>
      Knn.rangeJoin(qDf(s, dir, 20), bDf(s, dir, 20), 0.35, metric = "ip")
        .withColumn("dist", r4("dist")),
      Some(s"""SELECT q.vec_id AS qid, b.vec_id AS id, round($dIp, 4) AS dist
              |FROM embeddings q CROSS JOIN embeddings b
              |WHERE q.vec_id < 20 AND b.vec_id >= 20 AND $dIp > 0.35""".stripMargin)),

    // §2.7 get_invlist_range: export a contiguous range of lists.
    // Oracle re-derives the list assignment from the centroid sidecar.
    ("invlist_range", (s: SparkSession, dir: String) =>
      ivf16(s, dir).invlists.filter(col("list_no").between(0, 7))
        .groupBy(col("list_no")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).cast("long").as("n_lists"), sum(col("cnt")).as("n_rows")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1)
              |SELECT count(DISTINCT list_no)::BIGINT AS n_lists, count(*)::BIGINT AS n_rows
              |FROM basg WHERE list_no BETWEEN 0 AND 7""".stripMargin)),

    // §2.11 LSH: seeded random rotation + sign bits + Hamming search.
    // Oracle reads the rotation-matrix sidecar, re-derives the rotated
    // float32 sign bits per dim, and counts mismatches (Hamming is
    // bit-packing-independent).
    ("lsh_search", (s: SparkSession, dir: String) => {
      val rot = rot64(s, dir)
      val enc = (c: org.apache.spark.sql.Column) => sign_bits(rot.applyCol(c))
      val q = qDf(s, dir, 10).select(col("qid"), enc(col("qvec")).as("qcode"))
      val b = bDf(s, dir, 10).select(col("id"), enc(col("vec")).as("code"))
      graft.index.BinaryFlat.knnJoin(q, b, 10)
    },
      Some(s"""WITH bits AS (SELECT vec_id, list((yv >= 0) ORDER BY d) AS bv FROM (
              |  SELECT e.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r::DOUBLE[], e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum'))::REAL AS yv
              |  FROM embeddings e CROSS JOIN read_parquet('$AUX/rot64/*.parquet') r) t GROUP BY vec_id),
              |hd AS (SELECT q.vec_id AS qid, b.vec_id AS id,
              |    len(list_filter(list_zip(q.bv, b.bv), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM bits q JOIN bits b ON q.vec_id < 10 AND b.vec_id >= 10)
              |SELECT qid, "rank", id, hd FROM (
              |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // Reference LSH spelling with trained thresholds (factory "LSHt",
    // IndexLSH.cpp:58-97: nbits = d, bit = component >= its
    // per-component MEDIAN over the training set). Fully replayable
    // with no sidecar: DuckDB's interpolated median matches Spark's
    // exact percentile(0.5), the centered value is float-cast before
    // the sign test (the engine's array<float> codes), and the
    // Hamming ranking follows the lsh_search replay.
    ("lsh_threshold_search", (s: SparkSession, dir: String) =>
      cached(s"lshT:$dir") {
        graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec", "LSHt")
      }.search(qDf(s, dir, 10), 10),
      Some("""WITH med AS (SELECT i, median(x) AS md FROM (
             |  SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding::DOUBLE[]) AS x
             |  FROM embeddings WHERE vec_id >= 10) t GROUP BY i),
             |bits AS (SELECT vec_id, list((CAST(e.x - m.md AS REAL) >= 0) ORDER BY e.i) AS bv FROM (
             |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding::DOUBLE[]) AS x
             |  FROM embeddings) e JOIN med m ON m.i = e.i GROUP BY vec_id),
             |hd AS (SELECT q.vec_id AS qid, b.vec_id AS id,
             |    len(list_filter(list_zip(q.bv, b.bv), p -> p[1] <> p[2]))::BIGINT AS hd
             |  FROM bits q JOIN bits b ON q.vec_id < 10 AND b.vec_id >= 10)
             |SELECT qid, "rank", id, hd FROM (
             |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
             |WHERE "rank" <= 10""".stripMargin)),

    // §2.9 PCAMatrix as a DIRECT oracle row (canonical #63; previously
    // ScalaTest-only): kNN in the PCA-16 space. The oracle replays the
    // trained projection from the pca16 sidecar (double mat-vec + bias,
    // float32 cast — the Linear output contract, pdk_rot precedent)
    // then the exact L2 ranking.
    ("pca_knn", (s: SparkSession, dir: String) => {
      val p = pca16(s, dir)
      Knn.knnJoin(
        qDf(s, dir, 10).withColumn("qvec", p.applyCol(col("qvec"))),
        bDf(s, dir, 10).withColumn("vec", p.applyCol(col("vec"))), 5)
        .withColumn("dist", r4("dist"))
    },
      Some(s"""WITH rot AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/pca16/*.parquet')),
              |rv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT e.vec_id, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')) + r.bias::DOUBLE)::REAL AS yv
              |  FROM embeddings e CROSS JOIN rot r) t GROUP BY vec_id),
              |dd AS (SELECT q.vec_id AS qid, b.vec_id AS id,
              |    list_aggregate(list_transform(list_zip(q.v::DOUBLE[], b.v::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM rv q CROSS JOIN rv b WHERE q.vec_id < 10 AND b.vec_id >= 10)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM dd) w
              |WHERE "rank" <= 5""".stripMargin)),

    // §2.9 ITQMatrix as a DIRECT oracle row (canonical #65; previously
    // ScalaTest-only): sign-binarize under the trained ITQ rotation,
    // then Hamming kNN — the lsh_search replay with the itq32 sidecar
    // (which folds PCA + Procrustes rotation + centering bias).
    ("itq_lsh_search", (s: SparkSession, dir: String) => {
      val it = itq32(s, dir)
      val enc = (c: org.apache.spark.sql.Column) => sign_bits(it.applyCol(c))
      val q = qDf(s, dir, 10).select(col("qid"), enc(col("qvec")).as("qcode"))
      val b = bDf(s, dir, 10).select(col("id"), enc(col("vec")).as("code"))
      graft.index.BinaryFlat.knnJoin(q, b, 10)
    },
      Some(s"""WITH rot AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/itq32/*.parquet')),
              |bits AS (SELECT vec_id, list((yv >= 0) ORDER BY d) AS bv FROM (
              |  SELECT e.vec_id, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')) + r.bias::DOUBLE)::REAL AS yv
              |  FROM embeddings e CROSS JOIN rot r) t GROUP BY vec_id),
              |hd AS (SELECT q.vec_id AS qid, b.vec_id AS id,
              |    len(list_filter(list_zip(q.bv, b.bv), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM bits q JOIN bits b ON q.vec_id < 10 AND b.vec_id >= 10)
              |SELECT qid, "rank", id, hd FROM (
              |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // §2.9 OPQ: learned rotation + PQ. Oracle rotates both sides with
    // the rotation sidecar (double mat-vec, float32 cast — the Linear
    // transform's output contract), then replays the flat-PQ
    // encode/LUT/ADC with the OPQ codebooks sidecar.
    ("opq_pq_search", (s: SparkSession, dir: String) => {
      val base = bDf(s, dir, 10)
      val (rot, pqm) = opqModel(s, dir)
      val idx = new graft.index.PqIndex(pqm,
        pqm.encode(base.withColumn("vec", rot.applyCol(col("vec"))), "id", "vec"))
      idx.search(qDf(s, dir, 10).withColumn("qvec", rot.applyCol(col("qvec"))), 10)
        .withColumn("dist", r4("dist"))
    },
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/opq_codebooks/*.parquet')),
              |rv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT e.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r::DOUBLE[], e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum'))::REAL AS yv
              |  FROM embeddings e CROSS JOIN read_parquet('$AUX/opq_rot/*.parquet') r) t GROUP BY vec_id),
              |bsub AS (SELECT vec_id AS id, r.m AS m, v[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM rv, range(0,8) r(m) WHERE vec_id >= 10),
              |enc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qsub AS (SELECT vec_id AS qid, r.m AS m, v[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM rv, range(0,8) r(m) WHERE vec_id < 10),
              |lut AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.j GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // Dimension-CHANGING OPQ prefix (factory OPQ8_32 — OPQMatrix
    // (d, M, d_out), index_factory.cpp:211; reference test_factory.py
    // uses OPQ16_64): PCA 64→32, OPQ rotation in the reduced space,
    // then residual IVFPQ over the 32-dim vectors. The oracle replays
    // EVERY stage from sidecars: both linear stages (::REAL after each,
    // matching the engine's per-transform float32 output), coarse
    // argmin assign, residual PQ encode, per-query residual LUT, ADC.
    // nprobe = nlist so no probe pruning enters the replay.
    ("opq32_ivfpq_search", (s: SparkSession, dir: String) => {
      val (p, rot, idx) = opq32Ivfpq(s, dir)
      val tq = qDf(s, dir, 10)
        .withColumn("qvec", rot.applyCol(p.applyCol(col("qvec"))))
      idx.search(tq, 10, nprobe = 16).withColumn("dist", r4("dist"))
    },
      Some(s"""WITH pc AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/opq32_pca/*.parquet')),
              |rt AS (SELECT d, r::DOUBLE[] AS r FROM read_parquet('$AUX/opq32_rot/*.parquet')),
              |pv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT e.vec_id, p.d,
              |    ((list_aggregate(list_transform(list_zip(p.r, e.embedding::DOUBLE[]), z -> z[1]*z[2]), 'sum')) + p.bias::DOUBLE)::REAL AS yv
              |  FROM embeddings e CROSS JOIN pc p) t GROUP BY vec_id),
              |rv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT x.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r, x.v::DOUBLE[]), z -> z[1]*z[2]), 'sum'))::REAL AS yv
              |  FROM pv x CROSS JOIN rt r) t GROUP BY vec_id),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/opq32_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/opq32_codebooks/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.v::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM rv b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.v, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN rv b ON b.vec_id = a.id JOIN cent c ON c.list_no = a.list_no),
              |bsub2 AS (SELECT id, list_no, r.m AS m, res[r.m*4+1:r.m*4+4]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc2 AS (SELECT id, list_no, m, j FROM (
              |  SELECT b.id, b.list_no, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub2 b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qres AS (SELECT q.vec_id AS qid, c.list_no,
              |    list_transform(list_zip(q.v, c.c), p -> p[1] - p[2]) AS res
              |  FROM rv q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qsub2 AS (SELECT qid, list_no, r.m AS m, res[r.m*4+1:r.m*4+4]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub2 q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc2 e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // §2.4 two-level clustering (scalable nlist path). Sidecar oracle
    // replays the final assignment (sizes + objective) like kmeans_train.
    ("two_level_centroids", (s: SparkSession, dir: String) => {
      val cents = twoLevel12(s, dir)
      val a = shim.col(graft.core.NearestCentroid(shim.expr(col("embedding")), cents))
      emb(s, dir).select(col("vec_id"), a.as("_a"))
        .select(col("vec_id"), col("_a.list_no").as("list_no"), col("_a.dist").as("dist"))
        .groupBy(col("list_no"))
        .agg(count(lit(1)).as("n"), round(sum(col("dist")), 3).as("obj"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c::DOUBLE[] AS c FROM read_parquet('$AUX/twolevel_centroids/*.parquet')),
              |d AS (SELECT e.vec_id, c.list_no,
              |    list_aggregate(list_transform(list_zip(e.embedding::DOUBLE[], c.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM embeddings e CROSS JOIN cent c),
              |a AS (SELECT vec_id, list_no, dist FROM (
              |  SELECT vec_id, list_no, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_no) AS rn FROM d) t
              |  WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n, round(sum(dist), 3) AS obj
              |FROM a GROUP BY list_no""".stripMargin)),

    // §2.3 IVFPQR: second residual codebook re-rank (true faiss shape,
    // no raw vectors stored); exact-vector re-rank variant remains in
    // Refine.ivfPqRefineSearch. The oracle replays BOTH stages: ADC
    // over codebook-1 keeps k*kFactor candidates, then the
    // two-codebook float32 reconstruction re-ranks them.
    ("ivfpqr_search", (s: SparkSession, dir: String) =>
      ivfpqr8(s, dir).search(qDf(s, dir, 10), k = 5, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpqr_centroids/*.parquet')),
              |cb1 AS (SELECT m, j, c FROM read_parquet('$AUX/ivfpqr_codebooks1/*.parquet')),
              |cb2 AS (SELECT m, j, c FROM read_parquet('$AUX/ivfpqr_codebooks2/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN embeddings b ON b.vec_id = a.id JOIN cent c ON c.list_no = a.list_no),
              |bsub AS (SELECT id, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc1 AS (SELECT id, list_no, m, j FROM (
              |  SELECT b.id, b.list_no, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb1 cb ON cb.m = b.m) t WHERE rn = 1),
              |dec1 AS (SELECT e.id, flatten(list(cb.c ORDER BY e.m)) AS v
              |  FROM enc1 e JOIN cb1 cb ON cb.m = e.m AND cb.j = e.j GROUP BY e.id),
              |res2 AS (SELECT r.id, r.list_no,
              |    list_transform(list_zip(r.res, d.v), p -> p[1] - p[2]) AS res
              |  FROM bres r JOIN dec1 d ON d.id = r.id),
              |bsub2 AS (SELECT id, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |          FROM res2, range(0,8) r(m)),
              |enc2 AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub2 b JOIN cb2 cb ON cb.m = b.m) t WHERE rn = 1),
              |dec2 AS (SELECT e.id, flatten(list(cb.c ORDER BY e.m)) AS v
              |  FROM enc2 e JOIN cb2 cb ON cb.m = e.m AND cb.j = e.j GROUP BY e.id),
              |qres AS (SELECT q.vec_id AS qid, c.list_no,
              |    list_transform(list_zip(q.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qsub AS (SELECT qid, list_no, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb1 cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS d1
              |  FROM enc1 e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id),
              |st1 AS (SELECT qid, id FROM (
              |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d1, id) AS rn FROM adc) t
              |  WHERE rn <= 20),
              |resc AS (SELECT s1.qid, s1.id,
              |    list_aggregate(list_transform(
              |      list_zip(q.res::DOUBLE[], list_transform(list_zip(d1.v, d2.v), p -> p[1] + p[2])::DOUBLE[]),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM st1 s1
              |  JOIN basg a ON a.id = s1.id
              |  JOIN qres q ON q.qid = s1.qid AND q.list_no = a.list_no
              |  JOIN dec1 d1 ON d1.id = s1.id
              |  JOIN dec2 d2 ON d2.id = s1.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM resc) w
              |WHERE "rank" <= 5""".stripMargin)),

    // Index2Layer (faiss/Index2Layer.h:29): IVFPQ codes without
    // inverted lists — random-access encoded storage; the faithful API
    // surface is encode + reconstruct (search is unimplemented in the
    // reference, Index2Layer.h:53). Both sides DECODE from the
    // engine's stored integer codes in IDENTICAL pure-DOUBLE
    // arithmetic — codebook lookup, coarse-centroid add, error fold —
    // the exact pattern that greens zn_lattice_roundtrip — but the
    // compared columns are INTEGER-quantized (round(x*1e4) as BIGINT)
    // rather than 4-dp doubles: Spark's round (BigDecimal→nearest
    // double) and DuckDB's (decimal-corrected double rounding,
    // half-away-from-zero at the requested digit — verified
    // round(2.675::DOUBLE,2)=2.68, so NOT a naive std::round(x*1e2);
    // ADVICE r07/r08) can disagree by 1 ulp on the
    // REPRESENTATION of the same 4-dp decimal, which
    // passes a 6-dp-tolerant compare but flips an exact value hash
    // (the r04-r06 red). round-to-integer of bit-identical doubles is
    // semantics-identical on both stacks (half-away-from-zero), so
    // BIGINTs hash exactly. Float reconstruct-vs-decode consistency
    // is covered by TwoLayerSpec; replaying the chained argmin ENCODE
    // in SQL stays deliberately avoided (near-tie float32 vs DOUBLE
    // assignments diverge).
    ("index2layer_roundtrip", (s: SparkSession, dir: String) => {
      val tl = twoLayer16(s, dir)
      val codes = tl.codes.select(col("id"), col("list_no"),
        transform(sequence(lit(1), lit(8)),
          i => conv(hex(col("code").substr(i, lit(1))), 16, 10).cast("int")).as("code"))
      val centD = OracleAux.centroidsDf(s, tl.centroids)
        .select(col("list_no"), col("c").cast("array<double>").as("cent"))
      val cbD = OracleAux.codebooksDf(s, tl.model.codebooks)
        .select(col("m"), col("j"), col("c").cast("array<double>").as("cc"))
      val per = codes.select(col("id"), col("list_no"), posexplode(col("code")))
        .withColumnRenamed("pos", "m").withColumnRenamed("col", "j")
      val dec = per.join(broadcast(cbD), Seq("m", "j"))
        .groupBy("id", "list_no")
        .agg(sort_array(collect_list(struct(col("m"), col("cc")))).as("parts"))
        .select(col("id"), col("list_no"),
          flatten(transform(col("parts"), p => p.getField("cc"))).as("dv"))
      dec.join(broadcast(centD), "list_no")
        .select(col("id"), zip_with(col("cent"), col("dv"), (a, b) => a + b).as("rv"))
        .join(emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
        .select(col("id"),
          round(element_at(col("rv"), 1) * lit(10000.0)).cast("long").as("d1q"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"), col("rv"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x) * lit(10000.0)).cast("long").as("errq"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/twolayer_centroids/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/twolayer_codebooks/*.parquet')),
              |codes AS (SELECT id, list_no, code FROM read_parquet('$AUX/twolayer_codes/*.parquet')),
              |dec AS (SELECT cs.id, flatten(list(cb.c::DOUBLE[] ORDER BY cb.m)) AS dv
              |  FROM (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,8) r(m)) cs
              |  JOIN cb ON cb.m = cs.m AND cb.j = cs.j GROUP BY cs.id),
              |recon AS (SELECT c0.id,
              |    list_transform(list_zip(ct.c::DOUBLE[], d.dv), p -> p[1] + p[2]) AS rv
              |  FROM codes c0 JOIN cent ct ON ct.list_no = c0.list_no JOIN dec d ON d.id = c0.id)
              |SELECT r.id, CAST(round(r.rv[1] * 10000.0) AS BIGINT) AS d1q,
              |  CAST(round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') * 10000.0) AS BIGINT) AS errq
              |FROM recon r JOIN embeddings b ON b.vec_id = r.id""".stripMargin)),

    // Residual2x4,PQ8 — the MIQ-first-layer 2-layer form
    // (index_factory.cpp:270-278: `Residual<M>x<nbit>` returns a
    // MultiIndexQuantizer with nlist = 2^(M*nbit), use_2layer).
    // Decode-from-codes oracle, the index2layer_roundtrip convention:
    // both sides reconstruct rv = concat(coarse_cb0[j0], coarse_cb1[j1])
    // + PQ-decode(code) in DOUBLE from the engine's stored digits and
    // compare quantized first-dim and reconstruction-error values
    // (replaying the chained float32 argmin encodes in SQL diverges on
    // near-ties; TwoLayerSpec proves encode consistency).
    ("residual_mxn_roundtrip", (s: SparkSession, dir: String) => {
      val rmq = resMiq24(s, dir)
      val codes = rmq.codes.select(col("id"),
        (col("cell") / 16).cast("long").cast("int").as("_j0"),
        (col("cell") % 16).cast("int").as("_j1"),
        transform(sequence(lit(1), lit(8)),
          i => conv(hex(col("code").substr(i, lit(1))), 16, 10).cast("int")).as("code"))
      val ccbD = OracleAux.codebooksDf(s, rmq.coarse.codebooks)
      val c0 = ccbD.filter(col("m") === 0)
        .select(col("j").as("_j0"), col("c").cast("array<double>").as("_c0"))
      val c1 = ccbD.filter(col("m") === 1)
        .select(col("j").as("_j1"), col("c").cast("array<double>").as("_c1"))
      val cbD = OracleAux.codebooksDf(s, rmq.model.codebooks)
        .select(col("m"), col("j"), col("c").cast("array<double>").as("cc"))
      val per = codes.select(col("id"), col("_j0"), col("_j1"),
          posexplode(col("code")))
        .withColumnRenamed("pos", "m").withColumnRenamed("col", "j")
      val dec = per.join(broadcast(cbD), Seq("m", "j"))
        .groupBy("id", "_j0", "_j1")
        .agg(sort_array(collect_list(struct(col("m"), col("cc")))).as("parts"))
        .select(col("id"), col("_j0"), col("_j1"),
          flatten(transform(col("parts"), p => p.getField("cc"))).as("dv"))
      dec.join(broadcast(c0), "_j0").join(broadcast(c1), "_j1")
        .select(col("id"),
          zip_with(concat(col("_c0"), col("_c1")), col("dv"),
            (a, b) => a + b).as("rv"))
        .join(emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
        .select(col("id"),
          round(element_at(col("rv"), 1) * lit(10000.0)).cast("long").as("d1q"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"), col("rv"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x) * lit(10000.0)).cast("long").as("errq"))
    },
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/resmiq_coarse_codebooks/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/resmiq_codebooks/*.parquet')),
              |codes AS (SELECT id, j0, j1, code FROM read_parquet('$AUX/resmiq_codes/*.parquet')),
              |dec AS (SELECT cs.id, flatten(list(cb.c::DOUBLE[] ORDER BY cb.m)) AS dv
              |  FROM (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,8) r(m)) cs
              |  JOIN cb ON cb.m = cs.m AND cb.j = cs.j GROUP BY cs.id),
              |recon AS (SELECT c0.id,
              |    list_transform(list_zip(flatten([h0.c::DOUBLE[], h1.c::DOUBLE[]]), d.dv), p -> p[1] + p[2]) AS rv
              |  FROM codes c0
              |  JOIN ccb h0 ON h0.m = 0 AND h0.j = c0.j0
              |  JOIN ccb h1 ON h1.m = 1 AND h1.j = c0.j1
              |  JOIN dec d ON d.id = c0.id)
              |SELECT r.id, CAST(round(r.rv[1] * 10000.0) AS BIGINT) AS d1q,
              |  CAST(round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') * 10000.0) AS BIGINT) AS errq
              |FROM recon r JOIN embeddings b ON b.vec_id = r.id""".stripMargin)),

    // IndexHNSW2Level (IndexHNSW.h:179; factory "HNSW16,2x4+PQ8",
    // index_factory.cpp:463-472): an HNSW graph whose storage is the
    // MIQ-coarse Index2Layer. Exact-degenerate gate (efSearch >= any
    // partition's size): the graph search must equal the exact kNN
    // over the DECODED storage. The oracle reconstructs each stored
    // vector from the resmiq code sidecars with FLOAT-rounded adds —
    // CAST(cent + dv AS FLOAT) is the engine's float32 vec_add (double
    // add of two floats rounded once) — then ranks exact L2 in DOUBLE.
    ("hnsw2level_search", (s: SparkSession, dir: String) =>
      graft.knn.PartitionedHnsw.knnJoin(
        qDf(s, dir, 10), resMiq24(s, dir).reconstruct, 10,
        m = 16, efConstruction = 64, efSearch = 4096)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/resmiq_coarse_codebooks/*.parquet')),
              |cb AS (SELECT m, j, c FROM read_parquet('$AUX/resmiq_codebooks/*.parquet')),
              |codes AS (SELECT id, j0, j1, code FROM read_parquet('$AUX/resmiq_codes/*.parquet')),
              |dec AS (SELECT cs.id, flatten(list(cb.c::DOUBLE[] ORDER BY cb.m)) AS dv
              |  FROM (SELECT id, r.m AS m, code[r.m+1] AS j FROM codes, range(0,8) r(m)) cs
              |  JOIN cb ON cb.m = cs.m AND cb.j = cs.j GROUP BY cs.id),
              |recon AS (SELECT c0.id,
              |    list_transform(list_zip(flatten([h0.c::DOUBLE[], h1.c::DOUBLE[]]), d.dv),
              |      p -> CAST(CAST(p[1] + p[2] AS FLOAT) AS DOUBLE)) AS rv
              |  FROM codes c0
              |  JOIN ccb h0 ON h0.m = 0 AND h0.j = c0.j0
              |  JOIN ccb h1 ON h1.m = 1 AND h1.j = c0.j1
              |  JOIN dec d ON d.id = c0.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT q.vec_id AS qid, r.id AS id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], r.rv),
              |      p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |      list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], r.rv),
              |        p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), r.id) AS "rank"
              |  FROM embeddings q CROSS JOIN recon r WHERE q.vec_id < 10) w
              |WHERE "rank" <= 10""".stripMargin)),

    // ZnLattice codec roundtrip (faiss/IndexLattice.h:22, codec
    // machinery faiss/impl/lattice_Zn.cpp): vectors encoded as 16
    // (8-bit scale, 8-bit sphere-point) pairs by the enumerative
    // Zn codec — no trained codebook at all. Engine and oracle both
    // DECODE from the engine's integer codes (zn_codes sidecar) via
    // the enumerated sphere table (zn_codebook) in identical DOUBLE
    // arithmetic, then compare reconstruction error vs the original —
    // re-running the combinatorial ENCODE in SQL is neither possible
    // nor needed (ZnLatticeSpec proves encode optimal + bijective).
    // ZnSphereCodecRec (lattice_Zn.cpp:470+, power-of-2 dims): the
    // recursive pairing-DP enumeration over the same sphere point set
    // as ZnSphereCodec (codes incompatible by design — the reference
    // keeps both and ZnSphereCodecAlt picks Rec for 2^k dims). The
    // engine enumerates the dim=8, r2=6 sphere through the ATOM codec
    // (one derivation), rec-encodes and rec-decodes every point
    // distributed, and emits the bijectivity gates; the oracle
    // re-derives the point count by brute-force enumeration of Z^8
    // (components in [-2,2], Σx² = 6 — a THIRD independent
    // derivation) and the code width from it, so a counting bug in
    // either codec flips the hash red.
    ("zn_rec_roundtrip", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.graft.shim
      val zn = new graft.core.ZnSphereCodec(8, 6)
      val rec = new graft.core.ZnSphereCodecRec(8, 6)
      // bounded enumeration via the atom codec (nv = a few thousand)
      val pts = (0L until zn.nv).map(c => zn.decode(c).toSeq)
        .zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("i", "p")
        .select(col("i"), col("p").cast("array<int>").as("p"))
      pts.select(col("i"), col("p"),
          shim.col(graft.core.ZnRecEncode(shim.expr(col("p")), rec)).as("code"))
        .withColumn("ok",
          shim.col(graft.core.ZnRecDecode(shim.expr(col("code")), rec)) === col("p"))
        .agg(count(lit(1)).as("n_points"),
          (count_distinct(col("code")) === count(lit(1)) &&
            min(col("code")) === 0 &&
            max(col("code")) === count(lit(1)) - 1 &&
            lit(rec.nv == zn.nv)).as("codes_bijective"),
          (sum(when(col("ok"), 0).otherwise(1)) === 0).as("roundtrip_ok"),
          first(lit(rec.codeSize)).as("code_size"))
    },
      Some("""WITH c AS (SELECT x, x*x AS n FROM (SELECT unnest([-2,-1,0,1,2]) AS x) t),
             |d2 AS (SELECT a.n + b.n AS n FROM c a CROSS JOIN c b WHERE a.n + b.n <= 6),
             |d4 AS (SELECT a.n + b.n AS n FROM d2 a CROSS JOIN d2 b WHERE a.n + b.n <= 6),
             |cnt AS (SELECT count(*)::BIGINT AS n_points FROM d4 a CROSS JOIN d4 b WHERE a.n + b.n = 6)
             |SELECT n_points, true AS codes_bijective, true AS roundtrip_ok,
             |  (floor(ln(n_points)/ln(256)) + 1)::INT AS code_size FROM cnt""".stripMargin)),

    ("zn_lattice_roundtrip", (s: SparkSession, dir: String) => {
      val lat = znLat16(s, dir)
      import s.implicits._
      val cb = graft.index.Lattice.codebookDf(s, lat)
      val rng = (0 until lat.nsq).map(j => (j, lat.mins(j), lat.maxs(j)))
        .toDF("j", "mn", "mx")
      val per = emb(s, dir)
        .select(col("vec_id").as("id"), col("embedding"),
          graft.index.Lattice.subCodesCol(lat, col("embedding")).as("codes"))
        .select(col("id"), col("embedding"),
          explode(transform(sequence(lit(0), lit(lat.nsq - 1)), j =>
            struct(j.as("j"),
              element_at(col("codes"), j * 2 + 1).as("scale"),
              element_at(col("codes"), j * 2 + 2).as("lat_code")))).as("s"))
        .select(col("id"), col("embedding"),
          col("s.j").as("j"), col("s.scale").as("scale"), col("s.lat_code").as("lat_code"))
      val dec = per
        .join(broadcast(rng), "j")
        .join(broadcast(cb), "lat_code")
        .withColumn("nrm",
          ((col("scale").cast("double") + lit(0.5)) *
            (col("mx").cast("double") - col("mn").cast("double")) / lit(256.0) +
            col("mn").cast("double")) / lit(math.sqrt(10.0)))
        .select(col("id"), col("embedding"), col("j"),
          transform(col("c"), x => x.cast("double") * col("nrm")).as("dv"))
      dec.groupBy("id")
        .agg(first(col("embedding")).as("embedding"),
          sort_array(collect_list(struct(col("j"), col("dv")))).as("parts"))
        .select(col("id"), col("embedding"),
          flatten(transform(col("parts"), p => p.getField("dv"))).as("rv"))
        .select(col("id"),
          round(element_at(col("rv"), 1), 4).as("d1"),
          round(aggregate(zip_with(col("embedding").cast("array<double>"), col("rv"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x), 4).as("err"))
    },
      Some(s"""WITH rngv AS (SELECT j, mn, mx FROM read_parquet('$AUX/zn_range/*.parquet')),
              |cbv AS (SELECT lat_code, c FROM read_parquet('$AUX/zn_codebook/*.parquet')),
              |codes AS (SELECT id, codes FROM read_parquet('$AUX/zn_codes/*.parquet')),
              |per AS (SELECT id, r.j AS j, codes[2*r.j+1] AS scale, codes[2*r.j+2] AS lat_code
              |  FROM codes, range(0,16) r(j)),
              |dec AS (SELECT p.id, p.j,
              |    list_transform(cb.c, x -> x::DOUBLE *
              |      (((p.scale::DOUBLE + 0.5) * (g.mx::DOUBLE - g.mn::DOUBLE) / 256.0 + g.mn::DOUBLE) / sqrt(10.0))) AS dv
              |  FROM per p JOIN rngv g ON g.j = p.j JOIN cbv cb ON cb.lat_code = p.lat_code),
              |rv AS (SELECT id, flatten(list(dv ORDER BY j)) AS rv FROM dec GROUP BY id)
              |SELECT r.id, round(r.rv[1], 4) AS d1,
              |  round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 4) AS err
              |FROM rv r JOIN embeddings b ON b.vec_id = r.id""".stripMargin)),

    // IndexIVFSpectralHash (faiss/IndexIVFSpectralHash.h:31): binary
    // signatures from periodic threshold intervals of the rotated
    // vector, Hamming-ranked inside the probed IVF lists. Oracle
    // replays rotation (sidecar matrix), per-list median thresholds
    // (sidecar), bit extraction floor((y-c)*2/period)&1, probe
    // selection, and Hamming top-k — all integers after the floor.
    ("ivfsh_search", (s: SparkSession, dir: String) =>
      ivfsh8(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/sh_centroids/*.parquet')),
              |rot AS (SELECT d, r::DOUBLE[] AS r FROM read_parquet('$AUX/sh_rot/*.parquet')),
              |th AS (SELECT list_no, c::DOUBLE[] AS t FROM read_parquet('$AUX/sh_thresh/*.parquet')),
              |ry AS (SELECT vec_id, list(yv ORDER BY d) AS y FROM (
              |  SELECT e.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum'))::REAL AS yv
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
              |    list_transform(list_zip(y.y::DOUBLE[], t.t), p -> floor((p[1]-p[2])*2.0)::BIGINT & 1) AS bits
              |  FROM basg a JOIN ry y ON y.vec_id = a.id JOIN th t ON t.list_no = a.list_no),
              |qbits AS (SELECT p.qid, p.list_no,
              |    list_transform(list_zip(y.y::DOUBLE[], t.t), p -> floor((p[1]-p[2])*2.0)::BIGINT & 1) AS bits
              |  FROM probes p JOIN ry y ON y.vec_id = p.qid JOIN th t ON t.list_no = p.list_no),
              |hd AS (SELECT q.qid, b.id,
              |    len(list_filter(list_zip(q.bits, b.bits), p -> p[1] <> p[2]))::BIGINT AS hamming
              |  FROM qbits q JOIN bbits b ON b.list_no = q.list_no)
              |SELECT qid, "rank", id, hamming FROM (
              |  SELECT qid, id, hamming, row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // Thresh_centroid_half (IndexIVFSpectralHash.h:45, .cpp:86-90):
    // the fourth threshold mode — the FLOAT-rounded transformed list
    // centroid shifted by -period/4 ("central interval around
    // centroid"). The twin index shares ivfsh8's data/seeds, so its
    // coarse centroids and rotation equal the sh_* sidecars bit for
    // bit; the oracle derives the thresholds ITSELF from those
    // sidecars (t = (rot·centroid)::REAL - period/4) — an engine that
    // dropped or misplaced the shift (the dual of the r13 median bug,
    // which a threshold sidecar masked) hash-mismatches here.
    ("ivfsh_centroid_half_search", (s: SparkSession, dir: String) =>
      ivfshCh8(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/sh_centroids/*.parquet')),
              |rot AS (SELECT d, r::DOUBLE[] AS r FROM read_parquet('$AUX/sh_rot/*.parquet')),
              |th AS (SELECT list_no, list(tv ORDER BY d) AS t FROM (
              |  SELECT c.list_no, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, c.c::DOUBLE[]), p -> p[1]*p[2]), 'sum'))::REAL::DOUBLE - 0.25)::REAL AS tv
              |  FROM cent c CROSS JOIN rot r) z GROUP BY list_no),
              |ry AS (SELECT vec_id, list(yv ORDER BY d) AS y FROM (
              |  SELECT e.vec_id, r.d,
              |    (list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum'))::REAL AS yv
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
              |    list_transform(list_zip(y.y::DOUBLE[], t.t::DOUBLE[]), p -> floor((p[1]-p[2])*2.0)::BIGINT & 1) AS bits
              |  FROM basg a JOIN ry y ON y.vec_id = a.id JOIN th t ON t.list_no = a.list_no),
              |qbits AS (SELECT p.qid, p.list_no,
              |    list_transform(list_zip(y.y::DOUBLE[], t.t::DOUBLE[]), p -> floor((p[1]-p[2])*2.0)::BIGINT & 1) AS bits
              |  FROM probes p JOIN ry y ON y.vec_id = p.qid JOIN th t ON t.list_no = p.list_no),
              |hd AS (SELECT q.qid, b.id,
              |    len(list_filter(list_zip(q.bits, b.bits), p -> p[1] <> p[2]))::BIGINT AS hamming
              |  FROM qbits q JOIN bbits b ON b.list_no = q.list_no)
              |SELECT qid, "rank", id, hamming FROM (
              |  SELECT qid, id, hamming, row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // §2.11 IVF-SQ: SQ8 codes inside the pruned IVF join; nprobe=nlist
    // makes it equal the flat SQ8 ADC search, so the sq8_knn oracle
    // applies verbatim
    ("ivfsq_search_exact", (s: SparkSession, dir: String) =>
      ivfsq16(s, dir).search(qDf(s, dir, 10), 5, nprobe = 16)
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

    // IVF-SQ by_residual = true — the DEFAULT IndexIVFScalarQuantizer
    // form (IndexScalarQuantizer.h:64): the shared per-dim range is
    // trained over RESIDUALS (vec − centroid), the query side
    // subtracts the probed centroid before the ADC. nprobe = nlist,
    // so the oracle replays assignment, the float32 residuals, the
    // residual-trained range, encode/decode, and the residual ADC.
    ("ivfsq_residual_search", (s: SparkSession, dir: String) =>
      ivfsqRes16(s, dir).search(qDf(s, dir, 10), 5, nprobe = 16)
        .withColumn("dist", r4("dist")),
      Some(ivfsqResidualSql)),

    // `IVF<n>_HNSW<m>,SQ<w>` — HNSW coarse composed with the scalar
    // quantizer code (index_factory.cpp:253-256; by_residual = true,
    // the IndexIVFScalarQuantizer default). Same memoized index as
    // ivfsq_residual_search; efSearch = 4096 >= nlist degenerates the
    // walk to the exact probe set, so the residual-SQ replay applies
    // verbatim.
    ("ivf_hnsw_sq_search", (s: SparkSession, dir: String) =>
      ivfsqRes16(s, dir).search(qDf(s, dir, 10), 5, nprobe = 16,
        coarse = Some(graft.index.Probes.HnswCoarse(4096)))
        .withColumn("dist", r4("dist")),
      Some(ivfsqResidualSql)),

    // write_index/read_index for IndexIVFScalarQuantizer (the r15
    // persistence closure's gate entry): the residual-trained range,
    // by_residual flag, qtype and list_no-partitioned codes persist to
    // parquet+JSON; the RELOADED index must replay the residual-SQ
    // scan verbatim, so the oracle is ivfsq_residual_search's verbatim
    // (on-disk trained state == the twin-call sidecar state — the
    // fastscan_io_roundtrip convention).
    ("ivfsq_io_roundtrip", (s: SparkSession, dir: String) => {
      val path = s"target/ivfsq_io_${math.abs(dir.hashCode)}"
      graft.io.IndexIO.save(ivfsqRes16(s, dir), path)
      graft.io.IndexIO.loadAs[graft.index.IvfSqIndex](s, path).search(qDf(s, dir, 10), 5, nprobe = 16)
        .withColumn("dist", r4("dist"))
    },
      Some(ivfsqResidualSql)),

    // §2.11 IVF + 4-bit scalar quantizer (IndexIVFScalarQuantizer
    // QT_4bit, impl/ScalarQuantizer.h:32; factory IVF<n>,SQ4).
    // nprobe = nlist, so the oracle replays the codec exactly:
    // code = floor(15·clamped), decode = (code + 0.5)/15 over the
    // base-side minmax range — the SQ8 replay with 15 for 255.
    ("ivfsq4_search_exact", (s: SparkSession, dir: String) =>
      ivfsq4(s, dir).search(qDf(s, dir, 10), 5, nprobe = 16)
        .withColumn("dist", r4("dist")),
      Some("""WITH dims AS (
             |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
             |    SELECT i, min(e) AS mn, max(e) AS mx
             |    FROM (SELECT unnest(embedding::DOUBLE[]) AS e, generate_subscripts(embedding, 1) AS i
             |          FROM embeddings WHERE vec_id >= 10) u GROUP BY i) t),
             |dec AS (SELECT vec_id AS id,
             |  list_transform(embedding::DOUBLE[], (x, i) ->
             |    vmn[i] + (floor(15 * (CASE WHEN vd[i] = 0 THEN 0
             |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 15 * vd[i]) AS dv
             |  FROM embeddings, dims WHERE vec_id >= 10),
             |qd AS (SELECT q.vec_id AS qid, b.id AS id,
             |  list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv),
             |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
             |  FROM embeddings q CROSS JOIN dec b WHERE q.vec_id < 10)
             |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
             |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank"
             |  FROM qd) w WHERE "rank" <= 5""".stripMargin)),

    // §2.11 IndexBinaryHash: bit-prefix buckets, query scans its bucket
    ("bhash_search", (s: SparkSession, dir: String) => {
      val bucketOf = (v: org.apache.spark.sql.Column) =>
        (0 until 8).map(i => when(element_at(v, i + 1) >= 0f, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        sign_bits(col("embedding")).as("qcode"), bucketOf(col("embedding")).as("bucket"))
      val b = e.filter(col("vec_id") >= 10).select(col("vec_id").as("id"),
        sign_bits(col("embedding")).as("code"), bucketOf(col("embedding")).as("bucket"))
      graft.index.BinaryFlat.hashSearch(q, b, 3)
    },
      Some("""WITH coded AS (SELECT vec_id, embedding,
             |  list_aggregate(list_transform(range(1, 9),
             |    i -> CASE WHEN embedding[i] >= 0 THEN (2^(i-1))::BIGINT ELSE 0 END), 'sum') AS bucket
             |  FROM embeddings)
             |SELECT qid, "rank", id, hd FROM (
             |  SELECT q.vec_id AS qid, b.vec_id AS id,
             |    (SELECT count(*) FROM range(1, 65) r(kk)
             |     WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)) AS hd,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      (SELECT count(*) FROM range(1, 65) r(kk)
             |       WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)), b.vec_id) AS "rank"
             |  FROM coded q JOIN coded b ON q.bucket = b.bucket
             |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE "rank" <= 3""".stripMargin)),

    // §2.11 IndexBinaryMultiHash (faiss/IndexBinaryHash.h:83,
    // factory BHash4x8): 4 hash tables on disjoint 8-bit ranges of the
    // 64-bit sign code; a query probes its bucket in every table and
    // the deduplicated candidate union is Hamming-verified. The oracle
    // replays the per-table keys, the EXISTS-a-colliding-table
    // candidate set, and the (hd, id) ranking.
    ("bhash_multi_search", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        sign_bits(col("embedding")).as("qcode"))
      val b = e.filter(col("vec_id") >= 10).select(col("vec_id").as("id"),
        sign_bits(col("embedding")).as("code"))
      graft.index.BinaryFlat.multiHashSearch(q, b, 3, nhash = 4, b = 8)
    },
      Some("""WITH keys AS (SELECT vec_id, t, list_aggregate(list_transform(range(1, 9),
             |    i -> CASE WHEN embedding[t*8 + i] >= 0 THEN (2^(i-1))::BIGINT ELSE 0 END), 'sum') AS key
             |  FROM embeddings, range(0, 4) r(t)),
             |cand AS (SELECT DISTINCT q.vec_id AS qid, b.vec_id AS id
             |  FROM keys q JOIN keys b ON q.t = b.t AND q.key = b.key
             |  WHERE q.vec_id < 10 AND b.vec_id >= 10),
             |hd AS (SELECT c.qid, c.id,
             |    (SELECT count(*) FROM range(1, 65) r(kk)
             |     WHERE (qe.embedding[kk] >= 0) <> (be.embedding[kk] >= 0)) AS hd
             |  FROM cand c JOIN embeddings qe ON qe.vec_id = c.qid
             |  JOIN embeddings be ON be.vec_id = c.id)
             |SELECT qid, "rank", id, hd FROM (
             |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank"
             |  FROM hd) w WHERE "rank" <= 3""".stripMargin)),

    // IndexBinaryFromFloat (faiss/IndexBinaryFromFloat.h:26): binary
    // index backed by a FLOAT index — codes unpack to ±1 floats
    // (binary_to_real), an IVF float index searches them, and
    // round(L2²/4) is EXACT Hamming (each mismatching bit contributes
    // 4). nprobe = nlist makes the inner IVF exact, so the oracle is
    // the flat Hamming ranking.
    ("binary_from_float_search", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val codes = e.filter(col("vec_id") >= 10).select(col("vec_id").as("id"),
        sign_bits(col("embedding")).as("code"))
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        sign_bits(col("embedding")).as("qcode"))
      val bff = cached(s"bff4:$dir") {
        graft.index.IndexFactory.buildBinaryFromFloat(
          codes, "id", "code", 64, "IVF4,Flat", niter = 3)
      }
      bff.search(q, 3, nprobe = 4)
    },
      Some("""SELECT qid, "rank", id, hd FROM (
             |  SELECT q.vec_id AS qid, b.vec_id AS id,
             |    (SELECT count(*) FROM range(1, 65) r(kk)
             |     WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)) AS hd,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      (SELECT count(*) FROM range(1, 65) r(kk)
             |       WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)), b.vec_id) AS "rank"
             |  FROM embeddings q CROSS JOIN embeddings b
             |  WHERE q.vec_id < 10 AND b.vec_id >= 10) t WHERE "rank" <= 3""".stripMargin)),

    // §2.8 Hamming range search over packed codes
    ("hamming_range", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        sign_bits(col("embedding")).as("qcode"))
      val b = e.filter(col("vec_id") >= 10).select(col("vec_id").as("id"),
        sign_bits(col("embedding")).as("code"))
      graft.index.BinaryFlat.rangeJoin(q, b, maxHamming = 20)
    },
      Some("""SELECT q.vec_id AS qid, b.vec_id AS id,
             |  (SELECT count(*) FROM range(1, 65) r(kk)
             |   WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)) AS hd
             |FROM embeddings q CROSS JOIN embeddings b
             |WHERE q.vec_id < 10 AND b.vec_id >= 10
             |  AND (SELECT count(*) FROM range(1, 65) r(kk)
             |       WHERE (q.embedding[kk] >= 0) <> (b.embedding[kk] >= 0)) <= 20""".stripMargin)),

    // blocked kNN for huge query sets (same oracle as knn_flat_l2 k=5:
    // blocking must not change results)
    ("knn_flat_blocked", (s: SparkSession, dir: String) =>
      Knn.knnJoinBlocked(qDf(s, dir, 10), bDf(s, dir, 10), 5, blocks = 3)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    // §2.11 batch kNN-graph construction (NNDescent build phase /
    // Deep1B kNN-graph use case): exact graph oracle-checked
    ("knn_graph_exact", (s: SparkSession, dir: String) =>
      graft.knn.KnnGraph.exact(
        emb(s, dir).filter(col("vec_id") < 100)
          .select(col("vec_id").as("id"), col("embedding").as("vec")), 5)
        .withColumn("dist", r4("dist")),
      Some("""SELECT src, "rank", dst, round(dist, 4) AS dist FROM (
             |  SELECT q.vec_id AS src, b.vec_id AS dst,
             |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, b.vec_id) AS "rank"
             |  FROM embeddings q CROSS JOIN embeddings b
             |  WHERE q.vec_id < 100 AND b.vec_id < 100 AND q.vec_id <> b.vec_id) t
             |WHERE "rank" <= 5""".stripMargin)),

    // nn-descent refinement of the graph (iterative, approximate).
    // Driver gate: edge recall vs the exact graph (computed in-engine,
    // both sides Spark) must clear 0.8 — the oracle independently
    // derives the exact-graph edge count (n nodes × k, k < n) and
    // asserts the gate boolean, so a recall regression flips the hash
    // red (precedent: recall_half_dims). KnnGraphSpec additionally
    // asserts per-iteration convergence.
    ("knn_graph_nndescent", (s: SparkSession, dir: String) => {
      // sf1-equivalent tier: replicate the node set scaleX times
      // ([[replicatePairGroups]] — shifted ids + per-copy hash noise;
      // here group = id, so every copy is a perturbed whole graph) so
      // the NN-descent build grows linearly in n. The recall gate's
      // exact graph is the in-query O(n^2) denominator and scales
      // with it. scaleX = 1 (every oracle run) is bit-identical.
      val pts = replicatePairGroups(
        emb(s, dir).filter(col("vec_id") < 100), "vec_id", "embedding", scaleX)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = graft.knn.KnnGraph.exact(pts, 5)
      val approx = graft.knn.KnnGraph.nnDescent(pts, 5, iters = 3)
      val hits = exact.select(col("src"), col("dst"))
        .join(approx.select(col("src"), col("dst")), Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("_h"))
      exact.agg(count(lit(1)).as("n_edges")).crossJoin(hits)
        .select(col("n_edges"),
          (col("_h").cast("double") / col("n_edges").cast("double") >= 0.8)
            .as("recall_ge_080"))
    },
      Some("""SELECT (count(*) * 5)::BIGINT AS n_edges, true AS recall_ge_080
             |FROM embeddings WHERE vec_id < 100""".stripMargin)),

    // §2.4 ProgressiveDimClustering (PCA-prefix warm-started k-means).
    // Sidecar oracle rotates every point with the learned PCA (mat-vec
    // + centering bias, float32 output contract), then replays the
    // final-level assignment: per-cluster sizes must agree.
    ("progressive_dim_kmeans", (s: SparkSession, dir: String) => {
      val (rot, m) = pdk8(s, dir)
      val rotated = emb(s, dir).select(col("vec_id"), rot.applyCol(col("embedding")).as("vr"))
      m.assign(rotated, "vr")
        .groupBy(col("list_no")).agg(count(lit(1)).as("n"))
    },
      Some(s"""WITH rot AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/pdk_rot/*.parquet')),
              |rv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT e.vec_id, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')) + r.bias::DOUBLE)::REAL AS yv
              |  FROM embeddings e CROSS JOIN rot r) t GROUP BY vec_id),
              |cent AS (SELECT list_no, c::DOUBLE[] AS c FROM read_parquet('$AUX/pdk_centroids/*.parquet')),
              |d AS (SELECT rv.vec_id, c.list_no,
              |    list_aggregate(list_transform(list_zip(rv.v::DOUBLE[], c.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM rv CROSS JOIN cent c),
              |a AS (SELECT vec_id, list_no FROM (
              |  SELECT vec_id, list_no, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_no) AS rn FROM d) t
              |  WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n FROM a GROUP BY list_no""".stripMargin)),
  )
}
