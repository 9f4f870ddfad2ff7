package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Catalog part: the *_big at-scale rows (600k-row derived corpus), IMI, binary IVF.
  * Entry ORDER is load-bearing (Verify/Bench iterate catalog order;
  * build-timing rows precede the searches reusing their memoized
  * index), so parts concatenate in the original sequence. */
private[graft] trait CatalogScale { this: QueriesBase =>

  protected def scaleEntries: Seq[CatalogEntry] = Seq(

    // end-to-end LLM training-data pipeline: quality filter -> minhash
    // near-dup removal -> per-language corpus stats; every stage
    // replayed by the oracle
    ("training_data_pipeline", (s: SparkSession, dir: String) => {
      val docs = docsDf(s, dir)
      val quality = docs.filter(
        TF.qualityScore(col("text"), TF.EnStopwords) >= 0.5)
      val deduped = Dedup.dropNearDups(quality, "doc_id", "text",
        threshold = 0.8, ngram = 3, hashes = 12, bands = 4)
      deduped.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars").cast("double")), 2).as("avg_chars"),
        sum(TF.tokenCount(col("text"))).as("total_tokens"))
    },
      Some("""WITH quality AS (
             |  SELECT * FROM (
             |    SELECT d.*, string_split(text, ' ') AS t FROM documents d) q
             |  WHERE (least(length(text)::DOUBLE / 500.0, 1.0)
             |    + least(5.0 * len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','on'], x)))::DOUBLE / len(t), 1.0)
             |    + CASE WHEN list_aggregate(list_transform(t, x -> length(x)), 'sum')::DOUBLE / len(t) <= 8.0 THEN 1.0 ELSE 0.5 END) / 3.0 >= 0.5),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |         THEN list_transform(t[1:len(t)-2], (x, i) -> x || ' ' || t[i+1] || ' ' || t[i+2])
             |         ELSE []::VARCHAR[] END) AS s FROM quality),
             |hs AS (SELECT doc_id, s, list_transform(s,
             |         x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 4294967291) AS hv FROM sh),
             |sig AS (SELECT doc_id, s, list_transform(range(0, 12),
             |          j -> list_aggregate(list_transform(hv,
             |            h -> (h * ((2654435761 * (j+1)) % 1000000007) + (97531 * (j+13)) % 1000000007) % 1000000007),
             |            'min')) AS sg FROM hs),
             |band AS (SELECT doc_id, b, md5(array_to_string(sg[3*b+1:3*b+3], '|')) AS bh
             |         FROM sig, range(0, 4) r(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
             |         FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |jac AS (SELECT i, j, len(list_intersect(sa.s, sb.s))::DOUBLE AS inter,
             |               (len(sa.s) + len(sb.s))::DOUBLE AS tot
             |        FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j),
             |losers AS (SELECT DISTINCT j FROM jac WHERE inter/(tot-inter) >= 0.8),
             |deduped AS (SELECT * FROM quality WHERE doc_id NOT IN (SELECT j FROM losers))
             |SELECT lang, count(*) AS n_docs, round(avg(n_chars::DOUBLE), 2) AS avg_chars,
             |  CAST(sum(len(t)) AS BIGINT) AS total_tokens
             |FROM deduped GROUP BY lang""".stripMargin)),

    // ---- at-scale vector queries (600k-row lineitem-derived table;
    // the bench rows that actually stress scan/prune/top-k) ----------

    // Materializes the 600k-row derived vector table (md5 ids +
    // distinct + persist) as its own timed entry, so every downstream
    // *_big query measures its own work instead of whoever runs first
    // paying the derivation.
    ("bigvec_derive", (s: SparkSession, dir: String) => {
      import s.implicits._
      Seq(bigVecs(s, dir).count()).toDF("n_rows")
    },
      Some(s"WITH v AS ($bigVecSql) SELECT count(*) AS n_rows FROM v")),

    // exact brute-force kNN at |lineitem| scale: broadcast-NLJ + heap
    // aggregate over 600k rows x ~60 queries (sf0.1)
    ("knn_flat_l2_big", (s: SparkSession, dir: String) =>
      Knn.knnJoin(bigQueries(s, dir), bigVecs(s, dir), 10)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH v AS ($bigVecSql)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT q.id AS qid, b.id AS id,
              |    list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2 AS dist,
              |    row_number() OVER (PARTITION BY q.id ORDER BY
              |      list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2, b.id) AS "rank"
              |  FROM v q CROSS JOIN v b WHERE q.id % 9973 = 1) t
              |WHERE "rank" <= 10""".stripMargin)),

    // SQ8 ADC kNN at scale: 8-byte codes (vs 32 raw bytes) over the
    // 600k-row table; oracle replays the min/max training and the
    // codec arithmetic
    ("sq8_knn_big", (s: SparkSession, dir: String) => {
      val sq = cached(s"sq8big:$dir") {
        graft.index.SqIndex.build(bigVecs(s, dir), "id", "vec")
      }
      sq.search(bigQueries(s, dir), 10).withColumn("dist", r4("dist"))
    },
      Some(s"""WITH v AS ($bigVecSql),
              |dims AS (
              |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |    SELECT i, min(e) AS mn, max(e) AS mx
              |    FROM (SELECT unnest(vec::DOUBLE[]) AS e, generate_subscripts(vec, 1) AS i
              |          FROM v) u GROUP BY i) t),
              |dec AS (SELECT v.id,
              |  list_transform(vec::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i]) AS dv
              |  FROM v, dims),
              |qd AS (SELECT q.id AS qid, b.id AS id,
              |  list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], b.dv),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM v q CROSS JOIN dec b WHERE q.id % 9973 = 1)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank"
              |  FROM qd) w WHERE "rank" <= 10""".stripMargin)),

    // radius search at scale over the 600k-row table
    ("range_search_big", (s: SparkSession, dir: String) =>
      Knn.rangeJoin(bigQueries(s, dir), bigVecs(s, dir), 0.02)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH v AS ($bigVecSql)
              |SELECT q.id AS qid, b.id AS id,
              |  round(list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2, 4) AS dist
              |FROM v q CROSS JOIN v b
              |WHERE q.id % 9973 = 1
              |  AND list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2 < 0.02""".stripMargin)),

    // binary Hamming kNN at scale: centered sign-bit codes over the
    // 600k-row table (1 byte/vector scanned); oracle replays the
    // centering, sign extraction, and popcount ranking
    ("knn_binary_hamming_big", (s: SparkSession, dir: String) => {
      val enc = (c: org.apache.spark.sql.Column) =>
        sign_bits(transform(c, x => x - lit(0.5f)))
      val q = bigQueries(s, dir).select(col("qid"), enc(col("qvec")).as("qcode"))
      val b = bigVecs(s, dir).select(col("id"), enc(col("vec")).as("code"))
      graft.index.BinaryFlat.knnJoin(q, b, 10)
    },
      Some(s"""WITH v AS ($bigVecSql),
              |bits AS (SELECT id, list_transform(v.vec::DOUBLE[], x -> x - 0.5 >= 0) AS bv FROM v),
              |hd AS (SELECT q.id AS qid, b.id AS id,
              |    len(list_filter(list_zip(q.bv, b.bv), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM bits q JOIN bits b ON q.id % 9973 = 1)
              |SELECT qid, "rank", id, hd FROM (
              |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVF index build at scale, timed separately from search (faiss
    // benches train/add apart from search for the same reason). Runs
    // before ivf_search_big in catalog order, so the search timing
    // measures pure search against the memoized index. Output = the
    // inverted-list histogram; the oracle replays the coarse
    // assignment over all 600k rows from the centroid sidecar.
    ("ivf_build_big", (s: SparkSession, dir: String) =>
      ivfBig(s, dir).invlists
        .groupBy(col("list_no")).agg(count(lit(1)).as("n")),
      Some(s"""WITH v AS ($bigVecSql),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfbig_centroids/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM v b CROSS JOIN cent c) t WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n FROM basg GROUP BY list_no""".stripMargin)),

    // IVF at scale: nprobe/nlist = 8/64 prunes 87.5% of the scan; the
    // oracle replays probe selection + assignment from the centroid
    // sidecar. Bench contrast vs knn_flat_l2_big is the IVF pruning
    // claim measured under real load.
    ("ivf_search_big", (s: SparkSession, dir: String) =>
      ivfBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(ivfBigNprobe8Sql)),

    // Skewed-IVF stress (VERDICT r12 #6): the corpus is deliberately
    // imbalanced — half the rows collapse to one tight cluster, so one
    // list holds ~50% of the data (imbalance_factor >> 1,
    // IvfSpec asserts it). At 100 TB a hot list is the first thing
    // that kills an ANN join; here the session-built invlists keep the
    // SOURCE partitioning (the probed-list filter selects hot-list
    // rows wherever they lie, the top-k is partial+final), so the hot
    // list spreads over every core instead of one straggler task —
    // Bench's per-query task_max_ms/task_p50_ms fields record the
    // histogram evidence. The oracle replays the same skew transform
    // (float-exact in DuckDB) and the standard IVF search from the
    // trained-centroid sidecar.
    ("ivf_search_skewed", (s: SparkSession, dir: String) =>
      ivfSkew(s, dir).search(
        skewVecs(s, dir).filter(col("id") % 9973 === 1)
          .select(col("id").as("qid"), col("vec").as("qvec")),
        k = 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH v0 AS ($bigVecSql),
              |v AS (SELECT id, CASE WHEN id % 2 = 0
              |    THEN list_transform(vec, x -> x * 0.001::REAL) ELSE vec END AS vec FROM v0),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfskew_centroids/*.parquet')),
              |qc AS (SELECT q.id AS qid, c.list_no, row_number() OVER (PARTITION BY q.id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM v q CROSS JOIN cent c WHERE q.id % 9973 = 1),
              |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 4),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM v b CROSS JOIN cent c) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN v q ON q.id = p.qid JOIN v b ON b.id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // big-batch IVF search (IVFlib's big-batch entry point / the
    // contrib big_batch_search recipe): when the QUERY SET itself is
    // corpus-sized, broadcasting the probe table is the wrong plan —
    // broadcastQueries = false keeps the probe side distributed and
    // the scan becomes a shuffle equi-join on list_no (partition
    // pruning still applies). Results are bit-identical to the
    // broadcast plan, so the oracle is ivf_search_big's verbatim; the
    // bench contrast shows the alternative 100 TB plan's cost.
    ("ivf_search_big_batch", (s: SparkSession, dir: String) =>
      ivfBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8,
        broadcastQueries = false)
        .withColumn("dist", r4("dist")),
      Some(ivfBigNprobe8Sql)),

    // distributed_ondisk recipe AT SCALE: 4 slices of the 600k-row
    // corpus each build invlists against the ivfbig quantizer, merge
    // to one on-disk store, load, search — and must return the top-k
    // of the SINGLE-build index bit for bit (shared oracle =
    // ivf_search_big's replay; the merge≡single-index invariant of
    // tests/test_merge.cpp under real load). This is the 100 TB
    // ingestion lifecycle measured end to end: per-slice assignment
    // is one NearestCentroid pass, the merge is a partitioned
    // parquet write, and the search partition-prunes the merged
    // store like any loaded index.
    ("distributed_ondisk_recipe_big", (s: SparkSession, dir: String) => {
      import java.nio.file.Files
      import graft.streaming.StreamingIngest.rmTree
      val single = ivfBig(s, dir)
      val base = bigVecs(s, dir)
      val tmp = Files.createTempDirectory("graft_ondisk_recipe_big")
      try {
        val shards = (0 until 4).map { g =>
          IvfIndex.build(base.filter(pmod(col("id"), lit(4)) === g),
            "id", "vec", nlist = single.nlist, centroids0 = single.centroids)
        }
        val merged = IvfIndex.mergeOnDisk(shards, s"$tmp/index")
        val out = merged.search(bigQueries(s, dir), k = 10, nprobe = 8)
          .withColumn("dist", r4("dist"))
        val rows = out.collect().toSeq // bounded: ~60 queries x k
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally rmTree(tmp)
    },
      Some(ivfBigNprobe8Sql)),

    // Two-level coarse AT SCALE (`IVF64(IVF8,Flat)` over the 600k-row
    // corpus, approximate regime nprobe2 = 3 of 8 sub-cells): the
    // regime the sub-index quantizer exists for — the quantizer scans
    // ~3/8 of the centroid table per query instead of all of it. The
    // oracle replays centroid sub-cell assignment, the query's
    // sub-cell ranking, the pruned centroid ranking and the exact
    // probed-list scan, all over the big-corpus sidecars.
    ("ivf_two_level_search_big", (s: SparkSession, dir: String) =>
      ivfBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8,
        coarse = Some(graft.index.Probes.IvfFlatCoarse(8, 3)))
        .withColumn("dist", r4("dist")),
      Some(s"""WITH v AS ($bigVecSql),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfbig_centroids/*.parquet')),
              |sub AS (SELECT j, c FROM read_parquet('$AUX/parensub_big_centroids/*.parquet')),
              |casg AS (SELECT list_no, j FROM (
              |  SELECT ct.list_no, sb.j, row_number() OVER (PARTITION BY ct.list_no ORDER BY
              |    list_aggregate(list_transform(list_zip(ct.c::DOUBLE[], sb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), sb.j) AS rn
              |  FROM cent ct CROSS JOIN sub sb) t WHERE rn = 1),
              |qcell AS (SELECT qid, j FROM (
              |  SELECT q.id AS qid, sb.j, row_number() OVER (PARTITION BY q.id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], sb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), sb.j) AS pr
              |  FROM v q CROSS JOIN sub sb WHERE q.id % 9973 = 1) t WHERE pr <= 3),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT qc.qid, ct.list_no, row_number() OVER (PARTITION BY qc.qid ORDER BY
              |    list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], ct.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), ct.list_no) AS pr
              |  FROM qcell qc JOIN casg ca ON ca.j = qc.j JOIN cent ct ON ct.list_no = ca.list_no
              |  JOIN v q ON q.id = qc.qid) t WHERE pr <= 8),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM v b CROSS JOIN cent c) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.vec::DOUBLE[], b.vec::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN v q ON q.id = p.qid JOIN v b ON b.id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVFPQ build at scale, timed apart from search (see ivf_build_big)
    ("ivfpq_build_big", (s: SparkSession, dir: String) =>
      ivfpqBig(s, dir).codes
        .groupBy(col("list_no")).agg(count(lit(1)).as("n")),
      Some(s"""WITH v AS ($bigVecSql),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpqbig_centroids/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM v b CROSS JOIN cent c) t WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n FROM basg GROUP BY list_no""".stripMargin)),

    // fast-scan at scale: 600k rows at TWO bytes/row (4 nibble codes)
    // vs 32 float bytes — the memory story the fast-scan family exists
    // for. The oracle replays encode + LUT quantization + the integer
    // scan over the whole table; qdist is integer-exact at any scale.
    ("pq4fs_search_big", (s: SparkSession, dir: String) =>
      pqfsBig(s, dir).search(bigQueries(s, dir), k = 10),
      Some(pq4fsBigSql)),

    // write_index/read_index of the fast-scan store AT SCALE, gate-
    // visible (VERDICT r14 #3: the sf0.001 fastscan_io_roundtrip sits
    // below the 0.5 s oracle floor): the 600k-row nibble-packed index
    // is saved, reloaded, and searched while the oracle replays only
    // the search (pq4fs_search_big's verbatim) — the gated ratio
    // carries the save+load lifecycle the oracle never pays, the same
    // asymmetry as distributed_ondisk_recipe (see Bench notes).
    ("fastscan_io_big", (s: SparkSession, dir: String) => {
      val path = s"target/fastscan_io_big_${math.abs(dir.hashCode)}"
      graft.io.IndexIO.save(pqfsBig(s, dir), path)
      graft.io.IndexIO.loadAs[graft.index.Pq4FastScanIndex](s, path).search(bigQueries(s, dir), k = 10)
    },
      Some(pq4fsBigSql)),

    // IVFPQ at scale (m=4, dsub=2 over d=8): codes are 4 bytes/row vs
    // 32 bytes of floats; oracle replays the full residual-encode +
    // LUT + ADC pipeline from the sidecars.
    ("ivfpq_search_big", (s: SparkSession, dir: String) =>
      ivfpqBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(ivfpqBigSql)),

    // The HNSW-coarse composition AT SCALE (`IVF64_HNSW32,PQ4` over
    // the 600k-row corpus): probe selection walks the per-executor
    // centroid graph instead of the exact argmin — the regime the
    // composition exists for. efSearch = 4096 >= nlist keeps the walk
    // exact-degenerate, so the ivfpq replay applies verbatim.
    ("ivf_hnsw_pq_search_big", (s: SparkSession, dir: String) =>
      ivfpqBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8,
        coarse = Some(graft.index.Probes.HnswCoarse(4096)))
        .withColumn("dist", r4("dist")),
      Some(ivfpqBigSql)),

    // IMI+PQ build at scale, timed apart from search (see
    // ivf_build_big): per-half coarse assignment + residual PQ encode
    // over all 600k rows. Output = the cell histogram; the oracle
    // replays both half-space argmins from the coarse sidecar.
    ("imi_pq_build_big", (s: SparkSession, dir: String) =>
      imipqBig(s, dir).codes
        .groupBy(col("cell")).agg(count(lit(1)).as("n")),
      Some(s"""WITH v AS ($bigVecSql),
              |ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imipqbig_coarse_cb/*.parquet')),
              |bh AS (SELECT id, r.m AS m, vec[r.m*4+1:r.m*4+4]::DOUBLE[] AS sv
              |       FROM v, range(0,2) r(m)),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN ccb cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, (a0.j*8 + a1.j)::INT AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1)
              |SELECT cell, count(*)::BIGINT AS n FROM bcell GROUP BY cell""".stripMargin)),

    // IMI+PQ search at scale (the SIFT1B flagship composition shape —
    // IMI2x12,PQ16 scaled to the 600k derived table as IMI2x3,PQ4):
    // MinSumK probe ranking, statically pruned cell scan, residual ADC.
    // The oracle replays the full chain from the two codebook sidecars.
    ("imi_pq_search_big", (s: SparkSession, dir: String) =>
      imipqBig(s, dir).search(bigQueries(s, dir), k = 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH v AS ($bigVecSql),
              |ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imipqbig_coarse_cb/*.parquet')),
              |rcb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/imipqbig_codebooks/*.parquet')),
              |bh AS (SELECT id, r.m AS m, vec[r.m*4+1:r.m*4+4]::DOUBLE[] AS sv
              |       FROM v, range(0,2) r(m)),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN ccb cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j AS j0, a1.j AS j1, a0.j*8 + a1.j AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |bres AS (SELECT bc.id, bc.cell,
              |    list_transform(list_zip(b.vec, c0.c || c1.c), p -> p[1] - p[2]) AS res
              |  FROM bcell bc JOIN v b ON b.id = bc.id
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = bc.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = bc.j1),
              |bsub AS (SELECT id, cell, r.m AS m, res[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM bres, range(0,4) r(m)),
              |enc AS (SELECT id, cell, m, j FROM (
              |  SELECT b.id, b.cell, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN rcb cb ON cb.m = b.m) t WHERE rn = 1),
              |qh AS (SELECT id AS qid, r.m AS m, vec[r.m*4+1:r.m*4+4]::DOUBLE[] AS sv
              |       FROM v, range(0,2) r(m) WHERE id % 9973 = 1),
              |qtop AS (SELECT qid, m, j, d FROM (
              |  SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d,
              |    row_number() OVER (PARTITION BY q.qid, q.m ORDER BY
              |      list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qh q JOIN ccb cb ON cb.m = q.m) t WHERE rn <= 8),
              |cells AS (SELECT d0.qid, d0.j AS j0, d1.j AS j1, d0.j*8 + d1.j AS cell, d0.d + d1.d AS cd
              |  FROM qtop d0 JOIN qtop d1 ON d0.qid = d1.qid AND d0.m = 0 AND d1.m = 1),
              |probes AS (SELECT qid, j0, j1, cell FROM (
              |  SELECT qid, j0, j1, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |qres AS (SELECT p.qid, p.cell,
              |    list_transform(list_zip(q.vec, c0.c || c1.c), x -> x[1] - x[2]) AS res
              |  FROM probes p JOIN v q ON q.id = p.qid
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = p.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = p.j1),
              |qsub AS (SELECT qid, cell, r.m AS m, res[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM qres, range(0,4) r(m)),
              |lut AS (SELECT q.qid, q.cell, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN rcb cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // §2.11 IMI multi-index (MultiIndexQuantizer / IMI2x4 coarse
    // quantizer): K² cartesian cells from two K-entry half-space
    // codebooks; probes ranked by the decomposed LUT sum. The oracle
    // replays half-space assignment, cell ranking, and the pruned
    // exact top-k from the codebook sidecar.
    ("imi_search", (s: SparkSession, dir: String) =>
      imi16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/imi_codebooks/*.parquet')),
              |bh AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id >= 10),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j*16 + a1.j AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |qh AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id < 10),
              |qd AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d
              |  FROM qh q JOIN cb ON cb.m = q.m),
              |cells AS (SELECT d0.qid, d0.j*16 + d1.j AS cell, d0.d + d1.d AS cd
              |  FROM qd d0 JOIN qd d1 ON d0.qid = d1.qid AND d0.m = 0 AND d1.m = 1),
              |probes AS (SELECT qid, cell FROM (
              |  SELECT qid, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |d AS (SELECT p.qid, bc.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN bcell bc ON bc.cell = p.cell
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = bc.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // MultiIndexQuantizer2 (faiss/IndexPQ.h:171, search IndexPQ.cpp:
    // 1042): the cell ranking runs BOTH levels — per-half top-k2
    // through the assign sub-indexes (k2 = min(nprobe, ksub); flat
    // exact, the reference default), then the MinSumK combine of the
    // two k2-lists — instead of enumerating all K² cells. The oracle
    // replays both levels: per-half dists from the codebooks sidecar,
    // rn <= k2 per half, pair combine, top-nprobe cells, exact scan.
    ("imi2_search", (s: SparkSession, dir: String) =>
      imi16(s, dir).search2(qDf(s, dir, 10), k = 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/imi_codebooks/*.parquet')),
              |bh AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id >= 10),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j*16 + a1.j AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |qh AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id < 10),
              |qtop AS (SELECT qid, m, j, d FROM (
              |  SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d,
              |    row_number() OVER (PARTITION BY q.qid, q.m ORDER BY
              |      list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qh q JOIN cb ON cb.m = q.m) t WHERE rn <= 4),
              |cells AS (SELECT d0.qid, d0.j*16 + d1.j AS cell, d0.d + d1.d AS cd
              |  FROM qtop d0 JOIN qtop d1 ON d0.qid = d1.qid AND d0.m = 0 AND d1.m = 1),
              |probes AS (SELECT qid, cell FROM (
              |  SELECT qid, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 4),
              |d AS (SELECT p.qid, bc.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN bcell bc ON bc.cell = p.cell
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = bc.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IMI2x<b>,PQ<m> (IndexIVFPQ over the multi-index coarse — the
    // SIFT1B flagship composition, index_factory.cpp:834-878;
    // benchs/README.md:107 IMI2x12,PQ16). The oracle replays the whole
    // chain from the two codebook sidecars: per-half cell assignment,
    // float32 residual against the concat half-centroids, residual PQ
    // encode, the MinSumK probe ranking (per-half top-nprobe + min-sum
    // combine — never the K² enumeration), per-(query, cell) residual
    // LUT, and the ADC sum.
    ("imi_pq_search", (s: SparkSession, dir: String) =>
      imipq16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 8)
        .withColumn("dist", r4("dist")),
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
              |probes AS (SELECT qid, j0, j1, cell FROM (
              |  SELECT qid, j0, j1, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |qres AS (SELECT p.qid, p.cell,
              |    list_transform(list_zip(q.embedding, c0.c || c1.c), x -> x[1] - x[2]) AS res
              |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = p.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = p.j1),
              |qsub AS (SELECT qid, cell, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.cell, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN rcb cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IMI2x<b>,SQ<w> (IndexIVFScalarQuantizer over the multi-index
    // coarse — the grammar composes IMI with any IVF code,
    // index_factory.cpp:834-878). This is the EXPLICIT by_residual =
    // false variant (the factory builds the by_residual=true ctor
    // default, asserted equal to a direct residual build in ImiSpec):
    // codes are the shared-range SQ8 quantization of the RAW vectors,
    // so the oracle replays cell assignment + MinSumK probes from the coarse
    // sidecar, the SQ8 range/encode/decode from the base itself (the
    // sq8_knn formula), and the pruned asymmetric ADC top-k.
    ("imi_sq_search", (s: SparkSession, dir: String) =>
      imisq16(s, dir).search(qDf(s, dir, 10), k = 5, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imisq_coarse_cb/*.parquet')),
              |bh AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id >= 10),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN ccb cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j*16 + a1.j AS cell
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |dims AS (
              |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |    SELECT i, min(e) AS mn, max(e) AS mx
              |    FROM (SELECT unnest(embedding::DOUBLE[]) AS e, generate_subscripts(embedding, 1) AS i
              |          FROM embeddings WHERE vec_id >= 10) u GROUP BY i) t),
              |dec AS (SELECT vec_id AS id,
              |  list_transform(embedding::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i]) AS dv
              |  FROM embeddings, dims WHERE vec_id >= 10),
              |qh AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id < 10),
              |qtop AS (SELECT qid, m, j, d FROM (
              |  SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d,
              |    row_number() OVER (PARTITION BY q.qid, q.m ORDER BY
              |      list_aggregate(list_transform(list_zip(q.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM qh q JOIN ccb cb ON cb.m = q.m) t WHERE rn <= 8),
              |cells AS (SELECT d0.qid, d0.j*16 + d1.j AS cell, d0.d + d1.d AS cd
              |  FROM qtop d0 JOIN qtop d1 ON d0.qid = d1.qid AND d0.m = 0 AND d1.m = 1),
              |probes AS (SELECT qid, cell FROM (
              |  SELECT qid, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |d AS (SELECT p.qid, bc.id,
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.dv),
              |      x -> (x[1]-x[2])*(x[1]-x[2])), 'sum') AS dist
              |  FROM probes p JOIN bcell bc ON bc.cell = p.cell
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN dec b ON b.id = bc.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // IMI+PQ lossy reconstruction (reconstruct_from_offset under the
    // IMI coarse): cell centroid (concat of the two half codewords) +
    // decoded residual — two K-row broadcast joins, in-row decode.
    ("imi_pq_reconstruct", (s: SparkSession, dir: String) =>
      imipq16(s, dir).reconstruct
        .join(emb(s, dir).select(col("vec_id").as("id"), col("embedding")), "id")
        .select(col("id"), round(element_at(col("vec"), 1), 4).as("d1"),
          round(aggregate(
            zip_with(col("embedding").cast("array<double>"),
              col("vec").cast("array<double>"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x), 4).as("err")),
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imipq_coarse_cb/*.parquet')),
              |rcb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/imipq_codebooks/*.parquet')),
              |rcbf AS (SELECT m, j, c FROM read_parquet('$AUX/imipq_codebooks/*.parquet')),
              |bh AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*32+1:r.m*32+32]::DOUBLE[] AS sv
              |       FROM embeddings, range(0,2) r(m) WHERE vec_id >= 10),
              |benc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bh b JOIN ccb cb ON cb.m = b.m) t WHERE rn = 1),
              |bcell AS (SELECT a0.id, a0.j AS j0, a1.j AS j1
              |  FROM benc a0 JOIN benc a1 ON a0.id = a1.id AND a0.m = 0 AND a1.m = 1),
              |bres AS (SELECT bc.id, bc.j0, bc.j1,
              |    list_transform(list_zip(b.embedding, c0.c || c1.c), p -> p[1] - p[2]) AS res
              |  FROM bcell bc JOIN embeddings b ON b.vec_id = bc.id
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = bc.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = bc.j1),
              |bsub AS (SELECT id, j0, j1, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM bres, range(0,8) r(m)),
              |enc AS (SELECT id, j0, j1, m, j FROM (
              |  SELECT b.id, b.j0, b.j1, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN rcb cb ON cb.m = b.m) t WHERE rn = 1),
              |dres AS (SELECT e.id, any_value(e.j0) AS j0, any_value(e.j1) AS j1,
              |    flatten(list(f.c ORDER BY e.m)) AS dv
              |  FROM enc e JOIN rcbf f ON f.m = e.m AND f.j = e.j GROUP BY e.id),
              |rec AS (SELECT d.id,
              |    list_transform(list_zip(c0.c || c1.c, d.dv), p -> p[1] + p[2]) AS rv
              |  FROM dres d JOIN ccb c0 ON c0.m = 0 AND c0.j = d.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = d.j1)
              |SELECT r.id, round(r.rv[1], 4) AS d1,
              |  round(list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], r.rv::DOUBLE[]),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), 4) AS err
              |FROM rec r JOIN embeddings b ON b.vec_id = r.id""".stripMargin)),

    // IMI+PQ range search (IndexIVF::range_search under the IMI
    // coarse): every candidate in the probed cells whose residual-ADC
    // distance is under the radius — filter below any aggregation.
    // The oracle replays the imi_pq_search chain with the radius cut.
    ("imi_pq_range_search", (s: SparkSession, dir: String) =>
      imipq16(s, dir).rangeSearch(qDf(s, dir, 10), radius = 1.3, nprobe = 8)
        .withColumn("dist", r4("dist")),
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
              |probes AS (SELECT qid, j0, j1, cell FROM (
              |  SELECT qid, j0, j1, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |qres AS (SELECT p.qid, p.cell,
              |    list_transform(list_zip(q.embedding, c0.c || c1.c), x -> x[1] - x[2]) AS res
              |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = p.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = p.j1),
              |qsub AS (SELECT qid, cell, r.m AS m, res[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM qres, range(0,8) r(m)),
              |lut AS (SELECT q.qid, q.cell, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN rcb cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, id, round(dist, 4) AS dist FROM adc WHERE dist < 1.3""".stripMargin)),

    // IMI2x<b>,SQ<w> with by_residual = true — the form the FACTORY
    // builds (IndexScalarQuantizer.h:74 ctor default, consistent with
    // the IVF<n>,SQ<w> route): the shared range trains over residuals
    // against the cell centroid (concat of the two half codewords),
    // and the query side subtracts the probed centroid before the
    // ADC. The oracle replays cell assignment, float32 residuals, the
    // residual-trained range, encode/decode, MinSumK probes, the
    // query-side residual, and the residual ADC top-k.
    ("imi_sq_residual_search", (s: SparkSession, dir: String) =>
      imisqRes16(s, dir).search(qDf(s, dir, 10), k = 5, nprobe = 8)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH ccb AS (SELECT m, j, c FROM read_parquet('$AUX/imisqres_coarse_cb/*.parquet')),
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
              |dims AS (
              |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |    SELECT i, min(e) AS mn, max(e) AS mx
              |    FROM (SELECT unnest(res::DOUBLE[]) AS e, generate_subscripts(res, 1) AS i
              |          FROM bres) u GROUP BY i) t),
              |dec AS (SELECT id, cell,
              |  list_transform(res::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i]) AS dv
              |  FROM bres, dims),
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
              |probes AS (SELECT qid, j0, j1, cell FROM (
              |  SELECT qid, j0, j1, cell, cd, row_number() OVER (PARTITION BY qid ORDER BY cd, cell) AS pr
              |  FROM cells) t WHERE pr <= 8),
              |qres AS (SELECT p.qid, p.cell,
              |    list_transform(list_zip(q.embedding, c0.c || c1.c), x -> x[1] - x[2]) AS res
              |  FROM probes p JOIN embeddings q ON q.vec_id = p.qid
              |  JOIN ccb c0 ON c0.m = 0 AND c0.j = p.j0
              |  JOIN ccb c1 ON c1.m = 1 AND c1.j = p.j1),
              |d AS (SELECT qr.qid, b.id,
              |    list_aggregate(list_transform(list_zip(qr.res::DOUBLE[], b.dv),
              |      x -> (x[1]-x[2])*(x[1]-x[2])), 'sum') AS dist
              |  FROM qres qr JOIN dec b ON b.cell = qr.cell)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 5""".stripMargin)),

    // Binary IVF range search (IndexBinaryIVF::range_search): the
    // Hamming-pruned lists under a radius predicate (inclusive bound,
    // the BinaryFlat.rangeJoin convention) — all-integer replay.
    ("bivf_range_search", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
        .select(col("qid"), sign_bits(col("qvec")).as("qcode"))
      bivf8(s, dir).rangeSearch(q, maxHamming = 24, nprobe = 2)
    },
      Some(s"""WITH cent AS (SELECT list_no, bits FROM read_parquet('$AUX/bivf_centroids/*.parquet')),
              |bbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id >= 10),
              |qbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id < 10),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    len(list_filter(list_zip(b.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS rn
              |  FROM bbits b CROSS JOIN cent c) t WHERE rn = 1),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.id AS qid, c.list_no, row_number() OVER (PARTITION BY q.id ORDER BY
              |    len(list_filter(list_zip(q.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS pr
              |  FROM qbits q CROSS JOIN cent c) t WHERE pr <= 2)
              |SELECT p.qid, a.id,
              |    len(list_filter(list_zip(qb.bits, bb.bits), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN qbits qb ON qb.id = p.qid JOIN bbits bb ON bb.id = a.id
              |  WHERE len(list_filter(list_zip(qb.bits, bb.bits), p -> p[1] <> p[2])) <= 24""".stripMargin)),

    // §2.11 Binary IVF (IndexBinaryIVF): Hamming-pruned inverted lists
    // of sign-bit codes. All-integer arithmetic, so the oracle replays
    // assignment, probe selection, and the pruned Hamming top-k
    // exactly from the binarized-centroid sidecar.
    ("bivf_search", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
        .select(col("qid"), sign_bits(col("qvec")).as("qcode"))
      bivf8(s, dir).search(q, k = 5, nprobe = 2)
    },
      Some(s"""WITH cent AS (SELECT list_no, bits FROM read_parquet('$AUX/bivf_centroids/*.parquet')),
              |bbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id >= 10),
              |qbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id < 10),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    len(list_filter(list_zip(b.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS rn
              |  FROM bbits b CROSS JOIN cent c) t WHERE rn = 1),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.id AS qid, c.list_no, row_number() OVER (PARTITION BY q.id ORDER BY
              |    len(list_filter(list_zip(q.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS pr
              |  FROM qbits q CROSS JOIN cent c) t WHERE pr <= 2),
              |hd AS (SELECT p.qid, a.id,
              |    len(list_filter(list_zip(qb.bits, bb.bits), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN qbits qb ON qb.id = p.qid JOIN bbits bb ON bb.id = a.id)
              |SELECT qid, "rank", id, hd FROM (
              |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 5""".stripMargin)),

    // BIVF<n>_HNSW<m> (index_factory.cpp:895-900): binary IVF whose
    // probe selection walks an HNSW graph over the 0/1-unpacked
    // centroids — Hamming == squared L2 on unpacked bits, so the float
    // graph ranks probes Hamming-correctly. efSearch >= nlist is
    // exact-degenerate: the oracle is the SAME exact Hamming replay as
    // bivf_search (probe ranking, pruned scan, integer Hamming top-k).
    ("bivf_hnsw_search", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
        .select(col("qid"), sign_bits(col("qvec")).as("qcode"))
      bivf8(s, dir).search(q, k = 5, nprobe = 2, hnswCoarse = Some(1024))
    },
      Some(s"""WITH cent AS (SELECT list_no, bits FROM read_parquet('$AUX/bivf_centroids/*.parquet')),
              |bbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id >= 10),
              |qbits AS (SELECT vec_id AS id, list_transform(embedding, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS bits
              |          FROM embeddings WHERE vec_id < 10),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    len(list_filter(list_zip(b.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS rn
              |  FROM bbits b CROSS JOIN cent c) t WHERE rn = 1),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT q.id AS qid, c.list_no, row_number() OVER (PARTITION BY q.id ORDER BY
              |    len(list_filter(list_zip(q.bits, c.bits), p -> p[1] <> p[2])), c.list_no) AS pr
              |  FROM qbits q CROSS JOIN cent c) t WHERE pr <= 2),
              |hd AS (SELECT p.qid, a.id,
              |    len(list_filter(list_zip(qb.bits, bb.bits), p -> p[1] <> p[2]))::BIGINT AS hd
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN qbits qb ON qb.id = p.qid JOIN bbits bb ON bb.id = a.id)
              |SELECT qid, "rank", id, hd FROM (
              |  SELECT qid, id, hd, row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS "rank" FROM hd) w
              |WHERE "rank" <= 5""".stripMargin)),
  )
}
