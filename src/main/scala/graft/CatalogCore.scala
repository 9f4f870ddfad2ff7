package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, TopKAgg, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Catalog part: flat kNN/range/IDSelector/reconstruct ops, IVF core lifecycle, k-means.
  * Entry ORDER is load-bearing (Verify/Bench iterate catalog order;
  * build-timing rows precede the searches reusing their memoized
  * index), so parts concatenate in the original sequence. */
private[graft] trait CatalogCore { this: QueriesBase =>

  protected def coreEntries: Seq[CatalogEntry] = Seq(

    // §2.3 IndexFlat::search — exact brute-force kNN, per metric
    ("knn_flat_l2", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 10)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    ("knn_flat_ip", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 10, metric = "ip")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dIp, "q.vec_id < 10", "b.vec_id >= 10", 10, desc = true))),

    ("knn_flat_cosine", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 10, metric = "cosine")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dCos, "q.vec_id < 10", "b.vec_id >= 10", 10, desc = true))),

    ("knn_flat_l1", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5, metric = "l1")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL1, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    ("knn_flat_linf", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5, metric = "linf")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dLinf, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    // §2.8 metric_arg / Lp metric
    ("knn_flat_lp3", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5, metric = "lp", metricArg = 3.0)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dLp3, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    ("knn_flat_canberra", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5, metric = "canberra")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dCanb, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    ("knn_flat_braycurtis", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5, metric = "braycurtis")
        .withColumn("dist", r4("dist")),
      Some(knnOracle(
        "CASE WHEN list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]+p[2])), 'sum') > 0 THEN list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]-p[2])), 'sum') / list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]+p[2])), 'sum') ELSE 0 END",
        "q.vec_id < 10", "b.vec_id >= 10", 5))),

    ("knn_flat_jensenshannon", (s: SparkSession, dir: String) => {
      // JS needs nonnegative components: search over |x| vectors
      val absv = (c: org.apache.spark.sql.Column) => transform(c, x => abs(x))
      Knn.knnJoin(
        qDf(s, dir, 10).withColumn("qvec", absv(col("qvec"))),
        bDf(s, dir, 10).withColumn("vec", absv(col("vec"))), 5,
        metric = "jensenshannon")
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(
        "0.5 * list_aggregate(list_transform(list_zip(list_transform(q.embedding::DOUBLE[], v -> abs(v)), list_transform(b.embedding::DOUBLE[], v -> abs(v))), p -> CASE WHEN p[1] > 0 AND p[2] > 0 THEN p[1]*ln(p[1]/((p[1]+p[2])/2)) + p[2]*ln(p[2]/((p[1]+p[2])/2)) ELSE 0 END), 'sum')",
        "q.vec_id < 10", "b.vec_id >= 10", 5))),

    // §2.8 the MyScale fork's float-enum METRIC_JACCARD
    // (faiss/MetricType.h:27; binary kernel utils/binary_distances.h
    // bvec_jaccard generalized to sum-min/sum-max over reals).
    // Jaccard needs nonnegative components: search over |x| vectors.
    ("knn_flat_jaccard", (s: SparkSession, dir: String) => {
      val absv = (c: org.apache.spark.sql.Column) => transform(c, x => abs(x))
      Knn.knnJoin(
        qDf(s, dir, 10).withColumn("qvec", absv(col("qvec"))),
        bDf(s, dir, 10).withColumn("vec", absv(col("vec"))), 5,
        metric = "jaccard")
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dJacF, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    // §2.8 the fork's float-enum METRIC_HAMMING (faiss/MetricType.h:28;
    // popcount(a XOR b) generalized to component mismatch count).
    // Quantize to floor(x*2) first so mismatch counts are non-trivial
    // on continuous embeddings (and exactly replayable: integer-valued
    // floats on both sides).
    ("knn_flat_hamming_float", (s: SparkSession, dir: String) => {
      val quant = (c: org.apache.spark.sql.Column) =>
        transform(c, x => floor(x.cast("double") * 2).cast("float"))
      Knn.knnJoin(
        qDf(s, dir, 10).withColumn("qvec", quant(col("qvec"))),
        bDf(s, dir, 10).withColumn("vec", quant(col("vec"))), 5,
        metric = "hamming")
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dHamF, "q.vec_id < 10", "b.vec_id >= 10", 5))),

    // §2.3 flat range search (radius theta-join, long-format output)
    ("range_search_l2", (s: SparkSession, dir: String) =>
      Knn.rangeJoin(qDf(s, dir, 20), bDf(s, dir, 20), 1.45)
        .withColumn("dist", r4("dist")),
      Some(s"""SELECT q.vec_id AS qid, b.vec_id AS id, round($dL2, 4) AS dist
              |FROM embeddings q CROSS JOIN embeddings b
              |WHERE q.vec_id < 20 AND b.vec_id >= 20 AND $dL2 < 1.45""".stripMargin)),

    // §2.3 Index::assign (1-NN)
    ("assign_1nn", (s: SparkSession, dir: String) =>
      Knn.assign(qDf(s, dir, 50), bDf(s, dir, 50))
        .withColumn("dist", r4("dist")),
      Some(s"""SELECT qid, id, round(dist, 4) AS dist FROM (
              |  SELECT q.vec_id AS qid, b.vec_id AS id, $dL2 AS dist,
              |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $dL2, b.vec_id) AS rn
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 50 AND b.vec_id >= 50) t WHERE rn = 1""".stripMargin)),

    // §2.3 pairwise distance matrix
    ("pairwise_l2", (s: SparkSession, dir: String) =>
      Knn.pairwise(qDf(s, dir, 8), bDf(s, dir, 0).filter(col("id") < 8))
        .withColumn("dist", r4("dist")),
      Some(s"""SELECT q.vec_id AS qid, b.vec_id AS id, round($dL2, 4) AS dist
              |FROM embeddings q CROSS JOIN embeddings b
              |WHERE q.vec_id < 8 AND b.vec_id < 8""".stripMargin)),

    // §2.3 knn_by_idx — kNN over per-query candidate lists
    ("knn_by_idx", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 5); val b = bDf(s, dir, 10)
      val cand = b.select(col("id")).crossJoin(q.select(col("qid")))
        .filter(col("id") % 5 === col("qid") % 5)
      Knn.knnByIdx(q, b, cand, 3).withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 5", "b.vec_id >= 10 AND b.vec_id % 5 = q.vec_id % 5", 3))),

    // §2.2 IDSelectorRange pushdown
    ("knn_idsel_range", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5,
        filter = Some(col("id").between(100, 299)))
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id BETWEEN 100 AND 299", 5))),

    // §2.2 IDSelectorArray (isin)
    ("knn_idsel_array", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5,
        filter = Some(col("id").isin(14L to 147L by 7L: _*)))
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10",
        s"b.vec_id IN (${(14L to 147L by 7L).mkString(",")})", 5))),

    // §2.2 IDSelectorBatch (broadcast semi-join against an id set)
    ("knn_idsel_batch", (s: SparkSession, dir: String) => {
      val base = bDf(s, dir, 10)
      val ids = base.select(col("id")).filter(col("id") % 7 === 0)
      val filtered = base.join(broadcast(ids), Seq("id"), "left_semi")
      Knn.knnJoin(qDf(s, dir, 10), filtered, 5).withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10 AND b.vec_id % 7 = 0", 5))),

    // §2.2 IDSelectorBitmap (arbitrary per-id bit: even ids)
    ("knn_idsel_bitmap", (s: SparkSession, dir: String) =>
      Knn.knnJoin(qDf(s, dir, 10), bDf(s, dir, 10), 5,
        filter = Some(col("id") % 2 === 0))
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10 AND b.vec_id % 2 = 0", 5))),

    // §2.2 IDSelectorNot (anti-join rewrite)
    ("knn_idsel_not", (s: SparkSession, dir: String) => {
      val base = bDf(s, dir, 10)
      val del = base.select(col("id")).filter(col("id") % 3 === 0)
      val filtered = base.join(broadcast(del), Seq("id"), "left_anti")
      Knn.knnJoin(qDf(s, dir, 10), filtered, 5).withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10 AND b.vec_id % 3 <> 0", 5))),

    // §2.2 reconstruct / reconstruct_batch (point lookups by id).
    // Output is exploded to scalar (vec_id, dim, val) rows: the driver's
    // comparator cannot sort array-typed cells (VERDICT r02 finding #1).
    ("reconstruct", (s: SparkSession, dir: String) =>
      emb(s, dir).filter(col("vec_id").isin(3L, 7L, 11L, 123L))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_p", "_e")))
        .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim"),
          round(col("_e").cast("double"), 4).as("val")),
      Some("""SELECT vec_id, generate_subscripts(embedding, 1)::BIGINT AS dim,
             |  round(unnest(embedding::DOUBLE[]), 4) AS val
             |FROM embeddings WHERE vec_id IN (3, 7, 11, 123)""".stripMargin)),

    // §2.2 reconstruct_n (contiguous id range), exploded like reconstruct
    ("reconstruct_n", (s: SparkSession, dir: String) =>
      emb(s, dir).filter(col("vec_id").between(50, 59))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_p", "_e")))
        .select(col("vec_id"), (col("_p") + 1).cast("long").as("dim"),
          round(col("_e").cast("double"), 4).as("val")),
      Some("""SELECT vec_id, generate_subscripts(embedding, 1)::BIGINT AS dim,
             |  round(unnest(embedding::DOUBLE[]), 4) AS val
             |FROM embeddings WHERE vec_id BETWEEN 50 AND 59""".stripMargin)),

    // §2.4/§2.8 norms (fvec_norms_L2)
    ("norms_l2", (s: SparkSession, dir: String) =>
      emb(s, dir).filter(col("vec_id") < 100)
        .select(col("vec_id"), round(norm_l2(col("embedding")), 4).as("norm")),
      Some("""SELECT vec_id, round(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')), 4) AS norm
             |FROM embeddings WHERE vec_id < 100""".stripMargin)),

    // §2.9 CenteringTransform (x - mean), first two dims. BOTH operands
    // are rounded to 4dp before subtracting: the difference of two
    // on-grid 4dp doubles is within 1e-15 of a 4dp grid point — never
    // near the x.xxxx5 half-grid boundary where Spark's decimal-string
    // rounding and DuckDB's fp-multiply rounding can disagree (the r03
    // hash mismatch; the 6dp-mean variant still produced 6dp-ish
    // differences that could sit exactly on that boundary).
    ("centering", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val means = e.agg(
        round(avg(element_at(col("embedding"), 1).cast("double")), 4).as("m1"),
        round(avg(element_at(col("embedding"), 2).cast("double")), 4).as("m2"))
      e.crossJoin(broadcast(means)).select(
        col("vec_id"),
        round(round(element_at(col("embedding"), 1).cast("double"), 4) - col("m1"), 4).as("c1"),
        round(round(element_at(col("embedding"), 2).cast("double"), 4) - col("m2"), 4).as("c2"))
    },
      Some("""SELECT vec_id, round(round(embedding[1]::DOUBLE, 4) - m1, 4) AS c1, round(round(embedding[2]::DOUBLE, 4) - m2, 4) AS c2
             |FROM embeddings, (SELECT round(avg(embedding[1]::DOUBLE), 4) AS m1, round(avg(embedding[2]::DOUBLE), 4) AS m2 FROM embeddings)""".stripMargin)),

    // §2.8 hamming over sign-bit codes (LSH binarization + popcount)
    ("hamming_signbits", (s: SparkSession, dir: String) => {
      val a = emb(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("i"), sign_bits(col("embedding")).as("ca"))
      val b = emb(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("j"), sign_bits(col("embedding")).as("cb"))
      a.crossJoin(b).filter(col("i") < col("j"))
        .select(col("i"), col("j"), hamming_dist(col("ca"), col("cb")).as("hd"))
    },
      Some("""SELECT a.vec_id AS i, b.vec_id AS j,
             |  (SELECT count(*) FROM range(1, 65) r(k) WHERE (a.embedding[k] >= 0) <> (b.embedding[k] >= 0)) AS hd
             |FROM embeddings a CROSS JOIN embeddings b
             |WHERE a.vec_id < b.vec_id AND b.vec_id < 16""".stripMargin)),

    // §2.8 binary jaccard over sign-bit codes
    ("jaccard_signbits", (s: SparkSession, dir: String) => {
      val a = emb(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("i"), sign_bits(col("embedding")).as("ca"))
      val b = emb(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id").as("j"), sign_bits(col("embedding")).as("cb"))
      a.crossJoin(b).filter(col("i") < col("j"))
        .select(col("i"), col("j"), round(jaccard_dist(col("ca"), col("cb")), 4).as("jd"))
    },
      Some("""SELECT i, j, CASE WHEN uni = 0 THEN 0.0 ELSE round(1.0 - inter*1.0/uni, 4) END AS jd FROM (
             |  SELECT a.vec_id AS i, b.vec_id AS j,
             |    (SELECT count(*) FROM range(1, 65) r(k) WHERE a.embedding[k] >= 0 AND b.embedding[k] >= 0) AS inter,
             |    (SELECT count(*) FROM range(1, 65) r(k) WHERE a.embedding[k] >= 0 OR b.embedding[k] >= 0) AS uni
             |  FROM embeddings a CROSS JOIN embeddings b
             |  WHERE a.vec_id < b.vec_id AND b.vec_id < 16) t""".stripMargin)),

    // §2.7 merge_from (unionByName + id shift)
    ("merge_from", (s: SparkSession, dir: String) => {
      val a = emb(s, dir).filter(col("vec_id") < 100).select(col("vec_id"), col("label"))
      val b = emb(s, dir).filter(col("vec_id") < 100)
        .select((col("vec_id") + 1000).as("vec_id"), col("label"))
      a.unionByName(b)
    },
      Some("""SELECT vec_id, label FROM embeddings WHERE vec_id < 100
             |UNION ALL SELECT vec_id + 1000 AS vec_id, label FROM embeddings WHERE vec_id < 100""".stripMargin)),

    // §2.7 remove_ids (anti-join rewrite)
    ("remove_ids", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val del = e.select(col("vec_id")).filter(col("vec_id") % 5 === 2)
      e.join(broadcast(del), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    },
      Some("SELECT vec_id, label FROM embeddings WHERE vec_id % 5 <> 2")),

    // §2.7 update_vectors (delete + insert)
    ("update_vectors", (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val untouched = e.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val replaced = e.filter(col("vec_id") < 5).select(col("vec_id"))
        .join(e.select((col("vec_id") - 200).as("vec_id"), col("embedding")), "vec_id")
      untouched.unionByName(replaced)
        .select(col("vec_id"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e1"))
    },
      Some("""SELECT a.vec_id, round(b.embedding[1]::DOUBLE, 4) AS e1
             |FROM embeddings a JOIN embeddings b
             |  ON b.vec_id = CASE WHEN a.vec_id < 5 THEN a.vec_id + 200 ELSE a.vec_id END
             |WHERE a.vec_id < 10""".stripMargin)),

    // §2.7 copy_subset_to (filtered write)
    ("copy_subset_to", (s: SparkSession, dir: String) =>
      emb(s, dir).filter(col("vec_id") % 4 === 1).select(col("vec_id"), col("label")),
      Some("SELECT vec_id, label FROM embeddings WHERE vec_id % 4 = 1")),

    // §2.5/2.6 TopK-per-group on a relational table (argsort/windowing)
    ("topk_group_lineitem", (s: SparkSession, dir: String) => {
      val li = lineitem(s, dir).select(
        col("l_returnflag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        col("l_extendedprice").as("price"))
      TopKAgg.ranked(li, Seq(col("l_returnflag")), col("price"), col("id"), 3, asc = false)
        .select(col("l_returnflag"), col("rank"), col("id"), col("dist").as("price"))
    },
      Some("""SELECT l_returnflag, "rank", id, price FROM (
             |  SELECT l_returnflag, l_orderkey*10 + l_linenumber AS id, l_extendedprice AS price,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey*10 + l_linenumber) AS "rank"
             |  FROM lineitem) t WHERE "rank" <= 3""".stripMargin)),

    // §2.4 k-means assign step / coarse quantizer (NearestCentroid
    // expression against fixed centroids = embeddings 0..3)
    ("assign_centroids", (s: SparkSession, dir: String) => {
      val cents = emb(s, dir).filter(col("vec_id") < 4).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      emb(s, dir).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"),
          shim.col(NearestCentroid(shim.expr(col("embedding")), cents)).as("_a"))
        .select(col("id"), col("_a.list_no").cast("long").as("list_no"),
          round(col("_a.dist"), 4).as("dist"))
    },
      Some(s"""SELECT id, list_no, round(dist, 4) AS dist FROM (
              |  SELECT b.vec_id AS id, q.vec_id AS list_no, $dL2 AS dist,
              |    row_number() OVER (PARTITION BY b.vec_id ORDER BY $dL2, q.vec_id) AS rn
              |  FROM embeddings b CROSS JOIN embeddings q
              |  WHERE q.vec_id < 4 AND b.vec_id >= 10) t WHERE rn = 1""".stripMargin)),

    // §2.4 compute_centroids kernel (VecSumAgg): mean vector per label
    ("centroid_per_label", (s: SparkSession, dir: String) =>
      emb(s, dir).groupBy(col("label"))
        .agg(shim.agg(VecSumAgg(shim.expr(col("embedding")))).as("_s"))
        .select(col("label"), col("_s.cnt").as("cnt"),
          round(element_at(col("_s.sum"), 1) / col("_s.cnt"), 4).as("m1"),
          round(element_at(col("_s.sum"), 2) / col("_s.cnt"), 4).as("m2")),
      Some("""SELECT label, count(*) AS cnt, round(avg(embedding[1]::DOUBLE), 4) AS m1,
             |  round(avg(embedding[2]::DOUBLE), 4) AS m2
             |FROM embeddings GROUP BY label""".stripMargin)),

    // §2.4 MatrixStats profiling (per-dim mean/std/min/max)
    ("matrix_stats", (s: SparkSession, dir: String) =>
      emb(s, dir).select(posexplode(col("embedding")).as(Seq("_p", "_e")))
        .select((col("_p") + 1).cast("long").as("dim"), col("_e").cast("double").as("e"))
        .groupBy(col("dim"))
        .agg(round(avg(col("e")), 4).as("mean"), round(stddev_samp(col("e")), 4).as("sd"),
          round(min(col("e")), 4).as("mn"), round(max(col("e")), 4).as("mx")),
      Some("""SELECT i::BIGINT AS dim, round(avg(e), 4) AS mean, round(stddev_samp(e), 4) AS sd,
             |  round(min(e), 4) AS mn, round(max(e), 4) AS mx
             |FROM (SELECT unnest(embedding::DOUBLE[]) AS e, generate_subscripts(embedding, 1) AS i
             |      FROM embeddings) t GROUP BY i""".stripMargin)),

    // §2.4 imbalance_factor over a deterministic assignment
    ("imbalance_factor", (s: SparkSession, dir: String) => {
      val cents = emb(s, dir).filter(col("vec_id") < 4).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      emb(s, dir).filter(col("vec_id") >= 10)
        .select(shim.col(NearestCentroid(shim.expr(col("embedding")), cents)).as("_a"))
        .groupBy(col("_a.list_no")).count()
        .agg(round(lit(4.0) * sum(col("count") * col("count")).cast("double") /
          (sum(col("count")).cast("double") * sum(col("count")).cast("double")), 4)
          .as("imbalance"))
    },
      Some(s"""WITH asg AS (
              |  SELECT id, list_no FROM (
              |    SELECT b.vec_id AS id, q.vec_id AS list_no, $dL2 AS dist,
              |      row_number() OVER (PARTITION BY b.vec_id ORDER BY $dL2, q.vec_id) AS rn
              |    FROM embeddings b CROSS JOIN embeddings q
              |    WHERE q.vec_id < 4 AND b.vec_id >= 10) t WHERE rn = 1),
              |sz AS (SELECT list_no, count(*) AS c FROM asg GROUP BY list_no)
              |SELECT round(4.0 * sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c)::DOUBLE), 4) AS imbalance
              |FROM sz""".stripMargin)),

    // §2.3 IVF search with nprobe = nlist ⇒ must equal exact kNN (the
    // end-to-end test of train/assign/partition-pruned join/top-k)
    ("ivf_search_exact", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 16)
        .withColumn("dist", r4("dist")),
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    // §2.3 IVF range search, nprobe = nlist ⇒ exact
    ("ivf_range_exact", (s: SparkSession, dir: String) =>
      ivf20(s, dir).rangeSearch(qDf(s, dir, 20), radius = 1.45, nprobe = 16)
        .withColumn("dist", r4("dist")),
      Some(s"""SELECT q.vec_id AS qid, b.vec_id AS id, round($dL2, 4) AS dist
              |FROM embeddings q CROSS JOIN embeddings b
              |WHERE q.vec_id < 20 AND b.vec_id >= 20 AND $dL2 < 1.45""".stripMargin)),

    // range_search_with_parameters (faiss/IVFlib.h:46): the radius
    // scan under the same knobs search_with_parameters takes — an
    // IDSelector pushed inside the scan and the max_codes budget: a
    // per-query TOTAL consumed in probe-rank order (IndexIVF.cpp:586
    // accumulates WHOLE scanned lists and breaks once nscan >=
    // max_codes), sized on RAW pre-selector list sizes. The oracle
    // replays assignment from the centroid sidecar, the per-query
    // probe ranking, the cumulative budget cut, the id filter, and
    // the radius cut. maxCodes=8 admits ~2-3 lists per query.
    ("ivf_range_params", (s: SparkSession, dir: String) =>
      ivf16(s, dir).rangeSearch(qDf(s, dir, 10), radius = 1.5, nprobe = 16,
        filter = Some(pmod(col("id"), lit(3)) === 0), maxCodes = Some(8))
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |basg_all AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |lsz AS (SELECT list_no, count(*) AS c FROM basg_all GROUP BY list_no),
              |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |cum AS (SELECT p.qid, p.list_no,
              |    sum(coalesce(l.c, 0)) OVER (PARTITION BY p.qid ORDER BY p.pr) - coalesce(l.c, 0) AS bef
              |  FROM qc p LEFT JOIN lsz l USING (list_no))
              |SELECT u.qid, a.id,
              |  round(list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, 4) AS dist
              |FROM cum u JOIN basg_all a USING (list_no)
              |JOIN embeddings q ON q.vec_id = u.qid JOIN embeddings b ON b.vec_id = a.id
              |WHERE u.bef < 8 AND a.id % 3 = 0
              |  AND list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 < 1.5""".stripMargin)),

    // §2.3 the real approximate path (nprobe << nlist). Oracle reads
    // the trained-centroid sidecar, re-derives per-query probe lists
    // (4 nearest centroids), base-list assignment, and the pruned
    // exact top-k — a full hash check of IVF pruning semantics.
    ("ivf_search_nprobe4", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(ivfNprobe4Sql)),

    // §2.7 the distributed_ondisk recipe END TO END
    // (benchs/distributed_ondisk/README.md:1-30 — the reference's
    // authoritative 1T-vector ingestion story): (1) train the shared
    // quantizer with scalable two-level k-means, (2) every data slice
    // builds its OWN invlists against that one quantizer, (3) merge
    // the slices into a single on-disk list_no-partitioned store —
    // a write, never a recluster — then (4) load and search it. The
    // oracle replays a SINGLE-build IVF search over the same
    // quantizer sidecar: hash-equality IS the merge≡single-index
    // invariant of tests/test_merge.cpp. The tiny top-k result is
    // collected so the temp store can be removed inside the builder
    // (same bounded-output idiom as stream_ivf_ingest_search).
    ("distributed_ondisk_recipe", (s: SparkSession, dir: String) => {
      import java.nio.file.Files
      import graft.streaming.StreamingIngest.rmTree
      val cents = ondiskCents16(s, dir)
      val base = bDf(s, dir, 10)
      val tmp = Files.createTempDirectory("graft_ondisk_recipe")
      try {
        val shards = (0 until 4).map { g =>
          IvfIndex.build(base.filter(pmod(col("id"), lit(4)) === g),
            "id", "vec", nlist = 16, centroids0 = cents)
        }
        val merged = IvfIndex.mergeOnDisk(shards, s"$tmp/index")
        val out = merged.search(qDf(s, dir, 10), k = 10, nprobe = 4)
          .withColumn("dist", r4("dist"))
        val rows = out.collect().toSeq // bounded: nq x k = 100 rows
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally rmTree(tmp)
    },
      Some(ondiskNprobe4Sql)),

    // search_preassigned (faiss/IndexIVF.h:377, the IVFlib big-batch
    // entry point): kNN over CALLER-PROVIDED (qid, list_no) probe
    // assignments — the coarse quantizer never runs. The probe rule
    // here (qid % 16 and (7·qid + 3) % 16) is deliberately NOT the
    // nearest-centroid set, so a pass proves the engine scanned
    // exactly the lists it was handed; the oracle replays the same
    // rule against the sidecar-derived list assignment.
    ("ivf_search_preassigned", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
      val probesDf = q
        .select(col("qid"),
          explode(array(pmod(col("qid"), lit(16)),
            pmod(col("qid") * 7 + 3, lit(16)))).as("_l"))
        .select(col("qid"), col("_l").cast("int").as("list_no"))
      ivf16(s, dir).searchPreassigned(q, probesDf, k = 10)
        .withColumn("dist", r4("dist"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |probes AS (SELECT vec_id AS qid, unnest([vec_id % 16, (vec_id*7+3) % 16]) AS list_no
              |           FROM embeddings WHERE vec_id < 10),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // range_search_preassigned (contrib/ivf_tools.py:57): radius
    // search over the same caller-provided probe rule — together with
    // ivf_search_preassigned this covers the whole preassigned
    // ivf_tools trio (add/search/range_search).
    ("ivf_range_preassigned", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
      val probesDf = q
        .select(col("qid"),
          explode(array(pmod(col("qid"), lit(16)),
            pmod(col("qid") * 7 + 3, lit(16)))).as("_l"))
        .select(col("qid"), col("_l").cast("int").as("list_no"))
      ivf16(s, dir).rangeSearchPreassigned(q, probesDf, radius = 1.45)
        .withColumn("dist", r4("dist"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |probes AS (SELECT vec_id AS qid, unnest([vec_id % 16, (vec_id*7+3) % 16]) AS list_no
              |           FROM embeddings WHERE vec_id < 10),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1)
              |SELECT p.qid, a.id,
              |    round(list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2, 4) AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id
              |  WHERE list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 < 1.45""".stripMargin)),

    // add_preassigned (contrib/ivf_tools.py:9): append vectors with an
    // externally computed list assignment (no quantizer run), then
    // search at nprobe = nlist — the result must be the exact kNN over
    // the UNION of base and added vectors, which the oracle computes
    // directly (the added vectors' arbitrary list placement cannot
    // change an all-lists scan).
    ("ivf_add_preassigned", (s: SparkSession, dir: String) => {
      val q = qDf(s, dir, 10)
      val extra = q.select(col("qid").as("id"), col("qvec").as("vec"),
        pmod(col("qid"), lit(16)).cast("int").as("list_no"))
      ivf16(s, dir).addPreassigned(extra).search(q, k = 10, nprobe = 16)
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 10", "true", 10))),

    // IVF with an HNSW coarse quantizer (the reference's
    // `IVF<n>_HNSW<m>` coarse grammar, index_factory.cpp:241-291):
    // probe selection walks a per-executor HNSW graph over the
    // centroids instead of the exact O(nlist) argmin — at nlist ~ 1M
    // this is what keeps coarse quantization off the critical path.
    // efSearch >= nlist makes the walk cover the whole graph, so the
    // probe set — and therefore the result — must be bit-identical to
    // the exact coarse assign: same oracle as ivf_search_nprobe4.
    ("ivf_hnsw_search", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4,
        coarse = Some(graft.index.Probes.HnswCoarse(4096)))
        .withColumn("dist", r4("dist")),
      Some(ivfNprobe4Sql)),

    // IVF with an NSG coarse quantizer (`IVF<n>_NSG<R>`,
    // index_factory.cpp:258-262 — IndexNSGFlat as quantizer): same
    // contract as the HNSW coarse, with the walk over a per-executor
    // NSG graph of the centroids. searchL >= nlist seeds the full
    // pool, so the probe set — and the result — must be bit-identical
    // to the exact coarse assign: same oracle as ivf_search_nprobe4.
    ("ivf_nsg_search", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4,
        coarse = Some(graft.index.Probes.NsgCoarse(4096)))
        .withColumn("dist", r4("dist")),
      Some(ivfNprobe4Sql)),

    // `IVF16(PQ8x8),PQ8` — the lossy-quantizer composition
    // (IndexIVF::add_core assigns through the quantizer; residual =
    // vec − quantizer.reconstruct(cell) = vec − PQ-DECODE of the cell
    // code). ADC distance to a code equals the exact squared L2 to
    // its decode, so the engine builds the residual-PQ index over the
    // DECODED centroid table and the oracle replays the standard
    // IVFPQ chain against that table's sidecar — the lossy centroids
    // appear on BOTH assignment and residual arithmetic.
    ("ivf_paren_pq_pq_search", (s: SparkSession, dir: String) =>
      parenPqPq16(s, dir).search(qDf(s, dir, 10), 10, nprobe = 16)
        .withColumn("dist", r4("dist")),
      Some(ivfpqFullProbeSql("parenpqpq_cdec", "parenpqpq_codebooks"))),

    // Two-level coarse assignment (`IVF<n>(IVF<n2>,Flat)`,
    // index_factory.cpp:263-267 with an IVF-Flat sub-index as the
    // quantizer) in the APPROXIMATE regime: the quantizer ranks the
    // nlist2 = 4 sub-centroids, scans only the centroids of the best
    // nprobe2 = 2 sub-cells, and the top-nprobe among them become the
    // probed lists. The oracle replays the whole chain: the sub-cell
    // assignment of every centroid (argmin over the sub-centroid
    // sidecar), the query's sub-cell ranking, the pruned centroid
    // ranking, then the standard exact scan over the probed lists.
    ("ivf_two_level_search", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 10, nprobe = 4,
        coarse = Some(graft.index.Probes.IvfFlatCoarse(4, 2)))
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |sub AS (SELECT j, c FROM read_parquet('$AUX/parensub_centroids/*.parquet')),
              |casg AS (SELECT list_no, j FROM (
              |  SELECT ct.list_no, sb.j, row_number() OVER (PARTITION BY ct.list_no ORDER BY
              |    list_aggregate(list_transform(list_zip(ct.c::DOUBLE[], sb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), sb.j) AS rn
              |  FROM cent ct CROSS JOIN sub sb) t WHERE rn = 1),
              |qcell AS (SELECT qid, j FROM (
              |  SELECT q.vec_id AS qid, sb.j, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], sb.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), sb.j) AS pr
              |  FROM embeddings q CROSS JOIN sub sb WHERE q.vec_id < 10) t WHERE pr <= 2),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT qc.qid, ct.list_no, row_number() OVER (PARTITION BY qc.qid ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], ct.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), ct.list_no) AS pr
              |  FROM qcell qc JOIN casg ca ON ca.j = qc.j JOIN cent ct ON ct.list_no = ca.list_no
              |  JOIN embeddings q ON q.vec_id = qc.qid) t WHERE pr <= 4),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // Generic parenthesized coarse with an IndexPQ quantizer
    // (`IVF16(PQ8x8),Flat`, index_factory.cpp:263-267,719): the
    // quantizer is a PQ trained over the centroid table, so BOTH the
    // add-time cell assignment and the search-time probe ranking are
    // ADC distances through the coarse codes (IndexIVF::add_core
    // assigns through the quantizer). The oracle replays the whole
    // chain: centroid encode (per-subspace argmin), per-row subspace
    // LUTs, ordered ADC sums, probe top-4 / assignment top-1, then
    // exact L2 over the probed lists.
    ("ivf_paren_pq_search", (s: SparkSession, dir: String) =>
      parenPq16(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/parenpq_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/parenpq_codebooks/*.parquet')),
              |csub AS (SELECT list_no, r.m AS m, c[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv FROM cent, range(0,8) r(m)),
              |cenc AS (SELECT list_no, m, j FROM (
              |  SELECT cs.list_no, cs.m, cb.j, row_number() OVER (PARTITION BY cs.list_no, cs.m ORDER BY
              |    list_aggregate(list_transform(list_zip(cs.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM csub cs JOIN cb ON cb.m = cs.m) t WHERE rn = 1),
              |qsub AS (SELECT vec_id AS qid, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id < 10),
              |qlut AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |qadc AS (SELECT l.qid, e.list_no, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS adc
              |  FROM cenc e JOIN qlut l ON l.m = e.m AND l.j = e.j GROUP BY l.qid, e.list_no),
              |probes AS (SELECT qid, list_no FROM (
              |  SELECT qid, list_no, row_number() OVER (PARTITION BY qid ORDER BY adc, list_no) AS pr FROM qadc) t WHERE pr <= 4),
              |bsub AS (SELECT vec_id AS id, r.m AS m, embedding[r.m*8+1:r.m*8+8]::DOUBLE[] AS sv
              |         FROM embeddings, range(0,8) r(m) WHERE vec_id >= 10),
              |blut AS (SELECT b.id, b.m, cb.j,
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM bsub b JOIN cb ON cb.m = b.m),
              |badc AS (SELECT l.id, e.list_no, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS adc
              |  FROM cenc e JOIN blut l ON l.m = e.m AND l.j = e.j GROUP BY l.id, e.list_no),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT id, list_no, row_number() OVER (PARTITION BY id ORDER BY adc, list_no) AS rn FROM badc) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVF16(SQ8),Flat — the SQ-quantizer paren coarse
    // (index_factory.cpp:719: ANY factory string inside the parens
    // becomes the quantizer): an IndexScalarQuantizer assigns by
    // asymmetric distance query→decode(code), which is the exact L2
    // to the SQ-decoded centroid, so BOTH add-time assignment and
    // probe selection rank over the decoded table. The oracle replays
    // the whole chain from the RAW centroid sidecar: per-dim min/max
    // range over the centroid training set (train_q1 trains the
    // quantizer on the cluster centers), the SQ8 encode/decode grid
    // (float32-rounded like the engine's decoded table), then the
    // decoded-table IVF search.
    ("ivf_paren_sq_search", (s: SparkSession, dir: String) =>
      parenSq16(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/parensq_centroids/*.parquet')),
              |dims AS (SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |  SELECT i, min(e) AS mn, max(e) AS mx
              |  FROM (SELECT unnest(c::DOUBLE[]) AS e, generate_subscripts(c, 1) AS i FROM cent) u GROUP BY i) t),
              |dec AS (SELECT list_no,
              |  list_transform(c::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i])::REAL[] AS dc
              |  FROM cent, dims),
              |qc AS (SELECT q.vec_id AS qid, dd.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], dd.dc::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), dd.list_no) AS pr
              |  FROM embeddings q CROSS JOIN dec dd WHERE q.vec_id < 10),
              |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 4),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, dd.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], dd.dc::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), dd.list_no) AS rn
              |  FROM embeddings b CROSS JOIN dec dd WHERE b.vec_id >= 10) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IVF16(PCA8,Flat),Flat — the transform-prefixed paren quantizer
    // (index_factory.cpp:719 with an IndexPreTransform sub-index): the
    // PCA is trained on the cluster centers (train_q1), assignment AND
    // probe selection rank ||PCA(x) − PCA(c)||² while candidate
    // distances stay exact in the original space. The oracle replays
    // the affine map from the trained-rotation sidecar (the pca_knn
    // idiom, REAL-rounded like the engine's float chain), then the
    // transformed assignment, the transformed probe ranking, and the
    // original-space pruned top-k.
    ("ivf_paren_pca_search", (s: SparkSession, dir: String) =>
      parenPca16(s, dir).search(qDf(s, dir, 10), 10, nprobe = 4)
        .withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/parensq_centroids/*.parquet')),
              |rot AS (SELECT d, r::DOUBLE[] AS r, bias FROM read_parquet('$AUX/parenpca_rot/*.parquet')),
              |tc AS (SELECT list_no, list(yv ORDER BY d) AS v FROM (
              |  SELECT ct.list_no, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, ct.c::DOUBLE[]), p -> p[1]*p[2]), 'sum')) + r.bias::DOUBLE)::REAL AS yv
              |  FROM cent ct CROSS JOIN rot r) t GROUP BY list_no),
              |tv AS (SELECT vec_id, list(yv ORDER BY d) AS v FROM (
              |  SELECT e.vec_id, r.d,
              |    ((list_aggregate(list_transform(list_zip(r.r, e.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')) + r.bias::DOUBLE)::REAL AS yv
              |  FROM embeddings e CROSS JOIN rot r) t GROUP BY vec_id),
              |qc AS (SELECT q.vec_id AS qid, tc.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(tq.v::DOUBLE[], tc.v::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), tc.list_no) AS pr
              |  FROM embeddings q JOIN tv tq ON tq.vec_id = q.vec_id CROSS JOIN tc WHERE q.vec_id < 10),
              |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 4),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, tc.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(tb.v::DOUBLE[], tc.v::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), tc.list_no) AS rn
              |  FROM embeddings b JOIN tv tb ON tb.vec_id = b.vec_id CROSS JOIN tc WHERE b.vec_id >= 10) t WHERE rn = 1),
              |d AS (SELECT p.qid, a.id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM probes p JOIN basg a ON a.list_no = p.list_no
              |  JOIN embeddings q ON q.vec_id = p.qid JOIN embeddings b ON b.vec_id = a.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
              |WHERE "rank" <= 10""".stripMargin)),

    // IndexShards as an explicit API (faiss/IndexShards.h:27): two
    // IVF indexes built over DISJOINT halves of the corpus, searched
    // as one logical index — every shard searched, candidate streams
    // merged by one more top-k (the same partial/merge aggregate every
    // single index already uses, one level up). At full probe budget
    // each shard is exact over its half, so the merge must equal the
    // exact search over the union — the brute-force oracle verbatim.
    ("shards_search", (s: SparkSession, dir: String) => {
      val built = cached(s"shards:$dir") {
        Seq(0L, 1L).map(p => graft.index.IndexFactory.build(
          bDf(s, dir, 10).filter(pmod(col("id"), lit(2)) === p),
          "id", "vec", "IVF4,Flat", niter = 3))
      }
      graft.index.Shards.search(built, qDf(s, dir, 10), k = 10, nprobe = 4)
        .withColumn("dist", r4("dist"))
    },
      Some(knnOracle(dL2, "q.vec_id < 10", "b.vec_id >= 10", 10))),

    // §2.7 search_and_return_centroids: list_no as an output column.
    // nprobe = nlist, so the result is the exact top-k plus each
    // match's home list from the centroid-sidecar assignment.
    ("ivf_search_centroids", (s: SparkSession, dir: String) =>
      ivf16(s, dir).search(qDf(s, dir, 10), k = 5, nprobe = 16,
        withCentroid = true).withColumn("dist", r4("dist")),
      Some(s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivf16_centroids/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |d AS (SELECT q.vec_id AS qid, b.vec_id AS id,
              |    list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2 AS dist
              |  FROM embeddings q CROSS JOIN embeddings b
              |  WHERE q.vec_id < 10 AND b.vec_id >= 10)
              |SELECT qid, "rank", id, list_no, round(dist, 4) AS dist FROM (
              |  SELECT d.qid, d.id, a.list_no, d.dist,
              |    row_number() OVER (PARTITION BY d.qid ORDER BY d.dist, d.id) AS "rank"
              |  FROM d JOIN basg a ON a.id = d.id) w
              |WHERE "rank" <= 5""".stripMargin)),

    // §2.4 k-means train. The oracle reads the trained centroids from
    // the sidecar and independently replays the ASSIGNMENT arithmetic
    // (argmin L2 over all points) — per-cluster sizes and objective
    // must agree, verifying that the trained model is consistent with
    // the data rather than just echoing a dump.
    ("kmeans_train", (s: SparkSession, dir: String) => {
      val m = km8(s, dir)
      m.assign(emb(s, dir), "embedding")
        .groupBy(col("list_no"))
        .agg(count(lit(1)).as("n"), round(sum(col("centroid_dist")), 3).as("obj"))
        .select(col("list_no"), col("n"), col("obj"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c::DOUBLE[] AS c FROM read_parquet('$AUX/kmeans8_centroids/*.parquet')),
              |d AS (SELECT e.vec_id, c.list_no,
              |    list_aggregate(list_transform(list_zip(e.embedding::DOUBLE[], c.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM embeddings e CROSS JOIN cent c),
              |a AS (SELECT vec_id, list_no, dist FROM (
              |  SELECT vec_id, list_no, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_no) AS rn FROM d) t
              |  WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n, round(sum(dist), 3) AS obj
              |FROM a GROUP BY list_no""".stripMargin)),

    // Clustering::train_encoded (Clustering.cpp:271): k-means over
    // SQ8-ENCODED vectors, decoded inside each iteration's assign —
    // the memory-bounded train path for huge train sets. Same
    // assignment-replay oracle as kmeans_train, but over the SQL-
    // re-derived SQ8 roundtrip (min/max range recomputed in SQL, the
    // sq8_roundtrip formula, cast through FLOAT to match the engine's
    // float32 decoded vectors) against the encoded-trained centroid
    // sidecar — so a model NOT trained on the decoded geometry flips
    // the rows red.
    ("kmeans_train_encoded", (s: SparkSession, dir: String) => {
      val (mins, vdiff, m) = kmEnc8(s, dir)
      val roundtrip = shim.col(graft.index.SqVariant.decode("SQ8",
        graft.index.SqVariant.encode("SQ8",
          shim.expr(col("embedding")), mins, vdiff),
        mins, vdiff)).cast("array<float>")
      m.assign(emb(s, dir).select(col("vec_id"), roundtrip.as("vec")), "vec")
        .groupBy(col("list_no"))
        .agg(count(lit(1)).as("n"), round(sum(col("centroid_dist")), 3).as("obj"))
        .select(col("list_no"), col("n"), col("obj"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c::DOUBLE[] AS c FROM read_parquet('$AUX/kmeans_enc_centroids/*.parquet')),
              |dims AS (
              |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |    SELECT i, min(e) AS mn, max(e) AS mx
              |    FROM (SELECT unnest(embedding::DOUBLE[]) AS e, generate_subscripts(embedding, 1) AS i
              |          FROM embeddings) u GROUP BY i) t),
              |dec AS (SELECT vec_id,
              |  list_transform(embedding::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i])::FLOAT[]::DOUBLE[] AS dv
              |  FROM embeddings, dims),
              |d AS (SELECT e.vec_id, c.list_no,
              |    list_aggregate(list_transform(list_zip(e.dv, c.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM dec e CROSS JOIN cent c),
              |a AS (SELECT vec_id, list_no, dist FROM (
              |  SELECT vec_id, list_no, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_no) AS rn FROM d) t
              |  WHERE rn = 1)
              |SELECT list_no, count(*)::BIGINT AS n, round(sum(dist), 3) AS obj
              |FROM a GROUP BY list_no""".stripMargin)),

    // Spherical k-means (ClusteringParameters.spherical,
    // Clustering.cpp:65-68): same assignment-replay oracle as
    // kmeans_train, plus the per-centroid L2 norm in the hashed output
    // — the oracle recomputes it from the sidecar, so a centroid that
    // isn't unit-renormalized flips the row red.
    ("kmeans_spherical", (s: SparkSession, dir: String) => {
      val m = kmSph8(s, dir)
      import s.implicits._
      val normDf = m.centroids.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.map(x => x.toDouble * x).sum) }
        .toDF("list_no", "_n2")
        .select(col("list_no"), round(sqrt(col("_n2")), 3).as("nrm"))
      m.assign(emb(s, dir), "embedding")
        .groupBy(col("list_no"))
        .agg(count(lit(1)).as("n"), round(sum(col("centroid_dist")), 3).as("obj"))
        .join(broadcast(normDf), "list_no")
        .select(col("list_no"), col("n"), col("obj"), col("nrm"))
    },
      Some(s"""WITH cent AS (SELECT list_no, c::DOUBLE[] AS c FROM read_parquet('$AUX/kmeans_sph_centroids/*.parquet')),
              |d AS (SELECT e.vec_id, c.list_no,
              |    list_aggregate(list_transform(list_zip(e.embedding::DOUBLE[], c.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM embeddings e CROSS JOIN cent c),
              |a AS (SELECT vec_id, list_no, dist FROM (
              |  SELECT vec_id, list_no, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_no) AS rn FROM d) t
              |  WHERE rn = 1),
              |nrm AS (SELECT list_no, round(sqrt(list_aggregate(list_transform(c, x -> x*x), 'sum')), 3) AS nrm FROM cent)
              |SELECT g.list_no, g.n, g.obj, nrm.nrm FROM (
              |  SELECT list_no, count(*)::BIGINT AS n, round(sum(dist), 3) AS obj
              |  FROM a GROUP BY list_no) g JOIN nrm ON nrm.list_no = g.list_no""".stripMargin)),
  )
}
