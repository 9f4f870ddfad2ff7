package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.core._

/** Flat scalar-quantized index (IndexScalarQuantizer,
  * faiss/IndexScalarQuantizer.h:25, QT_8bit / RS_minmax): vectors
  * stored as 1-byte-per-dim codes, searched with asymmetric
  * decode-on-the-fly distances ([[graft.core.SqKernels.adcL2sq]]).
  * 4× smaller scan footprint than float32 — at 100 TB that is the
  * difference between scanning 25 TB and 100 TB per exhaustive query.
  */
class SqIndex(
    val vmin: Array[Double],
    val vdiff: Array[Double],
    /** (id: long, code: binary) */
    val codes: DataFrame,
    /** quantizer width: SQ8 (default) | SQ4 | SQ6 | fp16
      * (ScalarQuantizer::QuantizerType, impl/ScalarQuantizer.h:30). */
    val qtype: String = "SQ8") {

  /** Vector dimension — valid for the range-trained widths only; fp16
    * has no trained range (d is code.length/2 on any codes row). */
  def d: Int = vmin.length

  /** Asymmetric kNN (query floats vs stored codes). */
  def search(queries: DataFrame, k: Int,
      queryId: String = "qid", queryVec: String = "qvec"): DataFrame = {
    val dist = shim.col(SqVariant.adcL2(qtype,
      shim.expr(col(queryVec)), shim.expr(col("code")), vmin, vdiff))
    TopKAgg.ranked(codes.crossJoin(broadcast(queries))
      .select(col(queryId), col("id"), dist.as("_dist")),
      Seq(col(queryId)), col("_dist"), col("id"), k, asc = true)
  }

  /** Lossy reconstruct (sa_decode): (id, vec array<double>). */
  def reconstruct: DataFrame =
    codes.select(col("id"),
      shim.col(SqVariant.decode(qtype,
        shim.expr(col("code")), vmin, vdiff)).as("vec"))
}

/** Codec dispatch over the scalar-quantizer widths — the analog of the
  * reference's select_quantizer (impl/ScalarQuantizer.cpp:613). */
private[graft] object SqVariant {
  import org.apache.spark.sql.catalyst.expressions.Expression
  def encode(qtype: String, c: Expression,
      vmin: Array[Double], vdiff: Array[Double]): Expression = qtype match {
    case "SQ8" => SQEncode(c, vmin, vdiff)
    case "SQ4" => SQ4Encode(c, vmin, vdiff)
    case "SQ6" => SQ6Encode(c, vmin, vdiff)
    case "fp16" => Fp16Encode(c)
    case other => throw new IllegalArgumentException(s"unknown SQ type $other")
  }
  def decode(qtype: String, c: Expression,
      vmin: Array[Double], vdiff: Array[Double]): Expression = qtype match {
    case "SQ8" => SQDecode(c, vmin, vdiff)
    case "SQ4" => SQ4Decode(c, vmin, vdiff)
    case "SQ6" => SQ6Decode(c, vmin, vdiff)
    case "fp16" => Fp16Decode(c)
    case other => throw new IllegalArgumentException(s"unknown SQ type $other")
  }
  def adcL2(qtype: String, q: Expression, c: Expression,
      vmin: Array[Double], vdiff: Array[Double]): Expression = qtype match {
    case "SQ8" => SQAdcL2(q, c, vmin, vdiff)
    case "SQ4" => SQ4AdcL2(q, c, vmin, vdiff)
    case "SQ6" => SQ6AdcL2(q, c, vmin, vdiff)
    case "fp16" => Fp16AdcL2(q, c)
    case other => throw new IllegalArgumentException(s"unknown SQ type $other")
  }
  /** fp16 is a pure per-value codec — no trained range. */
  def needsRange(qtype: String): Boolean = qtype != "fp16"
}

object SqIndex {

  /** Train the per-dimension quantization range + encode.
    *
    * `rangeStat` mirrors ScalarQuantizer::RangeStat
    * (faiss/impl/ScalarQuantizer.h:44-49), per-dimension like the
    * reference's train_NonUniform (ScalarQuantizer.cpp:565: non-minmax
    * stats run train_Uniform on each transposed dimension):
    *  - "minmax"    — [min - rs·(max-min), max + rs·(max-min)]
    *  - "meanstd"   — [mean - std·rs, mean + std·rs] (population std;
    *                   var <= 0 falls back to std = 1 like the ref)
    *  - "quantiles" — [Q(rs), Q(1-rs)] as exact order statistics with
    *                   the reference's clamping of o = int(rs·n)
    *  - "optim"     — alternating assign / least-squares refit of the
    *                   affine range (ScalarQuantizer.cpp:500-556)
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      rangeStat: String = "minmax", rsArg: Double = 0.0,
      qtype: String = "SQ8"): SqIndex = {
    val (mins, vdiff) =
      if (SqVariant.needsRange(qtype)) trainRange(df, vecCol, rangeStat, rsArg)
      else (Array.empty[Double], Array.empty[Double])
    val codes = df.select(col(idCol).as("id"),
      shim.col(SqVariant.encode(qtype, shim.expr(col(vecCol)), mins, vdiff)).as("code"))
    new SqIndex(mins, vdiff, codes, qtype)
  }

  /** (vmin, vdiff) per dimension for the chosen range statistic. All
    * three are single distributed aggregations collecting d scalars
    * (or 2d order statistics) to the driver — the trained state is
    * O(d) exactly like the reference's `trained` vector. */
  def trainRange(df: DataFrame, vecCol: String,
      rangeStat: String = "minmax", rsArg: Double = 0.0): (Array[Double], Array[Double]) =
    rangeStat match {
      case "minmax" =>
        val mm = df.agg(shim.agg(VecMinMaxAgg(shim.expr(col(vecCol)))).as("_mm"))
          .select(col("_mm.mins"), col("_mm.maxs")).collect().head
        val mins0 = mm.getSeq[Double](0).toArray
        val maxs0 = mm.getSeq[Double](1).toArray
        // RS_minmax range expansion (ScalarQuantizer.cpp:588-592)
        val mins = mins0.indices.map(i => mins0(i) - (maxs0(i) - mins0(i)) * rsArg).toArray
        val maxs = mins0.indices.map(i => maxs0(i) + (maxs0(i) - mins0(i)) * rsArg).toArray
        (mins, mins.indices.map(i => maxs(i) - mins(i)).toArray)

      case "meanstd" =>
        // per-dim mean/population-std via one partial-aggregated
        // shuffle of d keys (ScalarQuantizer.cpp:475-487 train_Uniform
        // RS_meanstd, applied per transposed dimension)
        val stats = df.select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
          .groupBy(col("_i"))
          .agg(count(lit(1)).as("_n"),
            sum(col("_x").cast("double")).as("_s"),
            sum((col("_x") * col("_x")).cast("double")).as("_s2"))
          .orderBy(col("_i")).collect()
        val mins = new Array[Double](stats.length)
        val vdiff = new Array[Double](stats.length)
        stats.foreach { r =>
          val i = r.getInt(0); val n = r.getLong(1).toDouble
          val mean = r.getDouble(2) / n
          val varr = r.getDouble(3) / n - mean * mean
          val std = if (varr <= 0) 1.0 else math.sqrt(varr)
          mins(i) = mean - std * rsArg
          vdiff(i) = 2.0 * std * rsArg
        }
        (mins, vdiff)

      case "quantiles" =>
        // exact order statistics per dimension: a distributed sort
        // within each of the d partitions (the same n·log n the
        // reference spends in RAM, ScalarQuantizer.cpp:489-501)
        val n = df.count()
        var o = (rsArg * n).toInt
        if (o < 0) o = 0
        if (o > n - o) o = (n / 2).toInt
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_i")).orderBy(col("_x"))
        val qs = df.select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === o + 1 || col("_rn") === n - o)
          .groupBy(col("_i"))
          .agg(min(when(col("_rn") === o + 1, col("_x"))).as("_lo"),
            min(when(col("_rn") === n - o, col("_x"))).as("_hi"))
          .orderBy(col("_i")).collect()
        val mins = new Array[Double](qs.length)
        val vdiff = new Array[Double](qs.length)
        qs.foreach { r =>
          val i = r.getInt(0)
          mins(i) = r.getFloat(1).toDouble
          vdiff(i) = r.getFloat(2).toDouble - mins(i)
        }
        (mins, vdiff)

      case "optim" =>
        // RS_optim (ScalarQuantizer.cpp:500-556): from the minmax
        // range, alternate per-dim code assignment
        // (n_i = round((x - b)/a), clamped) with the closed-form
        // least-squares refit of (a, b), minimizing quantization MSE.
        // One distributed aggregation per iteration covers ALL dims
        // (the reference's 2000 in-RAM passes become <= maxIters full
        // passes — a training-time cost, exactly like Lloyd rounds);
        // early-stops when no dim's error changed, like the reference.
        optimRange(df, vecCol, k = 256, maxIters = 30)

      case other => throw new IllegalArgumentException(
        s"unknown rangeStat $other (minmax | meanstd | quantiles | optim)")
    }

  private def optimRange(df: DataFrame, vecCol: String, k: Int,
      maxIters: Int): (Array[Double], Array[Double]) = {
    val ex = df.select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
      .select(col("_i"), col("_x").cast("double").as("_x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = ex.groupBy(col("_i"))
        .agg(min(col("_x")).as("_mn"), max(col("_x")).as("_mx"),
          sum(col("_x")).as("_sx"), count(lit(1)).as("_n"))
        .orderBy(col("_i")).collect()
      val d = init.length
      val a = new Array[Double](d); val b = new Array[Double](d)
      val sx = new Array[Double](d); val n = new Array[Double](d)
      init.foreach { r =>
        val i = r.getInt(0)
        b(i) = r.getDouble(1)
        a(i) = (r.getDouble(2) - r.getDouble(1)) / (k - 1)
        sx(i) = r.getDouble(3); n(i) = r.getLong(4).toDouble
      }
      val lastErr = Array.fill(d)(-1.0)
      var it = 0
      var anyChanged = true
      while (it < maxIters && anyChanged) {
        val aCol = element_at(typedlit(a.toSeq), col("_i") + 1)
        val bCol = element_at(typedlit(b.toSeq), col("_i") + 1)
        // a == 0 (constant dim): every code is 0, matching the clamp
        val niRaw = when(aCol === 0.0, 0.0)
          .otherwise(floor((col("_x") - bCol) / aCol + 0.5))
        val ni = least(greatest(niRaw, lit(0.0)), lit((k - 1).toDouble))
        val stats = ex.select(col("_i"), col("_x"), ni.as("_ni"), aCol.as("_a"), bCol.as("_b"))
          .groupBy(col("_i"))
          .agg(sum(col("_ni")).as("_sn"),
            sum(col("_ni") * col("_ni")).as("_sn2"),
            sum(col("_ni") * col("_x")).as("_sxn"),
            sum((col("_x") - (col("_ni") * col("_a") + col("_b"))) *
              (col("_x") - (col("_ni") * col("_a") + col("_b")))).as("_err"))
          .orderBy(col("_i")).collect()
        anyChanged = false
        stats.foreach { r =>
          val i = r.getInt(0)
          val sn = r.getDouble(1); val sn2 = r.getDouble(2)
          val sxn = r.getDouble(3); val err = r.getDouble(4)
          if (err != lastErr(i)) {
            anyChanged = true
            lastErr(i) = err
            val det = sn * sn - sn2 * n(i)
            if (det != 0.0) {
              b(i) = (sn * sxn - sn2 * sx(i)) / det
              a(i) = (sn * sx(i) - n(i) * sxn) / det
            }
          }
        }
        it += 1
      }
      (b, a.map(_ * (k - 1)))
    } finally ex.unpersist()
  }
}
