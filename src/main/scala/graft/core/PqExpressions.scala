package graft.core

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantizer kernels (faiss/impl/ProductQuantizer.h:25-137):
  * d-dim vectors split into M contiguous dsub-dim subvectors, each
  * encoded as the index of its nearest subspace centroid. codebooks
  * layout: [M][ksub][dsub]. */
object PqKernels {

  /** Per-subspace flat codebooks, [M][ksub·dsub] — the layout of the
    * trainer's nearest-codeword loop ([[Lloyd.nearest]]). */
  def flatten(cb: Array[Array[Array[Float]]]): Array[Array[Float]] = cb.map(Lloyd.flatten)

  /** Flattens `cb` on every call; the expressions below flatten once. */
  def encode(a: ArrayData, cb: Array[Array[Array[Float]]]): Array[Byte] =
    encodeFlat(a, flatten(cb), cb(0)(0).length)

  /** Codegen entry point: `cb` is [[flatten]]'s layout. */
  def encodeFlat(a: ArrayData, cb: Array[Array[Float]], dsub: Int): Array[Byte] = {
    val x = a.toFloatArray()
    val out = new Array[Byte](cb.length)
    var mi = 0
    while (mi < cb.length) { out(mi) = Lloyd.nearest(x, mi * dsub, cb(mi), dsub).toByte; mi += 1 }
    out
  }

  def decode(code: Array[Byte], cb: Array[Array[Array[Float]]]): Array[Float] = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val out = new Array[Float](m * dsub)
    var mi = 0
    while (mi < m) {
      val c = cb(mi)(code(mi) & 0xff)
      System.arraycopy(c, 0, out, mi * dsub, dsub)
      mi += 1
    }
    out
  }

  /** Per-query ADC lookup table (compute_distance_table,
    * ProductQuantizer.h:124): LUT[m*ksub + j] = ||q_sub_m - cb[m][j]||². */
  def lut(q: ArrayData, cb: Array[Array[Array[Float]]]): Array[Double] = {
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val out = new Array[Double](m * ksub)
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      var j = 0
      while (j < ksub) {
        val c = cb(mi)(j)
        var s = 0.0; var i = 0
        while (i < dsub) {
          val d = q.getFloat(base + i).toDouble - c(i)
          s += d * d; i += 1
        }
        out(mi * ksub + j) = s
        j += 1
      }
      mi += 1
    }
    out
  }

  /** ADC distance from a precomputed LUT: M array lookups + adds per
    * candidate (the tight scan loop of IndexPQ/IndexIVFPQ search). */
  def adcFromLut(code: Array[Byte], lut: ArrayData, ksub: Int): Double = {
    var s = 0.0; var mi = 0
    while (mi < code.length) {
      s += lut.getDouble(mi * ksub + (code(mi) & 0xff))
      mi += 1
    }
    s
  }
  // codegen entry points (generated code assigns ArrayData / InternalRow)
  def decodeData(code: Array[Byte], cb: Array[Array[Array[Float]]]): ArrayData =
    new GenericArrayData(decode(code, cb))
  def lutData(q: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData =
    new GenericArrayData(lut(q, cb))
  /** Codegen entry point: `cb` is [[flatten]]'s layout. */
  def subAssignFlat(mi: Int, sub: ArrayData, cb: Array[Array[Float]], dsub: Int): Int =
    Lloyd.nearest(sub.toFloatArray(), 0, cb(mi), dsub)
}

/** Assignment of one subvector within subspace `left` (int m) to its
  * nearest codebook entry — the per-subspace Lloyd assign step. `flat`
  * is [[PqKernels.flatten]]'s layout of the [M][ksub][dsub] codebooks
  * the companion's `apply` takes. */
case class PQSubAssign(left: Expression, right: Expression,
    flat: Array[Array[Float]], dsub: Int)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_sub_assign"
  override def nullSafeEval(m: Any, sub: Any): Any =
    PqKernels.subAssignFlat(m.asInstanceOf[Int], sub.asInstanceOf[ArrayData], flat, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", flat, "float[][]")
    defineCodeGen(ctx, ev, (m, sub) => s"graft.core.PqKernels.subAssignFlat($m, $sub, $cb, $dsub)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PQSubAssign {
  def apply(left: Expression, right: Expression,
      codebooks: Array[Array[Array[Float]]]): PQSubAssign =
    PQSubAssign(left, right, PqKernels.flatten(codebooks), codebooks(0)(0).length)
}

/** Per-subspace nearest codeword of a vector, as M code bytes; `flat`
  * as in [[PQSubAssign]]. */
case class PQEncode(child: Expression, flat: Array[Array[Float]], dsub: Int)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.encodeFlat(v.asInstanceOf[ArrayData], flat, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", flat, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.core.PqKernels.encodeFlat($c, $cb, $dsub)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PQEncode {
  def apply(child: Expression, codebooks: Array[Array[Array[Float]]]): PQEncode =
    PQEncode(child, PqKernels.flatten(codebooks), codebooks(0)(0).length)
}

case class PQDecode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pq_decode"
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(PqKernels.decode(v.asInstanceOf[Array[Byte]], codebooks))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.core.PqKernels.decodeData($c, $cb)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-query LUT column (computed once per query row, broadcast with
  * the query side of the join — faiss use_precomputed_table spirit,
  * IndexIVFPQ.h:49). */
case class PQLut(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(PqKernels.lut(v.asInstanceOf[ArrayData], codebooks))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.core.PqKernels.lutData($c, $cb)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** left = code (binary), right = lut (array<double>). */
case class PQAdcFromLut(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def nullSafeEval(code: Any, lut: Any): Any =
    PqKernels.adcFromLut(code.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (code, lut) => s"graft.core.PqKernels.adcFromLut($code, $lut, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fast-scan kernels (faiss/IndexFastScan.h:29,
  * faiss/utils/quantize_lut.cpp:74 round_uint8_per_column): 4-bit PQ
  * codes packed two per byte, and the per-query float LUT
  * affine-quantized to uint8 so the scan accumulates small integers.
  * The reference additionally re-blocks the packed codes into
  * bbs-sized register tiles for SIMD (pq4_fast_scan.h:13-21) — pure
  * physical layout with no dataflow analog; the capability carried
  * here is the quantized-LUT integer scan over nibble-packed codes
  * (half the code bytes, table fits in 4 KiB), which is what changes
  * the scan's memory story. All float→double arithmetic is kept in
  * double so the DuckDB oracle can replay the quantization exactly. */
object Pq4Kernels {

  /** Pack one-code-per-byte PQ codes (ksub ≤ 16) two per byte:
    * even subquantizer in the low nibble, odd in the high
    * (pq4_pack_codes, faiss/impl/pq4_fast_scan.h:37 — logical content
    * only, not the bbs block layout). */
  def pack(codes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte]((codes.length + 1) / 2)
    var i = 0
    while (i < codes.length) {
      val nib = codes(i) & 0x0f
      out(i >> 1) = (out(i >> 1) | (if ((i & 1) == 0) nib else nib << 4)).toByte
      i += 1
    }
    out
  }

  /** Quantized LUT (quantize_lut.cpp round_uint8_per_column): per
    * subquantizer bias = min over its ksub entries, shared scale
    * a = 255/max_span; entry = floor((pd − bias_m)·a + 0.5).
    * Returns (lutq bytes [m*ksub+j], a, b = Σ bias_m). */
  def quantLut(lut: Array[Double], m: Int, ksub: Int): (Array[Byte], Double, Double) = {
    val mins = new Array[Double](m)
    var maxSpan = 0.0
    var mi = 0
    while (mi < m) {
      var mn = Double.MaxValue; var mx = Double.MinValue
      var j = 0
      while (j < ksub) {
        val v = lut(mi * ksub + j)
        if (v < mn) mn = v
        if (v > mx) mx = v
        j += 1
      }
      mins(mi) = mn
      if (mx - mn > maxSpan) maxSpan = mx - mn
      mi += 1
    }
    val a = if (maxSpan > 0) 255.0 / maxSpan else 1.0
    var b = 0.0
    val out = new Array[Byte](m * ksub)
    mi = 0
    while (mi < m) {
      b += mins(mi)
      var j = 0
      while (j < ksub) {
        out(mi * ksub + j) =
          math.floor((lut(mi * ksub + j) - mins(mi)) * a + 0.5).toInt.toByte
        j += 1
      }
      mi += 1
    }
    (out, a, b)
  }

  /** Integer ADC over packed 4-bit codes: M nibble lookups + adds.
    * M is implied by lutq length (M·16). */
  def adcQ(packed: Array[Byte], lutq: Array[Byte]): Long = {
    val m = lutq.length >> 4
    var s = 0L
    var mi = 0
    while (mi < m) {
      val byte = packed(mi >> 1) & 0xff
      val nib = if ((mi & 1) == 0) byte & 0x0f else byte >>> 4
      s += (lutq((mi << 4) + nib) & 0xff)
      mi += 1
    }
    s
  }
  /** Integer ADC with the last `nscale` columns multiplied by `scale`
    * — the NormTableScaler accumulate of the AQ fast-scan rescale path
    * (faiss/impl/LookupTableScaler.h:50: scale_one multiplies the
    * looked-up uint8 of the norm sub-quantizers by norm_scale; the
    * norm tables were DIVIDED by it before quantization). */
  def adcQScaled(packed: Array[Byte], lutq: Array[Byte],
      scale: Int, nscale: Int): Long = {
    val m = lutq.length >> 4
    var s = 0L
    var mi = 0
    while (mi < m) {
      val byte = packed(mi >> 1) & 0xff
      val nib = if ((mi & 1) == 0) byte & 0x0f else byte >>> 4
      val v = (lutq((mi << 4) + nib) & 0xff).toLong
      s += (if (mi >= m - nscale) v * scale else v)
      mi += 1
    }
    s
  }

  /** codegen entry point: fused float LUT + uint8 quantization as the
    * (lutq, a, b) struct row */
  def quantLutRow(q: ArrayData,
      cb: Array[Array[Array[Float]]]): org.apache.spark.sql.catalyst.InternalRow = {
    val m = cb.length
    val ksub = cb(0).length
    val (lutq, a, b) = quantLut(PqKernels.lut(q, cb), m, ksub)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lutq, a, b))
  }
}

/** Nibble-pack one-byte-per-code PQ codes (requires ksub ≤ 16). */
case class Pq4PackCodes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq4_pack"
  override def nullSafeEval(v: Any): Any =
    Pq4Kernels.pack(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Pq4Kernels.pack($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-query quantized LUT for fast-scan search: float LUT in double
  * arithmetic, then uint8 affine quantization. Output struct carries
  * the scalars needed to map integer scores back to approximate
  * distances (original ≈ q/a + b). */
case class Pq4QuantLut(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("lutq", BinaryType, nullable = false),
    StructField("a", DoubleType, nullable = false),
    StructField("b", DoubleType, nullable = false)))
  override def prettyName: String = "pq4_quant_lut"
  override def nullSafeEval(v: Any): Any =
    Pq4Kernels.quantLutRow(v.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.core.Pq4Kernels.quantLutRow($c, $cb)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** left = packed 4-bit codes (binary), right = quantized LUT bytes.
  * Real codegen (not CodegenFallback): this is the per-candidate scan
  * loop — at 600k codes × 60 queries the interpreted-eval boxing is
  * the dominant cost. Emits a static call via MODULE$ (the r06
  * SpectralBits lesson: janino sees no Scala static forwarders for
  * clashing names; MODULE$ always resolves). */
case class Pq4AdcQ(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq4_adc_q"
  override def nullSafeEval(code: Any, lutq: Any): Any =
    Pq4Kernels.adcQ(code.asInstanceOf[Array[Byte]], lutq.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.core.Pq4Kernels$$.MODULE$$.adcQ($c, $l);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[Pq4AdcQ]] with the NormTableScaler applied: the last `nscale`
  * columns' uint8 lookups multiply by `scale` (the AQ fast-scan
  * rescale_norm path — faiss/impl/LookupTableScaler.h:50 scale_one;
  * the matching LUT holds the norm tables DIVIDED by the same scale).
  * Real codegen like [[Pq4AdcQ]] — it replaces it in the hot loop
  * when norm_scale > 1. */
case class Pq4AdcQScaled(left: Expression, right: Expression,
    scale: Int, nscale: Int) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq4_adc_q_scaled"
  override def nullSafeEval(code: Any, lutq: Any): Any =
    Pq4Kernels.adcQScaled(code.asInstanceOf[Array[Byte]],
      lutq.asInstanceOf[Array[Byte]], scale, nscale)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.core.Pq4Kernels$$.MODULE$$.adcQScaled($c, $l, $scale, $nscale);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
