package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Supported distance metrics, mirroring faiss/MetricType.h:20-34.
  * `ascending` = true when smaller is better (a distance), false when
  * larger is better (a similarity — IP, cosine; faiss uses CMin/CMax
  * comparators per metric, utils/ordered_key_value.h). */
object Metric {
  val Similarities: Set[String] = Set("ip", "cosine")
  def ascending(metric: String): Boolean = !Similarities.contains(metric)
  val All: Seq[String] = Seq(
    "l2sq", "ip", "cosine", "l1", "linf", "lp", "canberra", "braycurtis",
    "jensenshannon", "hamming", "jaccard")
}

/** dist(a, b) over two ArrayType(FloatType) columns, computed by a
  * static kernel in [[VecKernels]]; stays inside whole-stage codegen
  * (a single invokestatic per row).
  *
  * Re-expresses faiss's DistanceComputer family
  * (faiss/impl/DistanceComputer.h:25, faiss/utils/distances.h:28-37,
  * faiss/utils/extra_distances-inl.h:29-113) as Catalyst expressions.
  * Two vectors of different lengths raise an error naming both
  * operands and lengths (the reference fixes d per index and asserts
  * it, faiss/Index.h:71-81): one int compare per row, where the
  * kernels alone would read past the shorter array or stop early.
  */
case class VecDistance(left: Expression, right: Expression, metric: String,
    metricArg: Double = 0.0) extends BinaryExpression {
  require(Metric.All.contains(metric), s"unsupported float metric $metric")

  override def dataType: DataType = DoubleType
  override def prettyName: String = s"vec_$metric"

  // "jaccard"/"hamming" are the fork's FLOAT metrics here; binary
  // callers historically reached popcount kernels through these names,
  // so fail analysis with a pointer instead of a runtime cast error
  // (or, worse, a silently inverted ordering).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else if (left.dataType == BinaryType || right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_$metric operates on array<float> vectors; for packed " +
          "BinaryType codes use hamming_dist / jaccard_dist (popcount kernels)")
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_$metric expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private val kernel = "graft.core.VecKernels"

  /** The error for operands of `n` and `m` elements. */
  def lengthMismatch(n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(s"$prettyName: vector lengths differ: " +
      s"${left.sql} has $n elements, ${right.sql} has $m")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw lengthMismatch(x.numElements(), y.numElements())
    metric match {
      case "l2sq"          => VecKernels.l2sq(x, y)
      case "ip"            => VecKernels.ip(x, y)
      case "cosine"        => VecKernels.cosine(x, y)
      case "l1"            => VecKernels.l1(x, y)
      case "linf"          => VecKernels.linf(x, y)
      case "lp"            => VecKernels.lp(x, y, metricArg)
      case "canberra"      => VecKernels.canberra(x, y)
      case "braycurtis"    => VecKernels.braycurtis(x, y)
      case "jensenshannon" => VecKernels.jensenshannon(x, y)
      case "jaccard"       => VecKernels.jaccardFloat(x, y)
      case "hamming"       => VecKernels.hammingFloat(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call: (String, String) => String = metric match {
      case "lp" => (a, b) => s"$kernel.lp($a, $b, $metricArg)"
      // the binary popcount kernels own the bare names; the float
      // generalizations are the *Float overload-free variants
      case "jaccard" => (a, b) => s"$kernel.jaccardFloat($a, $b)"
      case "hamming" => (a, b) => s"$kernel.hammingFloat($a, $b)"
      case m => (a, b) => s"$kernel.$m($a, $b)"
    }
    val self = ctx.addReferenceObj("vecDistance", this)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  throw $self.lengthMismatch($a.numElements(), $b.numElements());
         |}
         |${ev.value} = ${call(a, b)};""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hamming distance over two BinaryType packed-bit codes
  * (faiss/utils/hamming.h:113-193). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.hamming(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.VecKernels.hamming($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Binary Jaccard distance (faiss METRIC_JACCARD over binary codes,
  * faiss/utils/jaccard-inl.h). */
case class JaccardDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_binary"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.jaccardBinary(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.VecKernels.jaccardBinary($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float vector (faiss fvec_norms_L2,
  * utils/distances.h:100). */
case class VecNorm(child: Expression, squared: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = if (squared) "norm_l2sq" else "norm_l2"
  override def nullSafeEval(a: Any): Any =
    if (squared) VecKernels.normL2Sqr(a.asInstanceOf[ArrayData])
    else VecKernels.normL2(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (squared) "normL2Sqr" else "normL2"
    defineCodeGen(ctx, ev, a => s"graft.core.VecKernels.$fn($a)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** L2-normalize (faiss fvec_renorm_L2 / NormalizationTransform,
  * VectorTransform.h:280). */
case class NormalizeL2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "normalize_l2"
  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(VecKernels.normalize(a.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.VecKernels.normalize($a))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Element-wise a - b (faiss compute_residual, Index.h:211-242). */
case class VecSub(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vec_sub"
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(VecKernels.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.VecKernels.sub($a, $b))")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Element-wise a + b. */
case class VecAdd(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "vec_add"
  override def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(VecKernels.add(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.VecKernels.add($a, $b))")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sign-bit binarization: float vector -> packed BinaryType code
  * (faiss/IndexLSH.h:21-40 sign bits; bit order as in
  * faiss binarize helpers: bit i of byte j = component 8j+i >= 0). */
case class SignBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sign_bits"
  override def nullSafeEval(a: Any): Any =
    VecKernels.packSignBits(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.core.VecKernels.packSignBits($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unpack a little-endian binary code into nbits 0/1 floats — the
  * bridge from packed binary vectors to the float k-means trainer
  * (IndexBinaryIVF trains its coarse quantizer on the bit vectors,
  * faiss/IndexBinaryIVF.cpp train). */
case class UnpackBits(child: Expression, nbits: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "unpack_bits"
  override def nullSafeEval(v: Any): Any =
    VecKernels.unpackBits(v.asInstanceOf[Array[Byte]], nbits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.VecKernels.unpackBits($c, $nbits)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** First-b-bits bucket id of a packed binary code (IndexBinaryHash,
  * faiss/IndexBinaryHash.h:26: hash = the b lowest-order bits). */
case class BitPrefix(child: Expression, b: Int)
    extends UnaryExpression {
  require(b >= 1 && b <= 63, "bit prefix must fit a positive long")
  override def dataType: DataType = LongType
  override def prettyName: String = "bit_prefix"
  override def nullSafeEval(v: Any): Any =
    VecKernels.bitSlice(v.asInstanceOf[Array[Byte]], 0, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.VecKernels.bitSlice($c, 0, $b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** b-bit slice [start, start+b) of a packed binary code as a bucket id
  * (IndexBinaryMultiHash, faiss/IndexBinaryHash.h:83: hash table t
  * keys on its own disjoint bit range of the code; BitPrefix is the
  * start=0 special case). */
case class BitSlice(child: Expression, start: Int, b: Int)
    extends UnaryExpression {
  require(start >= 0 && b >= 1 && b <= 63, "bit slice must fit a positive long")
  override def dataType: DataType = LongType
  override def prettyName: String = "bit_slice"
  override def nullSafeEval(v: Any): Any =
    VecKernels.bitSlice(v.asInstanceOf[Array[Byte]], start, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.VecKernels.bitSlice($c, $start, $b)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Spectral-hash signature: bit_i = floor((y_i - c_i) * freq) & 1,
  * packed little-endian (bit i at position i) into one BIGINT
  * (faiss IndexIVFSpectralHash.cpp:146-160 binarize_with_freq, with
  * freq = 2/period; nbit <= 64). Left child is the transformed vector
  * y, right child the per-list threshold vector c. */
case class SpectralBits(left: Expression, right: Expression,
    nbit: Int, freq: Double) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "spectral_bits"
  override def nullSafeEval(y: Any, c: Any): Any =
    SpectralBits.evalBits(y.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], nbit, freq)
  // NOTE: must call through MODULE$ — the companion's `eval` used to
  // get NO static forwarder on the class (name clash with
  // Expression.eval(InternalRow)), so janino saw only instance
  // methods and every spectral-hash encode silently fell back to the
  // interpreter (r06 verdict). `evalBits` has no clash, and the
  // MODULE$ form is immune to forwarder rules entirely.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (y, c) =>
      s"graft.core.SpectralBits$$.MODULE$$.evalBits($y, $c, $nbit, $freq)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SpectralBits {
  /** codegen entry */
  def evalBits(ya: ArrayData, ca: ArrayData, nbit: Int, freq: Double): Long = {
    var sig = 0L
    var i = 0
    while (i < nbit) {
      val xf = ya.getFloat(i).toDouble - ca.getFloat(i).toDouble
      sig |= (math.floor(xf * freq).toLong & 1L) << i
      i += 1
    }
    sig
  }
}

/** Bench-fixture replica perturbation (Queries.replicatePairGroups —
  * the sf1-equivalent scaling tier): vec + a (g, k)-keyed hash noise
  * orthogonal to vec at fixed length 0.4*||vec||, computed by one
  * O(3d) static kernel pass ([[VecKernels.replicaNoise]]). Stays
  * inside whole-stage codegen; the equivalent transform/zip_with
  * lambda tree is interpreted AND gets its scalar subexpressions
  * inlined per element by CollapseProject (O(d^3) per row — the r16
  * scaling-run stall). */
case class ReplicaNoise(vec: Expression, g: Expression, k: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = g
  override def third: Expression = k
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "replica_noise"
  override def nullSafeEval(v: Any, gv: Any, kv: Any): Any =
    VecKernels.replicaNoise(v.asInstanceOf[ArrayData],
      gv.asInstanceOf[Long], kv.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, gv, kv) =>
      s"graft.core.VecKernels$$.MODULE$$.replicaNoise($v, $gv, $kv)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(vec = a, g = b, k = c)
}
