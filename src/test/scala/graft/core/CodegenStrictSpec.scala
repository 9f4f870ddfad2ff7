package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every custom Expression must survive CODEGEN_ONLY — a janino
  * compile failure in generated code is otherwise SILENT (Spark logs
  * a warning and falls back to the interpreter, results stay correct,
  * the hot path quietly loses codegen). The r06 judge run caught
  * exactly that: SpectralBits emitted a static call that had no
  * static forwarder (companion `eval` name-clashed with
  * Expression.eval), so every spectral-hash encode ran interpreted.
  *
  * This suite runs each expression under
  * spark.sql.codegen.factoryMode=CODEGEN_ONLY +
  * spark.sql.codegen.fallback=false in a child session, where a
  * codegen failure is a thrown error instead of a log line.
  */
class CodegenStrictSpec extends AnyFunSuite {

  private lazy val strict = {
    val s = graft.SparkTestBase.session.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  private def df = {
    val s = strict
    import s.implicits._
    Seq(
      (Array(1.0f, 2.0f, 0.5f, -1.0f), Array(0.5f, -2.0f, 1.5f, 0.0f)),
      (Array(0.0f, 0.0f, 3.0f, 4.0f), Array(1.0f, 1.0f, 1.0f, 1.0f)))
      .toDF("a", "b")
  }

  test("all codegen'd distance kernels compile under CODEGEN_ONLY") {
    val out = df.select(
      l2sq(col("a"), col("b")).as("l2"),
      inner_product(col("a"), col("b")).as("ip"),
      cosine_sim(col("a"), col("b")).as("cos"),
      l1_dist(col("a"), col("b")).as("l1"),
      linf_dist(col("a"), col("b")).as("linf"),
      lp_dist(col("a"), col("b"), 3.0).as("lp3"),
      canberra_dist(col("a"), col("b")).as("canb"),
      braycurtis_dist(col("a"), col("b")).as("bc"),
      jensenshannon_dist(transform(col("a"), x => abs(x)),
        transform(col("b"), x => abs(x))).as("js"),
      vec_dist(col("a"), col("b"), "jaccard").as("jacf"),
      vec_dist(col("a"), col("b"), "hamming").as("hamf"),
      norm_l2(col("a")).as("n2"),
      normalize_l2(col("a")).as("nrm"),
      sign_bits(col("a")).as("sb")).collect()
    assert(out.length == 2)
    assert(math.abs(out(1).getAs[Double]("l2") - 15.0) < 1e-5)
  }

  test("binary popcount kernels compile under CODEGEN_ONLY") {
    val out = df
      .select(sign_bits(col("a")).as("ca"), sign_bits(col("b")).as("cb"))
      .select(hamming_dist(col("ca"), col("cb")).as("h"),
        jaccard_dist(col("ca"), col("cb")).as("j"))
      .collect()
    assert(out.length == 2)
  }

  test("SpectralBits compiles under CODEGEN_ONLY (r06 silent-fallback regression)") {
    val out = df.select(shim.col(
      SpectralBits(shim.expr(col("a")), shim.expr(col("b")), nbit = 4, freq = 2.0))
      .as("bits")).collect()
    // bit_i = floor((a_i - b_i) * 2) & 1, little-endian
    def bits(a: Array[Float], b: Array[Float]): Long =
      (0 until 4).map(i =>
        (math.floor((a(i) - b(i)).toDouble * 2.0).toLong & 1L) << i).sum
    assert(out(0).getLong(0) == bits(Array(1.0f, 2.0f, 0.5f, -1.0f), Array(0.5f, -2.0f, 1.5f, 0.0f)))
  }

  test("Pq4AdcQ compiles under CODEGEN_ONLY and matches the kernel") {
    val s = strict
    import s.implicits._
    val lut = (0 until 8).flatMap(m => (0 until 16).map(j => (m * j).toDouble)).toArray
    val (lutq, _, _) = Pq4Kernels.quantLut(lut, 8, 16)
    val codes = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val out = Seq((Pq4Kernels.pack(codes), lutq)).toDF("code", "lutq")
      .select(shim.col(Pq4AdcQ(shim.expr(col("code")), shim.expr(col("lutq")))).as("q"))
      .collect()
    assert(out.head.getLong(0) == Pq4Kernels.adcQ(Pq4Kernels.pack(codes), lutq))
  }

  test("SQ codec expressions compile under CODEGEN_ONLY (r08 conversion)") {
    val vmin = Array(-1.0, -2.0, 0.0, -1.0)
    val vdiff = Array(3.0, 4.0, 3.0, 5.0)
    val enc = df.select(col("a"),
      shim.col(SQEncode(shim.expr(col("a")), vmin, vdiff)).as("c8"),
      shim.col(SQ4Encode(shim.expr(col("a")), vmin, vdiff)).as("c4"),
      shim.col(SQ6Encode(shim.expr(col("a")), vmin, vdiff)).as("c6"),
      shim.col(Fp16Encode(shim.expr(col("a")))).as("ch"))
    val out = enc.select(
      shim.col(SQDecode(shim.expr(col("c8")), vmin, vdiff)).as("d8"),
      shim.col(SQ4Decode(shim.expr(col("c4")), vmin, vdiff)).as("d4"),
      shim.col(SQ6Decode(shim.expr(col("c6")), vmin, vdiff)).as("d6"),
      shim.col(Fp16Decode(shim.expr(col("ch")))).as("dh"),
      shim.col(SQAdcL2(shim.expr(col("a")), shim.expr(col("c8")), vmin, vdiff)).as("a8"),
      shim.col(SQ4AdcL2(shim.expr(col("a")), shim.expr(col("c4")), vmin, vdiff)).as("a4"),
      shim.col(SQ6AdcL2(shim.expr(col("a")), shim.expr(col("c6")), vmin, vdiff)).as("a6"),
      shim.col(Fp16AdcL2(shim.expr(col("a")), shim.expr(col("ch")))).as("ah"))
      .collect()
    assert(out.length == 2)
    // the ADC distance must equal L2(query, decode(code)) exactly
    val r = out.head
    val d8 = r.getSeq[Double](0)
    val q = Array(1.0f, 2.0f, 0.5f, -1.0f)
    val ref = q.zip(d8).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(math.abs(r.getDouble(4) - ref) < 1e-12)
  }

  test("MatVec compiles under CODEGEN_ONLY (r08 conversion)") {
    val m = Array(Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.5f, 0.5f, 0.0f, 0.0f))
    val out = df.select(shim.col(MatVec(shim.expr(col("a")), m)).as("y")).collect()
    assert(out.head.getSeq[Double](0).head == 1.0)
    val outB = df.select(shim.col(
      MatVec(shim.expr(col("a")), m, Array(1.0f, -1.0f))).as("y")).collect()
    assert(outB.head.getSeq[Double](0).head == 2.0)
  }

  test("PQ expressions compile under CODEGEN_ONLY (r08 conversion)") {
    val s = strict
    import s.implicits._
    // 2 subspaces x 4 centroids x 2 dims
    val cb = Array.tabulate(2, 4, 2)((m, j, i) => (m + j * 2 + i).toFloat)
    val enc = df.select(col("a"),
      shim.col(PQEncode(shim.expr(col("a")), cb)).as("code"),
      shim.col(PQLut(shim.expr(col("a")), cb)).as("lut"))
    val out = enc.select(
      shim.col(PQDecode(shim.expr(col("code")), cb)).as("dec"),
      shim.col(PQAdcFromLut(shim.expr(col("code")), shim.expr(col("lut")), 4)).as("adc"),
      shim.col(Pq4PackCodes(shim.expr(col("code")))).as("packed"),
      shim.col(Pq4QuantLut(shim.expr(col("a")), cb)).as("qlut"),
      shim.col(PQSubAssign(shim.expr(lit(0)), shim.expr(slice(col("a"), 1, 2)), cb)).as("sa"),
      shim.col(LloydAssign(shim.expr(lit(0)), shim.expr(slice(col("a"), 1, 2)),
        PqKernels.flatten(cb), 2)).as("la"))
      .collect()
    assert(out.length == 2)
    assert(out.head.getAs[Array[Byte]]("packed").length == 1)
    assert(out.forall(r => r.getStruct(r.fieldIndex("la")).getInt(0) == r.getAs[Int]("sa")))
  }

  test("centroid probe expressions compile under CODEGEN_ONLY (r08 conversion)") {
    val cents = Array(Array(1.0f, 2.0f, 0.5f, -1.0f), Array(0.0f, 0.0f, 3.0f, 4.0f))
    val out = df.select(
      shim.col(NearestCentroid(shim.expr(col("a")), cents)).as("nc"),
      shim.col(NearestCentroids(shim.expr(col("a")), cents, 2)).as("ncs"),
      shim.col(NearestCentroidsHnsw(shim.expr(col("a")), cents, 1, 8, 4, "cg-test"))
        .as("nch")).collect()
    assert(out.head.getStruct(0).getInt(0) == 0) // row 0 IS centroid 0
    assert(out(1).getStruct(0).getInt(0) == 1)
    assert(out.head.getStruct(0).getDouble(1) == 0.0)
  }

  test("round-11 coarse expressions compile under CODEGEN_ONLY") {
    val cents = Array(Array(1.0f, 2.0f, 0.5f, -1.0f), Array(0.0f, 0.0f, 3.0f, 4.0f))
    val (pcb, pcodes) = CoarsePq.trainEncode(cents, m = 2, ksub = 2,
      niter = 3, seed = 1L)
    val out = df.select(
      shim.col(NearestCentroidsNsg(shim.expr(col("a")), cents, 1, 8, 4, "cg-nsg"))
        .as("nsg"),
      shim.col(NearestCentroidsAdc(shim.expr(col("a")), pcb, pcodes, 1)).as("adc"),
      shim.col(NearestCentroidsIvf2(shim.expr(col("a")), cents,
        Array(0, 1), cents, 1, 1)).as("iv2")).collect()
    assert(out.length == 2)
    // row 0 is centroid 0: every selector must put it first
    assert(out.head.getSeq[org.apache.spark.sql.Row](0).head.getInt(0) == 0)
    assert(out.head.getSeq[org.apache.spark.sql.Row](1).head.getInt(0) == 0)
    assert(out.head.getSeq[org.apache.spark.sql.Row](2).head.getInt(0) == 0)
  }

  test("binary-code expressions compile under CODEGEN_ONLY (r20 conversion " +
      "from CodegenFallback) and match the kernels") {
    val out = df.select(
      sign_bits(col("a")).as("c"),
      shim.col(UnpackBits(shim.expr(sign_bits(col("a"))), 4)).as("u"),
      shim.col(BitPrefix(shim.expr(sign_bits(col("a"))), 3)).as("p"),
      shim.col(BitSlice(shim.expr(sign_bits(col("a"))), 1, 2)).as("sl")).collect()
    assert(out.length == 2)
    val code = out.head.getAs[Array[Byte]]("c")
    assert(out.head.getLong(2) == VecKernels.bitSlice(code, 0, 3))
    assert(out.head.getLong(3) == VecKernels.bitSlice(code, 1, 2))
  }

  test("dedup-signature expressions compile under CODEGEN_ONLY (r20 " +
      "conversion from CodegenFallback) and match the kernels") {
    val s = strict
    import s.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val toks = Seq("alpha", "beta", "alpha beta", "gamma")
    val docs = Seq((toks, "abcdefgh abcdefgh winnow me"))
      .toDF("toks", "txt")
    val mb = MinHashBase(shim.expr(col("toks")))
    val out = docs.select(
      shim.col(SimHash64(shim.expr(col("toks")))).as("sh"),
      shim.col(mb).as("mb"),
      shim.col(MinHashSig(mb, 4)).as("ms"),
      shim.col(WinnowFingerprints(shim.expr(col("txt")), k = 4, w = 2)).as("wf"))
      .collect()
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(UTF8String.fromString).toArray[Any])
    val r = out.head
    assert(r.getLong(0) == SimHashKernels.simhash64(arr))
    val mbRef = SimHashKernels.minhashBase(arr)
    assert(r.getSeq[Long](1) == mbRef.toLongArray().toSeq)
    assert(r.getSeq[Long](2) ==
      SimHashKernels.minhashSig(mbRef, 4).toLongArray().toSeq)
    val wfRef = WinnowKernels.fingerprints(
      UTF8String.fromString("abcdefgh abcdefgh winnow me"), 4, 2)
    assert(r.getSeq[org.apache.spark.sql.Row](3).map(x =>
      (x.getInt(0), x.getLong(1))) ==
      (0 until wfRef.numElements()).map { i =>
        val row = wfRef.getStruct(i, 2)
        (row.getInt(0), row.getLong(1))
      })
  }

  test("round-12 norm encode expressions under CODEGEN_ONLY (+ exact-joint beats greedy)") {
    // ScalarLsq2Encode (ST_norm_lsq2x4's assign) is a build-time
    // expression (CodegenFallback like its greedy twin); pin that it
    // executes under strict codegen AND that the exact joint argmin
    // never reconstructs worse than the greedy 2-level assign.
    val cb = Array(Array(0.0, 1.0, 10.0, 11.0), Array(-0.5, 0.0, 0.5, 0.9))
    val s = strict
    import s.implicits._
    val vals = Seq(0.3, 1.45, 9.4, 11.8, 0.95).toDF("v")
    val rows = vals.select(
      shim.col(ScalarRq2Encode(shim.expr(col("v")), cb)).as("g"),
      shim.col(ScalarLsq2Encode(shim.expr(col("v")), cb)).as("e"),
      col("v")).collect()
    rows.foreach { r =>
      val g = r.getSeq[Int](0); val e = r.getSeq[Int](1); val v = r.getDouble(2)
      val gErr = math.abs(v - cb(0)(g(0)) - cb(1)(g(1)))
      val eErr = math.abs(v - cb(0)(e(0)) - cb(1)(e(1)))
      assert(eErr <= gErr + 1e-12, s"joint assign worse than greedy at $v")
    }
  }

  test("centroid and probe lookups compile under CODEGEN_ONLY") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    // a range, not a local relation, so the optimizer folds nothing and
    // the lookups run in generated code; list 3 reads as null
    val lists = strict.range(-1, 6).select(
      when(col("id") =!= 3, col("id").cast("int")).as("l"))
    val cents = Array(Array(0f, 1f), Array(2f, 3f), Array(4f, 5f), Array(6f, 7f))
    val got = lists.select(col("l"), shim.col(CentroidLookup(shim.expr(col("l")), cents)).as("c"))
      .collect().map(r => (Option(r.get(0)), Option(r.getSeq[Float](1)))).toMap
    assert(got == Map(Some(-1) -> None, Some(0) -> Some(Seq(0f, 1f)), Some(1) -> Some(Seq(2f, 3f)),
      Some(2) -> Some(Seq(4f, 5f)), None -> None, Some(4) -> None, Some(5) -> None))
    val schema = StructType(Seq(StructField("list_no", IntegerType), StructField("qid", LongType),
      StructField("v", DoubleType)))
    val probes = Seq(InternalRow(1, 10L, 0.5), InternalRow(1, 11L, 0.25),
      InternalRow(2, 12L, 1.0), InternalRow(null, 13L, 2.0))
    // past the byte bound (or at -1) there is no table
    assert(ProbeTable(probes.iterator, schema, "list_no", 40).isEmpty)
    assert(ProbeTable(probes.iterator, schema, "list_no", -1).isEmpty)
    val (table, st) = ProbeTable(probes.iterator, schema, "list_no", 1000).get
    assert(table.rows == 3)
    val pairs = lists.select(col("l"), inline(shim.col(ProbeLookup(shim.expr(col("l")), table, st))))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pairs == Seq((1, 10L, 0.5), (1, 11L, 0.25), (2, 12L, 1.0)))
  }
}
