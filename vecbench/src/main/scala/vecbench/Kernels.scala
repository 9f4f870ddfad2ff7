package vecbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{PqKernels, TextKernels, VecKernels}

/** Per-call cost of the engine's hot static kernels on generated
  * inputs, measured outside Spark. Set beside a search span's
  * ns_per_pair, the gap is what the row pipeline adds to the kernel. */
object Kernels {

  @volatile private var sink = 0.0

  /** Median over `reps` rounds of nanoseconds per call, each round
    * making `calls` calls. */
  private def nsPerCall(reps: Int, calls: Int)(round: => Double): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      sink += round
      (System.nanoTime() - t0).toDouble / calls
    })

  def measure(seed: Long): Map[String, Double] = {
    val rnd = new java.util.SplittableRandom(seed)
    val d = 64; val nv = 512
    val vecs = Array.fill(nv)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(d)(rnd.nextGaussian().toFloat)))
    val m = 16; val ksub = 256
    val codebooks = Array.fill(m, ksub, d / m)(rnd.nextGaussian().toFloat)
    val codes = Array.fill(4096)(Array.fill(m)(rnd.nextInt(ksub).toByte))
    val lut = UnsafeArrayData.fromPrimitiveArray(PqKernels.lut(vecs(0), codebooks))
    val docs = Gen.docs(seed, 1000).texts.map(UTF8String.fromString)
    val sets = docs.map(t => TextKernels.minhashBandsAndHashSet(t, 3, 12, 4).getArray(1))
    val reps = 7

    // warm every kernel past the JIT's compile thresholds first
    for (_ <- 0 until 3) {
      vecs.foreach(v => sink += VecKernels.l2sq(v, vecs(0)))
      vecs.foreach(v => sink += PqKernels.encode(v, codebooks)(0))
      codes.foreach(c => sink += PqKernels.adcFromLut(c, lut, ksub))
      docs.foreach(t => sink += TextKernels.minhashBandsAndHashSet(t, 3, 12, 4).numFields)
      sets.indices.foreach(i => sink += TextKernels.sortedLongIntersect(sets(i), sets(0)))
    }
    Map(
      "l2sq_ns" -> nsPerCall(reps, nv * 64) {
        var s = 0.0; var i = 0
        while (i < nv) { var j = 0; while (j < 64) { s += VecKernels.l2sq(vecs(i), vecs(j)); j += 1 }; i += 1 }
        s
      },
      "pq_encode_ns" -> nsPerCall(reps, nv) {
        var s = 0.0; var i = 0
        while (i < nv) { s += PqKernels.encode(vecs(i), codebooks)(0); i += 1 }
        s
      },
      "pq_adc_ns" -> nsPerCall(reps, codes.length * 16) {
        var s = 0.0; var r = 0
        while (r < 16) { var i = 0; while (i < codes.length) { s += PqKernels.adcFromLut(codes(i), lut, ksub); i += 1 }; r += 1 }
        s
      },
      "minhash_ns" -> nsPerCall(reps, docs.length) {
        var s = 0.0; var i = 0
        while (i < docs.length) { s += TextKernels.minhashBandsAndHashSet(docs(i), 3, 12, 4).numFields; i += 1 }
        s
      },
      "intersect_ns" -> nsPerCall(reps, sets.length * 8) {
        var s = 0.0; var r = 0
        while (r < 8) { var i = 0; while (i < sets.length) { s += TextKernels.sortedLongIntersect(sets(i), sets((i + r + 1) % sets.length)); i += 1 }; r += 1 }
        s
      })
  }
}
