package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.knn.Knn
import graft.transform._

/** Unified search surface over every index family — the factory-string
  * DSL (faiss index_factory, faiss/index_factory.cpp:885; grammar
  * SURVEY §2.11). Supported grammar (comma-separated):
  *
  *   [transform,...] [IVF<nlist>[(RCQ<a>x<b>)], | IMI2x<b>, | Residual<nlist>,] <code>
  *   transform := PCA[W][R]<d> | RR[<d>] | OPQ<M>[_<d>] | ITQ[<d>] | Pad<d> | L2norm | Center
  *   code      := Flat | SQ8 | SQ4 | SQ6 | SQfp16
  *              | PQ<M>[x<ksub>] | PQ<M>x4fs[_<bbs>]
  *              | SH<nbit>x<period>[g|c|m]
  *              | RQ<L>x<nbits> | RQ<L>x4fs[_<bbs>] | PRQ<nsplit>x<L>x<nbits>
  *              | LSQ<L>x<nbits> | PLSQ<nsplit>x<L>x<nbits>
  *
  * e.g. "Flat", "IVF16,Flat", "PCA32,IVF16,PQ8", "L2norm,SQ8",
  * "IVF16,SH32x1.0m" (spectral hash; g/c/m = global/centroid/median
  * threshold, index_factory.cpp:398 "SH<period><gcm>" — we make nbit
  * explicit instead of inheriting it from a transform prefix),
  * "Residual16,PQ8" (Index2Layer, index_factory.cpp:280 use_2layer),
  * "RQ2x4" / "PRQ2x2x4" (additive quantizers, beam+ICM encode,
  * reconstruction-distance search — index_factory.cpp aq patterns),
  * "IVF16,RQ2x4" (IndexIVFResidualQuantizer), "PQ8x4fs" /
  * "IVF16,PQ8x4fs" (fast-scan: quantized-LUT integer scan over
  * nibble-packed 4-bit codes; the bbs suffix — a SIMD register-block
  * size — is accepted and ignored), "HNSW32[,SQ8|,PQ8]" /
  * "NSG32[,SQ8|,PQ8]" (per-partition graph shards over flat or
  * quantized storage).
  */
object IndexFactory {

  sealed trait Built {
    def search(queries: DataFrame, k: Int, nprobe: Int = 1,
        queryId: String = "qid", queryVec: String = "qvec"): DataFrame
    /** Canonical factory string (reverse_index_factory,
      * contrib/factory_tools.py:76). Set by [[build]]. */
    var description: String = ""
    /** Cleanup hooks registered by [[build]] (the transform-chain base
      * cache) and by wrappers over cache-backed indexes (x4fsr packed
      * codes, RCQ invlists). */
    private[index] var onClose: List[() => Unit] = Nil
    /** Release session-lifetime cached state. A Built discarded
      * without close() pins its cached DataFrames (the transformed
      * base + any index-held packed-code/invlist cache) until session
      * end (ADVICE r9 — the factory x4fsr contract). Idempotent; the
      * index is unusable afterwards only in the sense that searches
      * recompute what was cached. */
    def close(): Unit = { onClose.foreach(f => f()); onClose = Nil }
    /** Factory string derived from the wrapper's LIVE STRUCTURE alone
      * (the reverse_index_factory downcast walk,
      * contrib/factory_tools.py:76) — None when structure alone does
      * not determine a spelling. A transform chain is such a case: a
      * Linear matrix does not say whether it was PCA32 or RR32, so
      * chain-prefixed wrappers reverse through the stored
      * description instead. */
    private[index] def structuralDesc: Option[String] = None
  }

  /** True when the wrapper carries no transform prefix — the only
    * regime where a wrapper's own fields fully determine its factory
    * string. */
  private def noChain(t: VecTransform): Boolean = t match {
    case graft.transform.Chain(ts) => ts.isEmpty
    case _ => false
  }

  /** Split a factory description on commas NOT inside parentheses —
    * the reference normalizes parenthesized sub-descriptions before
    * tokenizing (index_factory.cpp:719 find_matching_parentheses), so
    * `IVF256(IVF16,Flat),PQ8` is three tokens with the sub-description
    * intact inside the coarse token. */
  private def splitTop(desc: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    desc.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.map(_.trim).filter(_.nonEmpty).toArray
  }

  /** Inner codecs the MinMax[FP16] wrapper build() constructs
    * (plus PQ<m>[x<k>] via the Pq token). */
  private val MinMaxInners = Set("SQ8", "SQ4", "SQ6", "SQfp16")

  /** Bytes per stored vector for a factory string at dimension d
    * (get_code_size, contrib/factory_tools.py:10). Transform prefixes
    * may change the effective d (PCA<t>/OPQ keep their output dim). */
  def codeSize(desc: String, d: Int): Int = {
    var dim = d
    var code: Option[Int] = None
    // MinMax wrappers prepend per-row (scaler, minv): fp32 = 8 bytes,
    // fp16 = 4 bytes (IndexRowwiseMinMax.h:28-31). Only the inner
    // codecs build() supports are sized — reporting a size for a
    // description the factory cannot build would let callers plan
    // storage for an index that later throws (ADVICE r9)
    val toks = splitTop(desc).map {
      case PqNp(t) => t
      // LSCQ = the reference's alternative LSQ spelling
      // (index_factory.cpp:576 "(LSQ|LSCQ)")
      case t if t.startsWith("LSCQ") => "LSQ" + t.stripPrefix("LSCQ")
      case t => t
    }
    toks.headOption.filter(t => t == "MinMax" || t == "MinMaxFP16").foreach { mm =>
      val inner = toks.drop(1).toSeq
      require(inner.length == 1 && (MinMaxInners.contains(inner.head) ||
          Pq.findFirstIn(inner.head).contains(inner.head)),
        s"$mm supports SQ8/SQ4/SQ6/SQfp16/PQ<m> inners (as build() does), got '$desc'")
    }
    var extra = 0
    toks.foreach {
      case Pca(_, _, t) => dim = t.toInt
      case Rr(t) => if (t.nonEmpty) dim = t.toInt
      case ItqTok(t) => if (t.nonEmpty) dim = t.toInt
      case OpqTok(_, t) => if (t != null) dim = t.toInt
      case PadTok(t) => dim = math.max(dim, t.toInt)
      case "L2norm" | "L2Norm" | "Center" | "RFlat" | "IDMap" | "IDMap2" => ()
      // like RFlat, the Refine(<code>) suffix does not change the CORE
      // code width (the refine codec's bytes are its own index's)
      case RefineTok(_) => ()
      case "MinMax" => extra += 8
      case "MinMaxFP16" => extra += 4
      case Ivf(_) | IvfHnsw(_, _) | IvfNsg(_, _) | IvfRcqTok(_, _, _) | IvfParen(_, _) | Imi(_) | Res(_) | ResMiq(_, _) => ()
      case "Flat" | "FlatDedup" => code = Some(4 * dim)
      case PqPlus(m1, m2) => code = Some(m1.toInt + m2.toInt)
      case AqNorm(_, lv, nb, st) =>
        code = Some((lv.toInt * nb.toInt + 7) / 8 + aqNormBytes(st))
      case PAqNorm(_, ns, lv, nb, st) =>
        code = Some((ns.toInt * lv.toInt * nb.toInt + 7) / 8 + aqNormBytes(st))
      case LshRef(_, _) => code = Some((dim + 7) / 8)
      case "SQ8" => code = Some(dim)
      case "SQ4" => code = Some((dim + 1) / 2)
      case "SQ6" => code = Some((dim * 6 + 7) / 8)
      case "FP16" | "SQfp16" => code = Some(2 * dim)
      case Sh(nbit, _, _) => code = Some((nbit.toInt + 7) / 8)
      // (ITQ|PCA|PCAR)<b> middle tokens are consumed by the transform
      // cases above; SH[<p>][gcm] sizes to the transformed dim's bits,
      // and is ONLY valid in the IVF<n>,(ITQ|PCA|PCAR)[<b>],SH form
      // build() accepts — sizing a spelling build() rejects would let
      // callers plan storage for an index that later throws (ADVICE r9)
      case t2 @ ShRef(_, _) =>
        toks.toList match {
          case List(Ivf(_), ShVt(_, _), ShRef(_, _)) =>
            code = Some((dim + 7) / 8)
          case _ => throw new IllegalArgumentException(
            s"'$t2' is only valid as IVF<n>,(ITQ|PCA|PCAR)[<b>],$t2 in '$desc'")
        }
      case Lsh(nb) => code = Some((nb.toInt + 7) / 8)
      // fast-scan BEFORE plain PQ/RQ: "PQ8x4fs" must not fall to `other`
      case PqFs(m, _) => code = Some((m.toInt + 1) / 2)
      case PqFsR(m, _) => code = Some((m.toInt + 1) / 2)
      case RqFsR(_, lv, _, _) => code = Some((lv.toInt + 2 + 1) / 2) // + 2-nibble norm code
      case RqFs(_, lv, _, _) => code = Some((lv.toInt + 2 + 1) / 2) // + 2-nibble norm code
      case PrqFsR(_, ns, lv, _, _) => code = Some((ns.toInt * lv.toInt + 2 + 1) / 2)
      case PrqFs(_, ns, lv, _, _) => code = Some((ns.toInt * lv.toInt + 2 + 1) / 2)
      case Pq(m, _) => code = Some(m.toInt)
      case RqTok(lv, nb) => code = Some((lv.toInt * nb.toInt + 7) / 8)
      case PrqTok(ns, lv, nb) => code = Some((ns.toInt * lv.toInt * nb.toInt + 7) / 8)
      case LsqTok(lv, nb) => code = Some((lv.toInt * nb.toInt + 7) / 8)
      case PlsqTok(ns, lv, nb) => code = Some((ns.toInt * lv.toInt * nb.toInt + 7) / 8)
      case HnswTok(_) | NsgTok(_) => code = Some(4 * dim)  // Flat storage
      // 2-layer storage codes: the coarse id is free like Res(_)
      case TwoLevelMiqCode(_, pm) => code = Some(pm.toInt)
      case TwoLevelCode(_, pm) => code = Some(pm.toInt)
      case ZnTok(m, r2v, nbit) =>
        val lat = new graft.core.LatticeCodec(dim, m.toInt, nbit.toInt, r2v.toInt,
          new Array[Float](m.toInt), Array.fill(m.toInt)(1.0f))
        code = Some(lat.codeSize)
      case other => throw new IllegalArgumentException(s"unknown token $other")
    }
    code.map(_ + extra)
      .getOrElse(throw new IllegalArgumentException(s"no code token in '$desc'"))
  }

  private final class FlatBuilt(base: DataFrame, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      Knn.knnJoin(q.withColumn(qvec, chain.applyCol(col(qvec))), base, k,
        queryId = qid, queryVec = qvec)
  }
  private final class IvfBuilt(idx: IvfIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        math.max(nprobe, 1), qid, qvec)
  }
  /** `IVF<n>(PCA<k>,Flat),Flat` — transform-prefixed quantizer: probe
    * selection ranks the TRANSFORMED query against the TRANSFORMED
    * centroid table (the same ranking add-time assignment used), then
    * the scan runs through searchPreassigned so candidate distances
    * stay exact in the original space. */
  private final class TransformedCoarseBuilt(idx: IvfIndex,
      lin: graft.transform.Linear, tCents: Array[Array[Float]],
      chain: VecTransform) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val qq = q.withColumn(qvec, chain.applyCol(col(qvec)))
      val probesDf = Probes.rows(qq, Seq(col(qid)),
        sel = shim.col(graft.core.NearestCentroids(
          shim.expr(lin.applyCol(col(qvec))), tCents,
          math.min(math.max(nprobe, 1), tCents.length), "l2sq")))
      idx.searchPreassigned(qq, probesDf, k, qid, qvec)
    }
  }
  private final class SqBuilt(idx: SqIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, qid, qvec)
  }
  private final class PqBuilt(idx: PqIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, qid, qvec)
  }
  /** Coarse-graph spec parsed from the factory string — the
    * `IVF<n>_HNSW<m>` / `IVF<n>_NSG<R>` coarse of the reference
    * grammar composed with any IVF code (index_factory.cpp:253-262
    * parses the coarse independently of the code). The search-time
    * walk budget follows the max(32, 4·nprobe) convention: it covers
    * the whole graph on small nlist, degenerating to exact (the
    * sidecar-oracle gate), and scales with nprobe on large nlist. */
  private sealed trait CoarseGraphSpec {
    def at(nprobe: Int): Option[Probes.CoarseQuant]
  }
  /** Exact centroid argmin (`IVF<n>(Flat)` ≡ plain `IVF<n>`). */
  private case object ExactSpec extends CoarseGraphSpec {
    def at(np: Int) = None
  }
  private final case class HnswSpec(m: Int) extends CoarseGraphSpec {
    def at(np: Int) = Some(Probes.HnswCoarse(math.max(32, 4 * np), m))
  }
  private final case class NsgSpec(r: Int) extends CoarseGraphSpec {
    def at(np: Int) = Some(Probes.NsgCoarse(math.max(32, 4 * np), r))
  }
  /** IndexPQ quantizer (`IVF<n>(PQ<m>[x<k>])`): ADC cell ranking at
    * every nprobe — no walk budget (approximate by quantization). */
  private final case class PqAdcSpec(m: Int, ksub: Int) extends CoarseGraphSpec {
    def at(np: Int) = Some(Probes.PqAdcCoarse(m, ksub))
  }
  /** IVF-Flat quantizer (`IVF<n>(IVF<n2>,Flat)`): nprobe2 scales with
    * the demanded breadth and degenerates to the exact ranking at
    * nprobe >= nlist2 (the graph-coarse budget convention; the
    * reference's default quantizer nprobe is 1, tunable via
    * quantizer_nprobe).
    *
    * DELIBERATE SUBSTITUTION: add-time assignment stays EXACT (the
    * invlists are independent of any runtime knob), while the
    * reference's IndexIVF::add_core assigns through the quantizer at
    * whatever nprobe happens to be set at add time. The structural
    * quantizers (PQ coarse — no knob, deterministic loss) DO assign
    * through the quantizer here (pqAdcIvf); only the knob-dependent
    * one substitutes, and the oracle replays the exact assignment it
    * actually performs. */
  private final case class Ivf2Spec(nlist2: Int) extends CoarseGraphSpec {
    def at(np: Int) = Some(Probes.IvfFlatCoarse(nlist2,
      math.max(1, math.min(nlist2, np))))
  }

  private final class IvfPqBuilt(idx: IvfPqIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }

  private final class IvfSqBuilt(val idx: IvfSqIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** Refine wrapper: coarse Built + exact re-rank over the
    * (transformed) base (IndexRefineFlat / ",RFlat" suffix). */
  private final class RefineBuilt(inner: Built, base: DataFrame,
      chain: VecTransform, kFactor: Int) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val stage1 = inner.search(q, k * kFactor, nprobe, qid, qvec)
      Refine.rerank(q.withColumn(qvec, chain.applyCol(col(qvec))), base,
        stage1, k, queryId = qid, queryVec = qvec)
    }
  }

  // PCA(W?)(R?)<d> (index_factory.cpp:197): W = whitening, R = a
  // random rotation AFTER the reduction (PCAMatrix random_rotation —
  // balances variance across the kept components)
  private val Pca = "PCA(W?)(R?)(\\d+)".r
  // RR[<d>] (index_factory.cpp:205): bare RR keeps the input dim
  private val Rr = "RR(\\d*)".r
  // ITQ[<d>] (index_factory.cpp:208, ITQTransform): PCA (when <d> is
  // given) + the iterative-quantization rotation of Opq.trainItq
  private val ItqTok = "ITQ(\\d*)".r
  private val Ivf = "IVF(\\d+)".r
  // IVF<nlist>(RCQ<levels>x<bits>): ResidualCoarseQuantizer as the
  // coarse quantizer (index_factory.cpp:241-291 coarse grammar;
  // IndexAdditiveQuantizer.h:193) — nlist must equal 2^(levels*bits)
  private val IvfRcqTok = "IVF(\\d+)\\(RCQ(\\d+)x(\\d+)\\)".r
  // IVF<nlist>_HNSW<m>: HNSW-accelerated coarse quantizer (reference
  // coarse grammar, index_factory.cpp:253-256; empty m defaults to 32
  // like the reference's hnsw_M)
  private val IvfHnsw = "IVF(\\d+)_HNSW(\\d*)".r
  // IVF<nlist>_NSG<R>: NSG-accelerated coarse quantizer
  // (index_factory.cpp:258-262, IndexNSGFlat as quantizer)
  private val IvfNsg = "IVF(\\d+)_NSG(\\d+)".r
  // IVF<nlist>(<sub>): generic parenthesized coarse quantizer
  // (index_factory.cpp:263-267,719 — any sub-description becomes the
  // IndexIVF's quantizer). Comma-free sub-descriptions: Flat,
  // HNSW<m>, NSG<R>, PQ<m>[x<k>]. Matched AFTER the RCQ special case.
  private val IvfParen = "IVF(\\d+)\\((.+)\\)".r
  // transform-prefixed paren sub-indexes (IndexPreTransform quantizer)
  private val PcaSub = "PCA(\\d+),Flat".r
  private val RrSub = "RR(\\d+),Flat".r
  private val HnswSub = "HNSW(\\d*)".r
  private val NsgSub = "NSG(\\d+)".r
  // IVF<n2>[,Flat] inside IVF<n>(...): an IVF-Flat sub-index as the
  // quantizer (two-level coarse assignment)
  private val IvfSub = "IVF(\\d+)(?:,Flat)?".r
  private val Pq = "PQ(\\d+)(?:x(\\d+))?".r
  // PQ<M>x4fs[_<bbs>] (IndexPQFastScan / IndexIVFPQFastScan,
  // index_factory.cpp fast-scan grammar): bbs is the reference's SIMD
  // register-block size — accepted and ignored (physical layout only)
  private val PqFs = "PQ(\\d+)x4fs(?:_(\\d+))?".r
  // PQ<M>x4fsr[_<bbs>] (IndexIVFPQFastScan with by_residual = true,
  // index_factory.cpp:328-335)
  private val PqFsR = "PQ(\\d+)x4fsr(?:_(\\d+))?".r
  // RQ<L>x4fs[_<bbs>] (IndexAdditiveQuantizerFastScan, ST_norm_rq2x4)
  private val RqFs = "(RQ|LSQ)(\\d+)x4fs(?:_(\\d+))?(?:_N(rq2x4|lsq2x4))?".r
  // (PRQ|PLSQ)<ns>x<L>x4fs[r][_<bbs>][_N<norm>]
  // (IndexProductAdditiveQuantizerFastScan, index_factory.cpp:381,626):
  // the product forms, scanned through zero-padded effective codebooks
  private val PrqFs = "(PRQ|PLSQ)(\\d+)x(\\d+)x4fs(?:_(\\d+))?(?:_N(rq2x4|lsq2x4))?".r
  private val PrqFsR = "(PRQ|PLSQ)(\\d+)x(\\d+)x4fsr(?:_(\\d+))?(?:_N(rq2x4|lsq2x4))?".r
  // RQ<L>x4fsr[_<bbs>] (IndexIVFAdditiveQuantizerFastScan with
  // by_residual = true, index_factory.cpp:328-335 — IVF-prefixed only,
  // like the reference class)
  private val RqFsR = "(RQ|LSQ)(\\d+)x4fsr(?:_(\\d+))?(?:_N(rq2x4|lsq2x4))?".r
  // OPQ<M>[_<d>] (index_factory.cpp:211, OPQMatrix(d, M, d_out)):
  // the optional _<d> is a dimension-CHANGING OPQ — reduce to d_out
  // (PCA-initialized in the reference when d2 < d) then rotate
  private val OpqTok = "OPQ(\\d+)(?:_(\\d+))?".r
  private val Imi = "IMI2x(\\d+)".r
  // LSQ<L>x<nbits> / PLSQ<nsplit>x<L>x<nbits> (index_factory.cpp
  // aq_templates; faiss/IndexAdditiveQuantizer.h:119 IndexLocalSearch-
  // Quantizer): additive quantizer whose ENCODER is iterated
  // conditional modes (LocalSearchQuantizer::icm_encode,
  // impl/LocalSearchQuantizer.cpp:505) — here the RQ/PRQ codebooks
  // with the ICM refinement sweeps of RqKernels.encodeIcm
  private val LsqTok = "LSQ(\\d+)x(\\d+)".r
  // Pad<d> (index_factory.cpp:216): RemapDimensionsTransform(d,
  // max(d, d_out), false) — identity on the first d dims, zero-fill
  // beyond (pads the vector up for downstream codes that need a
  // divisible dimension)
  private val PadTok = "Pad(\\d+)".r
  private val PlsqTok = "PLSQ(\\d+)x(\\d+)x(\\d+)".r
  private val Res = "Residual(\\d+)".r
  // Residual<M>x<nbit>: MultiIndexQuantizer first layer for the
  // 2-layer form (index_factory.cpp:270-278, nlist = 2^(M*nbit))
  private val ResMiq = "Residual(\\d+)x(\\d+)".r
  private val Sh = "SH(\\d+)x([-0-9.eE]+)([gcm])?".r
  // (ITQ|PCA|PCAR)[<b>],SH[<period>][gcm] — the reference's only
  // spectral-hash spelling (index_factory.cpp:398): an
  // IndexIVFSpectralHash whose d->nbit transform is REPLACED by a
  // trained ITQ/PCA/PCA+rotation; period absent = simple thresholding
  // (the reference's -1e10 sentinel), threshold suffix absent = the
  // ctor default Thresh_global. The SH<n>x<p> spelling above is this
  // engine's explicit-nbit variant over the default random rotation.
  private val ShVt = "(ITQ|PCAR|PCA)(\\d*)".r
  private val ShRef = "SH([-0-9.eE]*)([gcm])?".r
  private val Lsh = "LSH(\\d+)".r
  // Reference LSH spelling (IndexLSH.h:23; factory "LSH[r][t]",
  // index_factory.cpp:528): nbits = d, optional random rotation (r)
  // and per-component median thresholds (t, IndexLSH::train)
  private val LshRef = "LSH(r?)(t?)".r
  // IVF<n>,PQ<M1>+<M2> (IndexIVFPQR, index_factory.cpp:321)
  private val PqPlus = "PQ(\\d+)\\+(\\d+)".r
  // RQ/LSQ<L>x<nb>_N<norm>: additive quantizer with an explicit
  // stored-norm search type (aq_norm_pattern, index_factory.cpp:160;
  // Search_type_t, AdditiveQuantizer.h:58-67)
  private val AqNorm =
    "(RQ|LSQ)(\\d+)x(\\d+)_N(float|qint8|qint4|cqint8|cqint4|rq2x4|lsq2x4|none)".r
  // product AQs with the stored-norm clause (index_factory.cpp:351,589,599)
  private val PAqNorm =
    "(PRQ|PLSQ)(\\d+)x(\\d+)x(\\d+)_N(float|qint8|qint4|cqint8|cqint4|rq2x4|lsq2x4|none)".r
  // PQ token with the reference's `np` suffix (skip polysemous
  // training, index_factory.cpp:315): our builds never train the
  // permutation eagerly (Polysemous.optimize runs on demand for the
  // ht filter), so both spellings build the same index — the suffix
  // is accepted and normalized away
  private val PqNp = "(PQ\\d+(?:x\\d+)?)np".r
  // additive quantizers (index_factory.cpp aq_templates): RQ<L>x<nbits>,
  // PRQ<nsplit>x<L>x<nbits>; +IVF via the IVF<nlist>, prefix
  private val RqTok = "RQ(\\d+)x(\\d+)".r
  private val PrqTok = "PRQ(\\d+)x(\\d+)x(\\d+)".r
  private val HnswTok = "HNSW(\\d+)".r
  // <ncent>+PQ<m> / 2x<nbit>+PQ<m>: IndexHNSW2Level storage codes
  // (index_factory.cpp:455-472 — Index2Layer as the HNSW's storage,
  // flat-coarse and MultiIndexQuantizer-coarse forms)
  private val TwoLevelCode = "(\\d+)\\+PQ(\\d+)".r
  private val TwoLevelMiqCode = "2x(\\d+)\\+PQ(\\d+)".r
  private val NsgTok = "NSG(\\d+)".r
  // ZnLattice<M>x<r2>_<nbit> (index_factory.cpp:536)
  private val ZnTok = "ZnLattice(\\d+)x(\\d+)_(\\d+)".r
  // ,Refine(<code>) suffix (IndexRefine, index_factory.cpp:664)
  private val RefineTok = "Refine\\((.+)\\)".r

  /** The refine index's RECONSTRUCTION of the base — what IndexRefine
    * re-ranks against (compute_distance via the refine sub-index's
    * codes). Flat is lossless (== RFlat); SQ widths train their range
    * here; PQ trains its codebooks. */
  private def refineDecoded(data: DataFrame, inner: String,
      niter: Int, seed: Long): DataFrame = inner match {
    case "Flat" => data
    case sq @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16") =>
      val qt = if (sq == "SQfp16") "fp16" else sq
      val (mins, vdiff) =
        if (SqVariant.needsRange(qt)) SqIndex.trainRange(data, "vec")
        else (Array.empty[Double], Array.empty[Double])
      data.select(col("id"),
        shim.col(SqVariant.decode(qt,
          SqVariant.encode(qt, shim.expr(col("vec")), mins, vdiff),
          mins, vdiff)).cast("array<float>").as("vec"))
    case Pq(m, ks) =>
      val model = graft.index.Pq.train(data, "vec", m.toInt,
        Option(ks).map(_.toInt).getOrElse(16), niter = niter, seed = seed)
      data.select(col("id"),
        model.decodeCol(shim.col(graft.core.PQEncode(
          shim.expr(col("vec")), model.codebooks))).cast("array<float>").as("vec"))
    case other => throw new IllegalArgumentException(
      s"unsupported Refine inner '$other'")
  }

  /** IndexLSH (faiss/IndexLSH.h:23, factory "LSH[rt]" / "LSH<nbits>"):
    * thin chain-applying wrapper over the persistable [[LshIndex]]
    * carrier (which holds the rotation, thresholds and codes). */
  private final class LshBuilt(lsh: LshIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      lsh.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, qid, qvec)
  }

  private final class ImiBuilt(idx: ImiIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        nprobe, queryId = qid, queryVec = qvec)
  }
  /** IMI2x<b>,PQ<m> (IndexIVFPQ with a MultiIndexQuantizer coarse —
    * the SIFT1B flagship composition, index_factory.cpp:834-878). */
  private final class ImiPqBuilt(val idx: ImiPqIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        math.max(nprobe, 1), queryId = qid, queryVec = qvec)
  }
  /** IMI2x<b>,SQ<w> (IndexIVFScalarQuantizer with a MultiIndexQuantizer
    * coarse — the same grammar composition). */
  private final class ImiSqBuilt(val idx: ImiSqIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        math.max(nprobe, 1), queryId = qid, queryVec = qvec)
  }
  private final class SpectralBuilt(idx: IvfSpectralHashIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** IVF<n>,PQ<M1>+<M2> (IndexIVFPQR, index_factory.cpp:321). */
  private final class IvfPqrBuilt(val idx: IvfPqrIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        math.max(nprobe, 1), qid, qvec)
  }
  /** Flat additive quantizer with an explicit stored-norm search type
    * (`RQ/LSQ<L>x<nb>_N<norm>`): the ST_norm_* LUT scan
    * d = ||q||² − 2·<q,x̂> + norm(x̂), with the norm term exact
    * (float), quantized (qint/cqint/rq2x4/lsq2x4 — [[RqNorms]]
    * codecs), or absent (`_Nnone` = ST_LUT_nonorm,
    * AdditiveQuantizer.h:60 — the inner-product-only LUT mode:
    * similarity = <q,x̂> ranked DESCENDING, no norm stored or read). */
  private final class RqLutBuilt(model: RqModel, codes: DataFrame,
      chain: VecTransform, nonorm: Boolean = false) extends Built {
    /** Release the cached codes+norms table. */
    private[IndexFactory] def close0(): Unit = codes.unpersist(blocking = false)
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val qq0 = q.withColumn(qvec, chain.applyCol(col(qvec)))
      val qq =
        if (nonorm) qq0.select(col(qid), model.lutCol(col(qvec)).as("_lut"))
        else qq0.select(col(qid), model.lutCol(col(qvec)).as("_lut"),
          aggregate(col(qvec).cast("array<double>"), lit(0.0),
            (a, x) => a + x * x).as("_qn"))
      val ip = model.ipFromLutCol(col("codes"), col("_lut"))
      val d = if (nonorm) ip
        else col("_qn") - lit(2.0) * ip + col("nq")
      graft.core.TopKAgg.ranked(codes.crossJoin(broadcast(qq))
        .select(col(qid), col("id"), d.as("_d")),
        Seq(col(qid)), col("_d"), col("id"), k, asc = !nonorm)
    }
  }
  private final class IvfRqBuilt(idx: IvfRqIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** `IVF<n>,{RQ|LSQ}<L>x<nb>_N<norm>` — the aq_norm clause INSIDE
    * the IVF code token (index_factory.cpp:293-430): the same residual
    * AQ lists as [[IvfRqBuilt]], searched through the
    * ST_norm_* / ST_LUT_nonorm LUT scan instead of decode
    * (AQInvertedListScannerLUT, IndexIVFAdditiveQuantizer.cpp:204).
    * The stored norm is ||decode(code)||² of the RESIDUAL decode,
    * quantized by the same [[RqNorms]] codecs the flat `_N` route
    * trains; composes with graph coarse prefixes like every IVF code. */
  private final class IvfRqNormBuilt(val idx: IvfRqIndex,
      val codesNq: DataFrame, nonorm: Boolean, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    private[IndexFactory] def close0(): Unit = {
      codesNq.unpersist(blocking = false)
      idx.codes.unpersist(blocking = false)
    }
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.searchNormLut(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        codesNq, nonorm, qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** IVF<n>(RCQ<a>x<b>),Flat: ResidualCoarseQuantizer coarse. */
  private final class IvfRcqBuilt(val idx: IvfRcqFlatIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k,
        math.max(nprobe, 1), qid, qvec)
  }
  /** Index2Layer: the reference leaves search unimplemented
    * (Index2Layer.h:53) — provided here as reconstruct-then-exact-scan
    * for API completeness (the class is random-access encoded
    * storage). */
  private final class TwoLayerBuilt(idx: TwoLayerIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      Knn.knnJoin(q.withColumn(qvec, chain.applyCol(col(qvec))),
        idx.reconstruct, k, queryId = qid, queryVec = qvec)
  }
  /** Residual<M>x<nbit>,PQ<m> (MIQ-coarse Index2Layer): searched like
    * [[TwoLayerBuilt]] — exact scan over the decoded storage (the
    * reference leaves Index2Layer::search unimplemented,
    * Index2Layer.h:53; the decoded-storage scan is the Spark shape of
    * "use it as storage"). */
  private final class MiqTwoLayerBuilt(val idx: MiqTwoLayerIndex,
      chain: VecTransform) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      Knn.knnJoin(q.withColumn(qvec, chain.applyCol(col(qvec))),
        idx.reconstruct, k, queryId = qid, queryVec = qvec)
  }

  /** IVF Flat with a graph coarse quantizer
    * (IVF<n>_{HNSW<m>,NSG<R>},Flat): probe selection walks a
    * per-executor graph over the centroids instead of the exact
    * O(nlist) argmin — the scale path for large nlist. The walk
    * budget scales with nprobe; on small nlist it covers the whole
    * graph and is exact. */
  private final class IvfGraphBuilt(idx: IvfIndex, chain: VecTransform,
      spec: CoarseGraphSpec) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = spec.at(np))
    }
  }

  /** Fast-scan PQ (PQ<M>x4fs, IndexPQFastScan): quantized-LUT integer
    * scan over nibble-packed 4-bit codes. */
  private final class PqFsBuilt(idx: Pq4FastScanIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, qid, qvec)
        .drop("qdist")
  }
  /** RQ<L>x4fs (IndexAdditiveQuantizerFastScan, ST_norm_rq2x4). */
  private final class RqFsBuilt(idx: Rq4FastScanIndex, chain: VecTransform)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, qid, qvec)
        .drop("qdist")
  }
  /** IVF<n>,PQ<M>x4fs (IndexIVFPQFastScan, non-residual). */
  private final class IvfPqFsBuilt(idx: IvfPq4FastScanIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np))).drop("qdist")
    }
  }
  /** IVF<n>,PQ<M>x4fsr (IndexIVFPQFastScan, by_residual = true). */
  private final class IvfPqFsRBuilt(val idx: IvfPq4FastScanRIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** IVF<n>,RQ<L>x4fsr (IndexIVFAdditiveQuantizerFastScan,
    * by_residual = true — residual codes + full-reconstruction-norm
    * 2x4 codec, one LUT per query + per-probe scalar bias). */
  private final class IvfRqFsRBuilt(val idx: IvfRq4FastScanRIndex,
      chain: VecTransform, graph: Option[CoarseGraphSpec] = None)
      extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np)))
    }
  }
  /** IVF<n>,RQ<L>x4fs (IndexIVFAdditiveQuantizerFastScan, non-residual). */
  private final class IvfRqFsBuilt(idx: IvfRq4FastScanIndex, chain: VecTransform,
      graph: Option[CoarseGraphSpec] = None) extends Built {
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) = {
      val np = math.max(nprobe, 1)
      idx.search(q.withColumn(qvec, chain.applyCol(col(qvec))), k, np,
        qid, qvec, coarse = graph.flatMap(_.at(np))).drop("qdist")
    }
  }

  /** IndexHNSW2Level (IndexHNSW.h:179): per-partition HNSW shards
    * over an Index2Layer's decoded storage. */
  private final class Hnsw2LevelBuilt(recon: DataFrame, chain: VecTransform,
      m: Int, release: () => Unit = () => ()) extends Built {
    /** Release the backing 2-layer codes cache. */
    private[IndexFactory] def close0(): Unit = release()
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedHnsw.knnJoin(
        q.withColumn(qvec, chain.applyCol(col(qvec))), recon, k,
        m = m, efSearch = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }

  /** Per-partition HNSW shards over Flat storage (HNSW<M>[,Flat],
    * index_factory.cpp HNSW grammar; search via PartitionedHnsw). */
  private final class HnswBuilt(base: DataFrame, chain: VecTransform, m: Int)
      extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"HNSW$m,Flat") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedHnsw.knnJoin(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k,
        m = m, efSearch = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }
  /** Per-partition HNSW shards over SQ8 code storage (HNSW<M>,SQ8 —
    * IndexHNSWSQ, faiss/IndexHNSW.h:168). */
  private final class HnswSqBuilt(base: DataFrame, chain: VecTransform, m: Int)
      extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"HNSW$m,SQ8") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedHnsw.knnJoinSq(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k,
        m = m, efSearch = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }
  /** Per-partition HNSW shards over PQ code storage (HNSW<M>,PQ<m> —
    * IndexHNSWPQ, faiss/IndexHNSW.h:152). */
  private final class HnswPqBuilt(base: DataFrame, chain: VecTransform,
      m: Int, model: graft.index.PqModel) extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"HNSW$m,PQ${model.m}x${model.ksub}") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedHnsw.knnJoinPq(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k, model,
        m = m, efSearch = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }
  /** Per-partition NSG shards over Flat storage (NSG<R>[,Flat]). */
  private final class NsgBuilt(base: DataFrame, chain: VecTransform, r: Int)
      extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"NSG$r,Flat") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedNsg.knnJoin(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k,
        r = r, searchL = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }
  /** Per-partition NSG shards over SQ8 code storage (NSG<R>,SQ8 —
    * IndexNSGSQ, faiss/IndexNSG.h:91). */
  private final class NsgSqBuilt(base: DataFrame, chain: VecTransform, r: Int)
      extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"NSG$r,SQ8") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedNsg.knnJoinSq(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k,
        r = r, searchL = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }
  /** Per-partition NSG shards over PQ code storage (NSG<R>,PQ<m> —
    * IndexNSGPQ, faiss/IndexNSG.h:83). */
  private final class NsgPqBuilt(base: DataFrame, chain: VecTransform,
      r: Int, model: graft.index.PqModel) extends Built {
    override private[index] def structuralDesc: Option[String] =
      if (noChain(chain)) Some(s"NSG$r,PQ${model.m}x${model.ksub}") else None
    def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qvec: String) =
      graft.knn.PartitionedNsg.knnJoinPq(
        q.withColumn(qvec, chain.applyCol(col(qvec))), base, k, model,
        r = r, searchL = math.max(96, 4 * k), queryId = qid, queryVec = qvec)
  }

  /** `IVF<n>_{HNSW,NSG}<deg>,<code>` — one dispatch for both graph
    * coarse quantizers over the codes they compose with (the trained
    * index is IDENTICAL to the exact-coarse `IVF<n>,<code>` form;
    * only search-time probe selection changes, so every code route
    * reuses its plain builder). */
  /** Stored-norm byte width of an `_N<norm>` clause. */
  private def aqNormBytes(st: String): Int = st match {
    case "float" => 4
    case "none" => 0 // ST_LUT_nonorm stores NO norm term
    case "qint8" | "cqint8" => 1
    case "rq2x4" | "lsq2x4" => 1 // two 4-bit scalar-RQ nibbles
    case _ => 1 // qint4/cqint4: rounded up from the half byte
  }

  /** Quantized-norm column for a cached table carrying `normsq` —
    * the ST_norm_* codec selection shared by the flat `_N` routes
    * (RQ/LSQ and the product forms) and the IVF-prefixed clause. */
  private def normDecodeCol(withNormsq: DataFrame, st: String,
      seed: Long): Column = st match {
    case "float" => col("normsq")
    case "qint8" | "qint4" =>
      val (nmin, nmax) = RqNorms.range(withNormsq, "normsq")
      RqNorms.qintDecode(col("normsq"),
        if (st == "qint8") 256 else 16, nmin, nmax)
    case "cqint8" | "cqint4" =>
      RqNorms.cqDecode(col("normsq"), RqNorms.cqCentroids(withNormsq,
        "normsq", if (st == "cqint8") 256 else 16))
    case "rq2x4" =>
      // greedy 2-level 1-D assign (the 4fs family carries its
      // packed-LUT twin)
      val cb = RqNorms.norm2Codebooks(withNormsq, "normsq", seed)
      RqNorms.norm2Decode(RqNorms.rq2EncodeCol(col("normsq"), cb), cb)
    case "lsq2x4" =>
      // LSQ-refined codebooks + exact joint assign
      val cb = RqNorms.norm2Codebooks(withNormsq, "normsq", seed, lsqIters = 3)
      RqNorms.norm2Decode(RqNorms.lsq2EncodeCol(col("normsq"), cb), cb)
    case other => throw new IllegalArgumentException(
      s"stored-norm codec must be float/qint/cqint/rq2x4/lsq2x4 " +
      s"(nonorm routes never reach here), got '$other'")
  }

  /** Shared tail of the flat `_N<norm>` routes: encode, store the
    * reconstruction norm (unless nonorm), decode it through the codec,
    * cache the FINAL scanned table (Dataset.unpersist only uncaches a
    * plan that sameResults the cached root — code-review r12), wrap in
    * the LUT-scan Built. `model` may be a zero-padded effective
    * product model (its decode/LUT distribute over the padding). */
  private def aqNormLut(data: DataFrame, chain: VecTransform,
      model: RqModel, codesCol: Column, st: String, seed: Long): Built =
    if (st == "none") {
      // ST_LUT_nonorm: the norm is never stored (or computed) — cache
      // the bare codes projection itself so close0's unpersist
      // releases exactly the cached plan
      val codes0 = data.select(col("id"), codesCol.as("codes")).cache()
      new RqLutBuilt(model, codes0, chain, nonorm = true)
    } else {
      val codes0 = data.select(col("id"), codesCol.as("codes"))
        .withColumn("normsq", aggregate(
          model.decodeCol(col("codes")).cast("array<double>"),
          lit(0.0), (a, x) => a + x * x))
        .cache()
      val codesNq = codes0
        .withColumn("nq", normDecodeCol(codes0, st, seed))
        .drop("normsq").cache()
      codesNq.count()
      codes0.unpersist(blocking = false)
      new RqLutBuilt(model, codesNq, chain)
    }

  /** Shared builder of the IVF-prefixed `_N<norm>` clause (see
    * [[IvfRqNormBuilt]]): residual-AQ build + add-time norm compute +
    * the flat route's [[RqNorms]] codec training over the RESIDUAL
    * reconstruction norms. */
  /** Residual-AQ IVF build over any of the four AQ families: nsplit=1
    * = the plain RQ/LSQ lists (IvfRq.build); nsplit>1 = the product
    * forms through the zero-padded effective model — per-split
    * residual encode, decode/LUT unchanged (the fast-scan closure's
    * trick applied to the decompress/LUT scans). */
  private def buildIvfAq(data: DataFrame, nlist: Int, nsplit: Int,
      lv: Int, k: Int, beam: Int, icm: Int, niter: Int,
      seed: Long): IvfRqIndex =
    if (nsplit <= 1)
      IvfRq.build(data, "id", "vec", nlist, lv, k,
        niterCoarse = niter, niterRq = niter, beam = beam, icmIters = icm,
        seed = seed)
    else {
      import graft.functions.vec_sub
      val coarse = graft.cluster.KMeans.fit(data, "vec",
        graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
      val centDf = Probes.centroidsDf(data.sparkSession, coarse.centroids)
      val assigned = coarse.assign(data, "vec")
        .join(broadcast(centDf), "list_no")
        .select(col("id"), col("list_no"),
          vec_sub(col("vec"), col("centroid")).as("res"))
        .cache()
      try {
        val prq = Prq.train(assigned.select(col("res")), "res", nsplit,
          lv, k, niter = niter, seed = seed, beam = beam)
        val codes = assigned.select(col("id"), col("list_no"),
          prq.encodeCol(col("res"), beam, icm).as("code")).cache()
        codes.count()
        new IvfRqIndex(nlist, coarse.centroids,
          Rq4FastScanIndex.effectiveModel(prq), codes)
      } finally assigned.unpersist()
    }

  private def ivfAqNorm(data: DataFrame, chain: VecTransform, nlist: Int,
      fam: String, lv: Int, nb: Int, st: String, niter: Int, seed: Long,
      graph: Option[CoarseGraphSpec] = None, nsplit: Int = 1): Built = {
    val (beam, icm) =
      if (fam == "RQ" || fam == "PRQ") (2, 1) else (1, 3)
    val idx = buildIvfAq(data, nlist, nsplit, lv, 1 << nb, beam, icm,
      niter, seed)
    if (st == "none")
      // ST_LUT_nonorm: no norm stored or computed — the scan reads the
      // build's own cached codes table directly
      new IvfRqNormBuilt(idx, idx.codes, nonorm = true, chain, graph)
    else {
      val withN = idx.codes.withColumn("normsq", aggregate(
        idx.model.decodeCol(col("code")).cast("array<double>"),
        lit(0.0), (a, x) => a + x * x)).cache()
      // cache + materialize the FINAL scanned table, then release the
      // stats intermediate (Dataset.unpersist only uncaches a plan
      // that sameResults the cached root — the flat _N route's r12
      // code-review fix applies here verbatim); the codec selection is
      // the shared normDecodeCol, so the flat and IVF routes cannot
      // drift (review r13)
      val codesNq = withN
        .withColumn("nq", normDecodeCol(withN, st, seed)).drop("normsq").cache()
      codesNq.count()
      withN.unpersist(blocking = false)
      new IvfRqNormBuilt(idx, codesNq, nonorm = false, chain, graph)
    }
  }

  private def graphIvf(data: DataFrame, chain: VecTransform, nlist: Int,
      spec: CoarseGraphSpec, code: String, niter: Int, seed: Long,
      desc: String): Built = code match {
    case "Flat" =>
      new IvfGraphBuilt(IvfIndex.build(data, "id", "vec", nlist,
        niter = niter, seed = seed), chain, spec)
    case PqFs(m, _) =>
      new IvfPqFsBuilt(IvfPq4FastScanIndex.build(data, "id", "vec",
        nlist, m.toInt, niterCoarse = niter, niterPq = niter,
        seed = seed), chain, graph = Some(spec))
    case PqFsR(m, _) =>
      new IvfPqFsRBuilt(IvfPq4FastScanRIndex.build(data, "id", "vec",
        nlist, m.toInt, niterCoarse = niter, niterPq = niter,
        seed = seed), chain, graph = Some(spec))
    case "SQ8" | "SQ4" | "SQ6" | "SQfp16" =>
      new IvfSqBuilt(IvfSqIndex.build(data, "id", "vec", nlist,
        niter = niter, seed = seed, byResidual = true,
        qtype = code.stripPrefix("SQ") match {
          case "fp16" => "fp16"; case w => s"SQ$w" }), chain,
        graph = Some(spec))
    case Pq(m, ks) =>
      new IvfPqBuilt(IvfPqIndex.build(data, "id", "vec", nlist,
        m.toInt, Option(ks).map(_.toInt).getOrElse(16),
        niterCoarse = niter, niterPq = niter, seed = seed), chain,
        graph = Some(spec))
    case RqFsR(fam, lv, _, nt) =>
      new IvfRqFsRBuilt(IvfRq4FastScanRIndex.build(data, "id", "vec",
        nlist, lv.toInt, niterCoarse = niter, niter = niter, seed = seed,
        icmIters = if (fam == "LSQ") 3 else 0,
        normType = Option(nt).getOrElse("rq2x4")), chain, graph = Some(spec))
    case RqFs(fam, lv, _, nt) =>
      new IvfRqFsBuilt(IvfRq4FastScanIndex.build(data, "id", "vec",
        nlist, lv.toInt, niterCoarse = niter, niter = niter, seed = seed,
        icmIters = if (fam == "LSQ") 3 else 0,
        normType = Option(nt).getOrElse("rq2x4")), chain, graph = Some(spec))
    case PrqFsR(fam, ns, lv, _, nt) =>
      new IvfRqFsRBuilt(IvfRq4FastScanRIndex.build(data, "id", "vec",
        nlist, lv.toInt, niterCoarse = niter, niter = niter, seed = seed,
        icmIters = if (fam == "PLSQ") 3 else 0, nsplit = ns.toInt,
        normType = Option(nt).getOrElse("rq2x4")), chain, graph = Some(spec))
    case PrqFs(fam, ns, lv, _, nt) =>
      new IvfRqFsBuilt(IvfRq4FastScanIndex.build(data, "id", "vec",
        nlist, lv.toInt, niterCoarse = niter, niter = niter, seed = seed,
        icmIters = if (fam == "PLSQ") 3 else 0, nsplit = ns.toInt,
        normType = Option(nt).getOrElse("rq2x4")), chain, graph = Some(spec))
    case Sh(nbit, period, tt) =>
      val thresholdType = tt match {
        case "g" => "global"
        case "c" => "centroid"
        case _ => "median"
      }
      new SpectralBuilt(IvfSpectralHash.build(data, "id", "vec",
        nlist, nbit.toInt, period.toDouble, thresholdType,
        niter = niter, seed = seed), chain, graph = Some(spec))
    case RqTok(lv, nb) =>
      new IvfRqBuilt(IvfRq.build(data, "id", "vec", nlist,
        lv.toInt, 1 << nb.toInt, niterCoarse = niter, niterRq = niter,
        beam = 2, icmIters = 1, seed = seed), chain, graph = Some(spec))
    case LsqTok(lv, nb) =>
      new IvfRqBuilt(IvfRq.build(data, "id", "vec", nlist,
        lv.toInt, 1 << nb.toInt, niterCoarse = niter, niterRq = niter,
        beam = 1, icmIters = 3, seed = seed), chain, graph = Some(spec))
    case AqNorm(fam, lv, nb, st) =>
      ivfAqNorm(data, chain, nlist, fam, lv.toInt, nb.toInt, st,
        niter, seed, graph = Some(spec))
    case PrqTok(ns, lv, nb) =>
      new IvfRqBuilt(buildIvfAq(data, nlist, ns.toInt, lv.toInt,
        1 << nb.toInt, beam = 2, icm = 1, niter = niter, seed = seed),
        chain, graph = Some(spec))
    case PlsqTok(ns, lv, nb) =>
      new IvfRqBuilt(buildIvfAq(data, nlist, ns.toInt, lv.toInt,
        1 << nb.toInt, beam = 1, icm = 3, niter = niter, seed = seed),
        chain, graph = Some(spec))
    case PAqNorm(fam, ns, lv, nb, st) =>
      ivfAqNorm(data, chain, nlist, fam, lv.toInt, nb.toInt, st,
        niter, seed, graph = Some(spec), nsplit = ns.toInt)
    case other => throw new IllegalArgumentException(
      s"unsupported graph-coarse IVF code '$other' in '$desc'")
  }

  /** `IVF<n>(PQ<m>x<k>),Flat` — IndexPQ as the coarse quantizer:
    * k-means centroids as usual, then a driver-trained PQ over the
    * centroid table ([[graft.core.CoarsePq]]) ranks cells by ADC for
    * BOTH add-time assignment (the reference's
    * quantizer->assign in IndexIVF::add_core) and search-time probe
    * selection — so the invlists reflect the same approximate
    * quantizer the probes use. */
  private def pqAdcIvf(data: DataFrame, chain: VecTransform, nlist: Int,
      m: Int, ksub: Int, niter: Int, seed: Long): Built = {
    import org.apache.spark.sql.graft.shim
    val km = graft.cluster.KMeans.fit(data, "vec",
      graft.cluster.KMeans.Params(k = nlist, niter = niter, seed = seed))
    val cents = km.centroids
    val (cb, codes) = graft.core.CoarsePq.model(cents, m, ksub)
    val inv = data.select(col("id"), col("vec"),
      element_at(shim.col(graft.core.NearestCentroidsAdc(
        shim.expr(col("vec")), cb, codes, 1)), 1)
        .getField("list_no").as("list_no"))
    new IvfGraphBuilt(new IvfIndex(cents(0).length, "l2sq", nlist, cents,
      inv), chain, PqAdcSpec(m, ksub))
  }

  /** reverse_index_factory (contrib/factory_tools.py:76): derive the
    * factory string back from a trained index's STRUCTURE — the
    * introspection surface benchmark tooling uses to label operating
    * points. Covers the core index families; a Built keeps its
    * original string on `description` already, so this exists for
    * indexes constructed directly. */
  def reverseIndexFactory(idx: Any): String = idx match {
    case i: IvfIndex =>
      // the factory grammar carries no metric (a ctor arg in the
      // reference too) and always builds l2sq — refuse rather than
      // mislabel an ip/cosine index
      require(i.metric == "l2sq",
        s"factory strings denote l2sq indexes; got metric '${i.metric}'")
      s"IVF${i.nlist},Flat"
    case i: IvfPqIndex => s"IVF${i.nlist},PQ${i.model.m}x${i.model.ksub}"
    case i: IvfPqrIndex =>
      s"IVF${i.nlist},PQ${i.model1.m}+${i.model2.m}"
    case i: IvfSqIndex =>
      // the IVF,SQ grammar always means by_residual = true (the
      // reference ctor default); a non-residual build has no spelling
      require(i.byResidual,
        "IVF,SQ factory strings denote by_residual = true; a " +
        "non-residual IVF-SQ has no factory spelling")
      val w = if (i.qtype == "fp16") "SQfp16" else i.qtype
      s"IVF${i.nlist},$w"
    case i: PqIndex => s"PQ${i.model.m}x${i.model.ksub}"
    case i: SqIndex => if (i.qtype == "fp16") "SQfp16" else i.qtype
    case i: TwoLayerIndex => s"Residual${i.nlist},PQ${i.model.m}x${i.model.ksub}"
    case i: MiqTwoLayerIndex =>
      val nbit = Integer.numberOfTrailingZeros(i.ksub)
      s"Residual${i.mCoarse}x$nbit,PQ${i.model.m}x${i.model.ksub}"
    case i: ImiPqIndex =>
      val b = Integer.numberOfTrailingZeros(i.ksub)
      s"IMI2x$b,PQ${i.model.m}x${i.model.ksub}"
    case i: ImiSqIndex =>
      require(i.byResidual,
        "IMI2x<b>,SQ factory strings denote by_residual = true")
      val b = Integer.numberOfTrailingZeros(i.ksub)
      val w = if (i.qtype == "fp16") "SQfp16" else i.qtype
      s"IMI2x$b,$w"
    case i: ImiIndex =>
      s"IMI2x${Integer.numberOfTrailingZeros(i.ksub)},Flat"
    case i: BinaryIvfIndex => s"BIVF${i.nlist}"
    // ---- persisted-family cases (round 16): every family IndexIO can
    // save/load reverses from its trained state, so a RELOADED index
    // can be labeled (IndexIO.reverseFactory). Where our state model
    // deliberately bakes a training distinction the reference keeps as
    // a C++ type (RQ vs LSQ codebooks are just codebooks here; a
    // product AQ persists its zero-padded flat-equivalent model), the
    // emitted spelling labels the state the index actually scans with.
    case i: Pq4FastScanIndex => s"PQ${i.model.m}x4fs"
    case i: IvfPq4FastScanIndex => s"IVF${i.nlist},PQ${i.model.m}x4fs"
    case i: IvfPq4FastScanRIndex => s"IVF${i.nlist},PQ${i.model.m}x4fsr"
    case i: Rq4FastScanIndex => s"RQ${i.model.levels}x4fs"
    case i: IvfRq4FastScanIndex => s"IVF${i.nlist},RQ${i.model.levels}x4fs"
    case i: IvfRq4FastScanRIndex => s"IVF${i.nlist},RQ${i.model.levels}x4fsr"
    case i: IvfRqNormIndex =>
      // only _Nnone is recoverable: the other norm codecs' trained
      // state is deliberately baked into the DECODED stored norms
      // (IvfRqNormIndex scaladoc) — qint8/qint4/cqint/float decoded
      // values are indistinguishable by design, so labeling one would
      // be a guess. The reference can reverse because write_index
      // stores search_type; our layout trades that tag for a
      // retrain-free bit-identical reload.
      require(i.nonorm, "cannot derive the _N<norm> suffix from decoded " +
        "stored norms (the codec is baked into the values); only the " +
        "_Nnone form reverses")
      s"IVF${i.idx.nlist},RQ${i.idx.model.levels}x${aqNbits(i.idx.model.k)}_Nnone"
    case i: IvfRqIndex =>
      s"IVF${i.nlist},RQ${i.model.levels}x${aqNbits(i.model.k)}"
    case i: LshIndex =>
      s"LSH${if (i.rot != null) "r" else ""}${if (i.thresholds.isDefined) "t" else ""}"
    case i: LatticeIndex =>
      s"ZnLattice${i.codec.nsq}x${i.codec.r2}_${i.codec.scaleNbit}"
    case i: MinMaxIndex =>
      s"${if (i.fp16Coeffs) "MinMaxFP16" else "MinMax"},${i.inner}"
    case i: RefineFlatIndex => s"${reverseIndexFactory(i.inner)},RFlat"
    case i: BinaryHashIndex => s"BHash${i.b}"
    case i: BinaryMultiHashIndex => s"BHash${i.nhash}x${i.b}"
    case i: IvfSpectralHashIndex =>
      // per-list thresholds are all zero ONLY under Thresh_global (the
      // 'g' spelling); centroid/median/centroid_half train real values
      // whose derivation is not recorded (the reference's reverse
      // doesn't cover IndexIVFSpectralHash at all)
      require(i.thresholds.forall(_.forall(_ == 0f)),
        "trained per-list spectral-hash thresholds do not record their " +
        "derivation (centroid/median/centroid_half); only Thresh_global " +
        "reverses")
      val p = if (i.period == math.rint(i.period)) i.period.toLong.toString
        else i.period.toString
      s"IVF${i.nlist},SH${i.nbit}x${p}g"
    // graph-shard wrappers reverse from live structure (degree +
    // storage-code fields — the downcast walk); chain-prefixed and
    // composite wrappers carry their spelling in `description`
    case b: Built =>
      b.structuralDesc.orElse(Option(b.description).filter(_.nonEmpty))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot derive a factory string for ${b.getClass.getSimpleName}"))
    case other => throw new IllegalArgumentException(
      s"cannot derive a factory string for ${other.getClass.getSimpleName}")
  }

  /** AQ token nbits from the per-level codebook size (k = 2^nbits). */
  private def aqNbits(k: Int): Int = {
    require(Integer.bitCount(k) == 1, s"AQ k=$k is not a power of 2")
    Integer.numberOfTrailingZeros(k)
  }

  /** Train the whole pipeline on `df` (id, vec) and return a
    * searchable index. */
  def build(df: DataFrame, idCol: String, vecCol: String, desc: String,
      niter: Int = 4, seed: Long = 1234L): Built = {
    // IDMap / IDMap2 prefixes (index_factory.cpp:742,750) are no-ops
    // here: every index stores arbitrary 64-bit ids natively (SURVEY
    // §2 row 46 — id-as-column), and reconstruction-by-id (IDMap2's
    // reason to exist) is a plain join. Accepted for factory-string
    // compatibility, stripped before parsing.
    val tokens = splitTop(desc).map {
      case PqNp(t) => t
      // LSCQ = the reference's alternative LSQ spelling
      // (index_factory.cpp:576 "(LSQ|LSCQ)")
      case t if t.startsWith("LSCQ") => "LSQ" + t.stripPrefix("LSCQ")
      case t => t
    }
      .filterNot(t => t == "IDMap" || t == "IDMap2").toList
    require(tokens.nonEmpty, s"empty factory string '$desc'")

    var data = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val transforms = Vector.newBuilder[VecTransform]
    var rest = tokens
    var done = false
    while (!done) rest match {
      case Pca(w, r, dOut) :: tl =>
        val t = Transforms.pca(data, "vec", dOut.toInt, whiten = w == "W")
        transforms += t
        data = data.withColumn("vec", t.applyCol(col("vec")))
        if (r == "R") {
          // PCAR (PCAMatrix random_rotation): a random rotation in the
          // REDUCED space after the projection, balancing variance
          // across the kept components
          val rr = Transforms.randomRotation(dOut.toInt, seed)
          transforms += rr
          data = data.withColumn("vec", rr.applyCol(col("vec")))
        }
        rest = tl
      case Rr(dd) :: tl =>
        val n = if (dd.nonEmpty) dd.toInt
          else data.select(size(col("vec"))).first().getInt(0)
        val t = Transforms.randomRotation(n, seed)
        transforms += t
        data = data.withColumn("vec", t.applyCol(col("vec")))
        rest = tl
      case ItqTok(dd) :: tl =>
        val n = if (dd.nonEmpty) dd.toInt
          else data.select(size(col("vec"))).first().getInt(0)
        val t = graft.transform.Opq.trainItq(data, "vec", n, seed = seed)
        transforms += t
        data = data.withColumn("vec", t.applyCol(col("vec")))
        rest = tl
      case ("L2norm" | "L2Norm") :: tl =>
        transforms += Normalization
        data = data.withColumn("vec", Normalization.applyCol(col("vec")))
        rest = tl
      case "Center" :: tl =>
        val t = Centering.train(data, "vec")
        transforms += t
        data = data.withColumn("vec", t.applyCol(col("vec")))
        rest = tl
      case PadTok(dOut) :: tl =>
        val dIn = data.select(size(col("vec"))).first().getInt(0)
        val n = math.max(dOut.toInt, dIn)
        val t = Remap(Array.tabulate(n)(i => if (i < dIn) i else -1))
        transforms += t
        data = data.withColumn("vec", t.applyCol(col("vec")))
        rest = tl
      case OpqTok(m, dOut) :: tl =>
        // OPQ<M>_<d>: the reference's dimension-changing OPQMatrix
        // PCA-initializes when d_out < d (VectorTransform.cpp
        // OPQMatrix::train) — here the explicit composition PCA(d_out)
        // then OPQ rotation in the reduced space
        if (dOut != null) {
          val p = Transforms.pca(data, "vec", dOut.toInt)
          transforms += p
          data = data.withColumn("vec", p.applyCol(col("vec")))
        }
        val (rot, _) = graft.transform.Opq.trainOpq(data, "vec", m.toInt,
          ksub = 16, outerIters = 2, pqIters = niter, seed = seed)
        transforms += rot
        data = data.withColumn("vec", rot.applyCol(col("vec")))
        rest = tl
      case _ => done = true
    }
    val chain = Chain(transforms.result())
    data = data.cache()

    // ",RFlat" / ",Refine(<code>)" suffix = re-rank stage
    // (IndexRefineFlat / IndexRefine, faiss/IndexRefine.h:17,69;
    // factory recursion index_factory.cpp:664). RFlat re-ranks on the
    // exact vectors; Refine(<code>) re-ranks on the refine codec's
    // RECONSTRUCTION — the reference's two-index composition, where
    // the refine index is usually a cheaper-but-better code than the
    // coarse stage (e.g. "PQ8x4fs,Refine(SQfp16)"). Single-token
    // refine descriptions only (the comma-split parse).
    val (core, refineBase) = rest.lastOption match {
      case Some("RFlat") => (rest.dropRight(1), Some(data))
      case Some(RefineTok(inner)) =>
        (rest.dropRight(1), Some(refineDecoded(data, inner, niter, seed)))
      case _ => (rest, None)
    }

    val built = core match {
      case IvfRcqTok(nlist, lv, nb) :: "Flat" :: Nil =>
        // IVF<nlist>(RCQ<levels>x<bits>),Flat: nlist is redundant in
        // the grammar (= 2^(levels*bits)) but must agree, as in the
        // reference parser
        require(nlist.toInt == (1 << (lv.toInt * nb.toInt)),
          s"IVF$nlist(RCQ${lv}x$nb): nlist must equal 2^(${lv}*$nb)")
        new IvfRcqBuilt(IvfRcq.build(data, "id", "vec", lv.toInt, nb.toInt,
          beam = 4, niter = niter, seed = seed), chain)
      // IVF<n>_HNSW<m>,<code> / IVF<n>_NSG<R>,<code>: the reference
      // parses the coarse quantizer independently of the code
      // (index_factory.cpp:253-262 → parse_IndexIVF :293-430), so a
      // graph coarse composes with any IVF code —
      // `IVF65536_HNSW32,PQ16` is THE canonical billion-scale recipe
      // (benchs/bench_all_ivf). The parsed degree reaches the
      // per-executor centroid graph; the walk budget follows the
      // max(32, 4·nprobe) convention and degenerates to exact on
      // small nlist (the sidecar-oracle gate).
      case IvfHnsw(nlist, hm) :: code :: Nil =>
        graphIvf(data, chain, nlist.toInt,
          HnswSpec(if (hm.isEmpty) 32 else hm.toInt), code, niter, seed, desc)
      case IvfNsg(nlist, r) :: code :: Nil =>
        graphIvf(data, chain, nlist.toInt, NsgSpec(r.toInt), code, niter,
          seed, desc)
      // IVF<n>(<sub>),<code>: the generic parenthesized coarse
      // (index_factory.cpp:263-267,719) — the sub-description becomes
      // the quantizer. Flat ≡ the exact argmin; HNSW/NSG are the
      // underscore forms' aliases; PQ<m>[x<k>] is an IndexPQ
      // quantizer: BOTH add-time assignment and search-time probes
      // rank cells by ADC over a driver-trained PQ of the centroids
      // (IndexIVF::add_core assigns through the quantizer), so the
      // oracle replays encode/LUT/ADC on each side. The RCQ form is
      // matched above (its quantizer trains on data, not centroids).
      case IvfParen(nlist, sub) :: code :: Nil => sub match {
        // IVF<n2>[,Flat] sub-index: two-level coarse assignment — the
        // big-nlist recipe where even the graph walk's per-query cost
        // matters (the quantizer scans ~nprobe2/nlist2 of the
        // centroid table)
        case IvfSub(n2) =>
          graphIvf(data, chain, nlist.toInt, Ivf2Spec(n2.toInt), code,
            niter, seed, desc)
        case "Flat" =>
          graphIvf(data, chain, nlist.toInt, ExactSpec, code, niter, seed, desc)
        case HnswSub(hm) =>
          graphIvf(data, chain, nlist.toInt,
            HnswSpec(if (hm.isEmpty) 32 else hm.toInt), code, niter, seed, desc)
        case NsgSub(r) =>
          graphIvf(data, chain, nlist.toInt, NsgSpec(r.toInt), code, niter,
            seed, desc)
        case Pq(m, ks) =>
          // IVF<n>(PQ<m>),<code>: the quantizer's LOSSY reconstruct
          // becomes the cell centroid the residuals subtract
          // (IndexIVF::add_core assigns through the quantizer;
          // reconstruct = PQ decode). ADC to a code is EXACTLY the
          // exact squared L2 to its decode, so the code indexes build
          // over the DECODED centroid table — one computation shared
          // by every composition.
          lazy val cdec = {
            val km = graft.cluster.KMeans.fit(data, "vec",
              graft.cluster.KMeans.Params(k = nlist.toInt, niter = niter,
                seed = seed))
            graft.core.CoarsePq.decodedCentroids(
              graft.core.CoarsePq.model(km.centroids, m.toInt,
                Option(ks).map(_.toInt).getOrElse(16)))
          }
          code match {
            case "Flat" =>
              pqAdcIvf(data, chain, nlist.toInt, m.toInt,
                Option(ks).map(_.toInt).getOrElse(16), niter, seed)
            case Pq(m2, ks2) =>
              new IvfPqBuilt(IvfPqIndex.build(data, "id", "vec", nlist.toInt,
                m2.toInt, Option(ks2).map(_.toInt).getOrElse(16),
                niterCoarse = niter, niterPq = niter, seed = seed,
                centroids0 = cdec), chain)
            case sq @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16") =>
              new IvfSqBuilt(IvfSqIndex.build(data, "id", "vec", nlist.toInt,
                niter = niter, seed = seed, byResidual = true,
                qtype = sq.stripPrefix("SQ") match {
                  case "fp16" => "fp16"; case w => s"SQ$w" },
                centroids0 = cdec), chain)
            case other => throw new IllegalArgumentException(
              s"IVF$nlist(PQ...) composes with Flat, PQ or SQ codes; " +
              s"got '$other' in '$desc'")
          }
        // IVF<n>(SQ<w>),<code>: an IndexScalarQuantizer quantizer —
        // it assigns by asymmetric distance query→decode(code), which
        // IS the exact L2 to the SQ-decoded centroid, so the code
        // indexes build over the decoded table (CoarseSq — the same
        // decoded-table identity the PQ sub-index uses, with the SQ
        // range trained on the centroid set per train_q1).
        case sqsub @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16") =>
          lazy val cdec = {
            val km = graft.cluster.KMeans.fit(data, "vec",
              graft.cluster.KMeans.Params(k = nlist.toInt, niter = niter,
                seed = seed))
            graft.core.CoarseSq.decodedCentroids(km.centroids,
              if (sqsub == "SQfp16") "fp16" else sqsub)
          }
          code match {
            case "Flat" =>
              new IvfBuilt(IvfIndex.build(data, "id", "vec", nlist.toInt,
                niter = niter, seed = seed, centroids0 = cdec), chain)
            case Pq(m2, ks2) =>
              new IvfPqBuilt(IvfPqIndex.build(data, "id", "vec", nlist.toInt,
                m2.toInt, Option(ks2).map(_.toInt).getOrElse(16),
                niterCoarse = niter, niterPq = niter, seed = seed,
                centroids0 = cdec), chain)
            case sq2 @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16") =>
              new IvfSqBuilt(IvfSqIndex.build(data, "id", "vec", nlist.toInt,
                niter = niter, seed = seed, byResidual = true,
                qtype = if (sq2 == "SQfp16") "fp16" else sq2,
                centroids0 = cdec), chain)
            case other => throw new IllegalArgumentException(
              s"IVF$nlist(SQ...) composes with Flat, PQ or SQ codes; " +
              s"got '$other' in '$desc'")
          }
        // IVF<n>(PCA<k>,Flat),Flat: transform-prefixed sub-index —
        // the quantizer is an IndexPreTransform(PCAMatrix, IndexFlat)
        // trained on the cluster centers (train_q1), so assignment
        // AND probe selection rank by L2 in the transformed space
        // while stored vectors and result distances stay original.
        case PcaSub(_) | RrSub(_) =>
          require(code == "Flat",
            s"IVF$nlist(<transform>,Flat) carries the Flat code; got '$code' in '$desc'")
          val km = graft.cluster.KMeans.fit(data, "vec",
            graft.cluster.KMeans.Params(k = nlist.toInt, niter = niter,
              seed = seed))
          val dIn = km.centroids.head.length
          val lin = sub match {
            case PcaSub(kk) =>
              // PCAMatrix asserts d_out <= d_in; 0 would make every
              // transformed distance 0 (degenerate assignment)
              require(kk.toInt > 0 && kk.toInt <= dIn,
                s"IVF$nlist(PCA$kk,Flat): d_out must be in [1, $dIn]")
              graft.transform.CoarseTransform.pcaOverCentroids(
                data.sparkSession, km.centroids, kk.toInt)
            case RrSub(kk) =>
              require(kk.toInt > 0 && kk.toInt <= dIn,
                s"IVF$nlist(RR$kk,Flat): d_out must be in [1, $dIn]")
              // seeded dim-reducing rotation (RandomRotationMatrix):
              // data-independent, the first k rows of a d-orthonormal
              Linear(Transforms.randomRotation(dIn, seed).a.take(kk.toInt))
          }
          val tCents = km.centroids.map(
            graft.transform.CoarseTransform.applyLin(lin, _))
          val assigned = data
            .withColumn("_tv", lin.applyCol(col("vec")))
            .withColumn("_a", shim.col(graft.core.NearestCentroid(
              shim.expr(col("_tv")), tCents, "l2sq")))
            .select(col("id"), col("vec"), col("_a.list_no").as("list_no"))
          new TransformedCoarseBuilt(
            new IvfIndex(km.centroids.head.length, "l2sq", nlist.toInt,
              km.centroids, assigned),
            lin, tCents, chain)
        case other => throw new IllegalArgumentException(
          s"unsupported paren coarse '$other' in '$desc'")
      }
      // IVF<n>,(ITQ|PCA|PCAR)[<b>],SH[<p>][gcm] (index_factory.cpp:398):
      // spectral hash over a trained replacement transform
      case Ivf(nlist) :: ShVt(kind, b) :: ShRef(period, tt) :: Nil =>
        val outdim = if (b.nonEmpty) b.toInt
          else data.select(size(col("vec"))).first().getInt(0)
        val vt = kind match {
          case "ITQ" => graft.transform.Opq.trainItq(data, "vec", outdim)
          case "PCA" => Transforms.pca(data, "vec", outdim)
          case "PCAR" => Transforms.compose(
            Transforms.randomRotation(outdim, seed),
            Transforms.pca(data, "vec", outdim))
        }
        val per = if (period.nonEmpty) period.toDouble else -1e10
        val thresholdType = tt match {
          case "c" => "centroid"
          case "m" => "median"
          case _ => "global" // explicit g or ABSENT: ctor default
        }
        new SpectralBuilt(IvfSpectralHash.build(data, "id", "vec",
          nlist.toInt, outdim, per, thresholdType, niter = niter,
          seed = seed, vt0 = vt), chain)
      case Ivf(nlist) :: code :: Nil => code match {
        case "Flat" =>
          new IvfBuilt(IvfIndex.build(data, "id", "vec", nlist.toInt,
            niter = niter, seed = seed), chain)
        // IVF<n>,FlatDedup (IndexIVFFlatDedup, IndexIVFFlat.h:69):
        // exact-duplicate vectors stored once — one hash shuffle on
        // the vector keeping the smallest id (the instances table of
        // llm/Dedup.exactDedup is the general operator; here only the
        // canonical copies enter the lists, the reference's add
        // semantics)
        case "FlatDedup" =>
          val uniq = data.groupBy(col("vec"))
            .agg(min(col("id")).as("id")).select(col("id"), col("vec"))
          new IvfBuilt(IvfIndex.build(uniq, "id", "vec", nlist.toInt,
            niter = niter, seed = seed), chain)
        // IVF<n>,PQ<M1>+<M2> (IndexIVFPQR, index_factory.cpp:321):
        // residual PQ + second-stage refinement PQ over the first
        // stage's quantization error
        case PqPlus(m1, m2) =>
          new IvfPqrBuilt(IvfPqrIndex.build(data, "id", "vec", nlist.toInt,
            m = m1.toInt, m2 = m2.toInt, ksub = 16,
            niterCoarse = niter, niterPq = niter, seed = seed), chain)
        case PqFs(m, _) =>
          new IvfPqFsBuilt(IvfPq4FastScanIndex.build(data, "id", "vec",
            nlist.toInt, m.toInt, niterCoarse = niter, niterPq = niter,
            seed = seed), chain)
        case PqFsR(m, _) =>
          new IvfPqFsRBuilt(IvfPq4FastScanRIndex.build(data, "id", "vec",
            nlist.toInt, m.toInt, niterCoarse = niter, niterPq = niter,
            seed = seed), chain)
        case RqFsR(fam, lv, _, nt) =>
          new IvfRqFsRBuilt(IvfRq4FastScanRIndex.build(data, "id", "vec",
            nlist.toInt, lv.toInt, niterCoarse = niter, niter = niter,
            seed = seed, icmIters = if (fam == "LSQ") 3 else 0,
            normType = Option(nt).getOrElse("rq2x4")), chain)
        case RqFs(fam, lv, _, nt) =>
          new IvfRqFsBuilt(IvfRq4FastScanIndex.build(data, "id", "vec",
            nlist.toInt, lv.toInt, niterCoarse = niter, niter = niter,
            seed = seed, icmIters = if (fam == "LSQ") 3 else 0,
            normType = Option(nt).getOrElse("rq2x4")), chain)
        case PrqFsR(fam, ns, lv, _, nt) =>
          new IvfRqFsRBuilt(IvfRq4FastScanRIndex.build(data, "id", "vec",
            nlist.toInt, lv.toInt, niterCoarse = niter, niter = niter,
            seed = seed, icmIters = if (fam == "PLSQ") 3 else 0,
            nsplit = ns.toInt,
            normType = Option(nt).getOrElse("rq2x4")), chain)
        case PrqFs(fam, ns, lv, _, nt) =>
          new IvfRqFsBuilt(IvfRq4FastScanIndex.build(data, "id", "vec",
            nlist.toInt, lv.toInt, niterCoarse = niter, niter = niter,
            seed = seed, icmIters = if (fam == "PLSQ") 3 else 0,
            nsplit = ns.toInt,
            normType = Option(nt).getOrElse("rq2x4")), chain)
        case "SQ8" | "SQ4" | "SQ6" | "SQfp16" =>
          // IVF<n>,SQ{8,4,6,fp16} (IndexIVFScalarQuantizer widths,
          // index_factory.cpp sq_types). by_residual = true is the
          // reference ctor default (IndexScalarQuantizer.h:74
          // encode_residual = true): the shared range trains over
          // residuals, which concentrate near 0
          new IvfSqBuilt(IvfSqIndex.build(data, "id", "vec", nlist.toInt,
            niter = niter, seed = seed, byResidual = true,
            qtype = code.stripPrefix("SQ") match {
              case "fp16" => "fp16"; case w => s"SQ$w" }), chain)
        case Pq(m, ks) =>
          new IvfPqBuilt(IvfPqIndex.build(data, "id", "vec", nlist.toInt,
            m.toInt, Option(ks).map(_.toInt).getOrElse(16),
            niterCoarse = niter, niterPq = niter, seed = seed), chain)
        case Sh(nbit, period, tt) =>
          val thresholdType = tt match {
            case "g" => "global"
            case "c" => "centroid"
            case _ => "median"
          }
          new SpectralBuilt(IvfSpectralHash.build(data, "id", "vec",
            nlist.toInt, nbit.toInt, period.toDouble, thresholdType,
            niter = niter, seed = seed), chain)
        case RqTok(lv, nb) =>
          // IVF<nlist>,RQ<L>x<nbits> (IndexIVFResidualQuantizer)
          new IvfRqBuilt(IvfRq.build(data, "id", "vec", nlist.toInt,
            lv.toInt, 1 << nb.toInt, niterCoarse = niter, niterRq = niter,
            beam = 2, icmIters = 1, seed = seed), chain)
        case LsqTok(lv, nb) =>
          // IVF<nlist>,LSQ<L>x<nbits> (IndexIVFLocalSearchQuantizer,
          // IndexIVFAdditiveQuantizer.h:77): the same residual AQ
          // lists, encoded by ICM sweeps instead of beam search
          new IvfRqBuilt(IvfRq.build(data, "id", "vec", nlist.toInt,
            lv.toInt, 1 << nb.toInt, niterCoarse = niter, niterRq = niter,
            beam = 1, icmIters = 3, seed = seed), chain)
        // IVF<n>,{RQ|LSQ}<L>x<nb>_N<norm>: the aq_norm clause inside
        // the IVF code token (index_factory.cpp:293-430) — the LUT
        // scan over residual lists with a stored quantized norm
        case AqNorm(fam, lv, nb, st) =>
          ivfAqNorm(data, chain, nlist.toInt, fam, lv.toInt, nb.toInt, st,
            niter, seed)
        // IVF<n>,{PRQ|PLSQ}<ns>x<L>x<nb> (IndexIVFProduct*Quantizer,
        // index_factory.cpp:351, empty norm clause = ST_decompress):
        // per-split residual AQ lists through the effective model
        case PrqTok(ns, lv, nb) =>
          new IvfRqBuilt(buildIvfAq(data, nlist.toInt, ns.toInt, lv.toInt,
            1 << nb.toInt, beam = 2, icm = 1, niter = niter, seed = seed),
            chain)
        case PlsqTok(ns, lv, nb) =>
          new IvfRqBuilt(buildIvfAq(data, nlist.toInt, ns.toInt, lv.toInt,
            1 << nb.toInt, beam = 1, icm = 3, niter = niter, seed = seed),
            chain)
        // ... and with the explicit stored-norm clause
        case PAqNorm(fam, ns, lv, nb, st) =>
          ivfAqNorm(data, chain, nlist.toInt, fam, lv.toInt, nb.toInt, st,
            niter, seed, nsplit = ns.toInt)
        case other => throw new IllegalArgumentException(
          s"unsupported IVF code '$other' in '$desc'")
      }
      // Residual<M>x<nbit>,PQ<m>: 2-layer with a MultiIndexQuantizer
      // first layer (index_factory.cpp:270-278). Same sequential
      // storage as Residual<nlist>, but the cell never materializes a
      // 2^(M*nbit)-row centroid table.
      case ResMiq(mc, nb) :: Pq(m, ks) :: Nil =>
        new MiqTwoLayerBuilt(MiqTwoLayerIndex.build(data, "id", "vec",
          mc.toInt, nb.toInt, m.toInt,
          Option(ks).map(_.toInt).getOrElse(16),
          niterCoarse = niter, niterPq = niter, seed = seed), chain)
      case Res(nlist) :: Pq(m, ks) :: Nil =>
        new TwoLayerBuilt(TwoLayerIndex.build(data, "id", "vec", nlist.toInt,
          m.toInt, Option(ks).map(_.toInt).getOrElse(16),
          niterCoarse = niter, niterPq = niter, seed = seed), chain)
      // reference LSH spelling: nbits = d, optional rotation and
      // trained per-component median thresholds (IndexLSH.cpp:58-97)
      case LshRef(r, t) :: Nil =>
        val dd = data.select(size(col("vec"))).first().getInt(0)
        val rot = if (r == "r") Linear(Transforms.randomRotation(dd, seed).a)
          else null
        val pre = (c: Column) => if (rot != null) rot.applyCol(c) else c
        val th: Option[Array[Double]] =
          if (t == "t") Some(
            data.select(posexplode(pre(col("vec"))).as(Seq("_i", "_x")))
              .groupBy(col("_i"))
              .agg(expr("percentile(_x, 0.5)").as("_m"))
              .orderBy(col("_i")).collect().map(_.getDouble(1)))
          else None
        val codes = data.select(col("id"),
          LshIndex.signBits(rot, th, col("vec")).as("code"))
        new LshBuilt(new LshIndex(rot, th, codes), chain)
      // RQ/LSQ with an explicit stored-norm search type
      // (aq_norm_pattern): flat AQ codes + the quantized-norm LUT scan
      case AqNorm(fam, lv, nb, st) :: Nil =>
        val (beam, icm) = if (fam == "RQ") (2, 1) else (1, 3)
        val model = Rq.train(data.select(col("vec")), "vec",
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = beam)
        aqNormLut(data, chain, model,
          model.encodeCol(col("vec"), beam, icm), st, seed)
      // (PRQ|PLSQ)<ns>x<L>x<nb>_N<norm> (index_factory.cpp:589,599):
      // the product AQs with an explicit stored-norm search type — the
      // same LUT scan through the zero-padded effective model
      case PAqNorm(fam, ns, lv, nb, st) :: Nil =>
        val (beam, icm) = if (fam == "PRQ") (2, 1) else (1, 3)
        val prq = Prq.train(data.select(col("vec")), "vec", ns.toInt,
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = beam)
        aqNormLut(data, chain, Rq4FastScanIndex.effectiveModel(prq),
          prq.encodeCol(col("vec"), beam, icm), st, seed)
      case Lsh(nbits) :: Nil =>
        val dd = data.select(size(col("vec"))).first().getInt(0)
        require(nbits.toInt <= dd, s"LSH$nbits > d=$dd")
        val rot = Linear(Transforms.randomRotation(dd, seed).a.take(nbits.toInt))
        val codes = data.select(col("id"),
          graft.functions.sign_bits(rot.applyCol(col("vec"))).as("code"))
        new LshBuilt(new LshIndex(rot, None, codes), chain)
      case Imi(bits) :: "Flat" :: Nil =>
        // IMI2x<b> = MultiIndexQuantizer coarse with 2^b centroids per
        // half-space (faiss index_factory coarse grammar)
        new ImiBuilt(ImiIndex.build(data, "id", "vec",
          ksub = 1 << bits.toInt, niter = niter, seed = seed), chain)
      case Imi(bits) :: Pq(m, ks) :: Nil =>
        // IMI2x<b>,PQ<m>[x<ksub>] (IndexIVFPQ over the multi-index
        // coarse, index_factory.cpp:834-878 — the SIFT1B flagship
        // config IMI2x12,PQ16 of benchs/README.md:107)
        new ImiPqBuilt(ImiPqIndex.build(data, "id", "vec",
          ksub = 1 << bits.toInt, m = m.toInt,
          pqKsub = Option(ks).map(_.toInt).getOrElse(16),
          niterCoarse = niter, niterPq = niter, seed = seed), chain)
      case Imi(bits) :: (sq @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16")) :: Nil =>
        // IMI2x<b>,SQ<w> (IndexIVFScalarQuantizer over the multi-index
        // coarse — the grammar composes IMI with any IVF code,
        // index_factory.cpp:834-878). by_residual = true, the same
        // reference ctor default the IVF<n>,SQ<w> route builds
        new ImiSqBuilt(ImiSqIndex.build(data, "id", "vec",
          ksub = 1 << bits.toInt,
          qtype = if (sq == "SQfp16") "fp16" else sq,
          niterCoarse = niter, byResidual = true, seed = seed), chain)
      case "Flat" :: Nil => new FlatBuilt(data, chain)
      // MinMax[FP16],<SQ8|SQfp16> (IndexRowwiseMinMax[FP16],
      // index_factory.cpp:811): a vector codec in the reference
      // (search throws) — searchable here through the
      // reconstruction-distance scan over the decoded rows, the
      // ZnLattice/flat-AQ pattern
      case (mm @ ("MinMax" | "MinMaxFP16")) :: inner :: Nil
          if MinMaxInners.contains(inner) || Pq.findFirstIn(inner).contains(inner) =>
        new FlatBuilt(MinMaxCodec.roundtripDf(data, "id", "vec", inner,
          fp16Coeffs = mm == "MinMaxFP16", niter = niter, seed = seed)
          .select(col("id"), col("vec").cast("array<float>").as("vec")), chain)
      case (sq @ ("SQ8" | "SQ4" | "SQ6" | "SQfp16")) :: Nil =>
        new SqBuilt(SqIndex.build(data, "id", "vec",
          qtype = if (sq == "SQfp16") "fp16" else sq), chain)
      case PqFs(m, _) :: Nil =>
        new PqFsBuilt(Pq4FastScanIndex.build(data, "id", "vec", m.toInt,
          niter = niter, seed = seed), chain)
      // flat AQ fast-scan families (RQ/LSQ + PRQ/PLSQ products,
      // index_factory.cpp:610,626) with the optional _N<norm> clause
      case RqFs(fam, lv, _, nt) :: Nil =>
        new RqFsBuilt(Rq4FastScanIndex.build(data, "id", "vec", lv.toInt,
          icmIters = if (fam == "LSQ") 3 else 0,
          normType = Option(nt).getOrElse("rq2x4"),
          niter = niter, seed = seed), chain)
      case PrqFs(fam, ns, lv, _, nt) :: Nil =>
        new RqFsBuilt(Rq4FastScanIndex.build(data, "id", "vec", lv.toInt,
          icmIters = if (fam == "PLSQ") 3 else 0, nsplit = ns.toInt,
          normType = Option(nt).getOrElse("rq2x4"),
          niter = niter, seed = seed), chain)
      case Pq(m, ks) :: Nil =>
        new PqBuilt(PqIndex.build(data, "id", "vec", m.toInt,
          Option(ks).map(_.toInt).getOrElse(16), niter = niter, seed = seed), chain)
      // flat additive quantizers: reconstruction-distance scan over the
      // decoded vectors (AQ_decompress, impl/AdditiveQuantizer.h:58)
      case RqTok(lv, nb) :: Nil =>
        val model = Rq.train(data.select(col("vec")), "vec",
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = 2)
        new FlatBuilt(data.select(col("id"),
          model.roundtripCol(col("vec"), beam = 2, icmIters = 1).as("vec")), chain)
      case PrqTok(ns, lv, nb) :: Nil =>
        val model = Prq.train(data.select(col("vec")), "vec", ns.toInt,
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = 2)
        new FlatBuilt(data.select(col("id"),
          model.roundtripCol(col("vec"), beam = 2, icmIters = 1).as("vec")), chain)
      // LSQ<L>x<nb> / PLSQ<ns>x<L>x<nb> (IndexLocalSearchQuantizer /
      // IndexProductLocalSearchQuantizer, IndexAdditiveQuantizer.h:119,
      // :171): the AQ codebooks with the ICM encoder (icm_encode,
      // impl/LocalSearchQuantizer.cpp:505 — RqKernels.encodeIcm is the
      // deterministic-descent core), searched like the other flat AQs
      // by reconstruction distance
      case LsqTok(lv, nb) :: Nil =>
        val model = Rq.train(data.select(col("vec")), "vec",
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = 1)
        new FlatBuilt(data.select(col("id"),
          model.roundtripCol(col("vec"), beam = 1, icmIters = 3).as("vec")), chain)
      case PlsqTok(ns, lv, nb) :: Nil =>
        val model = Prq.train(data.select(col("vec")), "vec", ns.toInt,
          lv.toInt, 1 << nb.toInt, niter = niter, seed = seed, beam = 1)
        new FlatBuilt(data.select(col("id"),
          model.roundtripCol(col("vec"), beam = 1, icmIters = 3).as("vec")), chain)
      // graph indexes over Flat storage (per-partition shards, SURVEY
      // §7: the scalable re-expression of IndexHNSW / IndexNSG)
      case HnswTok(m) :: tl if tl.isEmpty || tl == List("Flat") =>
        new HnswBuilt(data, chain, m.toInt)
      // HNSW<M>,2x<nbit>+PQ<m> / HNSW<M>,<ncent>+PQ<m>
      // (IndexHNSW2Level, IndexHNSW.h:179; factory :455-472): graph
      // shards whose storage is an Index2Layer — searched over the
      // DECODED storage (identical distances to decode-inside-the-
      // distance; the decoded projection streams, it is never
      // materialized beyond each partition's graph build).
      // MIQ-coarse BEFORE flat-coarse: "2x4+PQ8" must not bind ncent.
      case HnswTok(m) :: TwoLevelMiqCode(nb, pm) :: Nil =>
        val tl = MiqTwoLayerIndex.build(data, "id", "vec",
          2, nb.toInt, pm.toInt, ksub = 16, niterCoarse = niter,
          niterPq = niter, seed = seed)
        new Hnsw2LevelBuilt(tl.reconstruct, chain, m.toInt, () => tl.close())
      case HnswTok(m) :: TwoLevelCode(ncent, pm) :: Nil =>
        new Hnsw2LevelBuilt(TwoLayerIndex.build(data, "id", "vec",
          ncent.toInt, pm.toInt, ksub = 16, niterCoarse = niter,
          niterPq = niter, seed = seed).reconstruct, chain, m.toInt)
      // HNSW<M>,SQ8 (IndexHNSWSQ, faiss/IndexHNSW.h:168): graph shards
      // whose storage is SQ8 codes, decoded inside the distance
      case HnswTok(m) :: "SQ8" :: Nil =>
        new HnswSqBuilt(data, chain, m.toInt)
      // HNSW<M>,PQ<m>[x<ksub>] (IndexHNSWPQ, faiss/IndexHNSW.h:152):
      // graph shards whose storage is M-byte PQ codes
      case HnswTok(m) :: Pq(pm, ks) :: Nil =>
        val model = graft.index.Pq.train(data, "vec", pm.toInt,
          Option(ks).map(_.toInt).getOrElse(16), niter = niter, seed = seed)
        new HnswPqBuilt(data, chain, m.toInt, model)
      case NsgTok(rr) :: tl if tl.isEmpty || tl == List("Flat") =>
        new NsgBuilt(data, chain, rr.toInt)
      // NSG<R>,SQ8 (IndexNSGSQ, faiss/IndexNSG.h:91): graph shards
      // whose storage is SQ8 codes, decoded inside the distance
      case NsgTok(rr) :: "SQ8" :: Nil =>
        new NsgSqBuilt(data, chain, rr.toInt)
      // NSG<R>,PQ<m>[x<ksub>] (IndexNSGPQ, faiss/IndexNSG.h:83):
      // graph shards whose storage is M-byte PQ codes
      case NsgTok(rr) :: Pq(pm, ks) :: Nil =>
        val model = graft.index.Pq.train(data, "vec", pm.toInt,
          Option(ks).map(_.toInt).getOrElse(16), niter = niter, seed = seed)
        new NsgPqBuilt(data, chain, rr.toInt, model)
      // ZnLattice<M>x<r2>_<nbit> (index_factory.cpp:536, IndexLattice):
      // a pure codec in the reference (search throws); searchable here
      // through the reconstruction-distance scan like the flat AQs
      case ZnTok(m, r2v, nbit) :: Nil =>
        val lat = Lattice.train(data, "vec", m.toInt, nbit.toInt, r2v.toInt)
        new FlatBuilt(data.select(col("id"),
          Lattice.decodeCol(lat, Lattice.encodeCol(lat, col("vec"))).as("vec")), chain)
      case other => throw new IllegalArgumentException(
        s"unsupported factory tail '${other.mkString(",")}' in '$desc'")
    }
    val result = refineBase match {
      case Some(base) => new RefineBuilt(built, base, chain, kFactor = 4)
      case None => built
    }
    result.description = desc
    // close() releases the transform-chain base cache plus any
    // cache-backed index state (x4fsr packed codes, RCQ invlists)
    result.onClose = (() => { data.unpersist(blocking = false); () }) ::
      (built match {
        case b: IvfPqFsRBuilt => List(() => b.idx.close())
        case b: IvfRqFsRBuilt => List(() => b.idx.close())
        case b: IvfRcqBuilt => List(() => b.idx.close())
        case b: ImiPqBuilt => List(() => b.idx.close())
        case b: ImiSqBuilt => List(() => b.idx.close())
        case b: IvfSqBuilt => List(() => b.idx.close())
        case b: MiqTwoLayerBuilt => List(() => b.idx.close())
        case b: IvfPqrBuilt => List(() => b.idx.close())
        case b: RqLutBuilt => List(() => b.close0())
        case b: IvfRqNormBuilt => List(() => b.close0())
        case b: Hnsw2LevelBuilt => List(() => b.close0())
        case _ => Nil
      })
    result
  }

  // ---- binary factory --------------------------------------------------

  /** Searchable binary index over (id, code: binary) rows. */
  sealed trait BinaryBuilt {
    def search(queries: DataFrame, k: Int, nprobe: Int = 1,
        queryId: String = "qid", queryCode: String = "qcode"): DataFrame
  }

  private val BIvf = "BIVF(\\d+)".r
  // BIVF<n>_HNSW<m>: binary IVF with an HNSW coarse quantizer over the
  // binarized centroids (index_factory.cpp:895-900)
  private val BIvfHnsw = "BIVF(\\d+)_HNSW(\\d+)".r
  private val BHash = "BHash(\\d+)".r
  private val BHashMulti = "BHash(\\d+)x(\\d+)".r
  private val BHnsw = "BHNSW(\\d+)".r

  /** index_binary_factory analog (index_factory.cpp:889): grammar
    * BFlat | BIVF<nlist>[_HNSW<m>] | BHash<b> | BHash<n>x<b>
    * (multi-hash, IndexBinaryMultiHash) | BHNSW<m>. `nbits` is the
    * code width in bits (the `d` of index_binary_factory). */
  def buildBinary(df: DataFrame, idCol: String, codeCol: String, nbits: Int,
      desc: String, niter: Int = 4, seed: Long = 1234L): BinaryBuilt = {
    val data = df.select(col(idCol).as("id"), col(codeCol).as("code"))
    desc.trim match {
      case "BFlat" => new BinaryBuilt {
        def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) =
          BinaryFlat.knnJoin(q, data, k, queryId = qid, queryCode = qcode)
      }
      case BIvfHnsw(nlist, hm) =>
        // same trained index as BIVF<n>; only probe selection changes
        // (HNSW walk over unpacked centroids — Hamming == L2² on 0/1
        // bits). The parsed degree m reaches the coarse graph (the
        // reference wires it into the IndexBinaryHNSW quantizer);
        // efSearch scales with nprobe; on small nlist it covers the
        // whole graph and is exact, the IvfHnswBuilt convention.
        val idx = BinaryIvfIndex.buildFromCodes(data, "id", "code", nbits,
          nlist.toInt, niter = niter, seed = seed)
        new BinaryBuilt {
          def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) = {
            val np = math.max(nprobe, 1)
            idx.search(q, k, np, qid, qcode,
              hnswCoarse = Some(math.max(32, 4 * np)), hnswM = hm.toInt)
          }
        }
      case BIvf(nlist) =>
        val idx = BinaryIvfIndex.buildFromCodes(data, "id", "code", nbits,
          nlist.toInt, niter = niter, seed = seed)
        new BinaryBuilt {
          def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) =
            idx.search(q, k, math.max(nprobe, 1), qid, qcode)
        }
      case BHashMulti(n, b) =>
        // IndexBinaryMultiHash (faiss/IndexBinaryHash.h:83): n tables
        // on disjoint bit ranges, candidate union, Hamming verify
        val (nn, bb) = (n.toInt, b.toInt)
        require(nn * bb <= nbits,
          s"BHash${nn}x$bb needs $nn*$bb <= $nbits code bits")
        new BinaryBuilt {
          def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) =
            BinaryFlat.multiHashSearch(q, data, k, nn, bb,
              queryId = qid, queryCode = qcode)
        }
      case BHash(b) =>
        val bb = b.toInt
        val bucketed = data.withColumn("bucket",
          shim.col(graft.core.BitPrefix(shim.expr(col("code")), bb)))
        new BinaryBuilt {
          def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) =
            BinaryFlat.hashSearch(
              q.withColumn("bucket",
                shim.col(graft.core.BitPrefix(shim.expr(col(qcode)), bb))),
              bucketed, k, queryId = qid, queryCode = qcode)
        }
      case BHnsw(m) =>
        // IndexBinaryHNSW (faiss/IndexBinaryHNSW.h:22): Hamming on
        // 0/1-unpacked bits IS squared L2 (each mismatching bit
        // contributes exactly 1), so the float per-partition graph
        // shards cover the semantics bit-for-bit; dist = Hamming count.
        val unpacked = data.select(col("id"),
          shim.col(graft.core.UnpackBits(shim.expr(col("code")), nbits)).as("vec"))
        new BinaryBuilt {
          def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) =
            graft.knn.PartitionedHnsw.knnJoin(
              q.select(col(qid),
                shim.col(graft.core.UnpackBits(shim.expr(col(qcode)), nbits)).as("qvec")),
              unpacked, k, m = m.toInt, efSearch = math.max(96, 4 * k),
              queryId = qid)
              .select(col(qid), col("rank"), col("id"),
                col("dist").cast("long").as("hd"))
        }
      case other => throw new IllegalArgumentException(
        s"unsupported binary factory '$other' " +
          "(BFlat | BIVF<nlist>[_HNSW<m>] | BHash<b> | BHash<n>x<b> | BHNSW<m>)")
    }
  }

  /** IndexBinaryFromFloat (faiss/IndexBinaryFromFloat.h:26): a binary
    * index backed by ANY float index from the float factory grammar.
    * Codes unpack to ±1 float vectors (binary_to_real,
    * faiss/utils/utils.cpp:634), the float index adds/searches them,
    * and reported distances are round(L2²/4) — EXACT Hamming, since
    * each mismatching bit contributes (±2)² = 4 to the squared L2
    * (IndexBinaryFromFloat.cpp:72). Queries are symmetric: codes and
    * vectors are the same thing, as in the reference. */
  def buildBinaryFromFloat(df: DataFrame, idCol: String, codeCol: String,
      nbits: Int, floatDesc: String, niter: Int = 4,
      seed: Long = 1234L): BinaryBuilt = {
    def pm1(c: Column) = transform(
      shim.col(graft.core.UnpackBits(shim.expr(c), nbits)),
      x => x * 2 - 1).cast("array<float>")
    val data = df.select(col(idCol).as("id"), pm1(col(codeCol)).as("vec"))
    val inner = build(data, "id", "vec", floatDesc, niter, seed)
    new BinaryBuilt {
      def search(q: DataFrame, k: Int, nprobe: Int, qid: String, qcode: String) = {
        val qf = q.select(col(qid), pm1(col(qcode)).as("qvec"))
        inner.search(qf, k, nprobe, qid, "qvec")
          .select(col(qid), col("rank"), col("id"),
            round(col("dist") / 4).cast("long").as("hd"))
      }
    }
  }
}
