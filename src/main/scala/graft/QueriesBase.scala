package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import graft.functions._
import graft.knn.Knn
import graft.core.{NearestCentroid, TopKAgg, VecSumAgg}
import graft.index.IvfIndex
import graft.llm.{Dedup, Multimodal, TextFunctions => TF}

/** Shared fixtures, memoization, table helpers and oracle-sidecar
  * plumbing behind the [[Queries]] catalog (split from the former
  * single-file Queries.scala; every member keeps its semantics).
  * Members are `private[graft]` so the catalog traits can reference
  * them unqualified through the self-type. */
private[graft] trait QueriesBase {

  /** One catalog row: (name, query builder, optional DuckDB oracle). */
  type CatalogEntry = (String, (SparkSession, String) => DataFrame, Option[String])


  // ---- table helpers ---------------------------------------------------
  // Table DataFrames are memoized per (session, path): spark.read
  // re-lists files and re-infers the parquet schema (a small Spark job)
  // on EVERY call, and the catalog's ~90 queries each read 1-3 tables —
  // reusing the analyzed plan removes ~200 fixed-overhead jobs per
  // session without changing any scan plan.
  private[graft] def table(s: SparkSession, dir: String, name: String): DataFrame =
    cached(s"table:$dir/$name:${s.hashCode}") {
      s.read.parquet(s"$dir/$name.parquet")
    }
  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
  private[graft] def lineitem(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")

  /** Query side: vec_id < n. */
  private[graft] def qDf(s: SparkSession, dir: String, n: Long): DataFrame =
    emb(s, dir).filter(col("vec_id") < n)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  /** Base side: vec_id >= from. */
  private[graft] def bDf(s: SparkSession, dir: String, from: Long): DataFrame =
    emb(s, dir).filter(col("vec_id") >= from)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private[graft] def r4(c: String): org.apache.spark.sql.Column = round(col(c), 4)

  /** Memo for trained indexes shared across catalog entries (Verify
    * and Bench run many queries in one session; rebuilding the same
    * index per query would redo identical kmeans jobs). */
  private[graft] val memo = scala.collection.concurrent.TrieMap.empty[String, Any]
  /** Cumulative wall time spent COMPUTING memo entries (misses only).
    * Bench takes a per-query delta: a timed run that populated a memo
    * entry did one-off build/train work a warm rerun would NOT
    * repeat, so the gate-borderline rerun publishes `warm + missCost`
    * — the same-work-profile reconstruction (ADVICE r9: gating the
    * memoized rerun alone understates build-bearing queries). Helpers
    * that persist+count eagerly have their execution captured here;
    * helpers that return lazy plans cost ~0 here but the rerun
    * recomputes them anyway — either way the sum reflects the cold
    * run's work profile. */
  private[graft] val memoMissNanos = new java.util.concurrent.atomic.AtomicLong
  def memoMissNanosTotal: Long = memoMissNanos.get
  // nesting depth per thread: a helper that misses and internally
  // misses ANOTHER helper must count the outer elapsed time once, not
  // outer + inner (the outer timer already contains the inner work)
  private[graft] val missDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  private[graft] def cached[T](key: String)(f: => T): T =
    memo.getOrElseUpdate(key, {
      val outer = missDepth.get == 0
      missDepth.set(missDepth.get + 1)
      val t0 = System.nanoTime()
      try {
        val v = f.asInstanceOf[Any]
        if (outer) memoMissNanos.addAndGet(System.nanoTime() - t0)
        v
      } finally missDepth.set(missDepth.get - 1)
    }).asInstanceOf[T]

  private[graft] def ivf16(s: SparkSession, dir: String): IvfIndex =
    cached(s"ivf16:$dir") {
      IvfIndex.build(bDf(s, dir, 10), "id", "vec", nlist = 16, niter = 4)
    }
  private[graft] def ivf20(s: SparkSession, dir: String): IvfIndex =
    cached(s"ivf20:$dir") {
      IvfIndex.build(bDf(s, dir, 20), "id", "vec", nlist = 16, niter = 4)
    }
  private[graft] def ivfsq16(s: SparkSession, dir: String): graft.index.IvfSqIndex =
    cached(s"ivfsq16:$dir") {
      graft.index.IvfSqIndex.build(bDf(s, dir, 10), "id", "vec", nlist = 16, niter = 4)
    }
  /** IVF-SQ with by_residual = true — the reference DEFAULT for
    * IndexIVFScalarQuantizer (IndexScalarQuantizer.h:64): the shared
    * range is trained over residuals, which concentrate near 0. */
  private[graft] def ivfsqRes16(s: SparkSession, dir: String): graft.index.IvfSqIndex =
    cached(s"ivfsqres16:$dir") {
      graft.index.IvfSqIndex.build(bDf(s, dir, 10), "id", "vec", nlist = 16,
        niter = 4, byResidual = true)
    }
  private[graft] def pq16(s: SparkSession, dir: String): graft.index.PqIndex =
    cached(s"pq16:$dir") {
      graft.index.PqIndex.build(bDf(s, dir, 10), "id", "vec", m = 8, ksub = 16, niter = 4)
    }
  private[graft] def rot64(s: SparkSession, dir: String): graft.transform.Linear =
    cached(s"rot64:$dir") { graft.transform.Transforms.randomRotation(64, 42L) }
  private[graft] def opqModel(s: SparkSession, dir: String): (graft.transform.Linear, graft.index.PqModel) =
    cached(s"opq:$dir") {
      graft.transform.Opq.trainOpq(bDf(s, dir, 10), "vec", m = 8, ksub = 16,
        outerIters = 2, pqIters = 3)
    }
  private[graft] def ivfpq8(s: SparkSession, dir: String): graft.index.IvfPqIndex =
    cached(s"ivfpq:$dir") {
      graft.index.IvfPqIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, m = 8, ksub = 16, niterCoarse = 4, niterPq = 4)
    }
  /** `IVF16(PQ8x8),Flat` — the generic paren coarse with an IndexPQ
    * quantizer (index_factory.cpp:263-267): add-time assignment AND
    * probe selection rank cells by ADC over a PQ of the centroids. */
  private[graft] def parenPq16(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"parenpq:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF16(PQ8x8),Flat", niter = 4)
    }
  /** Probe dump of the (nprobe × quantizer_efSearch) autotune grid:
    * (ef, qid, list_no, pr) at npMax = 8 per walk budget over the
    * ivfpq8 index. Graph walks are not SQL-replayable, so the oracle
    * takes these probe SETS as given and re-derives everything
    * downstream (assignment, codes, LUTs, ADC, recall, fractions,
    * Pareto) independently. Deterministic: the walk runs over the
    * memoized index's per-executor graph cache, seeded. */
  private[graft] def hnswTuneProbes(s: SparkSession, dir: String): DataFrame =
    cached(s"hnswtuneprobes:$dir") {
      val idx = ivfpq8(s, dir)
      Seq(2, 4, 1024).map { ef =>
        idx.sweepCandidates(qDf(s, dir, 10), 8,
          coarse = Some(graft.index.Probes.HnswCoarse(ef)))
          .select(lit(ef).as("ef"), col("qid"), col("list_no"), col("pr"))
          .distinct()
      }.reduce(_ unionByName _)
    }
  private[graft] def factoryIvf16(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"factoryIvf:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF16,Flat", niter = 4)
    }
  /** `IVF8,RQ2x4_Nqint8` — the aq_norm clause INSIDE the IVF code
    * token (index_factory.cpp:293-430): residual-AQ lists searched by
    * the ST_norm_qint8 LUT scan. */
  private[graft] def ivfRqNorm8(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"ivfrqnorm8:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF8,RQ2x4_Nqint8", niter = 4)
    }
  /** Twin-call IvfRq of the `IVF8,RQ2x4_Nqint8` factory route: the
    * same deterministic build (coarse k-means, residual RQ train,
    * beam-2 + 1-ICM encode) the factory runs internally — the
    * parenPqPq16 twin-call convention; the oracle sidecars come from
    * this twin while the catalog query searches the factory Built. */
  private[graft] def ivfRqNormTwin(s: SparkSession, dir: String): graft.index.IvfRqIndex =
    cached(s"ivfrqnormtwin:$dir") {
      graft.index.IvfRq.build(bDf(s, dir, 10), "id", "vec", nlist = 8,
        levels = 2, k = 16, niterCoarse = 4, niterRq = 4, beam = 2,
        icmIters = 1, seed = 1234L)
    }
  private[graft] def factoryRefine8(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"factoryRefine:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF8,Flat,Refine(Flat)", niter = 4)
    }
  private[graft] def factoryIvfHnswPq8(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"factoryIvfHnswPq:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF8_HNSW16,PQ8", niter = 4)
    }
  /** `IVF16(SQ8),Flat` — the SQ-quantizer paren coarse: assignment
    * and probe selection rank by exact L2 to the SQ-DECODED centroid
    * table (the asymmetric-distance identity, core/CoarseSq). */
  private[graft] def parenSq16(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"parensq:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF16(SQ8),Flat", niter = 4)
    }
  /** `IVF16(PCA8,Flat),Flat` — transform-prefixed paren quantizer:
    * assignment and probes rank in the PCA space (trained on the
    * cluster centers), distances stay original. */
  private[graft] def parenPca16(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"parenpca:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF16(PCA8,Flat),Flat", niter = 4)
    }
  /** Twin-call PCA of the `IVF16(PCA8,Flat)` quantizer: the same
    * deterministic pcaOverCentroids call the factory route runs
    * internally, over the same deterministic k-means centroids (the
    * parenPqPq16 twin-call convention). */
  private[graft] def parenPcaLin(s: SparkSession, dir: String): graft.transform.Linear =
    cached(s"parenpcalin:$dir") {
      graft.transform.CoarseTransform.pcaOverCentroids(s,
        cached(s"parensqcents:$dir") {
          graft.cluster.KMeans.fit(bDf(s, dir, 10), "vec",
            graft.cluster.KMeans.Params(k = 16, niter = 4, seed = 1234L))
            .centroids
        }, 8)
    }
  /** `IVF16(PQ8x8),PQ8` — the lossy-quantizer composition: residuals
    * subtract the quantizer's DECODED reconstruction, and adds assign
    * through it (= exact argmin over the decoded table). Built through
    * the same deterministic calls as the factory route. */
  private[graft] def parenPqPq16(s: SparkSession, dir: String): graft.index.IvfPqIndex =
    cached(s"parenpqpq:$dir") {
      val km = graft.cluster.KMeans.fit(bDf(s, dir, 10), "vec",
        graft.cluster.KMeans.Params(k = 16, niter = 4, seed = 1234L))
      val cdec = graft.core.CoarsePq.decodedCentroids(
        graft.core.CoarsePq.model(km.centroids, 8, 8))
      graft.index.IvfPqIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 16, m = 8, ksub = 16, niterCoarse = 4, niterPq = 4,
        centroids0 = cdec)
    }
  /** The paren-coarse trained state for the sidecar dump — recomputed
    * through the same deterministic calls the factory route makes
    * (KMeans.fit k=16/niter=4/seed=1234, CoarsePq over the centroids),
    * so the dumped values are bit-identical to the searched model. */
  private[graft] def parenPqModel(s: SparkSession, dir: String): (Array[Array[Float]], Array[Array[Array[Float]]]) =
    cached(s"parenpqmodel:$dir") {
      val km = graft.cluster.KMeans.fit(bDf(s, dir, 10), "vec",
        graft.cluster.KMeans.Params(k = 16, niter = 4, seed = 1234L))
      val (cb, _) = graft.core.CoarsePq.model(km.centroids, 8, 8)
      (km.centroids, cb)
    }
  private[graft] def ivfpqr8(s: SparkSession, dir: String): graft.index.IvfPqrIndex =
    cached(s"ivfpqr:$dir") {
      graft.index.IvfPqrIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, m = 8, ksub = 16, niterCoarse = 4, niterPq = 4)
    }
  /** Residual2x4,PQ8 — the MIQ-first-layer Index2Layer
    * (index_factory.cpp:270-278); built through the same
    * deterministic calls as the factory route. */
  private[graft] def resMiq24(s: SparkSession, dir: String): graft.index.MiqTwoLayerIndex =
    cached(s"resmiq24:$dir") {
      graft.index.MiqTwoLayerIndex.build(
        emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", mCoarse = 2, nbit = 4, m = 8, ksub = 16,
        niterCoarse = 4, niterPq = 4)
    }
  private[graft] def twoLayer16(s: SparkSession, dir: String): graft.index.TwoLayerIndex =
    cached(s"twolayer16:$dir") {
      graft.index.TwoLayerIndex.build(
        emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")),
        "id", "vec", nlist = 16, m = 8, ksub = 16, niterCoarse = 4, niterPq = 4)
    }
  private[graft] def sqMeanstd(s: SparkSession, dir: String): graft.index.SqIndex =
    cached(s"sqmeanstd:$dir") {
      graft.index.SqIndex.build(emb(s, dir), "vec_id", "embedding",
        rangeStat = "meanstd", rsArg = 2.5)
    }
  private[graft] def ivfsh8(s: SparkSession, dir: String): graft.index.IvfSpectralHashIndex =
    cached(s"ivfsh8:$dir") {
      graft.index.IvfSpectralHash.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, nbit = 32, period = 1.0, thresholdType = "median", niter = 4)
    }
  /** Thresh_centroid_half twin of [[ivfsh8]]: identical data/seeds, so
    * the coarse centroids and rotation match ivfsh8's sidecars bit for
    * bit — only the thresholds differ (centroid - period/4), which the
    * oracle derives ITSELF from those sidecars. */
  private[graft] def ivfshCh8(s: SparkSession, dir: String): graft.index.IvfSpectralHashIndex =
    cached(s"ivfshch8:$dir") {
      graft.index.IvfSpectralHash.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, nbit = 32, period = 1.0, thresholdType = "centroid_half",
        niter = 4)
    }
  private[graft] def ivf8(s: SparkSession, dir: String): IvfIndex =
    cached(s"ivf8:$dir") {
      IvfIndex.build(bDf(s, dir, 10), "id", "vec", nlist = 8, niter = 3)
    }
  private[graft] def km8(s: SparkSession, dir: String): graft.cluster.KMeans.Model =
    cached(s"km8:$dir") {
      graft.cluster.KMeans.fit(emb(s, dir).select(col("embedding")), "embedding",
        graft.cluster.KMeans.Params(k = 8, niter = 5))
    }
  /** Spherical k-means (ClusteringParameters.spherical,
    * Clustering.cpp:65-68): centroids L2-renormalized after every
    * update — the trainer FAISS uses for IP/cosine coarse quantizers
    * (assignment stays L2, as in the reference). */
  private[graft] def kmSph8(s: SparkSession, dir: String): graft.cluster.KMeans.Model =
    cached(s"kmsph8:$dir") {
      graft.cluster.KMeans.fit(emb(s, dir).select(col("embedding")), "embedding",
        graft.cluster.KMeans.Params(k = 8, niter = 5, spherical = true))
    }
  /** Clustering::train_encoded state (Clustering.cpp:271): SQ8 codec
    * over embeddings + k-means trained DIRECTLY on the codes (decode
    * inside each iteration's assign — the memory-bounded train path).
    * Returns (vmin, vdiff, model). */
  private[graft] def kmEnc8(s: SparkSession, dir: String):
      (Array[Double], Array[Double], graft.cluster.KMeans.Model) =
    cached(s"kmenc8:$dir") {
      val e = emb(s, dir)
      val (mins, vdiff) = graft.index.SqIndex.trainRange(e, "embedding")
      val codes = e.select(col("vec_id").as("id"),
        shim.col(graft.index.SqVariant.encode("SQ8",
          shim.expr(col("embedding")), mins, vdiff)).as("code"))
      val m = graft.cluster.KMeans.fitEncoded(codes, "code",
        c => shim.col(graft.index.SqVariant.decode("SQ8",
          shim.expr(c), mins, vdiff)).cast("array<float>"),
        graft.cluster.KMeans.Params(k = 8, niter = 5))
      (mins, vdiff, m)
    }
  private[graft] def twoLevel12(s: SparkSession, dir: String): Array[Array[Float]] =
    cached(s"twolevel12:$dir") {
      graft.cluster.TwoLevelClustering.fit(emb(s, dir), "embedding",
        nlist = 12, niter1 = 3, niter2 = 3)
    }
  /** Shared quantizer of the distributed_ondisk recipe: two-level
    * k-means over the base set (the recipe's own scalable train step,
    * benchs/distributed_ondisk/README.md step 1 +
    * contrib/clustering.py train_ivf_index_with_2level). */
  private[graft] def ondiskCents16(s: SparkSession, dir: String): Array[Array[Float]] =
    cached(s"ondisk16:$dir") {
      graft.cluster.TwoLevelClustering.fit(bDf(s, dir, 10), "vec",
        nlist = 16, niter1 = 3, niter2 = 3)
    }
  private[graft] def pdk8(s: SparkSession, dir: String): (graft.transform.Linear, graft.cluster.KMeans.Model) =
    cached(s"pdk8:$dir") {
      graft.cluster.ProgressiveDimKMeans.fitWithTransform(emb(s, dir), "embedding",
        k = 8, levels = Seq(8, 24, 64), niterPerLevel = 3)
    }
  /** PCA to 16 dims trained on the full embeddings table (PCAMatrix,
    * faiss/VectorTransform.h:124; centering folded into the bias). */
  private[graft] def pca16(s: SparkSession, dir: String): graft.transform.Linear =
    cached(s"pca16:$dir") {
      graft.transform.Transforms.pca(emb(s, dir), "embedding", 16)
    }
  /** ITQ rotation to 32 bits (ITQMatrix, faiss/VectorTransform.h:178:
    * PCA then iterative Procrustes toward the sign codes). */
  private[graft] def itq32(s: SparkSession, dir: String): graft.transform.Linear =
    cached(s"itq32:$dir") {
      graft.transform.Opq.trainItq(emb(s, dir), "embedding", 32, iters = 5)
    }
  private[graft] def ivfsq4(s: SparkSession, dir: String): graft.index.IvfSqIndex =
    cached(s"ivfsq4:$dir") {
      graft.index.IvfSqIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 16, niter = 4, qtype = "SQ4")
    }
  private[graft] def rqfs2(s: SparkSession, dir: String): graft.index.Rq4FastScanIndex =
    cached(s"rqfs2:$dir") {
      graft.index.Rq4FastScanIndex.build(bDf(s, dir, 10), "id", "vec",
        levels = 2, model0 = rqModel16(s, dir))
    }
  private[graft] def ivfrqfs8(s: SparkSession, dir: String): graft.index.IvfRq4FastScanIndex =
    cached(s"ivfrqfs8:$dir") {
      graft.index.IvfRq4FastScanIndex.fromFlat(rqfs2(s, dir),
        bDf(s, dir, 10), "id", "vec", nlist = 8, niterCoarse = 4)
    }
  /** Adversarial-span base table (VERDICT r13 #3): vectors scaled by
    * 1/6/11/16x (exact small-int REAL arithmetic — replays verbatim in
    * DuckDB), so reconstruction norms spread ~256x and the norm-LUT
    * span dominates the IP-LUT span: the regime where the reference's
    * flat-family rescale_norm default actually rescales. */
  private[graft] def advVecs(s: SparkSession, dir: String): DataFrame =
    bDf(s, dir, 10).select(col("id"),
      transform(col("vec"), x =>
        x * (lit(1.0f) + pmod(col("id"), lit(4)).cast("float") * lit(5.0f)))
        .as("vec"))
  /** Flat AQ fast-scan over [[advVecs]]: estimate_norm_scale lands
    * well above 1 (measured 8 at sf0.001), so the quantized LUT
    * carries DIVIDED norm columns and the scan multiplies them back
    * (NormTableScaler) — the rescale path under test. */
  private[graft] def rqfsRs(s: SparkSession, dir: String): graft.index.Rq4FastScanIndex =
    cached(s"rqfsrs:$dir") {
      graft.index.Rq4FastScanIndex.build(advVecs(s, dir), "id", "vec",
        levels = 2, niter = 4)
    }
  /** `LSQ2x4fs` (IndexLocalSearchQuantizerFastScan): ICM-refined codes
    * over the same (L+2)-column integer scan. */
  private[graft] def lsqfs2(s: SparkSession, dir: String): graft.index.Rq4FastScanIndex =
    cached(s"lsqfs2:$dir") {
      graft.index.Rq4FastScanIndex.build(bDf(s, dir, 10), "id", "vec",
        levels = 2, niter = 4, icmIters = 3)
    }
  /** `PRQ2x2x4fs` (IndexProductResidualQuantizerFastScan): per-split
    * RQs scanned through zero-padded effective codebooks. */
  private[graft] def prqfs22(s: SparkSession, dir: String): graft.index.Rq4FastScanIndex =
    cached(s"prqfs22:$dir") {
      graft.index.Rq4FastScanIndex.build(bDf(s, dir, 10), "id", "vec",
        levels = 2, niter = 4, nsplit = 2)
    }
  /** Twin-call PRQ model of [[prqfs22]] (the same deterministic
    * Prq.train the builder runs): the oracle-codes sidecar re-runs its
    * per-split encode, which the EFFECTIVE flat model cannot express. */
  private[graft] def prqfsModel(s: SparkSession, dir: String): graft.index.PrqModel =
    cached(s"prqfsmodel:$dir") {
      graft.index.Prq.train(bDf(s, dir, 10).select(col("vec")), "vec",
        nsplit = 2, levels = 2, k = 16, niter = 4, seed = 1234L, beam = 1)
    }
  /** `IVF8,PRQ2x2x4` (IndexIVFProductResidualQuantizer,
    * index_factory.cpp:351): per-split residual AQ lists searched by
    * decompress through the zero-padded effective model — built by the
    * SAME deterministic calls the factory route runs (the parenPqPq16
    * twin-call convention; FastScanSpec asserts factory equality). */
  private[graft] def ivfPrq8(s: SparkSession, dir: String): graft.index.IvfRqIndex =
    cached(s"ivfprq8:$dir") {
      val data = bDf(s, dir, 10)
      val km = graft.cluster.KMeans.fit(data, "vec",
        graft.cluster.KMeans.Params(k = 8, niter = 4, seed = 1234L))
      val centDf = graft.index.Probes.centroidsDf(s, km.centroids)
      val assigned = km.assign(data, "vec")
        .join(broadcast(centDf), "list_no")
        .select(col("id"), col("list_no"),
          graft.functions.vec_sub(col("vec"), col("centroid")).as("res"))
      val prq = graft.index.Prq.train(assigned.select(col("res")), "res",
        nsplit = 2, levels = 2, k = 16, niter = 4, seed = 1234L, beam = 2)
      val codes = assigned.select(col("id"), col("list_no"),
        prq.encodeCol(col("res"), 2, 1).as("code")).cache()
      codes.count()
      new graft.index.IvfRqIndex(8, km.centroids,
        graft.index.Rq4FastScanIndex.effectiveModel(prq), codes)
    }
  /** `IVF8,PCA8,SH` — the reference's spectral-hash spelling with a
    * REPLACED PCA transform, period absent (simple thresholding) and
    * the Thresh_global default: factory-built; the twin-call PCA
    * sidecar feeds the oracle (the parenPcaLin convention). */
  private[graft] def ivfShPca8(s: SparkSession, dir: String): graft.index.IndexFactory.Built =
    cached(s"ivfshpca8:$dir") {
      graft.index.IndexFactory.build(bDf(s, dir, 10), "id", "vec",
        "IVF8,PCA8,SH", niter = 4)
    }
  /** Twin-call PCA of the `IVF8,PCA8,SH` route (same deterministic
    * Transforms.pca call over the same data). */
  private[graft] def ivfShPcaLin(s: SparkSession, dir: String): graft.transform.Linear =
    cached(s"ivfshpcalin:$dir") {
      graft.transform.Transforms.pca(bDf(s, dir, 10), "vec", 8)
    }
  /** Twin-call coarse centroids of the `IVF8,PCA8,SH` route. */
  private[graft] def ivfShPcaCents(s: SparkSession, dir: String): Array[Array[Float]] =
    cached(s"ivfshpcacents:$dir") {
      graft.cluster.KMeans.fit(bDf(s, dir, 10), "vec",
        graft.cluster.KMeans.Params(k = 8, niter = 4, seed = 1234L)).centroids
    }
  private[graft] def pqfs8(s: SparkSession, dir: String): graft.index.Pq4FastScanIndex =
    cached(s"pqfs8:$dir") {
      graft.index.Pq4FastScanIndex.build(bDf(s, dir, 10), "id", "vec",
        m = 8, niter = 4)
    }
  private[graft] def ivfpqfs8(s: SparkSession, dir: String): graft.index.IvfPq4FastScanIndex =
    cached(s"ivfpqfs8:$dir") {
      graft.index.IvfPq4FastScanIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, m = 8, niterCoarse = 4, niterPq = 4)
    }
  /** Residual IVFPQ fast-scan bulk-loaded from [[ivfpq8]] (the
    * IndexIVFPQFastScan(const IndexIVFPQ&) path): shares its
    * centroid/codebook sidecars, so the oracle replays residual
    * encode + LUT quantization from the same trained state. */
  private[graft] def ivfpqfsr8(s: SparkSession, dir: String): graft.index.IvfPq4FastScanRIndex =
    cached(s"ivfpqfsr8:$dir") {
      graft.index.IvfPq4FastScanRIndex.fromIvfPq(ivfpq8(s, dir))
    }
  /** By-residual IVF AQ fast-scan (`IVF8,RQ2x4fsr`,
    * IndexIVFAdditiveQuantizerFastScan.cpp:590): residual RQ codes +
    * the FULL-reconstruction-norm 2x4 codec, one LUT per query plus a
    * per-probe scalar bias. */
  private[graft] def ivfrqfsr8(s: SparkSession, dir: String): graft.index.IvfRq4FastScanRIndex =
    cached(s"ivfrqfsr8:$dir") {
      graft.index.IvfRq4FastScanRIndex.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, levels = 2, niterCoarse = 4, niter = 4)
    }
  /** Documents corpus with planted exact duplicates (id + 100000):
    * guarantees the simhash near-dup query returns rows at any sf. */
  private[graft] def simhashCorpus(s: SparkSession, dir: String): DataFrame =
    cached(s"simhashCorpus:$dir") {
      val d = docsDf(s, dir).select(col("doc_id"), col("text"))
      d.unionByName(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    }

  /** Deterministic ~300k-doc text corpus (sf0.1) with planted
    * duplicates for the at-scale minhash dedup query: 12 md5-derived
    * tokens per lineitem row (the testdata has no long-text column at
    * lineitem scale), identically derivable in DuckDB. Tokens are
    * unique per doc, so the only >=0.8-Jaccard pairs are the planted
    * copies — the LOAD is real (full shingle/minhash/band join over
    * the corpus), the answer is exactly replayable. */
  private[graft] def commentCorpus(s: SparkSession, dir: String): DataFrame =
    commentCorpusAt(s, dir, scaleX)
  /** [[commentCorpus]] at an EXPLICIT replication factor, bypassing the
    * env-driven [[scaleX]] (whose <= 16 cap protects [[bigVecs]]' 4-bit
    * id shift — doc ids here are plain `did * sx + k` arithmetic with
    * no bit-width constraint). Probe-only entry point: the fifth-decade
    * candidate-count measurement (graft.tools.ProfileMinhash) runs the
    * SAME derivation at sx = 100, a decade past the sf1 tier. */
  private[graft] def commentCorpusAt(s: SparkSession, dir: String,
      sx: Int): DataFrame =
    cached(s"commentCorpus:$dir:x$sx") {
      val did = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
      val ids0 = lineitem(s, dir).filter(col("l_orderkey") % 4 === 0)
        .select(did.as("_did"))
      // bench-only 10x tier: replicate the DOC IDS before token
      // derivation, so every replica is a distinct doc with 12 fresh
      // md5 tokens (replicating the text instead would plant a
      // quadratic near-dup candidate blow-up no real corpus has); the
      // planted-copy offset moves out of the scaled id range
      val ids = if (sx <= 1) ids0 else
        ids0.select(col("_did"),
          explode(sequence(lit(0), lit(sx - 1))).as("_k"))
          .select((col("_did") * sx + col("_k")).as("_did"))
      // widen before the 12-md5s-per-doc derivation (see bigVecs); the
      // scaled tier widens BY scaleX so the per-task md5/shingle work
      // stays constant as the corpus grows (a cluster adds executors
      // with data; a fixed 32-way cache would make every downstream
      // map stage a wave of 10x-fat stragglers)
      val target = s.sparkContext.defaultParallelism * sx
      val widened =
        if (ids.rdd.getNumPartitions >= target) ids
        else ids.repartition(target)
      val toks = (0 until 12).map(i =>
        substring(md5(concat(col("_did").cast("string"), lit("_" + i))), 1, 6))
      // single-pass planting: the duplicate copy shares the ORIGINAL
      // doc's text, so emit both rows from one derivation via an
      // exploded id-offset instead of a union whose second branch
      // re-computes all 12 md5s per doc (profiled: halves the most
      // expensive derivation in the catalog, ~7 s -> ~3.5 s at sf0.1)
      val base = widened
        .select(col("_did"), concat_ws(" ", toks: _*).as("text"))
      val plantOff = if (sx <= 1) 1000000000L else 1L << 40
      // persist: 12 md5s/doc over ~600k docs is the most expensive
      // derivation in the catalog and the minhash pipeline reads the
      // corpus twice (band table + shingle sets) — ~100 MB cached vs
      // re-hashing 7M md5s per pass
      base
        .select(explode(array(lit(0L), lit(plantOff))).as("_off"),
          col("_did"), col("text"))
        .select((col("_did") + col("_off")).as("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private[graft] val commentCorpusSql =
    """SELECT doc_id, array_to_string(
      |         [substr(md5(doc_id::VARCHAR || '_' || i), 1, 6) for i in range(0, 12)], ' ') AS text
      |       FROM (SELECT (l_orderkey*10 + l_linenumber)::BIGINT AS doc_id
      |             FROM lineitem WHERE l_orderkey % 4 = 0) b0
      |       UNION ALL
      |       SELECT doc_id + 1000000000, array_to_string(
      |         [substr(md5(doc_id::VARCHAR || '_' || i), 1, 6) for i in range(0, 12)], ' ')
      |       FROM (SELECT (l_orderkey*10 + l_linenumber)::BIGINT AS doc_id
      |             FROM lineitem WHERE l_orderkey % 4 = 0) b1""".stripMargin

  /** Unigram-LM document scoring (the CCNet/KenLM perplexity-proxy
    * filter): corpus token frequencies -> per-token negative log
    * likelihood -> per-doc average. ONE tokenize pass and ONE shuffle
    * of the token table: the per-token corpus frequency is a window
    * count over the token-partitioned shuffle, not a separate
    * counts aggregate joined back (which re-scans and re-shuffles the
    * token table per consumer — the r8 3.9x gate breach). Rows are
    * colocated by token either way, so the window adds only a cheap
    * per-partition radix sort of 8-byte keys; hot-token skew hits the
    * window and join shapes identically (salt the token key if a
    * stopword list dominates at scale).
    *
    * Tokens are keyed by xxhash64 (the HashingTF trick): 8-byte
    * shuffle keys instead of strings; collision odds across a
    * corpus vocabulary are ~n^2/2^64, and a collision would have to
    * be token-vs-token to perturb a count. doc_id stays a LONG — an
    * int would silently wrap past 2^31 ids, exactly the regime this
    * word-count shape is meant for (r9 review). Corpus size T needs
    * no token-table pass at all: it is the sum of per-doc token
    * counts, computed narrowly with size(filter(...)) and broadcast
    * as one row.
    *
    * Per-token nll is snapped to an INTEGER 1e-4 grid before the
    * per-doc sum, so the aggregate is a long sum — exact and
    * partition-order independent in both engines (a double sum can
    * flip a 2-dp rounding boundary under AQE re-plans; ADVICE r8).
    *
    * Both unigram queries (documents table + derived corpus) run
    * through this ONE helper so the post-shuffle stages generate
    * byte-identical codegen classes: the small query's run leaves the
    * big query's window/aggregate stages codegen-cached and
    * JIT-compiled (measured: the window stage is 4.1 s wall JIT-cold
    * vs 0.7 s warm at sf0.1).
    */
  private[graft] def unigramDocScores(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tDf = docs.select(
      sum(size(filter(TF.tokenize(col("text")),
        tk => length(tk) > 0))).cast("double").as("T"))
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(TF.tokenize(col("text"))).as("tok0"))
      .filter(length(col("tok0")) > 0)
      .select(col("doc_id"), xxhash64(col("tok0")).as("tok"))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(tDf))
      .select(col("doc_id"),
        round(-log(col("c") / col("T")) * 10000).cast("int").as("nll_i"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("nll_i")) / 10000.0 / count(lit(1)), 2).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
  }

  /** The DuckDB replay of the engine's minhash pipeline (3-gram
    * shingles -> md5 minhash signature over 12 permutations -> 4-band
    * LSH join -> exact-Jaccard verify) over any (doc_id, text)
    * source. Ends with the `jac` CTE (i, j, inter, tot). */
  private[graft] def minhashChainSql(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |         THEN list_transform(t[1:len(t)-2], (x, i) -> x || ' ' || t[i+1] || ' ' || t[i+2])
       |         ELSE []::VARCHAR[] END) AS s FROM toks),
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
       |        FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j)""".stripMargin

  /** Force every SMALL memoized trained model — those without an
    * explicit *_build catalog entry — so Bench's per-query timings
    * measure SEARCH against pre-trained state, the same basis as the
    * DuckDB oracles (which read trained sidecars). The big models
    * (ivfBig / ivfpqBig / bigVecs) are deliberately NOT warmed:
    * `ivf_build_big` / `ivfpq_build_big` / `bigvec_derive` exist to
    * time exactly those builds. */
  def warmTrainedModels(s: SparkSession, dir: String): Unit = {
    ivf16(s, dir); ivf20(s, dir); ivf8(s, dir); ivfsq16(s, dir)
    ivfsqRes16(s, dir)
    pq16(s, dir); rot64(s, dir); opqModel(s, dir); ivfpq8(s, dir)
    ivfpqr8(s, dir); twoLayer16(s, dir); ivfsh8(s, dir); ivfshCh8(s, dir)
    km8(s, dir)
    twoLevel12(s, dir); pdk8(s, dir); bivf8(s, dir); rqModel16(s, dir)
    prqModel(s, dir); imi16(s, dir); imipq16(s, dir); imisq16(s, dir)
    imisqRes16(s, dir); sqMeanstd(s, dir); ivfrq8(s, dir)
    kmSph8(s, dir); kmEnc8(s, dir); znLat16(s, dir); pca16(s, dir)
    itq32(s, dir)
    pqfs8(s, dir); ivfpqfs8(s, dir); ivfsq4(s, dir); rqfs2(s, dir)
    rqfsRs(s, dir)
    ivfrqfs8(s, dir); ivfpqfsr8(s, dir); ivfrqfsr8(s, dir); rcq16(s, dir)
    lsqfs2(s, dir); prqfs22(s, dir); prqfsModel(s, dir)
    ivfPrq8(s, dir); ivfShPca8(s, dir); ivfShPcaLin(s, dir)
    ivfShPcaCents(s, dir)
    opq32Ivfpq(s, dir)
    // factory/paren-built twins: same pre-trained-vs-search basis as
    // the direct fixtures (their oracles replay trained state too)
    factoryIvf16(s, dir); factoryRefine8(s, dir); factoryIvfHnswPq8(s, dir)
    parenPq16(s, dir); parenPqPq16(s, dir); parenSq16(s, dir)
    parenPca16(s, dir); parenPcaLin(s, dir)
    // AQ stored-norm codec state + the distributed_ondisk shared
    // quantizer: their oracles read engine sidecars / replay from the
    // trained centroid table, so training stays outside the timer
    rqNormBase(s, dir); rqNormRange(s, dir)
    rqNormCq(s, dir, 256); rqNormCq(s, dir, 16)
    rqNorm2Cb(s, dir, 0); rqNorm2Cb(s, dir, 3)
    ondiskCents16(s, dir)
    ivfRqNorm8(s, dir); ivfRqNormTwin(s, dir)
    // skewed-IVF fixture: its oracle replays search against the
    // trained-centroid sidecar, so the (hot-list) build stays outside
    // the timed run; there is no ivf_build_skewed entry to protect
    ivfSkew(s, dir)
    // SemDeDup cell centroids (VERDICT r17 #1): the oracle of
    // `semantic_neardup_cells` replays ASSIGNMENT from the trained
    // centroid sidecar, so the k-means cell training belongs here with
    // every other pre-trained small model — leaving it to the first
    // consumer made that query's bench window measure train+assign+
    // verify against a replay-only oracle (the gate's only >2x row for
    // two rounds). Same contract as the rest of this list: session-
    // memoized, no *_build catalog entry to protect.
    semCells(s, dir)
    // r19 omission sweep (same contract — trained state whose oracle
    // reads a sidecar, with no *_build entry to protect): the
    // Residual2x4 two-layer carrier (oracle: resmiq_* sidecars; its
    // training previously landed in residual_mxn_roundtrip's window),
    // the MinMax-wrapped PQ codebooks (minmaxpq_codebooks sidecar),
    // and the ICM-encoded LSQ code table (lsq_codes sidecar — ICM
    // descent is not SQL-replayable, so the oracle reads the codes
    // verbatim either way).
    resMiq24(s, dir); minmaxPqModel(s, dir); lsqCodes(s, dir)
    ()
  }

  /** Writes the trained-state sidecars that the sidecar-based oracle
    * SQLs read (see [[OracleAux]]); called by Verify after the query
    * dump so the sidecars always come from the same session (and thus
    * the same memoized models) as the compared outputs. */
  def writeOracleAux(s: SparkSession, dir: String): Unit = {
    OracleAux.write(dir, "ivf16_centroids",
      OracleAux.centroidsDf(s, ivf16(s, dir).centroids))
    OracleAux.write(dir, "pq16_codebooks",
      OracleAux.codebooksDf(s, pq16(s, dir).model.codebooks))
    OracleAux.write(dir, "pqfs_codebooks",
      OracleAux.codebooksDf(s, pqfs8(s, dir).model.codebooks))
    OracleAux.write(dir, "ivfrqfs_centroids",
      OracleAux.centroidsDf(s, ivfrqfs8(s, dir).centroids))
    // LSQ-family fast-scan trained state: codebooks + ICM-encoded int
    // codes (the twin-call of the builder's own encode; ICM descent is
    // not SQL-replayable) + norm codebooks — the oracle replays norm
    // encode, LUT quantization and the integer scan from these
    val lfs = lsqfs2(s, dir)
    OracleAux.write(dir, "lsq4fs_codebooks",
      OracleAux.codebooksDf(s, lfs.model.codebooks))
    OracleAux.write(dir, "lsq4fs_normcb",
      OracleAux.normCbDf(s, lfs.normCb))
    OracleAux.write(dir, "lsq4fs_codes",
      bDf(s, dir, 10).select(col("id"),
        lfs.model.encodeCol(col("vec"), 1, 3).as("codes")))
    // product AQ fast-scan: the EFFECTIVE zero-padded codebooks (the
    // scan's view) + per-split-encoded int codes via the twin model
    val pfs = prqfs22(s, dir)
    OracleAux.write(dir, "prq4fs_codebooks",
      OracleAux.codebooksDf(s, pfs.model.codebooks))
    OracleAux.write(dir, "prq4fs_normcb",
      OracleAux.normCbDf(s, pfs.normCb))
    OracleAux.write(dir, "prq4fs_codes",
      bDf(s, dir, 10).select(col("id"),
        prqfsModel(s, dir).encodeCol(col("vec"), 1, 0).as("codes")))
    // by-residual AQ fast-scan trained state: the oracle replays the
    // WHOLE chain (assign, greedy residual encode, reconstruction
    // norm, norm encode, LUT quantization, integer scan, bias) from
    // these three sidecars alone
    val rqfsr = ivfrqfsr8(s, dir)
    OracleAux.write(dir, "ivfrqfsr_centroids",
      OracleAux.centroidsDf(s, rqfsr.centroids))
    OracleAux.write(dir, "ivfrqfsr_codebooks",
      OracleAux.codebooksDf(s, rqfsr.model.codebooks))
    OracleAux.write(dir, "ivfrqfsr_normcb",
      OracleAux.normCbDf(s, rqfsr.normCb))
    OracleAux.write(dir, "rq4fs_normcb",
      OracleAux.normCbDf(s, rqfs2(s, dir).normCb))
    // flat AQ fast-scan trained norm_scale (rescale_norm defaults TRUE
    // for the flat family, IndexAdditiveQuantizerFastScan.h:34): the
    // oracles replay the divided-norm-column LUT quantization and the
    // NormTableScaler accumulate from this one int — typically 1 on
    // the embeddings fixture, but the replay must track whatever the
    // estimate lands on at any sf
    def writeNormScale(name: String, ns: Int): Unit = {
      import s.implicits._
      OracleAux.write(dir, name, Seq(ns).toDF("ns"))
    }
    writeNormScale("rq4fs_normscale", rqfs2(s, dir).normScale)
    writeNormScale("lsq4fs_normscale", lsqfs2(s, dir).normScale)
    writeNormScale("prq4fs_normscale", prqfs22(s, dir).normScale)
    // adversarial-span rescale fixture (norm_scale > 1 by
    // construction): codebooks + norm codebooks + int codes + the
    // trained scale — the oracle replays decode, norms, norm encode,
    // the divided-LUT quantization and the scaled integer accumulate
    val rfsrs = rqfsRs(s, dir)
    OracleAux.write(dir, "rq4fsrs_codebooks",
      OracleAux.codebooksDf(s, rfsrs.model.codebooks))
    OracleAux.write(dir, "rq4fsrs_normcb", OracleAux.normCbDf(s, rfsrs.normCb))
    OracleAux.write(dir, "rq4fsrs_codes",
      advVecs(s, dir).select(col("id"),
        rfsrs.model.encodeCol(col("vec"), 1, 0).as("codes")))
    writeNormScale("rq4fsrs_normscale", rfsrs.normScale)
    val ipqfs = ivfpqfs8(s, dir)
    OracleAux.write(dir, "ivfpqfs_centroids", OracleAux.centroidsDf(s, ipqfs.centroids))
    OracleAux.write(dir, "ivfpqfs_codebooks", OracleAux.codebooksDf(s, ipqfs.model.codebooks))
    OracleAux.write(dir, "rot64", OracleAux.matrixDf(s, rot64(s, dir).a))
    val (orot, opqm) = opqModel(s, dir)
    OracleAux.write(dir, "opq_rot", OracleAux.matrixDf(s, orot.a))
    OracleAux.write(dir, "opq_codebooks", OracleAux.codebooksDf(s, opqm.codebooks))
    val ipq = ivfpq8(s, dir)
    OracleAux.write(dir, "ivfpq_centroids", OracleAux.centroidsDf(s, ipq.centroids))
    OracleAux.write(dir, "ivfpq_codebooks", OracleAux.codebooksDf(s, ipq.model.codebooks))
    val ipqr = ivfpqr8(s, dir)
    OracleAux.write(dir, "ivfpqr_centroids", OracleAux.centroidsDf(s, ipqr.centroids))
    OracleAux.write(dir, "ivfpqr_codebooks1", OracleAux.codebooksDf(s, ipqr.model1.codebooks))
    OracleAux.write(dir, "ivfpqr_codebooks2", OracleAux.codebooksDf(s, ipqr.model2.codebooks))
    val (ppCents, ppCb) = parenPqModel(s, dir)
    OracleAux.write(dir, "parenpq_centroids", OracleAux.centroidsDf(s, ppCents))
    OracleAux.write(dir, "parenpq_codebooks", OracleAux.codebooksDf(s, ppCb))
    // RAW centroids under the SQ paren coarse (the oracle re-derives
    // the range + decode grid from these): the same deterministic
    // KMeans call the IVF16(SQ8) factory route runs internally —
    // the parenPqPq16 twin-call convention
    OracleAux.write(dir, "parensq_centroids",
      OracleAux.centroidsDf(s, cached(s"parensqcents:$dir") {
        graft.cluster.KMeans.fit(bDf(s, dir, 10), "vec",
          graft.cluster.KMeans.Params(k = 16, niter = 4, seed = 1234L))
          .centroids
      }))
    OracleAux.write(dir, "hnswtune_probes", hnswTuneProbes(s, dir))
    OracleAux.write(dir, "parenpca_rot",
      OracleAux.linearDf(s, parenPcaLin(s, dir)))
    OracleAux.write(dir, "ivfbig_centroids",
      OracleAux.centroidsDf(s, ivfBig(s, dir).centroids))
    OracleAux.write(dir, "ivfskew_centroids",
      OracleAux.centroidsDf(s, ivfSkew(s, dir).centroids))
    OracleAux.write(dir, "ondisk_centroids",
      OracleAux.centroidsDf(s, ondiskCents16(s, dir)))
    val ipqb = ivfpqBig(s, dir)
    OracleAux.write(dir, "ivfpqbig_centroids", OracleAux.centroidsDf(s, ipqb.centroids))
    OracleAux.write(dir, "ivfpqbig_codebooks", OracleAux.codebooksDf(s, ipqb.model.codebooks))
    OracleAux.write(dir, "pqfsbig_codebooks",
      OracleAux.codebooksDf(s, pqfsBig(s, dir).model.codebooks))
    val ipqImiBig = imipqBig(s, dir)
    OracleAux.write(dir, "imipqbig_coarse_cb",
      OracleAux.codebooksDf(s, ipqImiBig.coarse.codebooks))
    OracleAux.write(dir, "imipqbig_codebooks",
      OracleAux.codebooksDf(s, ipqImiBig.model.codebooks))
    OracleAux.write(dir, "bivf_centroids",
      OracleAux.bitsDf(s, bivf8(s, dir).centroidBits))
    OracleAux.write(dir, "rq_codebooks",
      OracleAux.codebooksDf(s, rqModel16(s, dir).codebooks))
    // engine-encoded base codes for the LUT search types (ST_LUT_*):
    // the oracle replays decode + LUT arithmetic from these integers
    OracleAux.write(dir, "parensub_big_centroids", {
      import s.implicits._
      val (cb, _) = graft.core.CoarsePq.assignModel(ivfBig(s, dir).centroids, 8)
      cb.zipWithIndex.toSeq.map { case (c, j) => (j, c.toSeq) }.toDF("j", "c")
        .select(col("j"), col("c").cast("array<float>").as("c"))
    })
    OracleAux.write(dir, "parensub_centroids", {
      import s.implicits._
      val (cb, _) = graft.core.CoarsePq.assignModel(ivf16(s, dir).centroids, 4)
      cb.zipWithIndex.toSeq.map { case (c, j) => (j, c.toSeq) }.toDF("j", "c")
        .select(col("j"), col("c").cast("array<float>").as("c"))
    })
    val ppq = parenPqPq16(s, dir)
    OracleAux.write(dir, "parenpqpq_cdec", OracleAux.centroidsDf(s, ppq.centroids))
    OracleAux.write(dir, "parenpqpq_codebooks",
      OracleAux.codebooksDf(s, ppq.model.codebooks))
    OracleAux.write(dir, "minmaxpq_codebooks",
      OracleAux.codebooksDf(s, minmaxPqModel(s, dir).codebooks))
    OracleAux.write(dir, "rqnorm_cq8", {
      import s.implicits._
      rqNormCq(s, dir, 256).zipWithIndex.map { case (c, j) => (j, c) }
        .toSeq.toDF("j", "c")
    })
    OracleAux.write(dir, "rqnorm_cq4", {
      import s.implicits._
      rqNormCq(s, dir, 16).zipWithIndex.map { case (c, j) => (j, c) }
        .toSeq.toDF("j", "c")
    })
    // 2-level norm codecs (rq2x4 greedy / lsq2x4 LSQ-refined): the
    // oracle replays DECODE ONLY from the engine-encoded code pairs —
    // the lsq_codes pattern
    for ((tag, iters) <- Seq(("rq", 0), ("lsq", 3))) {
      val cb = rqNorm2Cb(s, dir, iters)
      OracleAux.write(dir, s"rqnorm_${tag}2x4_cb", {
        import s.implicits._
        (for (l <- cb.indices; j <- cb(l).indices) yield (l, j, cb(l)(j)))
          .toDF("l", "j", "c")
      })
      val enc =
        if (iters == 0) graft.index.RqNorms.rq2EncodeCol(col("normsq"), cb)
        else graft.index.RqNorms.lsq2EncodeCol(col("normsq"), cb)
      OracleAux.write(dir, s"rqnorm_${tag}2x4_codes",
        rqNormBase(s, dir).withColumn("_nc", enc)
          .select(col("id"), element_at(col("_nc"), 1).as("n1"),
            element_at(col("_nc"), 2).as("n2")))
    }
    OracleAux.write(dir, "rq_codes",
      emb(s, dir).filter(col("vec_id") >= 10).select(col("vec_id").as("id"),
        rqModel16(s, dir).encodeCol(col("embedding")).as("codes")))
    // ICM-encoded (LSQ) codes over the same codebooks — the oracle
    // verifies decode-from-codes (the prq/index2layer pattern)
    OracleAux.write(dir, "lsq_codes", lsqCodes(s, dir))
    // RCQ coarse codebooks: the oracle enumerates the codeword sums
    // (exact at the rcq16 full beam) to replay assign + probes
    OracleAux.write(dir, "rcq_codebooks",
      OracleAux.codebooksDf(s, rcq16(s, dir).model.codebooks))
    // OPQ8_32,IVF16,PQ8 pipeline stages
    val (o32p, o32r, o32idx) = opq32Ivfpq(s, dir)
    OracleAux.write(dir, "opq32_pca", OracleAux.linearDf(s, o32p))
    OracleAux.write(dir, "opq32_rot", OracleAux.matrixDf(s, o32r.a))
    OracleAux.write(dir, "opq32_centroids", OracleAux.centroidsDf(s, o32idx.centroids))
    OracleAux.write(dir, "opq32_codebooks", OracleAux.codebooksDf(s, o32idx.model.codebooks))
    OracleAux.write(dir, "imi_codebooks",
      OracleAux.codebooksDf(s, imi16(s, dir).model.codebooks))
    val ipqImi = imipq16(s, dir)
    OracleAux.write(dir, "imipq_coarse_cb",
      OracleAux.codebooksDf(s, ipqImi.coarse.codebooks))
    OracleAux.write(dir, "imipq_codebooks",
      OracleAux.codebooksDf(s, ipqImi.model.codebooks))
    OracleAux.write(dir, "imisq_coarse_cb",
      OracleAux.codebooksDf(s, imisq16(s, dir).coarse.codebooks))
    OracleAux.write(dir, "imisqres_coarse_cb",
      OracleAux.codebooksDf(s, imisqRes16(s, dir).coarse.codebooks))
    OracleAux.write(dir, "kmeans8_centroids",
      OracleAux.centroidsDf(s, km8(s, dir).centroids))
    OracleAux.write(dir, "kmeans_enc_centroids",
      OracleAux.centroidsDf(s, kmEnc8(s, dir)._3.centroids))
    OracleAux.write(dir, "kmeans_sph_centroids",
      OracleAux.centroidsDf(s, kmSph8(s, dir).centroids))
    OracleAux.write(dir, "twolevel_centroids",
      OracleAux.centroidsDf(s, twoLevel12(s, dir)))
    val (prot, pmodel) = pdk8(s, dir)
    OracleAux.write(dir, "pdk_rot", OracleAux.linearDf(s, prot))
    OracleAux.write(dir, "pdk_centroids", OracleAux.centroidsDf(s, pmodel.centroids))
    OracleAux.write(dir, "pca16", OracleAux.linearDf(s, pca16(s, dir)))
    OracleAux.write(dir, "itq32", OracleAux.linearDf(s, itq32(s, dir)))
    OracleAux.write(dir, "simhash_codes",
      simhashCorpus(s, dir).select(col("doc_id").as("cid"),
        simhash64(TF.tokenize(col("text"))).as("code")))
    val tl = twoLayer16(s, dir)
    OracleAux.write(dir, "twolayer_centroids", OracleAux.centroidsDf(s, tl.centroids))
    OracleAux.write(dir, "twolayer_codebooks", OracleAux.codebooksDf(s, tl.model.codebooks))
    // Engine-encoded (id, list_no, code) with the PQ code unpacked to
    // int subquantizer indices: the index2layer oracle verifies
    // DECODE-from-codes (integer lookups + one float add) instead of
    // replaying both chained argmins in DOUBLE — near-tie assignments
    // diverge between float32 (engine) and double (SQL replay), which
    // was the only hash-red row through r05.
    val rmq = resMiq24(s, dir)
    OracleAux.write(dir, "resmiq_coarse_codebooks",
      OracleAux.codebooksDf(s, rmq.coarse.codebooks))
    OracleAux.write(dir, "resmiq_codebooks",
      OracleAux.codebooksDf(s, rmq.model.codebooks))
    // (id, j0, j1, code) with the PQ code unpacked to int indices —
    // the decode-from-codes oracle convention (see twolayer_codes)
    OracleAux.write(dir, "resmiq_codes",
      rmq.codes.select(col("id"),
        (col("cell") / 16).cast("long").cast("int").as("j0"),
        (col("cell") % 16).cast("int").as("j1"),
        transform(sequence(lit(1), lit(8)),
          i => conv(hex(col("code").substr(i, lit(1))), 16, 10).cast("int")).as("code")))
    OracleAux.write(dir, "twolayer_codes",
      tl.codes.select(col("id"), col("list_no"),
        transform(sequence(lit(1), lit(8)),
          i => conv(hex(col("code").substr(i, lit(1))), 16, 10).cast("int")).as("code")))
    val sh = ivfsh8(s, dir)
    OracleAux.write(dir, "sh_centroids", OracleAux.centroidsDf(s, sh.centroids))
    OracleAux.write(dir, "sh_rot", OracleAux.matrixDf(s, sh.vt.a))
    OracleAux.write(dir, "sh_thresh", OracleAux.centroidsDf(s, sh.thresholds))
    OracleAux.write(dir, "ivfsqres_centroids",
      OracleAux.centroidsDf(s, ivfsqRes16(s, dir).centroids))
    OracleAux.write(dir, "ivf8_centroids",
      OracleAux.centroidsDf(s, ivf8(s, dir).centroids))
    val sqm = sqMeanstd(s, dir)
    OracleAux.write(dir, "sq_meanstd_range", {
      import s.implicits._
      sqm.vmin.zip(sqm.vdiff).zipWithIndex.toSeq
        .map { case ((mn, vd), i) => (i, mn, vd) }.toDF("i", "vmn", "vd")
    })
    val prq = prqModel(s, dir)
    OracleAux.write(dir, "prq_codebooks",
      OracleAux.codebooksDf(s, prq.flatCodebooks))
    // engine-encoded PRQ codes (beam=2 + ICM, not SQL-replayable):
    // the oracle verifies decode-from-codes, the index2layer pattern
    OracleAux.write(dir, "prq_codes",
      emb(s, dir).select(col("vec_id").as("id"),
        prq.encodeCol(col("embedding"), beam = 2, icmIters = 2).as("code")))
    // IVF product-AQ trained state (effective zero-padded codebooks —
    // the scan's view; decode replay uses them directly)
    val iprq = ivfPrq8(s, dir)
    OracleAux.write(dir, "ivfprq_centroids",
      OracleAux.centroidsDf(s, iprq.centroids))
    OracleAux.write(dir, "ivfprq_codebooks",
      OracleAux.codebooksDf(s, iprq.model.codebooks))
    OracleAux.write(dir, "ivfprq_codes", iprq.codes)
    // spectral hash with the replaced PCA transform: the twin-call PCA
    // (rotation + mean bias) and coarse centroids
    OracleAux.write(dir, "ivfshpca_rot",
      OracleAux.linearDf(s, ivfShPcaLin(s, dir)))
    OracleAux.write(dir, "ivfshpca_centroids",
      OracleAux.centroidsDf(s, ivfShPcaCents(s, dir)))
    val ivfrq = ivfrq8(s, dir)
    OracleAux.write(dir, "ivfrq_centroids",
      OracleAux.centroidsDf(s, ivfrq.centroids))
    OracleAux.write(dir, "ivfrq_codebooks",
      OracleAux.codebooksDf(s, ivfrq.model.codebooks))
    OracleAux.write(dir, "ivfrq_codes", ivfrq.codes)
    // IVF-prefixed aq_norm clause (IVF8,RQ2x4_Nqint8): trained state
    // of the twin-call build — the oracle replays decode, the stored
    // residual-reconstruction norms, the qint8 grid, probe selection
    // and the LUT arithmetic from these
    val ivfrqn = ivfRqNormTwin(s, dir)
    OracleAux.write(dir, "ivfrqn_centroids",
      OracleAux.centroidsDf(s, ivfrqn.centroids))
    OracleAux.write(dir, "ivfrqn_codebooks",
      OracleAux.codebooksDf(s, ivfrqn.model.codebooks))
    OracleAux.write(dir, "ivfrqn_codes", ivfrqn.codes)
    // ZnLattice: trained norm ranges, engine-encoded per-subvector
    // integer codes, and the enumerated sphere codebook (the dataflow
    // decode_cache, lattice_Zn.h:163) — the oracle replays DECODE only
    // (integer lookups + double arithmetic), the index2layer pattern.
    val zl = znLat16(s, dir)
    OracleAux.write(dir, "zn_range", {
      import s.implicits._
      (0 until zl.nsq).map(j => (j, zl.mins(j), zl.maxs(j))).toDF("j", "mn", "mx")
    })
    OracleAux.write(dir, "zn_codes",
      emb(s, dir).select(col("vec_id").as("id"),
        graft.index.Lattice.subCodesCol(zl, col("embedding")).as("codes")))
    OracleAux.write(dir, "zn_codebook", graft.index.Lattice.codebookDf(s, zl))
  }

  /** Root the static sidecar-oracle SQLs read from: the driver's
    * correctness gate always runs at sf0.01. */
  private[graft] val AUX = s"${OracleAux.Root}/sf0.01"

  // ---- at-scale vector table -------------------------------------------
  // The embeddings table is tiny even at sf0.1 (2,000 rows), so vector
  // plans there are overhead-dominated. This derives a |lineitem|-sized
  // (600k rows at sf0.1) d=8 float vector table with exact-arithmetic
  // features (no dates, no floating parity risk), used by the *_big
  // queries that actually stress the scan/prune/top-k machinery.
  // Row id = 60-bit md5 content hash over integer-exact column casts:
  // the synthetic lineitem has no unique natural key ((orderkey,
  // linenumber) repeats with different payloads), and the hash is
  // reproducible verbatim in DuckDB (same trick as the minhash
  // oracle). Full-row duplicates collapse under DISTINCT identically
  // in both engines.
  /** Bench-only fixture multiplier (SPARK_GRAFT_SCALE_X, default 1,
    * max 16): the sf1-equivalent scaling tier replicates the derived
    * big fixtures 10x with per-copy id shifts and perturbations
    * (VERDICT r13 #4 — pushes SCALING.md a decade past the overhead
    * floor without writing to the read-only testdata). The driver's
    * correctness gate never sets it, so every oracle run sees the
    * scaleX = 1 derivations bit-identical to r13. */
  private[graft] def scaleX: Int = {
    val x = sys.env.get("SPARK_GRAFT_SCALE_X")
      .map(_.trim.toInt).filter(_ > 1).getOrElse(1)
    require(x <= 16, s"SPARK_GRAFT_SCALE_X=$x exceeds the 4-bit id shift")
    x
  }
  private[graft] def bigVecs(s: SparkSession, dir: String): DataFrame =
    cached(s"bigvecs:$dir") {
      val key = concat_ws("|",
        col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        col("l_partkey").cast("long"), col("l_suppkey").cast("long"),
        col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"))
      // widen before hashing: the sf0.1 lineitem parquet arrives as a
      // couple of file splits, which would run the 600k md5 derivations
      // on as few cores (same fix as Dedup.widen). Project to the 8
      // consumed columns FIRST so the widening shuffle moves only the
      // bytes the derivation reads.
      val src = {
        val li = lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        val target = s.sparkContext.defaultParallelism
        if (li.rdd.getNumPartitions >= target) li else li.repartition(target)
      }
      val derived = src.select(
        graft.llm.TextFunctions.fingerprint60(key).as("id"),
        array(
          col("l_quantity") / 50.0,
          col("l_extendedprice") / 100000.0,
          col("l_discount") * 10.0,
          col("l_tax") * 10.0,
          (col("l_partkey") % 1000) / 1000.0,
          (col("l_suppkey") % 100) / 100.0,
          (col("l_orderkey") % 97) / 97.0,
          col("l_linenumber") / 7.0
        ).cast("array<float>").as("vec"))
        .distinct()
      // bench-only sf1-equivalent tier (VERDICT r13 #4): replicate the
      // derived table SPARK_GRAFT_SCALE_X times with distinct ids
      // (60-bit hash truncated to 56 and shifted — no long overflow)
      // and a per-copy float perturbation so the copies are distinct
      // vectors, not co-located duplicates. scaleX = 1 (every oracle
      // run) leaves the derivation bit-identical.
      val scaled =
        if (scaleX <= 1) derived
        else derived
          .select(col("id"), col("vec"),
            explode(sequence(lit(0), lit(scaleX - 1))).as("_k"))
          .select(
            (shiftleft(col("id").bitwiseAND(lit((1L << 56) - 1)), 4) + col("_k"))
              .as("id"),
            transform(col("vec"),
              x => x + col("_k").cast("float") * lit(1.0e-4f)).as("vec"))
      val df = scaled
        // feeds every *_big query (flat scan, index builds, searches):
        // cache the ~30 MB derived table once per session rather than
        // re-running the md5+distinct shuffle per action
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
  /** ~1 query per 10k base rows, deterministically spread. */
  private[graft] def bigQueries(s: SparkSession, dir: String): DataFrame =
    bigVecs(s, dir).filter(col("id") % 9973 === 1)
      .select(col("id").as("qid"), col("vec").as("qvec"))
  /** Exact top-10 ground truth over the big table — the shared recall
    * denominator of every *_partition_search gate (tiny result:
    * |queries| x 10 rows; memoized so the three recall-gated queries
    * compute it once, the same reuse contract as the trained models). */
  private[graft] def bigTruth(s: SparkSession, dir: String): DataFrame =
    cached(s"bigtruth:$dir") {
      val t = Knn.knnJoin(bigQueries(s, dir), bigVecs(s, dir), 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }
  private[graft] val bigVecSql =
    """SELECT DISTINCT ('0x' || substr(md5(
      |    l_orderkey::BIGINT::VARCHAR || '|' || l_linenumber::BIGINT::VARCHAR || '|' ||
      |    l_partkey::BIGINT::VARCHAR || '|' || l_suppkey::BIGINT::VARCHAR || '|' ||
      |    l_quantity::BIGINT::VARCHAR || '|' || round(l_extendedprice*100)::BIGINT::VARCHAR || '|' ||
      |    round(l_discount*100)::BIGINT::VARCHAR || '|' || round(l_tax*100)::BIGINT::VARCHAR), 1, 15))::BIGINT AS id,
      |  [l_quantity/50.0, l_extendedprice/100000.0, l_discount*10.0, l_tax*10.0,
      |   (l_partkey % 1000)/1000.0, (l_suppkey % 100)/100.0,
      |   (l_orderkey % 97)/97.0, l_linenumber/7.0]::REAL[] AS vec
      |FROM lineitem""".stripMargin
  private[graft] def ivfBig(s: SparkSession, dir: String): IvfIndex =
    cached(s"ivfbig:$dir") {
      val idx = IvfIndex.build(bigVecs(s, dir), "id", "vec", nlist = 64, niter = 4)
      // materialize the assignment once: every search re-scans the
      // invlists, and the assign expression over 600k rows shouldn't
      // re-run per probe action
      idx.invlists.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      idx
    }
  /** Deliberately SKEWED big-vector table: half the rows (id % 2 = 0)
    * collapse into a tight cluster near the origin (vec * 0.001f), so
    * a trained IVF puts ~50% of the corpus into ONE hot list
    * (imbalance_factor >> 1) — the shape that kills a naive
    * list-partitioned scan at 100 TB. Float multiply replays exactly
    * in DuckDB (REAL * REAL stays REAL). */
  private[graft] def skewVecs(s: SparkSession, dir: String): DataFrame =
    cached(s"skewvecs:$dir") {
      bigVecs(s, dir).select(col("id"),
        when(pmod(col("id"), lit(2)) === 0,
          transform(col("vec"), x => x * lit(0.001f)))
          .otherwise(col("vec")).as("vec"))
    }
  /** IVF over the skewed table: one hot list with ~half the rows. */
  private[graft] def ivfSkew(s: SparkSession, dir: String): IvfIndex =
    cached(s"ivfskew:$dir") {
      val idx = IvfIndex.build(skewVecs(s, dir), "id", "vec",
        nlist = 16, niter = 4)
      idx.invlists.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count()
      idx
    }
  private[graft] def ivfpqBig(s: SparkSession, dir: String): graft.index.IvfPqIndex =
    cached(s"ivfpqbig:$dir") {
      graft.index.IvfPqIndex.build(bigVecs(s, dir), "id", "vec",
        nlist = 64, m = 4, ksub = 16, niterCoarse = 4, niterPq = 4)
    }
  private[graft] def pqfsBig(s: SparkSession, dir: String): graft.index.Pq4FastScanIndex =
    cached(s"pqfsbig:$dir") {
      graft.index.Pq4FastScanIndex.build(bigVecs(s, dir), "id", "vec",
        m = 4, niter = 4)
    }
  /** IMI2x3,PQ4 at scale (the SIFT1B flagship composition on the
    * 600k-row derived table): 64 cartesian cells from two 8-entry
    * half-space codebooks, 4-byte residual PQ codes. */
  private[graft] def imipqBig(s: SparkSession, dir: String): graft.index.ImiPqIndex =
    cached(s"imipqbig:$dir") {
      graft.index.ImiPqIndex.build(bigVecs(s, dir), "id", "vec",
        ksub = 8, m = 4, pqKsub = 16, niterCoarse = 4, niterPq = 4)
    }
  private[graft] def bivf8(s: SparkSession, dir: String): graft.index.BinaryIvfIndex =
    cached(s"bivf8:$dir") {
      graft.index.BinaryIvfIndex.buildFromVectors(bDf(s, dir, 10), "id", "vec",
        nlist = 8, niter = 4)
    }
  private[graft] def imi16(s: SparkSession, dir: String): graft.index.ImiIndex =
    cached(s"imi16:$dir") {
      graft.index.ImiIndex.build(bDf(s, dir, 10), "id", "vec", ksub = 16, niter = 4)
    }
  /** IMI2x4,PQ8 (IndexIVFPQ over the multi-index coarse — the SIFT1B
    * flagship composition at test scale, index_factory.cpp:834-878). */
  private[graft] def imipq16(s: SparkSession, dir: String): graft.index.ImiPqIndex =
    cached(s"imipq16:$dir") {
      graft.index.ImiPqIndex.build(bDf(s, dir, 10), "id", "vec", ksub = 16,
        m = 8, pqKsub = 16, niterCoarse = 4, niterPq = 4)
    }
  /** IMI2x4,SQ8 (IndexIVFScalarQuantizer over the multi-index coarse
    * — the grammar composes IMI with any IVF code). */
  private[graft] def imisq16(s: SparkSession, dir: String): graft.index.ImiSqIndex =
    cached(s"imisq16:$dir") {
      graft.index.ImiSqIndex.build(bDf(s, dir, 10), "id", "vec", ksub = 16,
        qtype = "SQ8", niterCoarse = 4)
    }
  /** The by_residual=true IMI+SQ form — what the factory builds. */
  private[graft] def imisqRes16(s: SparkSession, dir: String): graft.index.ImiSqIndex =
    cached(s"imisqres16:$dir") {
      graft.index.ImiSqIndex.build(bDf(s, dir, 10), "id", "vec", ksub = 16,
        qtype = "SQ8", niterCoarse = 4, byResidual = true)
    }
  private[graft] def rqModel16(s: SparkSession, dir: String): graft.index.RqModel =
    cached(s"rq16:$dir") {
      graft.index.Rq.train(emb(s, dir).select(col("embedding")), "embedding",
        levels = 2, k = 16, niter = 4)
    }
  /** Inner-PQ model of the MinMax,PQ8 wrapper — trained on the scaled
    * rows through the same deterministic calls roundtripDf makes. */
  private[graft] def minmaxPqModel(s: SparkSession, dir: String): graft.index.PqModel =
    cached(s"minmaxpq:$dir") {
      val scaled = graft.index.MinMaxCodec.scaledDf(
        emb(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", fp16Coeffs = false)
      // bounded-sample in-memory training — the reference's k-means
      // max_points_per_centroid convention (Clustering.h:42: ~256
      // training points per centroid, never the full add set), so the
      // sample is a CONSTANT-size collect at any sf and the driver
      // Lloyd runs in microseconds where the distributed trainer pays
      // m*niter fixed job overheads. Deterministic: id-ordered prefix
      // of the id-residue sample, seeded local k-means.
      val n = scaled.count()
      val samp = (if (n >= 8192) scaled.filter(pmod(col("id"), lit(8)) === 0)
        else scaled)
        .orderBy(col("id")).limit(4096)
        .select(col("_scaled")).collect()
        .map(_.getSeq[Float](0).toArray)
      val (cb, _) = graft.core.CoarsePq.trainEncode(samp, 8, 16,
        niter = 10, seed = 1234L)
      graft.index.PqModel(8, 16, samp(0).length / 8, cb)
    }
  /** (id, codes, normsq) base table of the AQ LUT search types — RQ
    * codes + the decoded-vector norm stored at add time. */
  private[graft] def rqNormBase(s: SparkSession, dir: String): DataFrame =
    cached(s"rqnormbase:$dir") {
      val rq = rqModel16(s, dir)
      bDf(s, dir, 10)
        .select(col("id"), rq.encodeCol(col("vec")).as("codes"))
        .withColumn("normsq", aggregate(
          rq.decodeCol(col("codes")).cast("array<double>"),
          lit(0.0), (a, x) => a + x * x))
        .cache()
    }
  /** Trained [norm_min, norm_max] (AdditiveQuantizer::train_norm). */
  private[graft] def rqNormRange(s: SparkSession, dir: String): (Double, Double) =
    cached(s"rqnrange:$dir") {
      graft.index.RqNorms.range(rqNormBase(s, dir), "normsq")
    }
  /** cqint<b> 1-D norm codebook (Clustering1D::train_exact). */
  private[graft] def rqNormCq(s: SparkSession, dir: String, k: Int): Array[Double] =
    cached(s"rqcq$k:$dir") {
      graft.index.RqNorms.cqCentroids(rqNormBase(s, dir), "normsq", k)
    }
  /** Two-level 1-D norm codebooks over the stored norms —
    * `lsqIters = 0` is the greedy rq2x4 trainer, `> 0` the
    * LSQ-refined lsq2x4 one (ST_norm_rq2x4 / ST_norm_lsq2x4). */
  private[graft] def rqNorm2Cb(s: SparkSession, dir: String, lsqIters: Int): Array[Array[Double]] =
    cached(s"rqn2cb$lsqIters:$dir") {
      graft.index.RqNorms.norm2Codebooks(rqNormBase(s, dir), "normsq",
        lsqIters = lsqIters)
    }
  /** Shared engine chain of the quantized-norm AQ search types
    * (ST_norm_qint8/qint4/cqint8/cqint4): identical to rq_lut_search
    * except the stored ||x̂||² term goes through `dec`. */
  private[graft] def rqQnormSearch(s: SparkSession, dir: String,
      dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val rq = rqModel16(s, dir)
    val b = rqNormBase(s, dir).withColumn("nq", dec(col("normsq")))
    val q = qDf(s, dir, 10).select(col("qid"), rq.lutCol(col("qvec")).as("lut"),
      aggregate(col("qvec").cast("array<double>"), lit(0.0),
        (a, x) => a + x * x).as("qn"))
    b.crossJoin(broadcast(q))
      .select(col("qid"), col("id"),
        (col("qn") - lit(2.0) * rq.ipFromLutCol(col("codes"), col("lut"))
          + col("nq")).as("_d"))
      .transform(TopKAgg.ranked(_, Seq(col("qid")), col("_d"), col("id"), 5, asc = true))
      .select(col("qid"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
  }
  private[graft] def prqModel(s: SparkSession, dir: String): graft.index.PrqModel =
    cached(s"prq:$dir") {
      graft.index.Prq.train(emb(s, dir).select(col("embedding")), "embedding",
        nsplit = 2, levels = 2, k = 16, niter = 4, beam = 2)
    }
  private[graft] def ivfrq8(s: SparkSession, dir: String): graft.index.IvfRqIndex =
    cached(s"ivfrq8:$dir") {
      graft.index.IvfRq.build(bDf(s, dir, 10), "id", "vec",
        nlist = 8, levels = 2, k = 16, niterCoarse = 4, niterRq = 4,
        beam = 2, icmIters = 1)
    }
  /** LSQ codes (IndexLocalSearchQuantizer, IndexAdditiveQuantizer.h:119):
    * the rq16 codebooks ENCODED by iterated conditional modes
    * (LocalSearchQuantizer::icm_encode — RqKernels.encodeIcm) instead
    * of beam search; decode/search are the shared AQ paths. */
  private[graft] def lsqCodes(s: SparkSession, dir: String): DataFrame =
    cached(s"lsqcodes:$dir") {
      bDf(s, dir, 10).select(col("id"),
        rqModel16(s, dir).encodeCol(col("vec"), beam = 1, icmIters = 2).as("codes"))
    }
  /** IVF16(RCQ2x2),Flat at FULL beam (16 = nlist = 4^2): assignment
    * and probe selection degenerate to the exact argmin over the
    * enumerated codeword sums, so the oracle can replay them from the
    * codebooks sidecar. */
  private[graft] def rcq16(s: SparkSession, dir: String): graft.index.IvfRcqFlatIndex =
    cached(s"rcq16:$dir") {
      graft.index.IvfRcq.build(bDf(s, dir, 10), "id", "vec",
        levels = 2, bits = 2, beam = 16, niter = 4)
    }
  /** The OPQ8_32,IVF16,PQ8 pipeline (dimension-changing OPQ prefix,
    * reference tests/test_factory.py OPQ16_64 form): PCA 64→32, OPQ
    * rotation in the reduced space, residual IVFPQ — the exact steps
    * IndexFactory takes for the same string at niter = 4, held as
    * pieces so the sidecars can replay each stage. */
  private[graft] def opq32Ivfpq(s: SparkSession, dir: String):
      (graft.transform.Linear, graft.transform.Linear, graft.index.IvfPqIndex) =
    cached(s"opq32ivfpq:$dir") {
      val base = bDf(s, dir, 10)
      val p = graft.transform.Transforms.pca(base, "vec", 32)
      val reduced = base.withColumn("vec", p.applyCol(col("vec")))
      val (rot, _) = graft.transform.Opq.trainOpq(reduced, "vec", 8,
        ksub = 16, outerIters = 2, pqIters = 4)
      val rotated = reduced.withColumn("vec", rot.applyCol(col("vec")))
      val idx = graft.index.IvfPqIndex.build(rotated, "id", "vec",
        nlist = 16, m = 8, ksub = 16, niterCoarse = 4, niterPq = 4)
      (p, rot, idx)
    }
  /** ZnLattice16x10_8 over the d=64 embeddings: 16 subvectors of
    * dim 4, sphere r2=10 (nv=144 points, 8-bit lattice code), 8-bit
    * scale (faiss/IndexLattice.h:22; factory index_factory.cpp:536). */
  private[graft] def znLat16(s: SparkSession, dir: String): graft.core.LatticeCodec =
    cached(s"znlat16:$dir") {
      graft.index.Lattice.train(emb(s, dir), "embedding",
        nsq = 16, scaleNbit = 8, r2 = 10)
    }
  private[graft] def docsDf(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
  /** Bench-only sf1-equivalent replication (the bigVecs convention):
    * `sx` copies with ids shifted by copy*2^40 and a per-(pair-group,
    * copy) hash noise that is ORTHOGONALIZED against the vector and
    * rescaled to the FIXED length 0.4*||v||. Noise is keyed on the
    * PAIR GROUP (id % groupMod), so each copy keeps any planted
    * exact-dup pair whose members share a group (identical vector +
    * identical noise -> stays an exact dup), while the same base
    * vector across copies lands at the DETERMINISTIC
    * cos = 1/sqrt(1.16) = 0.9285 vs pristine copy 0 (delta
    * perpendicular to v, |delta| = 0.4||v|| exactly — no
    * distributional tail; the r15 per-dim uniform amplitude left a
    * ~9% tail of copy0-vs-copyk pairs ABOVE the 0.95 near-dup
    * threshold) and cos ~ 0.86 between two noisy copies: planted
    * near-dup structure replicates linearly instead of collapsing
    * into one quadratic cross-copy clique, and each pair group stays
    * a TIGHT local cluster (diameter <= ~1.1*0.4) instead of a
    * diffuse fog. Copy 0 is pristine; sx <= 1 (every oracle run)
    * returns the input bit-identically (same DataFrame reference).
    * ScaleXSpec pins all three properties. */
  private[graft] def replicatePairGroups(df: DataFrame, idCol: String,
      vecCol: String, sx: Int, groupMod: Long = 10000L): DataFrame =
    if (sx <= 1) df
    else df
      .select(col(idCol), col(vecCol),
        (col(idCol) % groupMod).as("_g"),
        explode(sequence(lit(0), lit(sx - 1))).as("_k"))
      .select((col(idCol) + col("_k").cast("long") * lit(1L << 40)).as(idCol),
        shim.col(graft.core.ReplicaNoise(
          shim.expr(col(vecCol)),
          shim.expr(col("_g").cast("long")),
          shim.expr(col("_k").cast("long")))).as(vecCol))
  /** Embeddings with planted exact duplicates (vec_id + 10000): the
    * corpus the embedding near-dup and semantic-dedup queries run on
    * (guarantees >= 0.95-cosine pairs exist at any sf). The scaleX
    * tier replicates via [[replicatePairGroups]] (pair group =
    * vec_id % 10000, exactly the planted-dup pairing). */
  private[graft] def doubledEmb(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val doubled = e.unionByName(
      e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    replicatePairGroups(doubled, "vec_id", "embedding", scaleX)
  }
  /** The verified >= 0.95-cosine embedding near-dup pair set, shared
    * by the pair-listing and semantic-dedup queries (same
    * run-once-per-session contract as [[nearDups08]]). */
  private[graft] def embPairs95(s: SparkSession, dir: String): DataFrame =
    cached(s"embpairs95:$dir") {
      Dedup.embeddingNearDups(doubledEmb(s, dir), "vec_id", "embedding", 0.95)
    }
  /** The verified >= 0.95-cosine WITHIN-CELL pair set (SemDeDup,
    * bounded n^1.5 work — the 100 TB pair source), shared by the
    * pair-listing and cells-dedup queries (same run-once-per-session
    * contract as [[embPairs95]]; the operator itself persists the
    * returned pairs). */
  private[graft] def cellPairs95(s: SparkSession, dir: String): DataFrame =
    cached(s"cellpairs95:$dir") {
      Dedup.embeddingNearDupsWithinCells(doubledEmb(s, dir), "vec_id",
        "embedding", 0.95, semCells(s, dir))
    }
  /** SemDeDup cell centroids over [[doubledEmb]] (k = max(16,
    * ceil(sqrt(n))) — the sqrt-occupancy n^1.5 work point), trained
    * once per session and sidecarred for the DuckDB assignment
    * replay of `semantic_neardup_cells`. */
  private[graft] def semCells(s: SparkSession, dir: String): Array[Array[Float]] =
    cached(s"semcells:$dir") {
      val d = doubledEmb(s, dir)
      val k = math.max(16, math.ceil(math.sqrt(d.count().toDouble)).toInt)
      val cents = graft.cluster.KMeans.fit(d.select(col("embedding")),
        "embedding",
        graft.cluster.KMeans.Params(k = k, niter = 4, seed = 1234L)).centroids
      OracleAux.write(dir, "semcells_centroids", OracleAux.centroidsDf(s, cents))
      cents
    }
  /** The one MinHash-LSH near-dup pipeline at the catalog's standard
    * parameters, shared by every query that consumes its verified
    * pairs (candidates, corpus dedup) — the signature+band+verify
    * pipeline is the most expensive job in the catalog and must run
    * once per session, not once per consuming query. */
  private[graft] def nearDups08(s: SparkSession, dir: String): DataFrame =
    cached(s"neardups08:$dir") {
      Dedup.nearDupPairs(docsDf(s, dir), "doc_id", "text",
        threshold = 0.8, ngram = 3, hashes = 12, bands = 4)
    }
  private[graft] def commentPairs(s: SparkSession, dir: String): DataFrame =
    cached(s"commentPairs:$dir") {
      Dedup.nearDupPairs(commentCorpus(s, dir), "doc_id", "text",
        threshold = 0.8, ngram = 3, hashes = 12, bands = 4)
    }

  // DuckDB SQL fragments ------------------------------------------------
  private[graft] val dL2 = "list_distance(q.embedding::DOUBLE[], b.embedding::DOUBLE[])^2"
  private[graft] val dIp = "list_inner_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[])"
  private[graft] val dCos = "list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[])"
  private[graft] val dL1 =
    "list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]-p[2])), 'sum')"
  private[graft] val dLinf =
    "list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]-p[2])), 'max')"
  private[graft] val dLp3 =
    "list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> abs(p[1]-p[2])^3), 'sum')"
  private[graft] val dCanb =
    "list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), p -> CASE WHEN abs(p[1])+abs(p[2]) > 0 THEN abs(p[1]-p[2])/(abs(p[1])+abs(p[2])) ELSE 0 END), 'sum')"
  // float (generalized) Jaccard over |x| vectors: (sum max - sum min) /
  // sum max — the same formula order as VecKernels.jaccardFloat so the
  // doubles agree bit-for-bit before rounding
  private[graft] val dJacSumMin =
    "list_aggregate(list_transform(list_zip(list_transform(q.embedding::DOUBLE[], v -> abs(v)), list_transform(b.embedding::DOUBLE[], v -> abs(v))), p -> least(p[1], p[2])), 'sum')"
  private[graft] val dJacSumMax =
    "list_aggregate(list_transform(list_zip(list_transform(q.embedding::DOUBLE[], v -> abs(v)), list_transform(b.embedding::DOUBLE[], v -> abs(v))), p -> greatest(p[1], p[2])), 'sum')"
  private[graft] val dJacF =
    s"(CASE WHEN $dJacSumMax = 0 THEN 1.0 ELSE ($dJacSumMax - $dJacSumMin) / $dJacSumMax END)"
  // float Hamming over floor(x*2)-quantized vectors: mismatch count
  private[graft] val dHamF =
    "list_aggregate(list_transform(list_zip(list_transform(q.embedding::DOUBLE[], v -> floor(v*2)), list_transform(b.embedding::DOUBLE[], v -> floor(v*2))), p -> CASE WHEN p[1] <> p[2] THEN 1.0 ELSE 0.0 END), 'sum')"

  /** Windowed-top-k oracle: the SQL-expressible form of the TopK
    * aggregate (SURVEY §2.5). */
  private[graft] def knnOracle(dist: String, qPred: String, bPred: String, k: Int,
      desc: Boolean = false): String = {
    val ord = if (desc) s"$dist DESC, b.vec_id" else s"$dist, b.vec_id"
    s"""SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
       |  SELECT q.vec_id AS qid, b.vec_id AS id, $dist AS dist,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $ord) AS "rank"
       |  FROM embeddings q CROSS JOIN embeddings b
       |  WHERE $qPred AND $bPred) t
       |WHERE "rank" <= $k""".stripMargin
  }

  /** Probe-replay IVF oracle at nprobe=4, parameterized by the
    * centroid sidecar: shared by the exact coarse assign
    * (`ivf_search_nprobe4`), its HNSW-degenerate twin
    * (`ivf_hnsw_search`), and — over the two-level-trained
    * `ondisk_centroids` sidecar — the distributed_ondisk recipe
    * (whose merged store must search exactly like a single build
    * against the same quantizer). */
  private[graft] def ivfNprobe4SqlOver(centName: String): String =
    s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/$centName/*.parquet')),
       |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
       |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 4),
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
       |WHERE "rank" <= 10""".stripMargin

  private[graft] lazy val ivfNprobe4Sql: String = ivfNprobe4SqlOver("ivf16_centroids")
  private[graft] lazy val ondiskNprobe4Sql: String = ivfNprobe4SqlOver("ondisk_centroids")

  /** Probe-replay IVF oracle at nprobe=8 over the big corpus + ivfbig
    * centroid sidecar — shared by the single-build search
    * (`ivf_search_big`) and the distributed_ondisk recipe's big twin
    * (same quantizer ⇒ merged shard-built store must return the
    * identical top-k: the merge≡single-index invariant of
    * tests/test_merge.cpp at scale). */
  private[graft] lazy val ivfBigNprobe8Sql: String =
    s"""WITH v AS ($bigVecSql),
       |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfbig_centroids/*.parquet')),
       |qc AS (SELECT q.id AS qid, c.list_no, row_number() OVER (PARTITION BY q.id ORDER BY
       |    list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
       |  FROM v q CROSS JOIN cent c WHERE q.id % 9973 = 1),
       |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 8),
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
       |WHERE "rank" <= 10""".stripMargin

  /** Quantized-norm AQ oracle for the 2-level 1-D codecs
    * (ST_norm_rq2x4 / ST_norm_lsq2x4): the shared rq_codes decode
    * chain with the stored-norm term DECODED from the engine-encoded
    * code pairs (`rqnorm_<tag>2x4_codes`) against the codebook
    * sidecar — nqd = cb1[n1] + cb2[n2]. */
  private[graft] def rqNorm2x4Sql(tag: String): String =
    s"""WITH cb AS (SELECT m, j, c FROM read_parquet('$AUX/rq_codebooks/*.parquet')),
       |codes AS (SELECT id, codes FROM read_parquet('$AUX/rq_codes/*.parquet')),
       |dec AS (SELECT codes.id, c0.c AS cv0, c1.c AS cv1
       |  FROM codes JOIN cb c0 ON c0.m = 0 AND c0.j = codes.codes[1]
       |  JOIN cb c1 ON c1.m = 1 AND c1.j = codes.codes[2]),
       |ncb AS (SELECT l, j, c FROM read_parquet('$AUX/rqnorm_${tag}2x4_cb/*.parquet')),
       |ncodes AS (SELECT id, n1, n2 FROM read_parquet('$AUX/rqnorm_${tag}2x4_codes/*.parquet')),
       |nq AS (SELECT d.id, d.cv0, d.cv1, c1.c + c2.c AS nqd
       |  FROM dec d JOIN ncodes nc ON nc.id = d.id
       |  JOIN ncb c1 ON c1.l = 0 AND c1.j = nc.n1
       |  JOIN ncb c2 ON c2.l = 1 AND c2.j = nc.n2),
       |d AS (SELECT q.vec_id AS qid, nq.id,
       |    (list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], q.embedding::DOUBLE[]), p -> p[1]*p[2]), 'sum')
       |     - 2*(list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv0::DOUBLE[]), p -> p[1]*p[2]), 'sum')
       |        + list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], nq.cv1::DOUBLE[]), p -> p[1]*p[2]), 'sum')))
       |    + nq.nqd AS dist
       |  FROM nq CROSS JOIN embeddings q WHERE q.vec_id < 10)
       |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
       |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM d) w
       |WHERE "rank" <= 5""".stripMargin

  /** Full IVFPQ replay at nprobe = nlist, parameterized by the
    * centroid/codebook sidecars — shared by the exact coarse assign
    * (`ivfpq_search`), its HNSW-coarse degenerate twin, and the
    * lossy-quantizer composition (whose "centroids" are the decoded
    * table). */
  private[graft] def ivfpqFullProbeSql(centName: String, cbName: String): String =
    s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/$centName/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/$cbName/*.parquet')),
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
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin

  private[graft] lazy val ivfpqNprobe8Sql: String =
    ivfpqFullProbeSql("ivfpq_centroids", "ivfpq_codebooks")

  /** Quantized-LUT integer fast-scan replay at nprobe=4, shared by
    * `ivfpq4fs_search` and its HNSW-coarse degenerate twin. */
  private[graft] lazy val ivfpq4fsNprobe4Sql: String =
    s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpqfs_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/ivfpqfs_codebooks/*.parquet')),
              |qc AS (SELECT q.vec_id AS qid, c.list_no, row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |probes AS (SELECT qid, list_no FROM qc WHERE pr <= 4),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
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
              |colstat AS (SELECT qid, m, min(pd) AS mn, max(pd) - min(pd) AS span FROM lut GROUP BY qid, m),
              |scal AS (SELECT qid, 255.0 / max(span) AS a,
              |    list_aggregate(list(mn ORDER BY m), 'sum') AS b FROM colstat GROUP BY qid),
              |lq AS (SELECT l.qid, l.m, l.j, floor((l.pd - cs.mn) * sc.a + 0.5)::BIGINT AS lq
              |  FROM lut l JOIN colstat cs ON cs.qid = l.qid AND cs.m = l.m
              |  JOIN scal sc ON sc.qid = l.qid),
              |acc AS (SELECT l.qid, e.id, sum(l.lq)::BIGINT AS qdist
              |  FROM enc e JOIN lq l ON l.m = e.m AND l.j = e.j
              |  JOIN basg ba ON ba.id = e.id JOIN probes p ON p.qid = l.qid AND p.list_no = ba.list_no
              |  GROUP BY l.qid, e.id)
              |SELECT w.qid, "rank", id, qdist, round(qdist / sc.a + sc.b, 4) AS dist FROM (
              |  SELECT qid, id, qdist, row_number() OVER (PARTITION BY qid ORDER BY qdist, id) AS "rank" FROM acc) w
              |JOIN scal sc ON sc.qid = w.qid WHERE "rank" <= 10""".stripMargin

  /** by_residual IVF-SQ replay at nprobe = nlist, shared by
    * `ivfsq_residual_search` and its HNSW-coarse degenerate twin. */
  private[graft] lazy val ivfsqResidualSql: String =
    s"""WITH cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfsqres_centroids/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.vec_id AS id, c.list_no, row_number() OVER (PARTITION BY b.vec_id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.embedding::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM embeddings b CROSS JOIN cent c WHERE b.vec_id >= 10) t WHERE rn = 1),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN embeddings b ON b.vec_id = a.id JOIN cent c ON c.list_no = a.list_no),
              |dims AS (
              |  SELECT list(mn ORDER BY i) AS vmn, list(mx - mn ORDER BY i) AS vd FROM (
              |    SELECT i, min(e) AS mn, max(e) AS mx
              |    FROM (SELECT unnest(res::DOUBLE[]) AS e, generate_subscripts(res, 1) AS i
              |          FROM bres) u GROUP BY i) t),
              |dec AS (SELECT id, list_no,
              |  list_transform(res::DOUBLE[], (x, i) ->
              |    vmn[i] + (floor(255 * (CASE WHEN vd[i] = 0 THEN 0
              |      ELSE least(greatest((x - vmn[i]) / vd[i], 0), 1) END)) + 0.5) / 255 * vd[i]) AS dv
              |  FROM bres, dims),
              |qres AS (SELECT q.vec_id AS qid, c.list_no,
              |    list_transform(list_zip(q.embedding, c.c), p -> p[1] - p[2]) AS res
              |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10),
              |qd AS (SELECT qr.qid, b.id,
              |  list_aggregate(list_transform(list_zip(qr.res::DOUBLE[], b.dv),
              |    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist
              |  FROM dec b JOIN qres qr ON qr.list_no = b.list_no)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank"
              |  FROM qd) w WHERE "rank" <= 5""".stripMargin

  /** Full flat fast-scan replay at scale (encode + LUT quantization +
    * the integer scan over the pqfsbig sidecars) — shared by
    * `pq4fs_search_big` and its save/load lifecycle twin
    * `fastscan_io_big` (the reloaded index must reproduce the scan
    * verbatim). */
  private[graft] lazy val pq4fsBigSql: String =
    s"""WITH v AS ($bigVecSql),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/pqfsbig_codebooks/*.parquet')),
              |bsub AS (SELECT id, r.m AS m, vec[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM v, range(0,4) r(m)),
              |enc AS (SELECT id, m, j FROM (
              |  SELECT b.id, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qsub AS (SELECT id AS qid, r.m AS m, vec[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM v, range(0,4) r(m) WHERE id % 9973 = 1),
              |lut AS (SELECT q.qid, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |colstat AS (SELECT qid, m, min(pd) AS mn, max(pd) - min(pd) AS span FROM lut GROUP BY qid, m),
              |scal AS (SELECT qid, 255.0 / max(span) AS a,
              |    list_aggregate(list(mn ORDER BY m), 'sum') AS b FROM colstat GROUP BY qid),
              |lq AS (SELECT l.qid, l.m, l.j, floor((l.pd - cs.mn) * sc.a + 0.5)::BIGINT AS lq
              |  FROM lut l JOIN colstat cs ON cs.qid = l.qid AND cs.m = l.m
              |  JOIN scal sc ON sc.qid = l.qid),
              |acc AS (SELECT l.qid, e.id, sum(l.lq)::BIGINT AS qdist
              |  FROM enc e JOIN lq l ON l.m = e.m AND l.j = e.j GROUP BY l.qid, e.id)
              |SELECT w.qid, "rank", id, qdist, round(qdist / sc.a + sc.b, 4) AS dist FROM (
              |  SELECT qid, id, qdist, row_number() OVER (PARTITION BY qid ORDER BY qdist, id) AS "rank" FROM acc) w
              |JOIN scal sc ON sc.qid = w.qid WHERE "rank" <= 10""".stripMargin

  /** Full IVFPQ replay at scale (nprobe=8 over the ivfpqbig
    * sidecars) — shared by the exact coarse assign
    * (`ivfpq_search_big`) and its HNSW-coarse degenerate twin. */
  private[graft] lazy val ivfpqBigSql: String =
    s"""WITH v AS ($bigVecSql),
              |cent AS (SELECT list_no, c FROM read_parquet('$AUX/ivfpqbig_centroids/*.parquet')),
              |cb AS (SELECT m, j, c::DOUBLE[] AS c FROM read_parquet('$AUX/ivfpqbig_codebooks/*.parquet')),
              |basg AS (SELECT id, list_no FROM (
              |  SELECT b.id, c.list_no, row_number() OVER (PARTITION BY b.id ORDER BY
              |    list_aggregate(list_transform(list_zip(b.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS rn
              |  FROM v b CROSS JOIN cent c) t WHERE rn = 1),
              |bres AS (SELECT a.id, a.list_no,
              |    list_transform(list_zip(b.vec, c.c), p -> p[1] - p[2]) AS res
              |  FROM basg a JOIN v b ON b.id = a.id JOIN cent c ON c.list_no = a.list_no),
              |bsub AS (SELECT id, list_no, r.m AS m, res[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM bres, range(0,4) r(m)),
              |enc AS (SELECT id, list_no, m, j FROM (
              |  SELECT b.id, b.list_no, b.m, cb.j, row_number() OVER (PARTITION BY b.id, b.m ORDER BY
              |    list_aggregate(list_transform(list_zip(b.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cb.j) AS rn
              |  FROM bsub b JOIN cb ON cb.m = b.m) t WHERE rn = 1),
              |qc AS (SELECT q.id AS qid, c.list_no, q.vec, c.c, row_number() OVER (PARTITION BY q.id ORDER BY
              |    list_aggregate(list_transform(list_zip(q.vec::DOUBLE[], c.c::DOUBLE[]), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), c.list_no) AS pr
              |  FROM v q CROSS JOIN cent c WHERE q.id % 9973 = 1),
              |qres AS (SELECT qid, list_no,
              |    list_transform(list_zip(vec, c), p -> p[1] - p[2]) AS res
              |  FROM qc WHERE pr <= 8),
              |qsub AS (SELECT qid, list_no, r.m AS m, res[r.m*2+1:r.m*2+2]::DOUBLE[] AS sv
              |         FROM qres, range(0,4) r(m)),
              |lut AS (SELECT q.qid, q.list_no, q.m, cb.j,
              |    list_aggregate(list_transform(list_zip(q.sv, cb.c), p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS pd
              |  FROM qsub q JOIN cb ON cb.m = q.m),
              |adc AS (SELECT l.qid, e.id, list_aggregate(list(l.pd ORDER BY l.m), 'sum') AS dist
              |  FROM enc e JOIN lut l ON l.list_no = e.list_no AND l.m = e.m AND l.j = e.j
              |  GROUP BY l.qid, e.id)
              |SELECT qid, "rank", id, round(dist, 4) AS dist FROM (
              |  SELECT qid, id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS "rank" FROM adc) w
              |WHERE "rank" <= 10""".stripMargin
}
