package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level wall-clock attribution for the at-scale MinHash dedup
  * pipeline (the one bench query near the 2x oracle gate). Times each
  * stage of the `minhash_neardup_big` chain in isolation so the hot
  * spot is measurable instead of guessed. Run:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileMinhash /root/testdata/sf0.1"
  *
  * Extra modes (second arg; third arg = corpus replication factor,
  * default 1, NOT limited by the env scaleX <= 16 cap — the corpus
  * derives via Queries.commentCorpusAt):
  *
  *  - `counts <scale>` — candidate-count probe at the catalog's fixed
  *    params (ngram 3, hashes 12, bands 4): corpus size, bucket
  *    histogram (max size, sum of C(B,2) pair expansions), distinct
  *    candidate count. No verify stage — the cheap linearity check.
  *    FIFTH-DECADE RESULT (r19, sf0.1 inputs, this mode at scales
  *    1/10/100 — a decade past the r18 modulus-fix measurement):
  *    docs 300,282 / 3,002,820 / 30,028,200; distinct candidates
  *    114,290 / 1,146,248 / 11,771,316 — growth 10.03x then 10.27x
  *    (1.003x and 1.027x of exactly-linear, both far inside the 1.2x
  *    line the verdict asked for); bucket pair expansions 1,289,804 /
  *    12,907,532 / 129,949,488 (10.007x then 10.068x); max bucket
  *    size 12 / 12 / 20, p99.9 bucket size 8 at every scale. The
  *    2.7% candidate excess over exactly-linear at 3.0e7 docs is the
  *    leading edge of base-hash-space loading (3e8 doc-shingles
  *    against M = 2^32-5 — the SimHash.scala saturation formula puts
  *    the knee around n ~ 4e8 docs at 10 shingles/doc), visible,
  *    bounded, and exactly where the formula predicts; a corpus
  *    decades past that point raises rows-per-band per
  *    Dedup.autoMinhashParams, which re-suppresses the tail
  *    exponentially in r.
  *
  *  - `auto <scale>` — derives (hashes, bands) from the corpus count
  *    via Dedup.autoMinhashParams(n, 0.8) and runs the SAME counts
  *    plus the exact-Jaccard verified-pair count, so the auto policy's
  *    candidate line is measured, not asserted. r19 RESULT (sf0.1
  *    inputs): scale 1 (n=300,282 -> rows-per-band 7, bands 5,
  *    hashes 35) candidates 114,262, verified 236,287; scale 10
  *    (n=3,002,820 -> rows-per-band 8, bands 6, hashes 48) candidates
  *    1,143,140 (10.005x — ON the true-pair line), verified 2,362,870
  *    (exactly 10.0x: verification is exact Jaccard, so the policy
  *    changes the CANDIDATE set only, and recall at J=1.0 planted
  *    pairs is unchanged). The auto choice spends 3-4x the signature
  *    hashes to hold the false-candidate expectation at <= 1 per doc
  *    as n grows — the 100 TB posture where signatures are an
  *    embarrassingly-parallel map but a quadratic candidate join is
  *    fatal. (Count semantics: candidates are DISTINCT (i, j) pairs;
  *    verified counts are result ROWS, which carry the corpus's
  *    duplicate-doc_id multiplicities — the driver lineitem has
  *    duplicate (l_orderkey, l_linenumber) rows, so 300,282 docs hold
  *    114,254 distinct texts and a verified pair row appears once per
  *    (copy of i) x (copy of j). Both quantities replicate linearly
  *    by construction, which is exactly what the probe checks.)
  */
object ProfileMinhash {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mode = if (args.length > 1) args(1) else "full"
    val scale = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    import graft.llm.Dedup

    // per-stage executor CPU + shuffle bytes (steal-immune): wall alone
    // cannot separate a super-linear plan term from box contention
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shufB = new java.util.concurrent.atomic.AtomicLong
    val spillB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          shufB.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    def time[T](label: String)(f: => T): T = {
      System.gc()
      val (c0, s0, p0) = (cpuNs.get, shufB.get, spillB.get)
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"  cpu ${(cpuNs.get - c0) / 1e9}%8.2f s  shuffle ${(shufB.get - s0) >> 20}%6d MB" +
        f"  spill ${(spillB.get - p0) >> 20}%6d MB")
      r
    }

    def bucketHistogram(banded: org.apache.spark.sql.DataFrame): Unit = {
      val h = banded.groupBy(col("band_id"), col("band_hash"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("sz")).as("max_sz"),
          expr("percentile_approx(sz, 0.999)").as("p999_sz"),
          sum(col("sz") * (col("sz") - 1) / 2).as("pair_expansions"),
          sum(when(col("sz") >= 2, 1).otherwise(0)).as("buckets_ge2"))
        .collect()(0)
      System.err.println(s"[profile]   buckets=${h.get(0)} max_sz=${h.get(1)} " +
        s"p999_sz=${h.get(2)} pair_expansions=${h.get(3)} buckets_ge2=${h.get(4)}")
    }

    if (mode == "counts" || mode == "auto") {
      // candidate-count linearity probe: band + bucket + candidate
      // counts only (and, in auto mode, the verified-pair count) at an
      // EXPLICIT corpus replication factor — scale 100 runs the fifth
      // decade the env scaleX cap can't reach
      val corpus = graft.Queries.commentCorpusAt(spark, dir, scale)
      val n = time(s"corpus derive+persist (x$scale)") { corpus.count() }
      System.err.println(s"[profile]   docs=$n")
      val (hashes, bands) =
        if (mode == "auto") graft.llm.Dedup.autoMinhashParams(n, 0.8)
        else (12, 4)
      System.err.println(s"[profile]   params: hashes=$hashes bands=$bands" +
        s" rows_per_band=${hashes / bands} (${mode})")
      val banded = time("band table (sig+bands)") {
        val b = Dedup.bandTable(corpus, "doc_id", "text", 3, hashes, bands)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        b.count(); b
      }
      time("bucket histogram") { bucketHistogram(banded) }
      val cand = time("candidates (distinct pairs)") {
        val c = Dedup.candidatesFrom(banded)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        System.err.println(s"[profile]   candidates: ${c.count()}")
        c
      }
      banded.unpersist(false)
      if (mode == "auto") {
        time("verify (sorted-long kernel)") {
          val out = Dedup.nearDupPairs(corpus, "doc_id", "text", 0.8, 3,
            hashes, bands)
          System.err.println(s"[profile]   verified pairs: ${out.count()}")
          Dedup.release(out)
        }
      }
      cand.unpersist(false)
      spark.stop()
      return
    }

    // THE catalog's corpus derivation — shared with the bench-gated
    // query so the profiled stages can never desynchronize from it
    val corpus = graft.Queries.commentCorpus(spark, dir)
    time("corpus derive+persist") { corpus.count() }

    // the stages of Dedup.nearDupPairs, timed individually
    val banded = time("band table (sig+bands)") {
      val b = Dedup.bandTable(corpus, "doc_id", "text", 3, 12, 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count(); b
    }
    // bucket-size distribution: the LSH collision tail IS sum over
    // buckets of C(size, 2) — if candidate pairs grow super-linearly
    // with the corpus, this histogram names the term (VERDICT r17 #2)
    time("bucket histogram") { bucketHistogram(banded) }
    val cand = time("candidate self-join") {
      val c = Dedup.candidatesFrom(banded)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      System.err.println(s"[profile]   candidates: ${c.count()}")
      c
    }
    val sets = time("shingle sets") {
      val s = corpus.select(col("doc_id").as("_id"),
        graft.llm.TextFunctions.shingleSet(col("text"), 3).as("_set"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.count(); s
    }
    time("verify (string array_intersect)") {
      val out = Dedup.pairJaccardWith(cand, sets)
        .filter(col("jaccard") >= 0.8)
      System.err.println(s"[profile]   verified pairs: ${out.count()}")
    }
    // the OPERATOR's verify form (nearDupPairs): sorted distinct 60-bit
    // long hashes + merge-pass intersect kernel
    val hsets = time("long-hash sets") {
      val s = corpus.select(col("doc_id").as("_id"),
        graft.llm.TextFunctions.minhashBandsAndHashSet(col("text"), 3, 12, 4)
          .getField("sh").as("_set"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.count(); s
    }
    time("verify (sorted-long kernel)") {
      import org.apache.spark.sql.graft.shim
      val inter = shim.col(graft.core.SortedLongIntersectK(
        shim.expr(col("_sa")), shim.expr(col("_sb")))).cast("double")
      val out = cand
        .join(hsets.select(col("_id").as("i"), col("_set").as("_sa")), "i")
        .join(hsets.select(col("_id").as("j"), col("_set").as("_sb")), "j")
        .withColumn("_inter", inter)
        .withColumn("_union",
          (size(col("_sa")) + size(col("_sb"))).cast("double") - col("_inter"))
        .withColumn("jaccard",
          when(col("_union") > 0, col("_inter") / col("_union")).otherwise(0.0))
        .filter(col("jaccard") >= 0.8)
      System.err.println(s"[profile]   verified pairs: ${out.count()}")
      System.err.println(out.queryExecution.executedPlan.toString.take(4000))
    }
    // the ACTUAL operator, end-to-end (fused single-pass signature +
    // candidate join + kernel verify, all materialized through one
    // count) — the bench cell measures THIS, so any gap between the
    // stage sum above and this number is plan/materialization overhead
    // (cache-population races, persist copies), not kernel work
    time("OPERATOR nearDupPairs e2e") {
      val out = Dedup.nearDupPairs(corpus, "doc_id", "text", 0.8, 3, 12, 4)
      System.err.println(s"[profile]   operator pairs: ${out.count()}")
      Dedup.release(out)
    }
    spark.stop()
  }
}
