package vecbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the engine sees is derived
  * from the seed alone, so one seed always gives the same bytes. */
object Gen {

  /** Gaussian-mixture vectors of low intrinsic dimension: each point is
    * its cluster's centre plus a `rank`-dimensional offset in that
    * cluster's own random subspace, plus a little isotropic noise.
    * Isotropic mixtures leave nothing for PQ to exploit, which pushes
    * IVF-PQ recall@10 towards 0.2; real embeddings are closer to this
    * low-rank shape. Base and query points come from the same mixture. */
  final case class Vectors(base: Array[Array[Float]], queries: Array[Array[Float]])

  def vectors(seed: Long, n: Int, nq: Int, d: Int = 64): Vectors = {
    val clusters = 100; val rank = 8; val spread = 3.0; val noise = 0.1
    val rnd = new SplittableRandom(seed)
    val centres = Array.fill(clusters, d)(rnd.nextGaussian())
    // per-cluster basis: rank random directions of unit length
    val bases = Array.fill(clusters, rank) {
      val v = Array.fill(d)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    def point(): Array[Float] = {
      val c = rnd.nextInt(clusters)
      val x = centres(c).clone()
      var r = 0
      while (r < rank) {
        val z = rnd.nextGaussian() * spread
        val u = bases(c)(r)
        var i = 0
        while (i < d) { x(i) += z * u(i); i += 1 }
        r += 1
      }
      val out = new Array[Float](d)
      var i = 0
      while (i < d) { out(i) = (x(i) + rnd.nextGaussian() * noise).toFloat; i += 1 }
      out
    }
    val base = Array.fill(n)(point())
    val queries = Array.fill(nq)(point())
    Vectors(base, queries)
  }

  /** Synthetic documents of 50 Zipf-distributed words. 5% of the
    * documents are planted near-duplicates: a copy of
    * another (never itself planted) document with one word replaced.
    * `planted` holds each planted pair as (smaller id, larger id); ids
    * are the documents' array positions. */
  final case class Docs(texts: Array[String], planted: Array[(Long, Long)])

  def docs(seed: Long, n: Int): Docs = {
    val tokens = 50; val vocab = 20000; val zipf = 1.0; val dupFrac = 0.05
    val rnd = new SplittableRandom(seed)
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    var w = 0
    while (w < vocab) { acc += 1.0 / math.pow(w + 1, zipf); cdf(w) = acc; w += 1 }
    def word(): Int = {
      val u = rnd.nextDouble() * acc
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    val nDup = (n * dupFrac).toInt
    val nOrig = n - nDup
    val words = Array.fill(nOrig)(Array.fill(tokens)(word()))
    // planted copies of distinct originals, so no two planted docs
    // share a source (which would plant an extra, unlisted pair)
    val sources = shuffled(rnd, nOrig).take(nDup)
    val dups = sources.map { s =>
      val copy = words(s).clone()
      val p = rnd.nextInt(tokens)
      var r = word()
      while (r == copy(p)) r = word()
      copy(p) = r
      copy
    }
    // ids: a seeded permutation, so planted docs are spread over the
    // corpus instead of sitting together at its end
    val perm = shuffled(rnd, n)
    val texts = new Array[String](n)
    (words ++ dups).zipWithIndex.foreach { case (ws, i) =>
      texts(perm(i)) = ws.map(t => "w" + Integer.toString(t, 36)).mkString(" ")
    }
    val planted = sources.zipWithIndex.map { case (s, k) =>
      val a = perm(s).toLong; val b = perm(nOrig + k).toLong
      (math.min(a, b), math.max(a, b))
    }
    Docs(texts, planted)
  }

  private def shuffled(rnd: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}

/** Reference answers computed on the driver in plain JVM code, with no
  * call into the engine. */
object Truth {

  /** Squared L2 with the engine kernel's arithmetic (float difference
    * widened to double, summed in index order), so exact search must
    * reproduce these values to the last bit. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Exact top-k (ids and distances, nearest first, ties on smaller id)
    * of each query over `base`, whose ids are array positions. */
  def topK(base: Array[Array[Float]], queries: Array[Array[Float]],
      k: Int): Array[Array[(Long, Double)]] =
    Par.map(queries.toIndexedSeq) { q =>
      val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
        (x: (Long, Double), y: (Long, Double)) =>
          if (x._2 != y._2) java.lang.Double.compare(y._2, x._2)
          else java.lang.Long.compare(y._1, x._1))
      var i = 0
      while (i < base.length) {
        val d = l2sq(q, base(i))
        if (heap.size < k) heap.add((i.toLong, d))
        else {
          val worst = heap.peek()
          if (d < worst._2 || (d == worst._2 && i < worst._1)) {
            heap.poll(); heap.add((i.toLong, d))
          }
        }
        i += 1
      }
      val out = new Array[(Long, Double)](heap.size)
      var j = out.length - 1
      while (j >= 0) { out(j) = heap.poll(); j -= 1 }
      out
    }.toArray

  /** Distinct word n-gram shingles of a space-separated text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty
    else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: String, b: String, n: Int = 3): Double = {
    val sa = shingles(a, n); val sb = shingles(b, n)
    val union = (sa | sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union
  }

  /** Recall@k: share of the reference top-k ids found in the answer. */
  def recall(answer: Map[Long, Seq[Long]], truth: Map[Long, Seq[Long]]): Double = {
    val hits = truth.iterator.map { case (q, ids) =>
      val got = answer.getOrElse(q, Nil).toSet
      ids.count(got)
    }.sum
    hits.toDouble / truth.valuesIterator.map(_.size).sum
  }
}

/** Data-parallel map on the common fork-join pool (ground truth only). */
object Par {
  def map[A, B: scala.reflect.ClassTag](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val out = new Array[B](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel().forEach(i => out(i) = f(xs(i)))
    out.toIndexedSeq
  }
}
