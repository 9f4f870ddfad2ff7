package graft.core

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k heap of (score, id) pairs.
  *
  * Mirrors faiss's k-selection heaps (faiss/utils/Heap.h:46-330): a
  * binary heap rooted at the WORST kept element so a better candidate
  * replaces the root in O(log k). `asc = true` keeps the k smallest
  * scores (distances, CMax heap); `asc = false` the k largest
  * (similarities, CMin heap). Ties break on ascending id so results
  * are deterministic (the reference leaves ties heap-order —
  * tie-aware comparison is required there, contrib/evaluation.py:227;
  * we instead fix a total order so the duckdb oracle can match).
  */
final class TopKHeap(val k: Int, val asc: Boolean) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** true if (s1,i1) is worse (further from keeping) than (s2,i2). */
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    if (s1 != s2) { if (asc) s1 > s2 else s1 < s2 } else i1 > i2

  def insert(s: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id; size += 1
      // sift up: parent must be worse than or equal to child
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) {
          swap(i, p); i = p
        } else i = 0
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      siftDown(0)
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var w = i
      if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  def merge(other: TopKHeap): Unit = {
    var i = 0
    while (i < other.size) { insert(other.scores(i), other.ids(i)); i += 1 }
  }

  /** (ids, scores) sorted best-to-worst (faiss heap_reorder,
    * utils/Heap.h:316). */
  def sorted(): (Array[Long], Array[Double]) = {
    val idx = Array.range(0, size).sortWith { (i, j) =>
      worse(scores(j), ids(j), scores(i), ids(i))
    }
    (idx.map(ids), idx.map(scores))
  }
}

/** Aggregate: top-k (score, id) per group → array<struct<id,dist>>
  * sorted best-to-worst. Partial aggregation gives map-side combine:
  * each partition reduces to ≤k entries per group before the shuffle —
  * exactly faiss's per-thread heaps + final merge
  * (faiss/utils/Heap.h merge pattern; IndexShards.cpp:361), and the
  * only shuffle-safe top-k shape at 100 TB.
  */
case class TopKAgg(
    left: Expression,   // score (double)
    right: Expression,  // id (long)
    k: Int,
    asc: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k, asc)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = left.eval(input)
    val id = right.eval(input)
    if (s != null && id != null) {
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    buf.merge(other); buf
  }

  override def eval(buf: TopKHeap): Any = {
    val (ids, scores) = buf.sorted()
    val rows = new Array[Any](ids.length)
    var i = 0
    while (i < ids.length) {
      rows(i) = InternalRow(ids(i), scores(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKHeap(k, asc)
    var i = 0
    while (i < n) {
      val s = bb.getDouble; val id = bb.getLong
      buf.insert(s, id); i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(left = newLeft, right = newRight)
}

object TopKAgg {
  import org.apache.spark.sql.functions.{col, posexplode}

  /** The ranked tail every search shares (the reference's one
    * ResultHandler, faiss/impl/ResultHandler.h:25): the k best
    * (`dist`, `id`) rows of each `by` group of `cand`, by the partial
    * top-k aggregate, exploded to `by ++ (rank: long, 1-based, id,
    * dist)` best-first with ties on ascending id. A caller that renames
    * or rounds a column does so on the output. */
  def ranked(cand: DataFrame, by: Seq[Column], dist: Column, id: Column,
      k: Int, asc: Boolean): DataFrame = {
    val g = cand.groupBy(by: _*).agg(graft.functions.topk(dist, id, k, asc).as("_tk"))
    val keys = g.columns.init.toSeq.map(col)
    g.select(keys :+ posexplode(col("_tk")).as(Seq("_pos", "_r")): _*)
      .select(keys ++ Seq((col("_pos") + 1).cast("long").as("rank"),
        col("_r.id").as("id"), col("_r.dist").as("dist")): _*)
  }
}
