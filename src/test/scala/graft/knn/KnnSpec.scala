package graft.knn

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

class KnnSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def q = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
  private def b = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("knnJoin matches window row_number oracle (l2)") {
    val got = Knn.knnJoin(q, b, 5)
      .select("qid", "rank", "id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = graft.functions.l2sq(col("qvec"), col("vec"))
    val w = Window.partitionBy(col("qid")).orderBy(col("_d"), col("id"))
    val want = b.crossJoin(q).select(col("qid"), col("id"), dist.as("_d"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("qid", "rank", "id").collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    assert(got == want)
  }

  test("knnJoin descending for inner product") {
    val rows = Knn.knnJoin(q, b, 3, metric = "ip").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
    }
  }

  test("returns fewer than k when base is small") {
    val tiny = b.filter(col("id") < 13) // 3 rows
    val rows = Knn.knnJoin(q, tiny, 10).collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 3))
  }

  test("knnJoin rejects a query whose length differs from the base rows'") {
    import spark.implicits._
    // ROADMAP item 6: a 2-d query against a 3-d row scored 2.0 and ranked it first
    val q2 = Seq((0L, Array(1f, 2f))).toDF("qid", "qvec")
    val b3 = Seq((7L, Array(2f, 3f, 9f)), (8L, Array(1f, 2f))).toDF("id", "vec")
    val err = intercept[Exception](Knn.knnJoin(q2, b3, 2).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("has 2 elements") && m.contains("has 3")),
      err.toString)
  }

  test("assign equals knnJoin rank 1") {
    val a = Knn.assign(q, b).select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k1 = Knn.knnJoin(q, b, 1).select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == k1)
  }

  test("rangeJoin returns exactly the under-radius pairs") {
    val r = 1.45
    val got = Knn.rangeJoin(q, b, r).collect()
    assert(got.forall(_.getDouble(2) < r))
    val cnt = b.crossJoin(q)
      .select(graft.functions.l2sq(col("qvec"), col("vec")).as("d"))
      .filter(col("d") < r).count()
    assert(got.length.toLong == cnt)
  }
}
