package vecbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("vectors are a function of the seed alone") {
    val a = Gen.vectors(7L, 300, 20)
    val b = Gen.vectors(7L, 300, 20)
    assert(a.base.map(_.toSeq).toSeq == b.base.map(_.toSeq).toSeq)
    assert(a.queries.map(_.toSeq).toSeq == b.queries.map(_.toSeq).toSeq)
    assert(a.base.forall(_.length == 64))
    val c = Gen.vectors(8L, 300, 20)
    assert(a.base.map(_.toSeq).toSeq != c.base.map(_.toSeq).toSeq)
  }

  test("documents and planted pairs are a function of the seed alone") {
    val a = Gen.docs(3L, 2000)
    val b = Gen.docs(3L, 2000)
    assert(a.texts.toSeq == b.texts.toSeq)
    assert(a.planted.toSeq == b.planted.toSeq)
    assert(Gen.docs(4L, 2000).texts.toSeq != a.texts.toSeq)
  }

  test("planted pairs are one-word edits of distinct sources") {
    val g = Gen.docs(5L, 4000)
    assert(g.planted.length == 200)
    assert(g.planted.flatMap(p => Seq(p._1, p._2)).distinct.length == 400)
    g.planted.foreach { case (a, b) =>
      val x = g.texts(a.toInt).split(" "); val y = g.texts(b.toInt).split(" ")
      assert(x.length == 50 && y.length == 50)
      assert(x.zip(y).count { case (s, t) => s != t } == 1)
      assert(Truth.jaccard(g.texts(a.toInt), g.texts(b.toInt)) >= 0.8)
    }
  }

  test("exact top-k orders by distance, then by smaller id") {
    val base = Array(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(3f, 3f))
    val got = Truth.topK(base, Array(Array(0f, 0f)), 3)(0)
    assert(got.toSeq == Seq((0L, 0.0), (1L, 1.0), (2L, 1.0)))
  }
}
