package graft.misc

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every IVF-family search shares one scan skeleton. The
  * probed lists are pruned and joined to the probe rows only in
  * `graft.index.Probes`, and the ranked top-k tail (top-k aggregate,
  * posexplode, 1-based rank) is written out only in
  * `graft.core.TopKAgg.ranked` and in FastScan's own tail, which
  * carries per-query scalars through the aggregate. A search attaches
  * each list's centroid to its probe rows by projection
  * (`Probes.centroid`), never by a broadcast join after its probe step,
  * so its probe side stays local rows. */
class ScanGuardSpec extends AnyFunSuite {

  private val tail = """posexplode\(col\("_tk"\)\)""".r
  /** A `listFilter(` call, over any lines, that reaches `.join(broadcast(`
    * before the statement ends. */
  private val prunedJoin = """(?s)listFilter\((?:(?!\n\s*\n)[^;])*?\.join\(\s*broadcast\(""".r

  /** A probe step (`Probes.local(` or `Probes.rows(`) followed, in the
    * same block, by a broadcast join of a centroid table. */
  private val centroidJoin =
    """(?s)Probes\.(?:local|rows)\((?:(?!\n\s*\n)[^;])*?\.join\(\s*broadcast\(\s*(?:cent\w*|thresh\w*|Probes\.centroidsDf\()""".r

  /** How many times each file may hold the tail: its helper and
    * FastScan's tail. */
  private val tailAllowed = Map("TopKAgg.scala" -> 1, "FastScan.scala" -> 1)

  private def counts(re: scala.util.matching.Regex) =
    SourceScan.sources("src/main/scala").map { p =>
      p.getFileName.toString -> re.findAllMatchIn(Files.readString(p)).size
    }.filter(_._2 > 0)

  test("the patterns flag the hand-written copies they replace") {
    // the shapes of the copies, as written in IvfIndex, BinaryIvf and Pq
    assert(tail.findFirstIn("""cand.groupBy(col(queryId))
      .agg(topk(col("_dist"), col("id"), k, Metric.ascending(metric)).as("_tk"))
      .select(col(queryId), posexplode(col("_tk")).as(Seq("_pos", "_r")))""").isDefined)
    assert(prunedJoin.findFirstIn("""invlists.filter(Probes.listFilter(col("list_no"), probed))
      .join(broadcast(probes), "list_no")""").isDefined)
    assert(prunedJoin.findFirstIn("""    val lists = codes.filter(Probes.listFilter(col("list_no"), probed))
    // stage 1: ADC over code1, keep k*kFactor candidates per query
    val stage1 = lists.join(broadcast(probes.select(col(queryId), col("_lut"))), "list_no")""")
      .isDefined)
    assert(prunedJoin.findFirstIn("""codes.filter(Probes.listFilter(col("cell"), probed))
      }
    val probeSide = broadcast(probes)""").isEmpty)
    assert(prunedJoin.findFirstIn("""filter(listFilter(col(by), p))
  }

  def scan(lists: DataFrame) = l.join(broadcast(probeRows), by)""").isEmpty)
    // the probe-side centroid joins as written in Pq, IvfRq and IvfSpectralHash
    assert(centroidJoin.findFirstIn("""    val (q, probed) = Probes.local(queries, queryId, queryVec, centroids,
      nprobe, "l2sq", coarse, graphCacheKey)
    var probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .join(broadcast(centDf), "list_no")""").isDefined)
    assert(centroidJoin.findFirstIn("""    val probesPlan = Probes.rows(q, Seq(col(queryId), col(queryVec)))
    val cand = Probes.scan(codes.join(broadcast(centDf), "list_no"), probesPlan,""").isDefined)
    assert(centroidJoin.findFirstIn("""    val probes = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .join(broadcast(threshDf), "list_no")""").isDefined)
    assert(centroidJoin.findFirstIn("""    val probes = Probes.rows(q, Seq(col(queryId), col(queryVec)))
      .select(col(queryId), col("list_no"),
        vec_sub(col(queryVec), Probes.centroid(col("list_no"), centroids)).as("_qres"))
    val rescored = stage1.join(broadcast(probes.select(col(queryId))), "id")""").isEmpty)
  }

  test("the ranked top-k tail is written only in its helper and FastScan's tail") {
    val extra = counts(tail).filter { case (f, n) => n > tailAllowed.getOrElse(f, 0) }
    assert(extra.isEmpty, extra.mkString("\n", "\n", ""))
  }

  test("lists are pruned and joined to the probe rows only in Probes") {
    val found = counts(prunedJoin).filterNot(_._1 == "Probes.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
    val calls = SourceScan.offenders("src/main/scala", """listFilter\(""", Set("Probes.scala"))
    assert(calls.isEmpty, calls.mkString("\n", "\n", ""))
  }

  test("searches attach centroids by projection, not by a broadcast join after the probe step") {
    val found = counts(centroidJoin).filterNot(_._1 == "Probes.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
