package graft.io

import graft.SparkTestBase
import graft.index._
import graft.transform.Linear
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One index per persisted kind, built from literal trained state (no
  * training, so every sidecar byte is fixed). */
object IndexLayoutFixtures {

  def all(spark: SparkSession): Seq[(String, Any)] = {
    import spark.implicits._
    val cents = Array(Array(0f, 0f, 0f, 0f), Array(1f, 0.5f, -1f, 2f))
    def pq(ksub: Int) = PqModel(2, ksub, 2,
      Array.tabulate(2, ksub)((m, j) => Array(m + 0.5f * j, -0.25f * j)))
    def rq(k: Int) = RqModel(2, k,
      Array.tabulate(2, k)((l, j) => Array(l - 0.5f * j, 0.25f * j, 1f, -1f)))
    val normCb = Array.tabulate(2, 16)((l, j) => l + j / 16.0)
    val vmin = Array(0.0, -1.0, 0.5, 2.0)
    val vdiff = Array(1.0, 2.0, 0.25, 4.0)
    val ids = Seq(0L, 1L, 2L)
    def code(i: Long) = Array[Byte](i.toByte, (i + 1).toByte)
    def vec(i: Long) = Seq(i.toFloat, 0.5f, -1f, 2f)
    val flatCodes = ids.map(i => (i, code(i))).toDF("id", "code")
    val listCodes = ids.map(i => (i, (i % 2).toInt, code(i))).toDF("id", "list_no", "code")
    val sq = new SqIndex(vmin, vdiff, flatCodes, "SQ8")
    val ivfrq = new IvfRqIndex(2, cents, rq(4), listCodes)
    Seq(
      "ivfflat" -> new IvfIndex(4, "l2sq", 2, cents,
        ids.map(i => (i, vec(i), (i % 2).toInt)).toDF("id", "vec", "list_no")),
      "sq" -> sq,
      "pq" -> new PqIndex(pq(2), flatCodes),
      "ivfpq" -> new IvfPqIndex(2, cents, pq(2), listCodes),
      "twolayer" -> new TwoLayerIndex(2, cents, pq(2), listCodes),
      "bivf" -> new BinaryIvfIndex(2, Array(Array(0, 1, 1, 0), Array(1, 0, 0, 1)),
        ids.map(i => (i, code(i), (i % 2).toInt)).toDF("id", "code", "list_no")),
      "imi" -> new ImiIndex(2, pq(2),
        ids.map(i => (i, vec(i), i.toInt)).toDF("id", "vec", "cell")),
      "imipq" -> new ImiPqIndex(2, pq(2), pq(4),
        ids.map(i => (i, i.toInt, code(i))).toDF("id", "cell", "code")),
      "miq2layer" -> new MiqTwoLayerIndex(2, 2, pq(2), pq(4),
        ids.map(i => (i, i, code(i))).toDF("id", "cell", "code")),
      "ivfsh" -> new IvfSpectralHashIndex(2, 2, 1.0, cents,
        Linear(Array(Array(1f, 0f, 0f, 0f), Array(0f, 0.5f, 0f, 0f)), Array(0.25f, -0.5f)),
        Array(Array(0f, 0.5f), Array(-0.5f, 0f)),
        ids.map(i => (i, (i % 2).toInt, code(i))).toDF("id", "list_no", "sig")),
      "pq4fs" -> new Pq4FastScanIndex(pq(16), flatCodes),
      "ivfpq4fs" -> new IvfPq4FastScanIndex(2, cents, pq(16), listCodes),
      "ivfpq4fsr" -> new IvfPq4FastScanRIndex(2, cents, pq(16), listCodes),
      "rq4fs" -> new Rq4FastScanIndex(rq(16), normCb, flatCodes, 3),
      "ivfrq4fs" -> new IvfRq4FastScanIndex(2, cents, rq(16), normCb, listCodes),
      "ivfrq4fsr" -> new IvfRq4FastScanRIndex(2, cents, rq(16), normCb, listCodes),
      "ivfsq" -> new IvfSqIndex(2, cents, vmin, vdiff, true, listCodes, "SQ4"),
      "ivfrq" -> ivfrq,
      "ivfrqnorm" -> new IvfRqNormIndex(ivfrq,
        listCodes.withColumn("nq", col("id").cast("double") + lit(0.5)), false),
      "bflat" -> flatCodes,
      "bhash" -> new BinaryHashIndex(6,
        ids.map(i => (i, code(i), i % 2)).toDF("id", "code", "bucket")),
      "bmultihash" -> new BinaryMultiHashIndex(4, 8, flatCodes),
      "lsh" -> new LshIndex(Linear(Array.tabulate(4, 4)((r, c) => if (r == c) 1f else 0.5f)),
        Some(Array(0.5, -0.25, 0.0, 1.0)), flatCodes),
      "lattice" -> new LatticeIndex(new graft.core.LatticeCodec(4, 2, 8, 2,
        Array(0.5f, 1f), Array(2f, 4f)), flatCodes),
      "minmax" -> new MinMaxIndex("SQ8", false, vmin, vdiff, null,
        ids.map(i => (i, i * 0.5, 2.0, code(i))).toDF("id", "_mn", "_sc", "code")),
      "refineflat" -> new RefineFlatIndex(sq, ids.map(i => (i, vec(i))).toDF("id", "vec"),
        3, "l2sq"))
  }

  /** The saved tree under `root`: every directory, and the bytes of
    * every file except parquet data (whose names carry a write id) and
    * the checksum files derived from the bytes. */
  def layout(root: java.io.File): Seq[(String, String)] = {
    def walk(dir: java.io.File, rel: String): Seq[(String, String)] =
      dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
        val r = s"$rel/${f.getName}"
        if (f.isDirectory) (r -> "<dir>") +: walk(f, r)
        else if (f.getName.endsWith(".parquet") || f.getName.endsWith(".crc")) Nil
        else Seq(r -> new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
      }
    walk(root, "")
  }

  /** The `by` values of each data file of a frame directory, in stored
    * row order, one sequence per file. */
  def storedLists(spark: SparkSession, dir: String, by: String): Seq[Seq[Long]] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName).filter(_.endsWith(".parquet"))
      .sorted.map(f => spark.read.parquet(s"$dir/$f").select(col(by).cast("long"))
        .collect().map(_.getLong(0)).toSeq)

  /** Each file sorted, and no list in two files. */
  def clustered(files: Seq[Seq[Long]]): Boolean =
    files.forall(l => l == l.sorted) &&
      files.flatMap(_.distinct).distinct.size == files.map(_.distinct.size).sum

  /** A row as a comparable string (byte arrays by value). */
  def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("bytes(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(show).mkString("(", ",", ")")
    case x => x.toString
  }
}

class IndexLayoutSpec extends SparkTestBase {
  import IndexLayoutFixtures._

  /** Goldens under `index_layout/` are saved by the current writer;
    * `index_layout_legacy/` holds the kinds whose frames the earlier
    * writer laid out as one `by=` directory per list, as it saved them
    * (parquet data included, checksum files left out). */
  private def golden(kind: String, set: String = "index_layout") =
    new java.io.File(getClass.getResource(s"/$set/$kind").toURI)

  private def legacyKinds =
    new java.io.File(getClass.getResource("/index_layout_legacy").toURI).list().toSeq.sorted

  private def clusteredKinds = IndexCodecs.all.filter(_.frames.exists(_.by.nonEmpty))

  /** Schema and sorted rows of every frame of an index. */
  private def frameRows(idx: Any): Seq[(String, Seq[String])] =
    IndexCodecs.byClass(idx.getClass).asInstanceOf[Codec[Any]].frames.map { f =>
      val df = f.get(idx)
      f.name -> (df.schema.simpleString +: df.collect().map(show).toSeq.sorted)
    }

  // (kind, first entry that differs from the golden) per failing save
  private def diff(kind: String, got: Seq[(String, String)], want: Seq[(String, String)]) =
    if (got == want) Nil
    else Seq(kind -> got.zipAll(want, null, null).find { case (g, w) => g != w })

  private def inTmp[A](body: java.io.File => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("index_layout").toFile
    try body(tmp) finally graft.streaming.StreamingIngest.rmTree(tmp.toPath)
  }

  test("every kind saves its frame directories and sidecar bytes exactly as " +
    "the golden layout, and each golden loads back and re-saves identically") {
    val fixtures = all(spark)
    assert(fixtures.map(_._1).toSet == IndexCodecs.all.map(_.kind).toSet)
    assert(fixtures.size == 26)
    inTmp { tmp =>
      val bad = fixtures.flatMap { case (kind, idx) =>
        val want = layout(golden(kind))
        val dir = new java.io.File(tmp, kind)
        IndexIO.save(idx, dir.toString)
        val again = new java.io.File(tmp, s"$kind-reloaded")
        val loaded = IndexIO.load(spark, golden(kind).toString)
        IndexIO.save(loaded, again.toString)
        diff(kind, layout(dir), want) ++ diff(s"$kind reloaded", layout(again), want) ++
          (if (frameRows(loaded) == frameRows(idx)) Nil else Seq(kind -> Some("rows")))
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("each legacy one-directory-per-list golden loads the same rows as its " +
    "new golden and re-saves to the new golden") {
    assert(legacyKinds == clusteredKinds.map(_.kind).sorted)
    assert(legacyKinds.size == 14)
    inTmp { tmp =>
      val bad = legacyKinds.flatMap { kind =>
        val old = IndexIO.load(spark, golden(kind, "index_layout_legacy").toString)
        val again = new java.io.File(tmp, kind)
        IndexIO.save(old, again.toString)
        (if (frameRows(old) == frameRows(IndexIO.load(spark, golden(kind).toString))) Nil
         else Seq(kind -> Some("rows"))) ++ diff(kind, layout(again), layout(golden(kind)))
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("a clustered frame is stored as by-sorted files with each list in one " +
    "file, and loads with its footer schema and no Spark job") {
    val fixtures = all(spark).toMap
    inTmp { tmp =>
      clusteredKinds.foreach { c =>
        val dir = new java.io.File(tmp, c.kind).toString
        IndexIO.save(fixtures(c.kind), dir)
        c.frames.filter(_.by.nonEmpty).foreach { f =>
          val files = storedLists(spark, s"$dir/${f.name}", f.by)
          assert(files.nonEmpty && IndexLayoutFixtures.clustered(files), s"${c.kind}: $files")
          assert(Frame.read(spark, s"$dir/${f.name}").schema ==
            spark.read.parquet(s"$dir/${f.name}").schema, c.kind)
        }
        val (_, jobs) = jobsLaunchedBy(IndexIO.load(spark, dir))
        assert(jobs == 0, s"${c.kind}: load ran $jobs jobs")
      }
    }
  }
}
