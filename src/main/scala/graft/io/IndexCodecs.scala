package graft.io

import scala.reflect.ClassTag
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index._
import graft.transform._

/** A sidecar codec: how a trained-state value becomes JSON rows (W) and
  * what those rows parse back to (R). `cols` name the columns in write
  * order; a `name:type` column is cast to that type when read back. */
final class Part[-W, +R](val cols: Seq[String], rows: W => Seq[Seq[Any]],
    parse: Array[Row] => R) {

  def write(spark: SparkSession, v: W, path: String): Unit = {
    val data = rows(v)
    val schema = StructType(cols.indices.map(i => StructField(
      cols(i).takeWhile(_ != ':'), Parts.typeOf(data.map(_(i))))))
    import scala.jdk.CollectionConverters._
    JsonSidecar.write(spark.createDataFrame(data.map(Row.fromSeq).asJava, schema), path)
  }

  def read(spark: SparkSession, path: String): R =
    parse(JsonSidecar.read(spark, path).select(cols.map(Parts.column): _*).collect())
}

/** The trained-state part codecs the families share. */
object Parts {

  /** One sidecar row. Values keep their own types: a `Seq(1, 0.5)`
    * literal would widen the Int to a Double and change the bytes. */
  def row(values: Any*): Seq[Any] = values

  /** Rows exactly as written; read back as Spark rows. */
  def table(cols: String*): Part[Seq[Seq[Any]], Array[Row]] = new Part(cols, identity, identity)

  val centroids: Part[Array[Array[Float]], Array[Array[Float]]] =
    new Part(Seq("list_no:int", "centroid:array<float>", "nlist:int"),
      c => c.indices.map(i => row(i, c(i).toSeq, c.length)),
      rs => vecs(rs, rs.head.getInt(2)))

  val pq: Part[PqModel, PqModel] =
    new Part(Seq("m:int", "j:int", "centroid:array<float>", "ksub:int", "dsub:int"),
      m => for (mi <- 0 until m.m; j <- m.codebooks(mi).indices)
        yield row(mi, j, m.codebooks(mi)(j).toSeq, m.ksub, m.dsub),
      rs => {
        val g = grid(rs, rs.head.getInt(3))(_.getSeq[Float](2).toArray)
        PqModel(g.length, rs.head.getInt(3), rs.head.getInt(4), g)
      })

  val rq: Part[RqModel, RqModel] =
    new Part(Seq("level:int", "j:int", "centroid:array<float>", "k:int"),
      m => for (l <- 0 until m.levels; j <- m.codebooks(l).indices)
        yield row(l, j, m.codebooks(l)(j).toSeq, m.k),
      rs => {
        val g = grid(rs, rs.head.getInt(3))(_.getSeq[Float](2).toArray)
        RqModel(g.length, rs.head.getInt(3), g)
      })

  /** Scalar norm codebooks [levels][16] of the AQ fast-scan families. */
  val normCb: Part[Array[Array[Double]], Array[Array[Double]]] =
    new Part(Seq("l:int", "j:int", "c:double"),
      ncb => for (l <- ncb.indices; j <- ncb(l).indices) yield row(l, j, ncb(l)(j)),
      rs => grid(rs, 16)(_.getDouble(2)))

  /** SQ trained range (vmin, vdiff) per dimension; fp16 has no rows. */
  val range: Part[(Array[Double], Array[Double]), (Array[Double], Array[Double])] =
    new Part(Seq("dim:int", "vmin:double", "vdiff:double"),
      { case (vmin, vdiff) => vmin.indices.map(i => row(i, vmin(i), vdiff(i))) },
      rs => (byIndex(rs, rs.length)(_.getDouble(1)), byIndex(rs, rs.length)(_.getDouble(2))))

  /** write_VectorTransform analog (faiss/index_io.h:67): one row per
    * step (one per matrix row for Linear), steps numbered by `pos`. A
    * nested Chain is flattened first, so every step gets its own pos. */
  val transform: Part[VecTransform, VecTransform] =
    new Part(Seq("pos:int", "kind", "row:int", "weights:array<float>", "bias:array<float>"),
      t => {
        def steps(t: VecTransform): Seq[VecTransform] = t match {
          case Chain(ts) => ts.flatMap(steps)
          case s => Seq(s)
        }
        steps(t).zipWithIndex.flatMap {
          case (Normalization, p) => Seq(row(p, "l2norm", -1, Nil, Nil))
          case (Centering(m), p) => Seq(row(p, "center", -1, m.toSeq, Nil))
          case (Remap(ix), p) => Seq(row(p, "remap", -1, ix.map(_.toFloat).toSeq, Nil))
          case (Linear(a, b), p) => a.indices.map(i =>
            row(p, "linear", i, a(i).toSeq, if (b == null) Nil else Seq(b(i))))
          case (s, _) => throw new IllegalArgumentException(s"not a transform step: $s")
        }
      },
      rows => {
        val parts = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.head.getString(1) match {
            case "l2norm" => Normalization
            case "center" => Centering(rs.head.getSeq[Float](3).toArray)
            case "remap" => Remap(rs.head.getSeq[Float](3).map(_.toInt).toArray)
            case "linear" =>
              val sorted = rs.sortBy(_.getInt(2))
              val biases = sorted.map(_.getSeq[Float](4))
              Linear(sorted.map(_.getSeq[Float](3).toArray),
                if (biases.head.isEmpty) null else biases.map(_.head).toArray)
          }
        }
        if (parts.length == 1) parts.head else Chain(parts)
      })

  /** Rows indexed by their first column: out(r.getInt(0)) = f(r). */
  def byIndex[A: ClassTag](rs: Array[Row], n: Int)(f: Row => A): Array[A] = {
    val out = new Array[A](n)
    rs.foreach(r => out(r.getInt(0)) = f(r))
    out
  }

  /** Rows indexed by their first two columns, k entries per group. */
  def grid[A: ClassTag](rs: Array[Row], k: Int)(f: Row => A): Array[Array[A]] = {
    val out = Array.ofDim[A](rs.map(_.getInt(0)).max + 1, k)
    rs.foreach(r => out(r.getInt(0))(r.getInt(1)) = f(r))
    out
  }

  /** Per-list vectors of a centroid-like table (column 1 by list_no). */
  def vecs(rs: Array[Row], n: Int): Array[Array[Float]] =
    byIndex(rs, n)(_.getSeq[Float](1).toArray)

  def column(spec: String): Column = spec.split(':') match {
    case Array(n) => col(n)
    case Array(n, t) => col(n).cast(t)
  }

  /** The Spark type of a sidecar column from the values it holds (the
    * types the old `toDF` encoders chose); a column holding only empty
    * arrays is written `[]` whatever its element type. */
  def typeOf(vs: Seq[Any]): DataType = vs.headOption match {
    case Some(_: Seq[_]) => ArrayType(typeOf(vs.flatMap { case s: Seq[_] => s }))
    case Some(_: Int) => IntegerType
    case Some(_: Long) => LongType
    case Some(_: Float) => FloatType
    case Some(_: Double) => DoubleType
    case Some(_: Boolean) => BooleanType
    case _ => StringType
  }
}

/** A parquet frame of family T: its directory, the cluster column
  * ("" = none) and the columns/casts read back (empty = all). */
final case class Frame[T](name: String, get: T => DataFrame, by: String = "",
    cols: Seq[String] = Nil) {

  /** A clustered frame is hash-shuffled on `by`, so each list lands in
    * one file, and each file is sorted by `by`: a few files in all,
    * whose row-group and page statistics let a search's
    * [[graft.index.Probes.listFilter]] skip the unprobed lists. A search
    * pushes that filter only where they can: a store of more than one
    * split, or of more than one page of `by` ([[graft.index.Probes.pruned]]). */
  def write(idx: T, path: String): Unit = {
    val df = get(idx)
    val out = if (by.isEmpty) df else df.repartition(col(by)).sortWithinPartitions(by)
    out.write.mode("overwrite").parquet(s"$path/$name")
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val df = Frame.read(spark, s"$path/$name")
    if (cols.isEmpty) df else df.select(cols.map(Parts.column): _*)
  }
}

object Frame {

  private def entries(spark: SparkSession, dir: String) = {
    val (fs, p) = JsonSidecar.hadoopFs(spark, dir)
    (fs, if (fs.exists(p)) fs.listStatus(p).toSeq else Nil)
  }

  private def isByDir(s: org.apache.hadoop.fs.FileStatus) =
    s.isDirectory && s.getPath.getName.contains("=")

  /** A store in the older layout: one `by=` directory per list. */
  def legacy(spark: SparkSession, dir: String): Boolean = entries(spark, dir)._2.exists(isByDir)

  /** Reads a frame directory with the Spark schema stored in one data
    * file's footer, read on the driver, so no schema-inference job runs.
    * A legacy `by=` store, or a directory with no Spark-written data
    * file, is read by plain `spark.read.parquet`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir).fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val (fs, all) = entries(spark, dir)
    if (all.exists(isByDir)) None
    else all.filter(s => s.isFile && !"_.".contains(s.getPath.getName.head))
      .sortBy(_.getPath.getName).headOption.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, fs.getConf))
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
    }
  }
}

/** A named piece of trained state of family T under `<path>/<name>`.
  * A `check` slot is read at every load, before the constructor runs. */
final class Slot[-T](val name: String, val write: (SparkSession, T, String) => Unit,
    val read: (SparkSession, String) => Any, val check: Boolean = false)

object Slot {
  /** A sidecar written through a shared part; skipped when `get` is null. */
  def apply[T, V](name: String, part: Part[V, Any])(get: T => V): Slot[T] =
    new Slot[T](name, (s, t, p) => {
      val v = get(t)
      if (v != null) part.write(s, v, s"$p/$name")
    }, (s, p) => part.read(s, s"$p/$name"))

  /** A one-row sidecar of scalar fields. */
  def meta[T](name: String, cols: String*)(get: T => Seq[Any]): Slot[T] =
    apply[T, Seq[Seq[Any]]](name, Parts.table(cols: _*))(t => Seq(get(t)))

  /** A one-row boolean the layout fixes; a load of a store holding the
    * other value fails. */
  def flag(name: String, field: String, value: Boolean): Slot[Any] = {
    val part = Parts.table(field)
    new Slot[Any](name, (s, _, p) => part.write(s, Seq(Seq(value)), s"$p/$name"), (s, p) => {
      val got = part.read(s, s"$p/$name").head.getBoolean(0)
      require(got == value, s"$p holds $field = $got, this family stores $value")
    }, check = true)
  }

  /** A nested saved index with its own kind tag. */
  def sub[T, S: ClassTag](name: String)(get: T => S): Slot[T] =
    new Slot[T](name, (_, t, p) => IndexIO.save(get(t), s"$p/$name"),
      (s, p) => IndexIO.loadAs[S](s, s"$p/$name"))
}

/** What a family's constructor reads a saved index through. */
final class Reader(val spark: SparkSession, val path: String, codec: Codec[_]) {

  def frame(name: String): DataFrame =
    codec.frames.find(_.name == name).get.read(spark, path)

  def apply[V](name: String): V =
    codec.slots.find(_.name == name).get.read(spark, path).asInstanceOf[V]

  def one(name: String): Row = apply[Array[Row]](name).head

  def has(name: String): Boolean = {
    val (fs, p) = JsonSidecar.hadoopFs(spark, s"$path/$name")
    fs.exists(p)
  }

  /** The SQ range sidecar `name`: only fp16 stores none; for any other
    * qtype a missing or empty range is a truncated index, and the load
    * fails here rather than in a later scan. */
  def range(name: String, qtype: String): (Array[Double], Array[Double]) = {
    val got =
      try apply[(Array[Double], Array[Double])](name)
      catch { case _: AnalysisException => (Array.empty[Double], Array.empty[Double]) }
    require(qtype == "fp16" || got._1.nonEmpty,
      s"$path/$name: missing/empty trained SQ range for qtype $qtype — truncated or corrupt index")
    got
  }
}

/** One index family's persisted form: kind tag, class, frames,
  * trained-state slots and constructor. */
final case class Codec[T](kind: String, cls: Class[_], frames: Seq[Frame[T]],
    slots: Seq[Slot[T]], make: Reader => T) {

  /** Removes the kind tag first and stamps it last, so a save that fails
    * part-way leaves a directory no load accepts. */
  def write(idx: T, path: String): Unit = {
    val spark = frames.head.get(idx).sparkSession
    val (fs, tag) = JsonSidecar.hadoopFs(spark, s"$path/kind")
    fs.delete(tag, true)
    frames.foreach(_.write(idx, path))
    slots.foreach(_.write(spark, idx, path))
    Parts.table("kind").write(spark, Seq(Seq(kind)), s"$path/kind")
  }

  def read(spark: SparkSession, path: String): T = {
    slots.filter(_.check).foreach(_.read(spark, path))
    make(new Reader(spark, path, this))
  }
}

/** The codec table: every persistable family, in one place. */
object IndexCodecs {
  import Parts.row
  import Slot.{meta, sub}

  private def family[T: ClassTag](kind: String, frames: Frame[T]*)(slots: Slot[T]*)(
      make: Reader => T): Codec[T] =
    Codec(kind, implicitly[ClassTag[T]].runtimeClass, frames, slots, make)

  private val listCodes = Seq("id", "list_no:int", "code")
  private def centroids[T](get: T => Array[Array[Float]]) = Slot("centroids", Parts.centroids)(get)
  private def codebooks[T](get: T => PqModel) = Slot("codebooks", Parts.pq)(get)
  private def rqBooks[T](get: T => RqModel) = Slot("codebooks", Parts.rq)(get)
  private def normCb[T](get: T => Array[Array[Double]]) = Slot("normcb", Parts.normCb)(get)

  val all: Seq[Codec[_]] = Seq(
    family[IvfIndex]("ivfflat",
      Frame("invlists", _.invlists, "list_no", Seq("id", "vec", "list_no:int")))(
      Slot("meta", Parts.table("list_no:int", "centroid:array<float>", "d:int", "metric",
        "nlist:int"))(i => i.centroids.indices.map(l =>
          row(l, i.centroids(l).toSeq, i.d, i.metric, i.nlist))))(r => {
      val m: Array[Row] = r("meta")
      val h = m.head
      new IvfIndex(h.getInt(2), h.getString(3), h.getInt(4), Parts.vecs(m, h.getInt(4)),
        r.frame("invlists"))
    }),
    family[SqIndex]("sq", Frame("codes", _.codes))(
      Slot("meta", Parts.range)(i => (i.vmin, i.vdiff)),
      // qtype in its own sidecar: fp16 has no range rows to infer it from
      meta("qtype", "qtype")(i => row(i.qtype)))(r => {
      // pre-r7 saves have no qtype sidecar: they are SQ8
      val qtype = if (r.has("qtype")) r.one("qtype").getString(0) else "SQ8"
      val (vmin, vdiff) = r.range("meta", qtype)
      new SqIndex(vmin, vdiff, r.frame("codes"), qtype)
    }),
    family[PqIndex]("pq", Frame("codes", _.codes))(Slot("meta", Parts.pq)(_.model))(r =>
      new PqIndex(r("meta"), r.frame("codes"))),
    family[IvfPqIndex]("ivfpq", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), codebooks(_.model))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfPqIndex(c.length, c, r("codebooks"), r.frame("codes"))
    }),
    // same state as IVF-PQ, sequential codes (faiss/Index2Layer.h:29)
    family[TwoLayerIndex]("twolayer", Frame("codes", _.codes, "", listCodes))(
      centroids(_.centroids), codebooks(_.model))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new TwoLayerIndex(c.length, c, r("codebooks"), r.frame("codes"))
    }),
    family[BinaryIvfIndex]("bivf",
      Frame("invlists", _.invlists, "list_no", Seq("id", "code", "list_no:int")))(
      Slot("meta", Parts.table("list_no:int", "bits:array<int>", "nlist:int"))(i =>
        i.centroidBits.indices.map(l => row(l, i.centroidBits(l).toSeq, i.nlist))))(r => {
      val m: Array[Row] = r("meta")
      val n = m.head.getInt(2)
      new BinaryIvfIndex(n, Parts.byIndex(m, n)(_.getSeq[Int](1).toArray), r.frame("invlists"))
    }),
    family[ImiIndex]("imi", Frame("invlists", _.invlists, "cell", Seq("id", "vec", "cell:int")))(
      Slot("meta", Parts.pq)(_.model))(r => {
      val m: PqModel = r("meta")
      new ImiIndex(m.ksub, m, r.frame("invlists"))
    }),
    family[ImiPqIndex]("imipq", Frame("codes", _.codes, "cell", Seq("id", "cell:int", "code")))(
      Slot("coarse", Parts.pq)(_.coarse), codebooks(_.model))(r => {
      val coarse: PqModel = r("coarse")
      new ImiPqIndex(coarse.ksub, coarse, r("codebooks"), r.frame("codes"))
    }),
    family[MiqTwoLayerIndex]("miq2layer",
      Frame("codes", _.codes, "", Seq("id", "cell:long", "code")))(
      Slot("coarse", Parts.pq)(_.coarse), codebooks(_.model))(r => {
      val coarse: PqModel = r("coarse")
      new MiqTwoLayerIndex(coarse.m, coarse.ksub, coarse, r("codebooks"), r.frame("codes"))
    }),
    family[IvfSpectralHashIndex]("ivfsh",
      Frame("codes", _.codes, "list_no", Seq("id", "list_no:int", "sig")))(
      Slot("centroids", Parts.table("list_no:int", "centroid:array<float>", "nlist:int",
        "nbit:int", "period:double"))(i => i.centroids.indices.map(l =>
          row(l, i.centroids(l).toSeq, i.nlist, i.nbit, i.period))),
      Slot("thresholds", Parts.table("list_no:int", "thresh:array<float>"))(i =>
        i.thresholds.indices.map(l => row(l, i.thresholds(l).toSeq))),
      Slot("vt", Parts.transform)(_.vt))(r => {
      val m: Array[Row] = r("centroids")
      val h = m.head
      new IvfSpectralHashIndex(h.getInt(2), h.getInt(3), h.getDouble(4),
        Parts.vecs(m, h.getInt(2)), r[VecTransform]("vt").asInstanceOf[Linear],
        Parts.vecs(r("thresholds"), h.getInt(2)), r.frame("codes"))
    }),
    // fast-scan codes stay nibble-packed on disk; the AQ forms keep
    // their norm codebooks and the trained norm_scale, which a retrain
    // would re-estimate differently
    family[Pq4FastScanIndex]("pq4fs", Frame("codes", _.codes))(Slot("meta", Parts.pq)(_.model))(
      r => new Pq4FastScanIndex(r("meta"), r.frame("codes"))),
    family[IvfPq4FastScanIndex]("ivfpq4fs", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), codebooks(_.model))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfPq4FastScanIndex(c.length, c, r("codebooks"), r.frame("codes"))
    }),
    family[IvfPq4FastScanRIndex]("ivfpq4fsr", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), codebooks(_.model))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfPq4FastScanRIndex(c.length, c, r("codebooks"), r.frame("codes"))
    }),
    family[Rq4FastScanIndex]("rq4fs", Frame("codes", _.codes))(
      rqBooks(_.model), normCb(_.normCb),
      meta("meta", "norm_scale:int")(i => row(i.normScale)))(r =>
      new Rq4FastScanIndex(r("codebooks"), r("normcb"), r.frame("codes"), r.one("meta").getInt(0))),
    // both IVF AQ fast-scan forms share one layout; the by_residual flag
    // tells them apart. They search with norm_scale 1, so none is stored.
    family[IvfRq4FastScanIndex]("ivfrq4fs", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), rqBooks(_.model), normCb(_.normCb),
      Slot.flag("meta", "by_residual", value = false))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfRq4FastScanIndex(c.length, c, r("codebooks"), r("normcb"), r.frame("codes"))
    }),
    family[IvfRq4FastScanRIndex]("ivfrq4fsr", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), rqBooks(_.model), normCb(_.normCb),
      Slot.flag("meta", "by_residual", value = true))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfRq4FastScanRIndex(c.length, c, r("codebooks"), r("normcb"), r.frame("codes"))
    }),
    family[IvfSqIndex]("ivfsq", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), Slot("range", Parts.range)(i => (i.vmin, i.vdiff)),
      meta("meta", "qtype", "by_residual")(i => row(i.qtype, i.byResidual)))(r => {
      val c: Array[Array[Float]] = r("centroids")
      val m = r.one("meta")
      val (vmin, vdiff) = r.range("range", m.getString(0))
      new IvfSqIndex(c.length, c, vmin, vdiff, m.getBoolean(1), r.frame("codes"), m.getString(0))
    }),
    family[IvfRqIndex]("ivfrq", Frame("codes", _.codes, "list_no", listCodes))(
      centroids(_.centroids), rqBooks(_.model))(r => {
      val c: Array[Array[Float]] = r("centroids")
      new IvfRqIndex(c.length, c, r("codebooks"), r.frame("codes"))
    }),
    // the LUT form stores its codes once, with the decoded norm `nq`
    // (absent under nonorm): the norm codec's state is baked into it
    family[IvfRqNormIndex]("ivfrqnorm", Frame("codes", _.codesNq, "list_no"))(
      centroids(_.idx.centroids), rqBooks(_.idx.model),
      meta("meta", "nonorm")(i => row(i.nonorm)))(r => {
      val nonorm = r.one("meta").getBoolean(0)
      val c: Array[Array[Float]] = r("centroids")
      val codesNq = r.frame("codes").select(
        (listCodes ++ (if (nonorm) Nil else Seq("nq:double"))).map(Parts.column): _*)
      new IvfRqNormIndex(new IvfRqIndex(c.length, c, r("codebooks"), codesNq), codesNq, nonorm)
    }),
    family[DataFrame]("bflat", Frame("codes", _.select("id", "code"), "", Seq("id", "code")))(
      // code_size 0 when there are no rows: an empty index round-trips
      meta("meta", "code_size:int")(c => row(codeSize(c))))(r => {
      val want = r.one("meta").getInt(0)
      val codes = r.frame("codes")
      val got = codeSize(codes)
      require(got == want || got == 0, s"${r.path}: stored code width $got != meta $want")
      codes
    }),
    family[BinaryHashIndex]("bhash",
      Frame("codes", _.codes, "bucket", Seq("id", "code", "bucket:long")))(
      meta("meta", "b:int")(i => row(i.b)))(r => new BinaryHashIndex(r.one("meta").getInt(0),
      r.frame("codes"))),
    family[BinaryMultiHashIndex]("bmultihash",
      Frame("codes", _.codes.select("id", "code"), "", Seq("id", "code")))(
      meta("meta", "nhash:int", "b:int")(i => row(i.nhash, i.b)))(r => {
      val m = r.one("meta")
      new BinaryMultiHashIndex(m.getInt(0), m.getInt(1), r.frame("codes"))
    }),
    family[LshIndex]("lsh", Frame("codes", _.codes, "", Seq("id", "code")))(
      Slot("rot", Parts.transform)(_.rot),
      Slot("thresholds", Parts.table("i:int", "t:double"))(
        _.thresholds.map(th => th.indices.map(i => row(i, th(i)))).orNull),
      meta("meta", "rotate_data", "train_thresholds")(i =>
        row(i.rot != null, i.thresholds.isDefined)))(r => {
      val m = r.one("meta")
      new LshIndex(if (m.getBoolean(0)) r[VecTransform]("rot").asInstanceOf[Linear] else null,
        if (m.getBoolean(1)) Some(r[Array[Row]]("thresholds").sortBy(_.getInt(0))
          .map(_.getDouble(1))) else None,
        r.frame("codes"))
    }),
    // no sphere codebook: it re-derives from (dsq, r2), as in the reference
    family[LatticeIndex]("lattice", Frame("codes", _.codes, "", Seq("id", "code")))(
      Slot("meta", Parts.table("j:int", "mn:float", "mx:float", "d:int", "nsq:int",
        "scale_nbit:int", "r2:int"))(i => (0 until i.codec.nsq).map(j => row(j,
          i.codec.mins(j), i.codec.maxs(j), i.codec.d, i.codec.nsq, i.codec.scaleNbit,
          i.codec.r2))))(r => {
      val m: Array[Row] = r("meta")
      val h = m.head
      new LatticeIndex(new graft.core.LatticeCodec(h.getInt(3), h.getInt(4), h.getInt(5),
        h.getInt(6), Parts.byIndex(m, h.getInt(4))(_.getFloat(1)),
        Parts.byIndex(m, h.getInt(4))(_.getFloat(2))), r.frame("codes"))
    }),
    // inner state: SQ range rows or PQ codebooks; SQfp16 has none
    family[MinMaxIndex]("minmax",
      Frame("codes", _.codes, "", Seq("id", "_mn:double", "_sc:double", "code")))(
      meta("meta", "inner", "fp16_coeffs")(i => row(i.inner, i.fp16Coeffs)),
      Slot("range", Parts.range)(i => if (i.sqMins.nonEmpty) (i.sqMins, i.sqDiff) else null),
      codebooks(_.pqModel))(r => {
      val m = r.one("meta")
      val inner = m.getString(0)
      val (mins, diff) =
        if (Set("SQ8", "SQ4", "SQ6")(inner)) r.range("range", inner)
        else (Array.empty[Double], Array.empty[Double])
      new MinMaxIndex(inner, m.getBoolean(1), mins, diff,
        if (inner.startsWith("PQ")) r("codebooks") else null, r.frame("codes"))
    }),
    // base_index + refine storage + k_factor (index_write.cpp IndexRefine)
    family[RefineFlatIndex]("refineflat", Frame("base", _.base, "", Seq("id", "vec")))(
      sub("inner")(_.inner),
      meta("meta", "k_factor:int", "metric")(i => row(i.kFactor, i.metric)))(r => {
      val m = r.one("meta")
      new RefineFlatIndex(r("inner"), r.frame("base"), m.getInt(0), m.getString(1))
    }))

  private def codeSize(codes: DataFrame): Int =
    codes.select(length(col("code")).cast("int")).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  def byKind(kind: String): Option[Codec[_]] = all.find(_.kind == kind)

  def byClass(cls: Class[_]): Codec[_] = all.find(_.cls.isAssignableFrom(cls)).getOrElse(
    throw new IllegalArgumentException(s"no index codec for ${cls.getName}"))
}
