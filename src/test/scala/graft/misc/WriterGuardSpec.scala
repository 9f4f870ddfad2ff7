package graft.misc

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: `graft.io.Frame.write` is the one writer of index
  * frames, and it clusters a frame by sorting its files. No writer under
  * src/main lays data out as one directory per value with `partitionBy`. */
class WriterGuardSpec extends AnyFunSuite {

  /** A `.write`/`.writeStream` chain of calls, over any lines, that
    * reaches `.partitionBy(`. */
  private val writerPartitionBy =
    """\.write(Stream)?(\s*\.\w+(\((?:[^()]|\([^()]*\))*\))?)*?\s*\.partitionBy\(""".r

  test("the guard matches writer chains, not window specs") {
    assert(writerPartitionBy.findFirstIn("df.repartition(col(by)).write.partitionBy(by)").isDefined)
    assert(writerPartitionBy.findFirstIn(
      "df.write\n  .mode(\"append\")\n  .option(\"k\", f(1))\n  .partitionBy(\"list_no\")").isDefined)
    assert(writerPartitionBy.findFirstIn("s.writeStream.format(\"parquet\").partitionBy(\"d\")").isDefined)
    assert(writerPartitionBy.findFirstIn("val w = Window\n  .partitionBy(col(\"_i\")).orderBy(col(\"_x\"))").isEmpty)
    assert(writerPartitionBy.findFirstIn("df.write.parquet(p)\nWindow.partitionBy(col(\"k\"))").isEmpty)
  }

  test("src/main makes no partitionBy writer call") {
    val found = SourceScan.sources("src/main/scala").flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      writerPartitionBy.findAllMatchIn(text).map(m =>
        s"$p:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched.replaceAll("\\s+", " ")}")
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
