package graft.tools

/** Dumps one catalog query's `.explain("formatted")` to a file — the
  * per-change plan evidence of the optimization rounds
  * (plans/rNN/<query>_{before,after}.txt). Same session shape as
  * graft.Explain; *_big queries are captured at sf0.01 (their derived
  * query sets are empty at sf0.001, where the plan would fold to a
  * LocalTableScan).
  *
  * Usage: sbt "runMain graft.tools.PlanDump <query> <out.txt> [dir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val out = args(1)
    val dir = if (args.length > 2) args(2)
      else if (name.contains("_big")) "/root/testdata/sf0.01"
      else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(8)
    val df = graft.SparkEntry.queries(name)(spark, dir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    println(s"wrote $out")
    spark.stop()
  }
}
