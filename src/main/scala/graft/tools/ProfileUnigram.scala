package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only phase profiler for unigram_logprob_big (r9 gate work). */
object ProfileUnigram {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    val stages = new scala.collection.concurrent.TrieMap[Int, (String, Long, Long, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages(si.stageId) = (si.name.take(60), wall,
          si.taskMetrics.executorRunTime, si.numTasks)
      }
    })
    def dumpStages(label: String): Unit = {
      System.err.println(s"[stages] --- $label ---")
      stages.toSeq.sortBy(_._1).foreach { case (id, (n, w, rt, nt)) =>
        System.err.println(f"[stages] $id%4d wall=${w}%6d ms run=${rt}%7d ms tasks=$nt%3d  $n")
      }
      stages.clear()
    }
    if (sys.env.contains("PROF_MINHASH_FIRST"))
      t("minhash_neardup_big first")(
        graft.SparkEntry.queries("minhash_neardup_big")(spark, sfDir).count())
    val corpus = graft.Queries.commentCorpus(spark, sfDir)
    t("corpus warm")(corpus.count())

    def pipeline(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tDf = corpus.select(
        sum(size(filter(graft.llm.TextFunctions.tokenize(col("text")),
          tk => length(tk) > 0))).cast("double").as("T"))
      val toks = corpus
        .select(col("doc_id").cast("int").as("doc_id"),
          explode(graft.llm.TextFunctions.tokenize(col("text"))).as("tok0"))
        .filter(length(col("tok0")) > 0)
        .select(col("doc_id"), xxhash64(col("tok0")).as("tok"))
      toks
        .withColumn("c", count(lit(1)).over(Window.partitionBy(col("tok"))))
        .crossJoin(broadcast(tDf))
        .select(col("doc_id"),
          round(-log(col("c") / col("T")) * 10000).cast("int").as("nll_i"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("nll_i")) / 10000.0 / count(lit(1)), 2).as("avg_nll"))
        .groupBy(col("avg_nll"))
        .agg(count(lit(1)).as("n_docs"))
    }
    stages.clear()
    val out1 = pipeline()
    t("catalog unigram_logprob_big")(out1.count())
    dumpStages("run 1")
    System.err.println(out1.queryExecution.executedPlan.toString.take(9000))
    val out2 = pipeline()
    t("catalog again")(out2.count())
    dumpStages("run 2")
    spark.stop()
  }
}
