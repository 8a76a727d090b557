package graft

import org.apache.spark.scheduler.StageInfo

/** Diagnostics main for the recall harness (the suite's most expensive
  * query): times each ANN branch standalone, then runs `ann_recall`
  * end-to-end under Harness's listener and prints per-rep wall, job/stage
  * counts, stage-exec sums, and the slowest stages. The [[ScaleProbe]]
  * companion for ANN perf work — run it before and after touching
  * anything under `ext/Similarity.scala`:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.RecallProbe"`.
  * Round-11 findings it produced are recorded in the annRecall tail
  * comment and BASELINE.md (nine-tail vs consolidated shapes; the
  * launch-bound floor).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val fn = SparkEntry.queries("ann_recall")
    // warmup (trains + caches artifacts, JIT)
    Harness.noop(fn(spark, sfDir))

    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .localCheckpoint(true)
    def t(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
      println(f"branch $label: median ${Harness.median3(spark)(mk).wall}%.2f s")
    t("brute_truth")(ext.Similarity.bruteForceTopK(emb, 100, 1))
    t("sq8_100")(ext.Similarity.sq8TopK(emb, 100, 1))
    t("sq8_20")(ext.Similarity.sq8TopK(emb, 20, 1))
    t("ivfpq_100")(ext.Similarity.ivfPqTop1(emb, 100))
    t("lsh_tables")(ext.Similarity.lshTopNeighbor(emb))
    t("pq_adc_100")(ext.Similarity.pqAdcTopK(emb, 100, 1))
    t("pq_adc_20")(ext.Similarity.pqAdcTopK(emb, 20, 1))
    println("=== pqAdcTopK(100,1) formatted plan ===")
    println(ext.Similarity.pqAdcTopK(emb, 100, 1).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).take(6000))
    def dur(i: StageInfo): Long =
      (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
    (1 to 3).foreach { r =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val runStart = System.currentTimeMillis()
      val run = Harness.timed(spark)(fn(spark, sfDir))
      val sl = Harness.metrics(spark).lastStages(run.stages.toInt)
      println(f"rep$r: ${run.wall}%.2f s, jobs=${run.jobs}, stages=${run.stages}, " +
        f"stage-exec sum=${sl.map(dur).sum}ms")
      if (r == 3)
        sl.sortBy(-dur(_)).take(12).foreach { i =>
          val m = i.taskMetrics
          println(f"  stage dur=${dur(i)}ms " +
            f"submit@${i.submissionTime.map(_ - runStart).getOrElse(-1L)}ms  " +
            s"run=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms " +
            s"deser=${m.executorDeserializeTime}ms result=${m.resultSerializationTime}ms " +
            s"tasks=${i.numTasks} rdd=${i.rddInfos.map(_.name).mkString("|").take(80)}")
        }
    }
    spark.stop()
  }
}
