package graft

/** Plan inspector: prints the formatted physical plan of selected queries so
  * pushdown / broadcast / codegen spans can be audited (run with
  * `sbt "runMain graft.Explain q1_pricing j1_enrich"`; no args = all).
  *
  * A query whose result is materialized while it is BUILT (an eager
  * `localCheckpoint`) explains as a scan of the checkpoint; the plan that
  * computed it ran as an eager action. Every such action's plan is
  * printed after the queries' own plans, as `<query>: eager <call site>`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir(Harness.WarmDir)
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            s.jobGroupId.foreach(n => eager.add(
              s"\n========== $n: eager ${s.description} ==========\n" +
                s.physicalPlanDescription))
          case _ => ()
        }
    })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // no description: an eager plan's header then names its call site
      spark.sparkContext.setJobGroup(n, null)
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    // stopping drains the listener bus, so every eager plan has arrived
    spark.stop()
    eager.forEach(p => println(p))
  }
}
