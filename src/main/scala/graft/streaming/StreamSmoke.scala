package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.Tables

/** Runnable smoke of the full streaming topology: replays the sf events
  * table through a file source, fans out to every named store, processes to
  * completion, and prints one line per store with its converged row count
  * and its state layout from the last trigger's progress: state partitions
  * (`numShufflePartitions`), state-store instances and state rows per
  * stateful operator (`-` for a stateless store).
  *
  * Usage: `sbt "runMain graft.streaming.StreamSmoke [sfDir]"`
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(graft.Harness.WarmDir)
    val spark = graft.Harness.session(4)
    spark.sparkContext.setLogLevel("WARN")

    val tmp = java.nio.file.Files.createTempDirectory("stream_smoke").toString
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$tmp/events")

    val src = Topology.fileSource(spark, s"$tmp/events")
    val stores = Topology.stores(src, Tables.customer(spark, sfDir),
      watermark = Some("1 minute"))
    val queries = stores.map { case (name, df) =>
      name -> Topology.startMemorySink(df, name, Trigger.ProcessingTime("100 milliseconds"))
    }
    queries.values.foreach(_.processAllAvailable())
    queries.values.foreach(_.stop())
    stores.keys.toSeq.sorted.foreach { name =>
      // the state layout of the last trigger, from the query's own progress
      val ops = Option(queries(name).lastProgress).toSeq.flatMap(_.stateOperators)
      def each(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        if (ops.isEmpty) "-" else ops.map(f).mkString(",")
      println(s"[stream-smoke] $name rows=${spark.table(name).count()}" +
        s" numShufflePartitions=${each(_.numShufflePartitions)}" +
        s" numStateStoreInstances=${each(_.numStateStoreInstances)}" +
        s" numRowsTotal=${each(_.numRowsTotal)}")
    }
    spark.stop()
  }
}
