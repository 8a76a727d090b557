package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.Topology

/** End-to-end streaming topology: one file source fanned out to EVERY named
  * store (the reference's full wired topology), processed to completion, and
  * spot-checked against batch recomputation. This is the test that catches
  * operators that are legal in batch but not in a streaming plan.
  */
class TopologySpec extends SparkSpec {
  import spark.implicits._

  test("full store fan-out runs from a file source and converges to batch") {
    val dir = managedTempDir("topo")
    val batchEvents = Tables.events(spark, sfDir)
    // write with the streaming-readable schema (plain micros timestamps)
    batchEvents.write.mode("overwrite").parquet(s"$dir/events")
    val userDim = Tables.customer(spark, sfDir)

    val src = Topology.fileSource(spark, s"$dir/events")
    val stores = Topology.stores(src, userDim, watermark = Some("1 minute"))
    val queries = stores.map { case (name, df) =>
      name -> Topology.startMemorySink(df, name,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    }
    queries.values.foreach(_.processAllAvailable())
    queries.values.foreach(_.stop())

    // state partitions per store: every stateful store commits ONE state
    // partition per trigger at this size (the session has 4), and the
    // stateless branch holds no state
    val statePartitions = queries.map { case (name, q) =>
      name -> q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq
    }
    assert(statePartitions == stores.keys.map { name =>
      name -> (if (name == "store_anonymous_events") Seq() else Seq(1L))
    }.toMap)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")

    // every store produced rows
    stores.keys.foreach { name =>
      assert(spark.table(name).count() > 0, s"store $name is empty")
    }

    // convergence spot-checks (memory sink keeps the update changelog; the
    // latest row per key is the converged value)
    val batchCounts = Stats.eventTypeCounts(Ingest.mainBranch(batchEvents))
      .as[(String, Long)].collect().toMap
    val streamCounts = spark.table("store_log_event_counts")
      .groupBy("event_type").agg(max("n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(streamCounts == batchCounts)

    val batchLatest = Enrich.latestUser(batchEvents)
      .select("user_id", "last_value").as[(Long, Double)].collect().toMap
    val streamLatest = spark.table("store_user_data")
      .groupBy("user_id").agg(last("last_value").as("v"))
      .as[(Long, Double)].collect().toMap
    assert(streamLatest == batchLatest)

    val batchAnon = Ingest.anonymousBranch(batchEvents).count()
    assert(spark.table("store_anonymous_events").count() == batchAnon)
  }

  test("state-partition sizing: 1 for a small key space, capped at shuffle.partitions") {
    val r = Topology.UsersPerStatePartition
    assert(Topology.statePartitions(0L, 4) == 1)
    assert(Topology.statePartitions(1500L, 4) == 1)
    assert(Topology.statePartitions(r, 4) == 1)
    assert(Topology.statePartitions(r + 1, 4) == 2)
    assert(Topology.statePartitions(10 * r, 4) == 4)
    assert(Topology.statePartitions(10 * r, 200) == 10)
    assert(Topology.statePartitions(10 * r, 1) == 1)
  }

  test("stores size user-keyed state from the user dimension; other frames keep the session") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[TestEv]
    val ev = TestEv(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L,
      "signup", 1.0, "{}")
    def userStore(dimRows: Long) = Topology.stores(mem.toDF(),
      spark.range(dimRows).select(col("id").as("c_custkey"),
        lit("BUILDING").as("c_mktsegment"), lit(1).as("c_nationkey"))
    )("store_user_data")
    def partitionsOf(df: org.apache.spark.sql.DataFrame, name: String): Seq[Long] = {
      val q = Topology.startMemorySink(df, name)
      try {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
        mem.addData(ev)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq
      } finally q.stop()
    }
    assert(partitionsOf(userStore(1500L), "sized_small") == Seq(1L))
    assert(partitionsOf(userStore(10 * Topology.UsersPerStatePartition),
      "sized_large") == Seq(4L))
    // a frame not built by stores() starts with the session's count
    assert(partitionsOf(Stats.eventTypeCounts(mem.toDF()), "unsized") == Seq(4L))
  }

  test("a restarted store keeps its recorded state partitions and its output") {
    val dir = managedTempDir("topo_restart")
    val events = Tables.events(spark, sfDir)
    val cut = events.stat.approxQuantile("event_id", Array(0.5), 0.0).head
    events.filter(col("event_id") <= cut).write.parquet(s"$dir/a")
    events.filter(col("event_id") > cut).write.parquet(s"$dir/b")
    def land(half: String, src: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      new java.io.File(s"$dir/$half").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(src, s"$half-${f.getName}"))
        }
    }
    val userDim = Tables.customer(spark, sfDir)
    def userData(src: String) = Topology.stores(Topology.fileSource(spark, src),
      userDim)("store_user_data")
    def sink(out: String) = (b: org.apache.spark.sql.DataFrame, id: Long) =>
      Achievements.sinkToParquet(b.sparkSession, b, out, id)
    def partitions(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.lastProgress.stateOperators.map(_.numShufflePartitions).toSeq
    // the converged store: each user's row from its latest batch
    def converged(out: String) = spark.read.parquet(out)
      .withColumn("last", max("batch_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("batch_id") === col("last")).drop("batch_id", "last")
      .collect().map(_.toString).sorted.toSeq

    // interrupted: half a, stop, the session moves to 3 partitions, half b
    land("a", s"$dir/src")
    val df = userData(s"$dir/src")
    val q1 = Topology.startSized(df)(_.outputMode("update")
      .option("checkpointLocation", s"$dir/ck").foreachBatch(sink(s"$dir/out")))
    try q1.processAllAvailable() finally q1.stop()
    assert(partitions(q1) == Seq(1L))
    land("b", s"$dir/src")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      // a plain start: the count comes from the checkpoint's offset log,
      // not from the session or the start helper
      val q2 = df.writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ck").foreachBatch(sink(s"$dir/out"))
        .start()
      try q2.processAllAvailable() finally q2.stop()
      assert(q2.recentProgress.exists(_.numInputRows > 0))
      assert(partitions(q2) == Seq(1L))
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")

    // uninterrupted: both halves in one run
    land("a", s"$dir/src2")
    land("b", s"$dir/src2")
    val q3 = Topology.startSized(userData(s"$dir/src2"))(_.outputMode("update")
      .option("checkpointLocation", s"$dir/ck2").foreachBatch(sink(s"$dir/out2")))
    try q3.processAllAvailable() finally q3.stop()
    assert(converged(s"$dir/out").nonEmpty)
    assert(converged(s"$dir/out") == converged(s"$dir/out2"))
  }

  test("output mode chosen structurally: session windows → Append, other aggs → Update") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = managedTempDir("mode")
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$dir/events")
    val src = Topology.fileSource(spark, s"$dir/events").withWatermark("ts", "1 minute")

    // session-window aggregation → Append
    assert(Topology.outputModeFor(Streaks.sessions(src)) == OutputMode.Append())
    // plain aggregation → Update
    assert(Topology.outputModeFor(Stats.eventTypeCounts(src)) == OutputMode.Update())
    // stateless projection → Append
    assert(Topology.outputModeFor(src.select("event_id")) == OutputMode.Append())
    // a column merely NAMED session_window must not misroute to Append
    // (the plan-string-sniffing failure mode this detection replaces)
    val decoy = src.groupBy(col("event_type").as("session_window")).count()
    assert(Topology.outputModeFor(decoy) == OutputMode.Update())
  }

  test("streaming latestUser aggregation equals batch ranking form") {
    val e = Tables.events(spark, sfDir)
    val a = Enrich.latestUser(e)
      .as[(Long, java.sql.Timestamp, Double)].collect().toSet
    val b = Enrich.latestUserStreaming(e)
      .as[(Long, java.sql.Timestamp, Double)].collect().toSet
    assert(a == b)
  }
}
