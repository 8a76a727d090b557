package graft

import org.apache.spark.sql.functions._

import graft.operators.Stats
import graft.streaming.Topology

/** Checkpoint-recovery semantics: a streaming aggregation stopped and
  * restarted from its checkpoint must resume state (not recount) and pick up
  * files that arrived while it was down — the effectively-once behavior that
  * replaces the reference's at-least-once Kafka 0.10 setup (SURVEY §2.8).
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("streaming agg restarts from checkpoint and resumes state") {
    val root = managedTempDir("recovery")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()

    def writeBatch(ids: Range): Unit =
      ids.map(i => TestEv(i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          i.toLong % 3, "click", 1.0, "{}"))
        .toDF().write.mode("append").parquet(srcDir)

    // parquet sink supports only Append; use foreachBatch to materialize the
    // running counts per micro-batch (the reference's store-flush shape)
    def startQuery() =
      Stats.eventTypeCounts(Topology.fileSource(spark, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    writeBatch(0 until 10)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // files arriving while the query is down
    writeBatch(10 until 25)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val counts = spark.read.parquet(outDir)
      .agg(sum("n")).as[Long].head()
    // update-mode emission after restart carries the resumed total:
    // 25 events overall, all one event_type -> n = 25
    assert(counts == 25L)
  }

  test("streaming funnel depth: state survives restart, equals batch") {
    val root = managedTempDir("funnelrec")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()

    // user 1 walks the whole funnel; the restart lands BETWEEN its view
    // and its click, so depth 4 is only reachable if FunnelState resumed
    // (a restarted-empty state would re-require signup first and stall at
    // 0). user 2's click precedes its view: depth must stop at 2.
    def mkEv(id: Long, t: String, u: Long, et: String) =
      TestEv(id, java.sql.Timestamp.valueOf(t), u, et, 1.0, "{}")
    val tranche1 = Seq(
      mkEv(1, "2024-01-01 00:00:00", 1, "signup"),
      mkEv(2, "2024-01-01 00:01:00", 1, "view"),
      mkEv(3, "2024-01-01 00:00:30", 2, "click"),
      mkEv(4, "2024-01-01 00:01:30", 2, "signup"))
    val tranche2 = Seq(
      mkEv(5, "2024-01-01 00:02:00", 1, "click"),
      mkEv(6, "2024-01-01 00:03:00", 1, "purchase"),
      mkEv(7, "2024-01-01 00:02:30", 2, "view"))

    def startQuery() =
      Stats.funnelStreaming(spark, Topology.fileSource(spark, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          batch.withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    tranche1.toDF().write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    tranche2.toDF().write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir)
      .groupBy("user_id").agg(max("depth").as("depth"))
      .filter(col("depth") > 0)
      .as[(Long, Long)].collect().toMap
    val want = Stats.funnel((tranche1 ++ tranche2).toDF())
      .select("user_id", "depth").as[(Long, Long)].collect().toMap
    assert(got == want && want == Map(1L -> 4L, 2L -> 2L),
      s"restarted funnel diverged: $got vs $want")
  }

  test("topology behavior store: a session spanning the restart emerges whole") {
    val root = managedTempDir("toposessrec")
    val srcDir = s"$root/src"
    new java.io.File(srcDir).mkdirs()
    def mkEv(id: Long, t: String, u: Long, et: String) =
      TestEv(id, java.sql.Timestamp.valueOf(t), u, et, 1.0, "{}")
    // user 1's session SPANS the restart (gaps under 30 min): the closed
    // session row (ne=3 covering all three events) only exists if the
    // session_window state resumed from the checkpoint — a restarted-empty
    // store would emit two fragments
    val tranche1 = Seq(
      mkEv(1, "2024-01-01 10:00:00", 1, "click"),
      mkEv(2, "2024-01-01 10:05:00", 1, "purchase"))
    val tranche2 = Seq(
      mkEv(3, "2024-01-01 10:10:00", 1, "click"),
      mkEv(99, "2024-01-02 00:00:00", 999, "click"))
    val tranche3 = Seq(mkEv(100, "2024-01-03 00:00:00", 999, "click"))

    def startQuery() = {
      val store = Topology.behaviorStores(
        Topology.fileSource(spark, srcDir))("store_session_profiles")
      store.writeStream
        .outputMode(Topology.outputModeFor(store))
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$root/out")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()
    }
    tranche1.toDF().write.mode("append").parquet(srcDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    tranche2.toDF().write.mode("append").parquet(srcDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    tranche3.toDF().write.mode("append").parquet(srcDir)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()

    val got = spark.read.parquet(s"$root/out")
      .filter(col("user_id") === 1L)
      .select("user_id", "ne", "dur_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 600000000L)),
      s"session fragmented across restart: $got")
  }

  test("funnel TTL: open attempt survives restart, expired attempt still closes") {
    val root = managedTempDir("funnelttlrec")
    val srcDir = s"$root/src"
    new java.io.File(srcDir).mkdirs()
    def mkEv(id: Long, t: String, u: Long, et: String) =
      TestEv(id, java.sql.Timestamp.valueOf(t), u, et, 1.0, "{}")
    // user 1's conversion SPANS the restart inside the 10-minute window —
    // depth 4 is only reachable if the open-attempt state resumed; user
    // 2's attempt expires across the restart (its post-restart view lands
    // past the horizon), so its closed row must say depth 1
    val tranche1 = Seq(
      mkEv(1, "2024-01-01 00:00:00", 1, "signup"),
      mkEv(2, "2024-01-01 00:01:00", 1, "view"),
      mkEv(3, "2024-01-01 00:00:00", 2, "signup"))
    val tranche2 = Seq(
      mkEv(4, "2024-01-01 00:02:00", 1, "click"),
      mkEv(5, "2024-01-01 00:03:00", 1, "purchase"),
      mkEv(6, "2024-01-01 00:20:00", 2, "view"),
      // watermark driver: carries the watermark past every horizon so the
      // surviving attempts' timeouts fire before the final stop
      mkEv(99, "2024-01-01 01:00:00", 999, "click"))
    val tranche3 = Seq(mkEv(100, "2024-01-01 01:30:00", 999, "click"))

    def startQuery() =
      Stats.funnelStreamingTtl(spark, Topology.fileSource(spark, srcDir),
          "10 minutes")
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$root/out")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    tranche1.toDF().write.mode("append").parquet(srcDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    tranche2.toDF().write.mode("append").parquet(srcDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    tranche3.toDF().write.mode("append").parquet(srcDir)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()

    def us(t: String): Long =
      java.sql.Timestamp.valueOf(t).getTime * 1000L
    val closed = spark.read.parquet(s"$root/out")
      .filter(col("closed") && col("user_id") =!= 999L)
      .select("user_id", "t0_us", "depth", "t_depth_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(closed == Set(
      (1L, us("2024-01-01 00:00:00"), 4L, us("2024-01-01 00:03:00")),
      (2L, us("2024-01-01 00:00:00"), 1L, us("2024-01-01 00:00:00"))),
      s"restarted TTL funnel diverged: $closed")
  }

  test("streaming transitions: last-event state bridges a restart") {
    val root = managedTempDir("transrec")
    val srcDir = s"$root/src"
    new java.io.File(srcDir).mkdirs()
    def mkEv(id: Long, t: String, u: Long, et: String) =
      TestEv(id, java.sql.Timestamp.valueOf(t), u, et, 1.0, "{}")
    // the view -> click pair SPANS the restart: it only exists if the
    // saved last-event state resumed (a restarted-empty state would emit
    // click -> view from tranche 2 alone and miss the bridge)
    val tranche1 = Seq(
      mkEv(1, "2024-01-01 00:00:00", 1, "signup"),
      mkEv(2, "2024-01-01 00:01:00", 1, "view"))
    val tranche2 = Seq(
      mkEv(3, "2024-01-01 00:02:00", 1, "click"),
      mkEv(4, "2024-01-01 00:03:00", 1, "view"))

    def startQuery() =
      Stats.transitionsStreaming(spark, Topology.fileSource(spark, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(s"$root/out")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    tranche1.toDF().write.mode("append").parquet(srcDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    tranche2.toDF().write.mode("append").parquet(srcDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(s"$root/out")
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    val want = Stats.transitions((tranche1 ++ tranche2).toDF())
      .select("src", "dst", "n_trans")
      .as[(String, String, Long)].collect().toSet
    assert(got == want && want == Set(("signup", "view", 1L),
      ("view", "click", 1L), ("click", "view", 1L)),
      s"restarted transitions diverged: $got")
  }

  test("streaming IVF index maintenance: appends survive restart, search stays exchange-free") {
    import graft.ext.Similarity
    import org.apache.spark.sql.types._
    graft.functions.CosineSimilarity.register(spark)
    val root = managedTempDir("ivfmaint")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()

    def vec(i: Long): Array[Float] =
      Array.tabulate(64)(d => (math.sin(i * 64 + d) * 0.9).toFloat)
    def frame(ids: Range) =
      ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "embedding")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))

    // initial build from the first 100 vectors (contains the k=16 quantizer)
    Similarity.buildIvfIndexGen(frame(0 until 100), "ivf_maint_test", buckets = 4)
    val deltaDir = s"$root/delta"
    def startQuery() = Similarity.maintainIvfIndex(
      spark.readStream.schema(schema).parquet(srcDir), "ivf_maint_test",
      deltaDir, ckpt)
    try {
      frame(100 until 150).write.mode("append").parquet(srcDir)
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      // vectors arriving while the maintainer is down; the restarted query
      // must pick them up WITHOUT re-applying the first batch
      frame(150 until 200).write.mode("append").parquet(srcDir)
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()

      assert(spark.read.parquet(s"$deltaDir/postings").count() == 100L,
        "exactly one delta row per vector across restarts")
      val got = Similarity.searchIvfIndexWith(spark, "ivf_maint_test", deltaDir, 3)
        .as[(Long, Long, Long)].collect()
      // post-restart vectors are searchable AND surface as neighbors
      assert(got.exists(_._1 >= 150L) && got.exists(_._3 >= 150L))
      // equivalence: the incrementally-built index answers exactly like a
      // from-scratch direct search over the full corpus (same first-16
      // quantizer, so assignments are identical by construction)
      val direct = Similarity.ivfTopKNeighbors(frame(0 until 200), 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(got.toSet == direct)
      // crash-replay idempotence: redeliver the restarted query's batch
      // (id 1) as foreachBatch would after a crash between the delta write
      // and the checkpoint commit — the partition overwrite makes it a
      // no-op (an at-least-once base append would duplicate 50 vectors)
      Similarity.applyIvfDelta(frame(150 until 200), "ivf_maint_test",
        deltaDir, 1L)
      assert(spark.read.parquet(s"$deltaDir/postings").count() == 100L)
      assert(Similarity.searchIvfIndexWith(spark, "ivf_maint_test", deltaDir, 3)
        .as[(Long, Long, Long)].collect().toSet == direct)
      // generation-swap compaction folds the delta into generation 2:
      // delta rows were unsharded (m=1); re-stamping shard factors at
      // maxBucket=8 must shard the grown lists, restore the exchange-free
      // plain search, and change no answer
      Similarity.compactIvfIndexGen(spark, "ivf_maint_test", deltaDir, 4, 8)
      assert(spark.table("ivf_maint_test").count() == 200L)
      assert(spark.table("ivf_maint_test").filter(col("m") > 1).count() > 0)
      val compacted = Similarity.searchIvfIndex(spark, "ivf_maint_test", 3)
      assert(!compacted.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(compacted.as[(Long, Long, Long)].collect().toSet == direct)
      // the folded partitions survive one cycle (watermark-excluded, no
      // double count); a second compaction GCs them and the delta-aware
      // search plans base-only, exchange-free again
      assert(Similarity.searchIvfIndexWith(spark, "ivf_maint_test", deltaDir, 3)
        .as[(Long, Long, Long)].collect().toSet == direct)
      Similarity.compactIvfIndexGen(spark, "ivf_maint_test", deltaDir, 4, 8)
      val after = Similarity.searchIvfIndexWith(spark, "ivf_maint_test", deltaDir, 3)
      assert(!after.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(after.as[(Long, Long, Long)].collect().toSet == direct)
    } finally {
      spark.sql("DROP VIEW IF EXISTS ivf_maint_test")
      (1 to 3).foreach(g =>
        graft.sources.Bucketing.dropGeneration(spark, "ivf_maint_test", g))
    }
  }

  test("streaming trending tokens: window sketch state survives restart") {
    import org.apache.spark.sql.types._
    val root = managedTempDir("trendrec")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("text", StringType)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def startQuery() =
      graft.ext.Sketches.trendingTokens(
          spark.readStream.schema(schema).parquet(srcDir), m = 4, streaming = true)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // the watermark's trailing no-data micro-batch emits nothing in
          // update mode — don't let it overwrite the last real emission
          if (!batch.isEmpty) batch.write.mode("overwrite").parquet(outDir)
        }
        .start()
    // batch 1: "viral" spammed inside the 00:00 window
    Seq((t("2024-01-01 00:10:00"), "viral viral viral n1 n2"))
      .toDF("ts", "text").write.mode("append").parquet(srcDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // batch 2 lands in the SAME window while the query is down — the
    // restarted agg must fold it into the checkpointed sketch state, so
    // the window total counts both batches and candidates still hold the
    // heavy token (a recount-from-zero would report n_tokens = 3)
    Seq((t("2024-01-01 00:40:00"), "viral viral n3"))
      .toDF("ts", "text").write.mode("append").parquet(srcDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val row = spark.read.parquet(outDir)
      .select("win_start", "candidates", "n_tokens")
      .as[(java.sql.Timestamp, Seq[Long], Long)].collect()
    assert(row.length == 1 && row.head._1 == t("2024-01-01 00:00:00"))
    assert(row.head._3 == 8L, s"resumed window must total both batches, got ${row.head._3}")
    val hViral = Seq("viral").toDF("tok")
      .select(graft.functions.Exact.md5Hash60(col("tok"))).as[Long].head()
    assert(row.head._2.contains(hViral))
  }

  test("streaming LSH dedup loop: survivors extend the index across restarts") {
    import graft.ext.Dedup
    import org.apache.spark.sql.types._
    val root = managedTempDir("lshmaint")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/survivors"
    new java.io.File(srcDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    val deltaDir = s"$root/delta"
    val base = Tables.documents(spark, sfDir).select("doc_id", "text").limit(20)
    Dedup.buildLshIndexGen(base, "lsh_maint_test", buckets = 4)
    val baseRows = spark.table("lsh_maint_test").count()
    // batch 1: a near-dup of corpus doc 0 (first token dropped — the
    // perturbation minhash banding is known to catch) + a fresh doc
    val freshText1 = "zqx wvu tsr qpo nml kji hgf edc ba nine eight seven six five"
    base.filter(col("doc_id") === 0L)
      .select(lit(1000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(Seq((2000L, freshText1)).toDF("doc_id", "text"))
      .write.mode("append").parquet(srcDir)
    def start() = Dedup.maintainLshDedup(
      spark.readStream.schema(schema).parquet(srcDir),
      "lsh_maint_test", deltaDir, ckpt, outDir)
    try {
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // batch 2 arrives while the maintainer is down: a near-dup of the
      // batch-1 SURVIVOR (must be caught — proves the delta append took
      // effect) + another fresh doc
      Seq(
        (3000L, freshText1.substring(freshText1.indexOf(' ') + 1)),
        (4000L, "completely different content one two three four five six seven"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q2 = start(); q2.processAllAvailable(); q2.stop()

      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(2000L, 4000L),
        s"dup-of-corpus and dup-of-survivor must drop, got $survivors")
      // the delta holds exactly the survivors' bands (NumBands each);
      // compaction folds them into generation 2 and the folded base alone
      // then catches a twin of a survivor
      assert(spark.read.parquet(s"$deltaDir/bands").count() ==
        2L * Dedup.NumBands)
      Dedup.compactLshIndexGen(spark, "lsh_maint_test", deltaDir, buckets = 4)
      assert(spark.table("lsh_maint_test").count() ==
        baseRows + 2L * Dedup.NumBands)
      val caught = Dedup.dedupAgainstIndex(spark,
        Seq((5000L, freshText1)).toDF("doc_id", "text"), "lsh_maint_test")
        .select("doc_id_corpus").as[Long].collect().toSet
      assert(caught.contains(2000L),
        "folded base must catch a twin of the streamed survivor")
    } finally {
      spark.sql("DROP VIEW IF EXISTS lsh_maint_test")
      Seq(1, 2).foreach(g =>
        graft.sources.Bucketing.dropGeneration(spark, "lsh_maint_test", g))
    }
  }

  test("streaming exact-jaccard dedup: index appends survive restart") {
    import graft.ext.Dedup
    import org.apache.spark.sql.types._
    val root = managedTempDir("jacmaint")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/survivors"
    new java.io.File(srcDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    val deltaDir = s"$root/delta"
    val tau = 900000L
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(base, "jac_maint_test", tau, buckets = 2)
    // batch 1: an exact twin of corpus doc 0 (must drop) + a doc of tokens
    // the build never saw (must survive and extend the vocab)
    val freshText = "qq ww ee rr tt yy uu ii oo pp"
    Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2000L, freshText))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    def start() = Dedup.maintainJaccardDedup(
      spark.readStream.schema(schema).parquet(srcDir),
      "jac_maint_test", deltaDir, ckpt, outDir, tau)
    try {
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // batch 2 arrives while the maintainer is down: a twin of the batch-1
      // SURVIVOR — catching it proves the delta append (including the vocab
      // extension for build-unseen tokens) took effect across the restart
      Seq(
        (3000L, freshText),
        (4000L, "completely different content here with its own words now"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q2 = start(); q2.processAllAvailable(); q2.stop()

      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(2000L, 4000L),
        s"twin-of-corpus and twin-of-survivor must drop, got $survivors")
      // compaction folds the streamed survivors into generation 2 of all
      // three tables; the folded base ALONE then catches a twin of the
      // streamed survivor (no delta read)
      Dedup.compactJaccardIndexGen(spark, "jac_maint_test", deltaDir, buckets = 2)
      val caught = Dedup.jaccardAgainstIndex(spark,
        Seq((5000L, freshText)).toDF("doc_id", "text"), "jac_maint_test", tau)
        .select("doc_corpus").as[Long].collect().toSet
      assert(caught.contains(2000L),
        "folded base must catch a twin of the streamed survivor")
    } finally Seq("jac_maint_test_vocab", "jac_maint_test_toks", "jac_maint_test_prefix")
      .foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        Seq(1, 2).foreach(g => graft.sources.Bucketing.dropGeneration(spark, t, g))
      }
  }

  test("lsh dedup batch REPLAY is idempotent (no dup bands, no self-drop)") {
    import graft.ext.Dedup
    val root = managedTempDir("lshreplay")
    val outDir = s"$root/survivors"
    val deltaDir = s"$root/delta"
    val base = Tables.documents(spark, sfDir).select("doc_id", "text").limit(10)
    Dedup.buildLshIndexGen(base, "lsh_replay_test", buckets = 4)
    try {
      val fresh = "zqx wvu tsr qpo nml kji hgf edc ba nine eight seven"
      val batch = base.filter(col("doc_id") === 0L)
        .select(lit(1000L).as("doc_id"), col("text")) // twin of corpus -> drop
        .unionByName(Seq((2000L, fresh)).toDF("doc_id", "text"))
      val before = spark.table("lsh_replay_test").count()
      Dedup.processLshBatch(batch, 3L, "lsh_replay_test", deltaDir, outDir)
      Dedup.processLshBatch(batch, 3L, "lsh_replay_test", deltaDir, outDir)
      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(2000L),
        s"replay must not double-write or self-drop the survivor, got $survivors")
      // the redelivery overwrote its own delta partition: bands land
      // exactly once, and the base table is untouched
      assert(spark.read.parquet(s"$deltaDir/bands").count() == Dedup.NumBands,
        "band rows written exactly once across replays")
      spark.catalog.refreshTable("lsh_replay_test")
      assert(spark.table("lsh_replay_test").count() == before)
    } finally {
      spark.sql("DROP VIEW IF EXISTS lsh_replay_test")
      graft.sources.Bucketing.dropGeneration(spark, "lsh_replay_test", 1)
    }
  }

  test("jaccard dedup batch REPLAY is idempotent (no dup index rows, no self-drop)") {
    import graft.ext.Dedup
    val root = managedTempDir("jacreplay")
    val outDir = s"$root/survivors"
    val deltaDir = s"$root/delta"
    val tau = 900000L
    val base = Seq((0L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(base, "jac_replay_test", tau, buckets = 2)
    try {
      val batch = Seq(
        (100L, "alpha beta gamma delta epsilon"), // twin of corpus -> drop
        (200L, "qq ww ee rr tt"))                 // fresh -> survive + append
        .toDF("doc_id", "text")
      // foreachBatch redelivery: same batch, same id, twice — the second
      // pass recomputes from the first delivery's visible state (its own
      // delta partitions excluded) and overwrites them with identical rows
      Dedup.processJaccardBatch(batch, 7L, "jac_replay_test", deltaDir, outDir, tau)
      Dedup.processJaccardBatch(batch, 7L, "jac_replay_test", deltaDir, outDir, tau)
      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(200L),
        s"replay must not double-write or self-drop the survivor, got $survivors")
      // base ∪ delta — what any probe reads — holds each row exactly once
      def union(suffix: String, cols: Seq[String]) =
        graft.sources.Bucketing.layerWithDelta(spark, s"jac_replay_test_$suffix",
          Some(s"$deltaDir/$suffix"), cols)
      Seq("toks" -> Seq("doc_id", "toks", "n"),
          "prefix" -> Seq("tid", "doc_id", "n", "rn")).foreach { case (t, cols) =>
        val dups = union(t, cols)
          .groupBy(col("doc_id"), if (t == "prefix") col("tid") else col("n"))
          .count().filter($"count" > 1).count()
        assert(dups == 0L, s"duplicate rows in $t after replay")
      }
      val vocabDups = union("vocab", Seq("token", "tid"))
        .groupBy("token").count().filter($"count" > 1).count()
      assert(vocabDups == 0L, "duplicate vocab tokens after replay")
    } finally Seq("jac_replay_test_vocab", "jac_replay_test_toks", "jac_replay_test_prefix")
      .foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        graft.sources.Bucketing.dropGeneration(spark, t, 1)
      }
  }

  test("jaccard dedup batch REPLAY keeps within-batch twins (both-survive contract)") {
    import graft.ext.Dedup
    val root = managedTempDir("jactwin")
    val outDir = s"$root/survivors"
    val deltaDir = s"$root/delta"
    val tau = 900000L
    val base = Seq((0L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(base, "jac_twin_test", tau, buckets = 2)
    try {
      // two within-batch twins that match NOTHING in the index: both survive
      // the first delivery (documented contract), and must STILL both
      // survive redelivery — when each one's twin is already in the index
      val batch = Seq(
        (100L, "qq ww ee rr tt"),
        (200L, "qq ww ee rr tt"),
        (300L, "zz xx cc vv bb"))
        .toDF("doc_id", "text")
      Dedup.processJaccardBatch(batch, 7L, "jac_twin_test", deltaDir, outDir, tau)
      Dedup.processJaccardBatch(batch, 7L, "jac_twin_test", deltaDir, outDir, tau)
      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(100L, 200L, 300L),
        s"within-batch twins must both survive replay, got $survivors")
      // and base ∪ delta holds each twin's toks exactly once
      val dups = graft.sources.Bucketing.layerWithDelta(spark,
          "jac_twin_test_toks", Some(s"$deltaDir/toks"),
          Seq("doc_id", "toks", "n"))
        .groupBy("doc_id").count().filter($"count" > 1).count()
      assert(dups == 0L, "duplicate toks rows after twin replay")
    } finally Seq("jac_twin_test_vocab", "jac_twin_test_toks", "jac_twin_test_prefix")
      .foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        graft.sources.Bucketing.dropGeneration(spark, t, 1)
      }
  }

  test("lsh dedup batch REPLAY keeps within-batch twins (both-survive contract)") {
    import graft.ext.Dedup
    val root = managedTempDir("lshtwin")
    val outDir = s"$root/survivors"
    val deltaDir = s"$root/delta"
    val base = Tables.documents(spark, sfDir).select("doc_id", "text").limit(10)
    Dedup.buildLshIndexGen(base, "lsh_twin_test", buckets = 4)
    try {
      val fresh = "zqx wvu tsr qpo nml kji hgf edc ba nine eight seven"
      val batch = Seq((1000L, fresh), (2000L, fresh)).toDF("doc_id", "text")
      Dedup.processLshBatch(batch, 3L, "lsh_twin_test", deltaDir, outDir)
      Dedup.processLshBatch(batch, 3L, "lsh_twin_test", deltaDir, outDir)
      val survivors = spark.read.parquet(outDir).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(survivors == Seq(1000L, 2000L),
        s"within-batch twins must both survive replay, got $survivors")
      val bandDups = graft.sources.Bucketing.layerWithDelta(spark,
          "lsh_twin_test", Some(s"$deltaDir/bands"), Seq("bkey", "doc_id"))
        .groupBy("doc_id", "bkey").count().filter($"count" > 1).count()
      assert(bandDups == 0L, "duplicate band rows after twin replay")
    } finally {
      spark.sql("DROP VIEW IF EXISTS lsh_twin_test")
      graft.sources.Bucketing.dropGeneration(spark, "lsh_twin_test", 1)
    }
  }

  test("streaming sequence packing: per-source offsets survive restart") {
    val root = managedTempDir("packrec")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    new java.io.File(srcDir).mkdirs()

    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text").write.mode("append").parquet(srcDir)

    val outDir = s"$root/out"
    def startQuery() = {
      val in = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING").parquet(srcDir)
      graft.ext.Curation.sequencePackStreaming(in, seqLen = 4L)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()
    }

    // 5 tokens for source a land before the stop
    writeDocs(Seq((1L, "a", "t1 t2 t3"), (2L, "a", "t4 t5")))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // docs arriving while the query is down must resume AT OFFSET 5 — the
    // GroupState offset is checkpointed state, not per-run memory
    writeDocs(Seq((3L, "a", "t6 t7 t8")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir)
      .select("doc_id", "start_off", "bin_first", "bin_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 0L),
      (2L, 3L, 0L, 1L),
      (3L, 5L, 1L, 1L)), s"offsets did not survive restart: ${got.toSeq}")
  }

  test("achievements graph at sf0.1: restart mid-stream, no re-emission, equals batch") {
    // the reference's declared-but-unwired purpose graph
    // (RAW_LOG_STREAM → … → USER_NOTIFICATIONS_STREAM), run over the full
    // sf0.1 events table fed in two tranches with a checkpoint restart
    // between them — the streaming union must equal one batch pass exactly
    import graft.operators.Achievements
    val root = managedTempDir("ach_sf01")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()

    val events = Tables.events(spark, "/root/testdata/sf0.1")
      .select(Topology.eventSchema.fieldNames.map(col): _*)

    def startQuery() =
      Achievements.notificationsStreaming(spark, Topology.fileSource(spark, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    // tranche 1 while live, tranche 2 while the query is down: the restored
    // GroupState must resume counts, not recount, and never re-emit a
    // threshold already announced
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir)
      .select("user_id", "threshold").as[(Long, Long)].collect().toSeq
    assert(got.size == got.distinct.size,
      s"thresholds re-emitted across restart: ${got.size - got.distinct.size} dupes")
    val want = Achievements.notifications(events)
      .select("user_id", "threshold").as[(Long, Long)].collect().toSet
    assert(got.toSet == want,
      s"streaming crossings != batch: missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
    assert(got.size == want.size)
  }

  test("crossing detector state survives restart: no threshold re-emitted") {
    import graft.operators.Achievements
    val root = managedTempDir("xrecovery")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    new java.io.File(srcDir).mkdirs()

    def writeCorrect(ids: Range): Unit =
      ids.map(i => TestEv(i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          1L, "click", 90.0, """{"k": 1}"""))
        .toDF().write.mode("append").parquet(srcDir)

    def startQuery() =
      Achievements.crossingsStreaming(spark, Topology.fileSource(spark, srcDir))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()

    // 3 correct answers -> crosses threshold 1 only
    writeCorrect(0 until 3)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // 4 more while down -> count 7 crosses threshold 5; GroupState restored
    // from the checkpoint must NOT re-emit threshold 1
    writeCorrect(3 until 7)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir)
      .select("user_id", "threshold").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 1L), (1L, 5L)))
  }

  test("generation-swap bm25 compaction: serving continues across the swap") {
    import graft.ext.Retrieval
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad"),
      (3L, "gamma pad pad pad pad pad")).toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    val table = "graft_bm25_genswap"
    Retrieval.buildBm25IndexGen(base, table)
    val root = managedTempDir("bm25genswap")
    val deltaDir = s"$root/delta"
    Retrieval.applyBm25Delta(newDoc, deltaDir, 0L)
    val queries = Seq((900L, "beta"), (901L, "newterm")).toDF("query_id", "token")

    def serve(): Set[(Long, Long)] = Retrieval
      .searchBm25Index(spark, table, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val before = serve() // base-only: newterm unanswered
    assert(before.contains((900L, 2L)) && !before.exists(_._1 == 901L))
    val expectedAfter = Retrieval
      .searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(expectedAfter.contains((901L, 50L)))

    // a searcher hammers the view WHILE compaction writes gen 2 and swaps:
    // every observed answer set must be a valid serving state (pre- or
    // post-swap), and no query may error
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val searcher = new Thread(() => {
      while (!stop.get()) {
        try seen.add(serve())
        catch { case t: Throwable => errors.add(t); () }
      }
    })
    searcher.start()
    try Retrieval.compactBm25IndexGen(spark, table, deltaDir)
    finally { stop.set(true); searcher.join(30000) }

    assert(errors.isEmpty, s"serving failed during swap: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(seen.asScala.forall(s => s == before || s == expectedAfter),
      seen.asScala.find(s => s != before && s != expectedAfter).toString)
    // post-swap: the folded base alone serves the delta doc; the folded
    // batch partition is RETAINED one cycle for in-flight readers, but a
    // base ∪ delta search against the new generation filters it by the
    // folded watermark — NO double count (delta doc appears once, scores
    // identical to base-only)
    assert(serve() == expectedAfter)
    assert(new java.io.File(s"$deltaDir/postings/batch_id=0").exists())
    val unioned = Retrieval
      .searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val baseOnly = Retrieval.searchBm25Index(spark, table, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(unioned == baseOnly, s"folded delta double-counted: $unioned vs $baseOnly")
    assert(spark.catalog.tableExists("graft_bm25_genswap__g1"))
    assert(spark.catalog.tableExists("graft_bm25_genswap__g2"))
    // a second compaction (nothing unfolded) keeps answers, GCs the folded
    // batch partition, and retires generation 1
    Retrieval.compactBm25IndexGen(spark, table, deltaDir)
    assert(serve() == expectedAfter)
    assert(!new java.io.File(s"$deltaDir/postings/batch_id=0").exists())
    assert(!spark.catalog.tableExists("graft_bm25_genswap__g1"))
  }

  test("generation-swap ivf compaction: delta folds in, search stays consistent") {
    import graft.ext.Similarity
    def vec(x: Float, y: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y; a
    }
    // centroids = first k=2 vectors; two clear clusters
    val base = Seq(
      (0L, vec(1f, 0f)), (1L, vec(0f, 1f)),
      (2L, vec(0.9f, 0.1f)), (3L, vec(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val delta = Seq((10L, vec(0.95f, 0.05f))).toDF("vec_id", "embedding")
    val table = "graft_ivf_genswap"
    Similarity.buildIvfIndexGen(base, table, k = 2)
    val root = managedTempDir("ivfgenswap")
    val deltaDir = s"$root/delta"
    Similarity.applyIvfDelta(delta, table, deltaDir, 0L, k = 2)
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val withDelta = top1(Similarity.searchIvfIndexWith(spark, table, deltaDir))
    assert(withDelta(10L) == 0L && withDelta(2L) == 10L) // delta doc integrated
    Similarity.compactIvfIndexGen(spark, table, deltaDir, 8, 2)
    // the folded generation serves identical answers base-only, with shard
    // factors re-stamped from the grown counts (cluster 0 now holds 3 > 2)
    assert(top1(Similarity.searchIvfIndex(spark, table)) == withDelta)
    assert(spark.table(table).filter(col("m") > 1).count() > 0)
    // the folded batch partition survives one cycle for in-flight readers,
    // but base ∪ delta filters it by the watermark — the delta vector is
    // never double-counted into two candidate slots
    assert(new java.io.File(s"$deltaDir/postings/batch_id=0").exists())
    assert(top1(Similarity.searchIvfIndexWith(spark, table, deltaDir)) == withDelta)
    Similarity.compactIvfIndexGen(spark, table, deltaDir, 8, 2)
    assert(!new java.io.File(s"$deltaDir/postings/batch_id=0").exists())
    assert(top1(Similarity.searchIvfIndex(spark, table)) == withDelta)
  }

  test("bm25 gen compaction holds the watermark back for a half-written batch") {
    import graft.ext.Retrieval
    import graft.sources.Bucketing
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    val table = "graft_bm25_halfbatch"
    Retrieval.buildBm25IndexGen(base, table)
    val root = managedTempDir("bm25half")
    val deltaDir = s"$root/delta"
    // simulate compaction racing applyBm25Delta mid-write: only the
    // POSTINGS half of batch 0 is on disk when compaction lists the dirs
    Bucketing.writeDeltaPartition(
      Retrieval.bm25Postings(newDoc), s"$deltaDir/postings", 0L)
    Retrieval.compactBm25IndexGen(spark, table, deltaDir)
    // folding the visible half would hide the stats row below the
    // watermark FOREVER once it lands — the watermark must not advance
    assert(Bucketing.foldedBatchMax(spark, table) == -1L)
    // the postings half is still live in the delta: base ∪ delta answers
    // the new doc's term even though nothing folded
    val queries = Seq((900L, "newterm")).toDF("query_id", "token")
    assert(Retrieval.searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(_.getLong(2)).toSet == Set(50L))
    // the stats half lands; the next compaction folds the whole batch
    Bucketing.writeDeltaPartition(
      Retrieval.bm25StatsDelta(newDoc), s"$deltaDir/stats", 0L)
    Retrieval.compactBm25IndexGen(spark, table, deltaDir)
    assert(Bucketing.foldedBatchMax(spark, table) == 0L)
    assert(Retrieval.searchBm25Index(spark, table, queries)
      .collect().map(_.getLong(2)).toSet == Set(50L))
    // and the folded base agrees with base ∪ delta (no double count)
    assert(Retrieval.searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(_.getLong(2)).toSet == Set(50L))
  }

  test("gen rebuild over a live delta stamps the watermark: no double count") {
    import graft.ext.Retrieval
    import graft.sources.Bucketing
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    val table = "graft_bm25_rebuild"
    Retrieval.buildBm25IndexGen(base, table)
    val root = managedTempDir("bm25rebuild")
    val deltaDir = s"$root/delta"
    Retrieval.applyBm25Delta(newDoc, deltaDir, 0L)
    val queries = Seq((900L, "newterm"), (901L, "beta")).toDF("query_id", "token")
    def withDelta() = Retrieval
      .searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = withDelta()
    // quiesced rebuild over the FULL current corpus, deltaDir passed: the
    // rebuilt generation is stamped with the delta's max batch_id, so the
    // retained partition (still on disk) stays below the watermark
    Retrieval.buildBm25IndexGen(base.unionByName(newDoc), table,
      deltaDir = Some(deltaDir))
    assert(new java.io.File(s"$deltaDir/postings/batch_id=0").exists())
    assert(Bucketing.foldedBatchMax(spark, table) == 0L)
    // identical scores: the rebuilt corpus equals base ∪ delta, and the
    // stale partition is never double-counted against it
    assert(withDelta() == expected)
    assert(Retrieval.searchBm25Index(spark, table, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      == expected)
  }

  test("capped ivf base + live delta: cross-shard pairs covered, base stays bucketed") {
    import graft.ext.Similarity
    def vec(x: Float, y: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y; a
    }
    // cluster 0 holds 5 of 7 base vectors; maxBucket = 2 shards it (m = 3)
    val base = Seq(
      (0L, vec(1f, 0f)), (1L, vec(0f, 1f)),
      (2L, vec(0.99f, 0.01f)), (3L, vec(0.98f, 0.02f)),
      (4L, vec(0.97f, 0.03f)), (5L, vec(0.96f, 0.04f)),
      (6L, vec(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val delta = Seq(
      (10L, vec(0.985f, 0.015f)), (11L, vec(0.975f, 0.025f)),
      (12L, vec(0.965f, 0.035f))).toDF("vec_id", "embedding")
    val table = "graft_ivf_capdelta"
    Similarity.buildIvfIndexGen(base, table, k = 2, buckets = 4, maxBucket = 2)
    assert(spark.table(table).filter(col("m") > 1).count() > 0)
    val root = managedTempDir("ivfcapdelta")
    val deltaDir = s"$root/delta"
    Similarity.applyIvfDelta(delta, table, deltaDir, 0L, k = 2)
    // the split search must equal a from-scratch search over the union —
    // INCLUDING delta-vs-nonzero-shard pairs, which the retired
    // union-then-search form missed (delta rows carried m = 1 through the
    // m = 3 grid and only ever met shard-0 members)
    val probe = Similarity.searchIvfIndexWith(spark, table, deltaDir, 3)
    val got = probe.as[(Long, Long, Long)].collect().toSet
    val want = Similarity.ivfTopKNeighbors(base.unionByName(delta), 3, k = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"missing pairs: ${want.diff(got)}; extra: ${got.diff(want)}")
    // and the base never re-shuffles: every base scan rides the bucketed
    // layout (delta-sized exchanges only)
    val p = probe.queryExecution.executedPlan.toString
    val baseScans = p.split("\n").filter(l =>
      l.contains("FileScan") && l.contains(s"${table}__g1["))
    assert(baseScans.nonEmpty && baseScans.forall(_.contains("Bucketed: true")), p)
  }

  test("generation-swap lsh compaction: probing continues across the swap") {
    import graft.ext.Dedup
    val table = "graft_lsh_genswap"
    val root = managedTempDir("lshgenswap")
    val deltaDir = s"$root/delta"
    val outDir = s"$root/survivors"
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    Dedup.buildLshIndexGen(base, table, buckets = 4)
    // one maintenance batch puts a fresh survivor's bands in the delta
    val fresh = "qq ww ee rr tt yy uu ii"
    Dedup.processLshBatch(Seq((100L, fresh)).toDF("doc_id", "text"),
      0L, table, deltaDir, outDir)
    val probeDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta"), // twin of base doc
      (901L, fresh))                                           // twin of delta survivor
      .toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] = Dedup
      .dedupAgainstIndexWith(spark, probeDocs, table, deltaDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.contains((900L, 0L)) && before.contains((901L, 100L)))

    // a prober hammers base ∪ delta WHILE compaction folds the delta into
    // generation 2 and swaps: compaction moves rows, never changes the
    // visible corpus, so EVERY observed answer set must equal `before`
    // (the single-resolution read makes double-count/drop impossible) and
    // no probe may error
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try seen.add(probe())
        catch { case t: Throwable => errors.add(t); () }
      }
    })
    prober.start()
    try Dedup.compactLshIndexGen(spark, table, deltaDir, buckets = 4)
    finally { stop.set(true); prober.join(30000) }

    assert(errors.isEmpty, s"probing failed during swap: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(seen.asScala.forall(_ == before),
      seen.asScala.find(_ != before).toString)
    // post-swap: the folded base ALONE answers both probes; the folded
    // partition survives one cycle but the watermark excludes it from
    // base ∪ delta (no double-counted candidate pairs)
    assert(probe() == before)
    assert(Dedup.dedupAgainstIndex(spark, probeDocs, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    assert(new java.io.File(s"$deltaDir/bands/batch_id=0").exists())
    // second compaction (nothing unfolded) keeps answers, GCs the folded
    // partition, retires generation 1
    Dedup.compactLshIndexGen(spark, table, deltaDir, buckets = 4)
    assert(probe() == before)
    assert(!new java.io.File(s"$deltaDir/bands/batch_id=0").exists())
    assert(!spark.catalog.tableExists(s"${table}__g1"))
  }

  test("self-compacting LSH loop: folds mid-stream at the pressure threshold") {
    import graft.ext.Dedup
    import graft.sources.Bucketing
    import org.apache.spark.sql.types._
    val root = managedTempDir("lshauto")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    Dedup.buildLshIndexGen(base, "lsh_auto_test", buckets = 2)
    val freshA = "qq ww ee rr tt yy uu ii"
    Seq((100L, freshA)).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    // threshold 1: fold after every batch — the fully automated posture
    val q = Dedup.maintainLshDedup(
      spark.readStream.schema(schema).parquet(srcDir),
      "lsh_auto_test", deltaDir, s"$root/ckpt", s"$root/surv",
      autoCompactAt = 1)
    try {
      q.processAllAvailable()
      // batch 0's bands were folded into a new generation by the loop
      // itself: no unfolded pressure, watermark advanced — and the fold
      // PRESERVED the build's bucket count (2, not a hardcoded default)
      assert(Bucketing.unfoldedBatchCount(
        spark, "lsh_auto_test", s"$deltaDir/bands") == 0)
      assert(Bucketing.foldedBatchMax(spark, "lsh_auto_test") >= 0L)
      assert(Bucketing.bucketCountOf(spark, "lsh_auto_test", -1) == 2)
      // batch 1: a twin of the FOLDED survivor must drop (probed off the
      // base — its bands are no longer in the delta) + a fresh doc
      Seq((200L, freshA),
          (300L, "zz xx cc vv bb nn mm kk"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$root/surv").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(survivors == Seq(100L, 300L),
      s"twin of the folded survivor must drop, got $survivors")
    // and the folded base alone catches a twin of either survivor
    val caught = Dedup.dedupAgainstIndex(spark,
      Seq((900L, freshA)).toDF("doc_id", "text"), "lsh_auto_test")
      .select("doc_id_corpus").as[Long].collect().toSet
    assert(caught.contains(100L))
  }

  test("blocklist and decontamination gates wired: streams split across batches") {
    import graft.ext.{Curation, Dedup}
    import org.apache.spark.sql.types._
    val root = managedTempDir("gateswired")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def ids(p: String): Set[Long] =
      spark.read.parquet(p).select("doc_id").as[Long].collect().toSet
    // gateBlocklisted: the wired split keeps splitting as batches arrive
    val bsrc = s"$root/bsrc"; new java.io.File(bsrc).mkdirs()
    Seq((1L, "see https://cdn0.ads.example.net/x here"),
        (2L, "clean https://ok.example.org/y text"))
      .toDF("doc_id", "text").write.mode("append").parquet(bsrc)
    val qb = Curation.gateBlocklisted(
      spark.readStream.schema(schema).parquet(bsrc),
      Seq("ads.example.net").toDF("domain"),
      s"$root/bckpt", s"$root/bclean", s"$root/bflag")
    try {
      qb.processAllAvailable()
      assert(ids(s"$root/bclean") == Set(2L) && ids(s"$root/bflag") == Set(1L))
      Seq((3L, "no urls"), (4L, "https://ads.example.net/a direct"))
        .toDF("doc_id", "text").write.mode("append").parquet(bsrc)
      qb.processAllAvailable()
      assert(ids(s"$root/bclean") == Set(2L, 3L))
      assert(ids(s"$root/bflag") == Set(1L, 4L))
    } finally qb.stop()
    // gateSubstrDecontaminated: fixed bench index, wired split
    try {
      Dedup.buildSubstrBenchIndexGen(
        Seq((60L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
        "gates_wired_bench_test", buckets = 2)
      val dsrc = s"$root/dsrc"; new java.io.File(dsrc).mkdirs()
      Seq((100L, "x q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y"),
          (101L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
        .toDF("doc_id", "text").write.mode("append").parquet(dsrc)
      val qd = Dedup.gateSubstrDecontaminated(
        spark.readStream.schema(schema).parquet(dsrc),
        "gates_wired_bench_test", s"$root/dckpt", s"$root/dclean",
        s"$root/dquar")
      try {
        qd.processAllAvailable()
        assert(ids(s"$root/dclean") == Set(101L))
        assert(ids(s"$root/dquar") == Set(100L))
        Seq((102L, "k q2 q3 q4 q5 q6 q7 q8 q9 q10 k2"),
            (103L, "short"))
          .toDF("doc_id", "text").write.mode("append").parquet(dsrc)
        qd.processAllAvailable()
        assert(ids(s"$root/dclean") == Set(101L, 103L))
        assert(ids(s"$root/dquar") == Set(100L, 102L))
      } finally qd.stop()
    } finally {
      spark.sql("DROP VIEW IF EXISTS gates_wired_bench_test")
      graft.sources.Bucketing.dropGeneration(spark, "gates_wired_bench_test", 1)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("crawl ingest loop wired end-to-end: gates split, index grows and self-compacts") {
    import graft.ext.{Curation, Dedup}
    import graft.sources.Bucketing
    import org.apache.spark.sql.types._
    val root = managedTempDir("crawlingest")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    val (flagged, quar, surv) = (s"$root/flagged", s"$root/quar", s"$root/surv")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val blocked = Seq("ads.example.net").toDF("domain")
    try {
      Dedup.buildSubstrBenchIndexGen(
        Seq((60L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
        "crawl_loop_bench_test", buckets = 2)
      Dedup.buildSubstrBenchIndexGen(
        Seq((50L, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10")).toDF("doc_id", "text"),
        "crawl_loop_idx_test", buckets = 2)
      Seq(
        (201L, "novel words one https://cdn0.ads.example.net/t two three four five six seven"),
        (202L, "x q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y"),
        (204L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      // threshold 1: the dedup index folds after every batch — the fully
      // automated composed-intake posture
      val q = Curation.maintainCrawlIngest(
        spark.readStream.schema(schema).parquet(srcDir),
        blocked, "crawl_loop_bench_test", "crawl_loop_idx_test",
        deltaDir, s"$root/ckpt", flagged, quar, surv, autoCompactAt = 1)
      try {
        q.processAllAvailable()
        def ids(p: String): Set[Long] =
          spark.read.parquet(p).select("doc_id").as[Long].collect().toSet
        assert(ids(flagged) == Set(201L))
        assert(ids(quar) == Set(202L))
        assert(ids(surv) == Set(204L))
        // the loop folded batch 0's spans itself, preserving the build's
        // bucket count
        assert(Bucketing.unfoldedBatchCount(
          spark, "crawl_loop_idx_test", s"$deltaDir/spans") == 0)
        assert(Bucketing.bucketCountOf(spark, "crawl_loop_idx_test", -1) == 2)
        // batch 1: a twin of the FOLDED survivor drops off the base; a
        // fresh doc survives
        Seq((205L, "w0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 w1"),
            (206L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10"))
          .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        assert(ids(surv) == Set(204L, 206L),
          "twin of the folded survivor must drop")
        assert(ids(flagged) == Set(201L) && ids(quar) == Set(202L))
      } finally q.stop()
    } finally {
      Seq("crawl_loop_bench_test", "crawl_loop_idx_test").foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        (1 to 3).foreach(Bucketing.dropGeneration(spark, t, _))
      }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("self-compacting jaccard loop: vocab extension survives the mid-stream fold") {
    import graft.ext.Dedup
    import graft.sources.Bucketing
    import org.apache.spark.sql.types._
    val root = managedTempDir("jacauto")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    val tau = 900000L
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = Seq((0L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(base, "jac_auto_test", tau, buckets = 2)
    val fresh = "qq ww ee rr tt" // tokens the build never saw
    Seq((100L, fresh)).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    val q = Dedup.maintainJaccardDedup(
      spark.readStream.schema(schema).parquet(srcDir),
      "jac_auto_test", deltaDir, s"$root/ckpt", s"$root/surv", tau,
      autoCompactAt = 1)
    try {
      q.processAllAvailable()
      // the loop folded batch 0 itself — including the vocab extension
      assert(Bucketing.unfoldedBatchCount(
        spark, "jac_auto_test_toks", s"$deltaDir/toks") == 0)
      assert(Bucketing.foldedBatchMax(spark, "jac_auto_test_vocab") >= 0L)
      // a twin of the folded survivor must drop off the BASE alone
      Seq((200L, fresh), (300L, "zz xx cc vv bb"))
        .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$root/surv").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(survivors == Seq(100L, 300L),
      s"twin of the folded survivor must drop, got $survivors")
  }

  test("compaction-cadence knob gates the lsh, jaccard and ivf folds") {
    import graft.ext.{Dedup, Similarity}
    import graft.sources.Bucketing
    val root = managedTempDir("cadence")
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five")).toDF("doc_id", "text")
    val fresh = Seq((100L, "qq ww ee rr tt")).toDF("doc_id", "text")

    Dedup.buildLshIndexGen(docs, "cad_lsh", buckets = 2)
    Dedup.processLshBatch(fresh, 0L, "cad_lsh", s"$root/lshd", s"$root/lshs")
    assert(!Dedup.compactLshIfNeeded(spark, "cad_lsh", s"$root/lshd", maxUnfolded = 3))
    assert(Dedup.compactLshIfNeeded(spark, "cad_lsh", s"$root/lshd",
      maxUnfolded = 0, buckets = 2))
    assert(Bucketing.unfoldedBatchCount(spark, "cad_lsh", s"$root/lshd/bands") == 0)

    Dedup.buildJaccardIndexGen(docs, "cad_jac", buckets = 2)
    Dedup.processJaccardBatch(fresh, 0L, "cad_jac", s"$root/jacd", s"$root/jacs", 900000L)
    assert(!Dedup.compactJaccardIfNeeded(spark, "cad_jac", s"$root/jacd", maxUnfolded = 3))
    assert(Dedup.compactJaccardIfNeeded(spark, "cad_jac", s"$root/jacd",
      maxUnfolded = 0, buckets = 2))
    assert(Bucketing.unfoldedBatchCount(spark, "cad_jac_toks", s"$root/jacd/toks") == 0)

    def vec(x: Float): Array[Float] = { val a = Array.fill(64)(0f); a(0) = x; a }
    val vecs = Seq((0L, vec(1f)), (1L, vec(-1f)), (2L, vec(0.9f)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndexGen(vecs, "cad_ivf", k = 2, buckets = 2)
    Similarity.applyIvfDelta(Seq((10L, vec(0.95f))).toDF("vec_id", "embedding"),
      "cad_ivf", s"$root/ivfd", 0L, k = 2)
    assert(!Similarity.compactIvfIfNeeded(spark, "cad_ivf", s"$root/ivfd",
      3, 2, Similarity.NoMaxBucket))
    assert(Similarity.compactIvfIfNeeded(spark, "cad_ivf", s"$root/ivfd",
      0, 2, Similarity.NoMaxBucket))
    assert(Bucketing.unfoldedBatchCount(spark, "cad_ivf", s"$root/ivfd/postings") == 0)
  }

  test("self-compacting ivf loop: folds mid-stream, INHERITS the build's persisted cap") {
    import graft.ext.Similarity
    import graft.sources.Bucketing
    import org.apache.spark.sql.types._
    graft.functions.CosineSimilarity.register(spark)
    val root = managedTempDir("ivfauto")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    def vec(i: Long): Array[Float] =
      Array.tabulate(64)(d => (math.sin(i * 64 + d) * 0.9).toFloat)
    def frame(ids: Range) =
      ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "embedding")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    // a CAPPED build persists its cap in the generation manifest …
    Similarity.buildIvfIndexGen(frame(0 until 100), "ivf_auto_test",
      buckets = 4, maxBucket = 8)
    frame(100 until 150).write.mode("append").parquet(srcDir)
    // … so the self-compacting loop restates NOTHING: threshold 1 folds
    // after every batch, and each auto-fold inherits bucket count AND cap
    // from the current generation (the silent-unsharding footgun this
    // lifecycle closes)
    val q = Similarity.maintainIvfIndex(
      spark.readStream.schema(schema).parquet(srcDir), "ivf_auto_test",
      deltaDir, s"$root/ckpt", autoCompactAt = 1)
    try {
      q.processAllAvailable()
      // batch 0 was folded by the loop itself: no unfolded pressure,
      // watermark advanced, bucket count inherited from the build
      assert(Bucketing.unfoldedBatchCount(
        spark, "ivf_auto_test", s"$deltaDir/postings") == 0)
      assert(Bucketing.foldedBatchMax(spark, "ivf_auto_test") >= 0L)
      assert(Bucketing.bucketCountOf(spark, "ivf_auto_test", -1) == 4)
      frame(150 until 200).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    try {
      // both folds landed; the INHERITED cap kept the grown lists sharded
      // (nothing was restated — an unsharded base here would be the exact
      // silent degradation the persisted cap prevents) and the new
      // generation's manifest re-persists it for the next fold
      assert(spark.table("ivf_auto_test").count() == 200L)
      assert(spark.table("ivf_auto_test").filter(col("m") > 1).count() > 0)
      assert(Bucketing.manifestOf(spark,
        Bucketing.resolvePhysical(spark, "ivf_auto_test")).maxBucket == 8)
      // base-only search is exchange-free and answers like a from-scratch
      // direct search over the full corpus (same first-16 quantizer)
      val got = Similarity.searchIvfIndex(spark, "ivf_auto_test", 3)
      assert(!got.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(got.as[(Long, Long, Long)].collect().toSet ==
        Similarity.ivfTopKNeighbors(frame(0 until 200), 3)
          .as[(Long, Long, Long)].collect().toSet)
    } finally {
      spark.sql("DROP VIEW IF EXISTS ivf_auto_test")
      (1 to 3).foreach(g =>
        Bucketing.dropGeneration(spark, "ivf_auto_test", g))
    }
  }

  test("cap change takes the full re-stamp path even when the delta is fully folded") {
    import graft.ext.Similarity
    import graft.sources.Bucketing
    graft.functions.CosineSimilarity.register(spark)
    val root = managedTempDir("ivfrecap")
    val deltaDir = s"$root/delta"
    val t = "ivf_recap_test"
    def vec(i: Long): Array[Float] =
      Array.tabulate(32)(d => (math.cos(i * 32 + d) * 0.9).toFloat)
    val base = (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.buildIvfIndexGen(base, t, buckets = 4, maxBucket = 64)
    try {
      Similarity.applyIvfDelta(
        (120L until 140L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        t, deltaDir, 0L)
      // fold with the INHERITED cap (64): the delta is now fully folded
      // but its partitions are grace-retained on disk
      Similarity.compactIvfIndexGen(spark, t, deltaDir, buckets = 4,
        maxBucket = Similarity.InheritMaxBucket)
      val afterFold = Bucketing.resolvePhysical(spark, t)
      assert(Bucketing.manifestOf(spark, afterFold).maxBucket == 64)
      // an admin cap CHANGE over that state must NOT be swallowed by the
      // GC-only shortcut: the full path re-stamps shard factors under the
      // new cap and persists it
      Similarity.compactIvfIndexGen(spark, t, deltaDir, buckets = 4,
        maxBucket = 8)
      val afterRecap = Bucketing.resolvePhysical(spark, t)
      assert(afterRecap != afterFold)
      assert(Bucketing.manifestOf(spark, afterRecap).maxBucket == 8)
      assert(spark.table(t).filter(col("m") > 1).count() > 0)
      assert(spark.table(t).count() == 140L)
      // recreate the grace state (a folded-but-retained delta): one more
      // batch, folded with inherit — the new generation keeps cap 8
      Similarity.applyIvfDelta(
        (140L until 150L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        t, deltaDir, 1L)
      Similarity.compactIvfIndexGen(spark, t, deltaDir, buckets = 4,
        maxBucket = Similarity.InheritMaxBucket)
      val afterFold2 = Bucketing.resolvePhysical(spark, t)
      assert(Bucketing.manifestOf(spark, afterFold2).maxBucket == 8)
      assert(spark.table(t).count() == 150L)
      // and with the cap UNCHANGED (inherit) over the grace-retained
      // delta, the cycle stays GC-only: no new generation is written
      Similarity.compactIvfIndexGen(spark, t, deltaDir, buckets = 4,
        maxBucket = Similarity.InheritMaxBucket)
      assert(Bucketing.resolvePhysical(spark, t) == afterFold2)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $t")
      (1 to 6).foreach(g => Bucketing.dropGeneration(spark, t, g))
    }
  }

  test("a fresh build ignores a negative cap instead of persisting nonsense") {
    import graft.ext.Similarity
    import graft.sources.Bucketing
    val t = "ivf_negcap_test"
    val base = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => (i * 8 + d).toFloat))).toDF("vec_id", "embedding")
    // InheritMaxBucket on a FRESH build has nothing to inherit: uncapped,
    // and no manifest row carrying a negative "cap" — no manifest at all
    Similarity.buildIvfIndexGen(base, t, buckets = 2,
      maxBucket = Similarity.InheritMaxBucket)
    try {
      val phys = Bucketing.resolvePhysical(spark, t)
      assert(!spark.catalog.tableExists(s"${phys}_meta"))
      assert(Bucketing.manifestOf(spark, phys) == Bucketing.Manifest())
      assert(spark.table(t).filter(col("m") =!= 1).count() == 0L)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $t")
      (1 to 2).foreach(g => Bucketing.dropGeneration(spark, t, g))
    }
  }

  test("jaccard REBUILD renumbers tids across a live prober: never a mixed dictionary") {
    import graft.ext.Dedup
    val name = "graft_jac_rebuild"
    val tau = 900000L
    val corpusA = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five"))
      .toDF("doc_id", "text")
    // the grown corpus shares doc 0's tokens unevenly, so a rebuild
    // re-ranks the vocabulary by the NEW df order — tids genuinely
    // renumber (asserted below), the case the vocab-derived sibling
    // lookup exists for
    val newDoc = Seq((2L, "alpha beta qq ww ee")).toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(corpusA, name, tau, buckets = 2)
    val tidsBefore = spark.table(s"${name}_vocab")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val probeDocs = Seq(
      (900L, "alpha beta gamma delta epsilon"), // twin of doc 0 — always a dup
      (901L, "alpha beta qq ww ee"))            // twin of doc 2 — dup post-rebuild
      .toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] = Dedup
      .jaccardAgainstIndex(spark, probeDocs, name, tau)
      .select("doc_new", "doc_corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before == Set((900L, 0L)))
    val after = Set((900L, 0L), (901L, 2L))

    // prober hammers WHILE the rebuild writes three renumbered tables and
    // swaps: every observed answer set must be the complete OLD or the
    // complete NEW state — a mixed dictionary (new vocab tids against old
    // toks/prefix arrays) would produce garbage verdicts, and the
    // vocab-derived sibling lookup makes the vocab swap the single
    // consistency point precisely so that state cannot be observed
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try seen.add(probe())
        catch { case t: Throwable => errors.add(t); () }
      }
    })
    prober.start()
    try Dedup.buildJaccardIndexGen(corpusA.unionByName(newDoc), name, tau, buckets = 2)
    finally { stop.set(true); prober.join(30000) }

    assert(errors.isEmpty, s"probing failed during rebuild: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(seen.asScala.forall(s => s == before || s == after),
      seen.asScala.find(s => s != before && s != after).toString)
    assert(probe() == after)
    // the rebuild really did renumber: at least one shared token moved
    val tidsAfter = spark.table(s"${name}_vocab")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tidsBefore.keys.exists(t => tidsAfter.get(t).exists(_ != tidsBefore(t))),
      s"construction failed to renumber: $tidsBefore vs $tidsAfter")
  }

  test("generation-swap jaccard compaction: probing continues across the swap") {
    import graft.ext.Dedup
    val name = "graft_jac_genswap"
    val root = managedTempDir("jacgenswap")
    val deltaDir = s"$root/delta"
    val outDir = s"$root/survivors"
    val tau = 900000L
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five"))
      .toDF("doc_id", "text")
    Dedup.buildJaccardIndexGen(base, name, tau, buckets = 2)
    // one maintenance batch: a fresh survivor whose tokens extend the vocab
    val fresh = "qq ww ee rr tt"
    Dedup.processJaccardBatch(Seq((100L, fresh)).toDF("doc_id", "text"),
      0L, name, deltaDir, outDir, tau)
    val probeDocs = Seq(
      (900L, "alpha beta gamma delta epsilon"), // twin of base doc
      (901L, fresh))                            // twin of delta survivor
      .toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] = Dedup
      .jaccardAgainstIndexWith(spark, probeDocs, name, deltaDir, tau)
      .select("doc_new", "doc_corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before == Set((900L, 0L), (901L, 100L)))

    // a prober hammers base ∪ delta WHILE compaction folds all three
    // layers: the three views swap one after another, so the prober may
    // resolve MIXED layer generations — which must still answer `before`
    // exactly (tids are never renumbered; each layer read is individually
    // complete and duplicate-free under its own watermark)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try seen.add(probe())
        catch { case t: Throwable => errors.add(t); () }
      }
    })
    prober.start()
    try Dedup.compactJaccardIndexGen(spark, name, deltaDir, buckets = 2)
    finally { stop.set(true); prober.join(30000) }

    assert(errors.isEmpty, s"probing failed during swap: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(seen.asScala.forall(_ == before),
      seen.asScala.find(_ != before).toString)
    // post-swap: folded base alone answers both probes (vocab extension
    // included); folded partitions survive one cycle, excluded by each
    // layer's watermark
    assert(probe() == before)
    assert(Dedup.jaccardAgainstIndex(spark, probeDocs, name, tau)
      .select("doc_new", "doc_corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    assert(new java.io.File(s"$deltaDir/toks/batch_id=0").exists())
    // second compaction GCs folded partitions and retires generation 1 of
    // every layer
    Dedup.compactJaccardIndexGen(spark, name, deltaDir, buckets = 2)
    assert(probe() == before)
    assert(!new java.io.File(s"$deltaDir/toks/batch_id=0").exists())
    assert(!spark.catalog.tableExists(s"${name}_vocab__g1"))
    assert(!spark.catalog.tableExists(s"${name}_prefix__g1"))
  }

  test("streaming fuzzy dictionary: appends accumulate across restarts, self-compacts") {
    import graft.ext.Fuzzy
    import org.apache.spark.sql.types._
    val root = managedTempDir("fuzzymaint")
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val deltaDir = s"$root/delta"
    new java.io.File(srcDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val name = "graft_fuzzy_maint"
    Fuzzy.buildFuzzyIndexGen(
      Seq((1L, "alpha beta gamma tail pad")).toDF("doc_id", "text"),
      name, buckets = 2)
    val queries = Seq(
      (900L, "alpha beta gamqa"),     // needs base 1 + a streamed 1
      (901L, "stream only shinqle"))  // needs two streamed batches
      .toDF("doc_id", "q_term")
    def probe(): Set[(Long, String)] = Fuzzy
      .fuzzyAgainstIndexWith(spark, queries, name, Some(deltaDir))
      .select("doc_id", "dict_term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def start() = Fuzzy.maintainFuzzyDictionary(
      spark.readStream.schema(schema).parquet(srcDir),
      name, deltaDir, ckpt, autoCompactAt = 2)
    try {
      // batch 1: completes the base single "alpha beta gamma" (1+1)
      // and seeds "stream only shingle" at 1
      Seq((10L, "alpha beta gamma other pad"),
        (11L, "stream only shingle first pad")).toDF("doc_id", "text")
        .write.mode("append").parquet(srcDir)
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      assert(probe() == Set((900L, "alpha beta gamma")))
      // batch 2 lands while the maintainer is DOWN; restart folds it in
      // (autoCompactAt=2 fires on the second unfolded batch)
      Seq((12L, "stream only shingle second pad")).toDF("doc_id", "text")
        .write.mode("append").parquet(srcDir)
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      assert(probe() == Set((900L, "alpha beta gamma"),
        (901L, "stream only shingle")))
      // the self-compaction actually fired: watermark advanced past both
      // batches and the folded base alone gives the same answers
      assert(graft.sources.Bucketing.foldedBatchMax(spark, s"${name}_cnt") >= 1L)
      val baseOnly = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name)
        .select("doc_id", "dict_term")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(baseOnly == probe())
    } finally {
      Seq(name, s"${name}_cnt").foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        (1 to 3).foreach(g =>
          graft.sources.Bucketing.dropGeneration(spark, t, g))
      }
    }
  }

  test("generation-swap fuzzy compaction: probing continues across the swap") {
    import graft.ext.Fuzzy
    // base: "alpha beta gamma" twice (admitted); delta: "delta pad tok"
    // twice within the batch (admitted once delta is visible) and one
    // single occurrence of a cross shingle completing a base single
    val base = Seq(
      (1L, "alpha beta gamma tail one"),
      (2L, "alpha beta gamma tail two"),
      (3L, "solo cross shingle filler pad")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "delta pad tok end a"),
      (11L, "delta pad tok end b"),
      (12L, "solo cross shingle other pad")).toDF("doc_id", "text")
    val name = "graft_fuzzy_genswap"
    val root = managedTempDir("fuzzygenswap")
    val deltaDir = s"$root/delta"
    Fuzzy.buildFuzzyIndexGen(base, name, buckets = 2)
    Fuzzy.appendFuzzyBatch(delta, deltaDir, 0L, maxEdits = 1)
    val queries = Seq(
      (900L, "alpha beta gamqa"),   // base-admitted shingle
      (901L, "delta pad tqk"),      // delta-admitted shingle
      (902L, "solo cross shingqe")) // admitted only ACROSS layers (1+1)
      .toDF("doc_id", "q_term")
    def probe(): Set[(Long, String)] = Fuzzy
      .fuzzyAgainstIndexWith(spark, queries, name, Some(deltaDir))
      .select("doc_id", "dict_term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = probe()
    assert(before == Set((900L, "alpha beta gamma"),
      (901L, "delta pad tok"), (902L, "solo cross shingle")))

    // prober hammers base ∪ delta while BOTH layers fold and swap: every
    // observed answer set must equal `before` (folding is representation
    // only), and no probe may error — including between the two layer
    // swaps (each layer pairs its own base with its own watermark)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, String)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try seen.add(probe())
        catch { case t: Throwable => errors.add(t); () }
      }
    })
    prober.start()
    try Fuzzy.compactFuzzyIndexGen(spark, name, deltaDir, buckets = 2)
    finally { stop.set(true); prober.join(30000) }
    assert(errors.isEmpty, s"probe failed during swap: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.nonEmpty)
    assert(seen.asScala.forall(_ == before),
      seen.asScala.find(_ != before).toString)
    // post-swap: folded base answers alone; retained delta partition is
    // filtered by the watermark — counts NOT double-summed (the 1+1
    // cross shingle would jump to total 3 and stay admitted either way,
    // so assert the sharper invariant: the full result set is unchanged)
    assert(probe() == before)
    val baseOnly = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name)
      .select("doc_id", "dict_term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(baseOnly == before)
    // count layer folded to one row per term (sum fold, not row pileup)
    val cntRows = spark.table(s"${name}_cnt")
      .groupBy("term").count().filter(col("count") > 1).count()
    assert(cntRows == 0L, "count layer not folded to per-term sums")
    // second cycle: GC + retire
    Fuzzy.compactFuzzyIndexGen(spark, name, deltaDir, buckets = 2)
    assert(probe() == before)
    assert(!new java.io.File(s"$deltaDir/cnt/batch_id=0").exists())
    assert(!spark.catalog.tableExists(s"${name}__g1"))
    assert(!spark.catalog.tableExists(s"${name}_cnt__g1"))
  }

  test("lifecycle matrix: serve/delta/fold-under-serve/GC/orphan across all six families") {
    // ONE parametrized run of the generation-swap lifecycle legs over
    // every family that builds on sources.IndexLifecycle — LSH bands,
    // exact-Jaccard prefix, fuzzy dictionary, BM25 postings, IVF
    // postings, substring span anchors. The per-family tests above pin each family's SHARP
    // semantics (watermark holdback, tid renumbering, cap inheritance,
    // radius identity); this matrix pins the shared skeleton's contract
    // uniformly, including the leg none of them covered: CRASH-ORPHAN
    // recovery — a generation table written but never swapped (the crash
    // window between write and swap) must leave serving untouched, be
    // numbered PAST by the next fold, and be retired by the cycle after.
    import graft.ext.{Dedup, Fuzzy, Retrieval, Similarity}
    import graft.sources.Bucketing

    case class Fam(
        tag: String,
        anchor: String,               // layer for generation assertions
        gcFile: String,               // delta partition checked for GC
        build: () => Unit,
        append: Long => Unit,         // batch 0 then batch 1
        probe: () => Set[String],
        compact: () => Unit)

    def vec(x: Float, y: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y; a
    }
    val root = managedTempDir("lcmatrix")

    val lshDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val lshB = Seq(Seq((100L, "qq ww ee rr tt yy uu ii")),
      Seq((110L, "zz xx cc vv bb nn mm kk")))
    val lshProbes = Seq(
      (900L, "alpha beta gamma delta epsilon zeta eta theta"),
      (901L, "qq ww ee rr tt yy uu ii"),
      (902L, "zz xx cc vv bb nn mm kk")).toDF("doc_id", "text")

    val jacDocs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five")).toDF("doc_id", "text")
    val jacB = Seq(Seq((100L, "qq ww ee rr tt")),
      Seq((110L, "zz xx cc vv bb")))
    val jacProbes = Seq(
      (900L, "alpha beta gamma delta epsilon"),
      (901L, "qq ww ee rr tt"),
      (902L, "zz xx cc vv bb")).toDF("doc_id", "text")

    val fuzDocs = Seq(
      (1L, "alpha beta gamma tail one"),
      (2L, "alpha beta gamma tail two")).toDF("doc_id", "text")
    val fuzB = Seq(
      Seq((10L, "delta pad tok end a"), (11L, "delta pad tok end b")),
      Seq((20L, "omega keys word end a"), (21L, "omega keys word end b")))
    val fuzQueries = Seq(
      (900L, "alpha beta gamqa"), (901L, "delta pad tqk"),
      (903L, "omega keys wqrd")).toDF("doc_id", "q_term")

    val bmDocs = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    val bmB = Seq(Seq((50L, "newterm alpha pad pad pad pad")),
      Seq((60L, "otherterm beta pad pad pad pad")))
    val bmQueries = Seq((900L, "beta"), (901L, "newterm"),
      (902L, "otherterm")).toDF("query_id", "token")

    val ivfBase = Seq(
      (0L, vec(1f, 0f)), (1L, vec(0f, 1f)),
      (2L, vec(0.9f, 0.1f)), (3L, vec(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val ivfB = Seq(Seq((10L, vec(0.95f, 0.05f))),
      Seq((11L, vec(0.05f, 0.95f))))

    def pairs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => s"${r.get(0)}:${r.get(1)}").toSet

    val fams = Seq(
      {
        val t = "graft_mx_lsh"; val d = s"$root/lsh"
        Fam("lsh", t, s"$d/bands",
          () => Dedup.buildLshIndexGen(lshDocs, t, buckets = 4),
          i => Dedup.processLshBatch(lshB(i.toInt).toDF("doc_id", "text"),
            i, t, d, s"$root/lsh_sv"),
          () => pairs(Dedup.dedupAgainstIndexWith(spark, lshProbes, t, d)
            .select("doc_id_new", "doc_id_corpus")),
          () => Dedup.compactLshIndexGen(spark, t, d, buckets = 4))
      }, {
        val t = "graft_mx_jac"; val d = s"$root/jac"
        Fam("jaccard", s"${t}_vocab", s"$d/toks",
          () => Dedup.buildJaccardIndexGen(jacDocs, t, 900000L, buckets = 2),
          i => Dedup.processJaccardBatch(jacB(i.toInt).toDF("doc_id", "text"),
            i, t, d, s"$root/jac_sv", 900000L),
          () => pairs(Dedup.jaccardAgainstIndexWith(spark, jacProbes, t, d,
            900000L).select("doc_new", "doc_corpus")),
          () => Dedup.compactJaccardIndexGen(spark, t, d, buckets = 2))
      }, {
        val t = "graft_mx_fuzzy"; val d = s"$root/fuzzy"
        Fam("fuzzy", t, s"$d/cnt",
          () => Fuzzy.buildFuzzyIndexGen(fuzDocs, t, buckets = 2),
          i => Fuzzy.appendFuzzyBatch(fuzB(i.toInt).toDF("doc_id", "text"),
            d, i, maxEdits = 1),
          () => pairs(Fuzzy.fuzzyAgainstIndexWith(spark, fuzQueries, t,
            Some(d)).select("doc_id", "dict_term")),
          () => Fuzzy.compactFuzzyIndexGen(spark, t, d, buckets = 2))
      }, {
        val t = "graft_mx_bm25"; val d = s"$root/bm25"
        Fam("bm25", t, s"$d/postings",
          () => Retrieval.buildBm25IndexGen(bmDocs, t),
          i => Retrieval.applyBm25Delta(bmB(i.toInt).toDF("doc_id", "text"),
            d, i),
          () => pairs(Retrieval.searchBm25IndexWith(spark, t, d, bmQueries)
            .select("query_id", "doc_id")),
          () => Retrieval.compactBm25IndexGen(spark, t, d))
      }, {
        val t = "graft_mx_ivf"; val d = s"$root/ivf"
        Fam("ivf", t, s"$d/postings",
          () => Similarity.buildIvfIndexGen(ivfBase, t, k = 2),
          i => Similarity.applyIvfDelta(
            ivfB(i.toInt).toDF("vec_id", "embedding"), t, d, i, k = 2),
          () => pairs(Similarity.searchIvfIndexWith(spark, t, d)
            .filter(col("rank") === 1)
            .select(col("vec_id"), col("neighbor_id"))),
          () => Similarity.compactIvfIndexGen(spark, t, d, 8,
            Similarity.InheritMaxBucket))
      }, {
        // the sixth family (round 19): the substring span index — batches
        // append through the streaming loop's batch body, probes read the
        // anchor-sharing pair evidence over base ∪ delta. The LSH corpora
        // are reused: each 8-token doc is exactly ONE span anchor
        val t = "graft_mx_substr"; val d = s"$root/substr"
        Fam("substr", t, s"$d/spans",
          () => Dedup.buildSubstrBenchIndexGen(lshDocs, t, buckets = 2),
          i => Dedup.processSubstrBatch(lshB(i.toInt).toDF("doc_id", "text"),
            i, t, d, s"$root/substr_sv", Dedup.SpanN, Dedup.SubstrPosCap),
          () => pairs(Dedup.substrAgainstIndexWith(spark, lshProbes, t, d)),
          () => Dedup.compactSubstrIndexGen(spark, t, d, buckets = 2))
      })

    fams.foreach { f =>
      withClue(s"[family ${f.tag}] ") {
        // leg 1: build + serve baseline (delta dir absent — the read path
        // must tolerate it)
        f.build()
        val s0 = f.probe()
        // leg 2: delta visibility — an appended batch changes answers
        // through base ∪ delta without touching the base
        f.append(0L)
        val s1 = f.probe()
        assert(s1 != s0, s"delta batch not visible: $s1")
        // leg 3: fold UNDER SERVE — a prober hammers base ∪ delta while
        // the fold writes the next generation and swaps; every observed
        // answer set must equal s1 (folding is representation only) and
        // no probe may error
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val prober = new Thread(() => {
          while (!stop.get()) {
            try seen.add(f.probe())
            catch { case e: Throwable => errors.add(e); () }
          }
        })
        prober.start()
        try f.compact()
        finally { stop.set(true); prober.join(30000) }
        assert(errors.isEmpty, s"probe failed during swap: ${errors.peek()}")
        import scala.jdk.CollectionConverters._
        assert(seen.asScala.forall(_ == s1),
          s"answer changed under fold: ${seen.asScala.find(_ != s1)}")
        assert(f.probe() == s1)
        // folded partition survives ONE cycle for in-flight readers
        assert(new java.io.File(s"${f.gcFile}/batch_id=0").exists())
        // leg 4: CRASH-ORPHAN — a generation table written but never
        // swapped (current + 1). Serving must not change.
        val og = Bucketing.currentGeneration(spark, f.anchor) + 1
        val orphan = Bucketing.generationName(f.anchor, og)
        spark.table(f.anchor).limit(1).write.format("parquet")
          .saveAsTable(orphan)
        assert(f.probe() == s1, "orphan generation observed by a probe")
        // leg 5: GC-only cycle — folded partition GC'd, answers keep
        f.compact()
        assert(f.probe() == s1)
        assert(!new java.io.File(s"${f.gcFile}/batch_id=0").exists(),
          "folded delta partition not GC'd on the second cycle")
        // leg 6-7: the next fold numbers PAST the orphan and serves the
        // new batch; the orphan is still on disk (its retirement grace)
        f.append(1L)
        val s2 = f.probe()
        assert(s2 != s1, s"second delta batch not visible: $s2")
        f.compact()
        assert(f.probe() == s2)
        assert(Bucketing.liveGeneration(spark, f.anchor) > og,
          "fold did not number past the orphan generation")
        // leg 8: the following cycle retires the orphan; serving keeps
        f.compact()
        assert(!spark.catalog.tableExists(orphan),
          "orphan generation never retired")
        assert(f.probe() == s2)
      }
    }
  }
}
