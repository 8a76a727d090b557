package graft

import org.apache.spark.sql.functions._

import graft.sources.{FileSource, JdbcSink, JdbcSource, KafkaSource, Loaders}
import graft.streaming.Topology

/** Specs for the source abstraction and batch replay pipelines (S-series). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("FileSource batch and stream expose the same schema") {
    val src = FileSource(s"$sfDir/customer.parquet", null)
    val b = src.batch(spark)
    assert(b.count() == 150)
    val s = FileSource(s"$sfDir/customer.parquet", b.schema).stream(spark)
    assert(s.isStreaming && s.schema == b.schema)
  }

  test("KafkaSource fails fast with a clear message when the connector is absent") {
    val src = KafkaSource("localhost:9092", "topic_logged_events", Topology.eventSchema)
    val e = intercept[IllegalStateException](src.batch(spark))
    assert(e.getMessage.contains("connector"))
  }

  test("event replay: range filter + keyed JSON envelope") {
    val e = Tables.events(spark, sfDir)
    val out = Loaders.eventReplay(e, "2024-01-01", "2024-01-02")
    val expected = e.filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
      col("ts") < lit("2024-01-02").cast("timestamp")).count()
    assert(out.count() == expected && expected > 0)
    val row = out.limit(1).collect().head
    assert(row.getAs[String]("record_value").contains("\"event_type\""))
    // envelope round-trips through from_json
    val back = out.select(from_json(col("record_value"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, user_id LONG, event_type STRING, ts_us LONG, value DOUBLE, props STRING"))
      .as("v")).select("v.*")
    assert(back.filter(col("event_id").isNull).count() == 0)
  }

  test("bucketed co-located join is exchange-free; unbucketed join shuffles") {
    import graft.sources.Bucketing
    val events = Tables.events(spark, sfDir)
    val users = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Bucketing.writeBucketed(events.select("user_id", "event_type", "value"),
      "ev_bucketed", "user_id", 4, sortCols = Seq("user_id"))
    Bucketing.writeBucketed(users, "users_bucketed", "user_id", 4,
      sortCols = Seq("user_id"))
    // disable broadcast so the join strategy decision is about distribution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, "ev_bucketed", "users_bucketed", "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      // same join over raw (unbucketed) frames DOES shuffle both sides
      val raw = events.select("user_id", "event_type", "value")
        .join(users, Seq("user_id"))
      assert(raw.queryExecution.executedPlan.toString.contains("Exchange"))
      // and the result matches the plain join
      assert(joined.count() == raw.count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val dir = managedTempDir("part")
    val events = Tables.events(spark, sfDir)
    events.withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-05").cast("date"))
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && !plan.contains("PartitionFilters: []"),
      s"day predicate should prune partitions:\n$plan")
    val expected = events
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date")).count()
    assert(read.count() == expected && expected > 0)
  }

  test("jsonl and csv ingest: lossless round-trip, corrupt lines quarantined") {
    import graft.sources.TextFormats
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val schema = docs.schema
    val dir = managedTempDir("graft-ingest")

    // round-trip both formats; content equality against the parquet original
    TextFormats.writeJsonLines(docs, s"$dir/j")
    TextFormats.writeCsv(docs, s"$dir/c")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "source", "n_chars")
        .collect().map(_.toSeq).toSet
    assert(asSet(TextFormats.readJsonLines(spark, s"$dir/j", schema)) == asSet(docs))
    assert(asSet(TextFormats.readCsv(spark, s"$dir/c", schema)) == asSet(docs))

    // losslessness edge cases: padded whitespace, empty string (distinct
    // from null), null, embedded newline. JSONL round-trips all of them
    // line-splittably; CSV needs multiline=true for the newline (and
    // documents that trade)
    val edge = Seq((1L, "  padded  ", "en", "s", 10L), (2L, "", "en", "s", 0L),
        (3L, "line one\nline two", "en", "s", 17L), (4L, null, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    TextFormats.writeJsonLines(edge, s"$dir/je")
    TextFormats.writeCsv(edge, s"$dir/ce")
    assert(asSet(TextFormats.readJsonLines(spark, s"$dir/je", schema)) == asSet(edge))
    assert(asSet(TextFormats.readCsv(spark, s"$dir/ce", schema, multiline = true))
      == asSet(edge))

    // corrupt line: quarantined under PERMISSIVE (every input line accounted
    // for), fatal under FAILFAST
    val bad = s"$dir/bad.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), java.util.Arrays.asList(
      """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""",
      """{"doc_id": oops not json""",
      """{"doc_id": 2, "text": "ok2", "lang": "en", "source": "s", "n_chars": 3}"""))
    // collect once: Spark disallows queries that project ONLY the internal
    // corrupt-record column straight off a raw file scan
    val rows = TextFormats.readJsonLines(spark, bad, schema).collect()
    assert(rows.length == 3)
    assert(rows.count(_.getAs[String](TextFormats.CorruptCol) != null) == 1)
    assert(rows.filter(_.getAs[String](TextFormats.CorruptCol) == null)
      .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    val ff = TextFormats.readJsonLines(spark, bad, schema, failFast = true)
    intercept[org.apache.spark.SparkException](ff.collect())

    // splitRejects recovers the DECLARED schema on the clean half and routes
    // the raw corrupt line to the reject half. count() on EITHER half alone
    // is the load-bearing assertion: after pruning it would project only
    // _corrupt_record off the raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    // were the frame not cached inside splitRejects
    val permissive = TextFormats.readJsonLines(spark, bad, schema)
    val (clean, rejects) = TextFormats.splitRejects(permissive)
    assert(clean.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    assert(clean.count() == 2)
    assert(rejects.count() == 1)
    val rej = rejects.collect()
    assert(rej.length == 1)
    assert(rej.head.getAs[String](TextFormats.CorruptCol).contains("oops"))
    permissive.unpersist()

    // one-pass quarantine write: clean/reject halves land in partition dirs
    // and read back partition-pruned
    TextFormats.writeQuarantined(
      TextFormats.readJsonLines(spark, bad, schema), s"$dir/q")
    // partition-dir values come back as strings (Spark doesn't type-infer
    // booleans from partition paths)
    val q = spark.read.option("basePath", s"$dir/q").json(s"$dir/q")
    assert(q.filter(col(TextFormats.RejectPartCol) === "false").count() == 2)
    val qrej = q.filter(col(TextFormats.RejectPartCol) === "true")
      .select(TextFormats.RawLineCol).collect()
    assert(qrej.length == 1 && qrej.head.getString(0).contains("oops"))
  }

  test("user replay: PII-style allow-list (only projected fields in envelope)") {
    val c = Tables.customer(spark, sfDir)
    val out = Loaders.userReplay(c)
    assert(out.count() == c.count())
    val v = out.limit(1).collect().head.getAs[String]("record_value")
    assert(v.contains("CREATE_UPDATE_USER") && v.contains("\"role\""))
    assert(!v.contains("c_acctbal")) // outside the allow-list
  }

  test("JdbcSource: range predicate pushes into the dbtable subquery; partitioned read options") {
    // the reference's logged_events range scan (KafkaLoader.java:87-91) as
    // a database-side WHERE — the scan target must embed the predicate so
    // the DB prunes before shipping rows
    val src = JdbcSource("jdbc:postgresql://db/isaac", "logged_events",
      "u", "p",
      rangeColumn = Some("timestamp"),
      rangeFrom = Some("2015-01-01 00:00:00"),
      rangeUntil = Some("2016-01-01 00:00:00"),
      partitionColumn = Some("id"), lowerBound = 0L, upperBound = 1000000L,
      numPartitions = 8)
    assert(src.rangeClause.contains(
      "timestamp >= '2015-01-01 00:00:00' AND timestamp < '2016-01-01 00:00:00'"))
    assert(src.dbtable ==
      "(SELECT * FROM logged_events WHERE timestamp >= '2015-01-01 00:00:00'" +
        " AND timestamp < '2016-01-01 00:00:00') graft_src")
    val o = src.readOptions
    assert(o("dbtable") == src.dbtable)
    assert(o("partitionColumn") == "id" && o("numPartitions") == "8" &&
      o("lowerBound") == "0" && o("upperBound") == "1000000")
    // full-table form (KafkaUserLoader.java:82-86): no subquery wrapper, no
    // partition options
    val full = JdbcSource("jdbc:postgresql://db/isaac", "users", "u", "p")
    assert(full.dbtable == "users" && !full.readOptions.contains("partitionColumn"))
  }

  test("JdbcSource/JdbcSink fail fast with a clear message when no driver is present") {
    val src = JdbcSource("jdbc:postgresql://db/x", "t", "u", "p")
    val e1 = intercept[IllegalStateException](src.batch(spark))
    assert(e1.getMessage.contains("org.postgresql.Driver"))
    val sink = JdbcSink("jdbc:postgresql://db/x", "user_achievements", "u", "p")
    val e2 = intercept[IllegalStateException](
      sink.write(Tables.customer(spark, sfDir).limit(1)))
    assert(e2.getMessage.contains("org.postgresql.Driver"))
  }

  test("JdbcSink upsert SQL: the reference INSERT plus replay-idempotent ON CONFLICT") {
    // ThresholdAchievedProcessor.java:80-83's column list; conflict key =
    // the achievement identity, so redelivery is a no-op not a dup row
    val sink = JdbcSink("jdbc:postgresql://db/isaac", "user_achievements",
      "u", "p", conflictColumns = Seq("user_id", "achievement_id"))
    assert(sink.upsertSql(Seq("user_id", "achievement_id", "threshold", "timestamp")) ==
      "INSERT INTO user_achievements (user_id, achievement_id, threshold, timestamp)" +
        " VALUES (?, ?, ?, ?)" +
        " ON CONFLICT (user_id, achievement_id) DO NOTHING")
    val plain = JdbcSink("jdbc:x", "t", "u", "p")
    assert(plain.upsertSql(Seq("a", "b")) == "INSERT INTO t (a, b) VALUES (?, ?)")
  }

  test("generation numbering ignores sibling names and orphan manifests") {
    import graft.sources.Bucketing
    import spark.implicits._
    // a generation table, its stats/meta siblings, and an ORPHAN manifest
    // left by a crash between a compaction's meta write and table write —
    // only the exact __gN table may count, or the next cycle skips a
    // number and retires the live generation's predecessor early
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("gennum_t__g1")
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("gennum_t__g1_stats")
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("gennum_t__g1_meta")
    Seq((1L, "x")).toDF("id", "v").write.saveAsTable("gennum_t__g3_meta") // orphan
    try {
      assert(Bucketing.currentGeneration(spark, "gennum_t") == 1)
      // multi-name form reads them all off one listing
      val gens = Bucketing.currentGenerations(spark,
        Seq("gennum_t", "gennum_other"))
      assert(gens("gennum_t") == 1 && gens("gennum_other") == 0)
    } finally Seq("gennum_t__g1", "gennum_t__g1_stats", "gennum_t__g1_meta",
      "gennum_t__g3_meta")
      .foreach(t => Bucketing.dropWithLocation(spark, t))
  }

  test("manifest cap persistence: capped writes read back; pre-cap manifests default") {
    import graft.sources.Bucketing
    import spark.implicits._
    // current manifest: folded watermark, hot-bucket cap, fuzzy radius
    Bucketing.writeMeta(spark, "meta_evo_new",
      Bucketing.Manifest(7L, maxBucket = 16, maxEdits = 2))
    // PRE-RADIUS manifest (folded_batch_max + max_bucket) — every
    // generation written before the radius joined the manifest
    Seq((6L, 8)).toDF("folded_batch_max", "max_bucket")
      .write.saveAsTable("meta_evo_cap_meta")
    // PRE-CAP manifest (folded_batch_max only) — the shape of every
    // generation written before cap persistence existed; readers must
    // take the default, not throw on the missing column
    Seq(5L).toDF("folded_batch_max").write.saveAsTable("meta_evo_old_meta")
    try {
      assert(Bucketing.manifestOf(spark, "meta_evo_new") ==
        Bucketing.Manifest(7L, 16, 2))
      // older layouts read their missing columns' defaults: uncapped,
      // no radius recorded (the fuzzy family refuses those; every other
      // family never reads the radius)
      assert(Bucketing.manifestOf(spark, "meta_evo_cap") ==
        Bucketing.Manifest(6L, 8, 0))
      assert(Bucketing.manifestOf(spark, "meta_evo_old") ==
        Bucketing.Manifest(5L, 0, 0))
      // absent manifest: every field falls back (−1 / uncapped / none)
      assert(Bucketing.manifestOf(spark, "meta_evo_none") ==
        Bucketing.Manifest(-1L, 0, 0))
    } finally Seq("meta_evo_new_meta", "meta_evo_cap_meta", "meta_evo_old_meta")
      .foreach(t => Bucketing.dropWithLocation(spark, t))
  }

  test("orphan generation table never costs the serving generation its reader grace") {
    import graft.sources.Bucketing
    import spark.implicits._
    val root = managedTempDir("orphangrace")
    val delta = s"$root/delta"
    // live __g1 serving, plus an ORPHAN __g2 left by a crash between a
    // compaction's table write and its view swap — the next fold numbers
    // itself __g3 and, under a g−2 retirement rule, would have dropped
    // the SERVING __g1 at the very swap replacing it (zero grace)
    Bucketing.writeBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "og_t__g1", "k", 2)
    Bucketing.swapView(spark, "og_t", "og_t__g1")
    Bucketing.writeBucketed(
      Seq((1L, "a")).toDF("k", "v"), "og_t__g2", "k", 2)
    Bucketing.writeDeltaPartition(
      Seq((3L, "c")).toDF("k", "v"), delta, 0L)
    try {
      Bucketing.compactLayerGen(spark, "og_t", delta, "k", Seq("k", "v"), 2)
      assert(Bucketing.resolvePhysical(spark, "og_t") == "og_t__g3")
      assert(spark.table("og_t").count() == 3L)
      // the source of the swap keeps its one-cycle grace; the orphan is
      // not yet swept either (it retires with everything below the NEW
      // source on the next cycle)
      assert(spark.catalog.tableExists("og_t__g1"))
      assert(spark.catalog.tableExists("og_t__g2"))
      // next cycle (nothing to fold → GC-only): everything below the now
      // serving __g3 retires, including the skipped-over __g1 a plain
      // srcGen−1 rule would have leaked forever
      Bucketing.compactLayerGen(spark, "og_t", delta, "k", Seq("k", "v"), 2)
      assert(Bucketing.resolvePhysical(spark, "og_t") == "og_t__g3")
      assert(!spark.catalog.tableExists("og_t__g1"))
      assert(!spark.catalog.tableExists("og_t__g2"))
      assert(spark.table("og_t").count() == 3L)
    } finally {
      spark.sql("DROP VIEW IF EXISTS og_t")
      (1 to 4).foreach(g => Bucketing.dropGeneration(spark, "og_t", g))
    }
  }
}
