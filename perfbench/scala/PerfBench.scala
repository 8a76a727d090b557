package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The benchmark's JVM side: one workload per process, on inputs that
  * `perfbench/gen.py` wrote under `--data`. Prints nothing on stdout; the
  * result (metrics, counts, errors) goes to `--out` as JSON for `run.py`.
  *
  * Every run measures the workload untraced first. With `--trace 1` it then
  * measures the same ops again with the engine listener attached and
  * reports the per-layer metrics plus the traced/untraced wall ratio.
  *
  * `setup_s` is the time from JVM start to the end of the workload's
  * warm-up (session, input tables, warm-up on a separate small seed), plus
  * the median of the workload's set-up repetitions (topology starts, or
  * index builds).
  */
object PerfBench {

  final case class Args(workload: String, seconds: Double,
                        trace: Boolean, data: String, out: String, cores: Int,
                        params: Map[String, Double])

  /** What one run reports. `attempted`/`failed` count ops and checks. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, String]
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; errors += what }
    }
    def fail(what: String): Unit = { attempted += 1; failed += 1; errors += what }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val params = kv.getOrElse("params", "").split(",").filter(_.contains("="))
      .map { p => val Array(k, v) = p.split("=", 2); k -> v.toDouble }.toMap
    val a = Args(kv("workload"), kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv.getOrElse("cores", "4").toInt,
      params)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.data}/warehouse")
      .config("spark.local.dir", s"${a.data}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.data}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Result
    r.extra("jvm_to_session_s") = Json.num((System.currentTimeMillis() - jvmStart) / 1000.0)
    val w: Workload = a.workload match {
      case "events_stream" => new EventsStream(spark, a, r)
      case "crawl_ingest" => new CrawlIngest(spark, a, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      w.warmUp()
      val warmedS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val setups = (1 to w.setupReps).map { i => timed(w.setup(i)) }
      r.e2e("setup_s") = warmedS + medianOf(setups)
      r.extra("jvm_to_warm_s") = Json.num(warmedS)
      r.extra("setup_reps_s") = setups.map(Json.num).mkString("[", ", ", "]")
      val tm = System.currentTimeMillis()
      val plain = w.measure(traced = None)
      r.extra("measure_s") = Json.num((System.currentTimeMillis() - tm) / 1000.0)
      if (a.trace) {
        val spans = new Spans
        val engine = new EngineTrace(spans, Thread.currentThread())
        spark.sparkContext.addSparkListener(engine)
        val root = spans.open(a.workload, "workload")
        val tw = System.currentTimeMillis()
        val traced = try w.measure(traced = Some((spans, engine)))
          finally spans.close(root)
        val tracedWallS = (System.currentTimeMillis() - tw) / 1000.0
        drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(engine)
        r.layers("engine.jobs") = engine.jobs.get.toDouble
        r.layers("engine.stages") = engine.stages.get.toDouble
        r.layers("engine.tasks") = engine.tasks.get.toDouble
        Seq("job_wall_s", "task_exec_s", "task_cpu_s", "gc_s", "task_wait_s",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb").foreach(k =>
          r.layers(s"engine.$k") = engine.get(s"engine.$k"))
        // wall of the ops (or of the whole traced pass) not inside any job
        val ops = spans.all.asScala.toSeq.filter(_.layer == "op")
        r.layers("engine.driver_s") = (if (ops.nonEmpty) ops else Seq(root))
          .map(s => engine.uncoveredMs(s.start, s.end)).sum / 1000.0
        r.layers("engine.task_skew") = engine.taskSkew
        r.layers("engine.core_busy_ratio") =
          engine.get("engine.task_exec_s") / (a.cores * tracedWallS)
        EngineTrace.Modules.foreach { m =>
          r.layers(s"$m.jobs") = engine.get(s"$m.jobs")
          r.layers(s"$m.job_s") = engine.get(s"$m.job_s")
        }
        r.layers("trace.overhead_ratio") = traced / plain.max(1e-3)
        w.layerMetrics(engine, spans)
        spans.writeJson(s"${Paths.get(a.out).getParent}/trace_spans.json")
      }
      val tc = System.currentTimeMillis()
      w.checks()
      r.extra("checks_s") = Json.num((System.currentTimeMillis() - tc) / 1000.0)
    } catch {
      case e: Throwable =>
        r.fail(s"${a.workload} aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      r.e2e("peak_rss_mb") = peakRssMb
      writeResult(a, r)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
  }

  // ---- shared helpers ----------------------------------------------------

  trait Workload {
    /** runs once, on the warm-up seed's inputs, before the set-up reps */
    def warmUp(): Unit
    def setupReps: Int
    /** one set-up repetition; the last one leaves the state `measure` uses */
    def setup(rep: Int): Unit
    /** measures for the run's seconds; returns the pass's typical op time
      * (median file latency or median batch time), the same quantity for
      * the untraced and the traced pass */
    def measure(traced: Option[(Spans, EngineTrace)]): Double
    def layerMetrics(engine: EngineTrace, spans: Spans): Unit
    def checks(): Unit
  }

  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }
  def medianOf(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile (numpy's default) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => () }

  def move(src: Path, dstDir: Path): Unit = {
    Files.move(src, dstDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def staged(dir: String, prefix: String): IndexedSeq[Path] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".parquet"))
      .map(_.toPath).sortBy(_.getFileName.toString).toIndexedSeq

  /** rows per staged file, from the generator's manifest */
  def stagedRows(dir: String): Map[String, Long] =
    scala.io.Source.fromFile(s"$dir/rows.txt").getLines().map { l =>
      val Array(f, n) = l.split(" "); f -> n.toLong }.toMap

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** rows as sorted strings, for order-free multiset comparison */
  def rowsKey(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }.mkString("|")).sorted

  def sameRows(name: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    val (g, w) = (rowsKey(got), rowsKey(want))
    if (g == w) None
    else {
      val missing = w.diff(g).take(2); val extra = g.diff(w).take(2)
      Some(s"$name: ${g.size} rows vs twin ${w.size}; missing ${missing.mkString(";")}" +
        s"; unexpected ${extra.mkString(";")}")
    }
  }

  private def writeResult(a: Args, r: Result): Unit = {
    val named = r.named.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }.toSeq
    val body = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.map(Json.str).mkString("[", ", ", "]"),
      "e2e" -> Json.nums(r.e2e.toSeq),
      "named" -> Json.obj(named),
      "layers" -> Json.nums(r.layers.toSeq),
      "extra" -> Json.obj(r.extra.toSeq)))
    Files.write(Paths.get(a.out), body.getBytes("UTF-8"))
    ()
  }

  /** (cumulative input rows, commit ms) of each non-empty batch of one
    * query: the file a store committed is found by cumulative rows, since
    * the file source takes every file listed at a trigger, in landing
    * order. */
  def commitTimes(progress: Seq[StreamTrace#Progress], query: String)
      : Seq[(Long, Long)] = {
    var cum = 0L
    progress.filter(_.name == query).sortBy(_.batchId).flatMap { p =>
      cum += p.rows
      if (p.rows > 0) Some(cum -> (p.startMs + p.durations.getOrElse("triggerExecution", 0L)))
      else None
    }
  }
}

import PerfBench._

// ==== events_stream ========================================================

/** The reference topology: all nine `Topology.stores` behind memory sinks,
  * fed by an open-loop scheduler that moves pre-staged event files into the
  * file source at a fixed rate, then backlog bursts landed all at once. */
final class EventsStream(spark: SparkSession, a: Args, r: Result) extends Workload {
  import graft.streaming.Topology
  private val p = a.params
  private val triggerMs = p("trigger_ms").toLong
  private val rate = p("files_per_s")
  private val watermarkS = p("watermark_s").toLong
  private val stream = new StreamTrace
  spark.streams.addListener(stream)
  private val customer = spark.read.parquet(s"${a.data}/customer.parquet").cache()
  private val warmCustomer = spark.read.parquet(s"${a.data}/warm/customer.parquet").cache()
  private val stage = staged(s"${a.data}/stage", "events-")
  private val nTimed = math.max(3, math.round(a.seconds * rate).toInt)
  private val nBacklog = p("backlog_files").toInt
  private val bursts = p("backlog_bursts").toInt
  private val perPass = nTimed + bursts * nBacklog
  private var run = 0
  private var srcDir: Path = _
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var landed = mutable.ArrayBuffer.empty[(Path, Long)]  // file, rows
  val storeNames: Seq[String] = Seq("user_data", "user_last_seen",
    "log_event_counts", "daily_log_events", "user_streaks",
    "question_attempts", "user_achievements", "deduped_events",
    "anonymous_events")

  def setupReps = 3

  private def startTopology(src: Path, dim: DataFrame, tag: String): Map[String, StreamingQuery] = {
    val events = Topology.fileSource(spark, src.toString)
    Topology.stores(events, dim, watermark = Some(s"$watermarkS seconds"))
      .map { case (name, df) =>
        name -> Topology.startMemorySink(df, s"${name}_$tag",
          Trigger.ProcessingTime(triggerMs))
      }
  }

  /** Drains the warm-up files (a separate small seed) through all nine
    * stores: plans, state stores and codegen. */
  def warmUp(): Unit = {
    val src = Paths.get(s"${a.data}/warm/src")
    Files.createDirectories(src)
    staged(s"${a.data}/warm/stage", "events-").foreach(f =>
      Files.copy(f, src.resolve(f.getFileName)))
    val qs = startTopology(src, warmCustomer, "warm")
    try qs.values.foreach(_.processAllAvailable())
    finally qs.values.foreach(_.stop())
  }

  /** Starts the nine queries on an empty source and stops them: the
    * topology start a deployment pays before its first event. */
  def setup(rep: Int): Unit = {
    val empty = Files.createDirectories(Paths.get(s"${a.data}/empty-$rep"))
    val qs = startTopology(empty, customer, s"start$rep")
    try qs.values.foreach(_.processAllAvailable())
    finally qs.values.foreach(_.stop())
  }

  def measure(traced: Option[(Spans, EngineTrace)]): Double = {
    run += 1
    require(stage.size >= run * perPass, s"staged ${stage.size} files, need ${run * perPass}")
    val files = stage.slice((run - 1) * perPass, run * perPass)
    queries.values.foreach(_.stop())
    srcDir = Paths.get(s"${a.data}/src-$run")
    Files.createDirectories(srcDir)
    stream.clear()
    landed = mutable.ArrayBuffer.empty
    val tag = if (traced.isDefined) "traced" else "run"
    queries = startTopology(srcDir, customer, tag)
    val names = queries.values.map(_.name).toSeq
    val manifest = stagedRows(s"${a.data}/stage")
    val rowsOf = files.map(f => f -> manifest(f.getFileName.toString)).toMap
    // open loop: file i is due at t0 + i / rate, whatever the stores do
    val due = mutable.ArrayBuffer.empty[Long]
    val lag = mutable.ArrayBuffer.empty[Long]
    val backlogSeen = mutable.ArrayBuffer.empty[Int]
    val t0 = System.currentTimeMillis() + 500
    files.take(nTimed).zipWithIndex.foreach { case (f, i) =>
      val d = t0 + math.round(i * 1000.0 / rate)
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val now = System.currentTimeMillis()
      move(f, srcDir); landed += ((srcDir.resolve(f.getFileName), rowsOf(f)))
      due += d; lag += now - d
      val committed = names.map(n => committedRows(n)).min
      backlogSeen += landed.scanLeft(0L)(_ + _._2).tail.count(_ > committed)
    }
    val timedRows = landed.map(_._2).sum
    awaitRows(names, timedRows, 60000)
    val progress = stream.progress.asScala.toSeq
    val commits = names.map(n => n -> commitTimes(progress, n)).toMap
    val cum = landed.map(_._2).scanLeft(0L)(_ + _).tail
    val latencies = (0 until nTimed).map { i =>
      names.map(n => commits(n).find(_._1 >= cum(i)).map(_._2 - due(i))
        .getOrElse(Long.MaxValue)).max.toDouble
    }
    // backlog bursts, each landed at once on a quiet topology: events over
    // the time until every store has committed them, median over bursts
    val drains = (0 until bursts).map { b =>
      awaitIdle()
      val before = landed.map(_._2).sum
      val tb = System.currentTimeMillis()
      files.slice(nTimed + b * nBacklog, nTimed + (b + 1) * nBacklog).foreach { f =>
        move(f, srcDir); landed += ((srcDir.resolve(f.getFileName), rowsOf(f)))
      }
      val after = landed.map(_._2).sum
      awaitRows(names, after, 60000)
      val now = stream.progress.asScala.toSeq
      val end = names.map(n => commitTimes(now, n).find(_._1 >= after).map(_._2)
        .getOrElse(Long.MaxValue)).max
      (after - before) / ((end - tb) / 1000.0)
    }
    queries.values.foreach(_.processAllAvailable())
    latencies.zipWithIndex.foreach { case (l, i) =>
      r.check(l < Long.MaxValue, s"file $i never committed by every store") }
    // the latencies describe a steady stream only while the stores keep up.
    // After the ramp-up (the first quarter of the timed files) the backlog
    // settles; if its median over the second half exceeds the median over
    // the second quarter by more than a quarter plus two files, the open
    // loop outran the stores, and the run is failed
    val early = medianOf(backlogSeen.slice(nTimed / 4, nTimed / 2).map(_.toDouble).toSeq)
    val late = medianOf(backlogSeen.drop(nTimed / 2).map(_.toDouble).toSeq)
    r.check(late <= early * 1.25 + 2,
      s"backlog grew: ${backlogSeen.mkString(",")} files waiting at each landing")
    traced match {
      case None =>
        r.e2e("latency_p50_ms") = quantile(latencies, 0.5)
        r.e2e("latency_p90_ms") = quantile(latencies, 0.9)
        r.e2e("throughput_per_s") = medianOf(drains)
        r.named("stream_latency_p50_ms") = (r.e2e("latency_p50_ms"), "ms")
        r.named("stream_latency_p90_ms") = (r.e2e("latency_p90_ms"), "ms")
        r.named("stream_drain_events_per_s") = (r.e2e("throughput_per_s"), "events/s")
        r.extra("latency_samples") = nTimed.toString
        r.extra("latencies_ms") = latencies.map(Json.num).mkString("[", ", ", "]")
        r.extra("backlog_files") = backlogSeen.mkString("[", ", ", "]")
      case Some((sp, engine)) =>
        streamLayers(stream.progress.asScala.toSeq, names, lag.toSeq, backlogSeen.toSeq, sp)
    }
    medianOf(latencies)
  }

  /** every store idle, its no-data (watermark) batches done, so the
    * backlog lands on a quiet topology */
  private def awaitIdle(): Unit = {
    queries.values.foreach(_.processAllAvailable())
    val end = System.currentTimeMillis() + 10000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < end) {
      Thread.sleep(triggerMs)
      quiet = if (queries.values.exists(_.status.isTriggerActive)) 0 else quiet + 1
    }
  }

  private def committedRows(name: String): Long =
    stream.progress.asScala.filter(_.name == name).map(_.rows).sum

  private def awaitRows(names: Seq[String], rows: Long, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (names.exists(n => committedRows(n) < rows) && System.currentTimeMillis() < end) {
      queries.values.find(_.exception.isDefined).foreach(q =>
        throw q.exception.get)
      Thread.sleep(5)
    }
  }

  private def streamLayers(progress: Seq[StreamTrace#Progress], names: Seq[String],
                           lag: Seq[Long], backlog: Seq[Int], spans: Spans): Unit = {
    val traceProgress = progress.filter(p => names.contains(p.name))
    val batches = traceProgress.filter(_.rows > 0)
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    r.layers("streaming.triggers") = batches.size.toDouble
    val trig = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    r.layers("streaming.trigger_ms_p50") = quantile(trig, 0.5)
    r.layers("streaming.trigger_ms_p90") = quantile(trig, 0.9)
    r.layers("streaming.latest_offset_s") = dur("latestOffset")
    r.layers("streaming.query_planning_s") = dur("queryPlanning")
    r.layers("streaming.add_batch_s") = dur("addBatch")
    r.layers("streaming.wal_commit_s") = dur("walCommit") + dur("commitOffsets")
    r.layers("streaming.generator_lag_ms_max") = lag.max.toDouble
    r.layers("streaming.backlog_files_max") = backlog.max.toDouble
    storeNames.foreach { s =>
      val mine = traceProgress.filter(_.name.startsWith(s"store_${s}_"))
      r.layers(s"store.$s.add_batch_s") =
        mine.map(_.durations.getOrElse("addBatch", 0L)).sum / 1000.0
      r.layers(s"store.$s.state_rows") =
        mine.sortBy(_.batchId).lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
    }
    val last = names.flatMap(n => traceProgress.filter(_.name == n).sortBy(_.batchId).lastOption)
    r.layers("state.rows_total") = last.map(_.stateRows).sum.toDouble
    r.layers("state.memory_mb") = last.map(_.stateMemBytes).sum / EngineTrace.MB
    r.layers("state.rows_updated") = traceProgress.map(_.stateUpdated).sum.toDouble
    r.layers("state.commit_s") = traceProgress.map(_.stateCommitMs).sum / 1000.0
    // store progress phases as spans under the workload
    batches.foreach { b =>
      var t = b.startMs
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          val d = b.durations.getOrElse(k, 0L)
          spans.add(-1L, s"${b.name}#${b.batchId}.$k", "streaming", t, t + d); t += d
        }
    }
  }

  def layerMetrics(engine: EngineTrace, spans: Spans): Unit = ()

  /** Every store equals its batch twin over all landed events (the
    * session store only over windows its final watermark closed), and each
    * store read every landed event. Update stores keep a changelog: the
    * last row per key, in sink order, is the store's value. */
  def checks(): Unit = {
    import graft.operators._
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.execution.streaming.sources.MemorySink
    val all = spark.read.schema(Topology.eventSchema).parquet(srcDir.toString)
    val main = Ingest.mainBranch(all)
    val landedRows = landed.map(_._2).sum
    val lastWatermarkWanted = main.agg(max("ts")).head().getTimestamp(0).getTime - watermarkS * 1000
    val streaks = queries("store_user_streaks")
    val end = System.currentTimeMillis() + 20000
    def wmOf(q: StreamingQuery): Long = Option(q.lastProgress).flatMap(p =>
      Option(p.eventTime.get("watermark"))).map(java.time.Instant.parse(_).toEpochMilli)
      .getOrElse(0L)
    while (wmOf(streaks) < lastWatermarkWanted && System.currentTimeMillis() < end)
      Thread.sleep(20)
    queries.values.foreach(_.stop())
    val watermark = wmOf(streaks)
    def sink(store: String): Seq[Row] = queries(store).asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.sink.asInstanceOf[MemorySink].allData
    def latest(store: String, keys: Int*): Seq[Row] =
      sink(store).groupBy(row => keys.map(row.get)).values.map(_.last).toSeq
    def twin(df: DataFrame, cols: String*): Seq[Row] =
      df.select(cols.map(col): _*).collect().toSeq
    val gap = 4L * 3600 * 1000
    val pairs: Seq[(String, () => Option[String])] = Seq(
      "store_user_data" -> (() => sameRows("user_data", latest("store_user_data", 0),
        twin(Enrich.latestUser(all), "user_id", "last_update_ts", "last_value"))),
      "store_user_last_seen" -> (() => sameRows("user_last_seen",
        latest("store_user_last_seen", 0, 1),
        twin(Stats.lastSeenPerType(main), "user_id", "event_type", "last_seen"))),
      "store_log_event_counts" -> (() => sameRows("log_event_counts",
        latest("store_log_event_counts", 0), twin(Stats.eventTypeCounts(main), "event_type", "n"))),
      "store_daily_log_events" -> (() => sameRows("daily_log_events",
        latest("store_daily_log_events", 0, 1, 2),
        twin(Stats.dailyRoleCounts(main, customer), "day", "user_role", "event_type", "n"))),
      "store_user_streaks" -> (() => sameRows("user_streaks", sink("store_user_streaks"),
        twin(Streaks.sessions(main).filter(
          unix_millis(col("streak_end")) + gap <= watermark),
          "user_id", "streak_start", "streak_end", "n_events", "streak_units"))),
      "store_question_attempts" -> (() => sameRows("question_attempts",
        latest("store_question_attempts", 0, 1, 2),
        twin(Questions.partRollup(main), "user_id", "q_page", "q_part", "n_attempts",
          "n_correct", "latest_correct", "latest_attempt"))),
      "store_user_achievements" -> (() => sameRows("user_achievements",
        latest("store_user_achievements", 0),
        twin(Achievements.answerCounts(main), "user_id", "achievement_type", "n_correct",
          "latest_attempt", "threshold_achieved"))),
      "store_deduped_events" -> (() => sameRows("deduped_events", sink("store_deduped_events"),
        twin(graft.ext.Dedup.exactDedupRecords(main), sink("store_deduped_events").head
          .schema.fieldNames.toSeq: _*))),
      "store_anonymous_events" -> (() => sameRows("anonymous_events",
        sink("store_anonymous_events"), twin(Ingest.anonymousBranch(all),
          Topology.eventSchema.fieldNames.toSeq: _*))))
    pairs.foreach { case (store, cmp) =>
      val q = queries(store)
      val err = q.exception.map(e => s"$store stopped: ${e.getMessage}")
        .orElse(try cmp() catch { case e: Throwable => Some(s"$store check threw: $e") })
      r.check(err.isEmpty, err.getOrElse(""))
      val read = stream.progress.asScala.filter(_.name == q.name).map(_.rows).sum
      r.check(read == landedRows, s"$store read $read rows of $landedRows landed")
    }
    r.extra("final_watermark") = Json.str(java.time.Instant.ofEpochMilli(watermark).toString)
    r.extra("closed_sessions") = sink("store_user_streaks").size.toString
  }
}

// ==== crawl_ingest =========================================================

/** Closed loop through `Curation.maintainCrawlIngest`: one generated crawl
  * file lands, the loop's micro-batch commits, the next file lands. The
  * bench-span index and the base-corpus dedup index are built in set-up. */
final class CrawlIngest(spark: SparkSession, a: Args, r: Result) extends Workload {
  import graft.ext.{Curation, Dedup}
  import graft.sources.Bucketing
  private val p = a.params
  private val stream = new StreamTrace
  spark.streams.addListener(stream)
  private val blocked = spark.read.parquet(s"${a.data}/blocked.parquet").cache()
  private val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
  private val stage = staged(s"${a.data}/stage", "crawl-")
  private val manifest = stagedRows(s"${a.data}/stage")
  private val autoCompactAt = p("auto_compact_at").toInt
  private var run = 0
  private var root: Path = _
  private var landed = mutable.ArrayBuffer.empty[(Path, Long, Long)] // file, docs, bytes
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var buildS = 0.0

  def setupReps = 3

  private def buildIndexes(dir: String, tag: String): (String, String) = {
    val (bt, dt) = (s"crawl_bench_$tag", s"crawl_idx_$tag")
    Dedup.buildSubstrBenchIndexGen(spark.read.parquet(s"$dir/bench.parquet"), bt, buckets = a.cores)
    Dedup.buildSubstrBenchIndexGen(spark.read.parquet(s"$dir/base.parquet"), dt, buckets = a.cores)
    (bt, dt)
  }

  private val builds = mutable.ArrayBuffer.empty[(String, String)]

  /** Builds both indexes over the warm-up seed's small tables and runs the
    * whole loop over its files. */
  def warmUp(): Unit = {
    val (bt, dt) = buildIndexes(s"${a.data}/warm", "warm")
    val w = Paths.get(s"${a.data}/warm/run")
    val src = Files.createDirectories(w.resolve("src"))
    staged(s"${a.data}/warm/stage", "crawl-").foreach(f =>
      Files.copy(f, src.resolve(f.getFileName)))
    val q = startLoop(w, bt, dt)
    try q.processAllAvailable() finally q.stop()
  }

  /** Builds both indexes over this seed's tables. The last build serves
    * the untraced pass and the one before it the traced pass, so both
    * start from the same index state. */
  def setup(rep: Int): Unit =
    buildS = timed { builds += buildIndexes(a.data, s"s$rep") }

  private def startLoop(w: Path, bt: String, dt: String): StreamingQuery =
    Curation.maintainCrawlIngest(
      spark.readStream.schema(schema).parquet(w.resolve("src").toString),
      blocked, bt, dt, w.resolve("delta").toString, w.resolve("ckpt").toString,
      w.resolve("flagged").toString, w.resolve("quarantine").toString,
      w.resolve("survivors").toString, autoCompactAt = autoCompactAt)

  private var foldFlags = mutable.ArrayBuffer.empty[Boolean]
  private var unfolded = mutable.ArrayBuffer.empty[Int]
  private var outputMb = 0.0

  def measure(traced: Option[(Spans, EngineTrace)]): Double = {
    run += 1
    val (benchTable, dedupTable) = builds(builds.size - run)
    root = Paths.get(s"${a.data}/run-$run")
    val src = Files.createDirectories(root.resolve("src"))
    stream.clear()
    landed = mutable.ArrayBuffer.empty
    batchMs.clear(); foldFlags.clear(); unfolded.clear()
    val q = startLoop(root, benchTable, dedupTable)
    val name = q.id.toString
    val deadline = System.currentTimeMillis() + (a.seconds * 1000).toLong
    val out0 = traced.map(_._2.get("engine.output_mb")).getOrElse(0.0)
    val t0 = System.currentTimeMillis()
    var i = 0
    val files = stage
    var lastCommit = t0
    var cumDocs = 0L
    try {
      // after the deadline the loop finishes its compaction cycle, so every
      // run has the same plain:fold batch mix, and it runs at least two
      // cycles, so a slow window does not halve the run's samples
      while ((System.currentTimeMillis() < deadline || i % autoCompactAt != 0 ||
          i < 2 * autoCompactAt) && i < files.size) {
        val f = files(i)
        val docs = manifest(f.getFileName.toString)
        val bytes = Files.size(f)
        val dst = src.resolve(f.getFileName)
        val op = traced.map(_._1.open(s"batch $i", "op"))
        val tl = System.currentTimeMillis()
        // copied outside the source directory first: the file source would
        // list a half-written file inside it
        val tmp = Files.createDirectories(root.resolve("landing")).resolve(f.getFileName)
        Files.copy(f, tmp)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        cumDocs += docs
        landed += ((dst, docs, bytes))
        val commit = awaitCommit(q, name, i.toLong)
        op.foreach(s => traced.get._1.close(s))
        batchMs += (commit - tl).toDouble
        lastCommit = commit
        if (traced.isDefined) {
          val u = Bucketing.unfoldedBatchCount(spark, dedupTable, s"$root/delta/spans")
          foldFlags += (unfolded.lastOption.exists(u < _) || (unfolded.isEmpty && u == 0))
          unfolded += u
        }
        i += 1
      }
    } finally q.stop()
    q.exception.foreach(e => r.fail(s"crawl loop stopped: ${e.getMessage}"))
    landed.indices.foreach(j => r.check(j < batchMs.size, s"batch $j never committed"))
    val wall = (lastCommit - t0) / 1000.0
    traced match {
      case None =>
        r.e2e("latency_p50_ms") = quantile(batchMs.toSeq, 0.5)
        r.e2e("latency_p90_ms") = quantile(batchMs.toSeq, 0.9)
        r.e2e("throughput_per_s") = cumDocs / wall
        r.named("crawl_docs_per_s") = (r.e2e("throughput_per_s"), "docs/s")
        r.named("crawl_batch_p50_ms") = (r.e2e("latency_p50_ms"), "ms")
        r.named("crawl_batch_p90_ms") = (r.e2e("latency_p90_ms"), "ms")
        r.extra("batches") = batchMs.size.toString
        r.extra("first_batch_ms") = Json.num(batchMs.head)
      case Some((_, engine)) =>
        drainListenerBus(spark)
        outputMb = engine.get("engine.output_mb") - out0
    }
    medianOf(batchMs.toSeq)
  }

  /** commit time of micro-batch `batchId`: one landed file is one batch
    * (the loop's input rows are not a file count — foreachBatch reads its
    * batch once per stage that consumes it) */
  private def awaitCommit(q: StreamingQuery, id: String, batchId: Long): Long = {
    val end = System.currentTimeMillis() + 120000
    var done: Option[Long] = None
    while (done.isEmpty && System.currentTimeMillis() < end) {
      q.exception.foreach(e => throw e)
      done = stream.progress.asScala.find(p => p.id == id && p.batchId == batchId)
        .map(p => p.startMs + p.durations.getOrElse("triggerExecution", 0L))
      if (done.isEmpty) Thread.sleep(2)
    }
    done.getOrElse(throw new IllegalStateException(s"batch $batchId never committed"))
  }

  def layerMetrics(engine: EngineTrace, spans: Spans): Unit = {
    r.layers("index.build_s") = buildS
    r.layers("index.compactions") = foldFlags.count(identity).toDouble
    r.layers("index.unfolded_max") = if (unfolded.isEmpty) 0.0 else unfolded.max.toDouble
    val (fold, plain) = batchMs.toSeq.zip(foldFlags).partition(_._2)
    r.layers("index.batch_fold_ms_p50") = quantile(fold.map(_._1), 0.5)
    r.layers("index.batch_plain_ms_p50") = quantile(plain.map(_._1), 0.5)
    val inBytes = landed.map(_._3).sum.toDouble
    r.layers("index.write_amp") = outputMb * EngineTrace.MB / inBytes
    val live = Bucketing.resolvePhysical(spark, builds(builds.size - run)._2)
    r.layers("index.live_mb") = (dirBytes(Paths.get(s"${a.data}/warehouse/$live")) +
      dirBytes(root.resolve("delta"))) / EngineTrace.MB
    new CorpusCatalog(spark, a, r).run(spans)
    Kernels.run(spark, spark.read.schema(schema).parquet(root.resolve("src").toString),
      spark.read.parquet(s"${a.data}/corpus/embeddings.parquet"), r)
  }

  private def ids(p: Path): Set[Long] =
    if (!Files.exists(p)) Set.empty
    else spark.read.parquet(p.toString).select("doc_id").collect().map(_.getLong(0)).toSet

  /** The four outcomes partition the input; flagged equals the batch
    * blocklist, quarantined equals batch decontamination of the unflagged
    * docs against the same bench index, and the dedup drops equal the
    * near-duplicates the generator planted. */
  def checks(): Unit = {
    val input = spark.read.schema(schema).parquet(root.resolve("src").toString)
    val all = input.select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = ids(root.resolve("flagged"))
    val quar = ids(root.resolve("quarantine"))
    val surv = ids(root.resolve("survivors"))
    val dropped = all -- flagged -- quar -- surv
    r.check((flagged & quar).isEmpty && (flagged & surv).isEmpty && (quar & surv).isEmpty &&
      (flagged ++ quar ++ surv).subsetOf(all), "crawl outcomes overlap or leave the input")
    val wantFlagged = Curation.domainBlocklist(input, blocked).filter(!col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    r.check(flagged == wantFlagged,
      s"flagged ${flagged.size} != batch blocklist ${wantFlagged.size}")
    val kept = input.filter(!col("doc_id").isin(flagged.toSeq: _*))
    val wantQuar = Dedup.substrDecontaminateAgainstIndex(spark, kept, builds(builds.size - run)._1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    r.check(quar == wantQuar, s"quarantined ${quar.size} != batch decontamination ${wantQuar.size}")
    val truth = spark.read.parquet(s"${a.data}/truth.parquet")
      .filter(col("doc_id").isin(all.toSeq: _*))
    def kind(k: String) = truth.filter(col("kind") === k).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    r.check(dropped == kind("dup"),
      s"dropped ${dropped.size} != planted near-dups ${kind("dup").size}")
    r.check(surv == kind("clean"), s"survivors ${surv.size} != planted clean ${kind("clean").size}")
    r.layers("crawl.flagged") = flagged.size.toDouble
    r.layers("crawl.quarantined") = quar.size.toDouble
    r.layers("crawl.dup_dropped") = dropped.size.toDouble
    r.layers("crawl.survivors") = surv.size.toDouble
    r.layers("crawl.survivor_ratio") = surv.size.toDouble / all.size.max(1)
  }
}

// ==== corpus catalog (traced crawl_ingest runs) ===========================

/** One `SparkEntry` query per ext family over a generated corpus, run in
  * a traced `crawl_ingest` run after its traced pass: each query once cold
  * (its artifact builds included; the output goes to parquet for the
  * DuckDB check that `run.py` makes with `SparkEntry.oracleSql`), then once
  * warm. It has its own engine listener, so the crawl pass's `engine.*`
  * metrics stay the crawl's; its jobs are added to the module metrics. */
final class CorpusCatalog(spark: SparkSession, a: Args, r: Result) {
  import graft.SparkEntry
  val families: Seq[(String, String)] = Seq(
    "retrieval" -> "ext_hybrid_rrf",
    "ann" -> "ann_ivf_trained",
    "dedup" -> "ext_dedup_minhash",
    "fuzzy" -> "ext_fuzzy_match2",
    "text" -> "ext_bpe_apply",
    "curation" -> "ext_domain_blocklist")
  private val corpus = s"${a.data}/corpus"

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def trainedArtifacts: Int =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-trained-"))
      .map(d => Option(d.listFiles()).map(_.length).getOrElse(0)).sum

  /** (construct s, total s) of one execution; the cold execution writes
    * the result as parquet for the oracle check (timestamps as
    * timestamp_ntz, the layout the DuckDB comparison reads), the warm one
    * feeds a noop sink */
  private def once(n: String, spans: Spans, cold: Boolean): (Double, Double) = {
    val op = spans.open(n, "op")
    val t0 = System.nanoTime()
    val df = spans.within("construct", "call")(SparkEntry.queries(n)(spark, corpus))
    val t1 = System.nanoTime()
    spans.within("execute", "call") {
      if (!cold) df.write.format("noop").mode("overwrite").save()
      else df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        else d
      }.coalesce(1).write.mode("overwrite").parquet(s"${a.data}/out/$n")
    }
    val t2 = System.nanoTime()
    spans.close(op)
    release()
    ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
  }

  def run(spans: Spans): Unit = {
    val engine = new EngineTrace(spans, Thread.currentThread())
    spark.sparkContext.addSparkListener(engine)
    val root = spans.open("corpus_catalog", "workload")
    val failed = mutable.LinkedHashMap.empty[String, String]
    val artifactsBefore = trainedArtifacts
    val cold = families.flatMap { case (f, n) =>
      try Some(f -> once(n, spans, cold = true))
      catch { case e: Throwable => failed(n) = e.toString; None }
    }.toMap
    drainListenerBus(spark)
    r.layers("artifact.builds") = (trainedArtifacts - artifactsBefore).toDouble
    r.layers("artifact.build_s") = engine.get("ext.TrainedStore.job_s")
    families.foreach { case (f, n) =>
      val (construct, coldS) = cold.getOrElse(f, (0.0, 0.0))
      val j0 = engine.jobs.get
      val warmS = if (failed.contains(n)) 0.0 else once(n, spans, cold = false)._2
      drainListenerBus(spark)
      r.layers(s"family.$f.warm_s") = warmS
      r.layers(s"family.$f.cold_s") = coldS
      r.layers(s"family.$f.construct_s") = construct
      r.layers(s"family.$f.jobs") = (engine.jobs.get - j0).toDouble
    }
    spans.close(root)
    spark.sparkContext.removeSparkListener(engine)
    EngineTrace.Modules.foreach { m =>
      Seq("jobs", "job_s").foreach { k =>
        r.layers(s"$m.$k") = r.layers.getOrElse(s"$m.$k", 0.0) + engine.get(s"$m.$k") }
    }
    // each query counts once; `run.py` compares the outputs of the rest
    // with DuckDB running oracleSql
    families.foreach { case (_, n) =>
      r.check(!failed.contains(n), s"$n threw: ${failed.getOrElse(n, "")}") }
    val oracle = families.map(_._2).filterNot(failed.contains)
      .map(n => n -> Json.str(SparkEntry.oracleSql(n)))
    Files.createDirectories(Paths.get(s"${a.data}/out"))
    Files.write(Paths.get(s"${a.data}/out/oracle_sql.json"), Json.obj(oracle).getBytes("UTF-8"))
    ()
  }
}

/** Native kernels through their registered SQL functions, the text
  * kernels over the crawl docs and the vector kernels over the corpus
  * embeddings: rows per second of a noop-sink scan, median of 3. */
object Kernels {
  import graft.functions._
  def run(spark: SparkSession, docs: DataFrame, vectors: DataFrame, r: Result): Unit = {
    import graft.ext.Dedup
    CosineSimilarity.register(spark); IntDot.register(spark)
    SortedIntersectCount.register(spark); DeleteNeighborhoodKeys.register(spark)
    AnnKernels.register(spark)
    HashExpressions.register(spark, Dedup.SimHashBits, Dedup.NumPerms,
      Dedup.permA, Dedup.permB, Dedup.MinhashP)
    val toks = docs.select(col("doc_id"),
      split(lower(col("text")), " ").as("toks")).cache()
    val n = toks.count()
    val terms = toks.select(explode(col("toks")).as("t")).distinct()
      .filter(length(col("t")) >= 3).cache()
    val nTerms = terms.count()
    def rate(rows: Long, df: => DataFrame): Double = {
      val ts = (1 to 3).map(_ => timed(df.write.format("noop").mode("overwrite").save()))
      rows / medianOf(ts)
    }
    val textKernels: Seq[(String, Long, () => DataFrame)] = Seq(
      ("minhash_sig", n, () => toks.select(expr("minhash_sig(toks)"))),
      ("simhash32", n, () => toks.select(expr("simhash32(toks)"))),
      ("md5h60_arr", n, () => toks.select(expr("md5h60_arr(toks)"))),
      ("sorted_intersect_count", n, () => toks.select(expr(
        "sorted_intersect_count(sort_array(array_distinct(md5h60_arr(toks))), " +
          "sort_array(array_distinct(md5h60_arr(reverse(toks)))))"))),
      ("del_keys", nTerms, () => terms.select(expr("del_keys(t, 1)"))))
    textKernels.foreach { case (k, rows, df) =>
      r.layers(s"functions.$k.rows_per_s") = rate(rows, df()) }
    val vv = vectors.select(col("vec_id"), col("embedding"),
      expr("transform(embedding, x -> cast(round(x * 127) as bigint))").as("q")).cache()
    val nv = vv.count()
    val cents = vv.filter(col("vec_id") % 50 === 0)
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("cb"))
    val withCb = vv.crossJoin(cents).cache(); withCb.count()
    r.layers("functions.cosine_sim.rows_per_s") =
      rate(nv, vv.select(expr("cosine_sim(embedding, reverse(embedding))")))
    r.layers("functions.int_dot.rows_per_s") =
      rate(nv, vv.select(expr("int_dot(q, reverse(q))")))
    r.layers("functions.nearest_centroids.rows_per_s") =
      rate(nv, withCb.select(expr("nearest_centroids(embedding, cb, 2)")))
    withCb.unpersist(); vv.unpersist()
    toks.unpersist(); terms.unpersist(); ()
  }
}
