package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the benchmark's trace: workload -> op -> layer call -> Spark
  * job. Times are epoch milliseconds; `parent` is -1 for the root.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, var end: Long)

/** Spans kept in memory and written out when the run ends. Calls made on
  * the benchmark thread nest through a stack; Spark jobs are attached by
  * the listener to the call span that was open on the benchmark thread when
  * the job started, or to the workload span.
  */
final class Spans {
  private val nextId = new AtomicLong
  val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  @volatile private var stack: List[Span] = Nil

  def open(name: String, layer: String): Span = {
    val s = Span(nextId.getAndIncrement(), stack.headOption.fold(-1L)(_.id),
      name, layer, System.currentTimeMillis(), -1L)
    all.add(s); stack = s :: stack; s
  }
  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }
  def within[T](name: String, layer: String)(body: => T): T = {
    val s = open(name, layer)
    try body finally close(s)
  }
  def current: Long = stack.headOption.fold(-1L)(_.id)
  def add(parent: Long, name: String, layer: String, start: Long, end: Long): Unit = {
    all.add(Span(nextId.getAndIncrement(), parent, name, layer, start, end)); ()
  }

  /** Self time of a span: its duration minus the union of its children. */
  def selfTimes: Map[Long, Long] = {
    val spans = all.asScala.toSeq.filter(_.end >= 0)
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += b - a; hi = b }
        else if (b > hi) { covered += b - hi; hi = b }
      }
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }

  def writeJson(path: String): Unit = {
    val self = selfTimes
    val sb = new StringBuilder("[\n")
    all.asScala.toSeq.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
      sb.append(s""""layer":${Json.str(s.layer)},"start":${s.start},"end":${s.end},""")
      sb.append(s""""self_ms":${self.getOrElse(s.id, 0L)}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
    ()
  }
}

/** Engine counters and per-module job attribution for the traced run.
  *
  * A job's module is the graft source file of the innermost graft frame on
  * the stack that launched it. Spark records that stack as the stage's long
  * call site; jobs launched from a streaming query's thread carry the call
  * site of the query's `start()` instead, and jobs launched from Spark's own
  * pools (broadcast, subquery) carry none, so for those the listener samples
  * the launching thread — the query's stream thread, or the benchmark
  * thread — when the job starts. Jobs with no graft frame anywhere are
  * `bench` when the benchmark's own code launched them, else `unattributed`.
  */
final class EngineTrace(spans: Spans, benchThread: Thread) extends SparkListener {
  import EngineTrace._
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  private val m = new ConcurrentHashMap[String, Double]().asScala
  private def add(k: String, v: Double): Unit = {
    m.synchronized { m.put(k, m.getOrElse(k, 0.0) + v) }; ()
  }
  def get(k: String): Double = m.getOrElse(k, 0.0)
  /** finished jobs as (start ms, end ms, module) */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
  private val open = new ConcurrentHashMap[Int, (Long, String, Long)]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  private val taskDurations = new ConcurrentHashMap[Int, java.util.List[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    val qid = Option(e.properties).flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")))
    val fromDetails = innermostGraft(details.split("\n").toSeq)
    val sampled = qid match {
      case Some(id) => sampleThread(t => t.getName.contains(s"id = $id"))
      case None if fromDetails.isEmpty => sampleThread(_ eq benchThread)
      case None => None
    }
    val module = sampled.orElse(fromDetails).getOrElse(
      if (qid.isEmpty && details.contains("graft.perfbench.")) "bench"
      else if (qid.isEmpty && benchInStack(benchThread)) "bench"
      else "unattributed")
    open.put(e.jobId, (e.time, module, spans.current))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (start, module, parent) =>
      val s = (e.time - start) / 1000.0
      add(s"$module.jobs", 1); add(s"$module.job_s", s)
      add("engine.job_wall_s", s)
      jobIntervals.add((start, e.time, module))
      spans.add(parent, s"job ${e.jobId}", module, start, e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmit.put(e.stageInfo.stageId, System.currentTimeMillis())
    taskDurations.put(e.stageInfo.stageId,
      java.util.Collections.synchronizedList(new java.util.ArrayList[Long]))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) {
      Option(stageSubmit.get(e.stageId)).foreach(t0 =>
        add("engine.task_wait_s", math.max(0L, info.launchTime - t0) / 1000.0))
      Option(taskDurations.get(e.stageId)).foreach(_.add(info.duration))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val tm = e.stageInfo.taskMetrics
    if (tm != null) {
      add("engine.task_exec_s", tm.executorRunTime / 1000.0)
      add("engine.task_cpu_s", tm.executorCpuTime / 1e9)
      add("engine.gc_s", tm.jvmGCTime / 1000.0)
      add("engine.shuffle_write_mb", tm.shuffleWriteMetrics.bytesWritten / MB)
      add("engine.shuffle_read_mb", tm.shuffleReadMetrics.totalBytesRead / MB)
      add("engine.spill_mb", (tm.memoryBytesSpilled + tm.diskBytesSpilled) / MB)
      add("engine.output_mb", tm.outputMetrics.bytesWritten / MB)
    }
    stageSubmit.remove(e.stageInfo.stageId)
    Option(taskDurations.remove(e.stageInfo.stageId)).foreach { l =>
      val d = l.asScala.toSeq.sorted
      if (d.size >= 2 && d(d.size / 2) > 0)
        skews.synchronized { skews += d.last.toDouble / d(d.size / 2); () }
    }
  }

  /** mean over multi-task stages of max task time / median task time */
  def taskSkew: Double = skews.synchronized {
    if (skews.isEmpty) 0.0 else skews.sum / skews.size
  }

  /** wall of [t0, t1] not covered by any job */
  def uncoveredMs(t0: Long, t1: Long): Long = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b, _) => (math.max(a, t0), math.min(b, t1)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var hi = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += b - a; hi = b }
      else if (b > hi) { covered += b - hi; hi = b }
    }
    (t1 - t0) - covered
  }
}

object EngineTrace {
  val MB = 1024.0 * 1024.0

  /** graft source file -> module name, as the benchmark reports it */
  def moduleOf(file: String, cls: String): String = {
    val pkg = cls.split('.').toSeq
    if (pkg.size < 2 || pkg.head != "graft") "unattributed"
    else pkg(1) match {
      case "streaming" => "streaming"
      case "operators" => "operators"
      case "sources" => "sources"
      case "functions" => "functions"
      case "ext" =>
        val f = file.stripSuffix(".scala")
        if (ExtModules.contains(f)) s"ext.$f" else "ext.other"
      case _ => "bench"  // SparkEntry / Tables: the query tail's own layer
    }
  }
  val ExtModules = Set("Dedup", "Curation", "Retrieval", "Similarity",
    "Fuzzy", "TextAnalysis", "TrainedStore", "Checkpoints")
  val Modules = Seq("streaming", "operators", "sources", "functions",
    "ext.Dedup", "ext.Curation", "ext.Retrieval", "ext.Similarity",
    "ext.Fuzzy", "ext.TextAnalysis", "ext.TrainedStore", "ext.Checkpoints",
    "ext.other", "bench", "unattributed")

  private val Frame = """\s*(?:at )?([\w.$]+)\.[\w$<>]+\(([\w.]+):\d+\)""".r

  /** innermost graft frame (benchmark frames excluded) of a call stack */
  def innermostGraft(frames: Seq[String]): Option[String] =
    frames.iterator.collectFirst {
      case Frame(cls, file) if cls.startsWith("graft.") &&
          !cls.startsWith("graft.perfbench.") => moduleOf(file, cls)
    }

  def sampleThread(pick: Thread => Boolean): Option[String] =
    Thread.getAllStackTraces.asScala.collectFirst {
      case (t, st) if pick(t) => st
    }.flatMap(st => innermostGraft(st.toSeq.map(f =>
      s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")))

  def benchInStack(t: Thread): Boolean =
    t.getStackTrace.exists(_.getClassName.startsWith("graft.perfbench."))
}

/** Per-trigger progress of every streaming query, kept for the latency
  * computation (untraced too: the end-to-end latency is read off it).
  */
final class StreamTrace extends StreamingQueryListener {
  final case class Progress(name: String, id: String, batchId: Long, rows: Long,
                            startMs: Long, durations: Map[String, Long],
                            stateRows: Long, stateMemBytes: Long,
                            stateUpdated: Long, stateCommitMs: Long)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val pr = Progress(Option(p.name).getOrElse(""), p.id.toString, p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsUpdated).sum, ops.map(_.commitTimeMs).sum)
    progress.add(pr)
    ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def clear(): Unit = progress.clear()
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}
