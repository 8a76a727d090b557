package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measurement harness every graft main (Bench, Verify, Explain,
  * StreamSmoke, the probes) and the test session share: one session
  * builder, one metrics listener, one timed-run primitive (a noop write
  * between two drained metric snapshots), one median-of-3, the sf0.001
  * warm-up and the shifted-copies corpus construction. One definition, so
  * figures from Bench and the probes stay comparable and a fix to any of
  * them lands everywhere.
  */
object Harness {

  /** Root of the scale-factor directories (`sf0.001`, `sf0.01`, `sf0.1`). */
  val DataRoot = "/root/testdata"
  /** The warm-up scale factor; also the default of the small mains. */
  val WarmDir = s"$DataRoot/sf0.001"

  /** SPARK_GRAFT_SF_DIR, else `default`. */
  def sfDir(default: String = s"$DataRoot/sf0.1"): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** SPARK_GRAFT_CPUS, else every core of the host. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with `cores` shuffle partitions, UTC, no UI
    * and `nanosAsLong` (legacy events.parquet vintages are
    * TIMESTAMP(NANOS); see Tables.events). `conf` adds the settings a
    * caller needs at build time.
    */
  def session(cores: Int, conf: (String, String)*): SparkSession =
    conf.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** Materialize `df` to the noop sink. Not count(): count() lets
    * Catalyst prune projection-only work, so narrow plans would be timed
    * as bare scans.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs each named SparkEntry query once on sf0.001, so JIT, class
    * loading and codegen are paid before any timed run (otherwise the
    * first timed query absorbs seconds of one-time cost). Best-effort: a
    * failing query or a missing warm-up directory is skipped.
    */
  def warm(spark: SparkSession, names: Seq[String]): Unit =
    if (new java.io.File(WarmDir).isDirectory)
      names.distinct.flatMap(SparkEntry.queries.get).foreach { f =>
        try noop(f(spark, WarmDir)) catch { case _: Throwable => () }
      }

  /** One timed run: wall seconds and what the run's jobs cost. `execMs`
    * and `gcMs` sum task executorRunTime / jvmGCTime over completed
    * stages; `jobWallMs` sums each job's start-to-end time.
    */
  final case class Run(wall: Double, execMs: Long, gcMs: Long, jobs: Long,
                       stages: Long, jobWallMs: Long) {
    private[Harness] def -(o: Run): Run = Run(wall - o.wall,
      execMs - o.execMs, gcMs - o.gcMs, jobs - o.jobs, stages - o.stages,
      jobWallMs - o.jobWallMs)
  }

  /** Cumulative job and stage counters; a run reads its delta. */
  final class Metrics extends SparkListener {
    private val execMs, gcMs, jobs, stages, jobWallMs = new AtomicLong
    private val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]
    private val recent = new java.util.ArrayDeque[StageInfo]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        execMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
      recent.synchronized {
        recent.addLast(e.stageInfo)
        if (recent.size > RecentStages) recent.removeFirst()
      }
      ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      // summed per job from the events' own timestamps; runs are serial,
      // so overlap (which would double-count) is rare, and the value is
      // an attribution signal, not an invariant
      if (s != null) { jobWallMs.addAndGet(e.time - s); () }
    }
    private[Harness] def total(wall: Double): Run = Run(wall, execMs.get,
      gcMs.get, jobs.get, stages.get, jobWallMs.get)
    /** The last `n` completed stages, oldest first (at most RecentStages). */
    def lastStages(n: Int): Seq[StageInfo] = recent.synchronized {
      import scala.jdk.CollectionConverters._
      recent.asScala.toSeq.takeRight(n)
    }
  }
  private val RecentStages = 512

  private var attached: Option[(SparkContext, Metrics)] = None

  /** The session's metrics listener, registered on first use. */
  def metrics(spark: SparkSession): Metrics = synchronized {
    val sc = spark.sparkContext
    attached match {
      case Some((c, m)) if c eq sc => m
      case _ =>
        val m = new Metrics
        sc.addSparkListener(m)
        attached = Some((sc, m))
        m
    }
  }

  /** Flush the async listener bus, so a snapshot or a job-group lookup
    * sees every event of the work that just finished. `listenerBus` /
    * `waitUntilEmpty` are private[spark] in source but public in bytecode;
    * reflection keeps this on the unmanaged-jar classpath without forking
    * a package. Best-effort: a timeout must not fail the measurement.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => () }

  /** The timed-run primitive: runs `body` between two drained metric
    * snapshots and returns its result with the run.
    */
  def measured[A](spark: SparkSession)(body: => A): (A, Run) = {
    val m = metrics(spark)
    drain(spark)
    val before = m.total(0.0)
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    drain(spark)
    (a, m.total(wall) - before)
  }

  /** One timed run of a plan: builds `mk` and writes it to the noop sink.
    * Building is timed too: a query's eager actions (localCheckpoint) run
    * while it is built.
    */
  def timed(spark: SparkSession)(mk: => DataFrame): Run =
    measured(spark)(noop(mk))._2

  /** The median-wall run: its metrics are the ones that produced the
    * reported wall, not a cross-run blend.
    */
  def median(runs: Seq[Run]): Run = runs.sortBy(_.wall).apply(runs.size / 2)

  /** Median of three timed runs. One run cannot tell a regression from
    * scheduling or GC noise on sub-2 s plans.
    */
  def median3(spark: SparkSession)(mk: => DataFrame): Run =
    median(Seq.fill(3)(timed(spark)(mk)))

  /** Runs `body` under a fresh job group; returns its result and the
    * number of Spark jobs it launched, read after the bus drain.
    */
  def jobsIn[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    drain(spark)
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** The id stride of the probes' scaled copies. */
  val IdStride = 10000000L

  /** A scaler over `base`: `times` copies unioned by name, copy c adding
    * c × stride to each listed id column and then passing through
    * `vary(c, copy)`, which changes the other columns so the copies are
    * not replicas. Each id column's max must be below its stride or
    * shifted copies would collide; one aggregate job checks that here,
    * once per base frame, outside any timed region.
    */
  def shiftedCopies(base: DataFrame, strides: (String, Long)*)(
      vary: (Int, DataFrame) => DataFrame = (_, df) => df): Int => DataFrame = {
    val maxes = base.select(strides.map(s => max(col(s._1))): _*).head()
    strides.zipWithIndex.foreach { case ((c, stride), i) =>
      require(maxes.isNullAt(i) || maxes.getAs[Number](i).longValue < stride,
        s"shiftedCopies: max $c ${maxes.get(i)} is not below the copy " +
          s"stride $stride — shifted copies would collide")
    }
    times => (0 until times).map { c =>
      vary(c, strides.foldLeft(base) { case (df, (id, stride)) =>
        df.withColumn(id, col(id) + lit(c.toLong * stride))
      })
    }.reduce(_ unionByName _)
  }

  /** Dim-rotated copies of a 64-dim embedding frame: copy c's dims are
    * rotated by c % 64, so each copy's sign pattern and centroid affinity
    * differ; scaling by plain replication would replicate the base bucket
    * distribution and fake uniformity.
    */
  def rotatedCopies(base: DataFrame): Int => DataFrame =
    shiftedCopies(base, "vec_id" -> IdStride) { (c, df) =>
      val r = c % 64
      df.withColumn("embedding",
        expr(s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
    }

  /** Two-decimal rounding for the probes' JSON rows. */
  def r2(x: Double): Double = math.round(x * 100) / 100.0
}
