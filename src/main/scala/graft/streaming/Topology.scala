package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators._

/** The reference's streaming topology (LoggedEventsListener.java:81-231)
  * re-expressed as Structured Streaming: one event source fanned out to the
  * branch sink and the stateful aggregations, each in Update mode with a 10s
  * trigger (the reference's commit interval, LoggedEventsListener.java:72).
  *
  * The same operator functions used for batch verification are applied to a
  * streaming DataFrame unchanged — Spark's batch/streaming unification stands
  * in for the reference's KStream/KTable duality (SURVEY §7.1).
  *
  * Sources are abstracted (SURVEY §7.5.6): files/MemoryStream here, Kafka in
  * a deployment that ships the connector jar; the topology code is agnostic.
  *
  * Watermark policy (SURVEY §7.5.2): the reference keeps state forever; every
  * stateful op here takes an optional watermark so a 100 TB deployment can
  * bound state, with `None` reproducing reference semantics.
  */
object Topology {

  /** Schema of the testdata event stream (FIXTURES.md §B). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source with the event schema (the offline stand-in
    * for the Kafka source S1 — no Kafka connector jar ships here).
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  private def withOptionalWatermark(df: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(df)(w => df.withWatermark("ts", w))

  /** User keys one state partition is sized for. At this many keys per
    * partition a trigger's state work on one partition still costs less
    * than the per-partition commit overhead of splitting it (the state
    * ladder in SCALE.md, "Measured evidence: streaming state partitions
    * per store").
    */
  val UsersPerStatePartition: Long = 500000L

  /** State partitions for a store whose key space holds `keys` keys:
    * `min(shufflePartitions, ceil(keys / UsersPerStatePartition))`, and at
    * least one.
    */
  def statePartitions(keys: Long, shufflePartitions: Int): Int = {
    val wanted = (math.max(keys, 1L) + UsersPerStatePartition - 1) /
      UsersPerStatePartition
    math.min(shufflePartitions.toLong, wanted).toInt.max(1)
  }

  /** State partitions of each frame [[stores]] built, read by
    * [[startSized]]. Weak keys: a frame nobody starts is not pinned here.
    * Frames are compared by identity (Dataset keeps Object equality).
    */
  private val sizedFrames = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Integer]())

  /** Rows of `dim`, from plan statistics when they carry a row count (a
    * materialised cache does), else one count job.
    */
  private def rowCount(dim: DataFrame): Long =
    dim.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
      .getOrElse(dim.count())

  /** The aggregation fan-out: store name -> streaming DataFrame, mirroring
    * the reference's named state stores (SURVEY §1.1).
    *
    * Each stateful store's state-partition count is fixed here and applied
    * when it starts ([[startMemorySink]]). `store_log_event_counts`
    * (`event_type`) and `store_daily_log_events` (day × role × type) are
    * keyed by bounded domains and get 1. The user-keyed stores and
    * `store_deduped_events` get [[statePartitions]] of `userDim`'s row
    * count, which bounds the user key space; `userDim` is read once per
    * call. The session's `spark.sql.shuffle.partitions` caps the count.
    */
  def stores(events: DataFrame, userDim: DataFrame,
             watermark: Option[String] = None): Map[String, DataFrame] = {
    val main = Ingest.mainBranch(events)
    val wm = withOptionalWatermark(main, watermark)
    val cap = events.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val userSized = statePartitions(rowCount(userDim), cap)
    val sized = Seq(
      // a watermark cannot evict a plain agg's keyed state (no window in the
      // key), so the bounded form swaps in a per-key fold with event-time TTL
      ("store_user_data", Enrich.latestUserStreaming(main), userSized),
      ("store_user_last_seen", watermark.fold(Stats.lastSeenPerType(main))(
        w => Stats.lastSeenPerTypeTtl(main, w)), userSized),
      ("store_log_event_counts", Stats.eventTypeCounts(main), 1),
      ("store_daily_log_events", Stats.dailyRoleCounts(wm, userDim), 1),
      ("store_user_streaks", Streaks.sessions(wm), userSized),
      ("store_question_attempts", Questions.partRollup(main), userSized),
      ("store_user_achievements", Achievements.answerCounts(main), userSized),
      // extension store: streaming exact dedup (state bounded by watermark)
      ("store_deduped_events", graft.ext.Dedup.exactDedupRecords(
        main, watermark.getOrElse("10 minutes")), userSized))
    sized.foreach { case (_, df, n) => sizedFrames.put(df, n) }
    sized.map { case (name, df, _) => name -> df }.toMap +
      ("store_anonymous_events" -> Ingest.anonymousBranch(events))
  }

  /** The behavior-analytics fan-out — the round-17/18 streaming twins
    * (sessions, co-occurrence baskets, transition pairs, funnel attempts)
    * as ROUTED stores next to [[stores]]' reference mirrors, each with
    * its structurally-chosen output mode ([[outputModeFor]]):
    *
    *  - `store_session_profiles` — session_window + watermark → Append
    *    (one final row per closed session);
    *  - `store_cooccur_baskets` — day-window basket pairs + watermark →
    *    Append (the emit-once-on-day-close contract its downstream
    *    count-fold requires; Update would leak partial baskets);
    *  - `store_transition_pairs` — TTL'd flatMapGroupsWithState → Update
    *    (increment changelog, gap bound enforced in the fold);
    *  - `store_funnel_attempts` — conversion-window funnel → Update
    *    (per-attempt changelog; closed rows are final).
    *
    * All four are watermark-bounded by construction (the behavior family
    * ships no unbounded store: the NoTimeout transition/funnel folds stay
    * operator-level opt-ins with their state law documented in SCALE.md).
    *
    * Unlike [[stores]]' reference mirrors, these read the FULL event
    * stream, not the main branch: their batch twins (`ext_funnel`,
    * `ext_cooccur`, `ext_sessions`, `ext_transitions`) aggregate the
    * whole events table, and the anonymous branch IS behavior — a funnel
    * whose `view` step was routed away would stall at depth 1 by
    * construction.
    */
  def behaviorStores(events: DataFrame,
                     watermark: String = "1 hour",
                     ttl: String = "1 day"): Map[String, DataFrame] = {
    val spark = events.sparkSession
    Map(
      "store_session_profiles" ->
        Stats.sessionProfileStreaming(events, watermark = watermark),
      "store_cooccur_baskets" ->
        Stats.cooccurrenceStreaming(events, watermark = watermark),
      "store_transition_pairs" ->
        Stats.transitionsStreamingTtl(spark, events, ttl),
      "store_funnel_attempts" ->
        Stats.funnelStreamingTtl(spark, events, ttl))
  }

  /** Output mode for a store: session-window aggregations only support
    * Append (sessions emit once, when the watermark closes them). A
    * WATERMARKED time-window aggregation FOLLOWED BY A ROW GENERATOR
    * (the co-occurrence day baskets, whose pair explode runs after the
    * basket agg) routes to Append too: once an explode fans the
    * aggregation's row out, its emissions are no longer reconcilable
    * per key — a partial-basket Update would leak pair rows no later
    * emission supersedes — so the only sound contract is
    * emit-once-on-window-close. A KEY-PRESERVING windowed aggregation
    * (the OHLC resample) stays Update: its changelog is
    * latest-row-per-key reconcilable, which is exactly the reference's
    * KTable semantics. Other aggregations run Update; stateless plans
    * run Append.
    *
    * All detection is structural — the window expressions / the
    * analyzer's marker metadata / a Generate node above the Aggregate —
    * never plan-string matching, so a column merely *named*
    * "session_window" cannot misroute the sink. The generator route
    * additionally requires an EventTimeWatermark node: an unwatermarked
    * window agg cannot run Append (Spark rejects it).
    */
  def outputModeFor(df: DataFrame): OutputMode = {
    val analyzed = df.queryExecution.analyzed
    val hasAgg = analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SessionWindow, TimeWindow}
    val isSessionWindow = analyzed.exists(_.expressions.exists(_.exists {
      case _: SessionWindow => true
      case a: Attribute => a.metadata.contains(SessionWindow.marker)
      case _ => false
    }))
    val hasWatermark = analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }
    // a Generate (explode) whose subtree holds an Aggregate GROUPED BY a
    // time window: the windowed agg's changelog does not survive the
    // fan-out keyed, so emit-once-on-window-close is the only sound
    // contract. The window requirement sits ON the Aggregate found under
    // the Generate — three independent plan-wide predicates (any window
    // expression + any watermark + any agg-under-explode) would route a
    // plan with an unrelated window column plus a non-windowed agg under
    // an explode to Append, which Spark then rejects at start.
    val windowedAggUnderGenerate = analyzed.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.child.exists {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
              a.groupingExpressions.exists(_.exists {
                case _: TimeWindow => true
                case attr: Attribute =>
                  attr.metadata.contains(TimeWindow.marker)
                case _ => false
              })
            case _ => false
          } => g
    }.isDefined
    // a flatMapGroupsWithState declared in Update mode requires an Update sink
    val fmgwsUpdate = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
          if f.outputMode == OutputMode.Update() => f
    }.isDefined
    val appendAgg = isSessionWindow ||
      (hasWatermark && windowedAggUnderGenerate)
    if (df.isStreaming && (fmgwsUpdate || (hasAgg && !appendAgg))) OutputMode.Update()
    else OutputMode.Append()
  }

  /** Start one store as an in-memory sink in its [[outputModeFor]] mode
    * (smoke/test harness); production would swap format("memory") for the
    * real sink per store.
    *
    * A frame built by [[stores]] starts with the state-partition count
    * [[stores]] fixed for it: 1 for the bounded-domain stores, and
    * `min(spark.sql.shuffle.partitions, ceil(userDim rows /
    * UsersPerStatePartition))` for the user-keyed ones — 1 at every data
    * size in this repository. Any other frame starts with the session's
    * `spark.sql.shuffle.partitions`.
    */
  def startMemorySink(df: DataFrame, name: String,
                      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    startSized(df)(_.outputMode(outputModeFor(df))
      .format("memory")
      .queryName(name)
      .trigger(trigger))

  /** foreachBatch sink for the achievements path (S6): batch-mode JDBC/
    * parquet write per micro-batch, the Spark analog of the reference's
    * per-record Postgres processor. Sized like [[startMemorySink]].
    */
  def startAchievementsSink(df: DataFrame, path: String): StreamingQuery =
    startSized(df)(_.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Achievements.sinkToParquet(batch.sparkSession, batch, path, batchId)
      })

  /** The one start path. For a frame built by [[stores]], sets the
    * session's `spark.sql.shuffle.partitions` to the store's recorded count
    * for the duration of `start()` and restores it after. The query clones
    * the session when it is constructed, inside `start()`, and its offset
    * log pins the count from batch 0, so a restart from the same checkpoint
    * keeps the count even if the session value has changed since.
    *
    * Starts are serialised on `Topology`, so two stores never see each
    * other's count. A query that is not started here but plans at the same
    * moment on the same session could see the temporary value.
    */
  private[graft] def startSized(df: DataFrame)(
      configure: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val writer = configure(df.writeStream)
    Option(sizedFrames.get(df)).fold(writer.start()) { n =>
      val conf = df.sparkSession.conf
      val key = "spark.sql.shuffle.partitions"
      synchronized {
        val prev = conf.getOption(key)
        conf.set(key, n.toString)
        try writer.start()
        finally prev.fold(conf.unset(key))(conf.set(key, _))
      }
    }
  }
}
