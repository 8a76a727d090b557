package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Sketches, TimeSeries}
import graft.operators.Stats

/** Scale-evidence probe for the behavior-analytics family (SCALE.md
  * "Measured evidence"): funnel, retention, sessions, transitions,
  * co-occurrence, rolling features, MAD anomalies, histogram quantiles,
  * and RFM — wall at 1×/4×/16× population growth, plus a hot-user skew
  * mode.
  *
  * Growth is by population — more users over the SAME day span (the
  * TsMediaScaleProbe construction: user_id/event_id-shifted copies) —
  * which is each operator's intended regime: funnel/retention/sessions/
  * transitions shuffle user-keyed (corpus-linear, user-parallel),
  * co-occurrence basket-keyed, rolling/anomaly collapse to the
  * (event_type, hour) grid FIRST (their exchanges don't grow with users
  * at all past the pre-aggregation), and the histogram sketch's exchange
  * is O(bins × tasks) regardless of rows.
  *
  * Skew mode (`SPARK_GRAFT_MODE=skew`): one bot user carrying `hot`
  * events inside a single day — the window-partition worst case. The
  * design claims under test: co-occurrence and the histogram CANNOT skew
  * with a hot user's event volume (per-basket state is bounded by the
  * 5-type alphabet; bins by 64), while sessions/transitions concentrate
  * the bot's rows in ONE window partition (single-task sort) — the
  * measured wall bounds what a 100 TB bot row costs before a caller
  * reaches for a bot-filter hygiene pass.
  */
object BehaviorScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val events = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")

    val scaled = Harness.shiftedCopies(events, "event_id" -> 1000000000L,
      "user_id" -> Harness.IdStride)()

    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    def r2(x: Double): Double = Harness.r2(x)

    // one wiring per operator, shared by both modes — the skew subset
    // must measure exactly the code the growth suite measures
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "funnel" -> (Stats.funnel(_)),
      "retention" -> (Stats.cohortRetention(_)),
      "sessions" -> (Stats.sessionStats(_)),
      "transitions" -> (Stats.transitions(_)),
      "cooccur" -> (Stats.cooccurrence(_)),
      "rolling" -> (TimeSeries.rollingFeatures(_)),
      "anomaly" -> (TimeSeries.hourlyAnomalies(_)),
      "hist" -> (ev => Sketches.histQuantiles(ev)),
      "rfm" -> (Stats.rfm(_)))

    def row(ev: DataFrame, names: Seq[String]): String =
      ops.filter(o => names.contains(o._1))
        .map { case (n, f) => s""""${n}_s":${r2(median3(f(ev)))}""" }
        .mkString(",")

    if (sys.env.get("SPARK_GRAFT_MODE").contains("skew")) {
      val hots = sys.env.getOrElse("SPARK_GRAFT_SKEW", "100000,1000000")
        .split(",").map(_.trim.toInt).toSeq
      val day0 = events.agg(min(col("ts"))).collect().head.getTimestamp(0)
      hots.foreach { hot =>
        // one bot, `hot` events spread over one day. It cycles FOUR event
        // types — exactly CooccurCap — so its basket stays ADMITTED and
        // the co-occurrence measurement exercises the bounded in-basket
        // pair generation (a 5-type bot is dropped whole by the hub cap,
        // which only measures the collect_set + filter path)
        val botEv = spark.range(hot).select(
          (col("id") + 2000000000L).as("event_id"),
          timestamp_micros(unix_micros(lit(day0)) +
            (col("id") % 86400) * 1000000L).as("ts"),
          lit(99999999L).as("user_id"),
          element_at(
            // sized FROM CooccurCap (synthesizing extra names past the four
            // real types) so a raised cap can never index past the array —
            // the invariant is "exactly CooccurCap distinct types",
            // whatever the cap is
            array((0 until Stats.CooccurCap).map(i =>
              lit(Seq("signup", "view", "click", "purchase")
                .lift(i).getOrElse(s"type$i"))): _*),
            (col("id") % Stats.CooccurCap + 1).cast("int")).as("event_type"),
          (col("id") % 491).cast("double").as("value"))
        val ev = events.unionByName(botEv).localCheckpoint(true)
        try println(s"""{"probe":"behavior_skew","hot":$hot,""" +
          row(ev, Seq("sessions", "transitions", "cooccur", "hist")) + "}")
        finally { ev.unpersist(); () }
      }
      return
    }

    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    scales.foreach { times =>
      val ev = scaled(times).localCheckpoint(true)
      try {
        val users = ev.select("user_id").distinct().count()
        val n = ev.count()
        println(s"""{"probe":"behavior","scale":$times,"users":$users,""" +
          s""""n":$n,""" + row(ev, ops.map(_._1)) + "}")
      } finally {
        ev.unpersist()
        // rfm eagerly localCheckpoints its user frame per construction
        // (3 reps per scale) — sweep like Verify/Bench do, so blocks from
        // earlier scales can't pressure the 16× timings
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
  }
}
