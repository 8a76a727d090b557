package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Scale-evidence probe for the behavior family's STREAMING state
  * (SCALE.md): each twin's state-size law under a GROWING user population
  * (every batch advances event time one day and introduces a fresh user
  * cohort — the churn regime that separates "state tracks activity" from
  * "state tracks history").
  *
  * Laws measured (final micro-batch `numRowsTotal`):
  *  - `sessionProfileStreaming` / `cooccurrenceStreaming`: watermark-
  *    evicted — state holds the open horizon only, FLAT as cohorts pass;
  *  - `transitionsStreaming` (NoTimeout): one last-event row per EVER-SEEN
  *    user — grows with the population, the documented reason the TTL
  *    form exists;
  *  - `transitionsStreamingTtl`: event-time eviction — state tracks the
  *    ACTIVE cohort, flat;
  *  - `funnelStreaming`: per-user step vectors, grows with the population
  *    by DESIGN (a funnel must remember every entrant until conversion —
  *    bounding it is a product decision, stated in the operator doc);
  *  - `funnelStreamingTtl`: the shipped product option — a conversion
  *    window anchored at funnel entry, state = OPEN attempts only,
  *    watermark-evicted at the attempt horizon: flat under cohort churn.
  */
object BehaviorStateProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val usersPerBatch = 500
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val types = Seq("signup", "view", "click", "purchase")

    def feed(mem: MemoryStream[(Long, Long, Timestamp, String)],
             q: StreamingQuery, batches: Int): Long = {
      (0 until batches).foreach { b =>
        val base = t0 + b.toLong * 86400L * 1000L
        // a fresh cohort per batch: user ids disjoint across batches
        val rows = (0 until usersPerBatch).flatMap { u =>
          val uid = b.toLong * 1000000L + u
          (0 until 4).map(k =>
            (uid * 10 + k, uid, new Timestamp(base + k * 60000L), types(k)))
        }
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      val state = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      q.stop()
      state
    }

    def run(tag: String, mk: DataFrame => DataFrame,
            mode: String = "update"): Unit = {
      for (batches <- Seq(4, 16)) {
        val mem = MemoryStream[(Long, Long, Timestamp, String)]
        val df = mk(mem.toDF()
          .toDF("event_id", "user_id", "ts", "event_type")
          .withColumn("value", org.apache.spark.sql.functions.lit(1.0)))
        val q = df.writeStream.format("noop").outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
          .start()
        val state = feed(mem, q, batches)
        println(s"""{"probe":"behavior_state","op":"$tag","batches":$batches,""" +
          s""""users_seen":${batches * usersPerBatch},"state_rows":$state}""")
      }
    }

    run("sessions", df => graft.operators.Stats
      .sessionProfileStreaming(df, watermark = "1 hour"), mode = "append")
    run("cooccur", df => graft.operators.Stats
      .cooccurrenceStreaming(df, watermark = "1 hour"), mode = "append")
    run("transitions", df => graft.operators.Stats
      .transitionsStreaming(spark, df))
    run("transitions_ttl", df => graft.operators.Stats
      .transitionsStreamingTtl(spark, df, "1 day"))
    run("funnel", df => graft.operators.Stats.funnelStreaming(spark, df))
    run("funnel_ttl", df => graft.operators.Stats
      .funnelStreamingTtl(spark, df, "1 day"))
    spark.stop()
  }
}
