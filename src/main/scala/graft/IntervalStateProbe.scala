package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Scale-evidence probe for the stream-stream interval join's STATE
  * (SCALE.md): the last stateful operator family without a probe row.
  * The claim is the watermark bound — the join buffers only rows whose
  * event time is within (watermark + join window) of the stream head, so
  * state tracks the RATE × WINDOW product and stays FLAT as total
  * ingested history grows; without a watermark the same join's state
  * grows linearly with history and never evicts (Spark cannot prove any
  * row unmatchable). Also measured: a hot-user click skew — state grows
  * with the IN-WINDOW row volume (the hot user's extra clicks genuinely
  * are joinable), never with history, and the output pair fan-out is the
  * semantic cost of the skew, not a state leak.
  *
  * Method: MemoryStream batches advance event time one hour per batch
  * (clicks + purchases per user, join window 30 min, watermark 10 min);
  * after each ladder the final micro-batch's
  * `StateOperatorProgress.numRowsTotal` is the state row count. Rows are
  * printed as JSON for SCALE.md.
  */
object IntervalStateProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val usersPerBatch = 200
    val clicksPerUser = 5

    def run(batches: Int, watermark: Option[String], hotClicks: Int)
        : (Long, Long) = {
      val clicks = MemoryStream[(Long, Long, Timestamp)]
      val purchases = MemoryStream[(Long, Long, Timestamp)]
      def df(m: MemoryStream[(Long, Long, Timestamp)]): DataFrame =
        m.toDF().toDF("event_id", "user_id", "ts")
          .withColumn("value", lit(1.0))
      val joined = graft.operators.Enrich.intervalJoin(
        df(clicks), df(purchases), window = "30 minutes",
        watermark = watermark)
      val outName = s"ivp_${batches}_${watermark.isDefined}_$hotClicks"
      val q = joined.writeStream.format("memory").outputMode("append")
        .queryName(outName)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start()
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      (0 until batches).foreach { b =>
        val base = t0 + b.toLong * 3600L * 1000L
        val cRows = (0 until usersPerBatch).flatMap { u =>
          (0 until clicksPerUser).map { k =>
            (b.toLong * 1000000L + u * 100L + k, u.toLong,
              new Timestamp(base + k * 60000L))
          }
        } ++ (0 until hotClicks).map { k =>
          (900000000L + b.toLong * 1000000L + k, 99999L,
            new Timestamp(base + (k % 25) * 60000L))
        }
        val pRows = (0 until usersPerBatch).map { u =>
          (500000000L + b.toLong * 1000000L + u, u.toLong,
            new Timestamp(base + 20L * 60000L))
        } ++ (if (hotClicks > 0)
          Seq((800000000L + b.toLong * 1000000L, 99999L,
            new Timestamp(base + 20L * 60000L)))
        else Seq.empty)
        clicks.addData(cRows: _*)
        purchases.addData(pRows: _*)
        q.processAllAvailable()
      }
      val state = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      val out = spark.table(outName).count()
      q.stop()
      (state, out)
    }

    // ladder 1: history grows 4x, per-batch rate constant, watermarked —
    // the state row count must stay FLAT (watermark-bounded eviction)
    for (batches <- Seq(4, 8, 16)) {
      val (state, out) = run(batches, Some("10 minutes"), hotClicks = 0)
      val ingested = batches.toLong * usersPerBatch * (clicksPerUser + 1)
      println(s"""{"probe":"interval_state","batches":$batches,""" +
        s""""ingested":$ingested,"state_rows":$state,"pairs":$out}""")
    }
    // unwatermarked control at the largest ladder: state ~= full history
    val (stateNoWm, outNoWm) = run(16, None, hotClicks = 0)
    println(s"""{"probe":"interval_state_nowm","batches":16,""" +
      s""""ingested":${16L * usersPerBatch * (clicksPerUser + 1)},""" +
      s""""state_rows":$stateNoWm,"pairs":$outNoWm}""")
    // skew: a hot user at 100x the click rate — state grows by the hot
    // rows IN WINDOW (they are genuinely joinable), not with history.
    // The hot=0 baseline for this row is ladder 1's batches=8 line
    // (identical configuration — re-running it here would only duplicate
    // a full streaming run to reprint a known number).
    val (state, out) = run(8, Some("10 minutes"), hotClicks = 500)
    println(s"""{"probe":"interval_state_skew","hot_clicks_per_batch":500,""" +
      s""""batches":8,"state_rows":$state,"pairs":$out}""")
    spark.stop()
  }
}
