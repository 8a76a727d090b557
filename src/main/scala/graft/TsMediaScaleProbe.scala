package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity, TimeSeries}

/** Scale-evidence probe for the SAX time-series and media near-dup
  * searches (SCALE.md "Measured evidence"): wall time at 1×/4×/16× input
  * size, with the hot-bucket guard off and on.
  *
  * Scaling is by population growth — more users with the same behavioral
  * day span, more media docs with perturbed payloads — which is exactly
  * the regime where these two operators' bucket counts DON'T grow (SAX
  * words are capped at alphabet^segs, sign patterns at 2^dims), so mean
  * bucket size grows linearly with the corpus and the unguarded kernel's
  * Σ bucket² work term grows quadratically. The guarded run is the
  * posture the operators ship for big corpora: maxBucket hash-sharding
  * bounds every gathered list, trading the quadratic term for
  * corpus-linear sharded groups.
  */
object TsMediaScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val events = Tables.events(spark, sfDir).select("user_id", "ts")
    val media = Multimodal.asMedia(
      Tables.documents(spark, sfDir).select("doc_id", "text"))

    val scaledEvents = Harness.shiftedCopies(events, "user_id" -> Harness.IdStride)()
    // perturbed payloads: distinct md5s spread the copies over the sign
    // buckets instead of planting exact duplicates
    val scaledMedia = Harness.shiftedCopies(media, "doc_id" -> Harness.IdStride) {
      (c, df) => df.withColumn("payload",
        concat(col("payload"), lit(s"#$c").cast("binary")))
    }

    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    def r2(x: Double): Double = Harness.r2(x)

    // SKEW mode — the scenario the guard exists for: the population grows
    // by users/docs that all land in ONE bucket (a corpus-wide "inactive"
    // SAX word; one viral payload's sign pattern) while the rest of the
    // corpus stays put. Unguarded, that bucket's kernel call is a single
    // Θ(hot²·dims) task; guarded, it hash-splits into bounded shard groups.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("skew")) {
      val hots = sys.env.getOrElse("SPARK_GRAFT_SKEW", "8192,32768")
        .split(",").map(_.trim.toInt).toSeq
      hots.foreach { hot =>
        import spark.implicits._
        val day0 = events.agg(min(col("ts"))).collect().head.getTimestamp(0)
        val hotEv = spark.range(hot)
          .select((col("id") + 10000000L).as("user_id"), lit(day0).as("ts"))
        val ev = events.unionByName(hotEv).localCheckpoint(true)
        val onePayload = media.limit(1).collect().head.getAs[Array[Byte]]("payload")
        val hotMd = spark.range(hot)
          .select((col("id") + 10000000L).as("doc_id"), lit(onePayload).as("payload"))
        val md = media.unionByName(hotMd).localCheckpoint(true)
        try {
          val ts0 = median3(TimeSeries.tsTopNeighbor(ev, Similarity.NoMaxBucket))
          val ts1 = median3(TimeSeries.tsTopNeighbor(ev, Similarity.MaxBucket))
          val md0 = median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.NoMaxBucket))
          val md1 = median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.MaxBucket))
          println(s"""{"probe":"tsmedia_skew","hot":$hot,""" +
            s""""ts_s":${r2(ts0)},"ts_capped_s":${r2(ts1)},""" +
            s""""media_s":${r2(md0)},"media_capped_s":${r2(md1)}}""")
        } finally { ev.unpersist(); md.unpersist() }
      }
      return
    }

    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    scales.foreach { times =>
      val ev = scaledEvents(times).localCheckpoint(true)
      val md = scaledMedia(times).localCheckpoint(true)
      try {
        val users = ev.select("user_id").distinct().count()
        val docs = md.count()
        val ts0 = median3(TimeSeries.tsTopNeighbor(ev, Similarity.NoMaxBucket))
        val ts1 = median3(TimeSeries.tsTopNeighbor(ev, Similarity.MaxBucket))
        val md0 = median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.NoMaxBucket))
        val md1 = median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.MaxBucket))
        println(s"""{"probe":"tsmedia","scale":$times,"users":$users,""" +
          s""""docs":$docs,"ts_s":${r2(ts0)},"ts_capped_s":${r2(ts1)},""" +
          s""""media_s":${r2(md0)},"media_capped_s":${r2(md1)}}""")
      } finally { ev.unpersist(); md.unpersist() }
    }
  }
}
