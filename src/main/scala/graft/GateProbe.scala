package graft

import org.apache.spark.sql.functions._

/** Throughput probe for the streaming ingest gates (SCALE.md): per-batch
  * wall and batches/s for the blocklist gate, the substring-
  * decontamination gate (fixed benchmark index), the substring-dedup
  * maintenance body (growing index + live delta, across a threshold
  * fold), and the composed crawl-ingest body — the r19 gates shipped
  * with lifecycle tests but no measured throughput rung; the d2
  * compaction-cadence row is the template.
  *
  * The corpus splits into `Batches` equal micro-batches by doc_id mod;
  * each loop drives the gate's factored batch body directly (the same
  * code path foreachBatch invokes), so the numbers price the gate, not
  * MemoryStream plumbing. Each line also prints the Spark jobs every
  * batch body launched, counted by job group.
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val Batches = 6
    val root = java.nio.file.Files
      .createTempDirectory("graft-gate-probe-").toString
    val docs = Tables.documents(spark, sfDir)
    // blocklist stage needs URLs; the constructions are the oracle ones
    val crawl = ext.Curation.withCrawlCorpus(docs)
      .filter(col("doc_id") % 97 =!= 0)
    val blocked = Seq("ads.example.net", "site7.example.org")
      .toDF("domain")
    def batch(i: Int) = crawl.filter(col("doc_id") % Batches === i)
    val perBatch = batch(0).count()

    // per batch: wall and the Spark jobs the body launched (its job group)
    def loop(tag: String)(body: (org.apache.spark.sql.DataFrame, Long) => Unit)
        : Unit = {
      val (walls, jobs) = (0 until Batches).map { i =>
        Harness.jobsIn(spark)(
          Harness.measured(spark)(body(batch(i), i.toLong))._2.wall)
      }.unzip
      val w = walls.map(x => f"$x%.2f").mkString(" ")
      val rate = Batches / walls.sum
      println(f"$tag%-14s docs/batch=$perBatch walls=[$w] s  " +
        f"jobs=[${jobs.mkString(" ")}]  " +
        f"batches/s=$rate%.2f  docs/s=${perBatch * rate}%.0f")
    }

    // 1. blocklist gate: stateless verdict split
    loop("blocklist") { (b, i) =>
      ext.Curation.processBlocklistGate(b, i, blocked,
        s"$root/bl_clean", s"$root/bl_flagged")
    }

    // 2. decontamination gate vs the FIXED benchmark index
    ext.Dedup.buildSubstrBenchIndexGen(
      docs.filter(col("doc_id") % 97 === 0), "gp_bench_idx")
    loop("decont") { (b, i) =>
      ext.Dedup.processDecontGate(b, i, "gp_bench_idx",
        s"$root/dc_clean", s"$root/dc_quar",
        ext.Dedup.SpanN, ext.Dedup.SubstrPosCap)
    }

    // 3. substr-dedup maintenance body: growing index + live delta, with
    // the threshold fold at cadence 3 (maxUnfolded=2) — batch walls show
    // the live-delta cost growing then returning to base-only after folds
    ext.Dedup.buildSubstrBenchIndexGen(
      docs.filter(col("doc_id") % 97 === 0), "gp_dedup_idx")
    loop("substr_dedup") { (b, i) =>
      ext.Dedup.processSubstrBatch(b, i, "gp_dedup_idx",
        s"$root/sd_delta", s"$root/sd_surv",
        ext.Dedup.SpanN, ext.Dedup.SubstrPosCap)
      ext.Dedup.compactSubstrIfNeeded(spark, "gp_dedup_idx",
        s"$root/sd_delta", maxUnfolded = 2)
      ()
    }

    // 4. the composed crawl-ingest body (all three gates chained)
    ext.Dedup.buildSubstrBenchIndexGen(
      docs.filter(col("doc_id") % 97 === 0), "gp_crawl_idx")
    loop("crawl_ingest") { (b, i) =>
      ext.Curation.processCrawlIngest(b, i, blocked, "gp_bench_idx",
        "gp_crawl_idx", s"$root/ci_delta", s"$root/ci_flagged",
        s"$root/ci_quar", s"$root/ci_surv",
        ext.Dedup.SpanN, ext.Dedup.SubstrPosCap)
    }

    // 5. ("pipeline" arg) the BATCH pipeline's action-count invariance:
    // the self-contained form (span scan included — no cached artifact)
    // per SF dir, median-of-3 wall. Walls should move far less than the
    // 10× data steps — the four-actions-regardless-of-size design
    if (args.contains("pipeline")) {
      Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
        val raw = try Tables.documents(spark, s"${Harness.DataRoot}/$sf")
          catch { case _: Throwable => null }
        if (raw != null) {
          val c = ext.Curation.withCrawlCorpus(raw)
          val bench = ext.Dedup.spanTable(raw.filter(col("doc_id") % 97 === 0))
          val nDocs = c.count()
          val walls = Seq.fill(3)(Harness.timed(spark)(
            ext.Curation.crawlPipeline(c,
              Seq("ads.example.net", "site7.example.org").toDF("domain"),
              bench)).wall).sorted
          println(f"pipeline $sf%-8s docs=$nDocs%-7d " +
            f"median=${walls(1)}%.2f s  walls=[${walls.map(x => f"$x%.2f").mkString(" ")}]")
        }
      }
    }

    spark.stop()
  }
}
