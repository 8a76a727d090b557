package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Fuzzy, Retrieval}
import graft.operators.Stats

/** Scaling rung for the exec-rich rows (VERDICT r21 #7): the sf0.1 suite
  * is launch-floor-bound — every row ≥ 8 ds ran as fast at 8 cores as at
  * 32 — so wall totals there cannot measure parallel efficiency. This
  * probe times ext_retrieval_eval, ext_fuzzy_incremental2,
  * ext_crawl_pipeline and ext_rfm on a synthetic 10× corpus (shifted
  * copies with per-copy vowel rotation so vocabulary, users and span
  * families actually grow — a constant-scaled copy would fake uniformity)
  * at the session's core count. Run twice (SPARK_GRAFT_CPUS=32 and 8);
  * the c8/c32 wall ratio at 10× is the scaling evidence SCALE.md records.
  * Artifact-backed operators (fuzzy index, crawl anchors/spans) build
  * their artifacts UNTIMED first, mirroring the bench's median rep, which
  * reads per-corpus artifacts built on rep 1.
  */
object ScalingRungProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    import Harness.noop
    def median3(tag: String, scale: Int)(mk: => DataFrame): Unit = {
      // clearCache before each rep, but no persistent-RDD sweep: the
      // tier's scaled input is a localCheckpoint whose blocks must survive
      // all three reps
      val runs = Seq.fill(3) { spark.catalog.clearCache(); Harness.timed(spark)(mk) }
      val walls = runs.map(_.wall).sorted
      println(f"""{"probe":"$tag","scale":$scale,"cpus":$cpus,"wall_med":${Harness.median(runs).wall}%.2f,"walls":[${walls.map(w => f"$w%.2f").mkString(",")}]}""")
    }

    // 10x documents: copy i shifts doc_id by i*100_000 (stays < 1e6 so the
    // +1e6 perturbed-variant convention still has headroom) and rotates
    // vowels so each copy contributes fresh vocabulary / span families.
    val rot = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "bcdfg", "cdfgb", "dfgbc", "fgbcd", "gbcdf")
    // (rot(0) is the identity: copy 0 is the base corpus)
    lazy val docsScaled = Harness.shiftedCopies(Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism), "doc_id" -> 100000L) {
      (i, df) => df.withColumn("text",
        translate(col("text"), "aeiou", rot(i % rot.length)))
    }
    // 10x events: copy i shifts user_id and event_id; ts unchanged.
    lazy val eventsScaled = Harness.shiftedCopies(Tables.events(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism),
      "event_id" -> Harness.IdStride, "user_id" -> 100000L)()

    val tiers = Seq(1, 10)
    val which =
      if (args.nonEmpty) args.toSet
      else Set("rfm", "retrieval_eval", "fuzzy_inc2", "crawl_pipeline")

    if (which("rfm")) tiers.foreach { t =>
      val ev = eventsScaled(t).localCheckpoint(true)
      noop(Stats.rfm(ev)) // warm
      median3("rfm", t)(Stats.rfm(ev))
    }
    if (which("retrieval_eval")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      noop(Retrieval.retrievalEval(d)) // warm
      median3("retrieval_eval", t)(Retrieval.retrievalEval(d))
    }
    if (which("fuzzy_inc2")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      val name = s"graft_fuzzy2_rung_$t"
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_fuzzy2_rung_$t").toString
      // untimed build + one live delta batch — mirrors the bench wiring,
      // whose median rep probes an already-built index
      Fuzzy.buildFuzzyIndexGen(d.filter(col("doc_id") % 6 === 0), name,
        buckets = 32, maxEdits = 2)
      Fuzzy.appendFuzzyBatch(d.filter(col("doc_id") % 6 === 3), dir, 1L,
        maxEdits = 2)
      noop(Fuzzy.fuzzyAgainstIndexWith(spark, Fuzzy.typoQueries2(d),
        name, Some(dir), maxEdits = 2)) // warm
      median3("fuzzy_inc2_probe", t)(
        Fuzzy.fuzzyAgainstIndexWith(spark, Fuzzy.typoQueries2(d),
          name, Some(dir), maxEdits = 2))
    }
    if (which("crawl_pipeline")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      val crawl = Curation.withCrawlCorpus(d).localCheckpoint(true)
      // untimed artifacts, as the bench's cached per-corpus frames
      val anch = Dedup.spanTable(crawl, Dedup.SpanN)
        .select(col("doc_id"), col("h")).distinct().localCheckpoint(true)
      val spans = Dedup.spanTable(Dedup.withPerturbedCopies(d))
        .localCheckpoint(true)
      val block = Seq("ads.example.net", "site7.example.org",
        "never.example.io").toDF("domain")
      def run() = Curation.crawlPipelineFrom(crawl, block,
        spans.filter((col("doc_id") % 97 === 0) && (col("doc_id") < 1000000L)),
        anch)
      noop(run()) // warm
      median3("crawl_pipeline", t)(run())
    }
    spark.stop()
  }
}
