package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Curation, TextAnalysis}

/** Scale-evidence probe for the round-8 text/curation operators (SCALE.md
  * "Measured evidence"): wall-clock for the chunker, the BPE apply step,
  * and the mixing schedule at 1×, 10× and 100× corpus size. All three
  * claim linear shapes (narrow; one doc-keyed window shuffle; one
  * source-keyed window + broadcast dim) — the probe measures the actual
  * exponent. Copies carry a per-copy token prefix so corpus-level
  * statistics shift rather than replicate (and per-copy doc_ids stay
  * distinct); the 100× leg builds its input as a 100-way unionByName
  * reduce, localCheckpointed before timing so union construction is not
  * measured.
  */
object TextScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val scaled = Harness.shiftedCopies(base, "doc_id" -> Harness.IdStride) {
      (c, df) => df.withColumn("text", concat(lit(s"c$c "), col("text")))
    }
    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall

    // optional section filter: `textops` / `substr` / `skew` as args run
    // only those blocks (a re-measurement never re-pays the others)
    val only = args.toSet
    def want(s: String) = only.isEmpty || only.contains(s)

    // warmup
    if (want("textops")) Harness.noop(Curation.chunkDocuments(base))

    Seq(1, 10, 100).filter(_ => want("textops")).foreach { times =>
      val docs = scaled(times).localCheckpoint(true)
      val n = docs.count()
      val chunk = median3(Curation.chunkDocuments(docs))
      val bpe = median3(TextAnalysis.bpeApplyMerge(docs, "the", "data"))
      val mix = median3(Curation.mixSchedule(docs))
      // round-12 kernels: both claim linear map-only shapes (one kernel
      // call per doc, no shuffle before the result sink)
      val cls = median3(TextAnalysis.qualityClassifier(docs))
      val win = median3(TextAnalysis.winnowing(docs))
      val quota = median3(Curation.quotaSample(docs))
      println(f"""{"probe":"textops","scale":$times,"n_docs":$n,""" +
        f""""chunk_s":$chunk%.2f,"bpe_apply_s":$bpe%.2f,"mix_s":$mix%.2f,""" +
        f""""classifier_s":$cls%.2f,"winnow_s":$win%.2f,"quota_s":$quota%.2f}""")
      docs.unpersist(blocking = true)
    }

    // round-18: cross-doc substring pairs (Dedup.substrDups). A linear
    // ladder needs copies whose runs stay WITHIN a copy — the plain
    // prefix-scaled corpus above would share almost every 8-gram across
    // copies of the same doc and grow the pair output quadratically in
    // copies, measuring the corpus construction rather than the operator.
    // Interleaving a copy-marker token between every token keeps every
    // 8-gram copy-local while the (d, d+1M) perturbed-pair structure
    // replicates per copy: output rows and work both scale linearly.
    val substrScaled = Harness.shiftedCopies(base.select("doc_id", "text"),
      "doc_id" -> Harness.IdStride) { (c, df) =>
      graft.ext.Dedup.withPerturbedCopies(
        df.withColumn("text", regexp_replace(col("text"), " ", s" m$c ")))
    }
    // the span table is persisted ONCE per rung and both consumers read
    // the *From variants — the production shape (SparkEntry shares one
    // TrainedStore artifact across the three span queries); per-call
    // spanTable checkpoints would re-run the identical tokenize scan 8×
    // per rung and measure that instead of the operators
    Seq(1, 4, 16).filter(_ => want("substr")).foreach { times =>
      val docs = substrScaled(times).localCheckpoint(true)
      val spans = graft.ext.Dedup.spanTable(docs).localCheckpoint(true)
      val rows = graft.ext.Dedup.substrDupsFrom(spans).count()
      val t = median3(graft.ext.Dedup.substrDupsFrom(spans))
      // round-19: the suppression APPLY step over the same corpus — the
      // run evidence above consumed as cuts; n_cut proves the cut volume
      // replicates per copy (linear) while the time tracks the same
      // anchor-join + one corpus-sized application join
      val cut = graft.ext.Dedup.substrApplyFrom(docs, spans)
        .agg(sum("n_cut_tokens")).head.getLong(0)
      val ta = median3(graft.ext.Dedup.substrApplyFrom(docs, spans))
      // decontamination leg: benchmark = copy-0 originals on the % 97
      // carve (CONSTANT as the train side grows — the production shape:
      // a fixed eval suite vs a growing crawl); contaminated set is the
      // constant copy-0 perturbed twins, so time isolates the train-side
      // probe cost
      val isBench = (col("doc_id") % 97 === 0) && (col("doc_id") < 1000000L)
      def decont() = graft.ext.Dedup.substrDecontaminateFrom(
        spans.filter(!isBench), spans.filter(isBench))
      val nFlag = decont().count()
      val td = median3(decont())
      println(f"""{"probe":"substr_dups","scale":$times,""" +
        f""""pair_rows":$rows,"substr_s":$t%.2f,""" +
        f""""apply_cut_tokens":$cut,"apply_s":$ta%.2f,""" +
        f""""decont_flagged":$nFlag,"decont_s":$td%.2f}""")
      docs.unpersist(blocking = true)
      spans.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    // round-19: within-doc positional skew. 16 docs (exactly the
    // hot-anchor admission limit, so the DOC cap cannot mask the effect)
    // each repeat ONE 8-gram `reps` times behind doc-unique fillers:
    // every pair of them shares that anchor at reps × reps position
    // combinations, so the uncapped candidate set is C(16,2)·reps² rows
    // while the keep-first-8 position cap bounds it at C(16,2)·64 —
    // the fan-out the cap exists to cut, measured head to head. The
    // metric is sum(n_runs) — the total maximal-run count, which IS the
    // surviving candidate volume (pair-row counts are C(16,2) under both
    // caps and cannot show the fan-out).
    val g8 = (1 to 8).map(i => s"g$i").mkString(" ")
    def skewDocs(reps: Int): DataFrame =
      spark.range(16).select(
        (col("id") + 900000000L).as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, $reps), " +
          s"j -> concat('$g8 u', id, '_', j)))").as("text"))
    def totalRuns(df: DataFrame): Long =
      df.agg(sum("n_runs")).head.getLong(0)
    Seq(100, 300).filter(_ => want("skew")).foreach { reps =>
      val docs = skewDocs(reps).localCheckpoint(true)
      val capRuns = totalRuns(graft.ext.Dedup.substrDups(docs))
      val capT = median3(graft.ext.Dedup.substrDups(docs))
      val unRuns = totalRuns(
        graft.ext.Dedup.substrDups(docs, maxDocPositions = Int.MaxValue))
      val unT = median3(
        graft.ext.Dedup.substrDups(docs, maxDocPositions = Int.MaxValue))
      println(f"""{"probe":"substr_skew","reps":$reps,""" +
        f""""capped_runs":$capRuns,"capped_s":$capT%.2f,""" +
        f""""uncapped_runs":$unRuns,"uncapped_s":$unT%.2f}""")
      docs.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
