package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Retrieval}

/** Scale-evidence probe for the SPLIT base+delta probes (SCALE.md /
  * PLANS.md round-15): base corpus grown 1×/4×/16×, delta held CONSTANT,
  * probe query set held CONSTANT. The split formulation's claim is that a
  * live delta costs the probe delta-sized work on top of the base-only
  * plan — the retired union-then-probe formulation re-shuffled the whole
  * base whenever any delta batch was unfolded, so its delta overhead
  * would GROW with the base. Measured: `with_delta − base_only` per scale
  * for the BM25 search and the LSH candidate probe; flat overhead across
  * the ladder is the claim confirmed.
  */
object LsmProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val scaledDocs = Harness.shiftedCopies(docs, "doc_id" -> Harness.IdStride)()
    // constant delta: 50 docs with SYNTHESIZED vocabulary (unique tokens,
    // absent from every base copy) — base-text twins would be dropped by
    // the LSH dedup loop as duplicates and leave the delta EMPTY, turning
    // the with-delta measurement into a base-only one
    val deltaDocs = spark.range(50).select(
      (col("id") + 900000000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(t =>
        concat(lit(s"zz${t}x"), col("id"))): _*).as("text"))
    // constant probe load: the 1× corpus's query carve / a fixed doc slice
    val queries = Retrieval.bm25Queries(docs).localCheckpoint(true)
    val probeDocs = docs.limit(100)
      .select((col("doc_id") + 950000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)

    def r2(x: Double) = Harness.r2(x)
    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    val tmp = java.nio.file.Files.createTempDirectory("lsmprobe").toString

    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    scales.foreach { times =>
      val corpus = scaledDocs(times).localCheckpoint(true)
      val n = corpus.count()
      // ---- BM25 ----
      val bt = s"lsm_bm25_x$times"
      val bd = s"$tmp/bm25_x$times"
      Retrieval.buildBm25IndexGen(corpus, bt)
      Retrieval.applyBm25Delta(deltaDocs, bd, 0L)
      val bmDeltaRows = spark.read.parquet(s"$bd/postings").count()
      // warmup BOTH shapes once (the with-delta plan has its own codegen),
      // then median-of-3
      Harness.noop(Retrieval.searchBm25Index(spark, bt, queries))
      Harness.noop(Retrieval.searchBm25IndexWith(spark, bt, bd, queries))
      val tb = median3(Retrieval.searchBm25Index(spark, bt, queries))
      val tw = median3(
        Retrieval.searchBm25IndexWith(spark, bt, bd, queries))
      println(s"""{"probe":"lsm_bm25","scale":$times,"n":$n,""" +
        s""""delta_rows":$bmDeltaRows,"base_s":${r2(tb)},""" +
        s""""with_delta_s":${r2(tw)},"delta_overhead_s":${r2(tw - tb)}}""")
      // ---- LSH ----
      val lt = s"lsm_lsh_x$times"
      val ld = s"$tmp/lsh_x$times"
      Dedup.buildLshIndexGen(corpus, lt)
      Dedup.processLshBatch(deltaDocs, 0L, lt, ld, s"$tmp/surv_x$times")
      // the delta must actually HOLD the survivors' bands — an
      // all-duplicates delta batch would leave it empty and fake a zero
      // overhead (the with-delta plan degenerates to base-only)
      val lshDeltaRows = spark.read.parquet(s"$ld/bands").count()
      require(lshDeltaRows > 0, "LSH delta is empty — measurement vacuous")
      Harness.noop(Dedup.dedupAgainstIndex(spark, probeDocs, lt))
      Harness.noop(Dedup.dedupAgainstIndexWith(spark, probeDocs, lt, ld))
      val lb = median3(Dedup.dedupAgainstIndex(spark, probeDocs, lt))
      val lw = median3(
        Dedup.dedupAgainstIndexWith(spark, probeDocs, lt, ld))
      println(s"""{"probe":"lsm_lsh","scale":$times,"n":$n,""" +
        s""""delta_rows":$lshDeltaRows,"base_s":${r2(lb)},""" +
        s""""with_delta_s":${r2(lw)},"delta_overhead_s":${r2(lw - lb)}}""")
      corpus.unpersist()
    }

    // ---- Jaccard: grow the DICTIONARY, not just the corpus ----
    // The split vocab LEFT join's claim (late round 15): a live delta no
    // longer drags the dictionary through an exchange per probe — the
    // union form's with-delta overhead would grow with DISTINCT-TOKEN
    // count. The testdata corpus has a ~31-word vocabulary, so this
    // ladder synthesizes one: doc id i carries tokens t(10i)..t(10i+9) —
    // the dictionary is EXACTLY 10·docs = 20,000×scale distinct tokens
    // over 2,000×scale docs with no cross-doc sharing, so candidate
    // pairs arise only from the probe's deliberate overlap and runtime
    // is the scans/joins, not verification. The probe set (100 docs over
    // the x1 token space, present at every scale) and the 50-doc
    // new-token delta are CONSTANT.
    def vocabDocs(nDocs: Int, offset: Long): DataFrame =
      spark.range(nDocs).select(
        (col("id") + offset).as("doc_id"),
        concat_ws(" ", (0 until 10).map(j =>
          concat(lit("t"), col("id") * 10 + j)): _*).as("text"))
    val jacProbe = vocabDocs(100, 970000000L).localCheckpoint(true)
    scales.foreach { times =>
      val jt = s"lsm_jac_x$times"
      val jd = s"$tmp/jac_x$times"
      val corpus = vocabDocs(2000 * times, 0L)
      Dedup.buildJaccardIndexGen(corpus, jt)
      Dedup.appendJaccardDelta(spark, deltaDocs, jt, jd, 0L, 850000L)
      val vocabDeltaRows = spark.read.parquet(s"$jd/vocab").count()
      require(vocabDeltaRows > 0, "jaccard vocab delta empty — vacuous")
      Harness.noop(Dedup.jaccardAgainstIndex(spark, jacProbe, jt))
      Harness.noop(Dedup.jaccardAgainstIndexWith(spark, jacProbe, jt, jd))
      val jb = median3(Dedup.jaccardAgainstIndex(spark, jacProbe, jt))
      val jw = median3(
        Dedup.jaccardAgainstIndexWith(spark, jacProbe, jt, jd))
      println(s"""{"probe":"lsm_jaccard_vocab","scale":$times,""" +
        s""""vocab":${20000 * times},"delta_vocab_rows":$vocabDeltaRows,""" +
        s""""base_s":${r2(jb)},"with_delta_s":${r2(jw)},""" +
        s""""delta_overhead_s":${r2(jw - jb)}}""")
    }
    spark.stop()
  }
}
