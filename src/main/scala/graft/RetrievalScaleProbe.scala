package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Retrieval

/** Scale-evidence probe for the retrieval family (SCALE.md "Measured
  * evidence"): wall time of the one-shot BM25 pipeline and phrase search at
  * 1×/4×/16× corpus size. Each scaled copy gets a DISJOINT vocabulary
  * (every token suffixed with its copy id) — web-corpus growth is
  * Heap's-law growth (more data brings more vocabulary), so queries from
  * one copy must not match every other copy's docs; scaling by verbatim
  * replication on this ~31-word uniform-vocabulary test corpus would
  * instead measure the worst case where every query's candidate set is the
  * whole corpus (the same artifact BASELINE.md documents for the Jaccard
  * join). Query load scales WITH the corpus (the % 97 carve), so the
  * measured exponent covers the production situation — bigger corpus, more
  * queries — not a fixed probe set.
  */
object RetrievalScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val scaled = Harness.shiftedCopies(base, "doc_id" -> Harness.IdStride) {
      (c, df) => df.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1c$c"))
    }

    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    def r2(x: Double): Double = Harness.r2(x)

    // SKEW mode — the Zipf-head case the df ceiling exists for: every doc
    // (and therefore every query) carries a corpus-wide stopword, so the
    // uncapped probe joins each query against a corpus-sized posting list
    // while the capped probe drops that term after the df window.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("skew")) {
      Seq(1, 4, 16).foreach { times =>
        val corpus = Retrieval.withHotTermInjected(scaled(times))
          .localCheckpoint(true)
        try {
          val n = corpus.count()
          val bm0 = median3(Retrieval.bm25TopK(corpus))
          val bm1 = median3(Retrieval.bm25TopK(corpus, maxDfPpm = Retrieval.DfCapPpm))
          val ph0 = median3(Retrieval.phraseSearchTopDocs(corpus))
          val ph1 = median3(Retrieval.phraseSearch(corpus,
            Retrieval.phraseQueries(corpus), Retrieval.DfCapPpm))
          println(s"""{"probe":"retrieval_skew","scale":$times,"docs":$n,""" +
            s""""bm25_s":${r2(bm0)},"bm25_capped_s":${r2(bm1)},""" +
            s""""phrase_s":${r2(ph0)},"phrase_capped_s":${r2(ph1)}}""")
        } finally corpus.unpersist()
      }
      return
    }

    Seq(1, 4, 16).foreach { times =>
      val corpus = scaled(times).localCheckpoint(true)
      try {
        val n = corpus.count()
        val bm = median3(Retrieval.bm25TopK(corpus))
        val ph = median3(Retrieval.phraseSearchTopDocs(corpus))
        println(s"""{"probe":"retrieval","scale":$times,"docs":$n,""" +
          s""""bm25_s":${r2(bm)},"phrase_s":${r2(ph)}}""")
      } finally corpus.unpersist()
    }
  }
}
