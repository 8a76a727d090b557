package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Retrieval

/** BM25 inverted-index retrieval: ranking semantics on a hand-built corpus,
  * one-shot vs persisted-index equivalence, and the probe plan shape.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** doc_id 0 is the query doc (0 % 97 == 0): its tokens 3..6 are
    * "rare alpha beta gamma". Filler docs use vocabulary disjoint from the
    * query so they are never candidates.
    */
  private def corpus: DataFrame = Seq(
    (0L, "x x rare alpha beta gamma"),
    // tf winner: alpha three times, short doc
    (10L, "alpha alpha alpha pad pad pad"),
    // same length as 10 but tf 1 -> must rank below 10
    (11L, "alpha pad pad pad pad pad"),
    // no query term -> never retrieved
    (12L, "pad pad pad pad pad pad"),
    // tf 3 like doc 10 but much longer -> dl normalization ranks it below 10
    (13L, ("alpha alpha alpha " + Seq.fill(30)("pad").mkString(" "))),
    // fillers so df(alpha) is properly below n_docs
    (14L, "pad pad filler filler pad pad"),
    (15L, "filler filler filler pad pad pad"))
    .toDF("doc_id", "text")
    .withColumn("lang", lit("en")).withColumn("source", lit("t"))
    .withColumn("n_chars", length(col("text")).cast("long"))

  test("bm25: tf raises, dl normalizes, non-matching docs never surface") {
    val out = Retrieval.bm25TopK(corpus, k = 6)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.toSeq == Seq(0L))
    val ranked = out.map(_._3)
    // doc 12/14/15 share no query term: excluded
    assert(!ranked.contains(12L) && !ranked.contains(14L) && !ranked.contains(15L))
    val rankOf = out.map(t => t._3 -> t._2).toMap
    // the query doc holds the rare terms (df=1) -> top hit here
    assert(rankOf(0L) == 1L, out.mkString(", "))
    // tf 3 beats tf 1 at equal dl
    assert(rankOf(10L) < rankOf(11L), out.mkString(", "))
    // equal tf, 6x the length: dl normalization demotes doc 13
    assert(rankOf(10L) < rankOf(13L), out.mkString(", "))
    // scores strictly ordered with rank (ties broken by doc_id are absent here)
    val scores = out.map(_._4)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("bm25: saturation keeps tf gains monotone but bounded") {
    // tf 1 vs 2 vs 8 at fixed dl: scores strictly increase, but the 2->8
    // jump gains less than 4x the 1->2 jump (k1 saturation)
    val docs = Seq(
      (0L, "f f f kw f f"), // query doc: tokens 3..6 = "kw","f","f" -> {kw, f}
      (10L, "kw " + Seq.fill(9)("z").mkString(" ")),
      (11L, "kw kw " + Seq.fill(8)("z").mkString(" ")),
      (12L, "kw kw kw kw kw kw kw kw z z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val postings =
      Retrieval.withBm25Weights(Retrieval.bm25Postings(docs), Retrieval.bm25StatsDelta(docs))
    val q = Seq((0L, "kw")).toDF("query_id", "token")
    val s = Retrieval.bm25Rank(postings, q, k = 4)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(s(10L) < s(11L) && s(11L) < s(12L), s.toString)
    assert(s(12L) - s(11L) < 4 * (s(11L) - s(10L)), s.toString)
  }

  test("bm25: persisted index serves identical answers to the one-shot plan") {
    val docs = Tables.documents(spark, sfDir)
    val oneShot = Retrieval.bm25TopK(docs).orderBy("query_id", "rank").collect()
    Retrieval.buildBm25Index(docs, "graft_bm25_spec")
    val served = Retrieval
      .searchBm25Index(spark, "graft_bm25_spec", Retrieval.bm25Queries(docs))
      .orderBy("query_id", "rank").collect()
    assert(oneShot.nonEmpty)
    assert(oneShot.toSeq == served.toSeq)
  }

  test("hybrid rrf: both-list docs dominate, truncation drops deep ranks, self excluded") {
    // doc 0 queries with terms {alpha, beta, gamma, tail}; 2D rotations
    // embedded in 64 dims give a fully controlled cosine order
    def emb(theta: Double): Array[Float] = {
      val a = Array.fill(64)(0f)
      a(0) = math.cos(theta).toFloat; a(1) = math.sin(theta).toFloat; a
    }
    val texts = Seq(
      0L -> "pad pad alpha beta gamma tail",       // query doc
      1L -> "alpha beta gamma pad pad pad",        // lex rank 1, sem rank 15
      2L -> "zzz yyy xxx www vvv uuu",             // no term overlap, sem rank 1
      3L -> "alpha beta pad pad pad pad")          // lex rank 2, sem rank 2
    val fillers = (4L to 15L).map(i => i -> s"m$i m$i m$i m$i m$i m$i")
    val docs = (texts ++ fillers).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val thetas = Map(0L -> 0.0, 1L -> 2.6, 2L -> 0.1, 3L -> 0.45) ++
      (4L to 15L).map(i => i -> (1.0 + i * 0.04)).toMap
    val embs = thetas.toSeq.sortBy(_._1)
      .map { case (i, t) => (i, emb(t)) }.toDF("vec_id", "embedding")

    val out = Retrieval.hybridRrf(docs, embs)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == Retrieval.TopK)
    assert(out.forall(_._1 == 0L))
    // the query doc never retrieves itself (both lists exclude self)
    assert(!out.exists(_._3 == 0L))
    // doc 3 is in BOTH lists at rank 2 (2 x 1e6//62 = 32258): it must beat
    // every single-list doc, whose ceiling is one 1e6//61 = 16393
    assert(out(0)._3 == 3L && out(0)._4 == 32258L, out.mkString(", "))
    // lex-rank-1 doc 1 and sem-rank-1 doc 2 tie at 16393; doc_id breaks it
    assert(out(1)._3 == 1L && out(2)._3 == 2L, out.mkString(", "))
    assert(out(1)._4 == 16393L && out(2)._4 == 16393L)
    // doc 1's semantic rank is 15 — below RrfDepth, so its score carries NO
    // semantic contribution (truncation is per-list, not global)
    assert(out(1)._4 == 1000000L / (Retrieval.RrfKConst + 1))

    // hard negatives on the same fixture: the lexical list is {1, 3}, the
    // semantic top-10 holds 3 but not 1 -> doc 1 is the one hard negative
    // (lexically plausible, semantically distant — the DPR training pair)
    val hn = Retrieval.hardNegatives(docs, embs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hn.toSeq == Seq((0L, 1L, 1L)), hn.mkString(", "))

    // the artifact-fed form the driver's query path runs (lexical side
    // through bm25PostingsFrom/bm25StatsFrom over a materialized
    // positional stream) is row-identical to the direct form
    val positional = Retrieval.positionalPostings(docs).localCheckpoint(true)
    val viaArtifact = Retrieval.hybridRrfFrom(positional, docs, embs)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaArtifact.toSeq == out.toSeq, viaArtifact.mkString(", "))
    // same equivalence for the phrase query path
    val direct = Retrieval.phraseSearchTopDocs(docs)
      .orderBy("query_id", "doc_id").collect().map(_.toSeq)
    val fed = Retrieval.phraseSearchFrom(positional,
        Retrieval.phraseQueries(docs))
      .orderBy("query_id", "doc_id").collect().map(_.toSeq)
    assert(fed.toSeq == direct.toSeq && direct.nonEmpty)
  }

  test("bm25 index grows by appends: incremental equals one-shot, restart-safe") {
    val docs = Tables.documents(spark, sfDir)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val oneShot = Retrieval.bm25TopK(docs).orderBy("query_id", "rank").collect()

    // streaming path with a mid-stream restart: tranche 2 lands while the
    // maintainer is down; the restarted query applies it exactly once,
    // into the batch_id-partitioned delta layer
    val root = managedTempDir("bm25maint")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    Retrieval.buildBm25IndexGen(half1.limit(0), "graft_bm25_stream")
    val schema = docs.schema
    def start() = Retrieval.maintainBm25Index(
      spark.readStream.schema(schema).parquet(srcDir), deltaDir, s"$root/ckpt")
    half1.write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    half2.write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val streamed = Retrieval
      .searchBm25IndexWith(spark, "graft_bm25_stream", deltaDir,
        Retrieval.bm25Queries(docs))
      .orderBy("query_id", "rank").collect()
    assert(streamed.toSeq == oneShot.toSeq)

    // crash-replay idempotence: redeliver half2's batch (id 1 — the
    // restarted query's first batch) as foreachBatch would after a crash
    // between the delta write and the checkpoint commit. The partition
    // overwrite makes it a no-op: stats totals and answers are unchanged
    // (an at-least-once append would inflate df/n_docs/total_tokens here)
    val statsBefore = spark.read.parquet(s"$deltaDir/stats")
      .agg(sum("n_docs"), sum("total_tokens")).collect()(0)
    Retrieval.applyBm25Delta(half2, deltaDir, 1L)
    val statsAfter = spark.read.parquet(s"$deltaDir/stats")
      .agg(sum("n_docs"), sum("total_tokens")).collect()(0)
    assert(statsAfter == statsBefore)
    val replayed = Retrieval
      .searchBm25IndexWith(spark, "graft_bm25_stream", deltaDir,
        Retrieval.bm25Queries(docs))
      .orderBy("query_id", "rank").collect()
    assert(replayed.toSeq == oneShot.toSeq)

    // generation-swap compaction folds the delta into generation 2: stats
    // fold to one row, every answer and the bucketed layout survive, and
    // the delta-aware search filters the folded batches by the new
    // generation's watermark (partitions are retained one cycle for
    // in-flight readers — no double count)
    Retrieval.compactBm25IndexGen(spark, "graft_bm25_stream", deltaDir)
    assert(spark.table("graft_bm25_stream_stats").count() == 1L)
    val compacted = Retrieval
      .searchBm25Index(spark, "graft_bm25_stream", Retrieval.bm25Queries(docs))
      .orderBy("query_id", "rank")
    assert(compacted.queryExecution.executedPlan.toString.contains("Bucketed: true"))
    assert(compacted.collect().toSeq == oneShot.toSeq)
    val afterCompact = Retrieval
      .searchBm25IndexWith(spark, "graft_bm25_stream", deltaDir,
        Retrieval.bm25Queries(docs))
      .orderBy("query_id", "rank").collect()
    assert(afterCompact.toSeq == oneShot.toSeq)
  }

  test("phrase search: repeated-token phrases, overlapping matches, exact positions") {
    // query doc 0's phrase is its tokens 3..6 = "a b a b" — repeated tokens
    // exercise the count(distinct idx) coverage check (a doc holding only
    // "a b" must NOT match even though every phrase TOKEN occurs)
    val docs = Seq(
      (0L, "pad pad a b a b"),
      (10L, "a b a b a b"),   // overlapping occurrences at base 0 and 2
      (11L, "a b x a b"),     // all tokens present, no verbatim occurrence
      (12L, "pad pad pad pad"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Retrieval.phraseSearchTopDocs(docs)
      .orderBy("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 1L, 2L),   // self-match at its own phrase position
      (0L, 10L, 2L, 0L))) // both overlapping starts count
  }

  test("retrieval eval: planted variants found, decoys demote, exact mrr") {
    // distinctive vocabulary: both retrievers should pin query 0's variant
    // (doc 1000000 = same text minus leading token) at rank 1
    val docs = Seq(
      (0L, "u0 u1 alpha beta gamma delta"),
      (10L, "f f f f f f"),
      (11L, "g g g g g g"),
      (12L, "h h h h h h"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Retrieval.retrievalEval(docs)
      .orderBy("method").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // one query (doc 0); its variant "u1 alpha beta gamma delta" holds the
    // phrase (tokens 3..6 of the original) verbatim and all bm25 terms
    assert(out.toSeq == Seq(
      ("bm25", 1L, 1L, 1L, 1000000L),
      ("phrase", 1L, 1L, 1L, 1000000L)))

    // a decoy that repeats the phrase twice outranks the variant on BOTH
    // sides (phrase: n_matches 2 > 1; bm25: tf 2 beats tf 1 through the
    // fixed-point arithmetic at these lengths), so the target lands rank 2
    // on each — rr 500000 (variants are planted for CARVE docs only, so
    // the decoy itself has no competing variant)
    val decoy = Seq(
      (0L, "u0 u1 alpha beta gamma delta"),
      (10L, "alpha beta gamma delta alpha beta gamma delta"),
      (11L, "f f f f f f"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val d = Retrieval.retrievalEval(decoy)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(d("phrase") == ((0L, 500000L)), d.toString)
    assert(d("bm25") == ((0L, 500000L)), d.toString)
  }

  test("bm25 df ceiling: stopword posting list leaves the probe, survivors score unchanged") {
    // every doc carries "stopx" (df = n_docs = 1e6 ppm > DfCapPpm); docs 11
    // and 12 share ONLY the stopword with the query — uncapped they are
    // candidates through its corpus-sized posting list, capped they cannot
    // be recruited at all
    val docs = Seq(
      (0L, "x x kw stopx fil1 fil2"), // query terms: kw stopx fil1 fil2
      (10L, "kw stopx z z z z"),
      (11L, "stopx z z z z z"),
      (12L, "stopx y y y y y"),
      (13L, "fil1 stopx w w w w"),
      (14L, "stopx v v v v v"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def weighted(cap: Int) = Retrieval.withBm25Weights(
      Retrieval.bm25Postings(docs), Retrieval.bm25StatsDelta(docs), cap)
    val q = Retrieval.bm25Queries(docs)
    def candidates(cap: Int) = weighted(cap).join(broadcast(q), "token").count()
    // probe candidate volume drops: the stopword recruited every doc once
    assert(candidates(Retrieval.DfCeilOff) - candidates(Retrieval.DfCapPpm) == 6L)
    def topk(cap: Int) = Retrieval.bm25TopK(docs, k = 10, maxDfPpm = cap)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val unc = topk(Retrieval.DfCeilOff)
    val cap = topk(Retrieval.DfCapPpm)
    // stopword-only docs are retrievable uncapped, gone under the cap
    assert(unc.contains(11L) && unc.contains(12L) && unc.contains(14L))
    assert(!cap.contains(11L) && !cap.contains(12L) && !cap.contains(14L))
    // survivors score EXACTLY as uncapped minus the stopword contribution:
    // docs 10 and 11 hold one stopx each at equal dl, so doc 11's whole
    // uncapped score IS doc 10's stopword term — exact integer identity
    assert(cap(10L) == unc(10L) - unc(11L), (cap(10L), unc(10L), unc(11L)).toString)
  }

  test("retrieval eval: pos-derived query carve equals the slice carve on degenerate docs") {
    // r22 derives BOTH query carves from the checkpointed positional
    // stream (pos-range filter) instead of re-tokenizing; this pins the
    // equivalence on the degenerate shapes: a carve doc with tokens only
    // PARTIALLY covering slots 3..6 (3-token doc → one query term), an
    // empty-text carve doc (contributes NO query), and a non-carve doc.
    val docs = Seq(
      (0L, "a b c"), // carve; slice(toks,3,4) = ["c"] → 1 query term
      (97L, ""), // carve; tokens("") = [""] → no query rows
      (194L, "u0 u1 t3 t4 t5 t6 tail"), // carve; 4 query terms
      (5L, "x y z w v u")) // not a carve doc
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // the reference carve, computed by the original slice formulas
    val refQ = Retrieval.bm25Queries(docs)
      .as[(Long, String)].collect().toSet
    assert(refQ == Set((0L, "c"), (194L, "t3"), (194L, "t4"),
      (194L, "t5"), (194L, "t6")))
    // n_queries in the harness output must equal the reference carve's
    // distinct query docs (2 — the empty-text carve doc contributes none),
    // and both methods must find the planted variants of both real queries
    val out = Retrieval.retrievalEval(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("bm25")._1 == 2L, out.toString) // n_queries
    assert(out("phrase")._1 == 2L, out.toString)
    // doc 0's variant is "b c" (first token dropped): holds the 1-term
    // phrase ["c"] and the bm25 term; doc 194's variant holds all four —
    // hits_at_k = 2 per method
    assert(out("bm25")._2 == 2L, out.toString)
    assert(out("phrase")._2 == 2L, out.toString)
  }

  test("retrieval eval: a carve doc inside the perturbed-copy id space fails the plan") {
    // 1000070 = 97 × 10310: a carve id at or above the 1e6 variant offset
    // used to drop out of the carve silently
    val docs = Seq((194L, "u0 u1 t3 t4 t5 t6 tail"),
        (1000070L, "v0 v1 v2 v3 v4 v5 v6"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val e = intercept[Exception](Retrieval.retrievalEval(docs).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString
    assert(msgs.contains("doc_id 1000070 >= 1000000"), msgs)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("phrase df ceiling: hot term becomes a don't-care position") {
    // phrase = tokens 3..6 of doc 0 = "a stopx b c"; stopx is in every doc
    val docs = Seq(
      (0L, "p p a stopx b c"),
      (10L, "a q b c stopx z"), // a@0 b@2 c@3 align at base 0; stopx elsewhere
      (11L, "a stopx b c z z"), // verbatim occurrence
      (12L, "stopx z a b c z"), // a@2 b@3 c@4: no common base even as wildcard
      (13L, "w w w stopx w w"), // fillers: keep a/b/c df below the ceiling
      (14L, "stopx v v v v v"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def run(cap: Int) = Retrieval
      .phraseSearch(docs, Retrieval.phraseQueries(docs), cap)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // uncapped: only the exact occurrences (self + doc 11)
    assert(run(Retrieval.DfCeilOff) == Seq((0L, 1L, 2L), (11L, 1L, 0L)))
    // capped: stopx's position is a wildcard — doc 10 now matches at base 0,
    // doc 12 still cannot (its surviving offsets never share a base)
    assert(run(Retrieval.DfCapPpm) ==
      Seq((0L, 1L, 2L), (10L, 1L, 0L), (11L, 1L, 0L)))
  }

  test("bm25 serving loop: mid-stream delta docs retrievable before compaction") {
    // base index on the initial corpus; a maintenance loop ingests a NEW
    // doc carrying a novel term; the serving loop composed with the same
    // deltaDir must retrieve it from the very next query batch — before
    // any compaction folds the delta into the bucketed base
    val base = Seq(
      (1L, "alpha beta gamma delta eps zeta"),
      (2L, "beta beta gamma pad pad pad"))
      .toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    Retrieval.buildBm25IndexGen(base, "graft_bm25_delta_serve")
    val root = managedTempDir("bm25deltaserve")
    val docSrc = s"$root/docsrc"; new java.io.File(docSrc).mkdirs()
    val qSrc = s"$root/qsrc"; new java.io.File(qSrc).mkdirs()
    val deltaDir = s"$root/delta"
    val maint = Retrieval.maintainBm25Index(
      spark.readStream.schema(base.schema).parquet(docSrc),
      deltaDir, s"$root/mckpt")
    val queries = Seq((900L, "newterm"), (901L, "beta")).toDF("query_id", "token")
    val serve = Retrieval.serveBm25Queries(
      spark.readStream.schema(queries.schema).parquet(qSrc),
      "graft_bm25_delta_serve", s"$root/sckpt", s"$root/answers",
      deltaDir = Some(deltaDir))
    try {
      newDoc.write.mode("append").parquet(docSrc)
      maint.processAllAvailable()
      queries.write.mode("append").parquet(qSrc)
      serve.processAllAvailable()
    } finally { maint.stop(); serve.stop() }
    val answers = spark.read.parquet(s"$root/answers")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // the delta-only doc answers its novel-term query...
    assert(answers.contains((900L, 50L)), answers.toString)
    // ...and base-resident docs still answer theirs (base ∪ delta, not delta)
    assert(answers.contains((901L, 2L)), answers.toString)
    // compaction then folds the delta; the plain base-only search agrees
    Retrieval.compactBm25IndexGen(spark, "graft_bm25_delta_serve", deltaDir)
    val after = Retrieval.searchBm25Index(spark, "graft_bm25_delta_serve",
      Seq((900L, "newterm")).toDF("query_id", "token"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(after.contains((900L, 50L)), after.toString)
  }

  test("bm25 serving loop: query batches answered from the live index across restarts") {
    val docs = Tables.documents(spark, sfDir)
    Retrieval.buildBm25Index(docs, "graft_bm25_serve")
    val q1 = Retrieval.bm25Queries(docs)
    // batch 2 re-asks the same terms under new query ids: answers must be
    // the same lists relabeled (serving is deterministic and stateless)
    val q2 = q1.select((col("query_id") + 1000L).as("query_id"), col("token"))
    val root = managedTempDir("bm25serve")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    def start() = Retrieval.serveBm25Queries(
      spark.readStream.schema(q1.schema).parquet(srcDir), "graft_bm25_serve",
      s"$root/ckpt", s"$root/answers")
    q1.write.mode("append").parquet(srcDir)
    val s1 = start(); s1.processAllAvailable(); s1.stop()
    q2.write.mode("append").parquet(srcDir)
    val s2 = start(); s2.processAllAvailable(); s2.stop()

    val answers = spark.read.parquet(s"$root/answers")
    val batchExpected = Retrieval
      .searchBm25Index(spark, "graft_bm25_serve", q1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got1 = answers.filter(col("query_id") < 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got2 = answers.filter(col("query_id") >= 1000L)
      .collect().map(r => (r.getLong(0) - 1000L, r.getLong(1), r.getLong(2))).toSet
    assert(batchExpected.nonEmpty)
    assert(got1 == batchExpected)
    // the restarted stream served batch 2 once, with identical lists
    assert(got2 == batchExpected)
    assert(answers.count() == 2L * batchExpected.size)
  }

  test("bm25 serving loop: generation swap between query batches, zero errors, identical answers") {
    // the serving loop (base ∪ delta) composed with compactBm25IndexGen —
    // the swap fires between two micro-batches of a LIVE streaming query:
    // batch 2 must re-answer identically off the folded generation, with
    // no error and no restart (RecoverySpec covers a searcher THREAD
    // across the swap; this covers the streaming serving loop itself)
    val base = Seq(
      (1L, "alpha beta gamma delta eps zeta"),
      (2L, "beta beta gamma pad pad pad"))
      .toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    val table = "graft_bm25_swap_serve"
    Retrieval.buildBm25IndexGen(base, table)
    val root = managedTempDir("bm25swapserve")
    val qSrc = s"$root/qsrc"; new java.io.File(qSrc).mkdirs()
    val deltaDir = s"$root/delta"
    Retrieval.applyBm25Delta(newDoc, deltaDir, 0L)
    val q1 = Seq((900L, "newterm"), (901L, "beta")).toDF("query_id", "token")
    val q2 = q1.select((col("query_id") + 1000L).as("query_id"), col("token"))
    val serve = Retrieval.serveBm25Queries(
      spark.readStream.schema(q1.schema).parquet(qSrc), table,
      s"$root/sckpt", s"$root/answers", deltaDir = Some(deltaDir))
    try {
      q1.write.mode("append").parquet(qSrc)
      serve.processAllAvailable()
      // compaction folds the delta into generation 2 and swaps WHILE the
      // serving query stays up
      Retrieval.compactBm25IndexGen(spark, table, deltaDir)
      q2.write.mode("append").parquet(qSrc)
      serve.processAllAvailable()
      assert(serve.exception.isEmpty,
        s"serving query errored across the swap: ${serve.exception}")
    } finally serve.stop()
    val answers = spark.read.parquet(s"$root/answers")
    val got1 = answers.filter(col("query_id") < 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got2 = answers.filter(col("query_id") >= 1000L)
      .collect().map(r => (r.getLong(0) - 1000L, r.getLong(1), r.getLong(2))).toSet
    // pre-swap batch answered base ∪ delta (the delta-only doc included);
    // post-swap batch must be set-identical off the folded base — the
    // watermark excludes the retained folded partition, no double count
    assert(got1.exists(_._1 == 900L))
    assert(got2 == got1, s"post-swap answers diverged: $got2 vs $got1")
  }

  test("degenerate corpora flow through every retrieval operator") {
    // no doc_id divisible by 97 -> zero queries; plus empty/short texts
    val noQueries = Seq(
      (1L, ""), (2L, "solo"), (3L, "two tokens"), (5L, "a b c d e f"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(Retrieval.bm25TopK(noQueries).count() == 0L)
    assert(Retrieval.phraseSearchTopDocs(noQueries).count() == 0L)
    assert(Retrieval.hardNegatives(noQueries,
      Seq((1L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")).count() == 0L)

    // carve doc present but too short to yield terms (2 tokens < position 3)
    val shortQuery = Seq((0L, "only two"), (1L, "a b c d e f"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(Retrieval.bm25TopK(shortQuery).count() == 0L)
    assert(Retrieval.phraseSearchTopDocs(shortQuery).count() == 0L)

    // 3-token carve doc: slice yields exactly one term and retrieval works
    val oneTerm = Seq((0L, "a b kw"), (1L, "kw kw kw"), (2L, "z z z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Retrieval.bm25TopK(oneTerm).collect()
    assert(r.map(_.getLong(2)).toSet == Set(0L, 1L))
  }

  test("bm25 base+delta probe plan: split df keeps the bucketed base unshuffled") {
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    val newDoc = Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
    Retrieval.buildBm25IndexGen(base, "graft_bm25_splitplan")
    val root = managedTempDir("bm25splitplan")
    val deltaDir = s"$root/delta"
    Retrieval.applyBm25Delta(newDoc, deltaDir, 0L)
    val queries = Seq((900L, "newterm"), (901L, "beta")).toDF("query_id", "token")
    val probe = Retrieval.searchBm25IndexWith(
      spark, "graft_bm25_splitplan", deltaDir, queries)
    val p = probe.queryExecution.executedPlan.toString
    // the physical base appears twice — the weighted scan and the
    // df-for-delta counting scan — and EVERY base scan rides the bucketed
    // layout (the union-windowed form read it once but re-shuffled it)
    val baseScans = p.split("\n").filter(l =>
      l.contains("FileScan") && l.contains("graft_bm25_splitplan__g1["))
    assert(baseScans.length == 2, p)
    assert(baseScans.forall(_.contains("Bucketed: true")), p)
    // exactly four hashpartitioning exchanges, all probe/delta-sized:
    // the delta's own df window, the delta df-count feeding each
    // broadcast adjustment (2), and ONE query_id exchange serving both
    // the candidate (query, doc) groupBy and the rank window (r21: the
    // probe repartitions by query_id before the agg, so the window rides
    // the same partitioning — the former shape paid a separate
    // (query, doc) exchange). The union-windowed form added a FIFTH
    // carrying base + delta — the corpus-sized one this plan exists to
    // avoid.
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 4, p)
    // the token-keyed exchanges all hang off delta scans, never the base
    assert("delta/postings".r.findAllIn(p).length >= 2, p)
    // and answers are unchanged (delta doc retrievable)
    assert(probe.collect().map(_.getLong(2)).toSet == Set(50L, 2L, 1L))
  }

  test("compactBm25IfNeeded: pressure reading gates the fold") {
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    val table = "graft_bm25_pressure"
    Retrieval.buildBm25IndexGen(base, table)
    val root = managedTempDir("bm25pressure")
    val deltaDir = s"$root/delta"
    (0 until 3).foreach { i =>
      Retrieval.applyBm25Delta(
        Seq((50L + i, s"newterm$i alpha pad pad pad pad")).toDF("doc_id", "text"),
        deltaDir, i.toLong)
    }
    assert(graft.sources.Bucketing.unfoldedBatchCount(
      spark, table, s"$deltaDir/postings") == 3)
    // under the threshold: no fold, pressure unchanged
    assert(!Retrieval.compactBm25IfNeeded(spark, table, deltaDir, maxUnfolded = 5))
    assert(graft.sources.Bucketing.unfoldedBatchCount(
      spark, table, s"$deltaDir/postings") == 3)
    // over the threshold: folds, pressure drops to zero, answers intact
    val queries = Seq((900L, "newterm1"), (901L, "beta")).toDF("query_id", "token")
    val before = Retrieval.searchBm25IndexWith(spark, table, deltaDir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(Retrieval.compactBm25IfNeeded(spark, table, deltaDir, maxUnfolded = 2))
    assert(graft.sources.Bucketing.unfoldedBatchCount(
      spark, table, s"$deltaDir/postings") == 0)
    assert(Retrieval.searchBm25Index(spark, table, queries)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet == before)
    // nothing left to fold: the gate holds shut again
    assert(!Retrieval.compactBm25IfNeeded(spark, table, deltaDir, maxUnfolded = 0))
  }

  test("self-compacting bm25 loop: folds mid-stream at the pressure threshold") {
    import org.apache.spark.sql.types._
    val root = managedTempDir("bm25auto")
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val deltaDir = s"$root/delta"
    val table = "bm25_auto_test"
    val base = Seq(
      (1L, "alpha beta gamma delta pad pad"),
      (2L, "beta beta gamma pad pad pad")).toDF("doc_id", "text")
    Retrieval.buildBm25IndexGen(base, table, buckets = 4)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Seq((50L, "newterm alpha pad pad pad pad")).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    // threshold 1: fold after every batch — the fully automated posture
    val q = Retrieval.maintainBm25Index(
      spark.readStream.schema(schema).parquet(srcDir), deltaDir, s"$root/ckpt",
      table = table, autoCompactAt = 1)
    try {
      q.processAllAvailable()
      // batch 0 was folded by the loop itself: no unfolded pressure,
      // watermark advanced, stats folded to one row — and the fold
      // PRESERVED the build's bucket count (4, not a hardcoded default)
      assert(graft.sources.Bucketing.unfoldedBatchCount(
        spark, table, s"$deltaDir/postings") == 0)
      assert(graft.sources.Bucketing.foldedBatchMax(spark, table) >= 0L)
      assert(graft.sources.Bucketing.bucketCountOf(spark, table, -1) == 4)
      assert(spark.table(s"${table}_stats").count() == 1L)
      Seq((51L, "other beta pad pad pad pad")).toDF("doc_id", "text")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    // both folds landed: the BASE alone answers like a from-scratch build
    // over the full corpus (df/avgdl re-derived across the fold boundary)
    val full = base.union(Seq(
      (50L, "newterm alpha pad pad pad pad"),
      (51L, "other beta pad pad pad pad")).toDF("doc_id", "text"))
    Retrieval.buildBm25IndexGen(full, "bm25_auto_ref", buckets = 4)
    val queries = Seq((900L, "newterm"), (901L, "beta")).toDF("query_id", "token")
    val got = Retrieval.searchBm25Index(spark, table, queries)
      .orderBy("query_id", "rank").collect()
    val ref = Retrieval.searchBm25Index(spark, "bm25_auto_ref", queries)
      .orderBy("query_id", "rank").collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("bm25 probe plan: no corpus rescan, broadcast query join, top-k group limit") {
    val docs = Tables.documents(spark, sfDir)
    Retrieval.buildBm25Index(docs, "graft_bm25_spec_plan")
    val probe = Retrieval.searchBm25Index(spark, "graft_bm25_spec_plan",
      Retrieval.bm25Queries(docs))
    val p = probe.queryExecution.executedPlan.toString
    // the index side is the only big input: the documents parquet appears
    // once (the tiny query-derivation subtree), never as a postings rebuild
    // (a rebuild would scan it a second time and re-run two windows)
    assert("documents\\.parquet".r.findAllIn(p).length == 1, p)
    // the query side broadcasts into the postings scan
    assert(p.contains("BroadcastHashJoin"), p)
    // per-query top-k plans as WindowGroupLimit (partial before the shuffle)
    assert(p.contains("WindowGroupLimit"), p)
    // the df derivation rides the bucketed layout: the weighted-postings
    // subtree's only exchange is the one-row stats aggregate
    // (SinglePartition) — the token window itself must not repartition
    val wp = Retrieval.withBm25Weights(
      spark.table("graft_bm25_spec_plan"),
      spark.table("graft_bm25_spec_plan_stats"))
      .queryExecution.executedPlan.toString
    assert(wp.contains("Bucketed: true"), wp)
    assert(!wp.contains("Exchange hashpartitioning"), wp)
  }

  test("generation view keeps the bucketed probe exchange-free; helpers resolve generations") {
    val b = graft.sources.Bucketing
    val docs = Tables.documents(spark, sfDir)
    Retrieval.buildBm25IndexGen(docs, "graft_bm25_genplan")
    // the logical name is a VIEW — the swap layout must not cost the
    // 100 TB probe its exchange-free df window: the bucketed distribution
    // propagates through the view's projection
    val wp = Retrieval.withBm25Weights(
      spark.table("graft_bm25_genplan"),
      spark.table("graft_bm25_genplan_stats"))
      .queryExecution.executedPlan.toString
    assert(wp.contains("Bucketed: true"), wp)
    assert(!wp.contains("Exchange hashpartitioning"), wp)
    // helper contracts: views resolve to their generation, plain tables to
    // themselves; plain layouts have no watermark
    assert(b.resolvePhysical(spark, "graft_bm25_genplan") == "graft_bm25_genplan__g1")
    assert(b.foldedBatchMax(spark, "graft_bm25_genplan") == -1L)
    Retrieval.buildBm25Index(docs, "graft_bm25_plainplan")
    assert(b.resolvePhysical(spark, "graft_bm25_plainplan") == "graft_bm25_plainplan")
    assert(b.foldedBatchMax(spark, "graft_bm25_plainplan") == -1L)
    // and the generation search answers match the plain layout exactly
    val q = Retrieval.bm25Queries(docs)
    val genAns = Retrieval.searchBm25Index(spark, "graft_bm25_genplan", q)
      .collect().toSeq
    val plainAns = Retrieval.searchBm25Index(spark, "graft_bm25_plainplan", q)
      .collect().toSeq
    assert(genAns.nonEmpty && genAns == plainAns)
  }
}
