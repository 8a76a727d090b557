package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index keyword retrieval (BM25) — the lexical-search half of a
  * training-data pipeline (eval-set retrieval, hard-negative mining for
  * embedding training, RAG-context lookup, corpus QA "which docs answer
  * this").
  *
  * Scoring is Robertson/Spärck-Jones BM25 (k1 = 1.2, b = 0.75) computed in
  * EXACT integer fixed point — the idf's (N - df + 0.5)/(df + 0.5) odds
  * ratio is taken as a rational in ppm instead of through `ln` (whose
  * last-bit rounding is libm-specific, so a float score could rank
  * differently across engines; the repo-wide determinism rule is ids +
  * ranks + exact ints, never raw doubles). `ln` is monotone in the odds
  * ratio, so dropping it reorders nothing for single-term queries and only
  * re-weights the rare-vs-common trade-off for multi-term sums — the
  * variant is deterministic everywhere (Spark's DECIMAL `div` ≡ DuckDB's
  * `//` on non-negative BIGINTs), which is what makes the output
  * hash-checkable.
  *
  * Index shape at 100 TB: postings are keyed by token — the classic
  * inverted index, bucketed by token hash on disk ([[buildBm25Index]]), so
  * a query's terms prune to their buckets and the probe never rescans the
  * corpus. The per-token skew story is the usual one: Zipfian head terms
  * make long posting lists, and the standard mitigations compose with this
  * layout — a df ceiling (`maxDfPpm`) drops stopword-grade terms whose idf
  * contribution is noise (the WAND/impact-ordered family goes further and
  * truncates lists by score bound), exactly like the LSH/IVF hot-bucket
  * caps elsewhere in this package. Overflow headroom: contrib =
  * idf_ppm · sat_bp ≤ (2N/3)·10⁶ · 22000 ≈ 1.5·10¹⁰·N, so BIGINT holds to
  * N ≈ 6·10⁸ docs per index shard; beyond that, drop idf to per-mille or
  * sum in DECIMAL(38,0).
  */
object Retrieval {

  /** BM25 constants, ×100 fixed point (k1 = 1.2, b = 0.75). Interpolated
    * into the DuckDB oracle from here so the two sides cannot diverge.
    */
  val K1x100 = 120
  val Bx100 = 75

  /** Default result depth and the query-derivation parameters shared with
    * the oracle: every 97th doc asks a query made of its tokens 3..6 (the
    * same `% 97` carve the decontamination family uses for its benchmark
    * half).
    */
  val TopK = 5
  val QueryEvery = 97
  val QueryTokFrom = 3
  val QueryTokLen = 4

  /** Df-ceiling OFF value: a term's df can never exceed the corpus doc
    * count, so a ceiling of 1 000 000 ppm keeps every posting list — the
    * default, which leaves the uncapped operators' answers untouched.
    */
  val DfCeilOff = 1000000

  /** The capped variants' ceiling (`ext_bm25_capped` / `ext_phrase_capped`):
    * 900 000 ppm — a term present in > 90% of documents is stopword-grade.
    * On the test corpus only the injected corpus-wide hot term crosses it
    * (the natural vocabulary sits near 78% df); on a real Zipfian corpus
    * this is the knob that keeps a stopword's corpus-sized posting list out
    * of the probe join. Interpolated into the DuckDB oracle from here.
    */
  val DfCapPpm = 900000

  /** Corpus with a synthetic corpus-wide stopword planted inside every
    * document's query window (tokens 3..6 feed [[bm25Queries]] /
    * [[phraseQueries]], so prepending four copies puts the hot term at
    * query positions 1–2): every query then carries a term whose posting
    * list is the whole corpus — the Zipf-head skew case the df ceiling
    * exists for, made reproducible on the uniform test vocabulary.
    */
  def withHotTermInjected(documents: DataFrame): DataFrame =
    documents.withColumn("text", concat(lit("xhot xhot xhot xhot "), col("text")))

  /** Deterministic query set derived from the corpus: query_id = doc_id,
    * terms = the doc's tokens at positions 3..6 (1-based), de-duplicated.
    * (On a Zipfian corpus self-retrieval would be the expected top hit; the
    * test corpus's ~31-word uniform vocabulary makes every term common, so
    * ranking is dominated by tf/dl — the spec pins ranking on a
    * hand-computed corpus instead.)
    */
  def bm25Queries(documents: DataFrame): DataFrame =
    documents
      .filter(col("doc_id") % QueryEvery === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), QueryTokFrom, QueryTokLen))
          .as("token"))
      .filter(col("token") =!= "")
      .distinct()

  /** The postings relation: one row per (token, doc_id) with term frequency
    * `tf` and doc length `dl` (non-empty tokens). ONE corpus scan and ONE
    * tf-agg exchange: dl is a per-doc scalar, so it is computed from the
    * token ARRAY before the explode — the former doc_id-window derivation
    * paid a full postings exchange just to re-discover a number the scan
    * already knew (3 exchanges → 2 with [[withBm25Weights]]' df window).
    * The tf aggregate deliberately KEEPS its (doc_id, token) keys: a
    * token-keyed repartition here would save the df window's exchange but
    * ships raw occurrence rows with no map-side partial aggregation and
    * lands every occurrence of a Zipf-head term in one partition —
    * measured as a net executor-time regression (r21), exactly the skew
    * §2.5 warns about. Everything here is per-doc knowledge — fully known the
    * moment a doc arrives — which is what makes the persisted index
    * APPEND-ONLY under corpus growth: df and the global stats are
    * deliberately NOT stored per row (df is derived from the posting lists
    * at search time, so it is exact under appends for free; the one-row
    * stats are additive batch deltas in a side table).
    */
  def bm25Postings(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        filter(TextAnalysis.tokens(col("text")), t => t =!= "").as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        explode(col("_toks")).as("token"))
      .groupBy("doc_id", "token", "dl").agg(count(lit(1)).as("tf"))
      .select("doc_id", "token", "tf", "dl")

  /** One-row additive stats delta for a doc batch: docs with ≥ 1 token and
    * their total token count. Summing deltas across batches reproduces the
    * whole-corpus totals exactly — integer sums are order-free — so the
    * avgdl of an incrementally grown index equals the one-shot avgdl.
    * Derived from a narrow re-scan (doc lengths only): the postings lineage
    * is about to shuffle, and a multi-consumer fork of it would either
    * recompute the heavier subtree or force a checkpoint.
    */
  def bm25StatsDelta(documents: DataFrame): DataFrame =
    documents
      .select(size(filter(TextAnalysis.tokens(col("text")), t => t =!= ""))
        .cast("long").as("dl0"))
      .filter(col("dl0") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).cast("long").as("total_tokens"))

  /** Attach the scorer's derived columns to a postings relation: df as a
    * token-partitioned window count — over the persisted index this is
    * EXCHANGE-FREE (the bucketed layout already hash-partitions by token,
    * and the bucket sort pre-orders it), over the one-shot lineage it is
    * the posting-list co-location shuffle the index build pays anyway —
    * and the global constants (`n_docs`, `avgdl_x100`) from a broadcast of
    * the one-row summed stats.
    *
    * `maxDfPpm` is the Zipf-head skew guard: posting rows whose term sits
    * in more than maxDfPpm·n_docs/10⁶ documents are DROPPED after the df
    * window — a stopword's corpus-sized posting list (the probe join's
    * straggler on a real web corpus, where "the" recruits every document
    * as a candidate for any query containing it) never reaches the probe,
    * and its idf contribution was noise anyway (idf → 0 as df → n_docs).
    * The cap rides the df value the scorer already computes — exchange-free
    * over the persisted index, zero extra passes — and df/dl/avgdl are
    * still computed over the FULL corpus first, so surviving terms score
    * exactly as they do uncapped. Default [[DfCeilOff]] keeps everything.
    */
  def withBm25Weights(postings: DataFrame, stats: DataFrame,
                      maxDfPpm: Int = DfCeilOff): DataFrame = {
    val summed = stats
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        expr("sum(total_tokens) * 100 div sum(n_docs)").as("avgdl_x100"))
    val weighted = postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")).cast("long"))
      .crossJoin(broadcast(summed))
    if (maxDfPpm >= DfCeilOff) weighted
    else weighted.filter(
      col("df") * lit(1000000L) <= lit(maxDfPpm.toLong) * col("n_docs"))
  }

  /** The exact fixed-point BM25 contribution of one (query term, doc)
    * posting row — requires columns tf, dl, df, n_docs, avgdl_x100.
    * All-integer: dl/avgdl in basis points, the saturation
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)) in basis points, the idf
    * odds ratio in ppm, contrib their product.
    */
  private def contribExpr: Column = {
    val dlrBp = s"(dl * 1000000) div avgdl_x100"
    val denom = s"tf * 10000 + $K1x100 * ((100 - $Bx100) + ($Bx100 * ($dlrBp)) div 10000)"
    val satBp = s"(tf * ${(100 + K1x100) * 1000000}) div ($denom)"
    val idfPpm = s"((2 * n_docs - 2 * df + 1) * 1000000) div (2 * df + 1)"
    expr(s"($idfPpm) * ($satBp)")
  }

  /** Score every (query, candidate) pair reachable through a shared term and
    * keep the top `k` docs per query. `postings` must carry the
    * [[withBm25Weights]] columns. The term join is keyed on token — against
    * the persisted index that is a pruned bucketed-scan join; the query
    * side is tiny and broadcasts. Per-query ranking is a window over
    * query_id, which plans as WindowGroupLimit: each partition keeps its
    * local top k before the query_id exchange.
    */
  def bm25Rank(postings: DataFrame, queries: DataFrame, k: Int = TopK,
               excludeSelf: Boolean = false): DataFrame = {
    val joined = postings.join(broadcast(queries), "token")
    val candidates =
      if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id")) else joined
    // ONE probe-side exchange: contrib rows are projected narrow and
    // hash-partitioned by query_id, so the (query, doc) sum AND the rank
    // window both ride it (query_id ⊆ {query_id, doc_id}). The former
    // shape exchanged on (query_id, doc_id) for the agg and AGAIN on
    // query_id for the window. The rows this one carries are bounded by
    // Σ df over the query's terms — at most phrase-length × corpus docs
    // per query, a bound that holds even UNCAPPED (bm25TopK runs with
    // DfCeilOff): a query containing a Zipf-head term ships up to that
    // term's full df into its query partition with no map-side partial
    // aggregation, which is the capped variants' motivation for the df
    // ceiling; the ceiling, where enabled, shrinks this frame further.
    val scored = candidates
      .select(col("query_id"), col("doc_id"), contribExpr.as("contrib"))
      .repartition(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).cast("long").as("score_fp"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_fp")
  }

  /** One-shot BM25 top-k: derive queries, build postings, rank. The oracle
    * query (`ext_bm25_topk`) runs exactly this; `ext_bm25_capped` runs it
    * with [[DfCapPpm]] over the hot-term-injected corpus.
    */
  def bm25TopK(documents: DataFrame, k: Int = TopK,
               maxDfPpm: Int = DfCeilOff): DataFrame =
    bm25Rank(
      withBm25Weights(bm25Postings(documents), bm25StatsDelta(documents), maxDfPpm),
      bm25Queries(documents), k)

  /** Persist the postings as a token-bucketed, token-sorted table — the
    * on-disk inverted index — plus the one-row stats delta in a plain
    * `<table>_stats` side table. Searches ([[searchBm25Index]]) then join
    * query terms against the bucketed scan: no corpus rescan, no
    * postings-side exchange (the bucket layout IS the token partitioning,
    * so even the df window rides it shuffle-free), index build cost
    * amortized over every query batch — the same build-once/probe-many
    * posture as [[Similarity.buildIvfIndex]]. The one table writer of the
    * family: [[buildBm25IndexGen]] writes each generation through it.
    */
  def buildBm25Index(documents: DataFrame, table: String, buckets: Int = 8): Unit = {
    graft.sources.Bucketing.writeBucketed(
      bm25Postings(documents), table, "token", buckets, sortCols = Seq("token"))
    graft.sources.Bucketing.dropWithLocation(documents.sparkSession, s"${table}_stats")
    bm25StatsDelta(documents).write.mode("overwrite")
      .format("parquet").saveAsTable(s"${table}_stats")
  }

  /** Apply one maintenance batch to the delta layer, EXACTLY-ONCE under
    * checkpoint replay: the batch's postings and its one stats row land
    * under their own `batch_id=` partition with dynamic partition
    * overwrite, so a redelivered batch overwrites its own rows instead of
    * double-appending — the same idempotence mechanism as
    * [[serveBm25Queries]]' answer partitions. A plain append into the
    * bucketed base table would be at-least-once (a crash between the
    * append and the checkpoint commit re-appends on restart, permanently
    * inflating df/n_docs/total_tokens for every later search), which is
    * why the maintenance loop never writes the base table directly.
    */
  def applyBm25Delta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    val b = graft.sources.Bucketing
    b.writeDeltaPartition(bm25Postings(batch), s"$deltaDir/postings", batchId)
    b.writeDeltaPartition(bm25StatsDelta(batch), s"$deltaDir/stats", batchId)
  }

  /** Streaming maintenance of a persisted inverted index, LSM-style: each
    * micro-batch lands in a batch_id-partitioned delta directory
    * ([[applyBm25Delta]] — replay-idempotent), searches read base ∪ delta
    * ([[searchBm25IndexWith]]), and [[compactBm25IndexGen]] periodically folds
    * the delta into the bucketed base. Batch-local tokenize/agg only; no
    * cross-batch state, and no correctness dependency on effectively-once
    * delivery — replayed batches overwrite their own partition.
    *
    * `autoCompactAt` (> 0) makes the loop SELF-COMPACTING exactly like
    * [[Dedup.maintainLshDedup]]'s option: after each batch's delta write,
    * [[compactBm25IfNeeded]] folds once the unfolded delta passes the
    * threshold, with the bucket count inherited from the current
    * generation (strictly — a hardcoded default would silently re-bucket
    * the index on the first auto-fold). Requires `table` (the
    * generation-view name the folds swap) and the [[buildBm25IndexGen]]
    * layout — the Gen compactor refuses plain tables. Default 0 = off,
    * `table` unused: compaction stays an external cadence decision and
    * the loop never touches the catalog. A threshold of 1 folds EVERY
    * batch, shrinking the one-generation GC grace for in-flight
    * base ∪ delta readers to a single micro-batch — size the threshold
    * so a full fold cycle outlasts the longest concurrent search.
    */
  def maintainBm25Index(stream: DataFrame, deltaDir: String, checkpointDir: String,
                        table: String = "", autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(autoCompactAt <= 0 || table.nonEmpty,
      "autoCompactAt needs the index's generation-view name to fold into")
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = applyBm25Delta(_, deltaDir, _),
      autoCompactAt = autoCompactAt,
      compact = (s, maxUnfolded) => {
        compactBm25IfNeeded(s, table, deltaDir, maxUnfolded); ()
      })
  }

  /** Ordered phrase queries: (query_id, idx, token) with idx the 0-based
    * offset of the token inside the phrase — same `% 97` / tokens-3..6
    * carve as [[bm25Queries]] but WITHOUT de-duplication (a phrase keeps
    * repeated tokens at their positions).
    */
  def phraseQueries(documents: DataFrame): DataFrame =
    documents
      .filter(col("doc_id") % QueryEvery === 0)
      .select(col("doc_id").as("query_id"),
        posexplode(slice(TextAnalysis.tokens(col("text")), QueryTokFrom, QueryTokLen)))
      .filter(col("col") =!= "")
      .select(col("query_id"), col("pos").cast("long").as("idx"),
        col("col").as("token"))

  /** The positional postings relation: one row per token OCCURRENCE —
    * (token, doc_id, pos), pos 0-based. The positional inverted index is
    * what phrase/proximity search needs beyond [[bm25Postings]]' bag-of-
    * words rows; it shares the bag index's layout story (bucket by token,
    * append-only: positions are per-doc facts).
    */
  def positionalPostings(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        // per-doc non-empty token count, free at scan time — carried so
        // [[bm25PostingsFrom]] never needs a doc-keyed window/exchange to
        // re-derive it (positions stay indices into the RAW array, as
        // before: the posexplode runs over _toks, the filter after)
        size(filter(col("_toks"), t => t =!= "")).cast("long").as("dl"),
        posexplode(col("_toks")))
      .filter(col("col") =!= "")
      .select(col("col").as("token"), col("doc_id"),
        col("pos").cast("long").as("pos"), col("dl"))

  /** [[bm25Postings]] derived from a MATERIALIZED positional stream instead
    * of a fresh corpus scan — tf is the per-(doc, token) occurrence count,
    * dl the usual doc window. The eval harness runs the bag and positional
    * retrievers over the same corpus, so it tokenizes ONCE and feeds both
    * from this (the sketch family's shared-token-stream discipline).
    */
  def bm25PostingsFrom(positional: DataFrame): DataFrame =
    positional
      .select("doc_id", "token", "dl")
      .groupBy("doc_id", "token", "dl").agg(count(lit(1)).as("tf"))
      .select("doc_id", "token", "tf", "dl")

  /** [[bm25StatsDelta]] from the positional stream: per-doc counts then the
    * one-row totals — no tokenize re-scan.
    */
  def bm25StatsFrom(positional: DataFrame): DataFrame =
    positional
      .groupBy("doc_id").agg(count(lit(1)).as("dl0"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).cast("long").as("total_tokens"))

  /** Exact phrase search: find every document position where the query
    * phrase occurs verbatim. The classic positional-index algorithm, fully
    * relational: each phrase term's occurrences re-base to `pos - idx`
    * (where would the phrase START if this occurrence is term idx), and a
    * base position hit by ALL phrase offsets is a match —
    * count(distinct idx) = phrase length per (query, doc, base). Output
    * (query_id, doc_id, n_matches, first_pos); every query matches at
    * least its own doc, so the result is never empty.
    *
    * Scale shape: the probe joins the (broadcast) phrase terms against the
    * positional lists keyed by token — only the phrase's tokens' lists are
    * touched (bucket-pruned against a persisted index) — then two
    * aggregations over match-scoped rows. Zipf-head phrase terms are the
    * skew (their occurrence lists are corpus-sized); positional indexes
    * deploy the same df-cap/stopword guard as the bag index, or
    * next-word/phrase indexes for known-hot bigrams (the Google n-gram
    * posture).
    */
  def phraseSearch(documents: DataFrame, queries: DataFrame,
                   maxDfPpm: Int = DfCeilOff): DataFrame =
    phraseSearchFrom(positionalPostings(documents), queries, maxDfPpm)

  /** [[phraseSearch]] over a materialized positional stream.
    *
    * `maxDfPpm` is the positional analog of the bag index's df ceiling,
    * with the classic stopword-as-wildcard semantics (the posture of
    * positional indexes that don't index stopwords): a phrase term whose
    * df exceeds maxDfPpm·n_docs/10⁶ is removed from the probe — its
    * corpus-sized occurrence list is never joined — and its position
    * becomes a don't-care: a document matches when every SURVIVING phrase
    * offset aligns at a common base. Queries whose every term is hot have
    * no anchor left and drop out. The hot set is derived from a narrow
    * (token, doc) pass whose output is term-count-sized and broadcasts;
    * against a persisted positional index the df column is precomputed at
    * build time and the pass disappears. Default [[DfCeilOff]] changes
    * nothing.
    */
  def phraseSearchFrom(positional: DataFrame, queries: DataFrame,
                       maxDfPpm: Int = DfCeilOff): DataFrame = {
    val probeQueries =
      if (maxDfPpm >= DfCeilOff) queries
      else {
        // the (token, doc) distinct keeps its own keys: its map-side
        // partial dedup collapses a hot term's occurrence rows BEFORE the
        // exchange (a token-keyed repartition here measured slower — it
        // shipped every raw occurrence of the injected stopword into one
        // partition)
        val perDoc = positional.select("token", "doc_id").distinct()
        val nDocs = perDoc.select("doc_id").distinct()
          .agg(count(lit(1)).cast("long").as("n_docs"))
        val hot = perDoc.groupBy("token")
          .agg(count(lit(1)).cast("long").as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") * lit(1000000L) > lit(maxDfPpm.toLong) * col("n_docs"))
          .select("token")
        queries.join(broadcast(hot), Seq("token"), "left_anti")
      }
    phraseProbe(positional, probeQueries)
  }

  private def phraseProbe(positional: DataFrame, queries: DataFrame): DataFrame = {
    val qlen = queries.groupBy("query_id").agg(count(lit(1)).as("qlen"))
    positional
      .join(broadcast(queries), "token")
      .select(col("query_id"), col("idx"), col("doc_id"),
        (col("pos") - col("idx")).as("base"))
      .filter(col("base") >= 0)
      // one probe-side exchange serves both aggregates and any downstream
      // per-query window (the bm25Rank discipline): match rows are
      // query-scoped, and query_id ⊆ both agg key sets
      .repartition(col("query_id"))
      .groupBy("query_id", "doc_id", "base")
      // count(1), NOT count(distinct idx): for a fixed (query, doc, base)
      // each phrase offset idx contributes at most one row (the occurrence
      // at base+idx either carries idx's token or generated no row), so the
      // two counts are equal — and the plain count skips the distinct
      // aggregate's Expand + extra exchange
      .agg(count(lit(1)).as("nidx"))
      .join(broadcast(qlen), "query_id")
      .filter(col("nidx") === col("qlen"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min(col("base")).cast("long").as("first_pos"))
  }

  /** [[phraseSearch]] with the corpus-derived query carve — the oracle
    * query (`ext_phrase_search`) runs exactly this.
    */
  def phraseSearchTopDocs(documents: DataFrame): DataFrame =
    phraseSearch(documents, phraseQueries(documents))

  /** RRF constant (the standard 60 from Cormack/Clarke/Büttcher) and the
    * per-list depth each retriever contributes to the fusion.
    */
  val RrfKConst = 60
  val RrfDepth = 10

  /** Hybrid retrieval: BM25 lexical ranks fused with embedding-cosine
    * semantic ranks by reciprocal-rank fusion — the standard RAG/search
    * two-tower composition (each retriever surfaces what the other is
    * blind to: exact term matches vs paraphrase). Per query doc (the `% 97`
    * carve, matched to its embedding by the aligned vec_id), each retriever
    * contributes its top-`depth` list with the query doc itself excluded,
    * and fused_score = Σ 1e6/(60 + rank) over the lists a doc appears in —
    * computed as exact integer floor division, so ranks and scores
    * hash-match across engines with no float fusion arithmetic.
    *
    * Scale shape: both lists are probe-scoped — Q×depth rows each — so the
    * fusion full-outer join and final window are O(Q·depth) regardless of
    * corpus size; the heavy work is the two retrievals themselves, each in
    * its own already-audited posture (inverted-index probe; brute cosine
    * here, swappable for any `ann_*` method since fusion only consumes
    * (query_id, doc_id, rank) lists).
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame, k: Int = TopK,
                depth: Int = RrfDepth): DataFrame =
    hybridRrfWithLex(
      lexRankOf(bm25Postings(documents), bm25StatsDelta(documents),
        documents, depth),
      embeddings, k, depth)

  /** [[hybridRrf]] with the lexical side fed from a MATERIALIZED
    * positional stream (the [[bm25PostingsFrom]] discipline the eval
    * harness uses): callers holding the per-corpus positional artifact
    * skip the two tokenize scans the direct form pays.
    */
  def hybridRrfFrom(positional: DataFrame, documents: DataFrame,
                    embeddings: DataFrame, k: Int = TopK,
                    depth: Int = RrfDepth): DataFrame =
    hybridRrfWithLex(
      lexRankOf(bm25PostingsFrom(positional), bm25StatsFrom(positional),
        documents, depth),
      embeddings, k, depth)

  /** The fusion's lexical contributor — one scaffold for both postings
    * sources, so the query carve / depth / excludeSelf choices cannot
    * drift between the direct and artifact-fed forms.
    */
  private def lexRankOf(postings: DataFrame, stats: DataFrame,
                        documents: DataFrame, depth: Int): DataFrame =
    bm25Rank(withBm25Weights(postings, stats), bm25Queries(documents),
      depth, excludeSelf = true)

  private def hybridRrfWithLex(lexRank: DataFrame, embeddings: DataFrame,
                               k: Int, depth: Int): DataFrame = {
    val lex = lexRank
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val sem = Similarity
      .bruteForceTopKFor(embeddings, col("vec_id") % QueryEvery === 0, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("sem_rank"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"1000000 div ($RrfKConst + lex_rank)"), lit(0L))
          + coalesce(expr(s"1000000 div ($RrfKConst + sem_rank)"), lit(0L)))
          .cast("long").as("score_fp"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_fp")
  }

  /** Hard-negative mining for embedding-model training (the DPR recipe):
    * per query, the documents a LEXICAL retriever ranks highly that the
    * embedding space does NOT consider neighbors — plausible-but-wrong
    * candidates, the contrastive examples that teach a dual encoder what
    * term overlap alone misses. lex top-`depth` (self excluded) anti-joined
    * against the semantic top-`depth`. Output keeps the lexical rank so
    * training can weight negatives by hardness.
    *
    * Scale shape: two probe-scoped lists and an O(Q·depth) anti-join —
    * same posture as the fusion operator; the retrievals dominate.
    */
  def hardNegatives(documents: DataFrame, embeddings: DataFrame,
                    depth: Int = RrfDepth): DataFrame = {
    val lex = bm25Rank(
      withBm25Weights(bm25Postings(documents), bm25StatsDelta(documents)),
      bm25Queries(documents), depth, excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val sem = Similarity
      .bruteForceTopKFor(embeddings, col("vec_id") % QueryEvery === 0, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "left_anti")
      .select("query_id", "lex_rank", "doc_id")
  }

  /** Retrieval-quality harness — the lexical counterpart of the ANN recall
    * harness: can each retriever FIND a known near-duplicate? The corpus is
    * the corpus plus a planted variant of each CARVE doc (first token
    * dropped, id + 1e6 — the dedup family's perturbation); each query's
    * target is its own variant, every original doc is a distractor, and
    * per method the harness reports exact hits@1, hits@k and MRR in ppm
    * (reciprocal ranks in integer 1e6//rank, missed targets contributing
    * 0, divided by the full query count) — measurement, like recall,
    * lives in-engine and under the oracle. bm25 ranks by fixed-point
    * score; phrase ranks by verbatim occurrence count. Both lists exclude
    * the query doc itself. Variants are planted only for the queries:
    * non-query variants would be distractors a corpus of N originals
    * already supplies, at double the scoring cost.
    *
    * Scale shape: the two retrievals dominate (each in its audited
    * posture); everything downstream of them is Q×k rows. Eval cost is
    * one production probe over N + Q docs — the price of a labeled eval.
    */
  def retrievalEval(documents: DataFrame, k: Int = RrfDepth): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val carve = documents.filter(col("doc_id") % QueryEvery === 0)
    val corpus = documents.select("doc_id", "text").unionByName(
      Dedup.withPerturbedCopies(carve).filter(col("doc_id") >= 1000000L))
    // both retrievers consume ONE materialized positional token stream —
    // tokenize+explode over the corpus is their shared dominant cost; the
    // stream's blocks are released in the finally below once the tiny
    // (one row per method) result has been eagerly materialized, so the
    // operator is self-cleaning as a library API too
    val pos = positionalPostings(corpus).localCheckpoint(true)
    try {
      // BOTH query carves derive from the checkpointed stream instead of
      // two more tokenize scans of the carve docs: positions are indices
      // into the RAW token array (empties dropped after posexplode), so
      // the slice(tokens, QueryTokFrom, QueryTokLen) carve both
      // [[bm25Queries]] and [[phraseQueries]] take is exactly the rows
      // with pos in [QueryTokFrom-1, QueryTokFrom+QueryTokLen-2], and the
      // phrase idx re-bases as pos - (QueryTokFrom-1). The planted
      // variants (doc_id = carve + 1e6) never reach the carve — 1e6 % 97
      // = 27 ≠ 0 — so a carve row at or above 1e6 is an INPUT doc inside
      // the variants' id space: the plan fails on it (raise_error, no
      // extra action) instead of quietly carving around it.
      val carvePos = pos.filter(col("doc_id") % QueryEvery === 0 &&
          col("pos").between(QueryTokFrom - 1, QueryTokFrom + QueryTokLen - 2))
        .withColumn("doc_id", when(col("doc_id") < 1000000L, col("doc_id"))
          .otherwise(raise_error(concat(lit("retrievalEval: doc_id "),
            col("doc_id").cast("string"),
            lit(" >= 1000000 collides with the perturbed-copy id space")))))
      val queries = carvePos
        .select(col("doc_id").as("query_id"), col("token")).distinct()
      val phraseQ = carvePos.select(col("doc_id").as("query_id"),
        (col("pos") - lit(QueryTokFrom - 1).cast("long")).as("idx"), col("token"))
      val qlen = phraseQ.groupBy("query_id").agg(count(lit(1)).as("qlen"))
      // FUSED probe: the bm25 contrib rows and the phrase base rows ride
      // ONE query_id exchange (the bm25Rank/phraseProbe discipline, taken
      // one step further): both per-method aggregation chains and the
      // per-method rank window key on supersets of {query_id}, so a
      // single repartition serves the whole tail — r21's shape paid the
      // probe exchange + window once PER METHOD plus a two-branch union
      // shuffle for the metric agg. Per-method arithmetic is unchanged:
      //  - bm25 rows carry base = NULL, v = contrib; the (method, query,
      //    doc, base) agg sums them to score_fp in one group per doc and
      //    the qlen filter passes them through untouched;
      //  - phrase rows carry v = 1 per (doc, base) occurrence-alignment;
      //    the same agg counts aligned offsets per base, the qlen filter
      //    keeps full-phrase bases, and the second agg counts them into
      //    n_matches (count(1) = count(distinct idx) — each offset
      //    contributes at most one row per (query, doc, base)).
      // excludeSelf moves BEFORE the aggregation on the phrase side —
      // dropping a doc's raw rows drops exactly its aggregated rows.
      val postings = withBm25Weights(bm25PostingsFrom(pos), bm25StatsFrom(pos))
      val lexCand = postings.join(broadcast(queries), "token")
        .filter(col("doc_id") =!= col("query_id"))
        .select(lit("bm25").as("method"), col("query_id"), col("doc_id"),
          lit(null).cast("long").as("base"), contribExpr.as("v"))
      val phCand = pos.join(broadcast(phraseQ), "token")
        .select(col("query_id"), col("doc_id"),
          (col("pos") - col("idx")).as("base"))
        .filter(col("base") >= 0 && col("doc_id") =!= col("query_id"))
        .select(lit("phrase").as("method"), col("query_id"), col("doc_id"),
          col("base"), lit(1L).as("v"))
      // every query_id in either branch has ≥1 phrase row (same carve,
      // same non-empty filter), so the qlen join is a safe inner join
      val perBase = lexCand.unionByName(phCand)
        .repartition(col("query_id"))
        .groupBy("method", "query_id", "doc_id", "base")
        .agg(sum(col("v")).cast("long").as("v"))
        .join(broadcast(qlen), "query_id")
        .filter(col("method") === "bm25" || col("v") === col("qlen"))
      val perDoc = perBase
        .groupBy("method", "query_id", "doc_id")
        .agg(count(lit(1)).cast("long").as("cnt"), max(col("v")).as("mv"))
        .select(col("method"), col("query_id"), col("doc_id"),
          when(col("method") === "bm25", col("mv")).otherwise(col("cnt"))
            .as("key"))
      val w = Window.partitionBy("method", "query_id")
        .orderBy(col("key").desc, col("doc_id").asc)
      val ranked = perDoc
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
      val nq = queries.select("query_id").distinct()
        .agg(count(lit(1)).cast("long").as("n_queries"))
      val found = ranked
        .filter(col("doc_id") === col("query_id") + lit(1000000L))
        .groupBy("method")
        .agg(
          sum(when(col("rank") === 1, 1L).otherwise(0L)).cast("long").as("hits_at1"),
          count(lit(1)).cast("long").as("hits_at_k"),
          sum(expr("1000000 div rank")).cast("long").as("rr_sum"))
      Seq("bm25", "phrase").toDF("method")
        .join(found, Seq("method"), "left")
        .crossJoin(broadcast(nq))
        .select(col("method"), col("n_queries"),
          coalesce(col("hits_at1"), lit(0L)).as("hits_at1"),
          coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
          coalesce(col("rr_sum"), lit(0L)).as("rr_sum"))
        .withColumn("mrr_ppm", expr("rr_sum div n_queries"))
        .select("method", "n_queries", "hits_at1", "hits_at_k", "mrr_ppm")
        .localCheckpoint(true)
    } finally pos.unpersist()
  }

  /** Streaming query serving — the other half of the index lifecycle
    * ([[maintainBm25Index]] grows the index; this answers from it): query
    * batches of (query_id, token) rows arrive as a stream, each micro-batch
    * searches the CURRENT persisted index, and answers land partitioned by
    * batch_id. Replay-idempotent the same way the dedup loops are: a
    * redelivered batch OVERWRITES its own `batch_id=` partition (dynamic
    * partition overwrite), so checkpoint replay re-serves identical rows
    * instead of duplicating them. Search is stateless per batch — the index
    * tables are the only cross-batch state — so this composes freely with
    * a concurrent maintenance loop: pass the SAME `deltaDir` the
    * maintenance loop writes and each batch searches base ∪ delta
    * ([[searchBm25IndexWith]]), so a document ingested mid-stream is
    * retrievable from the very next query batch, BEFORE any compaction has
    * folded it into the bucketed base (spec-asserted). With no `deltaDir`
    * the loop serves the compacted base alone.
    */
  def serveBm25Queries(queryStream: DataFrame, table: String,
                       checkpointDir: String, answersPath: String,
                       k: Int = TopK, deltaDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deltaDir
          .map(d => searchBm25IndexWith(batch.sparkSession, table, d, batch, k))
          .getOrElse(searchBm25Index(batch.sparkSession, table, batch, k))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(answersPath)
      }
      .start()

  /** Top-k retrieval over a persisted index. Output is identical to
    * [[bm25TopK]] when the index holds [[bm25Queries]]' corpus — however
    * it got there, one-shot build or a build plus any sequence of appends
    * (asserted by the equivalence specs); the plan touches only the
    * postings table.
    */
  def searchBm25Index(spark: SparkSession, table: String, queries: DataFrame,
                      k: Int = TopK, maxDfPpm: Int = DfCeilOff): DataFrame = {
    val phys = graft.sources.Bucketing.resolvePhysical(spark, table)
    bm25Rank(
      withBm25Weights(spark.table(phys),
        spark.table(statsSiblingOf(spark, phys, table)), maxDfPpm),
      queries, k)
  }

  /** The stats table matching an ALREADY-RESOLVED postings generation: for
    * a generation-swap layout this is the SAME generation's sibling (so
    * postings and stats can never come from different generations — the
    * postings-view swap is the only atomic step the layout needs); for a
    * plain table it is the ordinary `_stats` sibling. Takes the physical
    * name rather than resolving the view itself, so a reader resolves
    * ONCE and every read — postings, stats, watermark — comes off that
    * single resolution; a second resolution here would reopen the
    * mixed-generation window under a concurrent compaction swap.
    */
  private def statsSiblingOf(spark: SparkSession, phys: String,
                             table: String): String =
    if (phys != table && spark.catalog.tableExists(s"${phys}_stats"))
      s"${phys}_stats"
    else s"${table}_stats"

  /** A BM25 delta layer's `cols` (typed as its `base` layer types them)
    * plus `batch_id`.
    */
  private def readDelta(spark: SparkSession, path: String, base: DataFrame,
                        cols: Seq[String]): Option[DataFrame] = {
    val b = graft.sources.Bucketing
    b.readParquetIfExists(spark, path, b.deltaSchema(base, cols))
  }

  /** [[searchBm25Index]] over base + delta — the read side of the LSM
    * posture: answers reflect every compacted batch plus every
    * not-yet-compacted one. The df derivation is SPLIT per part rather
    * than windowed over a union (which would erase the base's bucketed
    * partitioning and re-shuffle the corpus-sized posting table on every
    * search): df(token) = own-part posting count + other-part posting
    * count, so each part computes its window over its OWN rows — the
    * base's rides the bucketed layout exchange-free, the delta's is
    * delta-sized — and takes the cross-part adjustment as a broadcast of
    * per-token counts ([[weightsWithDfAdjust]]). The delta's base-side
    * counts cost one extra bucketed-base SCAN (broadcast-semi to the
    * delta's tokens, grouped exchange-free on the bucket key) — a scan,
    * not a shuffle, which is the 100 TB difference. A doc's postings live
    * wholly in one part (folded XOR unfolded), so per-part scoring then
    * unions doc-level candidates under the unchanged broadcast query
    * join; compaction resets the probe to the plain base-only plan.
    *
    * The delta is filtered to batches ABOVE the resolved generation's
    * folded watermark (see [[sources.Bucketing.writeMeta]]): under a
    * concurrent [[compactBm25IndexGen]], a search that resolves the NEW
    * generation sees the folded batches drop out of the delta
    * automatically, so base ∪ delta never double-counts — and since the
    * GC of folded partitions is delayed one compaction cycle, a search
    * that resolved the OLD generation still finds every file it planned
    * against. Plain (non-generation) layouts have no watermark and read
    * the whole delta, unchanged.
    *
    * The generation is resolved ONCE and postings, stats AND watermark
    * all read off that single resolution — resolving per-read would let a
    * swap landing between two resolutions mix generations (old watermark
    * with new base double-counts just-folded batches; new stats against
    * old postings breaks the weights' n_docs).
    */
  def searchBm25IndexWith(spark: SparkSession, table: String, deltaDir: String,
                          queries: DataFrame, k: Int = TopK,
                          maxDfPpm: Int = DfCeilOff): DataFrame = {
    val b = graft.sources.Bucketing
    val phys = b.resolvePhysical(spark, table)
    val folded = b.manifestOf(spark, phys).foldedBatchMax
    def unfolded(path: String, base: DataFrame,
                 cols: Seq[String]): Option[DataFrame] =
      b.liveDelta(spark, path, base, cols, folded)
    val base = spark.table(phys)
    val statsBase = spark.table(statsSiblingOf(spark, phys, table))
    val stats = unfolded(s"$deltaDir/stats", statsBase,
        Seq("n_docs", "total_tokens"))
      .map(statsBase.unionByName(_)).getOrElse(statsBase)
    unfolded(s"$deltaDir/postings", base,
        Seq("doc_id", "token", "tf", "dl")) match {
      case None =>
        bm25Rank(withBm25Weights(base, stats, maxDfPpm), queries, k)
      case Some(dp) =>
        // split df derivation — see the scaladoc. Per-token posting counts
        // of each part feed the OTHER part's adjustment as broadcasts.
        val dfDelta = dp.groupBy("token")
          .agg(count(lit(1)).cast("long").as("df_extra"))
        val dfBaseForDelta = base.select("token")
          .join(broadcast(dfDelta.select("token")), "token")
          .groupBy("token").agg(count(lit(1)).cast("long").as("df_extra"))
        val weighted = weightsWithDfAdjust(base, stats, dfDelta, maxDfPpm)
          .unionByName(weightsWithDfAdjust(dp, stats, dfBaseForDelta, maxDfPpm))
        bm25Rank(weighted, queries, k)
    }
  }

  /** [[withBm25Weights]] with a per-token df adjustment: df = the window
    * count over THESE postings plus `dfAdjust`'s (token, df_extra) —
    * broadcast, absent tokens adjust by 0. The split-probe building block
    * of [[searchBm25IndexWith]]: each part's window runs over its own
    * rows only, so the bucketed base never re-shuffles for the union's
    * benefit, and surviving rows score bit-identically to the
    * union-windowed form (df, n_docs and avgdl are the same numbers by
    * construction).
    */
  private def weightsWithDfAdjust(postings: DataFrame, stats: DataFrame,
                                  dfAdjust: DataFrame,
                                  maxDfPpm: Int): DataFrame = {
    val summed = stats
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        expr("sum(total_tokens) * 100 div sum(n_docs)").as("avgdl_x100"))
    val weighted = postings
      .withColumn("df_own",
        count(lit(1)).over(Window.partitionBy("token")).cast("long"))
      .join(broadcast(dfAdjust), Seq("token"), "left")
      .withColumn("df", col("df_own") + coalesce(col("df_extra"), lit(0L)))
      .drop("df_own", "df_extra")
      .crossJoin(broadcast(summed))
    if (maxDfPpm >= DfCeilOff) weighted
    else weighted.filter(
      col("df") * lit(1000000L) <= lit(maxDfPpm.toLong) * col("n_docs"))
  }

  // ---- generation-swap index lifecycle ----
  // The family's one lifecycle: `table` and `${table}_stats` resolve
  // through [[searchBm25Index]] / [[searchBm25IndexWith]] like plain
  // tables, but the names are VIEWS over
  // `__g<N>` physical tables (see sources.Bucketing), so compaction can
  // run WHILE queries serve: generation N+1 is written from generation N
  // (nothing is overwritten in place), one CREATE OR REPLACE VIEW swaps,
  // and an in-flight search that already resolved generation N finishes
  // on its files — generation N-1 is the one retired. RecoverySpec runs a
  // searcher thread across the swap and asserts every answer it saw was a
  // valid pre- or post-compaction serving state, never an error.

  /** [[buildBm25Index]] in the generation-swap layout: physical postings
    * and stats land as a numbered generation, the logical names become
    * views. (The `_stats` view is convenience for inspection — searchers
    * resolve the stats sibling through the postings view's generation,
    * see [[statsSiblingOf]], so only the postings-view swap is
    * consistency-critical.)
    *
    * A fresh build writes no folded-batch manifest (absent ≡ −1). When
    * REBUILDING an index that has a live delta layer, QUIESCE the
    * maintenance loop, rebuild over the full current corpus, and pass
    * `deltaDir`: the rebuilt generation is stamped with the delta's
    * current highest batch_id, so the retained delta partitions —
    * whose documents the rebuilt base already contains — stay below the
    * watermark instead of double-counting
    * ([[sources.IndexLifecycle.buildGeneration]]'s `deltaPaths`).
    */
  def buildBm25IndexGen(documents: DataFrame, table: String,
                        buckets: Int = 8,
                        deltaDir: Option[String] = None): Unit = {
    val spark = documents.sparkSession
    // the shared skeleton (sources.IndexLifecycle) owns adoptable-check /
    // serving-generation capture / numbering / swap / retire. The stats
    // table is a SIBLING of the postings generation (`{phys}_stats`, not
    // a numbered generation of its own): its view repoints via extraSwaps
    // after the postings swap, and readers resolve it through the
    // postings generation anyway ([[statsSiblingOf]]) so the single
    // postings swap stays the consistency point; retirement drops the
    // sibling with its generation ([[sources.Bucketing.dropGeneration]]).
    graft.sources.IndexLifecycle.buildGeneration(spark, Seq(table),
      write = phys => buildBm25Index(documents, phys.head, buckets),
      deltaPaths = deltaDir.toSeq.flatMap(d =>
        Seq(s"$d/postings", s"$d/stats")),
      extraSwaps = phys =>
        Seq((s"${table}_stats", s"${phys.head}_stats")))
  }

  /** Generation-swap compaction: fold base ∪ (unfolded) delta into
    * generation N+1, record the folded watermark in N+1's manifest, swap
    * the postings view, GC only the delta batches the PREVIOUS generation
    * had already folded, retire generation N−1. Safe under concurrently
    * serving [[searchBm25Index]]/[[searchBm25IndexWith]]/
    * [[serveBm25Queries]]:
    *  - the source generation is never touched and survives one more
    *    cycle, so an in-flight reader keeps every file it planned against;
    *  - stats resolve through the postings view's generation
    *    ([[statsSiblingOf]]), so the single view swap can never be observed
    *    as new-postings-with-old-stats;
    *  - a base ∪ delta reader filters the delta by its resolved
    *    generation's watermark, so the window between the swap and any
    *    cleanup cannot double-count folded batches;
    *  - delta partitions are GC'd one compaction cycle late (watermark of
    *    generation N, not N+1), mirroring the generation retention.
    * A crash before the swap leaves an orphan generation that the next
    * run numbers past and later retires.
    */
  def compactBm25IndexGen(spark: SparkSession, table: String, deltaDir: String,
                          buckets: Int = 8): Unit = {
    val b = graft.sources.Bucketing
    b.requireSwapAdoptable(spark, table)
    val srcPhys = b.resolvePhysical(spark, table)
    // retirement anchored on the resolved source (see
    // Bucketing.generationNumberOf): orphan generations must not cost
    // the serving generation its reader grace
    val srcGen = b.generationNumberOf(table, srcPhys)
    val g = b.currentGeneration(spark, table) + 1
    val phys = b.generationName(table, g)
    val src = b.manifestOf(spark, srcPhys)
    val prevFolded = src.foldedBatchMax
    // one listing per delta dir: the folded rows AND the recorded watermark
    // both come from these frames' snapshotted file listings, so a
    // maintenance batch landing mid-compaction is either wholly folded and
    // covered by the watermark, or wholly left in the delta — never folded
    // yet above the watermark (which post-swap readers would double-count).
    // The watermark is the MIN across the dirs' maxima, and it only
    // advances when BOTH layers are visible: applyBm25Delta writes the two
    // layers per batch, so a listing that sees one layer and not the other
    // caught a batch mid-write — folding the visible half would hide the
    // other half below the watermark FOREVER once it lands (e.g. postings
    // folded without their n_docs/total_tokens row permanently
    // undercounting every later score). The skipped batch folds next cycle.
    val statsBase = spark.table(statsSiblingOf(spark, srcPhys, table))
    val deltaPost = readDelta(spark, s"$deltaDir/postings",
      spark.table(srcPhys), Seq("doc_id", "token", "tf", "dl"))
    val deltaStats = readDelta(spark, s"$deltaDir/stats", statsBase,
      Seq("n_docs", "total_tokens"))
    val maxes = Seq(deltaPost, deltaStats).map(_.map(b.maxBatchIdOf))
    val newFolded =
      if (maxes.forall(_.isDefined))
        math.max(prevFolded, maxes.flatten.min)
      else prevFolded
    if (newFolded == prevFolded) {
      // nothing qualifies to fold: skip the corpus-sized rewrite (a stuck
      // half-written batch must not make every cycle re-copy the index);
      // still GC partitions the current generation already folded and
      // retire the generation behind it (see Bucketing.compactLayerGen)
      b.gcDeltaPartitions(spark, s"$deltaDir/postings", prevFolded)
      b.gcDeltaPartitions(spark, s"$deltaDir/stats", prevFolded)
      b.retireBelow(spark, table, srcGen)
      return
    }
    def unfolded(df: Option[DataFrame]): Option[DataFrame] =
      df.map(_.filter(col("batch_id").cast("long") > prevFolded &&
          col("batch_id").cast("long") <= newFolded)
        .drop("batch_id"))
    val postings = unfolded(deltaPost)
      .map(spark.table(srcPhys).unionByName(_))
      .getOrElse(spark.table(srcPhys))
    val stats = unfolded(deltaStats)
      .map(statsBase.unionByName(_)).getOrElse(statsBase)
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("total_tokens")).cast("long").as("total_tokens"))
    b.writeBucketed(postings, phys, "token", buckets,
      sortCols = Seq("token"), compact = true)
    b.dropWithLocation(spark, s"${phys}_stats")
    stats.write.mode("overwrite").format("parquet").saveAsTable(s"${phys}_stats")
    b.writeMeta(spark, phys, src.copy(foldedBatchMax = newFolded))
    b.swapView(spark, table, phys)
    b.swapView(spark, s"${table}_stats", s"${phys}_stats")
    b.gcDeltaPartitions(spark, s"$deltaDir/postings", prevFolded)
    b.gcDeltaPartitions(spark, s"$deltaDir/stats", prevFolded)
    b.retireBelow(spark, table, srcGen)
  }

  /** The "when to compact" knob wired: fold only when the delta has
    * accumulated more than `maxUnfolded` batches above the current
    * generation's watermark, and report whether a fold ran. The pressure
    * reading ([[sources.Bucketing.unfoldedBatchCount]]) is one directory
    * listing plus the one-row manifest — no Spark job — so a maintenance
    * or serving loop can call this every batch. The trade it encodes:
    * while batches sit unfolded, every base ∪ delta search pays a
    * delta-sized overhead that is FLAT in base size (measured, SCALE.md
    * round 15), while each fold rewrites the base once — so the
    * threshold is (tolerable per-search overhead) ÷ (per-batch delta
    * growth), not anything that scales with the corpus. Safe to call
    * from one maintenance site while searches and the ingest loop run
    * (the generation-swap guarantees); like [[compactBm25IndexGen]], a
    * concurrent duplicate caller is the one thing to avoid — two folds
    * racing would write the same generation number.
    */
  def compactBm25IfNeeded(spark: SparkSession, table: String,
                          deltaDir: String, maxUnfolded: Int,
                          buckets: Int = -1): Boolean =
    graft.sources.IndexLifecycle.compactIfNeeded(spark, table,
      s"$deltaDir/postings", maxUnfolded, buckets,
      compactBm25IndexGen(spark, table, deltaDir, _))
}
