package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard (embedding near-dup lives in Similarity).
  *
  * Scale design:
  *  - Exact dedup is one hash-aggregate on a 60-bit content hash — the
  *    shuffle carries (hash, min_id), not documents.
  *  - Near-dup NEVER does O(n²): MinHash signatures are computed per-doc with
  *    higher-order functions (no explode — one row in, one row out), then LSH
  *    banding turns candidate generation into an equi-join on (band, key),
  *    which Spark executes as a shuffled hash join whose cost is bounded by
  *    bucket sizes, not n².
  *  - All hashes derive from md5 hex (Exact.md5Hash60) so the DuckDB oracle
  *    reproduces signatures exactly.
  */
object Dedup {

  // ---- exact dedup ----

  /** Per-doc verdict: content hash of normalized text, the canonical doc to
    * keep for the hash group (min doc_id), and a duplicate flag.
    */
  def exact(documents: DataFrame): DataFrame = {
    val hashed = documents.select(
      col("doc_id"),
      Exact.md5Hash60(TextAnalysis.normalized(col("text"))).as("content_hash"))
    val groups = hashed.groupBy("content_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("group_size"))
    hashed.join(groups, Seq("content_hash"))
      .withColumn("is_duplicate", col("doc_id") =!= col("keep_doc_id"))
      .select("doc_id", "content_hash", "keep_doc_id", "group_size", "is_duplicate")
  }

  // ---- MinHash + LSH ----

  val NumPerms = 16
  val BandSize = 4
  val NumBands: Int = NumPerms / BandSize

  /** Permutation family: one md5-derived base hash per shingle, then cheap
    * linear hashing h_i = (a_i * (h mod P) + b_i) mod P over the Mersenne
    * prime P = 2^31-1 (products stay < 2^62, so the same arithmetic is exact
    * BIGINT math in the DuckDB oracle — no overflow divergence).
    */
  val MinhashP = 2147483647L
  def permA(i: Int): Long = ((i + 1).toLong * 1299709L) % MinhashP
  def permB(i: Int): Long = i.toLong * 104729L

  /** Registers the native hash kernels with this engine's parameters;
    * idempotent (see functions.HashExpressions.register).
    */
  private def registerKernels(df: DataFrame): Unit =
    graft.functions.HashExpressions.register(
      df.sparkSession, SimHashBits, NumPerms, permA, permB, MinhashP)

  /** Shared base for the MinHash pipeline: per-doc shingle arrays (one
    * tokenization pass, materialized column — see shinglesFromTokens).
    */
  def shingleHashes(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("sh", TextAnalysis.shinglesFromTokens("toks"))
      .select(col("doc_id"), col("sh"))

  /** Signature via the native one-pass kernel (md5 once per shingle, all
    * permutations folded in a JVM loop). The HOF formulation is kept as
    * `signatureFromHof` for differential testing.
    */
  private def signatureFrom(base: DataFrame): DataFrame = {
    registerKernels(base)
    val withSig = base.withColumn("mhsig", expr("minhash_sig(sh)"))
    (0 until NumPerms).foldLeft(withSig) { (df, i) =>
      df.withColumn(s"mh_$i", element_at(col("mhsig"), i + 1))
    }.drop("mhsig")
  }

  private[graft] def signatureFromHof(base: DataFrame): DataFrame = {
    val withPh = base.withColumn("ph", expr(
      "transform(sh, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as long))"))
    (0 until NumPerms).foldLeft(withPh) { (df, i) =>
      df.withColumn(s"mh_$i", array_min(expr(
        s"transform(ph, h -> (${permA(i)}L * (h % ${MinhashP}L) + ${permB(i)}L) % ${MinhashP}L)")))
    }.drop("ph")
  }

  def minhashSignature(documents: DataFrame): DataFrame =
    signatureFrom(shingleHashes(documents)).drop("sh", "ph")

  /** LSH bands: NumBands rows per doc via a single explode (no union — a
    * union would recompute the signature scan per branch). Band key = the
    * band's signature slice joined as a string.
    */
  def lshBands(documents: DataFrame): DataFrame =
    bandsFrom(signatureFrom(shingleHashes(documents)))

  private def bandsFrom(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      val cols = (0 until BandSize).map(r => col(s"mh_${b * BandSize + r}"))
      struct(lit(b).as("band_idx"), concat_ws("_", cols: _*).as("band_key"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
  }

  /** Candidate pairs from banded LSH (a < b, distinct) — generated
    * bucket-locally: group docs per (band_idx, band_key), emit pairs with a
    * higher-order function. One shuffle, no self-join (a self-join would
    * recompute the MinHash pipeline on both sides), and the pair blow-up is
    * bounded by bucket sizes.
    */
  def minhashCandidates(documents: DataFrame): DataFrame =
    candidatesFrom(bandsFrom(signatureFrom(shingleHashes(documents))))

  private def candidatesFrom(bands: DataFrame): DataFrame =
    bands
      .groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |    y -> named_struct('doc_id_a', x, 'doc_id_b', y))))""".stripMargin)).as("p"))
      .select("p.doc_id_a", "p.doc_id_b")
      .distinct()

  /** Exact n-gram (3-shingle) Jaccard verification on the LSH candidates:
    * intersection/union sizes of distinct shingle sets, as exact integers.
    * `jaccard_pct` = floor(100 * |∩| / |∪|) keeps the output integral.
    *
    * The shingle base is NOT cached: its three consumers (candidate
    * generation and the two pair-join sides) each recompute the narrow
    * tokenize+shingle pass, which measured FASTER at sf0.1 than any
    * materialization (persist 2.1 s, recompute 1.6 s — storing the wide
    * shingle-array rows costs more than two extra codegen'd passes), and a
    * persist here leaked its blocks into long-lived sessions (nothing in
    * this lazy operator could safely unpersist them).
    */
  def ngramJaccard(documents: DataFrame): DataFrame = {
    val base = shingleHashes(documents)
    val cands = candidatesFrom(bandsFrom(signatureFrom(base)))
    // intersect 60-bit shingle HASHES, not shingle strings: the per-pair join
    // payload is 8 bytes/shingle instead of ~30-char strings — the shuffle-
    // size win that matters at corpus scale. Both engines intersect the same
    // hash sets, so counts match by construction (collisions included).
    registerKernels(base)
    // NOT materialized: both pair sides recompute md5h60_arr over the
    // persisted base, but storing the hashed-array column was measured
    // SLOWER at sf0.1 (persist 3.9 s, localCheckpoint 2.8 s, recompute
    // 2.4 s) — writing array<bigint> rows out costs more than the second
    // md5 pass it saves
    // sort once per DOC so per-PAIR verification is a codegen'd merge walk
    // (sorted_intersect_count) instead of a hash set + materialized
    // intersection array — |docs| sorts buy |pairs| allocation-free counts
    graft.functions.SortedIntersectCount.register(documents.sparkSession)
    val sh = base.select(col("doc_id"),
      sort_array(array_distinct(expr("md5h60_arr(sh)"))).as("shd"))
    cands
      .join(sh.select(col("doc_id").as("doc_id_a"), col("shd").as("sh_a")), Seq("doc_id_a"))
      .join(sh.select(col("doc_id").as("doc_id_b"), col("shd").as("sh_b")), Seq("doc_id_b"))
      .withColumn("n_common", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("n_union", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("n_common"))
      .withColumn("jaccard_pct", expr("(100 * n_common) div n_union"))
      .select("doc_id_a", "doc_id_b", "n_common", "n_union", "jaccard_pct")
  }

  /** EXACT Jaccard similarity join via prefix filtering (AllPairs/PPJoin
    * family, Bayardo et al. WWW'07): every pair of docs with token-set
    * Jaccard ≥ τ, with NO false negatives — the complement to the
    * probabilistic MinHash path when the dedup policy must be provably
    * complete (compliance-grade dedup, eval decontamination audits).
    *
    * Losslessness: order the vocabulary by ascending document frequency
    * (ties by token — one deterministic global order). A doc's PREFIX is
    * its first `n − ⌈τ·n⌉ + 1` tokens in that order. For any pair with
    * J ≥ τ, the globally-rarest common token must sit inside BOTH prefixes
    * (if it fell outside doc a's prefix, every common token would, leaving
    * |∩| ≤ ⌈τ·n_a⌉ − 1 < τ·n_a ≤ τ·|∪| ≤ |∩|— contradiction), so a
    * prefix×prefix equi-join on token generates every qualifying pair.
    *
    * Scale shape: the tokenized corpus is checkpointed once and feeds all
    * three consumers (df counts, prefix build, verification). Candidate
    * volume is Σ_t prefDf(t)² — rarest-first prefixes make this near-linear
    * on Zipfian corpora because prefixes are built from the LOW-df tail
    * (on a pathological uniform vocabulary it degrades toward all-pairs;
    * that corner belongs to [[minhashCandidates]]). Three prunes run BEFORE
    * the candidate dedup shuffle: the τ-size filter (min·10⁶ ≥ max·τppm)
    * and the PPJoin POSITIONAL filter — a match at prefix positions
    * (rx, ry) bounds the overlap by min(n_a−rx, n_b−ry)+1, and J ≥ τ needs
    * o·(10⁶+τppm) ≥ τppm·(n_a+n_b); lossless because the globally-rarest
    * common token of a true pair sits in both prefixes and every common
    * token sits at or after its position. Verification is SET-at-a-time
    * (the [[nearDupPairs]] shape): each doc's distinct-token array rides
    * the join once and n_common is one array_intersect per surviving pair
    * — not a pairs×tokens row explosion through a re-shuffle, which costs
    * ~|pairs|·n̄ shuffled rows exactly where the corpus is most duplicated.
    * All arithmetic is integer ppm so the DuckDB twin (which can afford
    * the naive all-pairs form — the result SET is identical because the
    * filters are lossless) hash-matches.
    */
  /** Broadcast budget (rows) for corpus-DERIVED vocabularies. A forced
    * `broadcast()` hint is un-overridable — AQE cannot demote it — so a
    * web-scale vocabulary (10⁸–10⁹ distinct tokens, gigabytes) would be
    * collected to the driver and OOM it. Below the budget the hint is the
    * right plan (one-sided join, no corpus re-shuffle); above it the join
    * falls back to a plain shuffle on the token key — the same posture the
    * incremental probe path uses against its bucketed vocab table. 4M rows
    * of short tokens ≈ low-hundreds of MB broadcast, inside executor
    * budgets with margin.
    */
  val VocabBroadcastMaxRows: Long = 4L << 20

  private def gateBroadcast(dim: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(dim) else dim

  def jaccardJoin(documents: DataFrame, tauPpm: Long = 850000L,
                  broadcastVocabMaxRows: Long = VocabBroadcastMaxRows): DataFrame = {
    // tracked, not a bare localCheckpoint: tk is the CORPUS-SIZED exploded
    // token stream, and it is dead the moment `toks` (doc-sized int arrays)
    // materializes below — holding its blocks for the life of the returned
    // plan is pure storage pressure on whatever runs next in the session
    // (the r9 driver bench showed checkpoint-heavy queries competing for
    // block-manager storage). Released explicitly after toks' eager
    // checkpoint completes; `toks` itself must stay (it feeds the returned
    // lazy plan three ways).
    val (tk, tkIds) = Checkpoints.checkpointTracked(documents
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      .filter(col("token") =!= ""))
    // dictionary-encode the vocabulary with its PREFIX order (df asc, token
    // asc) as the id: tid is simultaneously the global sort key, a 4-byte
    // join key for candidate generation, and an int element for the
    // verification intersect (int equality, no string hashing). The rank is
    // Ranks.globalRank — a web-scale vocabulary (10⁸–10⁹ distinct tokens)
    // never funnels through one task; int tids bound the vocab at 2³¹,
    // comfortably above any real token inventory.
    // the df aggregation is checkpointed (vocab-sized) so the broadcast
    // size-gate can COUNT it without recomputing the corpus agg, and
    // globalRank's two consumers read the materialized rows
    val (dfAgg, dfIds) = Checkpoints.checkpointTracked(
      tk.groupBy("token").agg(count(lit(1)).as("df")))
    val vocabRows = dfAgg.count()
    val dfreq = Ranks.globalRank(dfAgg, "tid", col("df").asc, col("token").asc)
      .withColumn("tid", col("tid").cast("int"))
    // ONE groupBy replaces the two per-doc windows: the sorted tid array is
    // at once the per-doc rank order (prefix = a slice of it), the size n,
    // and the verification operand — materialized once, |docs| rows
    val toks = tk.join(
        gateBroadcast(dfreq, vocabRows, broadcastVocabMaxRows), "token")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("tid"))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    // toks is eager, so tk (and dfAgg, which only fed toks through dfreq)
    // are now unreachable from any live plan — free both checkpoints
    Checkpoints.releaseTracked(toks, tkIds ++ dfIds)
    val prefix = toks
      .select(col("doc_id"), col("n"), posexplode(prefixSlice(tauPpm)))
      .select(col("doc_id"), col("col").as("tid"), col("n"),
        (col("pos") + 1).cast("long").as("rn"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.tid") === col("y.tid") && col("x.doc_id") < col("y.doc_id"))
      .filter(expr(s"least(x.n, y.n) * 1000000L >= greatest(x.n, y.n) * ${tauPpm}L"))
      // positional (PPJoin) filter — prune before the dedup shuffle
      .filter(expr(
        s"(least(x.n - x.rn, y.n - y.rn) + 1L) * ${1000000L + tauPpm}L" +
          s" >= ${tauPpm}L * (x.n + y.n)"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct()
    // sorted_intersect_count: the tid arrays are sorted-distinct by
    // construction, so |∩| is one codegen'd merge walk per pair — no
    // hash set, no materialized intersection array (the built-in
    // size(array_intersect) allocates both, at millions of pairs)
    graft.functions.SortedIntersectCount.register(documents.sparkSession)
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(ta, tb)").as("n_common"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        expr("(n_common * 1000000L) div (na + nb - n_common)").as("j_ppm"))
      .filter(col("j_ppm") >= tauPpm)
  }

  /** Dedup-rate-vs-threshold curve — the τ-tuning signal every dedup
    * rollout needs before committing a threshold to a 100 TB corpus: ONE
    * exact [[jaccardJoin]] at the sweep FLOOR (its prefix filter is
    * lossless at the floor, hence for every τ above it), then each
    * candidate threshold's qualifying-pair count, dropped-doc count
    * (keep-elder policy: the younger doc of each qualifying pair is the
    * casualty) and survivor count. The sweep itself is one narrow pass
    * over the pair evidence — never one join per threshold — and
    * thresholds with zero qualifying pairs still emit their row (the
    * curve's flat tail is information).
    */
  def jaccardThresholdSweep(documents: DataFrame,
                            tausPpm: Seq[Long] =
                              Seq(850000L, 900000L, 950000L, 990000L),
                            broadcastVocabMaxRows: Long =
                              VocabBroadcastMaxRows): DataFrame = {
    require(tausPpm.nonEmpty, "threshold sweep needs at least one tau")
    jaccardThresholdSweepFrom(
      jaccardJoin(documents, tausPpm.min, broadcastVocabMaxRows),
      documents, tausPpm, tausPpm.min)
  }

  /** [[jaccardThresholdSweep]] over already-materialized pair evidence —
    * the sweep tail alone: one narrow pass over pair-evidence-sized rows.
    * `evidenceFloorPpm` is the τ the pair evidence was BUILT at; a tau
    * below it would silently undercount (pairs in the gap are absent from
    * the evidence), so the caller must state the floor and every swept
    * tau is checked against it.
    */
  def jaccardThresholdSweepFrom(pairs: DataFrame, documents: DataFrame,
                                tausPpm: Seq[Long],
                                evidenceFloorPpm: Long): DataFrame = {
    require(tausPpm.nonEmpty && tausPpm.min >= evidenceFloorPpm,
      s"swept taus ${tausPpm.min}+ must not go below the evidence floor " +
        s"$evidenceFloorPpm — pairs in the gap are absent from the evidence")
    val perTau = pairs
      .select(explode(lit(tausPpm.toArray)).as("tau_ppm"), col("j_ppm"),
        col("doc_b"))
      .filter(col("j_ppm") >= col("tau_ppm"))
      .groupBy("tau_ppm")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_dropped_docs"))
    // the τ grid rides the one-row corpus count (one explode — no
    // driver-side count, no separate grid frame)
    documents.agg(count(lit(1)).cast("long").as("n_docs"))
      .select(explode(lit(tausPpm.toArray)).as("tau_ppm"), col("n_docs"))
      .join(perTau, Seq("tau_ppm"), "left")
      .select(col("tau_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped_docs"), lit(0L)).as("n_dropped_docs"),
        (col("n_docs") - coalesce(col("n_dropped_docs"), lit(0L)))
          .as("n_survivors"))
      .orderBy("tau_ppm")
  }

  /** Exact τ-CONTAINMENT join — the asymmetric sibling of [[jaccardJoin]]
    * and the real decontamination primitive: C(A→B) = |A∩B| / |A| ≥ τ
    * flags corpus docs B that CONTAIN most of benchmark doc A regardless
    * of how much other text B carries (symmetric Jaccard misses exactly
    * the bad case — a benchmark pasted into a long page — because |∪|
    * grows with B). Shingle-level sets (3-token), so topical word overlap
    * doesn't trigger, verbatim passages do.
    *
    * Losslessness (prefix filter, containment form): order the corpus
    * shingle vocabulary df-asc. A qualifying pair needs
    * o = ⌈τ·n_A⌉ common shingles, so A's globally-rarest common shingle
    * sits within A's first |toks_A| − o + 1 in that order — an
    * explode(prefix) × corpus-postings equi-join generates every
    * qualifying pair (B-side pruning is impossible: containment puts no
    * bound on |B|, which is the point). Query shingles UNSEEN in the
    * corpus vocabulary can't match anything but still count into n_A (and
    * shrink the prefix only through o — they are excluded from toks_A, so
    * the prefix stays a superset of the lossless one). Verification is
    * the [[jaccardJoin]] merge walk (`sorted_intersect_count`).
    *
    * Scale: vocabulary rank is distributed ([[Ranks.globalRank]]); the
    * candidate join is query-prefix rows against the corpus posting
    * stream — rarest-first prefixes keep the joined dfs in the low tail
    * (the PPJoin economics), and the benchmark side of a decontamination
    * run is orders smaller than the corpus, so candidates ≈ planted hits.
    * Nothing is ever all-pairs; the oracle twin runs the naive form and
    * the result SET matches because the filter is lossless.
    */
  def containmentJoin(queries: DataFrame, corpus: DataFrame,
                      tauPpm: Long = 600000L,
                      broadcastVocabMaxRows: Long = VocabBroadcastMaxRows)
      : DataFrame = {
    // the inline (one-shot) form IS build + probe with local-checkpoint
    // persistence: each artifact materializes eagerly in executor storage
    // instead of parquet, and the probe plans against those blocks — one
    // code path with the TrainedStore-backed production form, so the two
    // cannot diverge semantically
    val parts = scala.collection.mutable.Map.empty[String, DataFrame]
    val vocabRows = buildContainmentIndex(corpus,
      (name, df) => { val c = df.localCheckpoint(true); parts(name) = c; c },
      broadcastVocabMaxRows)
    containmentProbe(queries, parts("vocab"), parts("postings"),
      parts("ctoks"), tauPpm, broadcastVocabMaxRows, Some(vocabRows))
  }

  /** Corpus-side containment index build — the three artifacts
    * [[containmentProbe]] consumes, from ONE corpus shingle pass:
    * `vocab(shingle, tid)` (the frozen df-asc prefix order),
    * `postings(doc_id, tid)` (the candidate-join side), and
    * `ctoks(doc_id, tb)` (sorted tid arrays, the verification operand).
    * `write` persists each part and returns the read-back frame
    * ([[TrainedStore.cachedMulti]]'s writer, or a localCheckpoint for the
    * inline form), so each later part derives from the PERSISTED
    * predecessor rather than recomputing the pass. In production the
    * corpus index builds once per decontamination campaign and every
    * benchmark batch probes it — the build-per-probe form re-prices a
    * corpus-sized job on every batch. Returns the vocabulary row count so
    * a composed probe can skip its size-gate count job.
    */
  def buildContainmentIndex(corpus: DataFrame,
                            write: (String, DataFrame) => DataFrame,
                            broadcastVocabMaxRows: Long = VocabBroadcastMaxRows)
      : Long = {
    // the corpus shingle stream feeds three differently-partitioned
    // consumers (vocab df agg, postings join, ctoks gather) — checkpointed
    // once so tokenize+shingle (the family's dominant cost) runs one
    // corpus pass; released once the persisted parts cover it
    val (csh, cshIds) = Checkpoints.checkpointTracked(
      TextAnalysis.shingleStream(corpus)
        .filter(col("shingle") =!= "").distinct())
    try {
      // vocab-sized checkpoint lets the broadcast size-gate COUNT the
      // vocabulary without recomputing the corpus aggregation
      val (dfAgg, dfIds) = Checkpoints.checkpointTracked(
        csh.groupBy("shingle").agg(count(lit(1)).as("df")))
      val vocabRows = dfAgg.count()
      val vocab = write("vocab",
        Ranks.globalRank(dfAgg, "tid", col("df").asc, col("shingle").asc)
          .withColumn("tid", col("tid").cast("int"))
          .select("shingle", "tid"))
      Checkpoints.releaseTracked(vocab, dfIds)
      // size-gated, never a forced hint: a web-scale shingle vocabulary
      // (10⁸–10⁹ rows) must shuffle-join, not collect to the driver
      val postings = write("postings",
        csh.join(gateBroadcast(vocab, vocabRows, broadcastVocabMaxRows),
            "shingle")
          .select(col("doc_id"), col("tid")))
      write("ctoks", postings.groupBy("doc_id")
        .agg(sort_array(collect_list(col("tid"))).as("tb")))
      // returned so probes composed with the build skip their count job
      vocabRows
    } finally Checkpoints.releaseTracked(csh, cshIds)
  }

  /** Probe the containment index with a benchmark batch: query-sized work
    * only — one query shingle pass, a (gated) vocab join, the lossless
    * prefix explode against the postings, and the merge-walk verify
    * against ctoks. Unseen query shingles count into n_q but not into ta
    * (collect_list drops the left join's nulls), exactly the losslessness
    * argument in the class doc.
    */
  def containmentProbe(queries: DataFrame, vocab: DataFrame,
                       postings: DataFrame, ctoks: DataFrame,
                       tauPpm: Long = 600000L,
                       broadcastVocabMaxRows: Long = VocabBroadcastMaxRows,
                       vocabRows: Option[Long] = None)
      : DataFrame = {
    val spark = queries.sparkSession
    graft.functions.SortedIntersectCount.register(spark)
    // callers that already know the vocabulary size (the build just
    // counted it) pass vocabRows and skip the per-probe count job; the
    // fallback count is parquet footer metadata / checkpoint-block counts
    val gated = gateBroadcast(vocab, vocabRows.getOrElse(vocab.count()),
      broadcastVocabMaxRows)
    val qsh = TextAnalysis.shingleStream(queries)
      .filter(col("shingle") =!= "").distinct()
      .withColumnRenamed("doc_id", "q_id")
    val qtoks = qsh.join(gated, Seq("shingle"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_q"),
        sort_array(collect_list(col("tid"))).as("ta"))
      .withColumn("o", expr(s"(n_q * ${tauPpm}L + 999999L) div 1000000L"))
      .filter(size(col("ta")) >= col("o"))
    val prefix = qtoks
      .select(col("q_id"),
        explode(expr("slice(ta, 1, int(size(ta) - o + 1L))")).as("tid"))
    val cand = prefix.join(postings, "tid")
      .select("q_id", "doc_id").distinct()
    cand
      .join(qtoks.select("q_id", "n_q", "o", "ta"), "q_id")
      .join(ctoks, "doc_id")
      .withColumn("n_common", expr("sorted_intersect_count(ta, tb)"))
      .filter(col("n_common") >= col("o"))
      .select(col("q_id"), col("doc_id"), col("n_common"), col("n_q"),
        expr("(n_common * 1000000L) div n_q").as("c_ppm"))
      .filter(col("c_ppm") >= tauPpm)
  }

  /** The oracle-checked decontamination composition: "benchmarks" are the
    * second token-halves of every doc_id % 9 doc (id-shifted by 2,000,000
    * — each half's shingle set is contained in its parent by
    * construction), the corpus is the doc_id % 3 universe. A half must
    * surface its parent at τ = 60 % containment; unrelated docs only on
    * real shingle overlap.
    */
  def decontaminationContainment(documents: DataFrame,
                                 tauPpm: Long = 600000L): DataFrame =
    containmentJoin(benchmarkHalves(documents),
      documents.filter(col("doc_id") % 3 === 0), tauPpm)

  /** The synthetic benchmark batch for the decontamination oracle: the
    * second token-halves of every doc_id % 9 doc, id-shifted by 2,000,000.
    * Factored so the cached-index form probes the same universe.
    */
  def benchmarkHalves(documents: DataFrame): DataFrame =
    documents.filter(col("doc_id") % 9 === 0)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(expr("slice(__toks, size(__toks) div 2 + 1, size(__toks))"),
          " ").as("text"))

  /** The three index-table suffixes of a Jaccard index, in build order. */
  private val JacLayers = Seq("vocab", "toks", "prefix")

  /** Build the persisted prefix index for INCREMENTAL exact τ-Jaccard dedup
    * — [[jaccardJoin]]'s build-once/probe-many form, completing the exact
    * half of the nightly-crawl story next to [[buildLshIndexGen]] — as a
    * numbered generation behind views, so [[compactJaccardIndexGen]] can
    * fold the [[maintainJaccardDedup]] delta WHILE probes serve. Three
    * bucketed tables:
    *
    *  - `{name}_vocab` (token, tid): the FROZEN global prefix order
    *    (df asc, token asc at build time). Losslessness needs only a
    *    CONSISTENT total order across every pair, not a true df order —
    *    so the order may drift from real dfs as the index grows; df-order
    *    is purely a pruning heuristic (rebuild cadence is an ops knob).
    *  - `{name}_toks` (doc_id, toks: sorted tid array, n), bucketed by
    *    doc_id — the verification operand.
    *  - `{name}_prefix` (tid, doc_id, rn, n), bucketed by tid — probe
    *    batches join it exchange-free on the index side.
    *
    * The stored prefix length is cut at `tauPpm`; probing is lossless for
    * any probe τ ≥ build τ (higher τ needs shorter prefixes — a subset of
    * what is stored).
    *
    * Consistency has two layers:
    *  - probes derive the toks/prefix physical tables from the VOCAB
    *    generation (see [[jaccardAgainstIndexTracked]]) and all three
    *    physical tables are written here BEFORE the vocab view swaps, so
    *    the vocab swap is the single atomic step — even a REBUILD, which
    *    REASSIGNS tids (the vocab re-ranks by the new corpus's df), can
    *    never be observed as a mixed dictionary;
    *  - a compaction's per-layer swaps copy rows verbatim (tids
    *    preserved), so its transient generation mixes are consistent by
    *    construction regardless of which layer a probe's fallback
    *    resolution lands on.
    *
    * A fresh build writes no folded-batch manifests (absent ≡ −1). When
    * REBUILDING over a live delta layer, quiesce the maintenance loop and
    * pass `deltaDir`: every layer of the rebuilt generation is stamped
    * with the delta's current highest batch_id, because the rebuilt base
    * supersedes those partitions AND their rows carry the OLD tid
    * numbering — exposing them against the re-ranked vocab would corrupt
    * the probe's sorted tid arrays, not just double-count
    * ([[sources.IndexLifecycle.buildGeneration]]'s `deltaPaths`).
    */
  def buildJaccardIndexGen(documents: DataFrame, name: String,
                           tauPpm: Long = 850000L, buckets: Int = 8,
                           deltaDir: Option[String] = None): Unit = {
    val spark = documents.sparkSession
    // the shared skeleton (sources.IndexLifecycle) owns the invariants
    // this family leans on hardest: ONE shared generation number across
    // the three layers (the probe's vocab-derived sibling lookup requires
    // that vocab__gN existing implies toks/prefix__gN exist), vocab FIRST
    // in swap order (its swap is the probe's single consistency point —
    // all three physical tables exist before it), per-layer retirement
    // relative to each layer's serving generation
    graft.sources.IndexLifecycle.buildGeneration(spark,
      JacLayers.map(s => s"${name}_$s"),
      write = phys =>
        buildJaccardTables(documents, phys(0), phys(1), phys(2), tauPpm,
          buckets),
      deltaPaths = deltaDir.toSeq.flatMap(d => JacLayers.map(s => s"$d/$s")))
  }

  private def buildJaccardTables(documents: DataFrame, vocabT: String,
                                 toksT: String, prefixT: String,
                                 tauPpm: Long, buckets: Int): Unit = {
    val spark = documents.sparkSession
    val (tk, tkIds) = Checkpoints.checkpointTracked(documents
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      .filter(col("token") =!= ""))
    graft.sources.Bucketing.writeBucketed(
      Ranks.globalRank(
          tk.groupBy("token").agg(count(lit(1)).as("df")),
          "tid", col("df").asc, col("token").asc)
        .select("token", "tid"),
      vocabT, "token", buckets, compact = true)
    graft.sources.Bucketing.writeBucketed(
      tk.join(spark.table(vocabT), "token")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("tid"))).as("toks"))
        .withColumn("n", size(col("toks")).cast("long")),
      toksT, "doc_id", buckets, compact = true)
    Checkpoints.releaseTracked(spark.table(toksT), tkIds)
    graft.sources.Bucketing.writeBucketed(
      spark.table(toksT)
        .select(col("doc_id"), col("n"), posexplode(prefixSlice(tauPpm)))
        .select(col("col").as("tid"), col("doc_id"), col("n"),
          (col("pos") + 1).cast("long").as("rn")),
      prefixT, "tid", buckets, compact = true)
  }

  /** Fold the Jaccard maintenance delta into NEW generations of the three
    * index tables — the concurrent-safe compaction of
    * [[maintainJaccardDedup]], one [[sources.Bucketing.compactLayerGen]]
    * per layer. Each layer carries its OWN folded watermark, taken from
    * the same delta frame it folds, so per-layer base ∪ delta reads are
    * exact even when a probe resolves the layers in different generations
    * mid-compaction (tids are never renumbered — see
    * [[buildJaccardIndexGen]] — so cross-layer generation mixes are
    * consistent by construction).
    */
  def compactJaccardIndexGen(spark: org.apache.spark.sql.SparkSession,
                             name: String, deltaDir: String,
                             buckets: Int = 8): Unit = {
    val b = graft.sources.Bucketing
    b.compactLayerGen(spark, s"${name}_vocab", s"$deltaDir/vocab",
      "token", Seq("token", "tid"), buckets, compact = true)
    b.compactLayerGen(spark, s"${name}_toks", s"$deltaDir/toks",
      "doc_id", Seq("doc_id", "toks", "n"), buckets, compact = true)
    b.compactLayerGen(spark, s"${name}_prefix", s"$deltaDir/prefix",
      "tid", Seq("tid", "doc_id", "n", "rn"), buckets, compact = true)
  }

  /** Threshold-gated [[compactJaccardIndexGen]] — the compaction-cadence
    * knob (see [[Retrieval.compactBm25IfNeeded]]); pressure is read from
    * the toks layer (every batch with surviving docs writes it).
    */
  def compactJaccardIfNeeded(spark: org.apache.spark.sql.SparkSession,
                             name: String, deltaDir: String,
                             maxUnfolded: Int, buckets: Int = -1): Boolean =
    // pressure reads from the toks layer: every batch with surviving
    // docs writes it, and bucket inheritance resolves off the same table
    graft.sources.IndexLifecycle.compactIfNeeded(spark, s"${name}_toks",
      s"$deltaDir/toks", maxUnfolded, buckets,
      compactJaccardIndexGen(spark, name, deltaDir, _))

  /** `slice(toks, 1, prefixLen)` for the τ-Jaccard prefix — shared by the
    * batch join, the index build and the probe side so the cut can never
    * drift between them.
    */
  private def prefixSlice(tauPpm: Long): Column = expr(
    s"slice(toks, 1, int(n - ((n * ${tauPpm}L + 999999L) div 1000000L) + 1L))")

  /** Exact τ-Jaccard pairs of NEW documents against a persisted
    * [[buildJaccardIndexGen]] — (doc_new, doc_corpus, n_common, j_ppm), NO
    * false negatives vs re-running [[jaccardJoin]] over the union corpus.
    *
    * Probe tokens UNSEEN in the index vocabulary rank BEFORE every known
    * token (df 0 = globally rarest; among themselves by token — a
    * consistent extension of the frozen order, and index docs never
    * contain them so no cross comparison arises). They generate no
    * candidates (nothing in the index to equal) but still occupy prefix
    * positions and count into n/union — exactly the losslessness
    * argument's shape: if unseen tokens fill a probe doc's whole prefix,
    * the overlap bound proves no qualifying corpus partner exists.
    *
    * Scale shape mirrors [[dedupAgainstIndex]]: the probe batch pays
    * tokenize + one vocab join (bucketed on token) + its prefix explode;
    * the index side is read co-located off the bucketed layout.
    */
  def jaccardAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          newDocs: DataFrame, name: String,
                          tauPpm: Long = 850000L): DataFrame =
    jaccardAgainstIndexTracked(spark, newDocs, name, tauPpm, None, None)._1

  /** [[jaccardAgainstIndex]] over base ∪ delta — the read side of the
    * Jaccard LSM posture: pairs reflect every compacted batch plus every
    * not-yet-compacted survivor in the [[maintainJaccardDedup]] delta.
    * Each of the three layers resolves its generation ONCE and reads base,
    * watermark and delta off that single resolution
    * ([[sources.Bucketing.layerWithDelta]]), so a concurrent
    * [[compactJaccardIndexGen]] can never be observed as duplicated vocab
    * rows (which would corrupt the probe's sorted tid arrays) or dropped
    * prefixes (a silent false negative).
    *
    * EVERY index-side join is SPLIT per part — the candidate (prefix)
    * and verification (toks) inner joins as a per-part union, the vocab
    * LEFT join as base-join + coalesce(delta-join), exact because delta
    * vocab batches are token-disjoint from the base by construction —
    * so neither the corpus-sized index tables NOR the dictionary ever
    * re-shuffle for the delta's benefit. Compaction folds the delta and
    * restores the pinned single-plan probe.
    */
  def jaccardAgainstIndexWith(spark: org.apache.spark.sql.SparkSession,
                              newDocs: DataFrame, name: String,
                              deltaDir: String,
                              tauPpm: Long = 850000L): DataFrame =
    jaccardAgainstIndexTracked(spark, newDocs, name, tauPpm,
      Some(deltaDir), None)._1

  /** [[jaccardAgainstIndex]] plus the RDD ids of its eager checkpoint, so a
    * long-running caller (the streaming loop) can release exactly its own
    * blocks once the batch's results are consumed — never a blanket
    * session-wide sweep, which would tear down CONCURRENT queries'
    * lineage-truncated checkpoints (unrecoverable by design).
    * `deltaDir`/`excludeBatch` select the base ∪ delta read shape (see
    * [[jaccardAgainstIndexWith]] / [[processJaccardBatch]]).
    */
  private def jaccardAgainstIndexTracked(
      spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      name: String, tauPpm: Long, deltaDir: Option[String],
      excludeBatch: Option[Long]): (DataFrame, Set[Int]) = {
    val b = graft.sources.Bucketing
    // the VOCAB swap is the probe's single consistency point: toks/prefix
    // physical tables are DERIVED from the vocab generation when that
    // generation's siblings exist (a build/rebuild writes all three
    // physical tables BEFORE swapping the vocab view), falling back to
    // their own view resolution otherwise (mid-compaction, where layers
    // fold one at a time — safe, compaction copies rows verbatim). This
    // makes even a REBUILD that renumbers tids concurrent-safe: a probe
    // sees all-old or all-new dictionaries, never the vocab of one
    // numbering against the toks/prefix of another.
    // lowercase before deriving: resolvePhysical returns the CATALOG'S
    // lowercased name, so a mixed-case `name` would never strip and the
    // protection would silently fall back to per-layer view resolution
    val lname = name.toLowerCase
    val vocabPhys = b.resolvePhysical(spark, s"${name}_vocab")
    val genSuffix = vocabPhys.toLowerCase.stripPrefix(s"${lname}_vocab")
    def layerTable(suffix: String): String =
      if (suffix != "vocab" && genSuffix.nonEmpty &&
          spark.catalog.tableExists(s"${lname}_$suffix$genSuffix"))
        s"${lname}_$suffix$genSuffix"
      else if (suffix == "vocab") vocabPhys
      else b.resolvePhysical(spark, s"${name}_$suffix")
    def parts(suffix: String, cols: Seq[String]): (DataFrame, Option[DataFrame]) =
      b.layerParts(spark, layerTable(suffix),
        deltaDir.map(d => s"$d/$suffix"), cols, excludeBatch)
    // ALL joins against base ∪ delta layers are SPLIT per part. Inner
    // joins decompose as probe ⋈ (base ∪ delta) = (probe ⋈ base) ∪
    // (probe ⋈ delta): the bucketed base side stays exchange-free and
    // only the delta side shuffles, delta-sized. The vocab LEFT join
    // splits too, as base-join + coalesce(delta-join): delta vocab
    // batches are left_anti-assigned against the visible dictionary
    // ([[appendJaccardDelta]]), so base and delta vocabs are
    // token-DISJOINT and at most one side can supply a tid — the union
    // form dragged the full dictionary (web-scale: 10⁸–10⁹ distinct
    // tokens) through an exchange per probe batch just to serve a
    // delta-sized extension.
    def splitJoin(probe: DataFrame, suffix: String, cols: Seq[String],
                  key: String)(shape: DataFrame => DataFrame): DataFrame = {
      val (baseP, deltaP) = parts(suffix, cols)
      val withBase = probe.join(shape(baseP), key)
      deltaP.map(d => withBase.unionByName(probe.join(shape(d), key)))
        .getOrElse(withBase)
    }
    val probeTokens = newDocs
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      .filter(col("token") =!= "")
    val (vocabBase, vocabDelta) = parts("vocab", Seq("token", "tid"))
    val withTid = vocabDelta match {
      case Some(d) => probeTokens
        .join(vocabBase, Seq("token"), "left")
        .join(d.withColumnRenamed("tid", "tid_delta"), Seq("token"), "left")
        .withColumn("tid", coalesce(col("tid"), col("tid_delta")))
        .drop("tid_delta")
      case None => probeTokens.join(vocabBase, Seq("token"), "left")
    }
    val (per, perIds) = Checkpoints.checkpointTracked(withTid
      .groupBy("doc_id")
      // collect_list drops nulls: toks = KNOWN tids only; n counts all
      .agg(sort_array(collect_list(col("tid"))).as("toks"),
        count(lit(1)).as("n"))
      .withColumn("n_unseen", col("n") - size(col("toks"))))
    // known token at sorted position pos sits at global rank n_unseen+pos+1
    // (every unseen token precedes it); the prefix cut is on that rank
    val probePrefix = per
      .select(col("doc_id").as("doc_new"), col("n"), col("n_unseen"),
        posexplode(col("toks")))
      .withColumn("rn", (col("pos") + 1).cast("long") + col("n_unseen"))
      .filter(expr(s"rn <= n - ((n * ${tauPpm}L + 999999L) div 1000000L) + 1L"))
      .select(col("doc_new"), col("col").as("tid"), col("n").as("na"), col("rn").as("ra"))
    val cand = splitJoin(probePrefix, "prefix",
        Seq("tid", "doc_id", "n", "rn"), "tid")(
        _.select(col("tid"), col("doc_id").as("doc_corpus"),
          col("n").as("nb"), col("rn").as("rb")))
      .filter(expr(s"least(na, nb) * 1000000L >= greatest(na, nb) * ${tauPpm}L"))
      .filter(expr(
        s"(least(na - ra, nb - rb) + 1L) * ${1000000L + tauPpm}L" +
          s" >= ${tauPpm}L * (na + nb)"))
      .select("doc_new", "doc_corpus", "na", "nb")
      .distinct()
    graft.functions.SortedIntersectCount.register(spark)
    // a corpus doc's toks row lives in exactly one part, so the split
    // verification join produces each candidate's row exactly once
    val out = splitJoin(
        cand.join(per.select(col("doc_id").as("doc_new"), col("toks").as("ta")),
          Seq("doc_new")),
        "toks", Seq("doc_id", "toks", "n"), "doc_corpus")(
        _.select(col("doc_id").as("doc_corpus"), col("toks").as("tb")))
      .select(col("doc_new"), col("doc_corpus"),
        expr("sorted_intersect_count(ta, tb)").as("n_common"),
        col("na"), col("nb"))
      .select(col("doc_new"), col("doc_corpus"), col("n_common"),
        expr("(n_common * 1000000L) div (na + nb - n_common)").as("j_ppm"))
      .filter(col("j_ppm") >= tauPpm)
    (out, perIds)
  }

  /** One maintenance batch's increments to the Jaccard delta layer —
    * vocab extension, token arrays and prefixes for `survivors` — each
    * landing in its own `batch_id=` partition
    * ([[sources.Bucketing.writeDeltaPartition]]). Tokens new to the
    * visible vocabulary (base ∪ delta EXCLUDING this batch's own
    * partition) are assigned tids ABOVE the visible max: appending at the
    * END of the frozen order preserves every existing pairwise
    * comparison, so every stored prefix remains valid with no rebuild.
    * The placement makes brand-new tokens rank as "most common"
    * (prefix-last), which only weakens pruning, never correctness; a
    * periodic rebuild restores true df order.
    *
    * REPLAY-IDEMPOTENT by recomputation: excluding the batch's own
    * partition makes a redelivery see exactly the state the first
    * delivery saw, every derivation (rank order, tid arithmetic) is
    * deterministic, and the partition overwrite replaces the first
    * delivery's rows with identical ones — no missing-doc gates, no
    * per-batch index scans, and no partial-failure ordering subtleties
    * (a crash between layer writes just re-overwrites all three on
    * replay). The toks join reads the
    * IN-MEMORY new-vocab frame rather than re-listing the directory just
    * written, so the batch's own exclusion filter cannot hide its own new
    * tids.
    */
  private[graft] def appendJaccardDelta(
      spark: org.apache.spark.sql.SparkSession, survivors: DataFrame,
      name: String, deltaDir: String, batchId: Long, tauPpm: Long): Unit = {
    val b = graft.sources.Bucketing
    val vocabVisible = b.layerWithDelta(spark, s"${name}_vocab",
      Some(s"$deltaDir/vocab"), Seq("token", "tid"),
      excludeBatch = Some(batchId))
    val (tk, tkIds) = Checkpoints.checkpointTracked(survivors
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      .filter(col("token") =!= ""))
    try {
      // coalesce: an index built over an empty corpus has an empty vocab
      // (tids from 1); the visible max is one O(1) driver scalar
      val maxTid = vocabVisible
        .agg(coalesce(max(col("tid")), lit(0L))).head.getLong(0)
      val (newVocab, nvIds) = Checkpoints.checkpointTracked(
        Ranks.globalRank(
            tk.select("token").distinct()
              .join(vocabVisible.select("token"), Seq("token"), "left_anti"),
            "tid", col("token").asc)
          .withColumn("tid", col("tid") + lit(maxTid)))
      try {
        b.writeDeltaPartition(newVocab, s"$deltaDir/vocab", batchId)
        val (toks, toksIds) = Checkpoints.checkpointTracked(
          tk.join(vocabVisible.unionByName(newVocab), "token")
            .groupBy("doc_id")
            .agg(sort_array(collect_list(col("tid"))).as("toks"))
            .withColumn("n", size(col("toks")).cast("long")))
        try {
          b.writeDeltaPartition(toks.select("doc_id", "toks", "n"),
            s"$deltaDir/toks", batchId)
          b.writeDeltaPartition(
            toks.select(col("doc_id"), col("n"), posexplode(prefixSlice(tauPpm)))
              .select(col("col").as("tid"), col("doc_id"), col("n"),
                (col("pos") + 1).cast("long").as("rn")),
            s"$deltaDir/prefix", batchId)
        } finally Checkpoints.releaseTracked(toks, toksIds)
      } finally Checkpoints.releaseTracked(newVocab, nvIds)
    } finally Checkpoints.releaseTracked(tk, tkIds)
  }

  /** Streaming exact-dedup loop over a persisted [[buildJaccardIndexGen]]
    * index — the provably-complete counterpart of
    * [[maintainLshDedup]]: each micro-batch probes base ∪ delta, docs with
    * ANY pair at τ are dropped, survivors are written AND their vocab/
    * toks/prefix increments land in the `batch_id=`-partitioned delta
    * layer under `deltaDir` ([[appendJaccardDelta]]) so later batches
    * dedup against earlier survivors. [[compactJaccardIndexGen]]
    * periodically folds the delta into new generations of the three
    * bucketed tables — safe to run WHILE this loop and any probes serve.
    * `autoCompactAt` (> 0) makes this loop self-compacting exactly
    * like [[maintainLshDedup]]'s option (threshold-gated
    * [[compactJaccardIfNeeded]] after each batch, bucket count inherited
    * from the current generation; default 0 = off; a threshold of 1
    * shrinks the one-generation GC grace for in-flight probes to a
    * single micro-batch — size it so a fold cycle outlasts the longest
    * concurrent probe).
    * Within-batch τ-pairs that match nothing in the index both survive —
    * run [[jaccardJoin]] on the increment upstream if intra-batch
    * collapse is required (same contract as the LSH loop).
    *
    * Replay-safe: survivors land in a `batch_id=` partition via dynamic
    * partition OVERWRITE (a redelivered batch replaces its own partition,
    * never double-appends), the index increment ([[appendJaccardDelta]])
    * recomputes from the batch-excluded visible state and overwrites its
    * own delta partitions, and pairs whose corpus side is a
    * CURRENT-batch doc are excluded from the dup verdict — on replay the
    * index already contains this batch's survivors, so a doc must not be
    * dropped for matching itself OR a within-batch twin that the first
    * delivery appended (both-survive is the documented within-batch
    * contract). On a first run such pairs cannot exist (the batch is
    * probed before it is appended), so first-run semantics are unchanged.
    * Checkpoint hygiene releases exactly the blocks THIS batch created
    * (probe + append internals), never a session-wide sweep that would
    * tear down concurrent queries' lineage-truncated checkpoints.
    */
  def maintainJaccardDedup(stream: DataFrame, name: String, deltaDir: String,
                           checkpointDir: String, survivorsPath: String,
                           tauPpm: Long = 850000L, autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processJaccardBatch(_, _, name, deltaDir, survivorsPath,
        tauPpm),
      autoCompactAt = autoCompactAt,
      compact = (s, maxUnfolded) => {
        compactJaccardIfNeeded(s, name, deltaDir, maxUnfolded); ()
      })

  /** One micro-batch of [[maintainJaccardDedup]], factored out so replay
    * semantics are directly testable (call twice with the same batchId).
    * The replay invariants live ONCE in
    * [[graft.sources.IndexLifecycle.dedupBatchStep]] (shared with
    * [[processLshBatch]] / [[processSubstrBatch]]); this body owns the
    * family's probe (the tracked prefix-filter probe, its pair columns
    * normalized to the skeleton's `doc_id_new`/`doc_id_corpus` contract)
    * and its index increment ([[appendJaccardDelta]]).
    */
  private[graft] def processJaccardBatch(batch: DataFrame, batchId: Long,
                                         name: String, deltaDir: String,
                                         survivorsPath: String,
                                         tauPpm: Long): Unit = {
    val session = batch.sparkSession
    val (pairs, probeIds) = jaccardAgainstIndexTracked(session, batch, name,
      tauPpm, Some(deltaDir), Some(batchId))
    try {
      graft.sources.IndexLifecycle.dedupBatchStep(batch, batchId,
        survivorsPath,
        probePairs = pairs.select(col("doc_new").as("doc_id_new"),
          col("doc_corpus").as("doc_id_corpus")),
        appendIndex = survivors =>
          appendJaccardDelta(session, survivors, name, deltaDir, batchId,
            tauPpm))
    } finally Checkpoints.releaseTracked(pairs, probeIds)
  }

  /** Persist the corpus's LSH band table bucketed by band key — the
    * build-once half of INCREMENTAL dedup (`new crawl vs existing corpus`):
    * the MinHash pipeline runs over the corpus exactly once, at build time,
    * and every subsequent [[dedupAgainstIndex]] batch joins its bands
    * against the stored layout with NO shuffle on the index side. Same
    * build-is-a-job / probe-is-a-scan posture as
    * [[Similarity.buildIvfIndex]]. band_idx folds into the key so the join
    * has ONE equi-column — the bucketing satisfies it directly.
    *
    * The band table lands as a numbered generation and `table` becomes a
    * view (see sources.Bucketing), so [[compactLshIndexGen]] can fold the
    * maintenance delta WHILE [[dedupAgainstIndex]]/
    * [[dedupAgainstIndexWith]]/[[maintainLshDedup]] serve — views resolve
    * through `spark.table` exactly like tables, including the bucketed
    * scan's exchange-free join side.
    */
  def buildLshIndexGen(documents: DataFrame, table: String,
                       buckets: Int = 8,
                       deltaDir: Option[String] = None): Unit = {
    val spark = documents.sparkSession
    val b = graft.sources.Bucketing
    // the shared skeleton owns adoptable-check / serving-generation
    // capture / numbering / swap / retire (sources.IndexLifecycle);
    // family-specific: the bands write and — on a REBUILD over a live
    // delta layer (quiesce the loop, pass deltaDir) — the watermark
    // stamp: the rebuilt base already holds those survivors' bands, so
    // the retained delta partitions must read folded, not double-counted
    // (fresh build: no manifest, absent ≡ watermark −1)
    graft.sources.IndexLifecycle.buildGeneration(spark, Seq(table),
      write = phys => b.writeBucketed(
        lshBands(documents).select(
          concat_ws(":", col("band_idx"), col("band_key")).as("bkey"),
          col("doc_id")),
        phys.head, "bkey", buckets),
      deltaPaths = deltaDir.map(d => s"$d/bands").toSeq)
  }

  /** Near-dup candidates of NEW documents against a persisted LSH index:
    * distinct (new, corpus) pairs sharing any band. Only the new batch pays
    * the MinHash pipeline; the corpus side is the pre-bucketed band table
    * (exchange-free under the join — asserted in ExtSpec). Downstream
    * verification/clustering composes exactly as for [[minhashCandidates]]
    * output. At 100 TB this is the nightly-crawl shape: index once,
    * probe each increment, append verified survivors to the index.
    */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        newDocs: DataFrame, table: String): DataFrame = {
    val (base, _) = graft.sources.Bucketing.layerParts(
      spark, table, None, Seq("bkey", "doc_id"))
    probeBands(newDocs)
      .transform(lshCandidates(base, None))
      .distinct()
  }

  /** [[dedupAgainstIndex]] over base + delta — the read side of the LSM
    * maintenance posture: candidates reflect every compacted batch plus
    * every not-yet-compacted survivor band in the delta. The probe is
    * SPLIT per part (`probe ⋈ (base ∪ delta) = (probe ⋈ base) ∪
    * (probe ⋈ delta)`): the bucketed base join stays exchange-free — a
    * union-then-join would erase the base's bucketing and re-shuffle the
    * corpus-sized band table on every probe — and only the delta join
    * shuffles, delta-sized, a cost compaction resets to zero. The
    * generation is resolved once and base + watermark read off that
    * single resolution, so a concurrent [[compactLshIndexGen]] swap can
    * never be observed as a double-counted or dropped band
    * ([[sources.Bucketing.layerParts]]).
    */
  def dedupAgainstIndexWith(spark: org.apache.spark.sql.SparkSession,
                            newDocs: DataFrame, table: String,
                            deltaDir: String): DataFrame = {
    val (base, delta) = graft.sources.Bucketing.layerParts(
      spark, table, Some(s"$deltaDir/bands"), Seq("bkey", "doc_id"))
    probeBands(newDocs)
      .transform(lshCandidates(base, delta))
      .distinct()
  }

  /** The probe side's banded keys: (bkey, doc_id_new). */
  private def probeBands(newDocs: DataFrame): DataFrame =
    lshBands(newDocs)
      .select(concat_ws(":", col("band_idx"), col("band_key")).as("bkey"),
        col("doc_id").as("doc_id_new"))

  /** Split candidate generation over the two index parts — see
    * [[dedupAgainstIndexWith]]. Output (doc_id_new, doc_id_corpus), NOT
    * deduplicated (callers `distinct()` after any further composition).
    */
  private def lshCandidates(base: DataFrame, delta: Option[DataFrame])
                           (bands: DataFrame): DataFrame =
    splitPartsCandidates("bkey", base, delta)(bands)

  /** The ONE split-parts probe join behind [[lshCandidates]] and
    * [[substrCandidates]]: probe ⋈ (base ∪ delta) computed per part — a
    * union-then-join would erase the base's bucketing and re-shuffle the
    * stored index on every probe; only the delta join shuffles,
    * delta-sized, a cost compaction resets to zero. Probe carries
    * (`key`, doc_id_new); output (doc_id_new, doc_id_corpus), NOT
    * deduplicated.
    */
  private def splitPartsCandidates(key: String, base: DataFrame,
                                   delta: Option[DataFrame])
                                  (probe: DataFrame): DataFrame = {
    def cand(corpus: DataFrame): DataFrame =
      probe.join(corpus.select(col(key), col("doc_id").as("doc_id_corpus")),
          key)
        .select("doc_id_new", "doc_id_corpus")
    delta.map(d => cand(base).unionByName(cand(d))).getOrElse(cand(base))
  }

  /** Fold the LSH maintenance delta into a NEW generation of the band
    * table — the concurrent-safe compaction of the [[maintainLshDedup]]
    * loop, same discipline as [[Retrieval.compactBm25IndexGen]]:
    * generation N+1 is written from generation N ∪ the unfolded delta
    * batches (nothing overwritten in place), the folded watermark is
    * derived from the SAME delta frame being folded (one file listing —
    * a maintenance batch landing mid-compaction is either wholly folded
    * and covered by the watermark or wholly left in the delta), one view
    * swap cuts over, delta partitions the PREVIOUS generation had folded
    * are GC'd (one cycle of grace for in-flight readers), and generation
    * N−1 retires. Safe under concurrently serving probes and a running
    * maintenance loop.
    */
  def compactLshIndexGen(spark: org.apache.spark.sql.SparkSession,
                         table: String, deltaDir: String,
                         buckets: Int = 8): Unit =
    graft.sources.Bucketing.compactLayerGen(spark, table, s"$deltaDir/bands",
      "bkey", Seq("bkey", "doc_id"), buckets)

  /** Threshold-gated [[compactLshIndexGen]] — the compaction-cadence knob
    * (see [[Retrieval.compactBm25IfNeeded]] for the cost trade it
    * encodes): folds when more than `maxUnfolded` delta batches sit above
    * the current watermark, reports whether it ran.
    */
  def compactLshIfNeeded(spark: org.apache.spark.sql.SparkSession,
                         table: String, deltaDir: String, maxUnfolded: Int,
                         buckets: Int = -1): Boolean =
    graft.sources.IndexLifecycle.compactIfNeeded(spark, table,
      s"$deltaDir/bands", maxUnfolded, buckets,
      compactLshIndexGen(spark, table, deltaDir, _))

  /** Streaming incremental-dedup loop over a persisted LSH index
    * ([[buildLshIndexGen]]): each micro-batch bands
    * its documents, probes base ∪ delta, and splits — docs with ANY banded
    * match are duplicates and are dropped; survivors are written to
    * `survivorsPath` AND their bands land in the `batch_id=`-partitioned
    * delta layer under `deltaDir`, so later batches dedup against earlier
    * survivors too. [[compactLshIndexGen]] periodically folds the delta
    * into a new generation of the bucketed base — the same LSM posture as
    * [[Retrieval.maintainBm25Index]], and like it safe under a compaction
    * running CONCURRENTLY with the loop (the delta write touches only this
    * batch's own partition). This is the nightly-crawl loop as a stream:
    * the corpus side never recomputes its MinHash (paid at build/compact
    * time), each increment pays one banding pass plus the split probe's
    * two joins (bucketed base side exchange-free, delta side delta-sized
    * — see [[dedupAgainstIndexWith]]); compaction resets the delta side
    * to zero.
    *
    * Within-batch near-dups that match nothing in the index BOTH survive —
    * run [[minhashCandidates]] on the increment upstream if intra-batch
    * collapse is also required (micro-batches are small; the index is the
    * scale axis).
    *
    * `autoCompactAt` (> 0) makes the loop SELF-COMPACTING: after each
    * batch's delta write, [[compactLshIfNeeded]] folds once the unfolded
    * delta passes the threshold (bucket count inherited from the current
    * generation) — the fully automated grow-by-append /
    * re-balance-by-compaction posture, requiring the
    * [[buildLshIndexGen]] layout. Crash-safe with replay: a batch
    * redelivered after its fold recomputes against the batch-excluded
    * visible state (its folded rows sit in the base, excluded from
    * verdicts by the doc_id anti-join) and its re-written delta
    * partition stays below the watermark — the replay-after-compaction
    * path the REPLAY specs pin. Default 0 = off (compaction stays an
    * external cadence decision). A threshold of 1 shrinks the
    * one-generation GC grace for in-flight probes to a single
    * micro-batch — size it so a fold cycle outlasts the longest
    * concurrent probe.
    */
  def maintainLshDedup(stream: DataFrame, table: String, deltaDir: String,
                       checkpointDir: String, survivorsPath: String,
                       autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processLshBatch(_, _, table, deltaDir, survivorsPath),
      autoCompactAt = autoCompactAt,
      // the fold inherits the BUILD'S bucket count (strictly, inside the
      // IfNeeded fold branch) — a hardcoded default would silently
      // re-bucket the index on the first auto-fold
      compact = (s, maxUnfolded) => {
        compactLshIfNeeded(s, table, deltaDir, maxUnfolded); ()
      })

  /** One micro-batch of [[maintainLshDedup]], factored out so replay
    * semantics are directly testable. The replay invariants — own-batch
    * delta exclusion pairing with the corpus-side current-batch verdict
    * guard, the dup→survivor derivation, the survivors-before-index write
    * order — live ONCE in [[graft.sources.IndexLifecycle.dedupBatchStep]]
    * (shared with [[processJaccardBatch]] / [[processSubstrBatch]]); this
    * body owns only the family's probe (bands against the visible band
    * layers) and its index increment (the survivors' bands).
    */
  private[graft] def processLshBatch(batch: DataFrame, batchId: Long,
                                     table: String, deltaDir: String,
                                     survivorsPath: String): Unit = {
    val session = batch.sparkSession
    // bands consumed twice (probe + survivor-band append): compute once
    val bands = lshBands(batch)
      .select(concat_ws(":", col("band_idx"), col("band_key")).as("bkey"),
        col("doc_id"))
      .persist()
    try {
      val (base, delta) = graft.sources.Bucketing.layerParts(session, table,
        Some(s"$deltaDir/bands"), Seq("bkey", "doc_id"),
        excludeBatch = Some(batchId))
      graft.sources.IndexLifecycle.dedupBatchStep(batch, batchId,
        survivorsPath,
        probePairs = bands.select(col("bkey"), col("doc_id").as("doc_id_new"))
          .transform(lshCandidates(base, delta)),
        appendIndex = survivors => graft.sources.Bucketing.writeDeltaPartition(
          bands.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"),
          s"$deltaDir/bands", batchId))
    } finally bands.unpersist()
  }

  /** Near-dup clustering: connected components over the LSH candidate-pair
    * graph, each doc labeled with its component's minimum doc_id (the
    * canonical survivor — the "keep list" a dedup pipeline actually needs).
    *
    * Implementation is iterative min-label propagation to a fixpoint; the
    * driver loop is control flow only (each iteration is one distributed
    * join+agg), and iteration count is bounded by component diameter —
    * near-dup clusters are shallow, so this converges in a few rounds even
    * at 100 TB. Output covers docs that appear in at least one pair.
    */
  // tracked eager checkpoints shared across ext operators — see Checkpoints
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) =
    Checkpoints.checkpointTracked(df)
  private def releaseTracked(df: DataFrame, ids: Set[Int]): Unit =
    Checkpoints.releaseTracked(df, ids)

  def dedupClusters(documents: DataFrame): DataFrame =
    minLabelComponents(
      minhashCandidates(documents).select(col("doc_id_a").as("a"), col("doc_id_b").as("b")))
      .select(col("node").as("doc_id"), col("lbl").as("canonical_id"))

  /** Cluster-size histogram over [[dedupClusters]] — the dedup-audit report
    * (how much corpus mass sits in duplicate clusters, and how big the
    * worst families are). Singletons count: docs in no candidate pair are
    * size-1 clusters, so Σ n_docs is the whole corpus and the size-1 row
    * reads off the unduplicated fraction directly. Adds two small hash-agg
    * shuffles on top of the clustering (per-cluster count, then the ≤
    * max-size histogram).
    */
  def dedupClusterSizes(documents: DataFrame): DataFrame =
    clusterSizesFrom(documents, dedupClusters(documents))

  /** The histogram over an ALREADY-materialized clusters frame
    * (doc_id, canonical_id) — the production path: the CC fixpoint runs
    * once ([[dedupClusters]], persisted like any index), and every audit
    * reads its output with two tiny hash-aggs instead of re-running the
    * clustering. [[dedupClusterSizes]] is this over a freshly computed
    * clusters frame, kept standalone so the oracle checks the whole chain
    * end-to-end; an sbt test pins the two forms equal.
    */
  def clusterSizesFrom(documents: DataFrame, clusters: DataFrame): DataFrame =
    documents.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("canonical_id"), col("doc_id")).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Connected components by iterative min-label propagation + pointer
    * jumping over an undirected pair list `(a, b)` — the clustering engine
    * shared by MinHash doc dedup ([[dedupClusters]]) and semantic embedding
    * dedup ([[Similarity.semDedup]]). Returns (node, lbl = component min)
    * covering every node that appears in at least one pair.
    */
  private[ext] def minLabelComponents(pairList: DataFrame): DataFrame = {
    // eager checkpoint: materializes the candidate pipeline ONCE and
    // truncates its lineage, so the union below (and every fixpoint round)
    // reads cached rows instead of re-running the candidate scan per branch
    val (pairs, pairIds) = checkpointTracked(pairList)
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    // init fuses the first propagation round: label = min(self, neighbors)
    var (labels, labelIds) = checkpointTracked(
      edges.groupBy(col("a").as("node"))
        .agg(least(col("a"), min(col("b"))).as("lbl")))
    // Convergence metric: labels only ever decrease under min-propagation,
    // so sum(lbl) strictly decreases until the fixpoint — one tiny
    // aggregation job per round instead of a join + count action.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).first().getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < 50) {
      // neighbor propagation: min label across the edge set
      val viaEdges = edges
        .join(labels.select(col("node").as("b"), col("lbl").as("nlbl")), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(min(col("nlbl")).as("nmin"))
      val prop = labels
        .join(viaEdges, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer jumping: lbl <- label(lbl). Halves remaining component depth
      // every round, so rounds = O(log diameter) instead of O(diameter) —
      // the difference between 4 and 40 shuffle rounds on a long chain.
      // The fixpoint is unchanged (stability under neighbor propagation
      // still forces every label to the component minimum).
      val jumpTable = prop.select(col("node").as("lbl"), col("lbl").as("lbl2"))
      // eager checkpoint: materialize + truncate per-round lineage; once the
      // new round exists, the previous round's blocks are dead — release
      // them immediately instead of waiting for GC-driven ContextCleaner
      val (next, nextIds) = checkpointTracked(prop
        .join(jumpTable, Seq("lbl"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      val s = labelSum(next)
      releaseTracked(labels, labelIds)
      converged = s == prevSum
      prevSum = s
      labels = next
      labelIds = nextIds
      iter += 1
    }
    releaseTracked(pairs, pairIds)
    // the FINAL round's blocks back the returned DataFrame and must stay
    // resident until the caller is done (lineage is truncated — they cannot
    // be recomputed); Bench sweeps all persistent RDDs between queries
    labels.select("node", "lbl")
  }

  /** Keep-best survivor selection over the near-dup clusters: real pipelines
    * keep each cluster's highest-quality member (here: token count as the
    * quality score — the operator takes any integer score), not its lowest
    * id. Deterministic argmax via a struct max (quality desc, then min
    * doc_id — encoded as max(quality, -doc_id)); one extra agg shuffle over
    * cluster labels, which are ≪ corpus.
    */
  def dedupClustersKeepBest(documents: DataFrame): DataFrame =
    keepBestFrom(documents, dedupClusters(documents))

  /** Keep-best over an ALREADY-materialized clusters frame
    * (doc_id, canonical_id) — the production path, same split as
    * [[clusterSizesFrom]]: the CC fixpoint runs once and persists, and
    * survivor selection is one score pass + one agg shuffle over its
    * output. [[dedupClustersKeepBest]] is this over a fresh clustering.
    */
  def keepBestFrom(documents: DataFrame, labels: DataFrame): DataFrame = {
    val score = documents.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("quality"))
    labels.join(score, "doc_id")
      .groupBy(col("canonical_id").as("cluster_id"))
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nid"), col("doc_id"))).as("m"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("m.doc_id").as("best_doc_id"),
        col("m.quality").as("best_quality"), col("cluster_size"))
  }

  // ---- streaming record dedup ----

  /** Exact record-level dedup, batch/streaming unified (the streaming member
    * of the dedup family): a record is a duplicate if its content hash —
    * identity fields, deliberately excluding the surrogate event_id — was
    * already seen. Streaming uses dropDuplicatesWithinWatermark so state is
    * BOUNDED by the watermark delay (the 100 TB posture: an unbounded seen-
    * set is not deployable; duplicates arriving later than the delay pass
    * through, the documented trade). Batch drops exactly.
    */
  def exactDedupRecords(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    // hash an UNAMBIGUOUS encoding: to_json(struct(...)) distinguishes null
    // vs empty and quotes delimiters, so records differing only by a '|'
    // inside a field (or by null vs "") can never collide — concat_ws
    // silently skips nulls and has no field-boundary escaping
    val hashed = events.withColumn("content_hash",
      Exact.md5Hash60(to_json(struct(col("user_id"), col("event_type"), col("props")))))
    if (hashed.isStreaming)
      hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  // ---- SimHash ----

  val SimHashBits = 32

  /** 32-bit SimHash over tokens: per-bit ±1 votes from each token's 32-bit
    * hash, sign-aggregated.
    *
    * Shape matters here: ONE `aggregate` whose input array computes each
    * token hash exactly once per row, folding all 32 bit-counters together.
    * The per-bit-outer formulation (transform over bits, aggregate inside)
    * invites projection collapse to inline the hash array into the bit
    * lambda — recomputing md5 BITS× per token, which turned this operator
    * into minutes at sf0.1.
    */
  def simhash(documents: DataFrame): DataFrame = {
    registerKernels(documents)
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("tok", TextAnalysis.tokens(col("text")))
      .withColumn("simhash", expr("simhash32(tok)"))
      .select("doc_id", "simhash")
  }

  /** SimHash near-dup candidate pairs: band the 32-bit simhash into 4 bytes;
    * two docs are candidates if they share ANY band byte (pigeonhole: any
    * pair within hamming distance 3 shares at least one exact byte), then
    * verified by exact hamming distance bit_count(xor) <= maxHamming.
    *
    * Same scale shape as MinHash-LSH: candidate generation is one
    * aggregation shuffle on (band, byte) with bucket-local pair emission —
    * never O(n²) — and each pair carries both signatures out of the bucket,
    * so no join back to the corpus is needed.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val SimBands = 4
    // pigeonhole recall guarantee: with 4 byte-bands, a pair within hamming
    // distance d shares at least one exact band only when d < SimBands —
    // a larger maxHamming would silently miss qualifying pairs
    require(maxHamming >= 0 && maxHamming < SimBands,
      s"maxHamming must be in [0, ${SimBands - 1}] for $SimBands-band recall, got $maxHamming")
    val sig = simhash(documents) // (doc_id, simhash)
    val bandStructs = (0 until SimBands).map { b =>
      struct(lit(b).as("band_idx"),
        shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("band_byte"))
    }
    // The quadratic bucket-local verification runs in the native kernel
    // (one JVM loop per bucket), and only verified-close pairs are ever
    // emitted as rows — the distinct shuffle carries those, not the
    // quadratic candidate set. This matters because band bytes skew hard on
    // small vocabularies (a single byte value can hold a quarter of the
    // corpus), which an interpreted per-pair lambda turns into seconds.
    registerKernels(sig)
    sig
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("band"))
      .groupBy(col("band.band_idx"), col("band.band_byte"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(s"simhash_pairs_kernel(ds, $maxHamming)")).as("p"))
      .select(col("p.doc_id_a"), col("p.doc_id_b"), col("p.hamming"))
      .distinct()
  }

  /** HOF formulation of the same simhash (kept for differential testing —
    * note the single-aggregate shape whose input computes each token hash
    * once; a per-bit-outer shape invites projection collapse to re-inline
    * the hashes BITS× per token).
    */
  private[graft] def simhashHof(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("tok", TextAnalysis.tokens(col("text")))
      .withColumn("simhash", expr(
        s"""aggregate(
           |  transform(tok, t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as long)),
           |  array_repeat(0L, $SimHashBits),
           |  (acc, h) -> zip_with(acc, sequence(0, ${SimHashBits - 1}),
           |    (a, i) -> a + CASE WHEN (h div shiftleft(1L, i)) % 2 = 1 THEN 1L ELSE -1L END),
           |  acc -> aggregate(zip_with(acc, sequence(0, ${SimHashBits - 1}),
           |    (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END),
           |    0L, (s, x) -> s + x))""".stripMargin))
      .select("doc_id", "simhash")

  // ---- duplicated-span detection (substring-level dedup) ----

  /** Cross-document duplicated SPANS — the substring-granularity dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022): a span is `n` consecutive tokens; a span is duplicated if
    * the same n-gram occurs in any OTHER document. Document-level dedup
    * (exact / MinHash) misses these — a unique page quoting a boilerplate
    * license still trains on the license — so corpus pipelines measure and
    * excise duplicated stretches, not just duplicated documents.
    *
    * Output, one row per input doc (all integers, deterministic):
    *   n_spans      — number of n-gram span starts (0 for docs < n tokens)
    *   n_dup_spans  — span starts whose n-gram occurs in another doc
    *   longest_run  — longest stretch of CONSECUTIVE duplicated starts
    *                  (a run of r starts = a duplicated substring of
    *                  r + n - 1 tokens)
    *   n_dup_tokens — exact token count covered by ≥1 duplicated span
    *                  (interval union, not per-span sums)
    *
    * Scale shape: span emission is narrow (one posexplode, ~tokens× rows of
    * (doc, pos, 60-bit hash) — no text leaves the scan); "duplicated" is
    * one hash-aggregate keyed on the uniform 60-bit hash carrying
    * (min_doc, max_doc) — the min≠max trick, so no count-distinct
    * expansion and the shuffle payload is 3 longs per distinct n-gram (the
    * suffix-array pass of the paper becomes this one aggregation); the
    * mark-back is a semi join hash⋈hash; everything after is windows and
    * aggregations partitioned by doc_id, which AQE plans off one exchange.
    * Interval-union coverage uses the gaps-and-islands lag trick — equal
    * interval lengths make "gap > n-1 between consecutive starts" the exact
    * island boundary — so coverage costs one window, never an n× position
    * explode.
    */
  /** Default span length, in tokens. The paper uses 50-token spans over BPE
    * tokens at web scale; 8 keeps the test corpora's ~50-token docs from
    * being a single span while exercising multi-run coverage.
    */
  val SpanN = 8

  /** The narrow (doc_id, pos, h) span table — every n-token window's
    * position and 60-bit engine-portable hash — shared by [[spanDups]]
    * (per-doc duplication stats), [[substrDups]] (cross-doc run pairs)
    * and [[substrApply]] (run suppression) so the three can never drift
    * on tokenization or span hashing. Public because it is the
    * materialization unit: the three consumers each scan it several
    * times, so a pipeline running more than one of them should persist
    * it ONCE (parquet / [[TrainedStore.cached]]) and feed the `*From`
    * variants — at 100 TB the tokenize+posexplode corpus scan is the
    * dominant shared cost.
    */
  def spanTable(documents: DataFrame, n: Int = SpanN): DataFrame =
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $n), j -> concat_ws(' ', slice(toks, j + 1, $n)))")))
      .toDF("doc_id", "pos", "span")
      .select(col("doc_id"), col("pos"), Exact.md5Hash60(col("span")).as("h"))

  def spanDups(documents: DataFrame, n: Int = SpanN): DataFrame = {
    // materialized once: three consumers below (the dup-hash aggregate, the
    // mark-back join, the per-doc totals) would otherwise each re-run the
    // tokenize+posexplode scan — this narrow (doc, pos, hash) table is the
    // span table the substring-dedup literature materializes anyway (its
    // blocks back the returned frame; Bench sweeps between queries)
    val (spans, _) = checkpointTracked(spanTable(documents, n))
    spanDupsFrom(documents, spans, n)
  }

  /** [[spanDups]] over an already-materialized [[spanTable]] — the form a
    * pipeline running several span consumers uses (persist the span scan
    * once, feed all of them).
    */
  def spanDupsFrom(documents: DataFrame, spans: DataFrame,
                   n: Int = SpanN): DataFrame = {
    // the nested run/island roll-up below assumes runs nest within
    // islands, which holds only for n >= 2 (islflag fires on gap > n-1,
    // runflag on gap > 1; at n == 1 islands would be FINER than runs and
    // the (doc, isl, run) grouping would split runs, underestimating
    // longest_run) — guard the precondition instead of silently
    // mis-aggregating (ADVICE r21). n == 1 spans are single tokens, for
    // which the span-dedup semantics are meaningless anyway.
    require(n >= 2, s"spanDupsFrom needs span width n >= 2 (got $n): " +
      "the run/island roll-up assumes runs nest within islands")
    import org.apache.spark.sql.expressions.Window
    val dup = spans.groupBy("h")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .where(col("d0") =!= col("d1"))
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val marked = spans.join(dup, Seq("h"), "left_semi")
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("runflag",
        when(col("prev").isNull || col("pos") - col("prev") > 1, 1L).otherwise(0L))
      .withColumn("islflag",
        when(col("prev").isNull || col("pos") - col("prev") > n - 1, 1L).otherwise(0L))
      .withColumn("run_id", sum("runflag").over(w))
      .withColumn("isl_id", sum("islflag").over(w))
    // runs NEST within islands (runflag fires on every gap > 1, islflag
    // only on gaps > n-1), so run and island stats roll up as ONE nested
    // aggregation chain riding the window's doc partitioning — the former
    // two-consumer form evaluated the window subtree twice and joined the
    // halves back (r21: one window pass, one fewer doc-keyed join)
    val perRun = marked.groupBy("doc_id", "isl_id", "run_id")
      .agg(count(lit(1)).as("rlen"),
        min("pos").as("p0"), max("pos").as("p1"))
    val perIsl = perRun.groupBy("doc_id", "isl_id")
      .agg(max("rlen").as("max_rlen"),
        (max("p1") - min("p0") + n).cast("long").as("cov"),
        sum("rlen").as("cnt"))
    val dupStats = perIsl.groupBy("doc_id")
      .agg(max("max_rlen").as("longest_run"),
        sum("cov").as("n_dup_tokens"), sum("cnt").as("n_dup_spans"))
    documents.select("doc_id")
      .join(spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans")), Seq("doc_id"), "left")
      .join(dupStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** Hot-anchor cap for [[substrDups]]: an n-gram present in MORE than
    * this many documents is boilerplate (licenses, navigation chrome,
    * disclaimers) and is excluded from pair generation — the analogue of
    * the behavior family's `CooccurCap` hub guard. Without it one
    * boilerplate n-gram shared by D documents generates D²/2 pair rows:
    * the cap bounds every anchor bucket's pair fan-out at
    * maxAnchorDocs²/2 regardless of corpus size (and the runs a capped
    * anchor would have anchored are still found through their other,
    * non-boilerplate n-grams unless the ENTIRE run is boilerplate — the
    * intended suppression).
    */
  val SubstrAnchorCap = 16

  /** Cross-document exact common-substring runs — the LLM-pipeline
    * workhorse next to the per-doc [[spanDups]] readout: for each
    * document pair sharing at least one exact run of ≥ n consecutive
    * tokens, the longest shared run (in tokens), the number of maximal
    * shared runs, and their summed token length (per-diagonal maximal
    * runs; overlaps between DIFFERENT runs are not unioned — coverage
    * union per doc is [[spanDups]]' n_dup_tokens). Downstream suppression
    * (cut the run from one side, drop the younger doc, …) consumes these
    * pairs.
    *
    * Matching is exact-by-construction at the n-gram level: two docs
    * share a run of L ≥ n tokens iff they share L − n + 1 CONSECUTIVE
    * n-gram anchors on one (pos_a − pos_b) diagonal, so maximal runs are
    * gaps-and-islands over pa within each (pair, diagonal) — run length
    * = island size + n − 1. The suffix-array sweep of the substring-dedup
    * literature becomes: one narrow span scan (no text leaves the scan —
    * 60-bit hashes), one anchor-keyed equi-join (NEVER all-pairs: only
    * docs sharing an anchor meet), windows/aggs over candidate-sized
    * frames. At 100 TB the join shuffles (doc, pos) pairs keyed on the
    * anchor hash; the [[SubstrAnchorCap]] guard bounds every bucket.
    */
  /** Within-doc positional cap for [[substrDups]]: at most this many
    * POSITIONS of one n-gram per (anchor, doc) enter pair generation
    * (keep-first-K by position). [[SubstrAnchorCap]] bounds distinct docs
    * per anchor but not positions per doc — an internally-repetitive
    * document (logs, tables, templated rows) repeating one n-gram P
    * times would meet a similar partner P×P′ candidate rows PER SHARED
    * ANCHOR before the islands pass. With both caps a single anchor
    * bucket is bounded at (maxAnchorDocs · maxDocPositions)² rows
    * regardless of corpus shape. Generous by default: the cap only binds
    * on within-doc REPETITION (a long non-periodic shared run puts each
    * position under a DIFFERENT anchor hash), and the first K occurrences
    * still anchor every cross-doc run that starts in them — the runs a
    * capped position would have anchored are found through the runs'
    * other, non-repeated anchors unless the run is itself periodic
    * boilerplate (the intended suppression, as with the hot-anchor cap).
    */
  val SubstrPosCap = 8

  /** The anchors shared by more than `maxAnchorDocs` distinct docs in
    * `spansH` — the boilerplate set both substring caps suppress.
    */
  private def hotAnchors(spansH: DataFrame, maxAnchorDocs: Int): DataFrame =
    spansH.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > maxAnchorDocs)
      .select("h")

  /** The keep-first-K per-(anchor, doc) position cap. Input must already
    * be hash-partitioned on `h` (the subset rule satisfies the window
    * from that partitioning — see the [[substrRunIslands]] exchange
    * note). Shared by every capped form — the one-shot and persisted
    * decontamination probes depend on NUMBERING-identical caps.
    */
  private def posCapped(spansH: DataFrame, maxDocPositions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spansH
      .withColumn("pn", row_number().over(
        Window.partitionBy("h", "doc_id").orderBy("pos")))
      .where(col("pn") <= maxDocPositions)
      .drop("pn")
  }

  /** Hot-anchor anti-join + [[posCapped]] (the anti-join removes whole
    * `h` groups, so it cannot change any other group's numbering).
    */
  private def cappedSpans(spansH: DataFrame, hot: DataFrame,
                          maxDocPositions: Int): DataFrame =
    posCapped(spansH.join(hot, Seq("h"), "left_anti"), maxDocPositions)

  /** Gaps-and-islands over an anchor-pair frame (doc_a, doc_b, pa, diag):
    * one row per maximal run with the run's start in each doc. Within one
    * (pair, diagonal), pa is unique (pb = pa − diag), so row_number's
    * islands key (pa − rn) is exact: consecutive anchors share it, any
    * gap breaks it.
    */
  private def runIslandsOf(pairs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    pairs
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"),
        (col("pa") - col("rn")).as("isl"))
      .agg((count(lit(1)) + (n - 1).toLong).as("run_len"),
        min("pa").as("pa_start"))
      .select(col("doc_a"), col("doc_b"), col("diag"), col("run_len"),
        col("pa_start"), (col("pa_start") - col("diag")).as("pb_start"))
  }

  /** Maximal shared-run islands within ONE corpus — the candidate core
    * of [[substrDups]] (pair evidence) and [[substrApply]] (run
    * suppression): capped self-join on the anchor, then [[runIslandsOf]].
    * Public because it is the natural per-corpus ARTIFACT between the two
    * consumers (the [[spanTable]] precedent, one level up): computing the
    * islands once and feeding both tails halves the shared cost — the
    * tails are candidate-sized aggregates.
    */
  def substrRunIslands(spans: DataFrame, n: Int = SpanN,
                       maxAnchorDocs: Int = SubstrAnchorCap,
                       maxDocPositions: Int = SubstrPosCap): DataFrame = {
    // ONE corpus-sized exchange, hash on the anchor: the hot aggregate
    // (groupBy h), the anti join, the per-(h, doc) position-cap window
    // (ClusteredDistribution's subset rule — hash(h) co-locates every
    // (h, doc) group) and BOTH sides of the pair self-join are all
    // satisfied by this partitioning; left to EnsureRequirements each
    // would plan its own shuffle of the span-sized frame (the window's
    // (h, doc_id) exchange does not satisfy the join's h requirement)
    val spansH = spans.repartition(col("h"))
    val ok = cappedSpans(spansH, hotAnchors(spansH, maxAnchorDocs),
      maxDocPositions)
    val pairs = ok
      .select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(ok.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "h")
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    runIslandsOf(pairs, n)
  }

  def substrDups(documents: DataFrame, n: Int = SpanN,
                 maxAnchorDocs: Int = SubstrAnchorCap,
                 maxDocPositions: Int = SubstrPosCap): DataFrame = {
    // materialized once: the hot-anchor aggregate and both join sides
    // would otherwise re-run the tokenize+posexplode scan
    val (spans, _) = checkpointTracked(spanTable(documents, n))
    substrDupsFrom(spans, n, maxAnchorDocs, maxDocPositions)
  }

  /** [[substrDups]] over an already-materialized [[spanTable]] (see
    * [[spanDupsFrom]] — one persisted span scan feeds every consumer).
    */
  def substrDupsFrom(spans: DataFrame, n: Int = SpanN,
                     maxAnchorDocs: Int = SubstrAnchorCap,
                     maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrDupsFromIslands(
      substrRunIslands(spans, n, maxAnchorDocs, maxDocPositions))

  /** [[substrDups]]' aggregate tail over an already-materialized
    * [[substrRunIslands]] frame.
    */
  def substrDupsFromIslands(islands: DataFrame): DataFrame =
    islands
      .groupBy("doc_a", "doc_b")
      .agg(max("run_len").as("longest_run"),
        count(lit(1)).as("n_runs"),
        sum("run_len").as("sum_run_tokens"))
      .orderBy("doc_a", "doc_b")

  /** Substring-dedup SUPPRESSION — the apply step that consumes
    * [[substrDups]]' pair evidence (the step the substring-dedup pipeline
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", actually runs on the corpus): every duplicated run of ≥ n
    * consecutive tokens is CUT from the YOUNGER doc of each pair (the
    * higher doc_id — the elder keeps its text), and the cleaned corpus is
    * emitted as (doc_id, n_cut_tokens, clean_text) over the NORMALIZED
    * token stream, one row per input document. A doc acting as the
    * younger side of several pairs loses the UNION of its runs —
    * overlapping/adjacent cut ranges merge before application, so no
    * token is cut twice and `n_cut_tokens` is the exact removed-token
    * count. A whole-doc duplicate cleans to the empty string.
    *
    * Scale shape: the candidate core is [[substrRunIslands]] (anchor-keyed
    * equi-join, both caps — never all-pairs); cut ranges then merge
    * per-doc with ONE window (the gaps-and-islands interval-union trick),
    * and application is an equi-join of the corpus against a per-doc
    * range ARRAY (runs per doc are pair-evidence-sized, so the array is
    * small) followed by a map-side positional `filter` — no token
    * explode, no range join, no regroup of corpus-sized frames.
    */
  def substrApply(documents: DataFrame, n: Int = SpanN,
                  maxAnchorDocs: Int = SubstrAnchorCap,
                  maxDocPositions: Int = SubstrPosCap): DataFrame = {
    val (spans, _) = checkpointTracked(spanTable(documents, n))
    substrApplyFrom(documents, spans, n, maxAnchorDocs, maxDocPositions)
  }

  /** Interval union per doc over a (doc_id, s, e) range frame: a range
    * opens a new merged group iff it starts past the running max end + 1
    * of every range before it (adjacent ranges merge — a cut/coverage is
    * contiguous either way). One window + one aggregate, candidate-sized.
    */
  private def mergeRanges(ranges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    ranges
      .withColumn("pmax",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
          when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L)
            .otherwise(0L)).over(w))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("s"), max("e").as("e"))
  }

  /** [[substrApply]] over an already-materialized [[spanTable]]. */
  def substrApplyFrom(documents: DataFrame, spans: DataFrame,
                      n: Int = SpanN,
                      maxAnchorDocs: Int = SubstrAnchorCap,
                      maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrApplyFromIslands(documents,
      substrRunIslands(spans, n, maxAnchorDocs, maxDocPositions))

  /** [[substrApply]]'s suppression tail over an already-materialized
    * [[substrRunIslands]] frame.
    */
  def substrApplyFromIslands(documents: DataFrame,
                             islands: DataFrame): DataFrame = {
    // the younger doc of each pair loses the run: token range
    // [pb_start, pb_start + run_len - 1] in doc_b
    val merged = mergeRanges(islands.select(col("doc_b").as("doc_id"),
      col("pb_start").as("s"),
      (col("pb_start") + col("run_len") - 1).as("e")))
    val cuts = merged.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"),
        sum(col("e") - col("s") + 1).as("n_cut_tokens"))
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cut_tokens"), lit(0L)).as("n_cut_tokens"),
        when(col("cuts").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ", expr(
            "filter(toks, (t, i) -> NOT exists(cuts, c -> i >= c.s AND i <= c.e))")))
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** Substring-level decontamination — the eval-leakage form of the run
    * detector: every TRAIN doc sharing an exact run of ≥ n consecutive
    * tokens with ANY benchmark doc is flagged with its longest shared
    * run, the union token coverage of all its contaminated ranges
    * (overlaps between different benchmark hits merge — no token counts
    * twice), and the number of distinct benchmark docs hit. The n-gram
    * overlap forms ([[Curation.decontaminate]] and its bloom variant)
    * count SET overlap per doc; this one proves CONTIGUOUS leakage — the
    * criterion the substring-dedup pipeline (Lee et al.) applies between
    * train and eval, and the adjudicator a flagged bloom hit escalates
    * to. Only contaminated docs are emitted.
    *
    * Scale shape: two span scans, one anchor-keyed equi-join BETWEEN the
    * corpora (the benchmark side is eval-suite-sized — orders of
    * magnitude below the train corpus; only train spans whose anchor
    * exists in the benchmark survive the join), islands + interval-union
    * over candidate-sized frames. The hot-anchor cap is computed on the
    * BENCHMARK side (an anchor across > cap benchmark docs is suite
    * boilerplate — instructions, headers; a run is still caught through
    * its rarer anchors) and the position cap applies per (anchor, doc)
    * on both sides.
    */
  def substrDecontaminate(train: DataFrame, benchmark: DataFrame,
                          n: Int = SpanN,
                          maxAnchorDocs: Int = SubstrAnchorCap,
                          maxDocPositions: Int = SubstrPosCap): DataFrame = {
    // only the BENCH spans checkpoint (consumed twice: the hot aggregate
    // and the capped join side); the train spans flow through one plan
    val (sb, _) = checkpointTracked(spanTable(benchmark, n))
    substrDecontaminateFrom(spanTable(train, n), sb, n, maxAnchorDocs,
      maxDocPositions)
  }

  /** [[substrDecontaminate]] over already-materialized [[spanTable]]s. */
  def substrDecontaminateFrom(trainSpans: DataFrame, benchSpans: DataFrame,
                              n: Int = SpanN,
                              maxAnchorDocs: Int = SubstrAnchorCap,
                              maxDocPositions: Int = SubstrPosCap): DataFrame = {
    val sbH = benchSpans.repartition(col("h"))
    val hot = hotAnchors(sbH, maxAnchorDocs)
    val okB = cappedSpans(sbH, hot, maxDocPositions)
    val stH = trainSpans.repartition(col("h"))
    val okT = cappedSpans(stH, hot, maxDocPositions)
    decontOfCapped(okT, okB, n).orderBy("doc_id")
  }

  /** The shared probe tail of the one-shot and persisted-index
    * decontamination forms: capped train spans × capped bench spans →
    * islands → per-train-doc verdicts. Train doc = doc_a (runs read in
    * TRAIN coordinates), bench = doc_b.
    */
  private[graft] def decontOfCapped(okT: DataFrame, okB: DataFrame,
                                    n: Int): DataFrame = {
    val pairs = okT
      .select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(okB.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "h")
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val islands = runIslandsOf(pairs, n)
    // ONE aggregation over the islands: longest run and bench-doc count
    // are plain aggregates, and the interval-union coverage folds over
    // the doc's SORTED ranges in an expression (each range contributes
    // its tokens past max(previous end, its start − 1) — the same union
    // [[mergeRanges]] computes with a window, but without a second
    // consumption of the islands subtree: two consumers would clone the
    // whole probe upstream — span scan, anchor join and all — into both
    // branches of a self-join. Ranges per doc are pair-evidence-sized.
    islands
      .groupBy(col("doc_a").as("doc_id"))
      .agg(max("run_len").as("longest_run"),
        countDistinct(col("doc_b")).as("n_bench_docs"),
        sort_array(collect_list(struct(col("pa_start").as("s"),
          (col("pa_start") + col("run_len") - 1).as("e")))).as("rs"))
      .withColumn("contaminated_tokens", expr(
        """aggregate(rs,
          |  struct(CAST(-1 AS BIGINT) AS e, CAST(0 AS BIGINT) AS tot),
          |  (a, r) -> struct(greatest(a.e, r.e) AS e,
          |    a.tot + greatest(CAST(0 AS BIGINT),
          |      r.e - greatest(a.e, r.s - 1))),
          |  a -> a.tot)""".stripMargin))
      .select("doc_id", "longest_run", "contaminated_tokens", "n_bench_docs")
  }

  /** Persist the benchmark's CAPPED span table bucketed by the anchor
    * hash — the build-once half of repeated-crawl decontamination: the
    * eval suite is fixed while crawls keep arriving, so the benchmark's
    * tokenize/hot-anchor/position-cap work should be a one-time job and
    * every probe a scan ([[Similarity.buildIvfIndex]]'s posture). Hot
    * anchors and both caps are BUILD properties baked into the stored
    * rows; probes see exactly the one-shot candidates (a hot train
    * anchor simply matches nothing — the inner join IS the anti-join).
    */
  def buildSubstrBenchIndex(benchmark: DataFrame, table: String,
                            n: Int = SpanN,
                            maxAnchorDocs: Int = SubstrAnchorCap,
                            maxDocPositions: Int = SubstrPosCap,
                            buckets: Int = 8): Unit = {
    val (sb, sbIds) = checkpointTracked(spanTable(benchmark, n))
    try buildSubstrBenchIndexFromSpans(sb, table, maxAnchorDocs,
      maxDocPositions, buckets)
    finally Checkpoints.releaseTracked(sb, sbIds)
  }

  /** [[buildSubstrBenchIndex]] over an already-materialized [[spanTable]]
    * — no internal checkpoint: the caller's artifact is the guard against
    * the build's double consumption (hot aggregate + capped write side).
    */
  def buildSubstrBenchIndexFromSpans(spans: DataFrame, table: String,
                                     maxAnchorDocs: Int = SubstrAnchorCap,
                                     maxDocPositions: Int = SubstrPosCap,
                                     buckets: Int = 8): Unit = {
    val sbH = spans.repartition(col("h"))
    graft.sources.Bucketing.writeBucketed(
      cappedSpans(sbH, hotAnchors(sbH, maxAnchorDocs), maxDocPositions),
      table, "h", buckets)
  }

  /** [[buildSubstrBenchIndex]] behind the generation-swap lifecycle
    * ([[graft.sources.IndexLifecycle.buildGeneration]]): eval suites get
    * REVISED — new tasks added, leaked items retired — and a benchmark
    * refresh must not stop the crawl probes consuming the index. The
    * capped span table lands as a numbered generation, one view repoint
    * cuts over, and the replaced generation survives a cycle for
    * in-flight probes (the same posture as the other five persisted
    * families; this index has no delta layer — a benchmark changes by
    * rebuild, not by append).
    */
  def buildSubstrBenchIndexGen(benchmark: DataFrame, table: String,
                               n: Int = SpanN,
                               maxAnchorDocs: Int = SubstrAnchorCap,
                               maxDocPositions: Int = SubstrPosCap,
                               buckets: Int = 8): Unit = {
    val spark = benchmark.sparkSession
    graft.sources.IndexLifecycle.buildGeneration(spark, Seq(table),
      write = phys => buildSubstrBenchIndex(benchmark, phys.head, n,
        maxAnchorDocs, maxDocPositions, buckets))
  }

  /** [[buildSubstrBenchIndexGen]] over an already-materialized
    * [[spanTable]] — for callers holding a shared span artifact that
    * would otherwise be re-tokenized by the build's own corpus scan.
    */
  def buildSubstrBenchIndexGenFromSpans(spans: DataFrame, table: String,
                                        maxAnchorDocs: Int = SubstrAnchorCap,
                                        maxDocPositions: Int = SubstrPosCap,
                                        buckets: Int = 8): Unit = {
    val spark = spans.sparkSession
    graft.sources.IndexLifecycle.buildGeneration(spark, Seq(table),
      write = phys => buildSubstrBenchIndexFromSpans(spans, phys.head,
        maxAnchorDocs, maxDocPositions, buckets))
  }

  /** [[substrDecontaminate]] against a persisted [[buildSubstrBenchIndex]]
    * table (or a [[buildSubstrBenchIndexGen]] view — `spark.table`
    * resolves it and the bucket count reads off the serving generation):
    * the index side reads co-located off the bucketed layout (no
    * shuffle — only the train side exchanges, on the anchor hash), and
    * the train-side position cap is numbering-identical to the one-shot
    * form (per-(h, doc) ranks are independent across anchors, so the
    * absence of the build-time hot anti-join on the probe side changes
    * nothing — hot anchors are not in the index to meet).
    */
  def substrDecontaminateAgainstIndex(
      spark: org.apache.spark.sql.SparkSession, train: DataFrame,
      table: String, n: Int = SpanN,
      maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrDecontaminateAgainstIndexFrom(spark, spanTable(train, n), table,
      n, maxDocPositions)

  /** [[substrDecontaminateAgainstIndex]] over an already-materialized
    * train [[spanTable]] — index on one side, span artifact on the
    * other: the probe pays only the capped anchor join. The probe side
    * repartitions to the INDEX'S OWN bucket count: a session-partition
    * repartition (e.g. 32 at driver shape vs an 8-bucket index) makes
    * the planner disable bucketed reading and re-shuffle the stored
    * spans on every probe — exactly the cost the index pre-pays; at the
    * bucket count the one exchange serves the cap window (subset rule)
    * AND co-partitions the join against the bucketed scan.
    */
  def substrDecontaminateAgainstIndexFrom(
      spark: org.apache.spark.sql.SparkSession, trainSpans: DataFrame,
      table: String, n: Int = SpanN,
      maxDocPositions: Int = SubstrPosCap): DataFrame =
    decontAgainstIndexSpans(spark, trainSpans, table, n, maxDocPositions)
      .orderBy("doc_id")

  /** The sort-free core of [[substrDecontaminateAgainstIndexFrom]] — the
    * streaming gate consumes verdicts through hash joins that re-shuffle
    * anyway, so its per-batch hot path must not pay the public entry
    * points' deterministic orderBy.
    */
  private[graft] def decontAgainstIndexSpans(
      spark: org.apache.spark.sql.SparkSession, trainSpans: DataFrame,
      table: String, n: Int, maxDocPositions: Int): DataFrame = {
    // resolve the generation ONCE and read bucket count AND data off that
    // single resolution (the dedupAgainstIndexWith discipline): resolving
    // the view per-read would let a concurrent benchmark rebuild swap
    // between them — a rebucketed new generation paired with the OLD
    // bucket count repartitions the probe to a stale count, and the
    // mismatch re-shuffles the stored spans on every probe
    val phys = graft.sources.Bucketing.resolvePhysical(spark, table)
    val buckets = graft.sources.Bucketing.inheritedBucketCount(spark, phys)
    val okT = posCapped(trainSpans.repartition(buckets, col("h")),
      maxDocPositions)
    decontOfCapped(okT, spark.table(phys), n)
  }

  /** Anchor-candidate generation over the two span-index parts — the
    * substring instance of [[splitPartsCandidates]].
    */
  private def substrCandidates(base: DataFrame, delta: Option[DataFrame])
                              (probe: DataFrame): DataFrame =
    splitPartsCandidates("h", base, delta)(probe)

  /** Anchor-sharing pairs between `newDocs` and the stored corpus of a
    * [[buildSubstrBenchIndexGen]] span index — the read-only pair-evidence
    * probe of the substring family: sharing ONE stored anchor proves ≥ n
    * shared consecutive tokens by construction ([[spanTable]] windows), so
    * the verdict is the capped anchor join alone, no islands pass. Output
    * one row per (doc_id_new, doc_id_corpus), distinct. The probe side
    * takes the position cap only; the hot-anchor suppression is inherited
    * from the index (build-time anchors past the cap are not stored, so a
    * boilerplate probe anchor matches nothing) — the
    * [[substrDecontaminateAgainstIndex]] cap placement.
    */
  def substrAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                         newDocs: DataFrame, table: String, n: Int = SpanN,
                         maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrProbeParts(spark, spanTable(newDocs, n), table, None,
      maxDocPositions)

  /** [[substrAgainstIndex]] over base + delta — the read side of the
    * [[maintainSubstrDedup]] LSM posture: pairs reflect every compacted
    * batch plus every not-yet-compacted survivor span in the delta. The
    * generation is resolved once and bucket count + base read off that
    * single resolution (the [[dedupAgainstIndexWith]] discipline).
    */
  def substrAgainstIndexWith(spark: org.apache.spark.sql.SparkSession,
                             newDocs: DataFrame, table: String,
                             deltaDir: String, n: Int = SpanN,
                             maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrProbeParts(spark, spanTable(newDocs, n), table, Some(deltaDir),
      maxDocPositions)

  /** [[substrAgainstIndex]] over an already-materialized probe-side
    * [[spanTable]] — the probe pays only the capped anchor join.
    */
  def substrAgainstIndexFrom(spark: org.apache.spark.sql.SparkSession,
                             newSpans: DataFrame, table: String,
                             maxDocPositions: Int = SubstrPosCap): DataFrame =
    substrProbeParts(spark, newSpans, table, None, maxDocPositions)

  private def substrProbeParts(spark: org.apache.spark.sql.SparkSession,
                               newSpans: DataFrame, table: String,
                               deltaDir: Option[String],
                               maxDocPositions: Int): DataFrame = {
    val b = graft.sources.Bucketing
    val phys = b.resolvePhysical(spark, table)
    val buckets = b.inheritedBucketCount(spark, phys)
    val (base, delta) = b.layerParts(spark, phys,
      deltaDir.map(d => s"$d/spans"), Seq("doc_id", "pos", "h"))
    // bucket-matched probe exchange: satisfies the cap window AND
    // co-partitions the join against the bucketed scan (see
    // substrDecontaminateAgainstIndexFrom)
    val probe = posCapped(newSpans.repartition(buckets, col("h")),
        maxDocPositions)
      .select(col("h"), col("doc_id").as("doc_id_new"))
    substrCandidates(base, delta)(probe).distinct()
  }

  /** Streaming exact-substring dedup, LSM-style like [[maintainLshDedup]]:
    * each micro-batch's documents probe their capped spans against the
    * persisted corpus span index ([[buildSubstrBenchIndexGen]] — a span
    * index is a span index, whether the stored corpus is an eval suite or
    * a crawl) plus the `batch_id=`-partitioned delta of earlier batches'
    * survivors. A doc sharing even ONE anchor with the visible corpus
    * shares ≥ n consecutive tokens by construction — the drop verdict
    * needs no islands pass, just the anchor join. Survivor docs land
    * under `survivorsPath` and their capped spans under
    * `{deltaDir}/spans`, so later batches dedup against earlier
    * survivors; [[compactSubstrIndexGen]] periodically folds the delta
    * (re-applying the hot-anchor cap over the grown corpus — an anchor
    * that BECAME boilerplate through appends is suppressed at the fold).
    * Within-batch twins both survive, like the LSH/Jaccard loops.
    */
  def maintainSubstrDedup(stream: DataFrame, table: String, deltaDir: String,
                          checkpointDir: String, survivorsPath: String,
                          n: Int = SpanN,
                          maxDocPositions: Int = SubstrPosCap,
                          autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processSubstrBatch(_, _, table, deltaDir, survivorsPath,
        n, maxDocPositions),
      autoCompactAt = autoCompactAt,
      compact = (s, maxUnfolded) => {
        compactSubstrIfNeeded(s, table, deltaDir, maxUnfolded); ()
      })

  /** One micro-batch of [[maintainSubstrDedup]], factored out so replay
    * semantics are directly testable. The replay invariants live ONCE in
    * [[graft.sources.IndexLifecycle.dedupBatchStep]] (shared with
    * [[processLshBatch]] / [[processJaccardBatch]]); this body owns the
    * family's probe (capped batch spans against the visible span layers)
    * and its index increment (the survivors' spans).
    */
  private[graft] def processSubstrBatch(batch: DataFrame, batchId: Long,
                                        table: String, deltaDir: String,
                                        survivorsPath: String, n: Int,
                                        maxDocPositions: Int): Unit = {
    val session = batch.sparkSession
    val b = graft.sources.Bucketing
    // resolve the generation ONCE (bucket count + base read off it — the
    // single-resolution discipline under a concurrently folding index)
    val phys = b.resolvePhysical(session, table)
    // batch spans consumed twice (probe + survivor-span append)
    val (bs, bsIds) = Checkpoints.checkpointTracked(cappedBatchSpans(batch, n,
      maxDocPositions, b.inheritedBucketCount(session, phys)))
    try substrDedupStep(batch, batchId, bs, phys, deltaDir, survivorsPath)
    finally Checkpoints.releaseTracked(bs, bsIds)
  }

  /** A batch's position-capped [[spanTable]], hash-partitioned on `h` at
    * `buckets` — an index's bucket count, so the one exchange serves the
    * cap window (subset rule) AND co-partitions the probe against that
    * index's bucketed scan.
    */
  private[graft] def cappedBatchSpans(batch: DataFrame, n: Int,
                                      maxDocPositions: Int,
                                      buckets: Int): DataFrame =
    posCapped(spanTable(batch, n).repartition(buckets, col("h")),
      maxDocPositions)

  /** The dedup half of [[processSubstrBatch]] over materialized
    * [[cappedBatchSpans]] and a resolved physical generation `phys`.
    * `spans` may carry docs outside `batch` (the crawl body probes all of
    * its batch's spans): their pairs name no `batch` doc on the new side,
    * and only `batch` docs can survive or reach the delta.
    */
  private[graft] def substrDedupStep(batch: DataFrame, batchId: Long,
                                     spans: DataFrame, phys: String,
                                     deltaDir: String,
                                     survivorsPath: String): Unit = {
    val b = graft.sources.Bucketing
    val (basePart, deltaPart) = b.layerParts(batch.sparkSession, phys,
      Some(s"$deltaDir/spans"), Seq("doc_id", "pos", "h"),
      excludeBatch = Some(batchId))
    // base joined SEPARATELY from the delta so the bucketed base reads
    // co-located (the split-parts discipline all the families share)
    graft.sources.IndexLifecycle.dedupBatchStep(batch, batchId,
      survivorsPath,
      probePairs = substrCandidates(basePart, deltaPart)(
        spans.select(col("h"), col("doc_id").as("doc_id_new"))),
      appendIndex = survivors => b.writeDeltaPartition(
        spans.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"),
        s"$deltaDir/spans", batchId))
  }

  /** Generation-swap compaction of the streaming span index: the delta
    * folds into a new bucketed generation with the hot-anchor cap
    * RE-APPLIED over the unioned corpus — an anchor that crossed the
    * boilerplate threshold through appends (base counted it at build
    * time, each delta batch only saw its own docs) is suppressed here,
    * restoring the build-time invariant for the folded base.
    */
  def compactSubstrIndexGen(spark: org.apache.spark.sql.SparkSession,
                            table: String, deltaDir: String,
                            buckets: Int = 8,
                            maxAnchorDocs: Int = SubstrAnchorCap): Unit =
    graft.sources.Bucketing.compactLayerGen(spark, table,
      s"$deltaDir/spans", "h", Seq("doc_id", "pos", "h"), buckets,
      compact = true,
      fold = u => u.join(hotAnchors(u, maxAnchorDocs), Seq("h"), "left_anti"))

  /** Threshold-gated [[compactSubstrIndexGen]] — the family's cadence
    * knob. True only when the watermark advanced.
    */
  def compactSubstrIfNeeded(spark: org.apache.spark.sql.SparkSession,
                            table: String, deltaDir: String,
                            maxUnfolded: Int, buckets: Int = -1): Boolean =
    graft.sources.IndexLifecycle.compactIfNeeded(spark, table,
      s"$deltaDir/spans", maxUnfolded, buckets,
      compactSubstrIndexGen(spark, table, deltaDir, _))

  /** Streaming decontamination gate over a fixed benchmark span index
    * ([[buildSubstrBenchIndexGen]]): each micro-batch of crawl documents
    * splits into CLEAN docs (no ≥ n-token run shared with any benchmark
    * doc) under `cleanPath` and QUARANTINED docs under `quarantinePath`,
    * the latter carrying the [[substrDecontaminateAgainstIndex]] verdict
    * columns (longest_run, contaminated_tokens, n_bench_docs) for audit.
    * Unlike [[maintainSubstrDedup]] the index never grows — an eval suite
    * changes by [[buildSubstrBenchIndexGen]] rebuild (picked up by the
    * next batch through the view), not by append — so this loop has no
    * delta or compaction half. Both outputs overwrite their own
    * `batch_id=` partition, so checkpoint replay is idempotent.
    */
  def gateSubstrDecontaminated(stream: DataFrame, table: String,
                               checkpointDir: String, cleanPath: String,
                               quarantinePath: String, n: Int = SpanN,
                               maxDocPositions: Int = SubstrPosCap)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processDecontGate(_, _, table, cleanPath, quarantinePath,
        n, maxDocPositions))

  /** One micro-batch of [[gateSubstrDecontaminated]], factored out so the
    * split and replay semantics are directly testable. Documents shorter
    * than n tokens have no spans and pass clean by construction.
    */
  private[graft] def processDecontGate(batch: DataFrame, batchId: Long,
                                       table: String, cleanPath: String,
                                       quarantinePath: String, n: Int,
                                       maxDocPositions: Int): Unit = {
    val session = batch.sparkSession
    val b = graft.sources.Bucketing
    // verdicts consumed twice (quarantine join + clean anti-join):
    // compute once — the probe's anchor join must not run twice; the
    // sort-free core, because both consumers re-shuffle on doc_id
    val (verdicts, vIds) = Checkpoints.checkpointTracked(
      decontAgainstIndexSpans(session, spanTable(batch, n), table, n,
        maxDocPositions))
    try {
      b.writeDeltaPartition(
        batch.join(verdicts, Seq("doc_id"), "inner"), quarantinePath,
        batchId)
      b.writeDeltaPartition(
        batch.join(verdicts.select("doc_id"), Seq("doc_id"), "left_anti"),
        cleanPath, batchId)
    } finally Checkpoints.releaseTracked(verdicts, vIds)
  }

  /** Dedup-method evaluation harness — the ANN recall-harness posture
    * ([[Similarity]]'s `ann_recall`) applied to near-dup detection: every
    * method runs over the SAME corpus with planted near-duplicates
    * ([[withPerturbedCopies]]: each doc's twin at id + 1M, first token
    * dropped) and is scored against the planted truth. Methods: raw
    * LSH-banded MinHash candidate pairs, the same candidates VERIFIED at
    * a shingle-Jaccard floor, and SimHash bands at Hamming ≤ maxHamming.
    * Per method: pair count, planted pairs recovered, recall (integer
    * ppm) and extra (unplanted) pairs — the candidate-volume-vs-recall
    * trade every dedup rollout tunes before committing a method.
    *
    * Scale shape: each method runs in its own already-audited posture
    * (banded equi-joins, never all-pairs); scoring joins each pair set
    * against the BROADCAST planted table (doc-count-sized) and folds to
    * one row per method — the harness adds no corpus-sized work of its
    * own. Sub-100% recall is probabilistic method misses — signal, not
    * harness error (planted twins are never intrinsically unrecoverable:
    * a no-space doc's twin is an exact copy, since dropping "the first
    * token" of a one-token text leaves it unchanged).
    */
  def dedupMethodEval(documents: DataFrame, minJaccardPct: Long = 80L,
                      maxHamming: Int = 3,
                      idOffset: Long = 1000000L): DataFrame = {
    val perturbed = withPerturbedCopies(documents, idOffset)
    // planted is doc-count-sized (corpus-DERIVED) — no broadcast hint:
    // the gateBroadcast rule above; AQE picks broadcast when it fits
    val planted = documents.select(col("doc_id").as("doc_id_a"),
      (col("doc_id") + lit(idOffset)).as("doc_id_b"))
    def score(method: String, pairSet: DataFrame): DataFrame =
      pairSet.select("doc_id_a", "doc_id_b")
        .join(planted.withColumn("hit", lit(1)),
          Seq("doc_id_a", "doc_id_b"), "left")
        .agg(count(lit(1)).as("n_pairs"),
          count(col("hit")).as("n_planted_found"))
        .withColumn("method", lit(method))
    // ngramJaccard emits EVERY LSH candidate with its verification
    // columns, so one run serves both the raw-candidate row and the
    // verified row — materialized once (pair-sized) instead of rebuilding
    // the signature/banding pipeline per consumer. The returned frame is
    // |methods| rows, so it is materialized EAGERLY and the checkpoint
    // blocks released before returning (try/finally, the gate discipline)
    // — a lazy return would pin the pair-sized blocks for the session
    // with no handle for the caller to release them
    val (nj, njIds) = checkpointTracked(ngramJaccard(perturbed))
    try {
      val out = score("lsh_candidates", nj)
        .unionByName(score("lsh_verified",
          nj.filter(col("jaccard_pct") >= minJaccardPct)))
        .unionByName(score("simhash", simhashPairs(perturbed, maxHamming)))
        .crossJoin(broadcast(
          planted.agg(count(lit(1)).cast("long").as("n_planted"))))
        .select(col("method"), col("n_pairs"), col("n_planted_found"),
          // greatest-1 guard: an empty universe reads as 0 recall, not a
          // NULL that kills typed decodes downstream
          expr("(n_planted_found * 1000000L) div greatest(n_planted, 1L)")
            .as("recall_ppm"),
          (col("n_pairs") - col("n_planted_found")).as("n_extra_pairs"))
        .orderBy("method")
      val session = documents.sparkSession
      import scala.jdk.CollectionConverters._
      session.createDataFrame(out.collect().toList.asJava, out.schema)
    } finally releaseTracked(nj, njIds)
  }

  /** A corpus with synthetic near-duplicates: each doc re-appears (id +
    * idOffset) with its first token dropped. The testdata has no natural
    * near-dups, so dedup behavior is exercised against this construction —
    * the oracle applies the same perturbation.
    */
  def withPerturbedCopies(documents: DataFrame, idOffset: Long = 1000000L): DataFrame =
    documents.select(col("doc_id"), col("text")).unionByName(
      documents.select(
        (col("doc_id") + lit(idOffset)).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text")))
}
