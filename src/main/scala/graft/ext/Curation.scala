package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Corpus-curation operators for training-data pipelines: PII scrubbing,
  * deterministic stratified sampling, and token-budget packing — the
  * select/clean/cap stages that run between raw ingestion and tokenization
  * at 100 TB scale.
  *
  * Scale design: PII scrub and sampling are narrow per-row passes (zero
  * shuffles, fully codegen'd); token-budget packing is one window shuffle on
  * the stratum key. Every output is integer/hash-valued so the DuckDB oracle
  * matches bit-for-bit (no float ratios).
  */
object Curation {

  /** Per-invocation sequence for [[decontaminateBloom]]'s temp view names. */
  private val bloomViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The test corpus carries no natural PII, so scrub behavior is exercised
    * against deterministic injection: every doc gains an email and a phone
    * number derived from its doc_id (the oracle applies the same
    * construction). The scrub operator itself is corpus-agnostic.
    */
  def withPiiInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"), col("source"), col("lang"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction: emails → <EMAIL>, phone numbers → <PHONE>, with per-doc
    * redaction counts and a content hash of the scrubbed text (the audit
    * trail a compliance pipeline needs). Patterns stay in the regex subset
    * shared by Java regex and RE2 so both engines agree exactly.
    */
  def piiScrub(documents: DataFrame): DataFrame =
    documents
      // Scala-DSL form, not expr(): SQL string literals would re-process the
      // pattern's backslash escapes and silently change the regex
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(
        col("doc_id"), col("n_emails"), col("n_phones"),
        (col("n_emails") + col("n_phones")).as("n_redactions"),
        length(col("scrubbed")).cast("long").as("n_chars_scrubbed"),
        Exact.md5Hash60(col("scrubbed")).as("scrubbed_hash"))

  /** The test corpus has no sentence structure, so boilerplate-removal
    * behavior is exercised against deterministic injection (same pattern as
    * withPiiInjected): every doc gains a universal footer sentence, every
    * third doc a newsletter plug, every seventh a click-bait line — the
    * repeated-across-documents furniture a web crawl is full of. The
    * original text survives as each doc's (unique) leading sentence.
    */
  def withBoilerplateInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      concat(
        col("text"), lit(". all rights reserved"),
        when(col("doc_id") % 3 === 0, lit(". subscribe to our newsletter"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(". click here to read more"))
          .otherwise(lit(""))).as("text"))

  /** C4-style boilerplate removal: a sentence is boilerplate when it occurs
    * in at least `minDf` distinct documents (C4 uses 3); per doc, emit the
    * sentence counts and a content hash of the text REBUILT from only the
    * kept sentences in original order — verifying the removal itself, not
    * just the counters.
    *
    * Scale shape: sentences are exploded once and the pass is eagerly
    * checkpointed (it feeds both the document-frequency aggregation and the
    * join back). The join key is the 60-bit sentence hash, so the shuffle
    * carries 8-byte keys, not sentence strings; a corpus-wide footer makes
    * that key maximally hot, which is exactly the skew AQE's skew-join
    * splitting handles (the df side of the join is one row per key).
    *
    * Accounting: every input doc_id appears in the output exactly once. A
    * doc that normalizes to ZERO sentences (empty/whitespace-only text)
    * emits an all-zero row with kept_text = "" — posexplode_outer keeps it
    * as one null-sentence row that the left join and count(sent) then treat
    * as "no sentences", instead of dropping the document.
    */
  def boilerplate(documents: DataFrame, minDf: Long = 3L): DataFrame = {
    val sents = documents
      .withColumn("norm", TextAnalysis.normalized(col("text")))
      // Scala-DSL split/filter, not expr(): the SQL string-literal parser
      // would eat the regex backslash
      .select(col("doc_id"),
        posexplode_outer(filter(split(col("norm"), "\\. "), s => s =!= ""))
          .as(Seq("pos", "sent")))
      .withColumn("sh", Exact.md5Hash60(col("sent")))
      .localCheckpoint(true)
    val dfreq = sents.filter(col("sh").isNotNull).groupBy("sh")
      .agg(countDistinct("doc_id").as("sent_df"))
    sents.join(dfreq, Seq("sh"), "left")
      .groupBy("doc_id").agg(
        count(col("sent")).as("n_sentences"),
        count(when(col("sent_df") >= minDf, 1)).as("n_boilerplate"),
        concat_ws(". ", transform(
          array_sort(collect_list(
            when(col("sent_df") < minDf, struct(col("pos"), col("sent"))))),
          x => x.getField("sent"))).as("kept_text"))
      .select(
        col("doc_id"), col("n_sentences"), col("n_boilerplate"),
        (col("n_sentences") - col("n_boilerplate")).as("n_kept"),
        Exact.md5Hash60(col("kept_text")).as("kept_hash"),
        (col("n_boilerplate") * 2 > col("n_sentences")).as("is_mostly_boilerplate"))
  }

  /** The test corpus is uniformly clean single-line prose, so rule-based
    * quality filtering is exercised against deterministic defect injection
    * (same pattern as [[withPiiInjected]]): every 13th doc becomes numeric
    * gibberish, every 17th a two-word stub, every 10th a pure bullet list,
    * and surviving docs gain an ellipsis teaser line (every 7th) or a run of
    * hash symbols (every 11th) — the defect classes the Gopher rules target.
    */
  def withQualityDefectsInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      when(col("doc_id") % 13 === 0,
        lit("00 11 22 33 44 55 66 77 88 99"))
        .when(col("doc_id") % 17 === 0, lit("too short"))
        .when(col("doc_id") % 10 === 0,
          lit((1 to 10).map(i => s"- item $i").mkString("\n")))
        .otherwise(concat(
          col("text"),
          when(col("doc_id") % 7 === 0, lit("\nto be continued..."))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" ## ### #### #####"))
            .otherwise(lit("")))).as("text"))

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1): word
    * count band, mean-word-length band, symbol-to-word ratio, alphabetic
    * word fraction, minimum distinct stop words, bulleted-line fraction and
    * ellipsis-line fraction. Every ratio rule is expressed as cross-
    * multiplied integer arithmetic (10·n_sym < n_words, not n_sym/n_words
    * < 0.1) so the decision is exact on both engines — no float thresholds.
    * Emits each rule's verdict alongside the counters, because at corpus
    * scale the per-rule rejection mix IS the monitoring signal; `keep` is
    * their conjunction.
    *
    * Scale shape: one narrow per-row pass — no shuffle, no join, fully
    * codegen'd; the filter composes with partition pruning upstream.
    */
  def gopherRules(documents: DataFrame): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    documents
      .withColumn("toks",
        filter(TextAnalysis.tokens(col("text")), t => t =!= ""))
      .withColumn("lines",
        filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= ""))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        length(regexp_replace(TextAnalysis.normalized(col("text")), " ", ""))
          .cast("long").as("n_word_chars"),
        (length(col("text")) - length(translate(col("text"), "#", "")) +
          size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0))))
          .cast("long").as("n_symbols"),
        size(filter(col("toks"), w => w.rlike("[a-z]")))
          .cast("long").as("n_alpha_words"),
        size(filter(array(stops.map(lit): _*), s => array_contains(col("toks"), s)))
          .cast("long").as("n_stop_words"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"),
          l => l.startsWith("- ") || l.startsWith("* ")))
          .cast("long").as("n_bullet_lines"),
        size(filter(col("lines"), l => l.endsWith("...")))
          .cast("long").as("n_ellipsis_lines"))
      .withColumn("r_word_count", col("n_words") >= 10 && col("n_words") <= 1000)
      .withColumn("r_mean_word_len",
        col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10)
      .withColumn("r_symbol_ratio", col("n_symbols") * 10 < col("n_words"))
      .withColumn("r_alpha_words", col("n_alpha_words") * 10 > col("n_words") * 8)
      .withColumn("r_stop_words", col("n_stop_words") >= 2)
      .withColumn("r_bullet_lines", col("n_bullet_lines") * 10 < col("n_lines") * 9)
      .withColumn("r_ellipsis_lines", col("n_ellipsis_lines") * 10 < col("n_lines") * 3)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_alpha_words") && col("r_stop_words") && col("r_bullet_lines") &&
          col("r_ellipsis_lines"))
  }

  /** Deterministic stratified sampling: the sampling decision is a pure
    * function of doc_id (md5-derived bucket in [0,100)), so the sample is
    * reproducible across runs, engines, and cluster layouts — no RNG state,
    * no per-partition seeds. Per-stratum rates: English docs at 50%, the
    * rest at 10% (rates are the operator's parameters; these values prove
    * the shape). At 100 TB this is a narrow scan — the filter pushes into
    * the parquet read and no shuffle occurs.
    */
  def sampleStrata(documents: DataFrame): DataFrame =
    documents
      .withColumn("bucket", (Exact.md5Hash60(col("doc_id").cast("string")) % 100).cast("long"))
      .withColumn("rate", when(col("lang") === "en", lit(50L)).otherwise(lit(10L)))
      .select(
        col("doc_id"), col("source"), col("lang"), col("bucket"), col("rate"),
        (col("bucket") < col("rate")).as("sampled"))

  /** Per-stratum QUOTA sample: the `per` docs per source with the smallest
    * seeded hash rank — the fixed-count companion to [[sampleStrata]]'s
    * fixed-rate sampling (a curator caps a dominant source at N docs, not
    * N%). Hash-ordering makes the sample a pure function of doc_id:
    * reproducible across runs, engines, and cluster layouts, and STABLE
    * under corpus growth in expectation (new docs displace old ones only by
    * hash order, not arrival order — the standard consistent-sampling
    * property rate sampling lacks for quotas).
    *
    * Scale shape: the `row_number <= per` filter is recognized by Spark's
    * InferWindowGroupLimit, so each shuffle partition keeps only its
    * stratum's top-`per` rows BEFORE the final window — the shuffle carries
    * O(strata × per), not the corpus (PlanSpec pins the WindowGroupLimit).
    */
  /** Default per-stratum quota, shared with the DuckDB oracle (SparkEntry
    * interpolates this constant into the `ext_quota_sample` SQL) so the two
    * sides cannot silently diverge on the cap.
    */
  val QuotaPerStratum: Int = 50

  def quotaSample(documents: DataFrame, per: Int = QuotaPerStratum): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"),
        Exact.md5Hash60Seeded(7, col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= per)
      .select("source", "rk", "doc_id", "h")
  }

  /** Corpus snapshot diff — the incremental-refresh audit every recurring
    * crawl pipeline runs between corpus versions: per doc_id, whether the
    * document was added, removed, changed (content hash differs), or
    * unchanged. Content identity is the normalized-text md5-60 hash (the
    * [[graft.ext.Dedup.exact]] identity), so cosmetic whitespace churn does
    * not count as change.
    *
    * Scale shape: both sides reduce to narrow (doc_id, hash) tables before
    * a single full-outer join on doc_id — at 100 TB that is one sort-merge
    * join of two hash columns, and with both snapshots bucketed by doc_id
    * (`sources.Bucketing`) it is exchange-free; the text columns never
    * survive past their scan.
    */
  def corpusDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    def hashed(df: DataFrame, as: String) = df.select(
      col("doc_id"), Exact.md5Hash60(TextAnalysis.normalized(col("text"))).as(as))
    hashed(prev, "h_prev").join(hashed(cur, "h_cur"), Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"), col("h_prev"), col("h_cur"),
        when(col("h_prev").isNull, lit("added"))
          .when(col("h_cur").isNull, lit("removed"))
          .when(col("h_prev") =!= col("h_cur"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** The "next crawl" construction for [[corpusDiff]]'s verification: every
    * 7th doc disappears, every 5th surviving doc gains a revision suffix,
    * and a block of brand-new docs appears above the id space — the oracle
    * applies the same perturbation.
    */
  def withNextCrawl(documents: DataFrame, idOffset: Long = 5000000L): DataFrame =
    documents
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(documents.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + idOffset).as("doc_id"), col("text")))

  /** Token-distribution drift between two corpus snapshots — the
    * vocabulary monitoring signal between recurring crawls (a tokenizer,
    * extraction or source-mix change shows up here before it shows up in
    * model metrics): per-token frequency in each snapshot as integer ppm
    * of that snapshot's token total, the movers ranked by absolute ppm
    * delta with a deterministic token tie-break. `minCount` floors the
    * long-tail noise (a token must reach the count in at least one
    * snapshot); appeared/disappeared tokens read as drift from/to 0.
    *
    * Scale shape: each side is one tokenize pass + one token aggregate;
    * the full-outer join is vocab-sized on the token key (at web scale,
    * dictionary-encode first — the [[graft.ext.Dedup.jaccardJoin]] tid
    * discipline); each total is a 1-row broadcast; top-k plans as
    * TakeOrderedAndProject over the vocab rows — no single-task window.
    */
  def vocabDrift(prev: DataFrame, cur: DataFrame, topK: Int = 50,
                 minCount: Long = 5L): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // each side's counts frame exists ONCE and feeds both its join side
    // and its 1-row total: the total's plan contains the identical
    // token-hash exchange, so within the single final action Spark's
    // ReuseExchange serves both consumers from ONE tokenize+aggregate
    // pass per side (pinned in ExtSpec — the docstring's "one tokenize
    // pass per side" is a plan property, not an intention)
    val cp = counts(prev)
    val cc = counts(cur)
    val tp = cp.agg(sum("cnt").cast("long").as("tot_prev"))
    val tc = cc.agg(sum("cnt").cast("long").as("tot_cur"))
    cp.withColumnRenamed("cnt", "cnt_prev")
      .join(cc.withColumnRenamed("cnt", "cnt_cur"),
        Seq("token"), "full_outer")
      .na.fill(0L, Seq("cnt_prev", "cnt_cur"))
      .filter(col("cnt_prev") >= minCount || col("cnt_cur") >= minCount)
      .crossJoin(broadcast(tp)).crossJoin(broadcast(tc))
      .select(col("token"), col("cnt_prev"), col("cnt_cur"),
        expr("(cnt_prev * 1000000) div greatest(tot_prev, 1)").as("ppm_prev"),
        expr("(cnt_cur * 1000000) div greatest(tot_cur, 1)").as("ppm_cur"))
      .withColumn("delta_ppm", col("ppm_cur") - col("ppm_prev"))
      .orderBy(abs(col("delta_ppm")).desc, col("token").asc)
      .limit(topK)
  }

  /** Post-curation source-mix report: per source, kept docs/tokens and the
    * source's share of the final corpus in integer ppm (the mixing-weights
    * table a data curator actually reads). The share divides by a
    * single-row total — computed over the ALREADY-AGGREGATED per-source
    * rows (|sources| rows), so the unpartitioned window is trivially cheap.
    */
  def sourceMix(documents: DataFrame): DataFrame = {
    val kept = pipelineKeep(documents)
    val perSource = kept.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("n_tokens"))
    perSource
      .withColumn("token_ppm",
        expr("(n_tokens * 1000000) div sum(n_tokens) over ()"))
      .select("source", "n_docs", "n_tokens", "token_ppm")
  }

  /** Sequence packing (pretraining preprocessing): concatenate each
    * source's docs in doc_id order and split the token stream into
    * fixed-size bins — the "pack documents into L-token training sequences"
    * step, in the split-allowed (contiguous-fill) form that is fully
    * window-expressible: a doc starting at running offset `start` occupies
    * bins floor(start/L) .. floor((start+n_tokens-1)/L). One window shuffle
    * on the stratum key, integer outputs only.
    */
  def sequencePack(documents: DataFrame, seqLen: Long = 64L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .withColumn("start_off", col("cum_tokens") - col("n_tokens"))
      // `div`, not `/`: Column./ is double division even on longs
      .withColumn("bin_first", expr(s"start_off div $seqLen"))
      .withColumn("bin_last", expr(s"(cum_tokens - 1) div $seqLen"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"), col("start_off"),
        col("bin_first"), col("bin_last"),
        (col("bin_last") - col("bin_first") + 1).as("n_bins_spanned"))
  }

  /** Deterministic weighted-round-robin mixing schedule — the "data order"
    * step between curation and training: each cycle interleaves `w_s` docs
    * from every source s (weights here derived from the source's numeric
    * suffix, `suffix % 3 + 1`, standing in for the tuned mixing weights a
    * real run feeds in), so a source with twice the weight appears twice as
    * often in the global stream. Emits (doc_id, source, cycle, slot,
    * global_pos): slot = alphabetical-prefix-sum base + within-cycle offset,
    * global_pos = cycle × Σw + slot. Sources that exhaust early leave gaps
    * — the schedule is sparse, consumers skip missing positions.
    *
    * Scale shape: ONE window shuffle (per-source row_number, same key as
    * sequencePack); the weight/prefix-sum dimension is per-source-distinct
    * rows — broadcast-joined, never a second shuffle of the corpus. All
    * arithmetic is integral, so the schedule is a pure function of the
    * (doc_id, source) set on any engine and any partitioning.
    */
  def mixSchedule(documents: DataFrame): DataFrame = {
    // a source with no digits extracts '' — under Spark 4's default ANSI
    // mode a plain CAST('' AS BIGINT) THROWS, so try_cast is required for
    // the NULL that coalesce defaults to weight 1 (the DuckDB twin uses
    // TRY_CAST for the same reason); both engines then agree on the same
    // defined value instead of one crashing
    val weightOf = expr(
      "coalesce(try_cast(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3 + 1, 1L)")
    val wAll = Window.partitionBy(lit(1))
      .orderBy("source").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrefix = Window.partitionBy(lit(1))
      .orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    val dim = documents.select(col("source")).distinct()
      .withColumn("w", weightOf)
      .withColumn("base", coalesce(sum("w").over(wPrefix), lit(0L)).cast("long"))
      .withColumn("tot", sum("w").over(wAll).cast("long"))
    val ranked = documents.select("doc_id", "source")
      .withColumn("r",
        (row_number().over(Window.partitionBy("source").orderBy("doc_id")) - 1).cast("long"))
    ranked.join(broadcast(dim), Seq("source"))
      .select(
        col("doc_id"), col("source"),
        expr("r div w").as("cycle"),
        (col("base") + col("r") % col("w")).as("slot"),
        (expr("r div w") * col("tot") + col("base") + col("r") % col("w")).as("global_pos"))
  }

  /** Sliding-window chunking (RAG indexing / long-doc pretraining prep):
    * each doc yields windows of `chunkLen` tokens advancing by `stride`
    * (`chunkLen - stride` tokens of overlap), the standard fixed-window
    * chunker every retrieval pipeline runs before embedding. Emits
    * (doc_id, chunk_id, start_tok, chunk_tokens, chunk_text); the final
    * window may be shorter than `chunkLen`.
    *
    * Scale shape: fully narrow — tokenize, `sequence` the start offsets,
    * explode, slice — no shuffle anywhere, so it pipelines into whatever
    * consumes the chunks (the embedding UDF, the ANN index build). Output
    * rows ≈ n_tokens/stride per doc, each carrying only its own slice, so
    * the expansion factor is chunkLen/stride (~1.3 at the defaults), not
    * O(windows × doc length).
    */
  def chunkDocuments(documents: DataFrame, chunkLen: Int = 32,
                     stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkLen >= stride,
      s"need 0 < stride <= chunkLen, got stride=$stride chunkLen=$chunkLen")
    documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(expr(s"sequence(0L, n_tokens - 1, ${stride}L)")).as("start_tok"))
      // a tail start whose PREVIOUS window already reached the doc's end
      // would emit a chunk fully contained in that window (duplicate
      // embeddings downstream) — stop the sequence there. Kept starts are
      // a prefix of the stride grid, so chunk ids stay dense.
      .filter(col("start_tok") === 0 ||
        col("start_tok") + lit((chunkLen - stride).toLong) < col("n_tokens"))
      .select(
        col("doc_id"),
        expr(s"start_tok div $stride").as("chunk_id"),
        col("start_tok"),
        least(lit(chunkLen.toLong), col("n_tokens") - col("start_tok"))
          .as("chunk_tokens"),
        expr(s"array_join(slice(toks, CAST(start_tok AS INT) + 1, $chunkLen), ' ')")
          .as("chunk_text"))
  }

  /** Single-pass per-column data-quality profile — the "profile every
    * ingest batch" monitor a 100 TB pipeline runs before admitting a crawl
    * delivery: row count plus per-column null count, distinct count, and
    * min/max (stringified for a uniform schema). ALL columns' stats come
    * from ONE aggregation — Spark plans the multiple count-distincts as a
    * single Expand (one scan, one shuffle of |cols|-way expanded partials),
    * not one job per column — and the wide one-row result unpivots to one
    * row per column with a narrow stack(). min/max are computed in the
    * column's native type and cast after, so numeric columns profile
    * numerically.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => countDistinct(col(c)), "n_distinct")

  /** Sketch variant of [[profile]] for WIDE tables at full corpus scale:
    * same shape, but `n_distinct` is an HLL++ estimate
    * (`approx_count_distinct`, `rsd` relative error, default 5%) — which
    * removes the Expand entirely: exact multi-distinct expands every input
    * row |cols|+1 ways before the shuffle, so a 100-column profile of a
    * 100 TB drop shuffles ~100× the projected bytes, while the HLL partials
    * are fixed-size mergeable state per column. Not oracle-comparable
    * (sketch layouts are engine-specific), so ExtSpec pins it against
    * [[profile]]'s exact counts within the configured rsd instead.
    */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(col(c), rsd), "n_distinct_est")

  /** Shared body of [[profile]] / [[profileApprox]] — one definition of
    * the null/min/max aggregates and the agg+explode unpivot, so the
    * exact and sketch variants cannot drift; only the distinct aggregate
    * (and its output field name) differs.
    */
  private def profileWith(df: DataFrame, cols: Seq[String],
                          distinctAgg: String => Column,
                          distinctField: String): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"${c}__null"),
        distinctAgg(c).cast("long").as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val perCol = array(cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"${c}__null").as("n_null"),
      col(s"${c}__distinct").as(distinctField),
      col(s"${c}__min").as("min_val"),
      col(s"${c}__max").as("max_val"))): _*)
    df.agg(count(lit(1)).cast("long").as("n_rows"), aggs: _*)
      .select(col("n_rows"), explode(perCol).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_null"),
        col(s"p.$distinctField"), col("p.min_val"), col("p.max_val"))
  }

  /** Deterministic train/validation/test split: a salted content-free hash
    * of doc_id lands each doc in one of 1000 buckets; buckets [0,900) →
    * train, [900,950) → val, rest → test. Hash-of-key (not random()) makes
    * the assignment reproducible across runs, engines, partitionings and
    * re-ingestions — the property a leakage audit needs — and the salt
    * creates INDEPENDENT splits for different experiments (same salt =
    * same split, new salt = fresh re-randomization). Emits the assignment
    * plus per-(source, split) doc/token counts so stratification imbalance
    * is visible at a glance. Shuffle profile: the assignment is narrow;
    * the audit is one hash-agg over source × 3 groups.
    */
  def splitAssign(documents: DataFrame, salt: String = "v1"): DataFrame =
    documents
      .withColumn("bucket",
        Exact.md5Hash60(concat(lit(s"$salt:"), col("doc_id"))) % 1000)
      .withColumn("split",
        when(col("bucket") < 900, lit("train"))
          .when(col("bucket") < 950, lit("val"))
          .otherwise(lit("test")))

  /** Per-(source, split) doc/token counts over [[splitAssign]] — the
    * stratification-imbalance audit a split ships with.
    */
  def splitAudit(documents: DataFrame, salt: String = "v1"): DataFrame =
    splitAssign(documents, salt)
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("n_tokens"))
      .select("source", "split", "n_docs", "n_tokens")

  case class PackIn(doc_id: Long, source: String, n_tokens: Long)
  case class PackOut(doc_id: Long, source: String, n_tokens: Long,
                     start_off: Long, bin_first: Long, bin_last: Long,
                     n_bins_spanned: Long)

  /** Streaming [[sequencePack]]: the per-source running token offset lives
    * in `GroupState`, so an INCREMENTAL corpus keeps filling L-token
    * training bins across micro-batches (and across restarts — the offset
    * is checkpointed state) instead of re-packing the whole corpus per
    * delivery. Docs are packed in doc_id order within each batch; across
    * batches the order is arrival order, exactly like a real ingestion
    * feed. Token counting stays in codegen'd columns BEFORE the stateful
    * op — the state function only does integer arithmetic on
    * (doc_id, n_tokens), so per-group work is O(batch docs), state is one
    * long per source.
    */
  def sequencePackStreaming(docs: DataFrame, seqLen: Long = 64L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .as[PackIn]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, it: Iterator[PackIn],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          var off = state.getOption.getOrElse(0L)
          val out = it.toArray.sortBy(_.doc_id).map { d =>
            val start = off
            off += d.n_tokens
            val binFirst = start / seqLen
            val binLast = (start + d.n_tokens - 1) / seqLen
            PackOut(d.doc_id, source, d.n_tokens, start,
              binFirst, binLast, binLast - binFirst + 1)
          }
          state.update(off)
          out.iterator
        })
      .toDF()
  }

  /** The full curation pipeline in one call — what a training-data job runs
    * daily at 100 TB: quality gate (integer-arithmetic thresholds) →
    * exact-dedup canonical survivors → language targeting → per-source
    * token-budget admission. Emits the final keep list.
    *
    * Fused plan: ONE corpus scan computes the quality columns, n_tokens and
    * the dedup content hash side by side (all narrow per-row expressions —
    * the former three-subtree form scanned and tokenized the corpus three
    * times and met itself in two doc_id joins); canonical election is a min
    * window over the hash (identical keeper to the hash-agg + join-back:
    * the group's smallest doc_id, elected over the FULL corpus before any
    * gate filters, so a duplicate of a kept doc never resurrects); the
    * budget window on the stratum key is the only other shuffle. Two
    * exchanges total, no joins, nothing scanned twice.
    */
  def pipelineKeep(documents: DataFrame, langs: Seq[String] = Seq("en", "de"),
                   budgetPerSource: Long = 150L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TextAnalysis.withStatsColumns(documents)
      .withColumn("content_hash",
        graft.functions.Exact.md5Hash60(TextAnalysis.normalized(col("text"))))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("content_hash")))
      .filter(col("is_quality") && col("is_canonical") && col("lang").isin(langs: _*))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("cum_tokens") <= budgetPerSource)
      .select("doc_id", "source", "lang", "n_tokens", "cum_tokens")
  }

  /** Benchmark decontamination (the "don't train on the test set" pass):
    * flag every corpus document sharing at least `minOverlap` distinct
    * 3-token shingles with a held-out benchmark set. The benchmark is tiny
    * relative to the corpus, so its distinct shingle-hash set broadcasts and
    * the overlap check is a map-side join against the corpus's per-doc
    * shingle hashes — one narrow pass over 100 TB, one agg shuffle keyed by
    * doc_id, no corpus self-join. Overlap counts are over 60-bit md5 shingle
    * hashes (collisions counted identically on both engines).
    *
    * Here the benchmark set is carved deterministically from the corpus
    * (doc_id % 97 = 0) so the operator is self-contained against the
    * testdata; a real deployment passes the eval suite as `benchmark`.
    */
  /** Per-doc distinct 60-bit shingle hashes, eagerly checkpointed: the
    * tokenize+shingle+md5 pass dominates and feeds several consumers
    * (benchmark set, corpus side, final per-doc select) — materialize it
    * once instead of re-running the scan per consumer; the Bench/Verify
    * harness sweep releases the blocks after the result is consumed.
    */
  private def shingleHashed(documents: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(documents.sparkSession,
      Dedup.SimHashBits, Dedup.NumPerms, Dedup.permA, Dedup.permB, Dedup.MinhashP)
    documents
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("sh", TextAnalysis.shinglesFromTokens("toks"))
      .withColumn("shd", array_distinct(expr("md5h60_arr(sh)")))
      .select(col("doc_id"), col("shd"))
      .localCheckpoint(true)
  }

  // ---- decontamination internals shared by the three variants ----
  // benchmark carve: every 97th doc plays the eval suite
  private def benchHalf(hashed: DataFrame): DataFrame =
    hashed.filter(col("doc_id") % 97 === 0)
  private def corpusHalf(hashed: DataFrame): DataFrame =
    hashed.filter(col("doc_id") % 97 =!= 0)

  /** Per-doc output from a (doc_id, n_overlap) frame: the one place the
    * output schema and the minOverlap verdict live.
    */
  private def decontOutput(corpus: DataFrame, overlap: DataFrame,
                           minOverlap: Long): DataFrame =
    corpus.select(col("doc_id"), size(col("shd")).cast("long").as("n_shingles"))
      .join(overlap, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("is_contaminated", col("n_overlap") >= minOverlap)
      .select("doc_id", "n_shingles", "n_overlap", "is_contaminated")

  /** Registers the benchmark's bloom sketch as a one-column temp view and
    * hands `body` the `bloom_might_contain((SELECT bf FROM view), ·)` probe
    * predicate source; the view is dropped once the result plan is
    * analyzed (the scalar subquery resolves at DataFrame creation).
    */
  /** Sketch sizing: ~10 bits/item (≈1% fpp) unless the caller pins
    * `numBits`. An OVERSIZED sketch is not free — Spark's bloom picks
    * k = m/n·ln2 hash functions, so 2²³ bits over 10⁵ items means 58
    * murmur probes per insert AND per membership test (the r9/r10
    * driver-bench cost of ext_decontaminate_bloom); right-sized, k ≈ 7.
    * Correctness never depends on the size: the no-false-negative
    * guarantee holds for any m, and the bloom-pruned-exact form
    * adjudicates every survivor exactly.
    */
  private def bloomBits(estItems: Long, numBits: Long): Long =
    if (numBits > 0L) numBits else math.max(1L << 14, 10L * estItems)

  private def withBenchBloom[T](hashed: DataFrame, estItems: Long,
                                numBits: Long)(body: String => T): T = {
    graft.functions.BloomFunctions.register(hashed.sparkSession)
    val view = s"graft_decontaminate_bloom_${Curation.bloomViewSeq.incrementAndGet()}"
    benchHalf(hashed)
      .select(explode(col("shd")).as("sh_hash"))
      .agg(expr(s"bloom_agg(sh_hash, ${estItems}L, ${bloomBits(estItems, numBits)}L)").as("bf"))
      .createOrReplaceTempView(view)
    try body(view)
    finally hashed.sparkSession.catalog.dropTempView(view)
  }

  def decontaminate(documents: DataFrame, minOverlap: Long = 1L): DataFrame = {
    val hashed = shingleHashed(documents)
    val benchShingles = benchHalf(hashed)
      .select(explode(col("shd")).as("sh_hash")).distinct()
    val corpus = corpusHalf(hashed)
    val overlap = corpus.select(col("doc_id"), explode(col("shd")).as("sh_hash"))
      .join(broadcast(benchShingles), Seq("sh_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    decontOutput(corpus, overlap, minOverlap)
  }

  /** Bloom-filter decontamination — the variant for when even the DISTINCT
    * benchmark shingle-hash set outgrows an exact broadcast (a full eval
    * suite at 100 TB): the benchmark aggregates into a fixed-size bloom
    * sketch (bit-OR construction — identical under any partitioning), the
    * sketch materializes once as a scalar subquery (exactly Spark's own
    * runtime-filter shape), and the corpus probe is a map-side
    * `bloom_might_contain` filter before the same per-doc overlap count.
    *
    * Guarantee: NO false negatives — every truly contaminated doc is
    * flagged, and per-doc `n_overlap` is an upper bound on the exact count
    * (false-positive rate set by numBits/item; the exact [[decontaminate]]
    * is the adjudicator for flagged docs when precision matters).
    */
  def decontaminateBloom(documents: DataFrame, minOverlap: Long = 1L,
                         estItems: Long = 100000L, numBits: Long = 0L): DataFrame = {
    val hashed = shingleHashed(documents)
    withBenchBloom(hashed, estItems, numBits) { view =>
      val corpus = corpusHalf(hashed)
      val overlap = corpus.select(col("doc_id"), explode(col("shd")).as("sh_hash"))
        .filter(expr(s"bloom_might_contain((SELECT bf FROM $view), sh_hash)"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      decontOutput(corpus, overlap, minOverlap)
    }
  }

  /** Bloom-PRUNED exact decontamination — the production composition of the
    * two variants above, and the form whose output is exactly checkable:
    * the corpus probe stream first passes the benchmark's bloom sketch
    * (map-side, O(sketch) broadcast — prunes ~all clean shingles), and only
    * the survivors pay the EXACT join against the benchmark shingle set.
    * Because the bloom has NO false negatives, every truly-overlapping
    * shingle survives the prune, and every false positive fails the exact
    * join — so the output is bit-identical to [[decontaminate]] while the
    * plan exercises the sketch probe. At 100 TB the adjudication join is a
    * shuffle join against the full benchmark set; the bloom prune cuts its
    * probe side to (overlap + fpp·clean) before any shuffle. Here the
    * benchmark side is broadcast so the DuckDB twin (the exact-path SQL,
    * unchanged) hash-matches.
    */
  def decontaminateBloomExact(documents: DataFrame, minOverlap: Long = 1L,
                              estItems: Long = 100000L, numBits: Long = 0L): DataFrame = {
    val hashed = shingleHashed(documents)
    withBenchBloom(hashed, estItems, numBits) { view =>
      val benchShingles = benchHalf(hashed)
        .select(explode(col("shd")).as("sh_hash")).distinct()
      val corpus = corpusHalf(hashed)
      val overlap = corpus.select(col("doc_id"), explode(col("shd")).as("sh_hash"))
        .filter(expr(s"bloom_might_contain((SELECT bf FROM $view), sh_hash)"))
        .join(broadcast(benchShingles), Seq("sh_hash"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      decontOutput(corpus, overlap, minOverlap)
    }
  }

  /** STREAMING decontamination — the nightly-crawl filter as a stateless
    * narrow op: the benchmark's bloom sketch is built ONCE at
    * stream-construction time and embedded as a LITERAL binary in the
    * plan (the production shape — build the filter, broadcast it, run the
    * stream forever; a scalar subquery would be re-planned per batch).
    * Each micro-batch doc pays tokenize + shingle + one higher-order
    * probe pass — no state store, no shuffle, append-mode safe, so the
    * same frame works batch or streaming (§2.8 parity discipline).
    *
    * Unlike the batch carve (`doc_id % 97`), the benchmark is an explicit
    * frame — the deployment signature. `n_overlap` is the bloom
    * UPPER-bound count ([[decontaminateBloom]] semantics, no false
    * negatives); route flagged docs through [[decontaminate]] offline
    * when exact adjudication matters.
    */
  def decontaminateStream(stream: DataFrame, benchmark: DataFrame,
                          minOverlap: Long = 1L, estItems: Long = 100000L,
                          numBits: Long = 0L): DataFrame = {
    graft.functions.BloomFunctions.register(stream.sparkSession)
    graft.functions.HashExpressions.register(stream.sparkSession,
      Dedup.SimHashBits, Dedup.NumPerms, Dedup.permA, Dedup.permB, Dedup.MinhashP)
    // inline shingling (not shingleHashed): one consumer, so the helper's
    // multi-consumer checkpoint would only leak a block into the session
    val bf = benchmark
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("sh", TextAnalysis.shinglesFromTokens("toks"))
      .select(explode(array_distinct(expr("md5h60_arr(sh)"))).as("sh_hash"))
      .agg(expr(s"bloom_agg(sh_hash, ${estItems}L, ${bloomBits(estItems, numBits)}L)").as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // the probe closes over the sketch as an expression-level literal —
    // reachable inside the HOF lambda, constant for the stream's lifetime;
    // unique name per invocation, kept registered for the session
    val probe = s"graft_stream_bloom_${Curation.bloomViewSeq.incrementAndGet()}"
    graft.functions.BloomFunctions.registerConstProbe(stream.sparkSession, probe, bf)
    stream
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("sh", TextAnalysis.shinglesFromTokens("toks"))
      .withColumn("shd", array_distinct(expr("md5h60_arr(sh)")))
      .select(col("doc_id"),
        size(col("shd")).cast("long").as("n_shingles"),
        expr(s"size(filter(shd, h -> $probe(h)))").cast("long").as("n_overlap"))
      .withColumn("is_contaminated", col("n_overlap") >= minOverlap)
  }

  /** The test corpus carries no URLs, so link analysis is exercised against
    * deterministic injection (same pattern as withPiiInjected): every doc
    * gains two URLs derived from its doc_id; the oracle applies the same
    * construction.
    */
  def withUrlsInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"), col("source"), col("lang"),
      concat(
        col("text"),
        lit(" see https://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.org/p"), (col("doc_id") % 7).cast("string"),
        lit(" and http://mirror"), (col("doc_id") % 3).cast("string"),
        lit(".example.com/x")).as("text"))

  /** Write a curated corpus as training shards: hive-partitioned by
    * `partitionBy` (language/source — the keys training jobs select on),
    * sorted within partitions for compression locality, shard size bounded
    * by `maxRecordsPerFile`. The repartition-by-key before the write is
    * what keeps file counts sane at scale: without it every task writes a
    * file into every partition directory (tasks × partitions small files —
    * the classic layout mistake); with it each key's rows coalesce into
    * ceil(rows/maxRecordsPerFile) shards. Readers prune partitions: a
    * `lang = 'en'` training job never lists, let alone scans, other
    * languages' shards (asserted at the plan level in ExtSpec).
    */
  def writeCorpusShards(df: DataFrame, path: String,
                        partitionBy: Seq[String] = Seq("lang"),
                        sortWithin: Seq[String] = Seq("doc_id"),
                        maxRecordsPerFile: Long = 100000L): Unit =
    df.repartition(partitionBy.map(col): _*)
      .sortWithinPartitions(sortWithin.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionBy: _*)
      .parquet(path)

  /** A corpus whose injected URLs carry the mess canonicalization must
    * erase: mixed-case hosts, default ports, utm_* tracking params,
    * fragments, trailing slashes — deterministic mod-based variants so the
    * oracle reproduces the construction.
    */
  def withMessyUrlsInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" read https://Site"), (col("doc_id") % 5).cast("string"),
        lit(".Example.ORG:443/page"), (col("doc_id") % 11).cast("string"),
        lit("/?utm_source=feed&utm_campaign=x"),
        lit(" or http://host"), (col("doc_id") % 4).cast("string"),
        lit(".example.com:80/a?id="), (col("doc_id") % 6).cast("string"),
        lit("&utm_medium=email#frag"),
        lit(" plus https://plain.example.net/p"), (col("doc_id") % 3).cast("string"),
        lit("/")).as("text"))

  /** URL canonicalization — the normalize step of web-corpus URL dedup:
    * drop the fragment, lowercase the scheme+authority (path/query case is
    * significant, authority case is not), strip default ports, remove
    * utm_* tracking params (repairing separator damage), trim trailing
    * `?`/`&`/`/`. Pure regexp chain — narrow, codegen'd, and reproduced
    * step-for-step by the DuckDB oracle.
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val auth = regexp_extract(noFrag, "^(https?://[^/?#]*)", 1)
    val lowered = concat(lower(auth), regexp_replace(noFrag, "^https?://[^/?#]*", ""))
    val noPort = regexp_replace(lowered,
      "^(https?://[a-z0-9.-]+):(?:80|443)(/|\\?|$)", "$1$2")
    val noUtm = regexp_replace(noPort, "utm_[a-z]+=[^&]*(&|$)", "")
    regexp_replace(regexp_replace(noUtm, "[?&]+$", ""), "/+$", "")
  }

  /** URL-level dedup over canonical forms: every extracted link, canonical
    * group sizes, and the first document that cited each canonical URL.
    * This is the crawl-frontier/re-crawl collapse step — the same page
    * reached via tracking-tagged, ported, or fragment variants counts once.
    *
    * Scale shape: extraction + canonicalization are one narrow pass; the
    * rollup is one aggregation keyed on the canonical string (uniform hash
    * keys). countDistinct(doc_id) expands to the standard two-phase
    * distinct aggregate — at corpus scale swap in the KMV sketch
    * ([[Sketches]]) if approximate per-URL doc counts suffice.
    */
  def urlDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("https?://[^ ]+"), lit(0))).as("url"))
      .withColumn("canonical_url", canonicalUrl(col("url")))
      .groupBy("canonical_url")
      .agg(
        count(lit(1)).as("n_links"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("first_doc_id"))

  private[ext] val UrlDomainRe = "https?://([a-z0-9.-]+)/"

  /** Per-domain link rollup (the blocklist/allowlist signal of web-corpus
    * curation): extract every URL's domain, count documents and link
    * occurrences per domain. Extraction is a narrow codegen'd pass; the
    * rollup is one agg shuffle over |domains| keys.
    */
  def domainStats(documents: DataFrame): DataFrame =
    documents
      // group-1 extraction: the capture is the domain; Scala-DSL lit form so
      // the pattern's escapes survive (never through expr() SQL literals)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlDomainRe), lit(1))).as("domain"))
      .groupBy("domain")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_links"))

  /** UT1-style domain blocklist verdicts (the URL filtering step of
    * RefinedWeb §3.1 / C4): a document is flagged when ANY URL it cites
    * resolves to a blocked domain or a SUBDOMAIN of one —
    * "ads.example.net" blocks "cdn1.ads.example.net". Suffix matching is
    * expressed as an equi-join, never a LIKE scan: each host explodes
    * into its ≥2-label suffix chain (bounded by the host's label count,
    * ≤ ~6 for real hosts) and the blocklist joins on the exact suffix.
    * Per doc: cited URL count, blocked URL count, the distinct blocked
    * domains hit (sorted, for the rejection-mix monitoring signal), and
    * `keep` = no blocked citation. Docs citing no URLs pass clean.
    *
    * Scale shape: extraction + suffix explode are one narrow pass;
    * blocklists are dimension-sized (UT1 ≈ 4M rows), so the match is a
    * BROADCAST semi-ish join and the corpus shuffles exactly once — the
    * per-doc aggregate. Link identity rides the posexplode index, so
    * repeated citations count per citation without a distinct pass over
    * URL strings.
    */
  def domainBlocklist(documents: DataFrame, blocked: DataFrame): DataFrame = {
    val links = documents.select(col("doc_id"),
      posexplode_outer(
        regexp_extract_all(col("text"), lit(UrlDomainRe), lit(1))))
      .toDF("doc_id", "li", "host")
    // single-label hosts have no ≥2-label suffix and can never match a
    // blocklist domain, but their LINK still counts: the guarded branch
    // keeps explode_outer emitting one null-suffix row (and dodges
    // sequence(0, -1)'s descending surprise feeding 1-based slice)
    val chain = links.withColumn("labels", split(col("host"), "\\."))
      .select(col("doc_id"), col("li"),
        explode_outer(expr(
          """CASE WHEN size(labels) >= 2 THEN
            |  transform(sequence(0, size(labels) - 2),
            |    i -> array_join(slice(labels, i + 1, size(labels) - i), '.'))
            |ELSE array() END""".stripMargin)).as("sfx"))
    chain
      .join(broadcast(blocked.select(col("domain").as("sfx"))
        .withColumn("hit", lit(1))), Seq("sfx"), "left")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("li")).as("n_urls"),
        countDistinct(when(col("hit") === 1, col("li"))).as("n_blocked_urls"),
        // comma-joined sorted string, not an array: engine-portable and
        // directly greppable in rejection audits
        concat_ws(",", sort_array(collect_set(when(col("hit") === 1,
          col("sfx"))))).as("blocked_domains"))
      .withColumn("keep", col("n_blocked_urls") === 0)
  }

  /** Synthetic SFT-style chat transcripts as JSON strings, deterministic
    * per doc_id (the test corpus has no conversation column, so chat-format
    * QA is exercised against injection — the withPiiInjected pattern):
    * 1 + doc_id % 3 user/assistant pairs, plus the defect classes
    * instruction-data QA screens for — every 13th transcript OPENS with an
    * assistant turn, every 7th gains two consecutive trailing user turns
    * (alternation break), every 11th an empty assistant message, and every
    * 17th is MALFORMED JSON (the parse-failure row a real JSONL corpus
    * always contains).
    */
  def withChatsInjected(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      when(col("doc_id") % 17 === 0, lit("{bad json"))
        .otherwise(to_json(expr(
          """concat(
            |  CASE WHEN doc_id % 13 = 0 THEN
            |    array(named_struct('role', 'assistant',
            |                       'content', 'unsolicited'))
            |  ELSE array() END,
            |  flatten(transform(sequence(0L, doc_id % 3), j -> array(
            |    named_struct('role', 'user', 'content',
            |      concat('question ', doc_id % 7, ' part ', j)),
            |    named_struct('role', 'assistant', 'content',
            |      concat('answer ', j))))),
            |  CASE WHEN doc_id % 7 = 0 THEN array(
            |    named_struct('role', 'user', 'content', 'follow up'),
            |    named_struct('role', 'user', 'content', 'still there'))
            |  ELSE array() END,
            |  CASE WHEN doc_id % 11 = 0 THEN
            |    array(named_struct('role', 'assistant', 'content', ''))
            |  ELSE array() END)""".stripMargin))).as("chat"))

  /** Chat-transcript format QA — the structural screen an SFT/RLHF data
    * pipeline runs before a JSONL conversation corpus reaches training:
    * parse each transcript (malformed JSON → `parse_ok` false, every
    * structural verdict NULL — from_json's null, not an exception, so one
    * bad row cannot kill a corpus-sized job), then per transcript: turn
    * count, opens-with-user, strict role alternation, closes-with-
    * assistant, empty-message count, per-role whitespace token counts, and
    * `valid` = the conjunction. All verdicts are pure column expressions
    * over the parsed struct array (higher-order functions, no explode) —
    * one narrow codegen'd pass, no shuffle, no join; the filter composes
    * with partition pruning upstream like the Gopher rules.
    */
  def chatValidate(chats: DataFrame): DataFrame =
    chats
      .withColumn("conv", expr(
        "from_json(chat, 'array<struct<role:string,content:string>>')"))
      .select(
        col("doc_id"),
        col("conv").isNotNull.as("parse_ok"),
        size(col("conv")).cast("long").as("n_turns"),
        // try_element_at, not element_at: a VALID empty transcript "[]"
        // must yield NULL verdicts, not an ANSI INVALID_ARRAY_INDEX crash
        // that kills the corpus job
        expr("try_element_at(conv, 1).role = 'user'").as("starts_with_user"),
        // guard the 1-turn case: sequence(2, 1) would DESCEND (the
        // domainBlocklist lesson) — a single turn alternates vacuously
        expr(
          """CASE WHEN size(conv) < 2 THEN true
            |ELSE size(filter(sequence(2, size(conv)),
            |  i -> element_at(conv, i).role = element_at(conv, i - 1).role))
            |  = 0 END""".stripMargin).as("alternates"),
        expr("try_element_at(conv, -1).role = 'assistant'")
          .as("ends_with_assistant"),
        // a turn with a MISSING content key counts as empty — it must
        // fail the screen, not slip through as merely-unparsed tokens
        expr("size(filter(conv, t -> t.content IS NULL OR t.content = ''))")
          .cast("long").as("n_empty"),
        roleTokens("user").as("n_user_tokens"),
        roleTokens("assistant").as("n_assistant_tokens"))
      .withColumn("valid",
        col("starts_with_user") && col("alternates") &&
          col("ends_with_assistant") && (col("n_empty") === 0))

  /** Whitespace token total over one role's messages — empty-string
    * tokens filtered like [[TextAnalysis.tokens]]; NULL conv propagates,
    * but a single NULL content contributes 0 instead of poisoning the
    * whole fold (split(NULL) → NULL → a + NULL would NULL the total).
    */
  private def roleTokens(role: String): Column =
    expr(
      s"""aggregate(filter(conv, t -> t.role = '$role'),
         |  CAST(0 AS BIGINT),
         |  (a, t) -> a + coalesce(
         |    size(filter(split(t.content, ' '), x -> x != '')), 0))"""
        .stripMargin)

  /** Streaming blocklist gate — the [[Dedup.gateSubstrDecontaminated]]
    * posture for URL filtering: each micro-batch of crawl documents
    * splits on the [[domainBlocklist]] verdict into CLEAN docs under
    * `cleanPath` and FLAGGED docs under `flaggedPath`, the latter
    * carrying the verdict columns (blocked counts + domains hit) for the
    * rejection-mix audit. The blocklist frame is fixed for the life of
    * the query (blocklists change by redeploy, like a benchmark index by
    * rebuild). Both outputs overwrite their own `batch_id=` partition —
    * checkpoint replay is idempotent.
    */
  def gateBlocklisted(stream: DataFrame, blocked: DataFrame,
                      checkpointDir: String, cleanPath: String,
                      flaggedPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processBlocklistGate(_, _, blocked, cleanPath,
        flaggedPath))

  /** One micro-batch of [[gateBlocklisted]], factored out so the split
    * and replay semantics are directly testable.
    */
  private[graft] def processBlocklistGate(batch: DataFrame, batchId: Long,
                                          blocked: DataFrame,
                                          cleanPath: String,
                                          flaggedPath: String): Unit = {
    val b = graft.sources.Bucketing
    // verdicts consumed twice (flagged join + clean semi-join): compute
    // once — the suffix explode and blocklist join must not run twice
    val (verdicts, vIds) = graft.ext.Checkpoints.checkpointTracked(
      domainBlocklist(batch, blocked))
    try {
      b.writeDeltaPartition(
        batch.join(verdicts.filter(!col("keep")), Seq("doc_id"), "inner"),
        flaggedPath, batchId)
      b.writeDeltaPartition(
        batch.join(verdicts.filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi"),
        cleanPath, batchId)
    } finally graft.ext.Checkpoints.releaseTracked(verdicts, vIds)
  }

  /** [[withUrlsInjected]] plus an ad-network citation on every fifth doc —
    * a host whose BLOCKED domain is its parent (cdn{k}.ads.example.net ⊂
    * ads.example.net), so blocklist tests exercise suffix matching, not
    * just host equality.
    */
  def withAdUrlsInjected(documents: DataFrame): DataFrame =
    withUrlsInjected(documents).select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ad https://cdn"), (col("doc_id") % 4).cast("string"),
            lit(".ads.example.net/t"))).otherwise(lit(""))).as("text"))

  /** Token-budget packing: per source (the stratum), docs are admitted in
    * doc_id order until the stratum's running token total exceeds the
    * budget — the "cap each domain's contribution" step of corpus mixing.
    * One window shuffle on the stratum key; per-stratum state is a running
    * sum, so skewed strata cost memory O(1).
    */
  def tokenBudget(documents: DataFrame, budgetPerSource: Long = 200L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budgetPerSource).as("in_budget"))
  }

  /** The crawl-corpus construction for [[crawlPipeline]]'s verification:
    * [[graft.ext.Dedup.withPerturbedCopies]]' near-dup twins with the
    * original's source/lang INHERITED (a mirrored page keeps its site
    * metadata — and the quality stage needs both columns), then the
    * [[withAdUrlsInjected]] URL pattern applied over the UNIONED id space
    * (a twin's links derive from its own doc_id, like any crawled page).
    * The oracle applies the same construction.
    */
  def withCrawlCorpus(documents: DataFrame,
                      idOffset: Long = 1000000L): DataFrame = {
    val perturbed = documents
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .unionByName(documents.select(
        (col("doc_id") + lit(idOffset)).as("doc_id"),
        col("source"), col("lang"),
        expr("substring(text, instr(text, ' ') + 1)").as("text")))
    perturbed.select(col("doc_id"), col("source"), col("lang"),
      concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 50).cast("string"),
        lit(".example.org/p"), (col("doc_id") % 7).cast("string"),
        lit(" and http://mirror"), (col("doc_id") % 3).cast("string"),
        lit(".example.com/x"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ad https://cdn"), (col("doc_id") % 4).cast("string"),
            lit(".ads.example.net/t"))).otherwise(lit(""))).as("text"))
  }

  /** The composed crawl-ingest pipeline — a training-data crawl intake's
    * first production job, chaining the four standalone gates in their
    * deployment order over ONE batch: (1) URL/domain blocklist
    * ([[domainBlocklist]]), (2) substring-level benchmark decontamination
    * ([[graft.ext.Dedup.substrDecontaminateFrom]] against a fixed
    * eval-suite span table), (3) cross-document substring dedup
    * ([[graft.ext.Dedup.substrDupsFrom]] — the younger doc of every
    * duplicated-run pair drops, the elder keeps), (4) quality/language/
    * exact-canonical/per-source-quota keep ([[pipelineKeep]]). Emits
    * per-stage drop accounting — the rejection-mix report a curator reads
    * after every crawl: one row per stage,
    * (stage_idx, stage, n_in, n_dropped, n_out).
    *
    * SEQUENTIAL semantics: each stage evaluates on the SURVIVORS of the
    * previous one. The dedup stage's pair graph in particular is computed
    * WITHIN stage-2 survivors — a duplicate whose elder was blocked or
    * decontaminated upstream becomes the keeper, exactly as if the
    * dropped doc never crawled.
    *
    * The substring stages run MEMBERSHIP-ONLY cores — the accounting
    * needs who drops, not the run evidence, and membership is
    * position-cap-free by construction (a doc's FIRST occurrence of an
    * anchor always survives the per-(anchor, doc) keep-first-K cap, and
    * the hot-anchor cap removes whole anchors): a doc is contaminated iff
    * it shares ANY non-hot anchor with the benchmark (one anchor join —
    * no runs machinery), and a doc is dedup-dropped iff some anchor it
    * carries has a SMALLER doc_id holder (per-anchor min — one aggregate
    * + one join, never the pair self-join). The run-evidence forms stay
    * the standalone operators ([[graft.ext.Dedup.substrDecontaminateFrom]]
    * / [[graft.ext.Dedup.substrDups]]) for audits that need them.
    *
    * Scale shape — and the launch-latency shape that actually priced
    * this row: exactly FOUR actions regardless of corpus size. (1) the
    * distinct (doc, anchor) projection of one span scan over the WHOLE
    * crawl (blocked docs' anchors included — the sequential accounting
    * is set algebra over per-doc flags, which is one corpus scan cheaper
    * than materializing each survivor set); (2) the per-doc stage-flag
    * frame (blocklist verdict ⋈ benchmark-anchor membership —
    * doc-count-sized); (3) the dedup-dropped ids (per-anchor min over
    * stage-2 survivors' anchors); (4) ONE combined count over the flag
    * frame crossed with the stage-4 keep count. Every stage verdict is a
    * doc-count-sized or smaller frame, checkpointed and released on
    * return; every join is doc-id- or anchor-keyed. A staged
    * semi-join-per-stage form measured ~10× this wall at equal executor
    * work — all of it serialized driver/launch latency.
    */
  def crawlPipeline(crawl: DataFrame, blocked: DataFrame,
                    benchSpans: DataFrame, n: Int = Dedup.SpanN,
                    maxAnchorDocs: Int = Dedup.SubstrAnchorCap,
                    langs: Seq[String] = Seq("en", "de"),
                    budgetPerSource: Long = 150L): DataFrame = {
    val ck = Checkpoints
    // action 1: ONE tokenize pass; positions dropped at the scan — the
    // membership cores are position-cap-free by construction
    val (anch, aIds) = ck.checkpointTracked(
      Dedup.spanTable(crawl, n).select("doc_id", "h").distinct())
    try crawlPipelineFrom(crawl, blocked, benchSpans, anch, n,
      maxAnchorDocs, langs, budgetPerSource)
    finally ck.releaseTracked(anch, aIds)
  }

  /** [[crawlPipeline]] over an already-materialized DISTINCT
    * (doc_id, anchor-hash) projection of the crawl's span table — the
    * [[graft.ext.Dedup.substrDupsFrom]] precedent: recurring intakes
    * share one span scan across the whole substring family, so the
    * pipeline should consume the artifact, not re-derive it.
    */
  def crawlPipelineFrom(crawl: DataFrame, blocked: DataFrame,
                        benchSpans: DataFrame, anch: DataFrame,
                        n: Int = Dedup.SpanN,
                        maxAnchorDocs: Int = Dedup.SubstrAnchorCap,
                        langs: Seq[String] = Seq("en", "de"),
                        budgetPerSource: Long = 150L): DataFrame = {
    val spark = crawl.sparkSession
    val ck = Checkpoints
    locally {
      // stage-2 core: benchmark anchors minus the benchmark-side hot set
      // (suite boilerplate; > cap distinct bench docs). Benchmark-sized —
      // broadcastable at corpus scale
      val benchSet = benchSpans.select("doc_id", "h").distinct()
        .groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") <= maxAnchorDocs).select("h")
      val contamIds = anch.join(benchSet, Seq("h"), "left_semi")
        .select("doc_id").distinct()
      // action 2: the per-doc stage flags — every doc has a blocklist
      // verdict row (explode_outer keeps URL-less docs), so this frame IS
      // the crawl id space
      val (flags, fIds) = ck.checkpointTracked(
        domainBlocklist(crawl, blocked)
          .select(col("doc_id"), (!col("keep")).as("blocked"))
          .join(contamIds.withColumn("contam", lit(true)),
            Seq("doc_id"), "left")
          .na.fill(false, Seq("contam")))
      try {
        // stage-3 core: per-anchor min doc over stage-2 survivors — a doc
        // drops iff ANY anchor it carries has a smaller surviving holder
        // (exactly younger-side-of-any-pair membership); the same
        // aggregate excludes the survivor-side hot anchors
        val surv2 = flags.where(!col("blocked") && !col("contam"))
          .select("doc_id")
        val anch2 = anch.join(surv2, Seq("doc_id"), "left_semi")
        val perAnchor = anch2.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"),
            min(col("doc_id")).as("mn"))
          .where(col("nd") <= maxAnchorDocs && col("nd") >= 2)
        // action 3 (consumed twice below: the count and the stage-4 carve)
        val (dups, dIds) = ck.checkpointTracked(
          anch2.join(perAnchor, Seq("h"))
            .where(col("doc_id") > col("mn"))
            .select("doc_id").distinct())
        try {
          // action 4: ONE combined count — stage tallies off the flag
          // frame, the stage-4 keep count crossed in as a 1-row agg
          val s3 = crawl.join(surv2.join(dups, Seq("doc_id"), "left_anti"),
            Seq("doc_id"), "left_semi")
          val row = flags
            .join(dups.withColumn("dup", lit(true)), Seq("doc_id"), "left")
            .agg(count(lit(1)).as("n0"),
              sum(when(!col("blocked"), 1L).otherwise(0L)).as("n1"),
              sum(when(!col("blocked") && !col("contam"), 1L)
                .otherwise(0L)).as("n2"),
              sum(when(!col("blocked") && !col("contam")
                  && col("dup").isNull, 1L).otherwise(0L)).as("n3"))
            .crossJoin(broadcast(pipelineKeep(s3, langs, budgetPerSource)
              .agg(count(lit(1)).as("n4"))))
            .head()
          val (n0, n1, n2, n3, n4) = (row.getLong(0), row.getLong(1),
            row.getLong(2), row.getLong(3), row.getLong(4))
          import spark.implicits._
          Seq(
            (1L, "blocklist", n0, n0 - n1, n1),
            (2L, "decontaminate", n1, n1 - n2, n2),
            (3L, "dedup", n2, n2 - n3, n3),
            (4L, "quality_quota", n3, n3 - n4, n4))
            .toDF("stage_idx", "stage", "n_in", "n_dropped", "n_out")
        } finally ck.releaseTracked(dups, dIds)
      } finally ck.releaseTracked(flags, fIds)
    }
  }

  /** The STREAMING twin of [[crawlPipeline]] — the three gate loops'
    * semantics in ONE topology: each micro-batch of crawl documents splits
    * into (1) FLAGGED docs under `flaggedPath`, the [[gateBlocklisted]]
    * verdict with its columns; (2) QUARANTINED docs under
    * `quarantinePath`, the unflagged docs that share a run with the FIXED
    * benchmark span index, with the [[graft.ext.Dedup.gateSubstrDecontaminated]]
    * audit columns; (3) SURVIVORS under `survivorsPath`, the rest minus
    * the docs that substring-dedup against the GROWING corpus index
    * ([[graft.ext.Dedup.maintainSubstrDedup]]'s verdict), whose spans
    * also append to the index delta so later batches dedup against
    * earlier survivors. Each stage sees only the previous stage's
    * survivors, exactly as the gates chained by hand would. With
    * `autoCompactAt > 0` the dedup index self-compacts at the threshold
    * cadence, exactly like the standalone loop.
    *
    * Per-trigger cost is the floor of a micro-batch engine, so a batch is
    * not three gate bodies in a row: it tokenizes once and materializes
    * two frames, the capped span table and one per-doc verdict frame
    * ([[processCrawlIngest]]). At local[4] on 400-doc batches that cut a
    * plain batch from 34–37 Spark jobs to 23–25 (SCALE.md).
    *
    * Replay-idempotent end to end: every output overwrites its own
    * `batch_id=` partition, verdicts recompute deterministically, and the
    * dedup stage runs through the shared
    * [[graft.sources.IndexLifecycle.dedupBatchStep]] skeleton (own-batch
    * delta exclusion + current-batch corpus-side verdict guard), so a
    * redelivered batch reproduces its first delivery bit for bit.
    */
  def maintainCrawlIngest(stream: DataFrame, blocked: DataFrame,
                          benchTable: String, dedupTable: String,
                          deltaDir: String, checkpointDir: String,
                          flaggedPath: String, quarantinePath: String,
                          survivorsPath: String, n: Int = Dedup.SpanN,
                          maxDocPositions: Int = Dedup.SubstrPosCap,
                          autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      applyBatch = processCrawlIngest(_, _, blocked, benchTable, dedupTable,
        deltaDir, flaggedPath, quarantinePath, survivorsPath, n,
        maxDocPositions),
      autoCompactAt = autoCompactAt,
      compact = (s, maxUnfolded) => {
        Dedup.compactSubstrIfNeeded(s, dedupTable, deltaDir, maxUnfolded); ()
      })

  /** One micro-batch of [[maintainCrawlIngest]], factored out so the
    * fused body is directly testable against its oracle — the three gate
    * bodies ([[processBlocklistGate]], [[Dedup.processDecontGate]],
    * [[Dedup.processSubstrBatch]]) chained by hand, each on the previous
    * one's clean output (ExtSpec pins rows and column order equal).
    *
    * The batch tokenizes ONCE and checkpoints two frames:
    *  1. its capped span table, partitioned on `h` at the dedup index's
    *     bucket count — the probe side of BOTH index joins and the source
    *     of the survivors' delta increment;
    *  2. one per-doc verdict frame, batch ⋈ blocklist verdict ⟕
    *     decontamination verdict — flagged, quarantined and the stage-2
    *     survivors are plain filters over it.
    * The decontamination verdict runs over ALL batch spans, blocked docs'
    * included, and is still exactly the chained one for every unblocked
    * doc: the position cap is per (anchor, doc), the islands per (doc,
    * bench doc, diagonal) and the verdict per doc, so no doc's verdict
    * reads another doc's spans. The dedup probe likewise runs over every
    * batch span; pairs whose new side was dropped upstream name no
    * stage-2 survivor, and the survivors anti-join ignores them. The dedup
    * stage goes through [[graft.sources.IndexLifecycle.dedupBatchStep]]
    * with the stage-2 survivors as its batch, so the replay guard stays
    * keyed on the docs that can reach the index.
    */
  private[graft] def processCrawlIngest(batch: DataFrame, batchId: Long,
                                        blocked: DataFrame,
                                        benchTable: String,
                                        dedupTable: String, deltaDir: String,
                                        flaggedPath: String,
                                        quarantinePath: String,
                                        survivorsPath: String, n: Int,
                                        maxDocPositions: Int): Unit = {
    val session = batch.sparkSession
    val b = graft.sources.Bucketing
    val ck = Checkpoints
    // both indexes resolve ONCE: the probes read the generation whose
    // bucket count shaped the span exchange
    val benchPhys = b.resolvePhysical(session, benchTable)
    val dedupPhys = b.resolvePhysical(session, dedupTable)
    val (spans, sIds) = ck.checkpointTracked(Dedup.cappedBatchSpans(batch, n,
      maxDocPositions, b.inheritedBucketCount(session, dedupPhys)))
    try {
      val bl = domainBlocklist(batch, blocked)
      // exchange-free when the bench index has the dedup index's bucket
      // count; otherwise the planner re-shuffles one side
      val dec = Dedup.decontOfCapped(spans, session.table(benchPhys), n)
      val (verdicts, vIds) = ck.checkpointTracked(batch
        .join(bl, Seq("doc_id"))
        .join(dec, Seq("doc_id"), "left"))
      try {
        def verdictCols(v: DataFrame) = v.columns.toSeq.filter(_ != "doc_id")
        def rows(where: Column, cols: Seq[String]) =
          verdicts.filter(where).select(cols.map(col): _*)
        val batchCols = batch.columns.toSeq
        // a decontamination verdict row always carries its longest run,
        // so a null one is a doc with no verdict
        val contam = col(verdictCols(dec).head).isNotNull
        b.writeDeltaPartition(rows(!col("keep"), batchCols ++ verdictCols(bl)),
          flaggedPath, batchId)
        b.writeDeltaPartition(
          rows(col("keep") && contam, batchCols ++ verdictCols(dec)),
          quarantinePath, batchId)
        Dedup.substrDedupStep(rows(col("keep") && !contam, batchCols),
          batchId, spans, dedupPhys, deltaDir, survivorsPath)
      } finally ck.releaseTracked(verdicts, vIds)
    } finally ck.releaseTracked(spans, sIds)
  }
}
