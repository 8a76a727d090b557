package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy term matching at corpus scale — spell-correcting rare terms
  * against a trusted dictionary, linking near-identical phrases across
  * snapshots, OCR/transcription noise triage. The training-data use is the
  * same as the dedup family's: a vocabulary-normalization pass before
  * tokenizer training (a typo'd phrase must count toward its canonical
  * form, not fragment the distribution).
  *
  * Candidate generation is the SymSpell delete-neighborhood join (Garbe's
  * public algorithm; the FastSS line of work — Bocek et al. 2007 — proves
  * the bound): two terms within Levenshtein distance 1 ALWAYS share a key
  * in `{t} ∪ del1(t)` — an insertion means the query IS in the dictionary
  * term's delete set, a deletion the reverse, and a substitution means
  * deleting the differing position from both yields the same string. So an
  * equi-join on neighborhood keys has NO false negatives at distance ≤ 1,
  * and a `levenshtein` verify on the candidate pairs removes the false
  * positives (distance-2 pairs that share a key, e.g. transpositions) —
  * the PPJoin posture the exact-Jaccard join uses: lossless filter, exact
  * verify, never all-pairs.
  *
  * Scale: the neighborhood inflates each side by ~`len(term)+1` rows of
  * short strings — linear, not quadratic; the join shuffles on the key
  * (dictionary side buildable once and bucketed like every index here).
  * Hot keys come from SHORT terms (a 2-char term's deletes collide with
  * everything 1-char); [[MinTermLen]] is that guard — at distance 1 a
  * match needs `abs(len(q)-len(d)) <= 1`, so a length floor on both sides
  * bounds key fan-in without losing any qualifying pair among kept terms.
  */
object Fuzzy {

  /** Length floor for dictionary/query terms (see hot-key note above) —
    * interpolated into the DuckDB oracle so both sides prune identically.
    */
  val MinTermLen = 4

  /** Dictionary admission threshold: a term must appear in at least this
    * many corpus positions to be trusted as a correction target.
    */
  val DictMinCount = 2

  /** `{t} ∪ del1(t)`: the term plus every single-character deletion.
    * `array_union` also dedupes (deleting either of a doubled character
    * yields the same variant). Guarded for the degenerate empty term.
    */
  def deleteNeighborhood(termCol: String): Column =
    when(length(col(termCol)) < 1, array(col(termCol)))
      .otherwise(expr(
        s"""array_union(array($termCol),
           |  transform(sequence(1, length($termCol)),
           |    i -> concat(substring($termCol, 1, i - 1),
           |                substring($termCol, i + 1, length($termCol)))))"""
          .stripMargin))

  /** Trusted dictionary: distinct 3-token shingles seen at least
    * `minCount` times, length-floored. One tokenize→shingle pass + one
    * hash aggregation (partial+final) — the same dominant cost profile as
    * the fingerprint family.
    */
  def dictionary(documents: DataFrame, minCount: Int = DictMinCount): DataFrame =
    TextAnalysis.shingleStream(documents)
      .select(col("shingle").as("term"))
      .filter(length(col("term")) >= MinTermLen)
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .filter(col("term_count") >= minCount)

  /** Deterministic typo injection for the oracle corpus: every `mod`-th
    * doc contributes its lexicographically-first shingle, perturbed by one
    * edit chosen by `doc_id % 3` (delete / substitute-'q' / insert-'q') at
    * position `(doc_id div 3) % len` — pure integer column arithmetic the
    * DuckDB oracle reproduces verbatim, the [[graft.ext.Dedup.withPerturbedCopies]]
    * pattern for a corpus whose real vocabulary is uniform.
    */
  def typoQueries(documents: DataFrame, mod: Int = 5): DataFrame =
    TextAnalysis.shingleStream(documents.filter(col("doc_id") % mod === 0))
      .groupBy("doc_id").agg(min("shingle").as("term"))
      .filter(length(col("term")) >= MinTermLen)
      .select(col("doc_id"), expr(
        """CASE CAST(doc_id % 3 AS INT)
          |  WHEN 0 THEN concat(
          |    substring(term, 1, CAST((doc_id div 3) % length(term) AS INT)),
          |    substring(term, CAST((doc_id div 3) % length(term) AS INT) + 2, length(term)))
          |  WHEN 1 THEN concat(
          |    substring(term, 1, CAST((doc_id div 3) % length(term) AS INT)), 'q',
          |    substring(term, CAST((doc_id div 3) % length(term) AS INT) + 2, length(term)))
          |  ELSE concat(
          |    substring(term, 1, CAST((doc_id div 3) % length(term) AS INT) + 1), 'q',
          |    substring(term, CAST((doc_id div 3) % length(term) AS INT) + 2, length(term)))
          |END""".stripMargin).as("q_term"))

  /** Length floor for the DISTANCE-2 family. del≤2 keys lose up to two
    * characters, so a floor of [[MinTermLen]] would put 2-char keys in the
    * join — hot-key fan-in quadratic in the dictionary's short tail. Six
    * keeps every join key at ≥ 4 chars (same effective floor the
    * distance-1 family's keys have) while the `abs(len(q)-len(d)) <= 2`
    * band the verify implies still holds for every kept pair.
    */
  val MinTermLen2 = 6

  /** `{t} ∪ del1(t) ∪ del2(t)`: the FastSS key set for edit distance ≤ 2
    * (Bocek et al. 2007 — deleting up to k characters from both sides
    * covers every alignment of k edits, so two terms within Levenshtein
    * distance 2 ALWAYS share a key). Size is 1 + len + len·(len−1)/2 —
    * O(len²) but len is a shingle, not a document: the inflation is a
    * constant factor per dictionary row (~130 keys at len 15), linear in
    * corpus size, never pairwise. del2 is generated as del1 of each del1
    * variant (every 2-deletion is reachable that way; array_distinct
    * collapses the duplicate orderings).
    */
  def deleteNeighborhood2(termCol: String): Column =
    when(length(col(termCol)) < 2, deleteNeighborhood(termCol))
      .otherwise(expr(
        s"""array_distinct(concat(
           |  array($termCol),
           |  transform(sequence(1, length($termCol)),
           |    i -> concat(substring($termCol, 1, i - 1),
           |                substring($termCol, i + 1, length($termCol)))),
           |  flatten(transform(
           |    transform(sequence(1, length($termCol)),
           |      i -> concat(substring($termCol, 1, i - 1),
           |                  substring($termCol, i + 1, length($termCol)))),
           |    v -> transform(sequence(1, length(v)),
           |      j -> concat(substring(v, 1, j - 1),
           |                  substring(v, j + 1, length(v))))))))"""
          .stripMargin))

  /** Distance-≤1 fuzzy join: `queries(doc_id, q_term)` against
    * `dict(term, …)`. Delete-neighborhood equi-join generates candidates
    * (no false negatives — see object doc), one distinct collapses pairs
    * that share several keys, and a codegen'd `levenshtein` verifies.
    * Output `(doc_id, q_term, dict_term, dist)` — the exact set the
    * all-pairs `levenshtein <= 1` twin produces over the same universes.
    */
  // Join keys throughout the family are the xxhash64 of the delete-
  // neighborhood strings, not the strings themselves (~13-byte avg keys →
  // 8-byte longs: narrower exchanges/broadcasts, long-keyed hash probes
  // instead of per-row string hashing, and a long-sorted bucket layout
  // for the persisted index). LOSSLESS for the final answer set: two
  // terms within the edit radius share a REAL key (FastSS), hence its
  // hash — no false negatives — and a hash collision only adds a
  // candidate pair that the exact `levenshtein` verify already removes
  // (a colliding pair within the radius would have shared a real key
  // anyway, so verified answers are identical, not merely probably so).
  // Every producer hashes right after its del_keys explode, so query and
  // index keys cannot disagree.

  def fuzzyMatch(queries: DataFrame, dict: DataFrame): DataFrame = {
    graft.functions.DeleteNeighborhoodKeys.register(queries.sparkSession)
    // del_keys kernel, not the SQL transform: the HOF form evaluates its
    // lambda interpreted per element (see DeleteNeighborhoodKeys) — at
    // dictionary scale that interpretation overhead IS the explode cost
    val qk = queries
      .select(col("doc_id"), col("q_term"),
        explode(expr("del_keys(q_term, 1)")).as("k0"))
      .select(col("doc_id"), col("q_term"), xxhash64(col("k0")).as("k"))
    val dk = dict
      .select(col("term").as("dict_term"),
        explode(expr("del_keys(term, 1)")).as("k0"))
      .select(col("dict_term"), xxhash64(col("k0")).as("k"))
    qk.join(dk, "k")
      .select("doc_id", "q_term", "dict_term")
      .distinct()
      .filter(levenshtein(col("q_term"), col("dict_term")) <= 1)
      .withColumn("dist", levenshtein(col("q_term"), col("dict_term")).cast("long"))
  }

  /** The oracle-checked composition: typo'd queries vs the corpus
    * dictionary. At 100 TB the dictionary builds once (bucketed, like the
    * BM25/LSH index families) and only the query side is per-batch.
    */
  def spellMatch(documents: DataFrame): DataFrame =
    fuzzyMatch(typoQueries(documents), dictionary(documents))

  /** Distance-≤2 fuzzy join — where OCR/transcription noise actually
    * lives (two-character slips are the norm in scanned text, not the
    * exception). Same lossless-candidates + exact-verify shape as
    * [[fuzzyMatch]], with [[deleteNeighborhood2]] keys and a
    * `levenshtein ≤ 2` verify; both sides floored at [[MinTermLen2]]
    * (the floor is part of the declared universe — the oracle twin
    * applies it identically).
    */
  def fuzzyMatch2(queries: DataFrame, dict: DataFrame): DataFrame =
    fuzzyMatch2Against(queries, dictionaryKeys2(dict))

  /** The distance-2 dictionary index: `(k, dict_term)` for every del≤2
    * key — the artifact a production deployment builds ONCE (bucketed by
    * k, the persisted-family layout) because it is the expensive side:
    * ~len²/2 keys per term is a ~130× row inflation at shingle lengths.
    * Probes are per-batch and only explode the query side.
    */
  def dictionaryKeys2(dict: DataFrame): DataFrame = {
    graft.functions.DeleteNeighborhoodKeys.register(dict.sparkSession)
    dict
      .filter(length(col("term")) >= MinTermLen2)
      // spread BEFORE the ~len²/2 explode: AQE coalesces the small
      // dictionary agg to few partitions and explode inherits its child's
      // partitioning (the buildFuzzyIndexGen lesson) — and the kernel
      // (del_keys, one tight-loop call per term; see DeleteNeighborhoodKeys
      // for the measured 5.5 → 0.45 s over the interpreted-HOF SQL form) does the
      // per-term work
      .repartition(dict.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("term").as("dict_term"),
        explode(expr("del_keys(term, 2)")).as("k0"))
      .select(col("dict_term"), xxhash64(col("k0")).as("k"))
  }

  /** Probe half of [[fuzzyMatch2]]: query-side del≤2 explode, candidate
    * equi-join on the key, one distinct, exact `levenshtein ≤ 2` verify.
    */
  def fuzzyMatch2Against(queries: DataFrame, dictKeys: DataFrame): DataFrame = {
    graft.functions.DeleteNeighborhoodKeys.register(queries.sparkSession)
    val qk = queries
      .filter(length(col("q_term")) >= MinTermLen2)
      .select(col("doc_id"), col("q_term"),
        explode(expr("del_keys(q_term, 2)")).as("k0"))
      .select(col("doc_id"), col("q_term"), xxhash64(col("k0")).as("k"))
    qk.join(dictKeys, "k")
      .select("doc_id", "q_term", "dict_term")
      .distinct()
      .filter(levenshtein(col("q_term"), col("dict_term")) <= 2)
      .withColumn("dist", levenshtein(col("q_term"), col("dict_term")).cast("long"))
  }

  /** Two deterministic edits for the distance-2 oracle corpus: the
    * [[typoQueries]] single edit, then a SECOND edit on the result —
    * delete / substitute-'x' / insert-'x' chosen by `doc_id div 3 % 3` at
    * position `(doc_id div 5) % len` of the once-edited term. Composed
    * edits land at Levenshtein ≤ 2 (an insert can cancel a delete, so
    * some pairs sit at 1 or 0 — deliberate coverage of the boundary).
    * Pure integer column arithmetic, reproduced verbatim by the DuckDB
    * twin. `mod` defaults higher than the distance-1 family's: the twin
    * is all-pairs over the query universe, and distance 2 is the
    * expensive verify.
    */
  def typoQueries2(documents: DataFrame, mod: Int = 10): DataFrame =
    typoQueries(documents, mod)
      // collapse barrier: without it CollapseProject inlines edit 1's CASE
      // into every one of edit 2's ~13 q_term references, and the probe's
      // del≤2 explode then inlines THAT ~12 more times — a ~150× expression
      // blowup evaluated per key row. The repartition is LOAD-BEARING as a
      // barrier (RepartitionByExpression stops project collapse), not a
      // tuning knob; the frame is query-sized, so the exchange moves
      // |docs|/mod short strings.
      .repartition(documents.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), expr(
        """CASE CAST((doc_id div 3) % 3 AS INT)
          |  WHEN 0 THEN concat(
          |    substring(q_term, 1, CAST((doc_id div 5) % length(q_term) AS INT)),
          |    substring(q_term, CAST((doc_id div 5) % length(q_term) AS INT) + 2, length(q_term)))
          |  WHEN 1 THEN concat(
          |    substring(q_term, 1, CAST((doc_id div 5) % length(q_term) AS INT)), 'x',
          |    substring(q_term, CAST((doc_id div 5) % length(q_term) AS INT) + 2, length(q_term)))
          |  ELSE concat(
          |    substring(q_term, 1, CAST((doc_id div 5) % length(q_term) AS INT) + 1), 'x',
          |    substring(q_term, CAST((doc_id div 5) % length(q_term) AS INT) + 2, length(q_term)))
          |END""".stripMargin).as("q_term"))

  /** The distance-2 oracle composition: twice-edited queries from the
    * mod-10 doc universe vs the mod-3 corpus dictionary (both reductions
    * keep the DuckDB all-pairs twin tractable; the SET semantics are
    * unchanged — losslessness is per-pair).
    */
  def spellMatch2(documents: DataFrame): DataFrame =
    fuzzyMatch2(typoQueries2(documents), dict2(documents))

  /** The d2 oracle's dictionary: the mod-3 corpus universe (one
    * definition — spellMatch2, the cached bench wiring, and the oracle
    * SQL's `doc_id % 3 = 0` must never diverge).
    */
  def dict2(documents: DataFrame): DataFrame =
    dictionary(documents.filter(col("doc_id") % 3 === 0))

  // ---- persisted fuzzy dictionary: the FIFTH generation-swap index ----
  //
  // Two bucketed layers under the shared LSM lifecycle
  // (sources.Bucketing):
  //  - `{name}`      (k, term)  bucketed by neighborhood key k — the
  //    candidate-generation side; holds keys for EVERY term regardless of
  //    count (see admission note below).
  //  - `{name}_cnt`  (term, cnt) bucketed by term — per-layer occurrence
  //    counts (a delta batch's rows carry that batch's counts only).
  //
  // ADMISSION IS GLOBAL AND DECIDED AT PROBE TIME — the df-rederive
  // posture of the BM25 family: a term with count 1 in the base and 1 in
  // a live delta batch crosses DictMinCount and MUST match, so the index
  // stores unthresholded counts and the probe sums base + delta counts
  // for CANDIDATE terms only (candidate-sized work, never a
  // dictionary-sized re-aggregation) before applying the threshold.
  // Appends are STATELESS (a batch's keys and counts depend on nothing
  // but the batch), so replay-idempotence is the partition overwrite
  // alone. Keys may repeat across batches for a recurring term —
  // harmless under the candidate distinct, folded away at compaction
  // (distinct fold); the count layer folds by per-term sum. Layers swap
  // independently: each probe resolves each layer's generation once, and
  // a probe between the two swaps still sums every batch exactly once
  // because each layer pairs its OWN base with its OWN watermark.

  /** Build the persisted fuzzy dictionary as a numbered generation behind
    * views. REBUILD over a live delta layer: quiesce the maintenance loop
    * and pass `deltaDir` — the rebuilt base already counts those batches'
    * documents, so the retained delta partitions must be stamped folded
    * or a probe would sum them on top of the base (a corpus-count-1 term
    * reading as 2 and crossing admission — the double-count every sibling
    * builder guards with the same stamp).
    */
  def buildFuzzyIndexGen(documents: DataFrame, name: String,
                         buckets: Int = 8,
                         deltaDir: Option[String] = None,
                         maxEdits: Int = 1): Unit = {
    require(maxEdits >= 1, s"edit radius must be at least 1, got $maxEdits")
    val spark = documents.sparkSession
    val b = graft.sources.Bucketing
    // the shared skeleton (sources.IndexLifecycle) owns adoptable-check /
    // serving-generation capture / shared numbering / manifests / swap
    // order / retire; family-specific here: ONE shingle aggregation feeds
    // BOTH layer writes (tokenize+shingle is the dominant build cost; an
    // uncached plan would run it twice), and the RADIUS rides the keys
    // generation's manifest — the view repoint is then the single atomic
    // step that changes both the postings a probe reads and the radius it
    // reads them at. Each layer reads its OWN watermark, so a rebuild
    // stamps both.
    graft.sources.IndexLifecycle.buildGeneration(spark,
      Seq(name, s"${name}_cnt"),
      write = phys => {
        val (cnt, cntIds) = Checkpoints.checkpointTracked(layerCounts(documents))
        try {
          // repartition BEFORE the neighborhood explode: AQE coalesces
          // the small dictionary agg to few partitions, and an explode
          // inherits its child's partitioning — without the spread the
          // ~(len+1)× key fan-out runs near-serially (measured
          // 1.0 → 0.45 s at sf0.1); `compact` then folds the fan-out to
          // one file per bucket
          b.writeBucketed(layerKeys(cnt.repartition(buckets), maxEdits),
            phys.head, "k", buckets, compact = true)
          b.writeBucketed(cnt, phys(1), "term", buckets)
        } finally Checkpoints.releaseTracked(cnt, cntIds)
      },
      deltaPaths = deltaDir.toSeq.flatMap(d => Seq(s"$d/keys", s"$d/cnt")),
      manifest = b.Manifest(maxEdits = maxEdits))
  }

  /** The persisted BUILD radius of index `name`. The radius is part of
    * the index's identity: probes and appends at a DIFFERENT radius are
    * silently lossy (a d1 probe on a d2 index misses the length-4/5
    * dictionary tail the d2 floor excludes; a d2 probe on a d1 index has
    * no del≤2 keys to meet), so [[fuzzyAgainstIndexWith]] asserts
    * equality and [[maintainFuzzyDictionary]] reads the radius per batch
    * instead of trusting a caller-threaded parameter.
    */
  def indexRadius(spark: org.apache.spark.sql.SparkSession,
                  name: String): Int =
    servingKeys(spark, name)._2.maxEdits

  /** The SERVING keys generation of index `name` and its manifest, read
    * once off one resolution — the radius changes exactly at the view
    * swap, atomically with the keys — after the two format guards every
    * probe, append and fold passes through. Both fail loudly, because
    * the silent alternative is wrong answers:
    *  - keys must be xxhash64 longs: a string-keyed generation (written
    *    before keys were hashed) joins hashed probe keys to nothing and
    *    silently drops the whole base dictionary;
    *  - the manifest must carry the build radius: an index written before
    *    the radius moved into the manifest has none, and guessing 1 would
    *    let a maintenance loop append d1 keys to a d2 index.
    * The key check reads the catalog schema, never the data.
    */
  private def servingKeys(spark: org.apache.spark.sql.SparkSession,
                          name: String): (String, graft.sources.Bucketing.Manifest) = {
    val b = graft.sources.Bucketing
    val phys = b.resolvePhysical(spark, name)
    val keyType = spark.table(phys).schema.find(_.name == "k").map(_.dataType)
    require(keyType.contains(org.apache.spark.sql.types.LongType),
      s"fuzzy index '$name' stores ${keyType.getOrElse("no")} keys, not the " +
        "xxhash64 longs probes and appends produce — rebuild it with " +
        "buildFuzzyIndexGen")
    val m = b.manifestOf(spark, phys)
    require(m.maxEdits > 0,
      s"fuzzy index '$name' has no edit radius in its manifest (written " +
        "by an older format) — rebuild it with buildFuzzyIndexGen")
    (phys, m)
  }

  /** One batch's (term, cnt) rows — shared by build and append so the
    * two sides cannot diverge on tokenization or the length floor.
    */
  private def layerCounts(documents: DataFrame): DataFrame =
    TextAnalysis.shingleStream(documents)
      .filter(col("shingle") =!= "")
      .select(col("shingle").as("term"))
      .filter(length(col("term")) >= MinTermLen)
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** The key layer at edit radius `maxEdits` (1 or 2). The radius is a
    * BUILD property of the index: a distance-2 dictionary floors its terms
    * at [[MinTermLen2]] (del≤2 keys lose two chars — the hot-key guard)
    * and stores the del≤2 key set; probes must use the same radius.
    */
  private def layerKeys(cnt: DataFrame, maxEdits: Int = 1): DataFrame = {
    graft.functions.DeleteNeighborhoodKeys.register(cnt.sparkSession)
    val base = if (maxEdits >= 2)
      cnt.filter(length(col("term")) >= MinTermLen2) else cnt
    base.select(col("term"),
        explode(expr(s"del_keys(term, $maxEdits)")).as("k0"))
      .select(xxhash64(col("k0")).as("k"), col("term"))
  }

  /** Append one micro-batch to the delta layers (`{deltaDir}/keys`,
    * `{deltaDir}/cnt`) under its own batch_id partition. Stateless —
    * see the lifecycle note — so redelivery is idempotent by the
    * dynamic-partition overwrite alone.
    */
  def appendFuzzyBatch(batchDocs: DataFrame, deltaDir: String,
                       batchId: Long, maxEdits: Int = 1): Unit = {
    val b = graft.sources.Bucketing
    // one shingle aggregation per batch, shared by both partition writes
    val cnt = layerCounts(batchDocs).persist()
    try {
      b.writeDeltaPartition(cnt, s"$deltaDir/cnt", batchId)
      b.writeDeltaPartition(layerKeys(cnt, maxEdits), s"$deltaDir/keys", batchId)
    } finally { cnt.unpersist(blocking = false); () }
  }

  /** Fuzzy match of `queries(doc_id, q_term)` against the persisted
    * dictionary, base ∪ live delta. Split per part: the bucketed keys
    * base satisfies the candidate join from its layout and the bucketed
    * count base satisfies the admission join — only query-/delta-/
    * candidate-sized frames shuffle while a delta is live.
    *
    * Admission is ONE pass over the candidate set: each candidate row
    * joins the unioned count layers on term and sums base + delta counts
    * in place (per-row total — still candidate-sized work, the count
    * layers are only ever read through this term join). A first cut
    * extracted distinct candidate terms, aggregated totals, and joined
    * back — three plan-level copies of the candidate join+distinct
    * subtree, which AQE only deduplicates at runtime when stage
    * boundaries happen to line up; the single-pass form measured the
    * probe 2.2 → 1.45 s at sf0.1 with identical answers.
    */
  def fuzzyAgainstIndexWith(spark: org.apache.spark.sql.SparkSession,
                            queries: DataFrame, name: String,
                            deltaDir: Option[String] = None,
                            maxEdits: Int = 1): DataFrame = {
    val b = graft.sources.Bucketing
    // ONE resolution of the keys generation serves its rows, its delta
    // watermark and the radius check
    val (keysPhys, keysMeta) = servingKeys(spark, name)
    val baseK = spark.table(keysPhys).select("k", "term")
    val deltaK = deltaDir.flatMap(d => b.liveDelta(spark, s"$d/keys", baseK,
      Seq("k", "term"), keysMeta.foldedBatchMax))
    val (baseC, deltaC) = b.layerParts(
      spark, s"${name}_cnt", deltaDir.map(d => s"$d/cnt"), Seq("term", "cnt"))
    graft.functions.DeleteNeighborhoodKeys.register(spark)
    val built = keysMeta.maxEdits
    require(built == maxEdits,
      s"index '$name' was built at edit radius $built; probing at " +
        s"$maxEdits is silently lossy — probe at the build radius or rebuild")
    // the d2 form floors the query side at MinTermLen2 like fuzzyMatch2Against
    val q0 = if (maxEdits >= 2)
      queries.filter(length(col("q_term")) >= MinTermLen2) else queries
    val qk = q0.select(col("doc_id"), col("q_term"),
        explode(expr(s"del_keys(q_term, $maxEdits)")).as("k0"))
      .select(col("doc_id"), col("q_term"), xxhash64(col("k0")).as("k"))
    val cand = (qk.join(baseK, "k") +: deltaK.map(qk.join(_, "k")).toSeq)
      .reduce(_ unionByName _)
      .select("doc_id", "q_term", "term").distinct()
      // verify BEFORE admission: levenshtein runs once per candidate pair
      // and the survivors (the true distance-<=maxEdits pairs) are the
      // smallest frame in the probe — admission then counts only for them
      .filter(levenshtein(col("q_term"), col("term")) <= maxEdits)
    // join each count layer SEPARATELY (base first): unioning base with
    // the delta before the join would erase the base's bucket layout and
    // re-shuffle the dictionary-sized count base on every probe while a
    // delta is live — the split-parts discipline all five families share
    (cand.join(baseC, "term") +: deltaC.map(cand.join(_, "term")).toSeq)
      .reduce(_ unionByName _)
      .groupBy("doc_id", "q_term", "term")
      .agg(sum("cnt").as("total_cnt"))
      .filter(col("total_cnt") >= DictMinCount)
      .select(col("doc_id"), col("q_term"), col("term").as("dict_term"))
      .withColumn("dist", levenshtein(col("q_term"), col("dict_term")).cast("long"))
  }

  /** Generation-swap compaction of both layers (see
    * [[sources.Bucketing.compactLayerGen]]): keys fold to distinct,
    * counts fold to per-term sums — representation only; probes already
    * aggregate base ∪ delta, so answers are identical across the fold.
    * The keys generation passes the same format guards as a probe, and
    * its manifest (radius included) carries over to the folded one.
    */
  def compactFuzzyIndexGen(spark: org.apache.spark.sql.SparkSession,
                           name: String, deltaDir: String,
                           buckets: Int = 8): Unit = {
    val b = graft.sources.Bucketing
    servingKeys(spark, name)
    b.compactLayerGen(spark, name, s"$deltaDir/keys",
      "k", Seq("k", "term"), buckets, compact = true,
      fold = _.distinct())
    b.compactLayerGen(spark, s"${name}_cnt", s"$deltaDir/cnt",
      "term", Seq("term", "cnt"), buckets, compact = true,
      fold = _.groupBy("term").agg(sum("cnt").as("cnt")))
  }

  /** Streaming maintenance loop: each micro-batch of documents appends
    * its (keys, counts) delta partitions — stateless, so replay
    * idempotence is the dynamic-partition overwrite alone (no visible-
    * state recomputation like the LSH/Jaccard loops need) — and, with
    * `autoCompactAt > 0`, the loop self-compacts at the cadence
    * threshold, inheriting the build's bucket count strictly.
    */
  def maintainFuzzyDictionary(stream: DataFrame, name: String,
                              deltaDir: String, checkpointDir: String,
                              autoCompactAt: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.IndexLifecycle.maintainLoop(stream, checkpointDir,
      // the radius is INDEX state, not loop configuration: a loop
      // pointed at a d2 index must append del<=2 keys or every delta
      // term becomes unreachable at the probe radius
      applyBatch = (batch, batchId) => appendFuzzyBatch(batch, deltaDir,
        batchId, maxEdits = indexRadius(batch.sparkSession, name)),
      autoCompactAt = autoCompactAt,
      compact = (s, maxUnfolded) => {
        compactFuzzyIfNeeded(s, name, deltaDir, maxUnfolded); ()
      })

  /** Threshold-gated [[compactFuzzyIndexGen]] — the family's
    * compaction-cadence knob; pressure reads from the cnt layer (every
    * batch writes it). True only when the watermark advanced.
    */
  def compactFuzzyIfNeeded(spark: org.apache.spark.sql.SparkSession,
                           name: String, deltaDir: String,
                           maxUnfolded: Int, buckets: Int = -1): Boolean =
    graft.sources.IndexLifecycle.compactIfNeeded(spark, s"${name}_cnt",
      s"$deltaDir/cnt", maxUnfolded, buckets,
      compactFuzzyIndexGen(spark, name, deltaDir, _))
}
