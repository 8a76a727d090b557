package graft.sources

import org.apache.spark.sql.SparkSession

/** The ONE generation-swap lifecycle skeleton behind every persisted index
  * family (LSH bands, exact-Jaccard prefix, substring spans, fuzzy
  * dictionary, BM25 postings, IVF postings — `ext.Dedup`, `ext.Fuzzy`,
  * `ext.Retrieval`, `ext.Similarity`). Each family used to carry its own
  * copy of this sequence, and the subtlest bugs in the repo's history
  * lived in the copies drifting (orphan-manifest numbering, zero-grace
  * retirement, swap-window double counts, the radius stamp racing the
  * swap) — the skeleton now exists once, with the invariants stated once:
  *
  *  1. every logical layer name must be swap-adoptable
  *     ([[Bucketing.requireSwapAdoptable]] — a pre-existing PLAIN table
  *     cannot atomically become a view);
  *  2. the SERVING generation of every layer is captured BEFORE anything
  *     is written — retirement is relative to what was live when this
  *     step resolved its source, never to `g − 2` arithmetic (an orphan
  *     generation from a crashed run inflates `g`, and `g − 2` would
  *     retire the serving generation with zero reader grace,
  *     [[Bucketing.generationNumberOf]]);
  *  3. ONE shared generation number across all the family's layers (max
  *     over their current generations + 1, off one catalog listing):
  *     derived-sibling resolution (the Jaccard probe derives toks/prefix
  *     from the vocab generation) requires that `vocab__gN` existing
  *     implies its siblings at `__gN` exist — per-layer numbering could
  *     skew after a crashed compaction and silently disable that
  *     atomicity path;
  *  4. one manifest row per generation, written once, before the first
  *     swap ([[Bucketing.Manifest]]: the rebuild watermark, the IVF cap,
  *     the fuzzy radius — all generation-scoped metadata there is). All
  *     physical tables and that row land BEFORE any view swaps: the
  *     first view repoint is the single atomic step at which a reader
  *     can observe the new generation, so nothing observable can pair
  *     one generation's postings with another's metadata. A crash
  *     anywhere before the swaps leaves orphan tables the next build
  *     numbers past and retirement eventually drops;
  *  5. views swap in the family's declared layer order (families whose
  *     probes derive siblings from one anchor layer put that anchor
  *     FIRST — its swap is the consistency point);
  *  6. retirement sweeps every generation strictly below the captured
  *     serving one, per layer — the replaced generation itself survives
  *     one full cycle so in-flight readers keep every file they planned
  *     against ([[Bucketing.retireBelow]]).
  *
  * Compaction bodies stay family-owned ([[Bucketing.compactLayerGen]] for
  * the per-layer-watermark families; BM25/IVF carry coupled-layer
  * holdback logic) — what THIS object also owns is the shared
  * threshold-gate shape around them ([[compactIfNeeded]]).
  */
object IndexLifecycle {

  /** Run one build/rebuild as a numbered generation behind views.
    *
    * @param layers  logical layer names in SWAP ORDER (the first layer is
    *                the family's consistency anchor when probes derive
    *                siblings from it)
    * @param write   writes every physical table for the new generation;
    *                receives the physical names positionally matching
    *                `layers`. May also write sibling tables
    *                (`{phys}_stats`) — everything it writes is invisible
    *                until the swaps.
    * @param deltaPaths the family's delta directories when REBUILDING
    *                over a live delta layer (leave empty for fresh
    *                builds). Callers rebuild with the maintenance loop
    *                QUIESCED (stop the stream, rebuild over the full
    *                current corpus, restart), so the one listing here is
    *                exact: every layer's manifest records the highest
    *                batch_id present as folded, and the retained delta
    *                partitions — whose rows the rebuilt base already
    *                holds — stop qualifying instead of double-counting
    *                (and, for a renumbering rebuild like Jaccard's,
    *                instead of colliding on stale tids).
    * @param manifest the ANCHOR layer's layout fields (IVF cap, fuzzy
    *                radius); its watermark is the one derived from
    *                `deltaPaths`. A layer whose manifest would be
    *                all-default gets none ([[Bucketing.Manifest]]).
    * @param extraSwaps additional (view, physical) pairs to repoint AFTER
    *                the layer swaps — sibling views whose physical tables
    *                are suffix-named off a layer's generation (the BM25
    *                `_stats` view) rather than numbered generations of
    *                their own.
    */
  def buildGeneration(spark: SparkSession,
                      layers: Seq[String],
                      write: Seq[String] => Unit,
                      deltaPaths: Seq[String] = Nil,
                      manifest: Bucketing.Manifest = Bucketing.Manifest(),
                      extraSwaps: Seq[String] => Seq[(String, String)] =
                        _ => Nil): Unit = {
    val b = Bucketing
    layers.foreach(b.requireSwapAdoptable(spark, _))
    val liveGens = layers.map(n => n -> b.liveGeneration(spark, n)).toMap
    val g = b.currentGenerations(spark, layers).values.max + 1
    val phys = layers.map(b.generationName(_, g))
    write(phys)
    val folded = deltaPaths.map(b.maxBatchId(spark, _)).foldLeft(-1L)(math.max)
    phys.zipWithIndex.foreach { case (p, i) =>
      val m = (if (i == 0) manifest else b.Manifest())
        .copy(foldedBatchMax = folded)
      if (m != b.Manifest()) b.writeMeta(spark, p, m)
    }
    phys.zip(layers).foreach { case (p, n) => b.swapView(spark, n, p) }
    extraSwaps(phys).foreach { case (v, p) => b.swapView(spark, v, p) }
    layers.foreach(n => b.retireBelow(spark, n, liveGens(n)))
  }

  /** The shared threshold gate around a family's generation-swap
    * compaction: fold only when the delta holds more than `maxUnfolded`
    * batches above the pressure layer's folded watermark, inherit the
    * BUILD'S bucket count strictly when the caller doesn't restate one
    * ([[Bucketing.inheritedBucketCount]] refuses to guess — resolved
    * lazily, so the below-threshold fast path stays one fs listing plus
    * the one-row manifest read), and report whether the watermark
    * actually ADVANCED: the compactor's half-batch holdback can
    * legitimately fold nothing (e.g. an orphan postings partition whose
    * sibling half never landed), and a caller treating the return as
    * "pressure relieved" must not believe a no-op fold cleared it.
    *
    * @param pressureLayer logical table whose manifest anchors the
    *                      pressure reading (every maintenance batch
    *                      writes its delta path)
    * @param pressureDelta that layer's delta directory
    * @param compact       the family's fold, given the resolved bucket
    *                      count
    */
  def compactIfNeeded(spark: SparkSession, pressureLayer: String,
                      pressureDelta: String, maxUnfolded: Int,
                      buckets: Int, compact: Int => Unit): Boolean = {
    val b = Bucketing
    if (b.unfoldedBatchCount(spark, pressureLayer, pressureDelta)
        > maxUnfolded) {
      val before = b.foldedBatchMax(spark, pressureLayer)
      val useBuckets = if (buckets > 0) buckets
        else b.inheritedBucketCount(spark, pressureLayer)
      compact(useBuckets)
      b.foldedBatchMax(spark, pressureLayer) > before
    } else false
  }

  /** The ONE replay-safe dedup micro-batch skeleton behind the three
    * index-GROWING dedup loops (LSH bands, exact Jaccard, substring
    * spans — `Dedup.processLshBatch` / `processJaccardBatch` /
    * `processSubstrBatch`). Each family owns its probe (candidate pairs
    * against the batch-excluded visible state) and its index increment
    * (the survivors' delta rows); everything BETWEEN those two — the
    * exact code region where the r15–r17 reviews kept finding bugs —
    * exists once here:
    *
    *  1. the replay-after-compaction guard: verdicts whose CORPUS side is
    *     a current-batch doc are dropped — a replayed batch whose first
    *     delivery was already folded into the base must not drop a doc
    *     for matching itself or a within-batch twin (both-survive is the
    *     documented within-batch contract; on a first run such pairs
    *     cannot exist, so first-run semantics are unchanged);
    *  2. the dup→survivor derivation: one anti-join, no distinct (an
    *     anti-join is indifferent to repeated dup ids). The guard's
    *     batch side is the batch's own doc ids — batch-sized, so it
    *     broadcasts and the probe pairs never shuffle for it;
    *  3. the write ORDER — survivors land before the index increment, so
    *     a crash between the two writes leaves the index missing rows a
    *     replay re-derives, never survivor rows the index already
    *     advertises;
    *  4. survivor reuse — the frame is consumed by both writes, persisted
    *     across them and released in a finally.
    *
    * @param probePairs candidate pairs from the batch against base ∪
    *                   delta EXCLUDING the batch's own partition
    *                   ([[Bucketing.layerParts]]' `excludeBatch`), as
    *                   (`doc_id_new`, `doc_id_corpus`) — the family
    *                   normalizes its pair column names to this contract
    * @param appendIndex writes the SURVIVORS' index increment(s) into the
    *                   family's delta layer(s)
    *                   ([[Bucketing.writeDeltaPartition]]-based)
    */
  def dedupBatchStep(batch: org.apache.spark.sql.DataFrame, batchId: Long,
                     survivorsPath: String,
                     probePairs: org.apache.spark.sql.DataFrame,
                     appendIndex: org.apache.spark.sql.DataFrame => Unit)
      : Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dupIds = probePairs
      .join(broadcast(batch.select(col("doc_id").as("doc_id_corpus"))),
        Seq("doc_id_corpus"), "left_anti")
      .select(col("doc_id_new").as("doc_id"))
    val survivors = batch.join(dupIds, Seq("doc_id"), "left_anti").persist()
    try {
      Bucketing.writeDeltaPartition(survivors, survivorsPath, batchId)
      appendIndex(survivors)
    } finally { survivors.unpersist(blocking = false); () }
  }

  /** The ONE streaming maintenance-loop shape behind all nine loops — the
    * six index maintainers (LSH, Jaccard, substring dedup, fuzzy, IVF,
    * BM25), the decontamination and blocklist gates and crawl ingest
    * (`Dedup.gateSubstrDecontaminated`, `Curation.gateBlocklisted`,
    * `Curation.maintainCrawlIngest`): an Append-mode
    * foreachBatch stream that applies the family's delta step per
    * micro-batch and, when `autoCompactAt > 0`, runs the family's
    * threshold-gated fold with `maxUnfolded = autoCompactAt − 1` (so a
    * threshold of 1 folds every batch — the documented cadence contract).
    * Like [[buildGeneration]], this exists once so the loop wiring — the
    * output mode, the checkpoint option, the off-by-one, the discarded
    * did-the-watermark-advance Boolean — cannot drift per family; the
    * delta-apply bodies and fold gates stay family-owned.
    *
    * @param applyBatch the family's replay-idempotent delta step
    *                   ([[Bucketing.writeDeltaPartition]]-based)
    * @param compact    the family's threshold-gated fold, given (session,
    *                   maxUnfolded); only invoked when `autoCompactAt > 0`
    */
  def maintainLoop(stream: org.apache.spark.sql.DataFrame,
                   checkpointDir: String,
                   applyBatch: (org.apache.spark.sql.DataFrame, Long) => Unit,
                   autoCompactAt: Int = 0,
                   compact: (SparkSession, Int) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
        if (autoCompactAt > 0)
          compact(batch.sparkSession, autoCompactAt - 1)
      }
      .start()
}
