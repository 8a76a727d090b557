package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Bucketed-table layout for co-located joins — the 100 TB path for the
  * enrichment join (J1) when the user dimension outgrows broadcast range
  * (SCALE.md j1_enrich fallback).
  *
  * Writing both sides bucketed by the join key (same bucket count) lets
  * Spark's planner satisfy the join's distribution requirement from the
  * table layout: the sort-merge join reads co-located buckets directly and
  * NO Exchange appears in the plan — the shuffle is paid once at write time
  * and amortized over every subsequent join. With sortBy on the key the
  * per-bucket sort is also pre-paid.
  */
object Bucketing {

  /** Write `df` as a bucketed (and optionally sorted) parquet table.
    *
    * `compact = true` repartitions by the bucket key with numPartitions =
    * buckets first: Spark's bucket assignment and HashPartitioning both
    * take Murmur3 pmod numBuckets, so each task then holds exactly one
    * bucket and the table lands as `buckets` files instead of up to
    * tasks×buckets tiny ones — worth it for small/medium index tables
    * (file-commit overhead dominates). Leave false when a single bucket's
    * data exceeds one task's comfort (the 100 TB default): the unaligned
    * write trades file count for task-size freedom.
    */
  def writeBucketed(df0: DataFrame, table: String, key: String, buckets: Int,
                    sortCols: Seq[String] = Nil, compact: Boolean = false): Unit = {
    val df = if (compact)
      df0.repartition(buckets, org.apache.spark.sql.functions.col(key))
    else df0
    val spark = df.sparkSession
    dropWithLocation(spark, table)
    val w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Drop a managed table AND its warehouse location. Overwrites must be
    * idempotent across SESSIONS too: a fresh in-memory catalog has no entry
    * for the table, but a previous session's files at the managed location
    * make saveAsTable throw LOCATION_ALREADY_EXISTS — drop both the catalog
    * entry and any orphaned location. Shared by every index writer that
    * `saveAsTable`s (bucketed or not).
    */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    // catalog lookup first: the SQL round-trip (parse + exec) is only paid
    // when there is a table to drop — generation retirement probes
    // `_stats`/`_meta` siblings that usually don't exist
    if (spark.catalog.tableExists(table))
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Equi-join of two bucketed tables on their bucket key. When both sides
    * are bucketed with the same count, the plan is exchange-free.
    */
  def bucketedJoin(spark: SparkSession, fact: String, dim: String, key: String): DataFrame =
    spark.table(fact).join(spark.table(dim), Seq(key))

  /** Read a parquet path if it exists AND holds data (a streaming delta
    * layer may not before its first batch, and an empty batch's write
    * leaves only a `_SUCCESS` marker), as `schema` — its columns, in its
    * order; the provenance partition column (e.g. the replay-idempotence
    * `batch_id`) is read only when `schema` names it. Shared by the index
    * maintenance loops' base ∪ delta readers.
    *
    * The schema is GIVEN, never inferred: inference reads a file footer
    * through a Spark job, one job per call on every batch of every
    * maintenance loop, to learn types the reader already knows
    * ([[deltaSchema]] types a layer's columns off its base table).
    *
    * A compaction running elsewhere can delete the delta between the
    * existence check and the PLAN-TIME file listing; that window reads as
    * ABSENT (None — base-only answers, exactly what a completed
    * compaction implies) rather than failing the search. Only
    * missing-file/path errors take the fallback. This guards analysis
    * only — the returned frame is lazy, so files deleted MID-EXECUTION
    * would still fail the job; that is why the generation-swap layout
    * never deletes eagerly (folded partitions get one compaction cycle of
    * grace via [[gcDeltaPartitions]], and readers exclude them by
    * watermark).
    */
  def readParquetIfExists(spark: SparkSession, path: String,
                          schema: StructType): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData: Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    try {
      if (fs.exists(p) && hasData)
        Some(spark.read.schema(schema).parquet(path)
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*))
      else None
    } catch {
      case _: java.io.FileNotFoundException => None
      case e: org.apache.spark.sql.AnalysisException
          if e.getErrorClass != null &&
            e.getErrorClass.contains("PATH_NOT_FOUND") => None
    }
  }

  /** The `batch_id` partition column of every delta layer. Typed LONG: a
    * foreachBatch id is a long, and partition-directory inference would
    * have typed it INT.
    */
  private val BatchIdField: StructField = StructField("batch_id", LongType)

  /** The read schema of an index layer's delta: `cols` typed as `base`
    * (the layer's base table, whose rows the delta rows union with) types
    * them, then [[BatchIdField]].
    */
  def deltaSchema(base: DataFrame, cols: Seq[String]): StructType =
    StructType(cols.map(base.schema(_)) :+ BatchIdField)

  // ---- generation-swap layout ----
  // The one index lifecycle: the logical index name is a VIEW over
  // `<name>__g<N>` physical tables.
  // Compaction writes generation N+1 from generation N (sources are never
  // overwritten, so no eager materialization and no torn reads), then one
  // CREATE OR REPLACE VIEW repoints the name. A search that already
  // resolved generation N keeps reading its files — generation N-1 is the
  // one retired, so an in-flight reader always has its whole generation on
  // disk. A crash between the write and the swap leaves an orphan
  // generation the next compaction skips past (it numbers itself above
  // every existing physical table) and eventually retires.

  /** Highest existing generation number for `table`'s swap layout (0 when
    * none exists yet).
    */
  def currentGeneration(spark: SparkSession, table: String): Int =
    currentGenerations(spark, Seq(table))(table)

  /** [[currentGeneration]] for several names off ONE catalog listing —
    * multi-table layouts (the Jaccard index's three tables) call this once
    * per lifecycle step instead of paying a listTables round-trip per
    * name.
    */
  def currentGenerations(spark: SparkSession,
                         tables: Seq[String]): Map[String, Int] = {
    val names = spark.catalog.listTables().collect().map(_.name.toLowerCase)
    tables.map { t =>
      val prefix = s"${t.toLowerCase}__g"
      // count only EXACT generation tables (`__g<digits>` to the end):
      // sibling names (`__g2_meta`, `__g2_stats`) must not register as
      // generations — an orphan manifest from a crash between a
      // compaction's meta write and its table write would otherwise make
      // the next cycle skip a number and retire the LIVE generation's
      // predecessor a cycle early
      t -> names.filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix))
        .filter(r => r.nonEmpty && r.forall(_.isDigit)).map(_.toInt)
        .foldLeft(0)(math.max)
    }.toMap
  }

  /** Physical table name of generation `g`. */
  def generationName(table: String, g: Int): String = s"${table}__g$g"

  /** Repoint the logical view at a physical table — the one catalog
    * operation a swap consists of.
    */
  def swapView(spark: SparkSession, view: String, physTable: String): Unit = {
    // ALTER VIEW ... AS, not CREATE OR REPLACE VIEW: Spark implements the
    // persisted-view REPLACE as catalog drop + create, which opens a
    // window where a concurrent reader's `spark.table(view)` resolves
    // NOTHING and throws TABLE_OR_VIEW_NOT_FOUND — observed as a
    // fold-under-serve probe failure in the RecoverySpec lifecycle
    // matrix. ALTER VIEW AS is one catalog alterTable (atomic in the
    // session catalog), so the serving cutover is the single atomic step
    // the generation-swap design requires. The not-exists branch only
    // runs on a family's FIRST build (no readers can hold the name yet);
    // concurrent swappers of one family don't exist by design (one
    // maintainer per index — the maintainLoop contract).
    if (spark.catalog.tableExists(view))
      spark.sql(s"ALTER VIEW `$view` AS SELECT * FROM `$physTable`")
    else
      spark.sql(s"CREATE VIEW `$view` AS SELECT * FROM `$physTable`")
    ()
  }

  /** Retire generation `g` (no-op for g < 1): dropped AFTER the swap to
    * g+1 has landed, so only generation g-1's readers — two swaps old —
    * could ever have held it.
    */
  def dropGeneration(spark: SparkSession, table: String, g: Int): Unit =
    if (g >= 1) {
      dropWithLocation(spark, generationName(table, g))
      dropWithLocation(spark, s"${generationName(table, g)}_stats")
      dropWithLocation(spark, s"${generationName(table, g)}_meta")
    }

  /** Generation number encoded in a physical generation table name
    * (`table__gN` → N); 0 when `phys` is the bare table or carries no
    * `__g<digits>` suffix. The retirement sites use this to derive "the
    * generation behind the one we just replaced" from the RESOLVED source
    * rather than from the catalog's max-numbered table: after a crashed
    * compaction leaves an orphan `__gN` TABLE (written but never swapped
    * in), `currentGeneration + 1 − 2` can land ON the serving generation
    * — retiring it at the very swap that replaced it and destroying the
    * one-cycle reader grace. `sourceGeneration − 1` never can.
    */
  def generationNumberOf(table: String, phys: String): Int = {
    val p = s"${table.toLowerCase}__g"
    val s = phys.toLowerCase
    if (!s.startsWith(p)) 0
    else {
      val r = s.stripPrefix(p)
      if (r.nonEmpty && r.forall(_.isDigit)) r.toInt else 0
    }
  }

  /** Retire every generation strictly BELOW `srcGen` (the generation
    * that was serving when the current lifecycle step resolved its
    * source). Each of those was replaced at least one full swap ago, so
    * the documented one-cycle reader grace has elapsed; `srcGen` itself
    * always survives the step that just swapped away from it. Sweeping
    * ALL lower generations (not just `srcGen − 1`) also retires
    * generations a crash-skewed numbering jumped over — a `srcGen − 1`
    * rule would leak them forever. The sweep set comes from ONE catalog
    * listing of generations that actually EXIST (normally ≤ 2 entries),
    * not a `1 until srcGen` walk — a long-lived maintenance loop at
    * generation N must not pay O(N) catalog/fs probes per cycle.
    */
  def retireBelow(spark: SparkSession, table: String, srcGen: Int): Unit = {
    val prefix = s"${table.toLowerCase}__g"
    spark.catalog.listTables().collect().map(_.name.toLowerCase)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix))
      .filter(r => r.nonEmpty && r.forall(_.isDigit)).map(_.toInt)
      .distinct.filter(_ < srcGen)
      .foreach(dropGeneration(spark, table, _))
  }

  /** Generation number currently SERVING behind `table`'s view — 0 when
    * the view doesn't exist yet (fresh build) or resolves to a plain
    * table. The builders take this BEFORE their swap so they can retire
    * `live − 1` afterwards (see [[generationNumberOf]]).
    */
  def liveGeneration(spark: SparkSession, table: String): Int =
    if (spark.catalog.tableExists(table))
      generationNumberOf(table, resolvePhysical(spark, table))
    else 0

  /** The physical catalog table a logical name resolves to — the table
    * itself, or the generation table behind a view. Readers use this to
    * pick the SIBLING tables (`_stats` / `_meta`) of the SAME generation
    * as the postings they just resolved, so the postings-view swap is the
    * ONLY atomicity the layout needs: stats/manifest can never be observed
    * from a different generation than the postings.
    */
  def resolvePhysical(spark: SparkSession, table: String): String =
    spark.table(table).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if r.catalogTable.isDefined => r.catalogTable.get.identifier.table
    }.getOrElse(table)

  /** A generation's manifest — the ONE row of generation-scoped metadata
    * (`${phys}_meta`), written once per generation before its first swap
    * ([[IndexLifecycle]] invariant 4) and read once per resolution
    * ([[manifestOf]]):
    *
    *  - `foldedBatchMax`: the highest delta `batch_id` the generation has
    *    folded (−1 = none). Base ∪ delta readers filter the delta to
    *    batches ABOVE their resolved generation's watermark, which closes
    *    the double-count window between a compaction's view swap and its
    *    delta cleanup — after the swap the folded batches simply stop
    *    qualifying.
    *  - `maxBucket`: the IVF hot-bucket cap (0 = uncapped), so
    *    threshold-gated auto-folds inherit a capped build's shard guard
    *    instead of every maintenance call site restating it — the cap
    *    analogue of [[bucketCountOf]]'s bucket-count inheritance.
    *  - `maxEdits`: the fuzzy dictionary's build radius (0 = not recorded;
    *    the fuzzy family refuses such an index rather than guess).
    *
    * Layout facts the catalog already holds (bucket count, key encoding —
    * the key column's type) are not repeated here. The all-default
    * manifest is never written: an ABSENT manifest reads back as it, so a
    * fresh uncapped build of a non-fuzzy family pays no manifest write
    * and its readers no manifest read.
    */
  final case class Manifest(foldedBatchMax: Long = -1L, maxBucket: Int = 0,
                            maxEdits: Int = 0)

  private val ManifestSchema = StructType(Seq(
    StructField("folded_batch_max", LongType, nullable = false),
    StructField("max_bucket", IntegerType, nullable = false),
    StructField("max_edits", IntegerType, nullable = false)))

  /** Write generation `phys`'s manifest — its one writer. */
  def writeMeta(spark: SparkSession, phys: String, m: Manifest): Unit = {
    dropWithLocation(spark, s"${phys}_meta")
    spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(m.foldedBatchMax, m.maxBucket, m.maxEdits)),
        ManifestSchema)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${phys}_meta")
  }

  /** The manifest of an ALREADY-RESOLVED physical generation — the one
    * reader, one catalog lookup plus (when the manifest exists) one
    * single-row job. Absent manifest ≡ [[Manifest]]'s defaults; a manifest
    * written before a column existed reads that column's default (0), so
    * every older layout stays readable.
    *
    * Readers that also read the generation's postings or stats resolve
    * ONCE ([[resolvePhysical]]) and pass that name here — resolving twice
    * opens a window where a concurrent compaction swap lands between the
    * resolutions and the reader mixes generations (new watermark against
    * old postings drops unfolded batches; old watermark against new base
    * double-counts just-folded ones).
    */
  def manifestOf(spark: SparkSession, phys: String): Manifest = {
    val meta = s"${phys}_meta"
    if (!spark.catalog.tableExists(meta)) Manifest()
    else {
      val df = spark.table(meta)
      val has = df.schema.fieldNames.toSet
      df.collect().headOption.fold(Manifest()) { r =>
        def int(c: String): Int = if (has(c)) r.getAs[Int](c) else 0
        Manifest(r.getAs[Long]("folded_batch_max"), int("max_bucket"),
          int("max_edits"))
      }
    }
  }

  /** Folded-batch watermark of the generation behind `table` (−1 when the
    * layout has no manifest). Resolves the generation itself — for
    * pressure readings only; see [[manifestOf]] for readers that also
    * read the postings.
    */
  def foldedBatchMax(spark: SparkSession, table: String): Long =
    manifestOf(spark, resolvePhysical(spark, table)).foldedBatchMax

  /** Fail fast when `table` already exists as a plain TABLE — e.g. was
    * written by a plain table writer (`buildBm25Index`). A plain table
    * cannot atomically become a view: a swap builder that ran anyway
    * would write its `__g1` generation and only THEN hit
    * `CREATE OR REPLACE VIEW` over the existing table (AnalysisException),
    * leaving an orphan generation and a half-migrated name. Called by the
    * `*Gen` builders BEFORE any write, so the failure is clean and the fix
    * is explicit: drop the plain table ([[dropWithLocation]]) or pick a
    * new name.
    */
  def requireSwapAdoptable(spark: SparkSession, table: String): Unit =
    if (spark.catalog.tableExists(table) &&
        spark.catalog.getTable(table).tableType != "VIEW")
      throw new IllegalStateException(
        s"`$table` already exists as a plain table, which cannot become " +
          "a generation-swap view. Drop it (Bucketing.dropWithLocation) or " +
          "use a different name for the generation-swap index.")

  /** Highest `batch_id` in an already-opened delta frame (−1 when empty).
    *
    * Compactions MUST take their folded watermark from the SAME frame they
    * fold (the parquet file listing is snapshotted when the frame is
    * created, so the watermark and the folded rows see an identical batch
    * set) — a separate directory listing for the watermark races a
    * running maintenance loop: a batch landing between the two listings
    * gets folded yet sits above the recorded watermark, and post-swap
    * base ∪ delta readers double-count it.
    */
  def maxBatchIdOf(df: DataFrame): Long = {
    // partition-directory inference types batch_id as INT — cast up
    val r = df.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("batch_id").cast("long")))
      .collect().head
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** Highest `batch_id` present in a delta directory (−1 when absent or
    * empty). Fresh listing — see [[maxBatchIdOf]] for why a compaction
    * must not pair this with a second listing of the same directory.
    */
  def maxBatchId(spark: SparkSession, path: String): Long =
    readParquetIfExists(spark, path, StructType(Seq(BatchIdField)))
      .map(maxBatchIdOf).getOrElse(-1L)

  /** Generation-consistent base ∪ delta read of one index layer: resolve
    * the physical generation behind `table` ONCE and take both the base
    * rows and the folded-batch watermark off that single resolution, then
    * union the delta rows ABOVE the watermark (projected to `cols`, the
    * provenance `batch_id` dropped). This is the one correct read shape
    * under a concurrent generation-swap compaction — resolving the view
    * per-read lets a swap land between resolutions and mix generations
    * (old watermark + new base double-counts just-folded batches; new
    * watermark + old base silently drops them).
    *
    * `excludeBatch` additionally hides one delta batch — a replayed
    * foreachBatch batch excludes its OWN partition so the redelivery
    * recomputes from exactly the state the first delivery saw.
    * No `deltaPath` (None) degrades to a plain single-resolution read;
    * plain (non-generation) tables resolve to themselves with watermark
    * −1 and read the whole delta, so the same loop code serves both
    * layouts.
    */
  def layerWithDelta(spark: SparkSession, table: String,
                     deltaPath: Option[String], cols: Seq[String],
                     excludeBatch: Option[Long] = None): DataFrame = {
    val (base, delta) = layerParts(spark, table, deltaPath, cols, excludeBatch)
    delta.map(base.unionByName(_)).getOrElse(base)
  }

  /** [[layerWithDelta]] with the base and live-delta frames returned
    * SEPARATELY (same single-resolution discipline). Callers whose
    * consumer is an equi-join should prefer this and join each part on
    * its own — `probe ⋈ (base ∪ delta) = (probe ⋈ base) ∪ (probe ⋈ delta)`
    * by distributivity, and the split keeps the bucketed base side's
    * output partitioning (exchange-free join) where the union form erases
    * it and re-shuffles the whole corpus-sized base per probe. A consumer
    * that genuinely needs all rows co-located per key across BOTH parts
    * (a window/groupBy over the union, e.g. the BM25 df derivation) has
    * no such decomposition and pays the union-wide shuffle until
    * compaction empties the delta.
    */
  def layerParts(spark: SparkSession, table: String,
                 deltaPath: Option[String], cols: Seq[String],
                 excludeBatch: Option[Long] = None)
      : (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.col
    val phys = resolvePhysical(spark, table)
    val base = spark.table(phys).select(cols.map(col): _*)
    (base, deltaPath.flatMap(liveDelta(spark, _, base, cols,
      manifestOf(spark, phys).foldedBatchMax, excludeBatch)))
  }

  /** The delta rows of one index layer ABOVE watermark `folded` (and,
    * with `excludeBatch`, outside that batch's partition), projected to
    * `cols` typed as `base` — the delta half of [[layerParts]], for
    * readers that already hold the resolved generation's manifest.
    */
  def liveDelta(spark: SparkSession, path: String, base: DataFrame,
                cols: Seq[String], folded: Long,
                excludeBatch: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    readParquetIfExists(spark, path, deltaSchema(base, cols)).map { d =>
      val live = d.filter(col("batch_id") > folded)
      excludeBatch.map(bId => live.filter(col("batch_id") =!= bId))
        .getOrElse(live).drop("batch_id")
    }
  }

  /** Write one foreachBatch batch's rows into a delta layer under its own
    * `batch_id=` partition with dynamic partition OVERWRITE — the
    * replay-idempotence primitive of every LSM maintenance loop here: a
    * redelivered batch replaces exactly its own partition (recomputed from
    * the same visible state via [[layerWithDelta]]'s `excludeBatch`), so
    * checkpoint replay can never double-append, and no missing-row gate —
    * hence no per-batch index scan — is needed.
    */
  def writeDeltaPartition(df: DataFrame, path: String, batchId: Long): Unit =
    df.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Generation-swap compaction of ONE bucketed index layer — the shared
    * core of the LSH/Jaccard compactors (BM25/IVF have layer-specific
    * extras — stats re-aggregation, shard re-stamping — and keep their own
    * bodies under the same discipline): generation N+1 is written from
    * generation N ∪ the unfolded delta batches (nothing overwritten in
    * place), the folded watermark derives from the SAME delta frame being
    * folded (one file listing, see [[maxBatchIdOf]]), one view swap cuts
    * over, delta partitions the PREVIOUS generation had folded are GC'd
    * (one cycle of grace for in-flight readers), and generation N−1
    * retires. Safe under concurrently serving [[layerWithDelta]] readers
    * and a running maintenance loop.
    */
  def compactLayerGen(spark: SparkSession, table: String, deltaPath: String,
                      key: String, cols: Seq[String], buckets: Int,
                      compact: Boolean = false,
                      fold: DataFrame => DataFrame = identity): Unit = {
    import org.apache.spark.sql.functions.col
    requireSwapAdoptable(spark, table)
    val srcPhys = resolvePhysical(spark, table)
    // retirement is anchored on the RESOLVED source, not g − 2: an orphan
    // generation table (crash between write and swap) inflates g, and
    // g − 2 would then retire the serving generation with zero grace
    val srcGen = generationNumberOf(table, srcPhys)
    val g = currentGeneration(spark, table) + 1
    val phys = generationName(table, g)
    val src = manifestOf(spark, srcPhys)
    val prevFolded = src.foldedBatchMax
    val delta = readParquetIfExists(spark, deltaPath,
      deltaSchema(spark.table(srcPhys), cols))
    val newFolded =
      math.max(prevFolded, delta.map(maxBatchIdOf).getOrElse(-1L))
    if (newFolded == prevFolded) {
      // nothing qualifies to fold (absent/fully-folded delta, or a
      // half-written batch being held back): skip the corpus-sized
      // rewrite and the generation churn — a stuck maintenance loop must
      // not make every scheduled cycle re-copy the index. Still run the
      // delayed maintenance the cycle owes: GC the partitions the CURRENT
      // generation already folded (their grace clock started at the swap
      // that folded them) and retire the generation behind it.
      gcDeltaPartitions(spark, deltaPath, prevFolded)
      retireBelow(spark, table, srcGen)
      return
    }
    val base = spark.table(srcPhys).select(cols.map(col): _*)
    // `fold` post-processes the unioned rows for layers whose append
    // semantics are not disjoint-union: a count layer sums per key, a
    // keys layer that may repeat rows across batches folds to distinct.
    // Probes must apply the SAME aggregation over base ∪ live delta, so
    // folding is purely a compaction of representation, never of meaning.
    val rows = fold(delta
      .map(_.filter(col("batch_id").cast("long") > prevFolded &&
          col("batch_id").cast("long") <= newFolded)
        .drop("batch_id"))
      .map(base.unionByName(_)).getOrElse(base))
    // manifest BEFORE the physical table: readers that DERIVE a sibling
    // generation (the Jaccard probe derives toks/prefix from the vocab
    // generation) pick the table up the moment it exists in the catalog —
    // before any view swap — so its watermark must already be there, or
    // the window between the two writes reads folded rows at watermark −1
    // and double-counts them against the delta. A crash in between leaves
    // an orphan `_meta` the generation numbering skips past and
    // [[dropGeneration]] eventually retires. The source manifest carries
    // over with only the watermark replaced, so generation-scoped layout
    // facts (the fuzzy radius) travel with every fold.
    writeMeta(spark, phys, src.copy(foldedBatchMax = newFolded))
    writeBucketed(rows, phys, key, buckets, compact = compact)
    swapView(spark, table, phys)
    gcDeltaPartitions(spark, deltaPath, prevFolded)
    retireBelow(spark, table, srcGen)
  }

  /** Compaction-pressure reading: how many delta `batch_id=` partitions
    * sit ABOVE the resolved generation's folded watermark. One directory
    * listing plus the one-row manifest read (a tiny single-task job once
    * a manifest exists) — cheap enough for a maintenance loop to take the
    * reading every batch and trigger its family's generation-swap
    * compaction at a threshold (e.g. [[ext.Retrieval.compactBm25IfNeeded]]):
    * the split probes' delta overhead is delta-sized (measured flat under
    * 16× base growth, SCALE.md round 15), so the threshold trades that
    * bounded per-probe cost against compaction's base-rewrite cost.
    */
  def unfoldedBatchCount(spark: SparkSession, table: String,
                         deltaPath: String): Int =
    batchesAbove(spark, deltaPath, foldedBatchMax(spark, table))

  /** [[unfoldedBatchCount]] against a watermark the caller already read:
    * the directory listing alone, no manifest job. */
  private[graft] def batchesAbove(spark: SparkSession, deltaPath: String,
                                  folded: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      n.startsWith("batch_id=") &&
        scala.util.Try(n.stripPrefix("batch_id=").toLong)
          .toOption.exists(_ > folded)
    }
  }

  /** Bucket count of the physical generation behind `table` (`default`
    * when the layout carries no bucket spec). The self-compacting loops
    * read this so an auto-fold preserves the BUILD'S bucket count instead
    * of silently re-bucketing the index to a hardcoded default.
    */
  def bucketCountOf(spark: SparkSession, table: String, default: Int): Int = {
    val phys = resolvePhysical(spark, table)
    scala.util.Try(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(phys))
        .bucketSpec.map(_.numBuckets))
      .toOption.flatten.getOrElse(default)
  }

  /** [[bucketCountOf]] that REFUSES to guess: the inherit path of the
    * threshold-gated compactors, where a swallowed metadata failure or a
    * bucket-spec-less layout must fail loudly rather than silently
    * re-bucket the index to a hardcoded default on the next fold.
    */
  def inheritedBucketCount(spark: SparkSession, table: String): Int = {
    val n = bucketCountOf(spark, table, -1)
    if (n <= 0) throw new IllegalStateException(
      s"cannot infer the bucket count behind `$table` (no bucket spec on " +
        "the resolved generation) — pass `buckets` explicitly to the fold")
    n
  }

  /** Delete delta `batch_id=` partitions at or below the watermark — the
    * DELAYED delta GC of the generation layout: a compaction only removes
    * partitions the PREVIOUS generation had already folded, so an
    * in-flight base ∪ delta reader gets a full compaction cycle of grace
    * before any file it may have planned against disappears (the same
    * retention discipline as [[dropGeneration]]'s g−1 lag).
    */
  def gcDeltaPartitions(spark: SparkSession, path: String, upTo: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id=")) {
        val id = scala.util.Try(n.stripPrefix("batch_id=").toLong)
          .getOrElse(Long.MaxValue)
        if (id <= upTo) { fs.delete(st.getPath, true); () }
      }
    }
  }
}
