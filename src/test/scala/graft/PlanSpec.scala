package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext._
import graft.operators._

/** Physical-plan assertions: the SCALE.md / PLANS.md claims, executable.
  * These fail if a refactor silently regresses a broadcast to a shuffle
  * join, un-prunes a scan, or turns top-k into a global sort.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q3 top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan(Relational.topRevenueOrders(spark, sfDir, 10))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j1 enrichment broadcasts the user dimension (zero fact-side shuffles)") {
    val p = plan(Enrich.enriched(Tables.events(spark, sfDir), Tables.customer(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1 scan is filter-pushed and column-pruned") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, sfDir)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // untouched wide columns must not be read
    assert(!p.contains("l_comment"), p)
  }

  test("narrow text operators have no shuffle at all") {
    val docs = Tables.documents(spark, sfDir)
    Seq(
      TextAnalysis.stats(docs),
      TextAnalysis.tokenClasses(docs),
      TextAnalysis.fingerprints(docs),
      Dedup.simhash(docs),
      Curation.piiScrub(Curation.withPiiInjected(docs)),
      Curation.sampleStrata(docs)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("langId evaluates each marker regex exactly once (no argmax tree blowup)") {
    // the r9 driver bench caught the old fold-of-CASEs argmax re-inlining
    // every lower-ranked language's full scoring tree per branch — the
    // physical plan carried the marker regex 20+ times in ONE predicate.
    // The array-of-structs + array_max form must keep exactly one
    // regexp_replace per marker word (11) plus one for normalization.
    val p = plan(TextAnalysis.langId(Tables.documents(spark, sfDir)))
    val nMarkers = TextAnalysis.langMarkers.map(_._2.size).sum
    val occurrences = "regexp_replace".r.findAllIn(p).length
    assert(occurrences == nMarkers + 1,
      s"expected ${nMarkers + 1} regexp_replace in plan, found $occurrences:\n$p")
  }

  test("jaccardJoin releases its token-stream checkpoint once toks materializes") {
    // tk (corpus-sized exploded tokens) is checkpointed to serve two
    // consumers during construction, then must be freed the moment the
    // doc-sized toks checkpoint supersedes it — a leak here is storage
    // pressure on every later query in a long session (r9 driver bench).
    // Delta-based: only blocks this operator adds count.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Dedup.jaccardJoin(Tables.documents(spark, sfDir).limit(100))
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    // exactly one surviving checkpoint: toks (the returned plan reads it
    // three ways); the token-stream blocks must already be gone
    assert(added.size == 1, s"expected only the toks checkpoint to survive, got $added")
    assert(out.count() >= 0L) // plan must still be runnable after the release
    added.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
  }

  test("containment: above-budget vocab plans NO broadcast exchange") {
    // the vocab broadcast is a size-gated hint, never forced: a 10⁸–10⁹
    // row web-scale vocabulary must take the shuffle join (an explicit
    // broadcast() hint is un-overridable and would collect gigabytes to
    // the driver). With autoBroadcastJoinThreshold disabled, the only way
    // a BroadcastExchange can appear is through the hint — so the gated
    // form's plan must have none, and the under-budget form must still
    // carry it (the hint, not the threshold, drives the small case).
    val documents = Tables.documents(spark, sfDir)
    val corpus = documents.filter(col("doc_id") % 3 === 0)
    val q = Dedup.benchmarkHalves(documents)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val gated = plan(Dedup.containmentJoin(q, corpus, broadcastVocabMaxRows = 0))
      assert(!gated.contains("BroadcastExchange"), gated)
      val hinted = plan(Dedup.containmentJoin(q, corpus))
      assert(hinted.contains("BroadcastExchange"), hinted)
    } finally spark.conf.set(key, prev)
  }

  test("vocabulary rank is range-partitioned, never a single-partition window") {
    // the dictionary-encode step of jaccardJoin/buildJaccardIndexGen ranks the
    // DISTINCT-TOKEN table; at web scale that is 10⁸–10⁹ rows, so an
    // unpartitioned row_number window (Exchange SinglePartition) is a
    // straggler/OOM. Ranks.globalRank must range-partition the sort instead
    // — and produce the exact same numbering.
    val dfreq = Tables.documents(spark, sfDir)
      .select(explode(array_distinct(split(col("text"), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("df"))
    val p = plan(Ranks.sortedInput(dfreq, col("df").asc, col("token").asc))
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    val got = Ranks.globalRank(dfreq, "tid", col("df").asc, col("token").asc)
      .select("token", "tid").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = dfreq.withColumn("tid", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").asc, col("token").asc)).cast("long"))
      .select("token", "tid").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"globalRank diverged from row_number on ${got.size} tokens")
  }

  test("globalRankPerGroup equals per-group row_number, one range exchange for all groups") {
    // the fused multi-axis rank under rfm: every group's numbering must
    // equal the unpartitioned per-group row_number, including groups whose
    // rows split across range partitions and groups that share a partition
    val dfreq = Tables.documents(spark, sfDir)
      .select(explode(array_distinct(split(col("text"), "\\s+"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("g", pmod(length(col("token")), lit(3)).cast("long"))
    val got = Ranks.globalRankPerGroup(dfreq, "g", "rk",
        col("df").asc, col("token").asc)
      .select("g", "token", "rk").collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val want = dfreq.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("df").asc, col("token").asc)).cast("long"))
      .select("g", "token", "rk").collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == want, s"globalRankPerGroup diverged on ${got.size} rows")
    val p = plan(Ranks.globalRankPerGroup(dfreq, "g", "rk",
      col("df").asc, col("token").asc))
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("jaccard index probe: both index tables read co-located, zero index-side shuffles") {
    val docs = Tables.documents(spark, sfDir)
    Dedup.buildJaccardIndexGen(docs.filter(col("doc_id") % 2 === 0), "jac_plan_test",
      850000L, buckets = 4)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at test SF the planner broadcasts the index tables (also
      // exchange-free); force the sort-merge path to pin the bucketed
      // layout's contract at scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Dedup.jaccardAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 =!= 0), "jac_plan_test", 850000L)
        .queryExecution.executedPlan.toString
      assert(p.contains("jac_plan_test_prefix") && p.contains("jac_plan_test_toks"), p)
      // every shuffle belongs to the PROBE side: (1) probe prefixes to the
      // candidate join, (2) candidate distinct, (3) distinct output to the
      // first verification join, (4+5) the verification joins' streams.
      // (The probe's vocab-join and per-doc groupBy shuffles are paid ONCE
      // at `per`'s eager checkpoint, outside this plan.) The prefix and
      // toks tables satisfy their joins' distribution from the bucketed
      // layout — an index-side Exchange would appear as a 6th
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 5, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      Seq("jac_plan_test_vocab", "jac_plan_test_toks", "jac_plan_test_prefix")
        .foreach { t =>
          spark.sql(s"DROP VIEW IF EXISTS $t")
          graft.sources.Bucketing.dropGeneration(spark, t, 1)
        }
    }
  }

  test("generation-view jaccard probe: physical generation tables, zero index-side shuffles") {
    val docs = Tables.documents(spark, sfDir)
    Dedup.buildJaccardIndexGen(docs.filter(col("doc_id") % 2 === 0),
      "jac_genplan_test", 850000L, buckets = 4)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Dedup.jaccardAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 =!= 0), "jac_genplan_test", 850000L)
        .queryExecution.executedPlan.toString
      // single-resolution reads plan against the PHYSICAL generation
      // tables (not the views), so the bucketed layout — and the plan
      // contract below — is identical to the plain-table pin above
      assert(p.contains("jac_genplan_test_prefix__g1") &&
        p.contains("jac_genplan_test_toks__g1"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 5, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      Seq("jac_genplan_test_vocab", "jac_genplan_test_toks", "jac_genplan_test_prefix")
        .foreach { t =>
          spark.sql(s"DROP VIEW IF EXISTS $t")
          graft.sources.Bucketing.dropGeneration(spark, t, 1)
        }
    }
  }

  test("fuzzy probe: key- and term-bucketed layers read exchange-free") {
    // the persisted fuzzy dictionary stores exploded (k, term) postings
    // bucketed by k and (term, cnt) bucketed by term at BUILD time —
    // probes must satisfy both joins from the layout (the BM25/Jaccard
    // posture): with broadcast disabled, any index-side Exchange is a
    // regression that would re-shuffle the dictionary on every probe
    val docs = Tables.documents(spark, sfDir)
    graft.ext.Fuzzy.buildFuzzyIndexGen(docs.filter(col("doc_id") % 2 === 0),
      "fz_genplan_test", buckets = 4)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.ext.Fuzzy.fuzzyAgainstIndexWith(spark,
        graft.ext.Fuzzy.typoQueries(docs.filter(col("doc_id") % 2 =!= 0)),
        "fz_genplan_test")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("fz_genplan_test__g1") &&
        p.contains("fz_genplan_test_cnt__g1"), p)
      // probe-side shuffles only: (1) the query delete-key explode to the
      // candidate join, (2) the candidate distinct, (3) the re-key to the
      // admission join on term, (4) the final (doc, q_term, term) count
      // agg. Both index layers satisfy their joins from the bucketed
      // layout — an index-side Exchange would appear as a 5th
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 4, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      Seq("fz_genplan_test", "fz_genplan_test_cnt").foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        graft.sources.Bucketing.dropGeneration(spark, t, 1)
      }
    }
  }

  test("brute-force ANN broadcasts the query side (QxN, never NxN shuffle)") {
    graft.functions.CosineSimilarity.register(spark)
    val p = plan(Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), 20, 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("a2 OVERALL branch reuses the per-type shuffle at runtime (AQE stage reuse)") {
    val df = operators.Stats.lastSeen(Tables.events(spark, sfDir))
    df.collect() // materialize so AQE finalizes the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") ||
      "Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("bucketed ANN search emits no pair rows: kernel top-1, no rank window") {
    // The scale-killer shape these operators must NEVER regress to: joining
    // a bucket/posting-list against itself materializes Θ(bucket²) pair
    // rows into a shuffle before a rank-1 window discards all but one per
    // probe. The kernel formulation runs the quadratic loop inside
    // bucket_top1 per bucket and emits winners only — so the plan must
    // contain the kernel, and the ONLY window allowed is the
    // centroid-assignment row_number (none at all for sign-LSH).
    val emb = Tables.embeddings(spark, sfDir)
    val cases = Seq(
      // centroid assignment is a per-row kernel (nearest_centroids) and the
      // winner merge is an aggregation, so the ONLY window left in the
      // family is ivfTopKNeighbors' winners-only global re-rank
      (Similarity.lshTopNeighbor(emb), 0),
      (Similarity.lshTopNeighborMulti(emb), 0),
      (Similarity.ivfTopNeighbor(emb), 0),
      (Similarity.ivfTopKNeighbors(emb, 3), 1),
      (Similarity.ivfTopNeighborProbed(emb, 2), 0),
      // two-level routing must stay broadcast passes + the one posting
      // gather: no windows, no shuffled join anywhere in the route
      (Similarity.ivfTopNeighborHier(emb), 0))
    cases.foreach { case (df, maxWindows) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("bucket_top"), p)
      assert("\\bWindow\\b".r.findAllIn(p).length <= maxWindows, p)
      // the hot-bucket cap's only join is against the broadcast bucket
      // counts — a sort-merge join anywhere here means a shuffled N-row side
      assert(!p.contains("SortMergeJoin"), p)
    }
    val nd = Similarity.nearDupPairs(Similarity.withScaledCopies(emb), 0.95)
    val pn = nd.queryExecution.executedPlan.toString
    assert(pn.contains("cosine_close_pairs"), pn)
    assert(!pn.contains("SortMergeJoin"), pn) // counts join must broadcast
  }

  test("tfidf keywords is one corpus scan with WindowGroupLimit top-k") {
    // df rides the tf lineage as a token-partitioned window count; the
    // df-table self-join formulation silently rescans the corpus (column
    // pruning strips the count from the df branch, so the shared exchange
    // stops canonicalizing equal and AQE reuse never fires)
    val df = TextAnalysis.tfidfKeywords(Tables.documents(spark, sfDir), 3)
    val p = df.queryExecution.executedPlan.toString // pre-collect: initial plan only
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("span dedup: no count-distinct Expand; dup detection is min/max per hash") {
    val df = graft.ext.Dedup.spanDups(
      graft.ext.Dedup.withPerturbedCopies(Tables.documents(spark, sfDir)))
    val p = df.queryExecution.executedPlan.toString
    // the min(doc)!=max(doc) trick must plan as a plain hash aggregate —
    // a count(DISTINCT doc_id) formulation would materialize an Expand
    assert(!p.contains("Expand"), p)
    assert(p.contains("min(doc_id") && p.contains("max(doc_id"), p)
  }

  test("substr dups/apply: capped anchor join — no cartesian, no single partition") {
    val perturbed = graft.ext.Dedup.withPerturbedCopies(Tables.documents(spark, sfDir))
    val p = graft.ext.Dedup.substrDups(perturbed)
      .queryExecution.executedPlan.toString
    // the within-doc position cap must push down as a per-group top-K
    // (WindowGroupLimit) — a plain rank-then-filter window would sort and
    // number EVERY position of a repetitive doc before dropping them
    assert(p.contains("WindowGroupLimit"), p)
    // candidate generation is an anchor-keyed equi-join: any nested-loop
    // strategy means the anchor key fell out of the join condition
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("SinglePartition"), p)
    // one REPARTITION_BY_COL on the anchor hash serves the hot aggregate,
    // the cap window (subset rule) and the pair join per branch; the only
    // other hash exchanges are the candidate-sized islands window and the
    // per-pair aggregate — a count above this means some stage planned its
    // own shuffle of the span-sized frame again
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 6, p)
    val ap = graft.ext.Dedup.substrApply(perturbed)
      .queryExecution.executedPlan.toString
    // application is an equi-join of the corpus against per-doc range
    // arrays + a map-side positional filter: no token explode (Generate)
    // may reappear after the span checkpoint, no nested-loop join, and
    // nothing may collapse to a single partition
    assert(ap.contains("WindowGroupLimit"), ap)
    assert(!ap.contains("CartesianProduct") && !ap.contains("BroadcastNestedLoop"), ap)
    assert(!ap.contains("SinglePartition"), ap)
    assert(!ap.contains("Generate"), ap)
    // the decontamination variant shares the capped anchor-join core
    // (cross-corpus instead of self) — same structural guarantees
    val dc = graft.ext.Dedup.substrDecontaminate(
        perturbed.filter(col("doc_id") >= 1000000L),
        perturbed.filter(col("doc_id") < 1000000L && col("doc_id") % 97 === 0))
      .queryExecution.executedPlan.toString
    assert(dc.contains("WindowGroupLimit"), dc)
    assert(!dc.contains("CartesianProduct") && !dc.contains("BroadcastNestedLoop"), dc)
    assert(!dc.contains("SinglePartition"), dc)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("bpe merge step tops out as TakeOrderedAndProject, never a global sort") {
    val df = graft.ext.TextAnalysis.bpeMergeStep(Tables.documents(spark, sfDir))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"), p)
  }

  test("quota sample keeps only top-per rows per partition before the window") {
    val p = graft.ext.Curation.quotaSample(Tables.documents(spark, sfDir), 50)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("quality classifier is map-only: no Exchange in the plan") {
    val p = graft.ext.TextAnalysis.qualityClassifier(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("ts neighbors: word-bucketed kernel gather, winners only, no cartesian") {
    // pin the kernel pipeline's plan via the unguarded path — the guarded
    // default returns an eagerly-taken winners frame (a checkpoint scan),
    // whose upstream is this same plan plus the materialization step
    val p = graft.ext.TimeSeries
      .tsTopNeighbor(Tables.events(spark, sfDir), graft.ext.Similarity.NoMaxBucket)
      .queryExecution.executedPlan.toString
    // candidates gather per SAX word into the bucket_min_l2 kernel — one
    // winner row per user, no pair rows, no rank window; never a cross
    // join of users (the only nested-loop join allowed is the 1-row day0
    // global-scalar broadcast)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bucket_min_l2"), p)
    // the former |bucket|^2 formulation: an equi-join of users on the word
    // feeding a rank window — neither may reappear
    assert(!p.contains("Join [word"), p)
    assert(!p.contains("row_number"), p)
  }

  test("hybrid rrf: rank lists meet in one join, top-k is group-limited") {
    val p = graft.ext.Retrieval.hybridRrf(
      Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
      .queryExecution.executedPlan.toString
    // the corpus-sized work sits inside the two retrievers; fusion itself
    // is a join of Q x depth lists plus a group-limited window
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("replay range predicate pushes into the raw events scan") {
    // the derived-ts filter CANNOT push through timestamp_micros(ts div
    // 1000); the pruned path filters the raw nanos-long column instead
    val p = plan(graft.sources.Loaders.eventReplayPruned(
      spark, sfDir, "2024-01-01", "2024-01-02"))
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"), p)
  }

  test("pruned and unpruned replay agree row-for-row") {
    val a = graft.sources.Loaders.eventReplayPruned(
      spark, sfDir, "2024-01-05", "2024-01-09").orderBy("record_key", "record_value").collect()
    val b = graft.sources.Loaders.eventReplay(
      Tables.events(spark, sfDir), "2024-01-05", "2024-01-09")
      .orderBy("record_key", "record_value").collect()
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("resample OHLC: both rank windows and the agg share ONE exchange") {
    val p = plan(graft.ext.TimeSeries.resampleOhlc(Tables.events(spark, sfDir)))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("scd2: lag-change formulation keys everything on custkey — one exchange") {
    val p = plan(graft.operators.Relational.scd2OrderStatus(
      spark.read.parquet(s"$sfDir/orders.parquet")))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("fuzzy match: neighborhood equi-join, never a cartesian") {
    val docs = Tables.documents(spark, sfDir)
    val df = graft.ext.Fuzzy.spellMatch(docs)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("gapfill: every exchange carries aggregated partials, never raw rows") {
    val df = graft.ext.TimeSeries.gapfillHourly(Tables.events(spark, sfDir))
    df.collect() // AQE: judge the final adaptive plan
    // the adaptive toString prints Final AND Initial plans — count the final
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // three column-pruned passes (hourly / series keys / span), each
    // partially aggregated BEFORE its exchange: two key-hash exchanges +
    // the 1-row span SinglePartition; the only nested-loop join is that
    // 1-row span broadcast (the house global-scalar pattern)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
    // the raw corpus is never globally sorted; the fill window sorts
    // grid-sized data within series partitions only
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("rolling features: one corpus agg exchange + one series window exchange") {
    val p = plan(graft.ext.TimeSeries.rollingFeatures(Tables.events(spark, sfDir)))
    // (event_type, h) pre-aggregation before its exchange, then a single
    // event_type repartition shared by the RANGE frame and the lag — the
    // two window specs share (partition, orderBy) so a refactor that
    // splits them would show as a third exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("MAD anomalies: both median frames join back broadcast, one corpus scan") {
    val df = graft.ext.TimeSeries.hourlyAnomalies(Tables.events(spark, sfDir))
    df.collect() // AQE: judge the final adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the median frames join back broadcast (they are series-sized):
    // BOUNDS, not an exact node count — the exact broadcast-join count
    // encodes AQE/threshold behavior, not the operator contract, which is
    // "no corpus-sized SortMergeJoin anywhere, at least the two top-level
    // median joins broadcast"
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the corpus-sized hourly reduction is computed once and its exchange
    // REUSED by every median branch — a second events scan would double
    // the 100 TB read
    assert(p.contains("ReusedExchange"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("co-occurrence: one corpus exchange, pairs generated in-basket, no join") {
    val p = plan(graft.operators.Stats.cooccurrence(Tables.events(spark, sfDir)))
    // exchanges: (1) the (user, day) basket collect_set — the ONLY
    // corpus-sized one, deduped map-side by the partial aggregate —
    // then (2+3) the two-phase count-distinct pair agg over the bounded
    // pair stream. The distinct + window + self-join formulation this
    // replaced cost 6 (two full corpus shuffles per join side, no AQE
    // reuse at plan time).
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("sessions: ONE corpus exchange serves the window chain and both aggs") {
    val p = plan(graft.operators.Stats.sessionStats(Tables.events(spark, sfDir)))
    // the user-keyed window partitioning SATISFIES the (user, sid) and
    // (user) clustered distributions downstream (every session is wholly
    // within one user partition), so both aggregation pairs stack with no
    // exchange of their own — a regression that re-keys either agg shows
    // as a second hashpartitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("rfm: ONE fused range-partitioned rank pass off one checkpointed base") {
    val df = graft.operators.Stats.rfm(Tables.events(spark, sfDir))
    val p = plan(df)
    // the corpus was consumed ONCE at construction (purchase-filtered agg
    // into the eager checkpoint); the returned plan ranks the user-sized
    // in-memory leaf — no parquet rescans anywhere downstream
    assert(!p.contains("FileScan parquet"), p)
    // all three quartile axes rank in ONE globalRankPerGroup pass over the
    // 3×-exploded (axis, key) frame (r21 — the former three independent
    // globalRank passes planned three range exchanges and 36 jobs): the
    // range exchange appears once per consumer branch of the rank subtree
    // (offsets + stamp, deduped by AQE exchange reuse at runtime), and
    // NOTHING plans Exchange SinglePartition — the offsets prefix window
    // partitions by axis, and a global ntile (the 10⁹-user straggler this
    // shape exists to avoid) would show up exactly there
    assert("Exchange rangepartitioning".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("ab lift: one corpus scan, lift from the 2-row window, no self-join") {
    val p = plan(graft.operators.Stats.abLift(Tables.events(spark, sfDir)))
    // the lift column derives from a window over the 2-row variant frame
    // — the self-join formulation this replaced planned the corpus agg on
    // both branches WITHOUT exchange reuse (aggregate order flips
    // canonicalization) and scanned the corpus twice
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    // the only SinglePartition exchange moves the two variant rows
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
  }

  test("transitions: corpus shuffles once; matrix-sized rows shuffle after") {
    val p = plan(graft.operators.Stats.transitions(Tables.events(spark, sfDir)))
    // exchanges: (1) the user-keyed lead window — the only corpus-sized
    // one; (2) the (src, dst) agg, fed by map-side partials of at most
    // |alphabet|^2 rows per task; (3) the src re-key for the total window
    // over the matrix itself
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
    assert(!p.contains("Join"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }
}
