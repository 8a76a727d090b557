package graft

import org.apache.spark.sql.functions._

import graft.ext._
import graft.functions.CosineSimilarity

/** Specs for the LLM-pipeline extensions: dedup, similarity, text analysis,
  * multimodal plumbing.
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  test("degenerate docs flow through every text operator without errors") {
    val docs = Seq(
      (1L, ""),                 // empty
      (2L, "solo"),             // one token (< 3 -> whole-text shingle)
      (3L, "two tokens"),
      (4L, "   padded   spacing   here   ")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assert(TextAnalysis.stats(docs).count() == 4)
    assert(TextAnalysis.fingerprints(docs).count() == 4)
    assert(Dedup.simhash(docs).count() == 4)
    assert(Dedup.exact(docs).count() == 4)
    assert(Dedup.minhashSignature(docs).count() == 4)
    assert(TextAnalysis.tokenClasses(docs).count() == 4)
    // shingle fallback: < 3 tokens -> exactly one shingle (the full text)
    val sh = Dedup.shingleHashes(docs).filter(col("doc_id") === 2L)
      .select(size(col("sh"))).as[Int].head()
    assert(sh == 1)
  }

  test("span dups: cross-doc n-gram runs found, coverage is exact interval union") {
    val docs = Seq(
      (1L, "p q r s t u"),                     // shares "p q r s" with doc 2
      (2L, "z z p q r s z"),
      (3L, "completely different words here now"),
      (4L, "a b c d e k1 k2"),                 // shares abc + cde with doc 5,
      (5L, "a b c y c d e")                    // NOT bcd: islands must merge
    ).toDF("doc_id", "text")
    val out = Dedup.spanDups(docs, n = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out(0) == ((1L, 4L, 2L, 2L, 4L)))   // run pqr,qrs -> 4 tokens
    assert(out(1) == ((2L, 5L, 2L, 2L, 4L)))
    assert(out(2) == ((3L, 3L, 0L, 0L, 0L)))
    // doc 4: dup starts at 0 and 2 — separate runs (gap 2 > 1) but ONE
    // island (intervals [0,2] and [2,4] overlap): union = 5 tokens, not 6
    assert(out(3) == ((4L, 5L, 2L, 1L, 5L)))
    // doc 5: dup starts 0 and 4 — gap 4 > n-1, two islands, 3+3 tokens
    assert(out(4) == ((5L, 5L, 2L, 1L, 6L)))
    // spanDups keeps its span-table checkpoint alive by design (the returned
    // frame reads from those blocks); drop it now that results are collected
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr dups: cross-doc pairs carry maximal runs; hot anchors capped") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      // shares the 9-token run "a b c d e f g h i" with doc 1 (two
      // consecutive 8-gram anchors on one diagonal -> run_len 9)
      (2L, "a b c d e f g h i x"),
      // docs 3/4 share TWO separate 8-token runs (distinct diagonals /
      // islands): n_runs 2, longest 8, summed 16
      (3L, "p q r s t u v w MID1 one two three four five six seven eight"),
      (4L, "p q r s t u v w MID2 one two three four five six seven eight"),
      (5L, "completely unrelated words that never match anything else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.substrDups(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out == Seq((1L, 2L, 9L, 1L, 9L), (3L, 4L, 8L, 2L, 16L)),
      out.toString)
    // hot-anchor cap: one boilerplate 8-gram across 20 docs generates NO
    // pairs at the default cap (< 20 sharing docs required)...
    val boiler = (1 to 20).map(i =>
      (i.toLong, s"licensed under the same terms as before always tail$i"))
      .toDF("doc_id", "text")
    assert(Dedup.substrDups(boiler).count() == 0L)
    // ...and 190 = C(20,2) pairs once the cap admits 20-doc anchors —
    // the guard, not the matcher, suppressed them
    assert(Dedup.substrDups(boiler, maxAnchorDocs = 20).count() == 190L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr dups: within-doc position cap bounds repetitive-doc fan-out") {
    // one 8-gram repeated 12× per doc, each occurrence isolated by a
    // doc-unique filler token (no cross-doc match through the fillers, no
    // consecutive anchors): every (pa, pb) combination is its own
    // run_len-8 island, so n_runs measures pair fan-out DIRECTLY
    val g = "r1 r2 r3 r4 r5 r6 r7 r8"
    val rep = Seq(
      (1L, (1 to 12).map(i => s"$g a$i").mkString(" ")),
      (2L, (1 to 12).map(i => s"$g b$i").mkString(" "))
    ).toDF("doc_id", "text")
    // uncapped: 12 × 12 candidate combinations survive to islands
    val un = Dedup.substrDups(rep, maxDocPositions = 1000).collect()
    assert(un.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((1L, 2L, 8L, 144L)), un.mkString(","))
    // default keep-first-8 positions per (anchor, doc): 8 × 8 — the
    // P×P′ positional blow-up is bounded regardless of repetition count
    val capped = Dedup.substrDups(rep).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((1L, 2L, 8L, 64L)), capped.mkString(","))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr apply: runs cut from the younger doc; overlaps union; boundaries exact") {
    val docs = Seq(
      // pair (1, 2): shared 8-token run at the START of both — the
      // younger (2) loses it, the elder (1) keeps its text
      (1L, "p q r s t u v w tail1"),
      (2L, "p q r s t u v w tail2"),
      // (3, 4): whole-doc duplicate — the younger cleans to EMPTY
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),
      // 5 is the elder of (5,6) and (5,7); 6 the elder of (6,7); 7 is
      // cut by TWO pairs whose ranges overlap -> union, no double count
      (5L, "a b c d e f g h i j zz1 zz2"),
      (6L, "c d e f g h i j k l yy1"),
      (7L, "a b c d e f g h i j k l")
    ).toDF("doc_id", "text")
    val out = Dedup.substrApply(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq(
      (1L, 0L, "p q r s t u v w tail1"),
      (2L, 8L, "tail2"),                      // run at doc start
      (3L, 0L, "one two three four five six seven eight"),
      (4L, 8L, ""),                           // whole-doc duplicate
      (5L, 0L, "a b c d e f g h i j zz1 zz2"),
      (6L, 8L, "k l yy1"),                    // younger of (5,6): cut [0,7]
      // younger of (5,7) cut [0,9] and of (6,7) cut [2,11]: union [0,11]
      (7L, 12L, "")), out.toString)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr decontaminate: contiguous train-bench runs flag, coverage unions") {
    val bench = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "c d e f g h i j k l")
    ).toDF("doc_id", "text")
    val train = Seq(
      // shares [0,9] with bench 1 and [2,11] with bench 2: union 12
      (10L, "a b c d e f g h i j k l zz"),
      // verbatim copy of bench 1; also shares c..j (8 tokens) with bench 2
      (11L, "a b c d e f g h i j"),
      (12L, "nothing here overlaps any benchmark content at all friends")
    ).toDF("doc_id", "text")
    val out = Dedup.substrDecontaminate(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (10L, 10L, 12L, 2L),
      (11L, 10L, 10L, 2L)), out.toString)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("persisted substr bench index: probe matches one-shot, index side unshuffled") {
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    // bucket count DELIBERATELY different from the session's shuffle
    // partitions: the probe must adapt to the index's layout — a
    // session-partition repartition makes the planner disable bucketed
    // reading and re-shuffle the stored spans (the regression this pin
    // exists to catch; it only surfaces under a count mismatch)
    Dedup.buildSubstrBenchIndex(bench, "substr_bench_idx_test", buckets = 3)
    try {
      val train = Dedup.withPerturbedCopies(docs)
        .filter(!(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L))
      val viaIndex = Dedup.substrDecontaminateAgainstIndex(
          spark, train, "substr_bench_idx_test")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val oneShot = Dedup.substrDecontaminate(train, bench)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(viaIndex == oneShot && viaIndex.nonEmpty, viaIndex.toString)
      // force the non-broadcast path and pin the exchange inventory:
      // the probe's bucket-count anchor repartition (serves the cap
      // window AND co-partitions the join), the islands window, and the
      // two-phase distinct aggregate ((doc_a, doc_b) partial + (doc_a)
      // final) — EXACTLY four hash exchanges, ONE on the anchor hash
      // (the probe's), so an EnsureRequirements shuffle of the index
      // side (a second `h` exchange) fails here, and the index scan
      // must read bucketed
      val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = Dedup.substrDecontaminateAgainstIndex(
            spark, train, "substr_bench_idx_test")
          .queryExecution.executedPlan.toString
        assert(p.contains("substr_bench_idx_test"), p)
        assert("Exchange hashpartitioning".r.findAllIn(p).length == 4, p)
        assert("Exchange hashpartitioning\\(h".r.findAllIn(p).length == 1, p)
        assert(p.contains("Bucketed: true"), p)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
        assert(!p.contains("SinglePartition"), p)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
    } finally spark.sql("DROP TABLE IF EXISTS substr_bench_idx_test")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr bench index rebuild: a benchmark revision swaps under live probes") {
    val docs = Tables.documents(spark, sfDir)
    val bench1 = docs.filter(col("doc_id") % 97 === 0)
    // the revised suite: a different carve — verdicts must follow it
    val bench2 = docs.filter(col("doc_id") % 89 === 0)
    val train = Dedup.withPerturbedCopies(docs)
      .filter(col("doc_id") >= 1000000L)
    try {
      Dedup.buildSubstrBenchIndexGen(bench1, "substr_bench_gen_test", buckets = 3)
      val v1 = Dedup.substrDecontaminateAgainstIndex(
          spark, train, "substr_bench_gen_test")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(v1 == Dedup.substrDecontaminate(train, bench1)
        .as[(Long, Long, Long, Long)].collect().toSeq && v1.nonEmpty)
      // refresh the suite: one swap, probes now see the new verdicts
      Dedup.buildSubstrBenchIndexGen(bench2, "substr_bench_gen_test", buckets = 3)
      val v2 = Dedup.substrDecontaminateAgainstIndex(
          spark, train, "substr_bench_gen_test")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(v2 == Dedup.substrDecontaminate(train, bench2)
        .as[(Long, Long, Long, Long)].collect().toSeq && v2.nonEmpty)
      assert(v1 != v2) // the revision is observable, not a no-op
      // the replaced generation survives one cycle for in-flight probes
      assert(spark.catalog.tableExists("substr_bench_gen_test__g1"))
      // the THROUGH-THE-VIEW probe carries the same plan contract as the
      // plain-table pin (the driver's shipped path probes the view): one
      // anchor-hash exchange — the probe's, at the serving generation's
      // bucket count — and a bucketed index scan
      val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = Dedup.substrDecontaminateAgainstIndex(
            spark, train, "substr_bench_gen_test")
          .queryExecution.executedPlan.toString
        assert(p.contains("substr_bench_gen_test__g2"), p)
        assert("Exchange hashpartitioning\\(h".r.findAllIn(p).length == 1, p)
        assert(p.contains("Bucketed: true"), p)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
    } finally {
      spark.sql("DROP VIEW IF EXISTS substr_bench_gen_test")
      (1 to 2).foreach(g =>
        graft.sources.Bucketing.dropGeneration(spark, "substr_bench_gen_test", g))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("streaming substring dedup: probes base ∪ delta, replay-idempotent, twins survive") {
    val run8a = "alpha bravo charlie delta echo foxtrot golf hotel"
    val run8b = "one two three four five six seven eight"
    val run8c = "red orange yellow green blue indigo violet ultra"
    val corpus = Seq(
      (1L, s"$run8a corpus tail here"),
      (2L, "totally unrelated corpus words that match nothing else now")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_substr_dedup").toString
    val surv = s"$dir/survivors"
    val delta = s"$dir/delta"
    def process(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Dedup.processSubstrBatch(b, id, "substr_dedup_gen_test", delta, surv,
        Dedup.SpanN, Dedup.SubstrPosCap)
    def survivors(batch: Long): Set[Long] =
      spark.read.parquet(surv).filter(col("batch_id") === batch)
        .select("doc_id").as[Long].collect().toSet
    try {
      Dedup.buildSubstrBenchIndexGen(corpus, "substr_dedup_gen_test", buckets = 3)
      // batch 1: 100 duplicates corpus doc 1's run -> dropped; 101 fresh
      val b1 = Seq((100L, s"$run8a different ending"),
        (101L, s"$run8b fresh tail")).toDF("doc_id", "text")
      process(b1, 1L)
      assert(survivors(1L) == Set(101L))
      // batch 2: 200 duplicates SURVIVOR 101's run — caught via the DELTA
      val b2 = Seq((200L, s"$run8b stolen from a survivor"),
        (201L, s"$run8c novel content")).toDF("doc_id", "text")
      process(b2, 2L)
      assert(survivors(2L) == Set(201L))
      // replay of batch 2: the probe excludes its own partition and the
      // corpus-side guard drops self-matches — identical survivors
      process(b2, 2L)
      assert(survivors(2L) == Set(201L))
      // within-batch twins: both survive (the documented contract)
      val twins = Seq((300L, "t1 t2 t3 t4 t5 t6 t7 t8 twintail1"),
        (301L, "t1 t2 t3 t4 t5 t6 t7 t8 twintail2")).toDF("doc_id", "text")
      process(twins, 3L)
      assert(survivors(3L) == Set(300L, 301L))
      // fold, then a duplicate of survivor 101 is caught via the BASE
      assert(Dedup.compactSubstrIfNeeded(spark, "substr_dedup_gen_test",
        delta, maxUnfolded = 0))
      val b4 = Seq((400L, s"$run8b after the fold")).toDF("doc_id", "text")
      process(b4, 4L)
      assert(survivors(4L) == Set.empty[Long])
    } finally {
      spark.sql("DROP VIEW IF EXISTS substr_dedup_gen_test")
      (1 to 2).foreach(g =>
        graft.sources.Bucketing.dropGeneration(spark, "substr_dedup_gen_test", g))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("substr incremental probe: exact anchor pairs, bucket-matched plan") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "m n o p q r s t u v"),
      (3L, "these corpus words match nothing in any probe text today")
    ).toDF("doc_id", "text")
    try {
      Dedup.buildSubstrBenchIndexGen(corpus, "substr_inc_idx_test",
        buckets = 3)
      val probes = Seq(
        // contains corpus 1's full run mid-doc → (100, 1)
        (100L, "x y a b c d e f g h i j"),
        // 8-token prefix of corpus 2 → (101, 2)
        (101L, "m n o p q r s t"),
        (102L, "totally novel probe text with no shared runs at all")
      ).toDF("doc_id", "text")
      val got = Dedup.substrAgainstIndex(spark, probes, "substr_inc_idx_test")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 1L), (101L, 2L)), got.toString)
      // plan pin (the persisted-decontamination contract): ONE
      // anchor-hash exchange — the probe's, at the index's own bucket
      // count — and the index scan reads bucketed; the distinct's pair
      // exchange is not on h
      val thresholdBefore =
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = Dedup.substrAgainstIndex(spark, probes, "substr_inc_idx_test")
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning\\(h".r.findAllIn(p).length == 1, p)
        assert(p.contains("Bucketed: true"), p)
        assert(!p.contains("SinglePartition"), p)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoop"), p)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
    } finally {
      spark.sql("DROP VIEW IF EXISTS substr_inc_idx_test")
      graft.sources.Bucketing.dropGeneration(spark, "substr_inc_idx_test", 1)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("streaming decontamination gate: clean/quarantine split, replay-idempotent") {
    val bench = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val dir = managedTempDir("graft_decont_gate")
    val clean = s"$dir/clean"
    val quar = s"$dir/quarantine"
    try {
      Dedup.buildSubstrBenchIndexGen(bench, "substr_gate_idx_test",
        buckets = 2)
      val b1 = Seq(
        // 10-token benchmark run mid-doc → quarantined with the verdict
        (100L, "x a b c d e f g h i j y"),
        (101L, "clean words that overlap no benchmark content at all"),
        (102L, "too short")             // < n tokens → clean by construction
      ).toDF("doc_id", "text")
      Dedup.processDecontGate(b1, 1L, "substr_gate_idx_test", clean, quar,
        Dedup.SpanN, Dedup.SubstrPosCap)
      def ids(path: String): Set[Long] =
        spark.read.parquet(path).filter(col("batch_id") === 1L)
          .select("doc_id").as[Long].collect().toSet
      assert(ids(clean) == Set(101L, 102L))
      val q = spark.read.parquet(quar).filter(col("batch_id") === 1L)
        .select("doc_id", "longest_run", "contaminated_tokens",
          "n_bench_docs")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(q == Seq((100L, 10L, 10L, 1L)), q.toString)
      // quarantined rows keep their text for audit
      assert(spark.read.parquet(quar).columns.contains("text"))
      // replay: both outputs overwrite their own partition — identical
      Dedup.processDecontGate(b1, 1L, "substr_gate_idx_test", clean, quar,
        Dedup.SpanN, Dedup.SubstrPosCap)
      assert(ids(clean) == Set(101L, 102L) && ids(quar) == Set(100L))
    } finally {
      spark.sql("DROP VIEW IF EXISTS substr_gate_idx_test")
      graft.sources.Bucketing.dropGeneration(spark, "substr_gate_idx_test", 1)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("domain blocklist: suffix match exact, link counts, no-URL/single-label edges") {
    val docs = Seq(
      // subdomain of a blocked domain → suffix hit; the second URL clean
      (1L, "see https://cdn1.ads.example.net/x and https://ok.example.org/y"),
      (2L, "https://site7.example.org/p only"),           // exact host hit
      (3L, "clean https://plain.example.com/z text"),
      (4L, "no links at all here"),                       // zero URLs: keep
      (5L, "http://localhost/x single label host"),       // no ≥2-label sfx
      // the same blocked host cited twice counts per citation
      (6L, "https://ads.example.net/a twice https://ads.example.net/b"),
      // blocked domain as a NON-suffix substring must not match
      (7L, "https://ads.example.net.evil.com/t not a suffix")
    ).toDF("doc_id", "text")
    val blocked = Seq("ads.example.net", "site7.example.org").toDF("domain")
    val out = graft.ext.Curation.domainBlocklist(docs, blocked)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, "ads.example.net", false),
      (2L, 1L, 1L, "site7.example.org", false),
      (3L, 1L, 0L, "", true),
      (4L, 0L, 0L, "", true),
      (5L, 1L, 0L, "", true),
      (6L, 2L, 2L, "ads.example.net", false),
      (7L, 1L, 0L, "", true)), out.toString)
    // the blocklist side broadcasts; the corpus never sort-merge-joins
    val p = graft.ext.Curation.domainBlocklist(docs, blocked)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("url dedup: canonical variants collapse, significant differences do not") {
    val docs = Seq(
      // case/default-port/utm/trailing-slash variants of ONE page
      (1L, "a https://Site.Example.ORG:443/page/?utm_source=a&utm_campaign=x b"),
      (2L, "x https://site.example.org/page y"),
      (3L, "see https://site.example.org/page/#frag end"),
      // utm stripped mid-query, the real param kept, default port dropped
      (4L, "z http://Host.Example.com:80/a?id=3&utm_medium=e w"),
      // path case IS significant; a non-default port IS significant
      (5L, "p https://site.example.org/Page q"),
      (6L, "r https://site.example.org:8080/page s")
    ).toDF("doc_id", "text")
    val out = Curation.urlDedup(docs)
      .orderBy("canonical_url")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("http://host.example.com/a?id=3", 1L, 1L, 4L),
      ("https://site.example.org/Page", 1L, 1L, 5L),
      ("https://site.example.org/page", 3L, 3L, 1L),
      ("https://site.example.org:8080/page", 1L, 1L, 6L)
    ), out.toString)
  }

  test("split assign/audit equal a brute salted-hash reference; salts re-randomize") {
    def md5h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    def splitOf(salt: String, id: Long): String = {
      val b = md5h60(s"$salt:$id") % 1000
      if (b < 900) "train" else if (b < 950) "val" else "test"
    }
    val rng = new scala.util.Random(7)
    val docs = (1L to 400L).map { i =>
      (i, Seq.fill(rng.nextInt(6) + 1)("w" + rng.nextInt(100)).mkString(" "),
        if (i % 2 == 0) "s0" else "s1")
    }
    val df = docs.toDF("doc_id", "text", "source")
    val assigned = Curation.splitAssign(df, "v1")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // exact agreement with the independent reference, doc by doc
    docs.foreach { case (i, _, _) =>
      assert(assigned(i) == splitOf("v1", i), s"doc $i")
    }
    // the audit partitions the corpus: doc and token totals are exact
    val audit = Curation.splitAudit(df, "v1")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(audit.map(_._3).sum == 400L)
    assert(audit.map(_._4).sum ==
      docs.map(_._2.split(" ").length.toLong).sum)
    // determinism: the same salt reproduces the assignment bit for bit
    val again = Curation.splitAssign(df, "v1")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == assigned)
    // a new salt re-randomizes: some doc must move (400 docs — the
    // all-identical outcome has probability ~(0.9^400-scale) ≈ 0)
    val salted = Curation.splitAssign(df, "v2")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(salted != assigned)
    // and v2 agrees with the reference too — salt composes, not appends
    docs.take(50).foreach { case (i, _, _) =>
      assert(salted(i) == splitOf("v2", i))
    }
  }

  test("vocab drift: one tokenize pass per side — totals reuse the counts exchange") {
    val prev = Seq((1L, "a a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val cur = Seq((1L, "a b b e"), (2L, "e e f")).toDF("doc_id", "text")
    val out = Curation.vocabDrift(prev, cur, topK = 10, minCount = 1L)
    out.collect()
    // each side's token-hash exchange materializes once and its 1-row
    // total READS THE SAME STAGE — AQE stage reuse on the canonically
    // identical subplan: the final adaptive plan carries a reused stage
    // marker instead of four independent token exchanges
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(plan.contains("ReusedExchange"), plan)
    // and the values: totals are per-snapshot token counts (7 each)
    val r = out.filter(col("token") === "a")
      .select("ppm_prev", "ppm_cur").as[(Long, Long)].head()
    assert(r == ((2L * 1000000L / 7L, 1000000L / 7L)), r.toString)
  }

  test("crawl pipeline: sequential stage accounting, one known drop per stage") {
    val bench = Seq((60L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"))
      .toDF("doc_id", "text")
    val crawl = Seq(
      // stage 1: blocked by the ad host's parent-domain suffix
      (1L, "s", "en", "the ad https://cdn0.ads.example.net/t page with plenty of the usual words here"),
      // stage 2: carries the benchmark's >= n-token run
      (2L, "s", "en", "x q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y"),
      // stage 3 pair: 4 shares doc 3's full >= n run -> the YOUNGER drops
      (3L, "s", "en", "the quick brown fox jumps over a lazy dog tonight"),
      (4L, "s", "en", "the quick brown fox jumps over a lazy dog tonight and then some more words follow"),
      // stage 4: under the 10-token quality floor
      (5L, "s", "en", "too short here"),
      // stage 4: quality but wrong language
      (6L, "s", "fr", "le renard brun a saute par dessus le chien paresseux maintenant"),
      // keeper
      (7L, "s", "en", "a completely different story about the sea and many gentle waves")
    ).toDF("doc_id", "source", "lang", "text")
    val blocked = Seq("ads.example.net").toDF("domain")
    val out = Curation.crawlPipeline(crawl, blocked, Dedup.spanTable(bench))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "blocklist", 7L, 1L, 6L),
      (2L, "decontaminate", 6L, 1L, 5L),
      (3L, "dedup", 5L, 1L, 4L),
      (4L, "quality_quota", 4L, 2L, 2L)), out.toString)
    // nothing leaks: the eager accounting released every checkpoint block
    // this call created (the shared session may hold other operators')
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("crawl ingest loop: chained gates split per stage, dedup index grows, replay-idempotent") {
    val dir = managedTempDir("graft_crawl_ingest")
    val (flagged, quar, surv) = (s"$dir/flagged", s"$dir/quar", s"$dir/surv")
    val delta = s"$dir/delta"
    val blocked = Seq("ads.example.net").toDF("domain")
    try {
      Dedup.buildSubstrBenchIndexGen(
        Seq((60L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
        "crawl_bench_idx_test", buckets = 2)
      Dedup.buildSubstrBenchIndexGen(
        Seq((50L, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10")).toDF("doc_id", "text"),
        "crawl_dedup_idx_test", buckets = 2)
      def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        Curation.processCrawlIngest(b, id, blocked, "crawl_bench_idx_test",
          "crawl_dedup_idx_test", delta, flagged, quar, surv,
          Dedup.SpanN, Dedup.SubstrPosCap)
      def ids(path: String, batch: Long): Set[Long] =
        spark.read.parquet(path).filter(col("batch_id") === batch)
          .select("doc_id").as[Long].collect().toSet
      val b1 = Seq(
        (201L, "novel words one https://cdn0.ads.example.net/t two three four five six seven"),
        (202L, "x q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y"),     // bench run
        (203L, "pre s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 post"), // index run
        (204L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")           // survivor
      ).toDF("doc_id", "text")
      run(b1, 1L)
      assert(ids(flagged, 1L) == Set(201L))
      assert(ids(quar, 1L) == Set(202L))
      assert(ids(surv, 1L) == Set(204L))
      // batch 2: a dup of batch 1's SURVIVOR drops through the live delta;
      // a doc both blocked AND contaminated stops at the FIRST gate
      val b2 = Seq(
        (205L, "w0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 w1"),
        (206L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10"),
        (207L, "k q1 q2 q3 q4 q5 q6 q7 q8 q9 k2 see https://ads.example.net/x page")
      ).toDF("doc_id", "text")
      run(b2, 2L)
      assert(ids(flagged, 2L) == Set(207L), "chain order: first gate wins")
      assert(ids(quar, 2L) == Set.empty[Long])
      assert(ids(surv, 2L) == Set(206L))
      // replay of batch 2 overwrites its own partitions — identical
      run(b2, 2L)
      assert(ids(flagged, 2L) == Set(207L) && ids(surv, 2L) == Set(206L))
    } finally {
      Seq("crawl_bench_idx_test", "crawl_dedup_idx_test").foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        graft.sources.Bucketing.dropGeneration(spark, t, 1)
      }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("crawl ingest batch equals the three gates chained by hand, folds and replays included") {
    val dir = managedTempDir("graft_crawl_equiv")
    val blocked = Seq("ads.example.net").toDF("domain")
    val bench = "crawl_eq_bench"
    // one dedup index per side: each side folds its own delta into it
    val sides = Seq("fused", "chained")
    def idx(side: String) = s"crawl_eq_dedup_$side"
    def out(side: String, o: String) = s"$dir/$side/$o"
    Dedup.buildSubstrBenchIndexGen(
      Seq((60L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
      bench, buckets = 2)
    sides.foreach(s => Dedup.buildSubstrBenchIndexGen(
      Seq((50L, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10")).toDF("doc_id", "text"),
      idx(s), buckets = 2))
    def fused(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Curation.processCrawlIngest(b, id, blocked, bench, idx("fused"),
        out("fused", "delta"), out("fused", "flagged"),
        out("fused", "quar"), out("fused", "surv"), Dedup.SpanN,
        Dedup.SubstrPosCap)
    // the oracle: each standalone gate body on the previous one's clean
    // output, read back from its own batch partition
    def chained(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      def clean(p: String) = spark.read.parquet(p)
        .filter(col("batch_id") === id).drop("batch_id")
      Curation.processBlocklistGate(b, id, blocked,
        out("chained", "clean1"), out("chained", "flagged"))
      Dedup.processDecontGate(clean(out("chained", "clean1")), id, bench,
        out("chained", "clean2"), out("chained", "quar"), Dedup.SpanN,
        Dedup.SubstrPosCap)
      Dedup.processSubstrBatch(clean(out("chained", "clean2")), id,
        idx("chained"), out("chained", "delta"), out("chained", "surv"),
        Dedup.SpanN, Dedup.SubstrPosCap)
    }
    // the launch shape: Spark jobs one fused batch body launches
    def step(b: org.apache.spark.sql.DataFrame, id: Long): Int = {
      val sc = spark.sparkContext
      val group = s"crawl-ingest-$id-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, "one crawl ingest batch")
      try fused(b, id) finally sc.clearJobGroup()
      chained(b, id)
      // autoCompactAt = 1: every batch folds
      sides.foreach(s => Dedup.compactSubstrIfNeeded(spark, idx(s),
        out(s, "delta"), maxUnfolded = 0))
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    def same(when: String): Unit =
      Seq("flagged", "quar", "surv", "delta/spans").foreach { o =>
        val Seq(f, c) = sides.map(s => spark.read.parquet(out(s, o)))
        assert(f.columns.toSeq == c.columns.toSeq, s"$o columns $when")
        val Seq(fr, cr) = Seq(f, c).map(_.collect().map(_.toString).sorted.toSeq)
        assert(fr == cr, s"$o rows $when")
        assert(fr.nonEmpty, s"$o is empty $when")
      }
    try {
      val b1 = Seq(
        (301L, "novel words one https://cdn0.ads.example.net/t two three four five six seven", "a"),
        (302L, "x q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y", "a"),   // contaminated
        // blocked AND contaminated: the first gate takes it
        (303L, "k q1 q2 q3 q4 q5 q6 q7 q8 q9 k2 see https://ads.example.net/x page", "b"),
        (304L, "pre s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 post", "b"), // base near-dup
        (305L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "a"),
        (306L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", "a"),        // within-batch
        (307L, "z t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", "b"),      // twins
        (308L, "too short to span", "b")                      // < SpanN tokens
      ).toDF("doc_id", "text", "src")
      step(b1, 1L)
      same("after batch 1")
      val b2 = Seq(
        (311L, "w0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 w1", "a"),  // earlier survivor
        (312L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10", "b"),
        (313L, "y q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 y2", "a"),
        (314L, "ads https://cdn1.ads.example.net/t v1 v2 v3 v4 v5 v6 v7 v8", "b")
      ).toDF("doc_id", "text", "src")
      val jobs = step(b2, 2L)
      same("after batch 2")
      // launch shape of a plain batch over a live delta: two checkpoints
      // (spans, verdicts), two filter writes, the dedup step. The staged
      // body (three checkpoints, two tokenizations, an inferred delta
      // schema) launched 32 jobs here
      assert(jobs == 22, s"jobs per crawl ingest batch: $jobs")
      step(b2, 2L) // replayed after its own fold
      same("after the replay of batch 2")
      assert(spark.read.parquet(out("fused", "surv")).select("doc_id")
        .as[Long].collect().toSet == Set(305L, 306L, 307L, 308L, 312L))
    } finally {
      (bench +: sides.map(idx)).foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        (1 to 4).foreach(graft.sources.Bucketing.dropGeneration(spark, t, _))
      }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("streaming blocklist gate: clean/flagged split, replay-idempotent") {
    val blocked = Seq("ads.example.net").toDF("domain")
    val dir = managedTempDir("graft_bl_gate")
    val clean = s"$dir/clean"
    val flagged = s"$dir/flagged"
    val b1 = Seq(
      (1L, "see https://cdn0.ads.example.net/x here"),  // suffix-blocked
      (2L, "clean https://ok.example.org/y text"),
      (3L, "no urls at all")
    ).toDF("doc_id", "text")
    graft.ext.Curation.processBlocklistGate(b1, 1L, blocked, clean, flagged)
    def ids(p: String): Set[Long] =
      spark.read.parquet(p).filter(col("batch_id") === 1L)
        .select("doc_id").as[Long].collect().toSet
    assert(ids(clean) == Set(2L, 3L))
    val f = spark.read.parquet(flagged).filter(col("batch_id") === 1L)
      .select("doc_id", "n_blocked_urls", "blocked_domains")
      .as[(Long, Long, String)].collect().toSeq
    assert(f == Seq((1L, 1L, "ads.example.net")), f.toString)
    // replay overwrites its own partitions — identical
    graft.ext.Curation.processBlocklistGate(b1, 1L, blocked, clean, flagged)
    assert(ids(clean) == Set(2L, 3L) && ids(flagged) == Set(1L))
  }

  test("dedup method eval: three scored methods, verified ⊆ candidates, exact accounting") {
    val out = Dedup.dedupMethodEval(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 7 === 0))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("lsh_candidates", "lsh_verified", "simhash"))
    val byM = out.map(r => r._1 -> r).toMap
    // verification can only shrink the candidate set
    assert(byM("lsh_verified")._2 <= byM("lsh_candidates")._2)
    // the planted twins are findable and found by the banded methods
    assert(byM("lsh_candidates")._3 > 0)
    out.foreach { case (m, nPairs, found, recall, extra) =>
      assert(found <= nPairs && extra == nPairs - found, m)
      assert(recall >= 0L && recall <= 1000000L, m)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("jaccard threshold sweep: cumulative counts, zero-match tail keeps its row") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),   // j(1,2) = 4/6 ≈ 666666 ppm
      (3L, "a b c d e"),   // j(1,3) = 1.0; j(2,3) = 4/6
      (4L, "x y z w q")    // matches nothing
    ).toDF("doc_id", "text")
    val out = Dedup.jaccardThresholdSweep(docs,
        Seq(600000L, 900000L, 1000001L))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (600000L, 3L, 2L, 2L),    // pairs (1,2)(1,3)(2,3); docs 2,3 drop
      (900000L, 1L, 1L, 3L),    // only the identical pair (1,3)
      (1000001L, 0L, 0L, 4L)),  // unreachable τ: flat-tail row survives
      out.toString)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("chat validate: alternation, empty turns, malformed JSON → null verdicts") {
    val chats = Seq(
      // well-formed two-turn exchange
      (1L, """[{"role":"user","content":"hi there"},{"role":"assistant","content":"hello"}]"""),
      // opens with assistant AND closes with user
      (2L, """[{"role":"assistant","content":"first"},{"role":"user","content":"hm"}]"""),
      // consecutive users + an empty assistant message
      (3L, """[{"role":"user","content":"a"},{"role":"user","content":"b"},{"role":"assistant","content":""}]"""),
      (4L, "{bad"),
      // single turn: alternates vacuously, but no assistant close
      (5L, """[{"role":"user","content":"only turn"}]"""),
      // VALID empty transcript: NULL open/close verdicts, never an ANSI
      // element_at crash (the review-found corpus-killer)
      (6L, "[]"),
      // missing content key: counts as empty (fails the screen), its 0
      // tokens must not NULL-poison the role total
      (7L, """[{"role":"user"},{"role":"assistant","content":"x"}]""")
    ).toDF("doc_id", "chat")
    val out = graft.ext.Curation.chatValidate(chats).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(out == Seq(
      Seq(1L, true, 2L, true, true, true, 0L, 2L, 1L, true),
      Seq(2L, true, 2L, false, true, false, 0L, 1L, 1L, false),
      Seq(3L, true, 3L, true, false, true, 1L, 2L, 0L, false),
      Seq(4L, false, null, null, null, null, null, null, null, null),
      Seq(5L, true, 1L, true, true, false, 0L, 2L, 0L, false),
      Seq(6L, true, 0L, null, true, null, 0L, 0L, 0L, null),
      Seq(7L, true, 2L, true, true, true, 1L, 0L, 1L, false)), out.toString)
    // one narrow pass: no exchange of any kind in the plan
    val p = graft.ext.Curation.chatValidate(chats)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("chunking: windows advance by stride, overlap and tail are exact") {
    val text = (1 to 50).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(docs, chunkLen = 8, stride = 5)
    // narrow by construction: the chunker must not introduce any shuffle
    assert(!chunks.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunkDocuments plan must be exchange-free")
    val out = chunks.orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.length == 10) // starts 0,5,...,45
    assert(d1.head.getAs[String]("chunk_text") == (1 to 8).map("t" + _).mkString(" "))
    // consecutive windows overlap by chunkLen - stride = 3 tokens
    assert(d1(1).getAs[String]("chunk_text") == (6 to 13).map("t" + _).mkString(" "))
    // tail window is short: start 45 covers the last 5 tokens only
    assert(d1.last.getAs[Long]("chunk_tokens") == 5L)
    assert(d1.last.getAs[String]("chunk_text") == (46 to 50).map("t" + _).mkString(" "))
    // single-token and empty docs each yield exactly one chunk
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(out.count(_.getLong(0) == 3L) == 1)
  }

  test("chunking: tail start contained in the previous window is dropped") {
    // 30 tokens, chunkLen=32, stride=24: start 24's window (tokens 25-30)
    // sits entirely inside window 0 (tokens 1-30) — emitting it would
    // duplicate embeddings downstream, so only one chunk comes out
    val docs = Seq((1L, (1 to 30).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, chunkLen = 32, stride = 24).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("chunk_tokens") == 30L)
    // 40 tokens: start 24's window reaches past window 0's end — kept short
    val docs2 = Seq((1L, (1 to 40).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val out2 = Curation.chunkDocuments(docs2, chunkLen = 32, stride = 24)
      .orderBy("chunk_id").collect()
    assert(out2.map(_.getAs[Long]("start_tok")).toSeq == Seq(0L, 24L))
    assert(out2.last.getAs[Long]("chunk_tokens") == 16L)
  }

  test("profiler: null/distinct/minmax per column from one Expand aggregation") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("c")), (None, Some("a"))).toDF("k", "v")
    val out = Curation.profile(df, Seq("k", "v"))
      .orderBy("column_name")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(out(0) == (("k", 4L, 1L, 2L, "1", "2")))
    assert(out(1) == (("v", 4L, 1L, 2L, "a", "c")))
    // single-pass shape: exactly one Expand (the multi-count-distinct
    // rewrite), not one scan per column
    val plan = Curation.profile(df, Seq("k", "v")).queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "multi-distinct should plan as Expand")
    assert("(?s)Scan".r.findAllIn(plan).size <= 2, s"profiler re-scans per column:\n$plan")
  }

  test("domain rank: hand-computed star graph, exact ppm fixed point") {
    // star: A co-cited with B, C, D (one doc each) -> edges A<->B, A<->C,
    // A<->D; outdeg A=3, leaves=1. By hand in ppm floor arithmetic:
    // iter1: A = 150000 + 850000*3000000//1M = 2700000
    //        leaf = 150000 + 850000*(1000000//3)//1M = 433333
    // iter2: A = 150000 + 850000*(3*433333)//1M = 1254999
    //        leaf = 150000 + 850000*(2700000//3)//1M = 915000
    val docs = Seq(
      (1L, "x https://a.org/ y https://b.org/ z"),
      (2L, "x https://a.org/ y https://c.org/ z"),
      (3L, "x https://a.org/ y https://d.org/ z")).toDF("doc_id", "text")
    val got = Graphs.domainRank(docs).as[(String, Long)].collect().toSeq
    assert(got.head == (("a.org", 1254999L)))
    assert(got.tail.toSet == Set(("b.org", 915000L), ("c.org", 915000L), ("d.org", 915000L)))
    // the fixpoint loop must release every checkpoint it takes
    assert(spark.sparkContext.getPersistentRDDs.size <= 1, // the returned frame
      s"leaked persists: ${spark.sparkContext.getPersistentRDDs.keySet}")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("split assignment: deterministic, salt-independent re-randomization, ~90/5/5") {
    val docs = Tables.documents(spark, sfDir)
    val a = Curation.splitAssign(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // reproducible under re-partitioning (hash of key, not random())
    val b = Curation.splitAssign(docs.repartition(7))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    // every doc gets exactly one split; ratios land near 90/5/5
    assert(a.size == docs.count())
    val bySplit = a.values.groupBy(identity).view.mapValues(_.size)
    val n = a.size.toDouble
    assert(bySplit("train") / n > 0.85 && bySplit("train") / n < 0.95)
    assert(bySplit("val") / n < 0.10 && bySplit("test") / n < 0.10)
    // a new salt re-randomizes: some docs must move between splits
    val c = Curation.splitAssign(docs, salt = "v2")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a.exists { case (k, v) => c(k) != v }, "salt change moved no docs")
  }

  test("mix schedule: weighted round-robin interleave, positions unique and ordered") {
    // weights from the numeric suffix % 3 + 1: src1 -> 2, src2 -> 3, src3 -> 1
    // cycle layout (alphabetical): [src1, src1, src2, src2, src2, src3], W = 6
    val docs = (1 to 4).map(i => (i.toLong, "src1")) ++
      (11 to 16).map(i => (i.toLong, "src2")) ++ Seq((21L, "src3"))
    val out = Curation.mixSchedule(docs.toDF("doc_id", "source"))
      .orderBy("global_pos")
      .select("doc_id", "source", "cycle", "slot", "global_pos")
      .as[(Long, String, Long, Long, Long)].collect()
    // cycle 0: src1 docs 1,2 at slots 0,1; src2 docs 11,12,13 at 2,3,4; src3 21 at 5
    assert(out.take(6).map(r => (r._1, r._5)).toSeq ==
      Seq((1L, 0L), (2L, 1L), (11L, 2L), (12L, 3L), (13L, 4L), (21L, 5L)))
    // cycle 1: src1 3,4 at 6,7; src2 14,15,16 at 8,9,10; src3 exhausted -> gap at 11
    assert(out.drop(6).map(r => (r._1, r._5)).toSeq ==
      Seq((3L, 6L), (4L, 7L), (14L, 8L), (15L, 9L), (16L, 10L)))
    // schedule invariants on the real corpus: positions unique, and each
    // source's docs appear in doc_id order along the global stream
    val real = Curation.mixSchedule(Tables.documents(spark, sfDir))
      .select("doc_id", "source", "global_pos")
      .as[(Long, String, Long)].collect()
    assert(real.map(_._3).distinct.length == real.length, "global_pos collision")
    for ((_, grp) <- real.groupBy(_._2)) {
      val byPos = grp.sortBy(_._3).map(_._1)
      assert(byPos.sameElements(byPos.sorted), "source stream out of doc_id order")
    }
    // a digit-less source must not crash under ANSI mode (plain CAST('' AS
    // BIGINT) throws on Spark 4) — it defaults to weight 1
    val noDigit = Curation.mixSchedule(
        Seq((1L, "wiki"), (2L, "wiki"), (3L, "src2")).toDF("doc_id", "source"))
      .select("source", "cycle", "slot")
      .as[(String, Long, Long)].collect()
    // weight(wiki)=1 -> one wiki doc per cycle; weight(src2)=3
    assert(noDigit.filter(_._1 == "wiki").map(_._2).sorted.toSeq == Seq(0L, 1L))
  }

  test("z-order: interleave is bit-exact; per-file boxes beat a single-column sort") {
    // hand-computed Morton value: x=3 (011), y=5 (101) ->
    // bit0: 1<<0 + 1<<1, bit1: 1<<2 + 0<<3, bit2: 0<<4 + 1<<5 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 8)).as[Long].head()
    assert(z == 39L)

    // two keys of real cardinality (a near-degenerate dim makes any layout
    // comparison vacuous): orderkey folded to 0..255, partkey 0..199
    val li = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") % 256).as("p"), (col("l_partkey") % 256).as("s"))
    val base = TestSpark.managedTempDir("graft-zorder")
    Layout.writeZordered(li, s"$base/z", "p", "s", bits = 8, nFiles = 16)
    // the competing layout: same file count, sorted on p alone
    li.repartitionByRange(16, col("p")).sortWithinPartitions("p")
      .write.mode("overwrite").parquet(s"$base/naive")
    // pruning metric: expected number of files a point predicate on one dim
    // cannot skip = sum over files of (per-file range / total range). The
    // 1-D sort is perfect on p and prunes NOTHING on s; z-order must bound
    // the WORST dimension — that is the whole point of interleaving
    def expectedFilesHit(path: String): (Double, Double) = {
      val (pSpan, sSpan) = (256.0, 200.0)
      val r = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("p") - min("p") + 1).as("pr"), (max("s") - min("s") + 1).as("sr"))
        .agg(sum(col("pr") / pSpan), sum(col("sr") / sSpan))
        .as[(Double, Double)].head()
      r
    }
    val (zP, zS) = expectedFilesHit(s"$base/z")
    val (nP, nS) = expectedFilesHit(s"$base/naive")
    assert(nS > 15.0, s"sanity: single-column sort should not prune s, got $nS")
    assert(math.max(zP, zS) < math.max(nP, nS) * 0.5,
      s"z-order worst-dim files-hit ${math.max(zP, zS)} not clearly under " +
        s"single-sort ${math.max(nP, nS)} (z: p=$zP s=$zS, naive: p=$nP s=$nS)")
  }

  test("exact dedup flags identical normalized text") {
    val docs = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "different entirely")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("is_duplicate")).toSeq == Seq(false, true, false))
    assert(out(1).getAs[Long]("keep_doc_id") == 1L)
  }

  test("minhash LSH finds perturbed near-duplicates") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val cands = Dedup.minhashCandidates(Dedup.withPerturbedCopies(docs))
    val pairs = cands.as[(Long, Long)].collect().toSet
    // every doc should be a candidate of its own perturbed copy (first token
    // dropped barely changes the shingle set)
    val expected = docs.select("doc_id").as[Long].collect()
      .map(d => (d, d + 1000000L)).toSet
    val hit = expected.intersect(pairs).size.toDouble / expected.size
    assert(hit > 0.9, s"recall $hit too low")
  }

  test("ngram jaccard: identical docs score 100, disjoint score 0") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (1000001L, "a b c d e f g h i j"), // forces a candidate pair via LSH
      (2L, "k l m n o p q r s t"),
      (1000002L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Dedup.ngramJaccard(docs).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("jaccard_pct") == 100L))
    // regression: the operator must leave NOTHING persisted behind — an
    // earlier persist() of the shingle base leaked into long-lived sessions.
    // Delta-based: other tests' by-design checkpoints (spanDups) are not
    // this operator's leak.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    assert(leaked.isEmpty, s"leaked persists: $leaked")
  }

  test("jaccardJoin: hand-computed scores; prefix filter lossless vs all-pairs") {
    // (1,2): |∩|=3, |∪|=5 → 600000; (1,3): 4/5 → 800000; (2,3): 3/6 → 500000 (out)
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b c d x"), (4L, "zz yy"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(docs, tauPpm = 600000L)
      .select("doc_a", "doc_b", "n_common", "j_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L, 600000L), (1L, 3L, 4L, 800000L)))

    // losslessness on a real corpus slice: the prefix-filtered join returns
    // EXACTLY the naive all-pairs result — the no-false-negative guarantee
    // that separates this path from MinHash LSH
    val corpus = Tables.documents(spark, sfDir).filter($"doc_id" % 17 === 0)
    val tau = 800000L
    val fast = Dedup.jaccardJoin(corpus, tau)
      .select("doc_a", "doc_b", "n_common", "j_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    val tk = corpus.select($"doc_id",
      array_remove(array_distinct(TextAnalysis.tokens($"text")), "").as("ts"))
    val naive = tk.as("x").crossJoin(tk.as("y"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        size(array_intersect($"x.ts", $"y.ts")).cast("long").as("n_common"),
        (size($"x.ts") + size($"y.ts")).cast("long").as("sz"))
      .filter($"sz" > $"n_common") // union > 0
      .select($"doc_a", $"doc_b", $"n_common",
        expr("(n_common * 1000000L) div (sz - n_common)").as("j_ppm"))
      .filter($"j_ppm" >= tau)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fast == naive, s"fast ${fast.size} vs naive ${naive.size}")
    assert(fast.nonEmpty) // the slice must actually exercise the join
  }

  test("jaccard index: incremental probe equals one-shot join over the union") {
    // build on two thirds of the corpus, probe the rest: the index path must
    // return EXACTLY the cross (corpus, new) pairs of the one-shot batch
    // join over the union — the no-false-negative contract extended to the
    // frozen-vocab order (probe docs carry tokens unseen at build time)
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter($"doc_id" % 3 =!= 0L)
    val batch = docs.filter($"doc_id" % 3 === 0L)
      // salt some probe text with BUILD-UNSEEN tokens so the unseen-first
      // ranking corner actually executes (pure corpus text is all known)
      .withColumn("text", concat($"text", lit(" zznovel"), ($"doc_id" % 7).cast("string")))
    val tau = 800000L
    Dedup.buildJaccardIndexGen(corpus, "jac_idx_test", tau, buckets = 4)
    try {
      val viaIndex = Dedup.jaccardAgainstIndex(spark, batch, "jac_idx_test", tau)
        .select("doc_new", "doc_corpus", "n_common", "j_ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
      val oneShot = Dedup.jaccardJoin(corpus.unionByName(batch), tau)
        .filter(($"doc_a" % 3 === 0L) =!= ($"doc_b" % 3 === 0L)) // cross pairs only
        .select(
          when($"doc_a" % 3 === 0L, $"doc_a").otherwise($"doc_b").as("doc_new"),
          when($"doc_a" % 3 === 0L, $"doc_b").otherwise($"doc_a").as("doc_corpus"),
          $"n_common", $"j_ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(viaIndex == oneShot, s"index ${viaIndex.size} vs one-shot ${oneShot.size}")
      assert(viaIndex.nonEmpty) // the slice must actually exercise the join
    } finally Seq("jac_idx_test_vocab", "jac_idx_test_toks", "jac_idx_test_prefix")
      .foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        graft.sources.Bucketing.dropGeneration(spark, t, 1)
      }
  }

  test("jaccard index append: unseen-token docs match later twins, never stale prefixes") {
    // doc A is all build-unseen tokens: must survive (no candidates), then
    // after its maintenance batch lands in the delta its twin B must be
    // caught — proves the vocab EXTENSION (new tids above the visible max)
    // keeps appended prefixes consistent, before and after the fold
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val tau = 900000L
    val name = "jac_app_test"
    val dir = managedTempDir("jacapp")
    val deltaDir = s"$dir/delta"
    Dedup.buildJaccardIndexGen(corpus, name, tau, buckets = 2)
    def pairs(docs: org.apache.spark.sql.DataFrame, withDelta: Boolean) =
      (if (withDelta) Dedup.jaccardAgainstIndexWith(spark, docs, name, deltaDir, tau)
       else Dedup.jaccardAgainstIndex(spark, docs, name, tau))
        .select("doc_new", "doc_corpus", "j_ppm")
        .as[(Long, Long, Long)].collect().toSeq
    try {
      val a = Seq((10L, "qq ww ee rr tt")).toDF("doc_id", "text")
      assert(pairs(a, withDelta = true).isEmpty)
      Dedup.processJaccardBatch(a, 0L, name, deltaDir, s"$dir/survivors", tau)
      assert(spark.read.parquet(s"$dir/survivors").select("doc_id")
        .as[Long].collect().toSeq == Seq(10L))
      val b = Seq((20L, "qq ww ee rr tt")).toDF("doc_id", "text")
      // and a corpus twin still matches after the append (old prefixes live)
      val c = Seq((30L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      assert(pairs(b, withDelta = true) == Seq((20L, 10L, 1000000L)))
      assert(pairs(c, withDelta = true) == Seq((30L, 1L, 1000000L)))
      // folded into generation 2, the base alone answers both
      Dedup.compactJaccardIndexGen(spark, name, deltaDir, buckets = 2)
      assert(pairs(b, withDelta = false) == Seq((20L, 10L, 1000000L)))
      assert(pairs(c, withDelta = false) == Seq((30L, 1L, 1000000L)))
    } finally JacSuffixes.foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS ${name}_$t")
      Seq(1, 2).foreach(graft.sources.Bucketing.dropGeneration(spark, s"${name}_$t", _))
    }
  }

  test("jaccard index bootstraps from an EMPTY corpus (append then probe)") {
    // the stream-everything-from-scratch path: nothing indexed at build
    // time, so the first maintenance batch must mint tids from 1 (max over
    // an empty vocab is NULL, not 0)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val name = "jac_boot_test"
    val dir = managedTempDir("jacboot")
    val deltaDir = s"$dir/delta"
    Dedup.buildJaccardIndexGen(empty, name, 900000L, buckets = 2)
    try {
      val a = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
      assert(Dedup.jaccardAgainstIndexWith(spark, a, name, deltaDir, 900000L).isEmpty)
      Dedup.processJaccardBatch(a, 0L, name, deltaDir, s"$dir/survivors", 900000L)
      assert(spark.read.parquet(s"$deltaDir/vocab").select("tid")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      val hits = Dedup.jaccardAgainstIndexWith(spark,
          Seq((2L, "aa bb cc dd")).toDF("doc_id", "text"), name, deltaDir, 900000L)
        .select("doc_new", "doc_corpus", "j_ppm")
        .as[(Long, Long, Long)].collect().toSeq
      assert(hits == Seq((2L, 1L, 1000000L)), s"got $hits")
    } finally JacSuffixes.foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS ${name}_$t")
      graft.sources.Bucketing.dropGeneration(spark, s"${name}_$t", 1)
    }
  }

  private val JacSuffixes = Seq("vocab", "toks", "prefix")

  test("dedup clustering: transitive chain collapses to one canonical id") {
    // a ~ b (drop 1 token) ~ c (drop 2 tokens): LSH links the chain even if
    // a ~ c alone were below a band match; all three must share canonical a
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, text),
      (11L, text.split(" ").drop(1).mkString(" ")),
      (12L, text.split(" ").drop(2).mkString(" ")),
      (99L, (1 to 30).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.dedupClusters(docs).as[(Long, Long)].collect().toMap
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
    assert(!got.contains(99L)) // no pairs -> not in the cluster output
  }

  test("dedup cluster sizes: histogram covers the whole corpus incl. singletons") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, text),
      (11L, text.split(" ").drop(1).mkString(" ")),
      (12L, text.split(" ").drop(2).mkString(" ")),
      (99L, (1 to 30).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.dedupClusterSizes(docs).orderBy("cluster_size")
      .as[(Long, Long, Long)].collect().toSeq
    // the 10-11-12 chain is one size-3 family; 99 is a singleton; mass sums
    // to the corpus
    assert(got == Seq((1L, 1L, 1L), (3L, 1L, 3L)))
    assert(got.map(_._3).sum == 4L)
  }

  test("cluster sizes over materialized clusters equal the standalone form") {
    // the production audit path: dedupClusters' output is materialized once
    // (an index, not a per-audit recompute) and clusterSizesFrom reads it —
    // must histogram identically to the standalone end-to-end query
    val docs = Dedup.withPerturbedCopies(Tables.documents(spark, sfDir).limit(120))
    val materialized = Dedup.dedupClusters(docs).localCheckpoint(true)
    try {
      val fromIndex = Dedup.clusterSizesFrom(docs, materialized)
        .orderBy("cluster_size").as[(Long, Long, Long)].collect().toSeq
      val standalone = Dedup.dedupClusterSizes(docs)
        .orderBy("cluster_size").as[(Long, Long, Long)].collect().toSeq
      assert(fromIndex == standalone)
      assert(fromIndex.map(_._3).sum == docs.count())
      // same split for survivor selection: keepBestFrom over the
      // materialized labels must equal the self-contained form
      val kbFromIndex = Dedup.keepBestFrom(docs, materialized)
        .orderBy("cluster_id").as[(Long, Long, Long, Long)].collect().toSeq
      val kbStandalone = Dedup.dedupClustersKeepBest(docs)
        .orderBy("cluster_id").as[(Long, Long, Long, Long)].collect().toSeq
      assert(kbFromIndex == kbStandalone)
    } finally materialized.unpersist()
  }

  test("native hash kernels match HOF formulations bit-for-bit") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val a = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val b = Dedup.simhashHof(docs).as[(Long, Long)].collect().toMap
    assert(a == b)
    val base = Dedup.shingleHashes(docs)
    val sigN = Dedup.minhashSignature(docs).orderBy("doc_id").collect()
    val sigH = Dedup.signatureFromHof(base).drop("sh").orderBy("doc_id").collect()
    assert(sigN.map(_.toSeq.toList).toList == sigH.map(_.toSeq.toList).toList)
  }

  test("simhash of near-identical docs differs in few bits") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "entirely unrelated vocabulary cluster zebra quantum flux harmonic")).toDF("doc_id", "text")
    val h = Dedup.simhash(docs).orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(0), h(1)) < hamming(h(0), h(2)))
  }

  test("native cosine expression matches HOF formulation bit-for-bit") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(100)
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("eb")))
      .filter(col("a") < col("b")).limit(500)
    val diff = pairs
      .withColumn("c1", Similarity.cos("ea", "eb"))
      .withColumn("c2", Similarity.cosHof("ea", "eb"))
      .filter(col("c1") =!= col("c2"))
      .count()
    assert(diff == 0)
  }

  test("cosine expression: null and length-mismatch inputs yield null, zero vector yields 0") {
    CosineSimilarity.register(spark)
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (Some(Seq(1.0f)), Some(Seq(1.0f, 2.0f))),
      (None, Some(Seq(1.0f, 2.0f))),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 2.0f)))).toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0).exists(v => math.abs(v - 1.0) < 1e-12))
    assert(out(1).isEmpty && out(2).isEmpty)
    assert(out(3).contains(0.0))
  }

  test("brute-force top-k self-consistency: scaled twin ranks adjacent to original neighbor") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val out = Similarity.bruteForceTopK(e, 5, 3)
    assert(out.count() == 15)
    assert(out.groupBy("query_id").count().filter(col("count") =!= 3).count() == 0)
  }

  test("autoSignBits reproduces the measured sizing ladder; auto-sized 100x keeps sum-bucket-sq linear") {
    // the ScaleProbe construction: dim-rotated copies so each copy's sign
    // pattern differs (scaling by a constant would replicate the base
    // bucket distribution). 4x the sf0.001 corpus = 2 000 vectors — the
    // exact 1x population of SCALE.md's measured ladder (8 → 11 → 15 bits
    // at 1x/10x/100x)
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    def scaled(times: Int) = graft.ProbeUtil.rotatedCopies(base, times)
    def sumSq(df: org.apache.spark.sql.DataFrame, bits: Int): Long =
      df.groupBy(Similarity.signBucket(col("embedding"), bits).as("bucket"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c"))).head.getLong(0)

    val x1 = scaled(4).localCheckpoint(true)
    val x100 = scaled(400).localCheckpoint(true)
    try {
      // the measure-then-size hook reproduces the manual ladder from the
      // corpus alone — including the default SignBits at the 1x population
      assert(Similarity.autoSignBits(x1) == Similarity.SignBits)
      assert(Similarity.autoSignBits(scaled(40)) == 11)
      val auto100 = Similarity.autoSignBits(x100)
      assert(auto100 == 15, s"100x corpus must size to 15 bits, got $auto100")
      // auto-sized 100x matches the manual 15-bit row's work term exactly
      // (same bucketing), and that work term stays LINEAR: sized growth
      // ≤ 1.5 * scale vs the 1x reference (measured exponent 0.97; the
      // fixed-8-bit exponent is 1.97, i.e. ~100x worse at this scale)
      val s1 = sumSq(x1, Similarity.SignBits)
      val s100 = sumSq(x100, auto100)
      assert(s100 == sumSq(x100, 15))
      assert(s100 <= s1 * 100L * 3L / 2L,
        s"auto-sized sum-bucket-sq not linear: 1x=$s1 100x=$s100")
    } finally { x1.unpersist(); x100.unpersist(); () }
  }

  test("IVF: every vector assigned to exactly one posting list; centroids own themselves") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val out = Similarity.ivfTopNeighbor(e)
    // one row per vector that shares a posting list with another vector
    assert(out.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    // a centroid's nearest centroid is itself (cos = 1), so cluster_id == vec_id
    val own = out.filter(col("vec_id") < Similarity.IvfClusters)
      .filter(col("vec_id") =!= col("cluster_id")).count()
    assert(own == 0)
  }

  test("ivf generation fold re-stamps shard factors under a restated cap; answers unchanged") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val t = "ivf_rebucket_test"
    val dir = managedTempDir("ivfrebucket")
    // uncapped build, then a fold with nothing to fold and a RESTATED cap —
    // the admin re-stamp workflow: shard factors appear, the cap lands in
    // the new generation's manifest, the exchange-free scan survives, and
    // no answer changes (assignments are stored, not recomputed)
    Similarity.buildIvfIndexGen(e, t, buckets = 4)
    try {
      val before = Similarity.searchIvfIndex(spark, t, 3)
        .as[(Long, Long, Long)].collect().toSet
      Similarity.compactIvfIndexGen(spark, t, s"$dir/delta", 4, maxBucket = 8)
      assert(spark.table(t).filter(col("m") > 1).count() > 0)
      val b = graft.sources.Bucketing
      assert(b.manifestOf(spark, b.resolvePhysical(spark, t)).maxBucket == 8)
      val after = Similarity.searchIvfIndex(spark, t, 3)
      assert(!after.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(after.as[(Long, Long, Long)].collect().toSet == before)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $t")
      Seq(1, 2).foreach(graft.sources.Bucketing.dropGeneration(spark, t, _))
    }
  }

  test("ivf generation fold launch shape: one manifest read per fold") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val t = "ivf_foldjobs_test"
    val deltaDir = s"${managedTempDir("ivffoldjobs")}/delta"
    // a CAPPED index with one unfolded batch: the fold inherits the cap
    // and folds the batch — the maintenance loop's fold shape
    Similarity.buildIvfIndexGen(e.filter(col("vec_id") < 150), t, buckets = 4,
      maxBucket = 8)
    Similarity.applyIvfDelta(e.filter(col("vec_id") >= 150), t, deltaDir, 0L)
    try {
      val sc = spark.sparkContext
      val group = s"ivf-fold-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, "one ivf generation fold")
      try Similarity.compactIvfIndexGen(spark, t, deltaDir, 4,
        maxBucket = Similarity.InheritMaxBucket)
      finally sc.clearJobGroup()
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      // one single-row manifest job: the inherited cap and the folded
      // watermark come off one read (two reads of the same row launched
      // 10 jobs)
      assert(jobs == 9, s"one ivf fold launched $jobs jobs")
      assert(spark.table(t).count() == 200L)
      assert(spark.table(t).filter(col("m") > 1).count() > 0)
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $t")
      Seq(1, 2).foreach(graft.sources.Bucketing.dropGeneration(spark, t, _))
    }
  }

  test("embedding near-dup finds every scaled copy pair") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(100)
    val pairs = Similarity.nearDupPairs(Similarity.withScaledCopies(e), 0.95)
      .as[(Long, Long)].collect().toSet
    val expected = e.select("vec_id").as[Long].collect().map(v => (v, v + 1000000L)).toSet
    assert(expected.subsetOf(pairs))
  }

  test("bpe apply: leftmost-greedy non-overlapping merge, chain parity exact") {
    val docs = Seq(
      (1L, "a a a"),          // greedy on (a,a): [a_a, a] — NOT two merges
      (2L, "a a a a"),        // [a_a, a_a]
      (3L, "x a b a b y"),    // (a,a) misses; (a,b) merges both
      (4L, "solo")).toDF("doc_id", "text")
    def run(a: String, b: String) =
      graft.ext.TextAnalysis.bpeApplyMerge(docs, a, b).orderBy("doc_id")
        .select("doc_id", "n_before", "n_merges", "n_after", "merged_hash")
        .as[(Long, Long, Long, Long, Long)].collect()
    val aa = run("a", "a")
    assert(aa.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      (1L, 3L, 1L, 2L), (2L, 4L, 2L, 2L), (3L, 6L, 0L, 6L), (4L, 1L, 0L, 1L)))
    val ab = run("a", "b")
    assert(ab.map(r => (r._1, r._3)).toSeq == Seq((1L, 0L), (2L, 0L), (3L, 2L), (4L, 0L)))
    // the hash pins the rebuilt streams, not just the counts
    val expect = Seq("a_a a", "a_a a_a", "x a b a b y", "solo").zipWithIndex
      .map { case (s, i) => (i + 1L, s) }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Exact.md5Hash60(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    for (r <- aa) assert(r._5 == expect(r._1), s"doc ${r._1} stream hash mismatch")
    assert(ab.find(_._1 == 3L).get._5 ==
      Seq(("x a_b a_b y")).toDF("t")
        .select(graft.functions.Exact.md5Hash60(col("t"))).as[Long].head())
  }

  test("bpe merge step: argmax pair on a known corpus, deterministic ties") {
    val docs = Seq(
      (1L, "a b a b a b"),   // "a b" x3, "b a" x2
      (2L, "a b c"),         // "a b", "b c"
      (3L, "z")              // too short: no pairs
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeStep(docs, 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, "a b", 4L)))
    assert(out(1) == ((2L, "b a", 2L)))
    assert(out(2) == ((3L, "b c", 1L))) // lexicographic tie-break at freq 1
  }

  test("corpus shards: partitioned layout, bounded files, pruned reads") {
    val out = managedTempDir("shards") + "/corpus"
    val docs = Tables.documents(spark, sfDir) // 500 docs, 2 langs
    Curation.writeCorpusShards(docs, out, maxRecordsPerFile = 100L)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // per-lang counts survive the layout round-trip
    val want = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = back.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(got == want)
    // shard size bound respected: every lang dir has ceil(n/100)+ files
    want.foreach { case (lang, n) =>
      val files = new java.io.File(s"$out/lang=$lang")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= (n + 99) / 100, s"$lang: $files files for $n rows")
    }
    // a lang filter prunes at the partition level, not the row level
    val plan = back.filter(col("lang") === want.keySet.head)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("ivf-pq: twin guarantees an ADC-minimal neighbor; partition invariant") {
    val e = Tables.embeddings(spark, sfDir).limit(100)
    // an exact duplicate lands in its original's coarse cell with an
    // identical residual, hence the query's own code, hence the MINIMAL
    // possible ADC — so every query must return a neighbor, and that
    // neighbor's id can only differ from the twin's when another vector
    // ties the minimal ADC exactly (correlated corpora do produce code
    // collisions, so identity is NOT the contract; minimality is)
    val dup = e.select("vec_id", "embedding")
      .unionByName(e.select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val got = Similarity.ivfPqTop1(dup, numQueries = 20)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (0L until 20L).toSet,
      s"every query's probed cells contain its twin, got ${got.keySet}")
    got.foreach { case (q, n) => assert(n != q) }
    // search result independent of input partitioning (kernel/agg orders)
    val a = Similarity.ivfPqTop1(dup.repartition(1), 20)
      .collect().map(_.toString).sorted.toSeq
    val b = Similarity.ivfPqTop1(dup.repartition(7, col("vec_id")), 20)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("ivf-pq: codebook is non-degenerate — codes actually discriminate") {
    val e = Tables.embeddings(spark, sfDir).limit(200)
    // a codebook built from the coarse centroids' own residuals would be
    // all-zero, tie every pq_encode argmin to position 0, and collapse
    // every code to 0L — so distinct codes is the degeneracy sentinel
    val codes = Similarity.ivfPqCodes(e)
      .select("pq_code").as[Long].collect()
    assert(codes.distinct.length > 1,
      s"all ${codes.length} pq_codes identical (${codes.headOption}) — " +
        "residual codebook is degenerate")
    // and within at least one coarse cell ADC must vary across members,
    // otherwise top-1 is just 'lowest vec_id in the nearest probed cell'
    val perCell = Similarity.ivfPqCodes(e)
      .groupBy("cluster_id")
      .agg(countDistinct("pq_code").as("ncodes"), count("*").as("n"))
      .filter(col("n") > lit(1)).as[(Long, Long, Long)].collect()
    assert(perCell.exists(_._2 > 1),
      "no multi-member cell has more than one distinct code")
  }

  test("ivf-pq: corpus smaller than k+kpq degrades gracefully (short codebook)") {
    // 24 vectors with k=16, kpq=16: only 8 non-centroid rows exist, so the
    // residual codebook has 8 codewords and per-sub LUT segments 8 entries.
    // The ADC stride must follow the ACTUAL segment length — a fixed-kpq
    // stride reads across segments (or past the array under ANSI) here.
    val e = Tables.embeddings(spark, sfDir).limit(24)
    val out = Similarity.ivfPqTop1(e, numQueries = 20)
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (q, n) =>
      assert(n != q && n >= 0 && n < 24, s"query $q got out-of-corpus $n")
    }
    val codes = Similarity.ivfPqCodes(e).select("pq_code").as[Long].collect()
    assert(codes.length == 24)
  }

  test("sq8: scaled twin has identical codes and tops its original's ranking") {
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val out = Similarity.sq8TopK(Similarity.withScaledCopies(e), 20, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact doubling leaves maxabs ratios unchanged -> twin codes identical
    // -> twin's integer dot equals the query's self-dot, the top candidate
    // on this corpus; ranks are deterministic via the id tie-break
    (0L until 20L).foreach { q =>
      val top = out.filter(_._1 == q).minBy(_._2)
      assert(top._3 == q + 1000000L, s"query $q top-1 was ${top._3}")
    }
  }

  test("semdedup collapses scaled copies; keep-set is one per component") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(100)
    val out = Similarity.semDedup(Similarity.withScaledCopies(e), 0.95)
    val rows = out.collect()
    assert(rows.length == 200) // every input vector labeled
    // each scaled copy collapses onto its original: canonical(v+1M) == canonical(v)
    val canon = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    e.select("vec_id").as[Long].collect().foreach { v =>
      assert(canon(v + 1000000L) == canon(v), s"copy of $v not collapsed")
    }
    // keep is exactly "vec_id == canonical", and every component keeps exactly one
    rows.foreach(r => assert(r.getBoolean(3) == (r.getLong(0) == r.getLong(2))))
    val perComponent = rows.groupBy(_.getLong(2)).values
    assert(perComponent.forall(_.count(_.getBoolean(3)) == 1))
    // hot-cluster cap changes nothing
    val capped = Similarity.semDedup(Similarity.withScaledCopies(e), 0.95, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(capped == rows.map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("url canonicalization: case/port/utm/fragment/slash variants collapse") {
    val urls = Seq(
      "https://Site.Example.ORG:443/Page/?utm_source=a&utm_campaign=b",
      "https://site.example.org/Page",
      "http://h.example.com:80/a?id=3&utm_medium=x#frag",
      "http://h.example.com/a?id=3",
      "https://keep.example.net/p?a=1&utm_x=2&b=3", // utm in the middle
      "https://bare.example.net/").toDF("url")
    val out = urls.select(Curation.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    assert(out(0) == "https://site.example.org/Page") // path case survives
    assert(out(0) == out(1))
    assert(out(2) == "http://h.example.com/a?id=3")
    assert(out(2) == out(3))
    assert(out(4) == "https://keep.example.net/p?a=1&b=3")
    assert(out(5) == "https://bare.example.net")
  }

  test("prototypicality: centroids rank first, anti-aligned vector is the outlier") {
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),  // near centroid 0
      (3L, Seq(-1f, 0f, 0f, 0f))      // cos 0 to c1 beats cos -1 to c0
    ).toDF("vec_id", "embedding")
    val out = Similarity.embedPrototypicality(e, k = 2)
      .orderBy("vec_id").collect()
    def row(i: Int) = (out(i).getLong(1), out(i).getLong(2), out(i).getBoolean(5))
    assert(row(0) == ((0L, 1L, false))) // own centroid, rank 1
    assert(row(1) == ((1L, 1L, false)))
    assert(row(2) == ((0L, 2L, false)))
    assert(row(3) == ((1L, 2L, true))) // csim_bp 0 < 500
    assert(out(3).getLong(4) == 0L)
    assert(out.filter(_.getLong(1) == 0L).forall(_.getLong(3) == 2L)) // cluster sizes
  }

  test("cluster labels: per-cell top terms, rarity tie-break, sizes") {
    // two clean cells (centroids = vecs 0 and 1); docs carry disjoint
    // dominant tokens plus a shared background token
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),   // joins cell 0
      (3L, Seq(0.1f, 0.9f, 0f, 0f)))   // joins cell 1
    .toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "cats cats shared"),
      (1L, "dogs dogs shared"),
      (2L, "cats shared shared"),
      (3L, "dogs shared birds"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Similarity.clusterLabels(e, docs, k = 2, top = 2)
      .orderBy("cluster_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // cell 0 = docs {0,2}: cats tf 3, shared tf 3 — tie broken by df
    // (cats in 2 docs < shared in 4) -> cats labels first
    // cell 1 = docs {1,3}: dogs tf 3, shared tf 2
    assert(out.toSeq == Seq(
      (0L, 1L, "cats", 3L, 2L, 2L),
      (0L, 2L, "shared", 3L, 4L, 2L),
      (1L, 1L, "dogs", 3L, 2L, 2L),
      (1L, 2L, "shared", 2L, 4L, 2L)))
  }

  test("ts neighbors: identical series distance 0, scaled twins share a word") {
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d $h%02d:00:00")
    // users 1/2: identical early-month pattern; users 3/4: late-month
    // pattern at different magnitudes — min-max SAX puts them in one word
    // (shape, not scale), exact distance then separates them
    val evs =
      (0 until 5).flatMap(d => Seq((1L, t(d, 9)), (2L, t(d, 10)))) ++
      (25 until 30).flatMap(d =>
        Seq.fill(2)((3L, t(d, 9))) ++ Seq.fill(3)((4L, t(d, 9))))
    val out = TimeSeries.tsTopNeighbor(evs.toDF("user_id", "ts"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0L), (2L, 1L, 0L),   // identical series: dist 0, mutual
      (3L, 4L, 5L), (4L, 3L, 5L)))  // 5 days x (2-3)^2
  }

  test("bucketed top1: hot-bucket sharding returns identical winners") {
    // one hot bucket of 40 integer vectors (>> maxBucket = 8, so the guard
    // hash-splits it into 5 shards), one normal bucket, one singleton
    val items = ((0 until 40).map(i =>
        (i.toLong, 0L, Seq(i.toLong, (i * 7 % 13).toLong))) ++
      Seq((100L, 1L, Seq(1L, 1L)), (101L, 1L, Seq(1L, 2L)),
        (102L, 1L, Seq(9L, 9L)), (200L, 2L, Seq(0L, 0L))))
      .toDF("id", "bucket", "v")
    def run(maxBucket: Int) =
      Similarity.bucketedTop1Neighbor(items, "bucket", "id", "v", maxBucket)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = run(Similarity.NoMaxBucket)
    val sharded = run(8)
    // every (probe, member) pair meets in exactly one shard group and the
    // min-of-mins merge composes — results identical to the plain gather
    assert(sharded == plain)
    // hand checks: singleton absent; known winner in the small bucket
    assert(!plain.map(_._1).contains(200L))
    assert(plain.find(_._1 == 100L).contains((100L, 101L, 1L))) // (1-1)²+(1-2)²
    assert(plain.map(_._1).toSet ==
      ((0 until 40).map(_.toLong) ++ Seq(100L, 101L, 102L)).toSet)
  }

  test("media ann: identical payloads are mutual zero-distance neighbors") {
    val docs = Seq(
      (1L, "the very same media payload"),
      (2L, "the very same media payload"),
      (3L, "the very same media payload"),
      (4L, "something completely different entirely"))
      .toDF("doc_id", "text")
    val out = Multimodal.mediaTopNeighbor(spark, Multimodal.asMedia(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // identical payloads: distance 0, ties broken toward the smaller id
    assert(out(1L) == ((2L, 0L)) && out(2L) == ((1L, 0L)) && out(3L) == ((1L, 0L)))
    // the distinct payload either has no bucket-mate (absent) or a
    // strictly positive distance — never a spurious zero
    assert(out.get(4L).forall(_._2 > 0L))
  }

  test("length quantiles: exact type-1 ranks on a known distribution") {
    val docs = (1 to 10).map { i =>
      (i.toLong, Seq.fill(i)("tok").mkString(" "), "s1")
    }.toDF("doc_id", "text", "source")
    val r = TextAnalysis.lengthQuantiles(docs).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((10L, 5L, 9L, 10L))) // ranks ceil(5)=5, ceil(9)=9, ceil(9.9)=10
  }

  test("text stats: integer quality gates behave") {
    val docs = Seq(
      (1L, "the cat sat on the mat with a hat and a bat plus more words here"),
      (2L, "short"),
      (3L, ("superlongtoken" * 10 + " ") * 12 + "end")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.stats(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("is_quality"))
    assert(!out(1).getAs[Boolean]("is_quality")) // too few tokens
    assert(!out(2).getAs[Boolean]("is_quality")) // no stopwords + long tokens
  }

  test("source stats partition the corpus; token classes are consistent") {
    val docs = Tables.documents(spark, sfDir)
    val s = TextAnalysis.sourceStats(docs)
    assert(s.agg(sum("n_docs")).as[Long].head() == docs.count())
    val tc = TextAnalysis.tokenClasses(
      Seq((1L, "abc 123 x! y?")).toDF("doc_id", "text")).collect().head
    assert(tc.getAs[Long]("n_alpha_runs") == 3L) // abc, x, y
    assert(tc.getAs[Long]("n_digit_runs") == 1L)
    assert(tc.getAs[Long]("n_symbols") == 2L)
    assert(tc.getAs[Long]("n_bpe_tokens") == 6L)
  }

  test("quantization: q values bounded by [-128, 127], max-magnitude element hits 127 or -128") {
    val e = Seq((1L, Seq(0.5f, -1.0f, 0.25f)), (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeStats(e).orderBy("vec_id").collect()
    assert(out(0).getAs[Long]("q_min") >= -128 && out(0).getAs[Long]("q_max") <= 127)
    assert(out(0).getAs[Long]("q_min") == -127L) // floor(-1.0 * 127 / 1.0)
    assert(out(1).getAs[Long]("q_sum") == 0L)    // zero vector guard
  }

  test("lang id is deterministic and covers all docs") {
    val out = TextAnalysis.langId(Tables.documents(spark, sfDir))
    assert(out.count() == 500)
    assert(out.filter(col("predicted_lang") === "und").count() == 0)
  }

  test("multimodal decode meta is deterministic and bytes match text length (ascii corpus)") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val out = Multimodal.decodeMeta(spark, Multimodal.asMedia(docs))
    val joined = out.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")).cast("long"))
    assert(joined.count() == 0)
    val w = out.select("width").as[Long].collect()
    assert(w.forall(x => x >= 160 && x <= 720))
  }

  test("frame sampling covers every stride-th 64-byte frame") {
    val docs = Seq((1L, "x" * 300)).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(spark, Multimodal.asMedia(docs))
      .select("frame_idx").as[Long].collect().toSet
    assert(out == Set(0L, 4L)) // ceil(300/64)=5 frames -> idx 0 and 4
  }

  test("pii scrub redacts every injected email and phone, and only those") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val out = Curation.piiScrub(Curation.withPiiInjected(docs))
    assert(out.count() == 50)
    // exactly one email + one phone injected per doc; base corpus is clean
    assert(out.filter(col("n_emails") =!= 1L || col("n_phones") =!= 1L).count() == 0)
    assert(out.filter(col("n_redactions") =!= 2L).count() == 0)
    // scrubbing is idempotent: a second pass finds nothing
    val again = Curation.piiScrub(
      Curation.withPiiInjected(docs).select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"),
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
          "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>").as("text")))
    assert(again.filter(col("n_redactions") =!= 0L).count() == 0)
  }

  test("stratified sampling is a pure function of doc_id with per-stratum rates") {
    val docs = Tables.documents(spark, sfDir)
    val out = Curation.sampleStrata(docs).cache()
    // deterministic: two evaluations agree row-for-row
    val a = out.orderBy("doc_id").collect()
    val b = Curation.sampleStrata(docs).orderBy("doc_id").collect()
    assert(a.sameElements(b))
    // buckets in range, rates as configured
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 100).count() == 0)
    assert(out.filter(col("lang") === "en" && col("rate") =!= 50L).count() == 0)
    assert(out.filter(col("lang") =!= "en" && col("rate") =!= 10L).count() == 0)
    out.unpersist()
  }

  test("token budget admits docs in doc_id order until the stratum cap") {
    val docs = Seq(
      (1L, "a b c d e", "s1"), (2L, "a b c", "s1"), (3L, "a b c d", "s1"),
      (10L, "x y", "s2")).toDF("doc_id", "text", "source")
    val out = Curation.tokenBudget(docs, budgetPerSource = 8L)
      .orderBy("doc_id").collect()
    // s1: cum 5, 8, 12 -> first two in budget; s2: cum 2 -> in
    assert(out.map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSeq ==
      Seq((1L, 5L, true), (2L, 8L, true), (3L, 12L, false), (10L, 2L, true)))
  }

  test("simhash banding finds perturbed near-dups within the hamming bound") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val pairs = Dedup.simhashPairs(Dedup.withPerturbedCopies(docs), maxHamming = 3).cache()
    assert(pairs.filter(col("hamming") > 3).count() == 0)
    // dropping one token barely moves the simhash: most perturbed twins found
    val twins = pairs.filter(col("doc_id_b") === col("doc_id_a") + 1000000L).count()
    assert(twins > 50, s"only $twins perturbed twins found")
    pairs.unpersist()
  }

  test("multi-probe IVF candidates are a superset: probe2 neighbor at least as similar") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    def sims(df: org.apache.spark.sql.DataFrame) = df
      .join(emb.select(col("vec_id"), col("embedding").as("e1")), "vec_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("e2")), "neighbor_id")
      .select(col("vec_id"), Similarity.cos("e1", "e2").as("sim"))
      .as[(Long, Double)].collect().toMap
    val s1 = sims(Similarity.ivfTopNeighbor(emb).drop("cluster_id"))
    val s2 = sims(Similarity.ivfTopNeighborProbed(emb, 2))
    // every probe1 vector still has a neighbor under probe2, never a worse one
    s1.foreach { case (v, sim1) =>
      assert(s2.contains(v))
      assert(s2(v) >= sim1 - 1e-12, s"vec $v: probe2 ${s2(v)} < probe1 $sim1")
    }
  }

  test("hierarchical IVF: k1 = k2 degenerates to flat IVF; routing is consistent") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    // with k1 = k2, every fine centroid routes to itself (cos = 1, id
    // tie-break), so each super's group book is just itself and the two-level
    // route picks the SAME global-nearest centroid as the flat quantizer
    val k = Similarity.IvfClusters
    val hierSame = Similarity.ivfTopNeighborHier(emb, k1 = k, k2 = k)
      .select("vec_id", "cluster_id", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val flat = Similarity.ivfTopNeighbor(emb, k)
      .as[(Long, Long, Long)].collect().toSet
    assert(hierSame == flat)
    // real two-level shape: one answer per vector, and (super, cluster) is a
    // consistent routing — every cluster maps to exactly one super
    val hier = Similarity.ivfTopNeighborHier(emb).cache()
    assert(hier.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    assert(hier.select("cluster_id", "super_id").distinct()
      .groupBy("cluster_id").count().filter(col("count") > 1).count() == 0)
    assert(hier.count() > 0)
    hier.unpersist()
  }

  test("ivf top-k: ranks contiguous from 1, rank 1 equals the top-1 operator") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    val topk = Similarity.ivfTopKNeighbors(emb, 3).cache()
    // ranks per vector are exactly 1..m with m <= 3
    val badRanks = topk.groupBy("vec_id")
      .agg(count(lit(1)).as("m"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("mx") =!= col("m") || col("mn") =!= 1 || col("m") > 3)
      .count()
    assert(badRanks == 0)
    val r1 = topk.filter(col("rank") === 1).select("vec_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    val t1 = Similarity.ivfTopNeighbor(emb).select("vec_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    assert(r1 == t1)
    topk.unpersist()
  }

  test("ADC rerank: exact re-ranking never worsens the ADC winner's true cosine") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    def trueSims(df: org.apache.spark.sql.DataFrame) = df
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("e1")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("e2")), "neighbor_id")
      .select(col("query_id"), Similarity.cos("e1", "e2").as("sim"))
      .as[(Long, Double)].collect().toMap
    val adc1 = trueSims(Similarity.pqAdcTopK(emb, 10, 1).filter(col("rank") === 1))
    val rr = Similarity.pqAdcRerankTopK(emb, 10, 50, 5).cache()
    val rr1 = trueSims(rr.filter(col("rank") === 1))
    // both winners come from the same shortlist; the exact pass maximizes
    // true cosine over it, so rerank's top-1 dominates the ADC top-1
    adc1.foreach { case (q, s) =>
      assert(rr1.contains(q))
      assert(rr1(q) >= s - 1e-12, s"query $q: rerank ${rr1(q)} < adc $s")
    }
    // ranks contiguous 1..5 per query, ordered by exact cosine
    val bad = rr.groupBy("query_id")
      .agg(count(lit(1)).as("m"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("mx") =!= col("m") || col("mn") =!= 1 || col("m") > 5).count()
    assert(bad == 0)
    rr.unpersist()
  }

  test("pq codes: codebook vectors code themselves; all codes in range") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.pqCodes(emb).as[(Long, Long)].collect().toMap
    assert(out.size == emb.count())
    // a codebook vector's nearest entry in every subspace is itself (d = 0,
    // unique among random centroids), so its packed code is i replicated
    // across all eight 4-bit nibbles
    (0L until 16L).foreach { i =>
      assert(out(i) == i * 0x11111111L, s"vec $i coded ${out(i).toHexString}")
    }
    // every nibble of every code addresses a valid codebook entry (< 16 is
    // structural for 4-bit nibbles; check the packed value's range instead)
    out.values.foreach(c => assert(c >= 0L && c <= 0xFFFFFFFFL))
  }

  test("pq adc search: every query gets exactly topK contiguous ranks") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.pqAdcTopK(emb, numQueries = 10, topK = 4)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 40)
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L), s"query $q")
      assert(!rows.exists(_._3 == q)) // self excluded
    }
  }

  test("persisted LSH index: incremental probe matches one-shot candidates, index side unshuffled") {
    val docs = Tables.documents(spark, sfDir)
    Dedup.buildLshIndexGen(docs, "lsh_idx_test", buckets = 4)
    try {
      val newHalf = Dedup.withPerturbedCopies(docs).filter(col("doc_id") >= 1000000L)
      val viaIndex = Dedup.dedupAgainstIndex(spark, newHalf, "lsh_idx_test")
      // the one-shot candidate generator over the union corpus, restricted
      // to cross (corpus, new) pairs, is the semantic ground truth
      val oneShot = Dedup.minhashCandidates(Dedup.withPerturbedCopies(docs))
        .filter(col("doc_id_a") < 1000000L && col("doc_id_b") >= 1000000L)
        .select(col("doc_id_b").as("doc_id_new"), col("doc_id_a").as("doc_id_corpus"))
      assert(viaIndex.as[(Long, Long)].collect().toSet ==
        oneShot.as[(Long, Long)].collect().toSet)
      // probe pays its own MinHash + one shuffle; the INDEX side must read
      // co-located off the bucketed layout. Small corpora broadcast the
      // index (also shuffle-free); force the sort-merge path to pin the
      // bucketed layout's contract: exactly TWO shuffle exchanges — the
      // probe side's join shuffle and the final distinct — never a third
      // for the index side
      val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = Dedup.dedupAgainstIndex(spark, newHalf, "lsh_idx_test")
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
        assert(p.contains("lsh_idx_test"), p)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
    } finally {
      spark.sql("DROP VIEW IF EXISTS lsh_idx_test")
      graft.sources.Bucketing.dropGeneration(spark, "lsh_idx_test", 1)
    }
  }

  test("generation-view LSH probe: physical generation table, index side unshuffled") {
    val docs = Tables.documents(spark, sfDir)
    Dedup.buildLshIndexGen(docs.filter(col("doc_id") % 2 === 0),
      "lsh_genplan_test", buckets = 4)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Dedup.dedupAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 =!= 0), "lsh_genplan_test")
        .queryExecution.executedPlan.toString
      // the single-resolution read plans against the physical generation —
      // same two probe-side exchanges as the plain-table pin (probe join
      // shuffle + final distinct), never a third for the index side
      assert(p.contains("lsh_genplan_test__g1"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      spark.sql("DROP VIEW IF EXISTS lsh_genplan_test")
      graft.sources.Bucketing.dropGeneration(spark, "lsh_genplan_test", 1)
    }
  }

  test("persisted IVF index: search is exchange-free and matches direct top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    Similarity.buildIvfIndex(emb, "ivf_idx_test", buckets = 4)
    // second index with an aggressive hot-bucket cap: every posting list is
    // sharded at build time; search must stay exchange-free AND identical
    Similarity.buildIvfIndex(emb, "ivf_idx_test_capped", buckets = 4, maxBucket = 16)
    try {
      val direct = Similarity.ivfTopKNeighbors(emb, 3)
        .as[(Long, Long, Long)].collect().toSet
      Seq("ivf_idx_test", "ivf_idx_test_capped").foreach { t =>
        val viaIndex = Similarity.searchIvfIndex(spark, t, 3)
        // build paid the assignment+gather shuffle (and, for the capped
        // index, the shard-factor counts); search reads co-located posting
        // lists off the bucketed layout — no Exchange in the plan even
        // across the shard grid and the cross-shard rank merge
        val p = viaIndex.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange"), s"$t: $p")
        assert(viaIndex.as[(Long, Long, Long)].collect().toSet == direct, t)
      }
      // the capped index really is sharded (some m > 1), so the equality
      // above exercised the cross-shard merge, not just the m=1 degenerate
      assert(spark.table("ivf_idx_test_capped").filter(col("m") > 1).count() > 0)
    } finally Seq("ivf_idx_test", "ivf_idx_test_capped")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("trained IVF centroids: recall not worse than the first-K quantizer") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    val recall = Similarity.annRecall(emb, 100)
      .select("method", "n_correct").as[(String, Long)].collect().toMap
    // Lloyd iterations move centroids toward the data's actual density, so
    // posting lists align better with true-neighbor locality; on the test
    // corpus trained recall must at least match the deterministic first-K
    // initialization it starts from
    assert(recall("ivf_trained") >= recall("ivf"),
      s"trained ${recall("ivf_trained")} < first-K ${recall("ivf")}")
  }

  test("multi-table LSH dominates single-table: answers and similarity never worse") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    def simsOf(df: org.apache.spark.sql.DataFrame) = df
      .join(emb.select(col("vec_id"), col("embedding").as("e1")), "vec_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("e2")), "neighbor_id")
      .select(col("vec_id"), Similarity.cos("e1", "e2").as("sim"))
      .as[(Long, Double)].collect().toMap
    val single = simsOf(Similarity.lshTopNeighbor(emb))
    val multi = simsOf(Similarity.lshTopNeighborMulti(emb))
    // table 0 of the multi-table index IS the single-table index, so every
    // single-table answer exists under multi, and the winner-of-winners can
    // only be at least as similar
    single.foreach { case (v, s1) =>
      assert(multi.contains(v), s"vec $v answered by single-table but not multi")
      assert(multi(v) >= s1 - 1e-12, s"vec $v: multi ${multi(v)} < single $s1")
    }
    assert(multi.size >= single.size)
  }

  test("sequence packing: bins tile each source's token stream without gaps") {
    val docs = Seq(
      (1L, ("a " * 40).trim, "s1"),   // 40 tokens: bins 0..0
      (2L, ("b " * 40).trim, "s1"),   // starts at 40: bins 0..1
      (3L, ("c " * 60).trim, "s1"),   // starts at 80: bins 1..2
      (10L, ("d " * 5).trim, "s2"))
      .toDF("doc_id", "text", "source")
    val out = Curation.sequencePack(docs, seqLen = 64L)
      .orderBy("doc_id").collect()
    val rows = out.map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.toSeq == Seq(
      (1L, 0L, 0L, 0L, 1L),
      (2L, 40L, 0L, 1L, 2L),
      (3L, 80L, 1L, 2L, 2L),
      (10L, 0L, 0L, 0L, 1L)))
    // tiling: consecutive docs' start offsets are contiguous (no gaps)
    assert(rows(1)._2 == 40L && rows(2)._2 == 80L)
  }

  test("source mix: ppm shares sum to ~1e6 and cover only kept sources") {
    val docs = Tables.documents(spark, sfDir)
    val mix = Curation.sourceMix(docs).collect()
    val ppmSum = mix.map(_.getLong(3)).sum
    // floor division loses at most 1 ppm per source
    assert(ppmSum <= 1000000L && ppmSum >= 1000000L - mix.length)
    assert(mix.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
  }

  test("keep-best dedup picks the highest-quality cluster member") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val corpus = Dedup.withPerturbedCopies(docs)
    val best = Dedup.dedupClustersKeepBest(corpus).cache()
    // quality = token count and the perturbed twin drops one token, so a
    // pure {original, twin} cluster must keep the ORIGINAL (id < 1000000)
    val labels = Dedup.dedupClusters(corpus)
    val pureTwins = labels.groupBy("canonical_id")
      .agg(collect_set(col("doc_id")).as("members"))
      .filter(size(col("members")) === 2 &&
        expr("members[0] % 1000000 = members[1] % 1000000"))
      .select(col("canonical_id").as("cluster_id"))
    val wrong = best.join(pureTwins, "cluster_id")
      .filter(col("best_doc_id") >= 1000000L)
    assert(wrong.count() == 0)
    // the winner always carries the cluster's max quality
    val q = corpus.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("quality"))
    val maxq = Dedup.dedupClusters(corpus).join(q, "doc_id")
      .groupBy(col("canonical_id").as("cluster_id")).agg(max("quality").as("mq"))
    assert(best.join(maxq, "cluster_id")
      .filter(col("best_quality") =!= col("mq")).count() == 0)
    best.unpersist()
  }

  test("ann recall: probe2 answers everything ivf answers and is never less correct") {
    val emb = Tables.embeddings(spark, sfDir)
    CosineSimilarity.register(spark)
    val r = Similarity.annRecall(emb, 50)
      .collect().map(x => x.getString(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r("ivf_probe2")._1 >= r("ivf")._1)     // answered at least as many
    assert(r("ivf_probe2")._2 >= r("ivf")._2)     // candidate superset -> >= correct
    assert(r.values.forall { case (a, c) => c <= a }) // correct <= answered
  }

  test("pipeline keep list: only quality, canonical, language-targeted docs within budget") {
    val docs = Tables.documents(spark, sfDir)
    val keep = Curation.pipelineKeep(docs).cache()
    // language targeting
    assert(keep.filter(!col("lang").isin("en", "de")).count() == 0)
    // no kept doc is a duplicate's shadow (every kept doc is its group's canonical)
    val canon = Dedup.exact(docs).filter(!col("is_duplicate")).select("doc_id")
    assert(keep.join(canon, Seq("doc_id"), "left_anti").count() == 0)
    // per-source budget respected
    assert(keep.filter(col("cum_tokens") > 150L).count() == 0)
    // quality gate respected
    val quality = TextAnalysis.stats(docs).filter(col("is_quality")).select("doc_id")
    assert(keep.join(quality, Seq("doc_id"), "left_anti").count() == 0)
    keep.unpersist()
  }

  test("decontamination flags docs sharing shingles with the benchmark set") {
    // doc 0 is a benchmark doc (0 % 97 = 0); doc 1 copies its text verbatim,
    // doc 2 is disjoint — only doc 1 should be contaminated
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated corpus text with different words here"))
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(docs).orderBy("doc_id").collect()
    // benchmark doc itself is excluded from the output
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("is_contaminated"))
    assert(byId(1L).getAs[Long]("n_overlap") == byId(1L).getAs[Long]("n_shingles"))
    assert(!byId(2L).getAs[Boolean]("is_contaminated"))
    assert(byId(2L).getAs[Long]("n_overlap") == 0L)
  }

  test("bloom decontamination: no false negatives vs exact, counts upper-bound") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Curation.decontaminate(docs)
      .select("doc_id", "n_overlap").as[(Long, Long)].collect().toMap
    val bloom = Curation.decontaminateBloom(docs)
      .select("doc_id", "n_overlap").as[(Long, Long)].collect().toMap
    assert(bloom.keySet == exact.keySet) // same corpus accounting
    // bit-OR sketch can only ADD hits: every exact overlap is a bloom
    // overlap, so no truly contaminated doc can ever be missed
    exact.foreach { case (id, n) =>
      assert(bloom(id) >= n, s"doc $id: bloom ${bloom(id)} < exact $n")
    }
    // the auto-sized sketch (~10 bits/estItem, estItems default 100k vs
    // ~10k actual shingles) keeps the fp rate ~0: counts match
    val inflated = exact.count { case (id, n) => bloom(id) != n }
    assert(inflated <= exact.size / 100, s"$inflated docs inflated by fp")
    // the per-invocation sketch view must not leak into the session
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_decontaminate_bloom")))
  }

  test("bloom-pruned exact decontamination is bit-identical to the exact path") {
    // the production composition: sketch probe as a lossless pre-filter,
    // exact adjudication join on survivors — output must equal decontaminate
    // EXACTLY (this is what makes ext_decontaminate_bloom hash-checkable
    // against the exact-path DuckDB SQL). A tiny sketch (2^10 bits, forced
    // false positives) must not change the output either: fp shingles fail
    // the exact join.
    val docs = Tables.documents(spark, sfDir)
    val exact = Curation.decontaminate(docs).collect().map(_.toString).sorted.toSeq
    val pruned = Curation.decontaminateBloomExact(docs).collect().map(_.toString).sorted.toSeq
    assert(pruned == exact)
    val tiny = Curation.decontaminateBloomExact(docs, numBits = 1L << 10)
      .collect().map(_.toString).sorted.toSeq
    assert(tiny == exact, "false positives leaked through the exact adjudication join")
  }

  test("oov rate: rare tokens score as OOV against the corpus top-K vocab") {
    val docs = (1L to 10L).map(i => (i, s"common common zzz$i")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, vocabSize = 1).orderBy("doc_id").collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == 3L)
      assert(r.getAs[Long]("n_oov") == 1L) // the zzz singleton; 'common' is top-1
      assert(r.getAs[Long]("oov_pct") == 33L)
    }
  }

  test("repetition profile: degenerate repeat is flagged, varied text is not") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"), // one bigram repeated 5x
      (2L, "each word here appears exactly once total"),
      (3L, "solo")) // < 2 tokens: no bigrams, never repetitive
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("n_2grams") == 5L)
    assert(byId(1L).getAs[Long]("top_2gram_count") == 5L)
    assert(byId(1L).getAs[Boolean]("is_repetitive"))
    assert(byId(1L).getAs[Long]("n_dup_tokens") == 5L)
    assert(byId(2L).getAs[Long]("top_2gram_count") == 1L)
    assert(!byId(2L).getAs[Boolean]("is_repetitive"))
    assert(byId(2L).getAs[Long]("n_repeated_2grams") == 0L)
    assert(byId(3L).getAs[Long]("n_2grams") == 0L)
    assert(!byId(3L).getAs[Boolean]("is_repetitive"))
  }

  test("lm novelty: model-half bigrams score familiar, held-out novelty flagged") {
    val docs = Seq(
      (0L, "the quick brown fox jumps"),       // model half
      (2L, "the quick brown fox jumps"),       // model half, same bigrams
      (1L, "the quick brown fox jumps"),       // held-out, fully seen
      (3L, "zyx wvu tsr qpo"),                 // held-out, fully unseen
      (5L, "solo"),                            // < 2 tokens: zero row
      (7L, "the quick brown fox zz"))          // 3 of 4 bigrams seen
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmNovelty(docs).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // doc 0: 4 bigrams, each with model count 2 (docs 0 and 2) -> mass 8
    assert(byId(0L).getAs[Long]("n_bigrams") == 4L)
    assert(byId(0L).getAs[Long]("n_unseen") == 0L)
    assert(byId(0L).getAs[Long]("model_mass") == 8L)
    assert(!byId(0L).getAs[Boolean]("is_novel"))
    // held-out twin of the model docs: fully familiar
    assert(byId(1L).getAs[Long]("n_unseen") == 0L)
    assert(byId(1L).getAs[Long]("model_mass") == 8L)
    // fully unseen doc: 3 bigrams, all unseen, novel
    assert(byId(3L).getAs[Long]("n_bigrams") == 3L)
    assert(byId(3L).getAs[Long]("n_unseen") == 3L)
    assert(byId(3L).getAs[Long]("model_mass") == 0L)
    assert(byId(3L).getAs[Boolean]("is_novel"))
    // bigram-less doc survives as an all-zero non-novel row
    assert(byId(5L).getAs[Long]("n_bigrams") == 0L)
    assert(!byId(5L).getAs[Boolean]("is_novel"))
    // 1 unseen of 4 = 25% > 20% threshold -> novel
    assert(byId(7L).getAs[Long]("n_unseen") == 1L)
    assert(byId(7L).getAs[Boolean]("is_novel"))
  }

  test("domain rollup counts links and distinct docs per injected domain") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val out = Curation.domainStats(Curation.withUrlsInjected(docs))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("n_links"))).toList
    val n = docs.count()
    // every doc contributes exactly 2 links (one https site, one http mirror)
    assert(rows.map(_._3).sum == 2 * n)
    // injected domains only, and each doc counted once per domain
    assert(rows.forall { case (d, nd, nl) =>
      (d.startsWith("site") || d.startsWith("mirror")) && nd == nl })
  }

  test("frame sampling is byte-indexed, not char-indexed, for multi-byte payloads") {
    // 100 'é' (2 bytes each in UTF-8) = 200 bytes but 100 chars: byte framing
    // gives ceil(200/64) = 4 frames (sampled idx 0), char framing would give
    // ceil(100/64) = 2. Also check the frame hash is over the byte slice.
    val docs = Seq((1L, "é" * 100)).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(spark, Multimodal.asMedia(docs), stride = 1)
      .orderBy("frame_idx").collect()
    assert(out.length == 4)
    val expected0 = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(("é" * 100).getBytes("UTF-8").take(64)).map("%02x".format(_)).mkString
    }
    assert(out.head.getString(2) == expected0)
  }

  test("kmeans train step: every vector counted once, centroids own themselves") {
    CosineSimilarity.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val out = Similarity.ivfTrainStep(emb)
    // each occupied cluster emits all 64 dims with a constant member count
    val perCluster = out.groupBy("cluster_id")
      .agg(countDistinct("dim").as("nd"), countDistinct("n_members").as("nm"),
        first("n_members").as("members"))
      .collect()
    assert(perCluster.forall(r => r.getAs[Long]("nd") == 64 && r.getAs[Long]("nm") == 1))
    // every centroid assigns to itself (cos=1), so no cluster is empty
    assert(perCluster.length == Similarity.IvfClusters)
    // assignment is a partition: member counts sum to the corpus size
    assert(perCluster.map(_.getAs[Long]("members")).sum == n)
  }

  test("media resize and feature extraction: deterministic stub, real schemas") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir).limit(20))
    val rs = Multimodal.resize(spark, media, 224, 224).collect()
    assert(rs.length == 20)
    assert(rs.forall(r => r.getAs[Long]("w_out") == 224 &&
      r.getAs[Long]("n_bytes_out") == 224L * 224 * 3))
    // resized hash differs from the raw content hash (the target dims are
    // folded into the stub encode) and w_in matches the decoder's stub
    val meta = Multimodal.decodeMeta(spark, media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rs.foreach { r =>
      val m = meta(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("w_in") == m.getAs[Long]("width"))
      assert(r.getAs[String]("resized_hash") != m.getAs[String]("content_hash"))
    }
    val fs = Multimodal.extractFeatures(spark, media).collect()
    assert(fs.length == 20)
    fs.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Long]]("features")
      assert(f.length == Multimodal.NumFeatures)
      assert(f.forall(x => x >= 0 && x <= 0xffffL))
    }
    // determinism across runs
    val fs2 = Multimodal.extractFeatures(spark, media).collect()
    assert(fs.map(_.toString).sorted.toSeq == fs2.map(_.toString).sorted.toSeq)
  }

  test("boilerplate removal: injected footers flagged, original text survives") {
    val docs = Tables.documents(spark, sfDir)
    val out = Curation.boilerplate(Curation.withBoilerplateInjected(docs))
    val n = docs.count()
    assert(out.count() == n)
    // the universal footer is corpus-wide, so every doc has boilerplate
    assert(out.filter(col("n_boilerplate") >= 1).count() == n)
    assert(out.filter(col("n_kept") + col("n_boilerplate") =!= col("n_sentences")).count() == 0)
    // docs whose text is corpus-unique (and period-free, so it stays one
    // sentence) must come back EXACTLY as their normalized original —
    // the removal reconstructs, not just counts. n_kept == 1 additionally
    // guards the latent case of a unique RAW text whose NORMALIZED sentence
    // coincides with corpus boilerplate (then the doc's own sentence is
    // removed and the reconstruction is rightly empty)
    val uniq = Dedup.exact(docs).filter(col("group_size") === 1).select("doc_id")
    val expect = docs.join(uniq, "doc_id")
      .filter(!col("text").contains(". "))
      .select(col("doc_id"),
        graft.functions.Exact.md5Hash60(TextAnalysis.normalized(col("text"))).as("h"))
    val checked = out.filter(col("n_kept") === 1).join(expect, "doc_id")
    assert(checked.count() > 0)
    assert(checked.filter(col("kept_hash") =!= col("h")).count() == 0)
  }

  test("boilerplate accounts for zero-sentence docs with an all-zero row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta. all rights reserved"),
      (2L, "gamma delta. all rights reserved"),
      (3L, "epsilon zeta. all rights reserved"),
      (4L, ""),        // normalizes to zero sentences
      (5L, "     "))   // space-only: also zero sentences (NB: tabs would
                       // survive `trim` and normalize to a " " sentence —
                       // the shared normalized()/oracle NORM only folds
                       // INTERIOR whitespace and only trims spaces)
      .toDF("doc_id", "text")
    val out = Curation.boilerplate(docs).orderBy("doc_id").collect()
    // every input doc_id is accounted for, including the empty ones
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val empties = out.filter(r => r.getAs[Long]("doc_id") >= 4L)
    empties.foreach { r =>
      assert(r.getAs[Long]("n_sentences") == 0L)
      assert(r.getAs[Long]("n_boilerplate") == 0L)
      assert(r.getAs[Long]("n_kept") == 0L)
      assert(!r.getAs[Boolean]("is_mostly_boilerplate"))
    }
    // kept_text for a zero-sentence doc is "" — same hash as an all-removed doc
    val emptyHash = empties.head.getAs[Long]("kept_hash")
    assert(empties.forall(_.getAs[Long]("kept_hash") == emptyHash))
  }

  test("collocations: hand-computed PMI-lift scores, top-k plan shape") {
    // "x y x y x y": bigrams (x,y)x3, (y,x)x2; unigrams x:3 y:3, N=6
    // score(x,y) = floor(3*6*1e6/9) = 2000000; (y,x) = floor(2*6*1e6/9)
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, minCount = 2, topK = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("x", "y", 3L, 2000000L), ("y", "x", 2L, 1333333L)))
    // top-k plans as TakeOrderedAndProject, never a global sort; the
    // checkpointed unigram aggregate caps the corpus at TWO parquet scans
    // (pair pass + unigram pass), not one per unigram consumer
    val plan = TextAnalysis.collocations(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    assert("Scan parquet".r.findAllIn(plan).size <= 2, plan.take(600))
  }

  test("vocab top-k is tf-sorted and bounded; df never exceeds tf") {
    val out = TextAnalysis.vocabTop(Tables.documents(spark, sfDir), 20).collect()
    assert(out.length == 20)
    val tfs = out.map(_.getAs[Long]("tf")).toSeq
    assert(tfs == tfs.sortBy(-_))
    assert(out.forall(r => r.getAs[Long]("df") >= 1 && r.getAs[Long]("df") <= r.getAs[Long]("tf")))
  }

  test("quality classifier: logit is the exact hashed-weight sum; empty doc scores 0") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "  "))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.qualityClassifier(docs).orderBy("doc_id").collect()
    // expected weight per token, computed independently of the operator
    def w(tok: String): Long = {
      val h = spark.sql(
        s"SELECT cast(conv(substring(md5('$tok'), 1, 15), 16, 10) as bigint)")
        .head().getLong(0)
      h % TextAnalysis.ClassifierBuckets % TextAnalysis.ClassifierMod -
        TextAnalysis.ClassifierMod / 2
    }
    assert(rows(0).getAs[Long]("n_tokens") == 3L)
    assert(rows(0).getAs[Long]("logit") == 2 * w("alpha") + w("beta"))
    assert(rows(0).getAs[Boolean]("is_quality") == (2 * w("alpha") + w("beta") > 0))
    // empty / whitespace-only docs: zero tokens, zero logit, not-quality
    Seq(rows(1), rows(2)).foreach { r =>
      assert(r.getAs[Long]("n_tokens") == 0L)
      assert(r.getAs[Long]("logit") == 0L)
      assert(!r.getAs[Boolean]("is_quality"))
    }
  }

  test("quota sample: exactly min(per, stratum size) rows per source, hash-ranked") {
    val docs = Tables.documents(spark, sfDir)
    val per = 5
    val out = Curation.quotaSample(docs, per).collect()
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource.keySet == sizes.keySet)
    bySource.foreach { case (src, rs) =>
      assert(rs.length == math.min(per.toLong, sizes(src)))
      // ranks are 1..n and follow (h, doc_id) order
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to rs.length).toSeq)
      val keys = sorted.map(r => (r.getAs[Long]("h"), r.getAs[Long]("doc_id"))).toSeq
      assert(keys == keys.sorted)
    }
    // determinism: same input → identical sample
    val again = Curation.quotaSample(docs, per).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("winnowing: shared long run guarantees a common fingerprint; set summaries consistent") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two three four $shared five six"),
      (3L, "completely different words with no overlap here at all"),
      (4L, "tiny")) // < 3 tokens → single whole-text shingle → one window
      .toDF("doc_id", "text")
    // recompute each doc's winnowing fingerprint SET independently (plain
    // Scala over the same shingle/hash/window definitions)
    def fpSet(text: String): Set[Long] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val shingles =
        if (toks.length < 3) Seq(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      val hs = shingles.map(graft.functions.HashKernels.md5Hash60)
      val w = TextAnalysis.WinnowWindow
      (0 to math.max(hs.length - w, 0)).map(j => hs.slice(j, j + w).min).toSet
    }
    val rows = TextAnalysis.winnowing(docs).orderBy("doc_id").collect()
    rows.foreach { r =>
      val expect = fpSet(docs.filter(col("doc_id") === r.getAs[Long]("doc_id"))
        .head().getString(1))
      assert(r.getAs[Long]("n_fp") == expect.size.toLong)
      assert(r.getAs[Long]("fp_low") == expect.min)
      assert(r.getAs[Long]("fp_high") == expect.max)
      assert(r.getAs[Long]("fp_xor") == expect.foldLeft(0L)(_ ^ _))
    }
    // the MOSS guarantee: docs 1 and 2 share a 12-token run (>= w + 2), so
    // their fingerprint sets intersect; doc 3 shares nothing with either
    val s1 = fpSet(docs.filter(col("doc_id") === 1L).head().getString(1))
    val s2 = fpSet(docs.filter(col("doc_id") === 2L).head().getString(1))
    val s3 = fpSet(docs.filter(col("doc_id") === 3L).head().getString(1))
    assert((s1 & s2).nonEmpty)
    assert((s1 & s3).isEmpty && (s2 & s3).isEmpty)
  }

  test("corpus diff: added/removed/changed/unchanged statuses are exact") {
    val prev = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val cur = Seq(
      (1L, "alpha beta"),          // unchanged
      (2L, "  GAMMA   delta  "),   // cosmetic only → unchanged (normalized identity)
      (4L, "brand new doc"))       // added; doc 3 removed
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(prev, cur).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "removed", 4L -> "added"))
    // a real content change flags as changed
    val cur2 = Seq((1L, "alpha beta plus more")).toDF("doc_id", "text")
    val got2 = Curation.corpusDiff(prev.filter(col("doc_id") === 1L), cur2)
      .collect().map(_.getAs[String]("status")).toSeq
    assert(got2 == Seq("changed"))
  }

  test("tfidf keywords: ranks are 1..k per doc in (tf desc, df asc) order") {
    val rows = TextAnalysis.tfidfKeywords(Tables.documents(spark, sfDir).limit(50), 3)
      .orderBy("doc_id", "rank").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).toSeq.sorted == (1L to rs.length).toSeq)
      rs.sortBy(_.getAs[Long]("rank")).sliding(2).foreach {
        case Array(a, b) =>
          val (ta, da) = (a.getAs[Long]("tf"), a.getAs[Long]("df"))
          val (tb, db) = (b.getAs[Long]("tf"), b.getAs[Long]("df"))
          assert(ta > tb || (ta == tb && da <= db))
        case _ =>
      }
    }
  }

  test("containment: pasted benchmark flags a LONG page that Jaccard misses") {
    // benchmark doc pasted verbatim into a much longer page: containment
    // C(A->B) = 100%, Jaccard ~ |A|/|B| << tau — the asymmetric case the
    // operator exists for
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 40).map(i => s"filler$i word$i noise$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$filler $bench $filler"),       // contains the benchmark
      (2L, "totally unrelated content here"), // doesn't
      (3L, bench))                            // exact copy
      .toDF("doc_id", "text")
    val queries = Seq((900L, bench)).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(queries, corpus, tauPpm = 600000L)
      .orderBy("doc_id")
      .select("q_id", "doc_id", "c_ppm").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((900L, 1L, 1000000L), (900L, 3L, 1000000L)))
    // the same pair is INVISIBLE to symmetric Jaccard at any usable tau:
    // doc 1's shingle set dwarfs the benchmark's
    val j = Dedup.jaccardJoin(
      Seq((900L, bench), (1L, s"$filler $bench $filler")).toDF("doc_id", "text"),
      tauPpm = 600000L).collect()
    assert(j.isEmpty)
  }

  test("containment: partial overlap below tau is dropped by the verify") {
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // 8 shingles in the query, only 2 shared ("one two three" prefix run)
    // -> containment 25% < 60%: candidate generated (shared rare
    // shingle), then verified OUT
    val queries = Seq(
      (900L, "one two three four xx yy zz ww vv uu tt ss"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentJoin(queries, corpus, tauPpm = 600000L).collect()
    assert(out.isEmpty)
    // same universes at tau=20%: the pair now qualifies, and n_common
    // counts exactly the shared shingle run
    val low = Dedup.containmentJoin(queries, corpus, tauPpm = 200000L)
      .select("q_id", "doc_id", "n_common", "n_q")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(low == Seq((900L, 1L, 2L, 10L)))
  }

  test("containment: corpus-unseen query shingles count in n_q, never match") {
    // every query shingle is OOV except one: n_q must still be the FULL
    // distinct count (the denominator a decontamination audit reports)
    val corpus = Seq((1L, "shared run here and more text")).toDF("doc_id", "text")
    val queries = Seq((900L, "shared run here qq rr ss")).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(queries, corpus, tauPpm = 250000L)
      .select("q_id", "doc_id", "n_common", "n_q")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // query shingles: 4 distinct ("shared run here", "run here qq",
    // "here qq rr", "qq rr ss"); only the first exists in the corpus
    assert(out == Seq((900L, 1L, 1L, 4L)))
  }

  test("containment: cached-index probe equals the self-contained form") {
    // the TrainedStore-backed path (build once, probe many) must be
    // indistinguishable from decontaminationContainment — the build is
    // deterministic (total-order vocab rank), so a persisted artifact
    // answers bit-identically
    val documents = Tables.documents(spark, sfDir)
    val idx = TrainedStore.cachedMulti(spark, s"$sfDir-containment-idx-spec")(
      w => Dedup.buildContainmentIndex(
        documents.filter(col("doc_id") % 3 === 0), w))
    assert(idx.keySet == Set("vocab", "postings", "ctoks"))
    val cached = Dedup.containmentProbe(Dedup.benchmarkHalves(documents),
        idx("vocab"), idx("postings"), idx("ctoks"))
      .orderBy("q_id", "doc_id").collect().toSeq
    val inline = Dedup.decontaminationContainment(documents)
      .orderBy("q_id", "doc_id").collect().toSeq
    assert(cached.nonEmpty && cached == inline)
  }

  test("jaccard/containment: above-budget vocab shuffles, answers identical") {
    // broadcastVocabMaxRows = 0 forces every vocab join onto the shuffle
    // path (what a 10⁸-row web-scale vocabulary takes); the result SET
    // must not move — the gate is a physical-plan decision only
    val documents = Tables.documents(spark, sfDir)
    val docsJ = documents.filter(col("doc_id") % 7 === 0)
    val hinted = Dedup.jaccardJoin(docsJ).orderBy("doc_a", "doc_b").collect().toSeq
    val gated = Dedup.jaccardJoin(docsJ, broadcastVocabMaxRows = 0)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(hinted.nonEmpty && gated == hinted)
    val corpus = documents.filter(col("doc_id") % 3 === 0)
    val q = Dedup.benchmarkHalves(documents)
    val ch = Dedup.containmentJoin(q, corpus).orderBy("q_id", "doc_id").collect().toSeq
    val cg = Dedup.containmentJoin(q, corpus, broadcastVocabMaxRows = 0)
      .orderBy("q_id", "doc_id").collect().toSeq
    assert(ch.nonEmpty && cg == ch)
  }

  test("fuzzy: delete neighborhood is the term plus every single deletion") {
    val out = Seq(Tuple1("abc")).toDF("q_term")
      .select(Fuzzy.deleteNeighborhood("q_term"))
      .as[Seq[String]].head()
    assert(out.toSet == Set("abc", "bc", "ac", "ab"))
    // doubled character: both deletions collapse to one variant
    val dd = Seq(Tuple1("aab")).toDF("q_term")
      .select(Fuzzy.deleteNeighborhood("q_term"))
      .as[Seq[String]].head()
    assert(dd.toSet == Set("aab", "ab", "aa"))
  }

  test("fuzzy match: insert/delete/substitute hit, transposition verified OUT") {
    val dict = Seq("table scan fast", "merge join slow").toDF("term")
    val queries = Seq(
      (1L, "table scan fast"),   // exact (dist 0)
      (2L, "tble scan fast"),    // deletion in query
      (3L, "table sscan fast"),  // insertion in query
      (4L, "table scan fasq"),   // substitution
      (5L, "tabel scan fast"),   // transposition = dist 2: shares a
                                 // delete key, the verify must drop it
      (6L, "window sort limit")) // unrelated
      .toDF("doc_id", "q_term")
    val out = Fuzzy.fuzzyMatch(queries, dict)
      .orderBy("doc_id")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "table scan fast", "table scan fast", 0L),
      (2L, "tble scan fast", "table scan fast", 1L),
      (3L, "table sscan fast", "table scan fast", 1L),
      (4L, "table scan fasq", "table scan fast", 1L)))
  }

  test("fuzzy match: blocked join equals brute-force levenshtein (differential)") {
    // adversarial mini-universe: chains of distance-1 neighbors, repeats,
    // shared deletions — every pair within distance 1 must surface
    val universe = Seq("abcd", "abc", "abd", "acd", "bcd", "abcde",
      "xbcd", "axcd", "abxd", "abcx", "wxyz", "abab", "baba")
    val dict = universe.toDF("term")
    val queries = universe.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "q_term")
    val got = Fuzzy.fuzzyMatch(queries, dict)
      .select("doc_id", "dict_term").as[(Long, String)].collect().toSet
    val want = (for {
      (q, i) <- universe.zipWithIndex; d <- universe
      if levenshteinDist(q, d) <= 1
    } yield (i.toLong, d)).toSet
    assert(got == want)
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("fuzzy d2: del_keys kernel equals the SQL neighborhood form (sets)") {
    // the native kernel (code-point deletions, hash-set dedup) must be
    // element-set equal to the nested-transform SQL form it replaced —
    // doubled characters, repeats, short strings, and non-ASCII BMP all
    // covered; order is irrelevant to the equi-join consumers
    graft.functions.DeleteNeighborhoodKeys.register(spark)
    val terms = Seq("abc", "aab", "abab", "a", "ab", "héllo wörld",
      "table scan fast", "xxxxxx", "merge join")
    terms.foreach { t =>
      val df = Seq(Tuple1(t)).toDF("term")
      val sql2 = df.select(Fuzzy.deleteNeighborhood2("term"))
        .as[Seq[String]].head().toSet
      val k2 = df.select(expr("del_keys(term, 2)"))
        .as[Seq[String]].head().toSet
      assert(k2 == sql2, s"d2 mismatch on '$t'")
      val sql1 = df.select(Fuzzy.deleteNeighborhood("term"))
        .as[Seq[String]].head().toSet
      val k1 = df.select(expr("del_keys(term, 1)"))
        .as[Seq[String]].head().toSet
      assert(k1 == sql1, s"d1 mismatch on '$t'")
    }
  }

  test("fuzzy d2: two-edit slips hit, distance-3 verified OUT") {
    val dict = Seq("table scan fast", "merge join slow").toDF("term")
    val queries = Seq(
      (1L, "tabel scan fast"),   // transposition = dist 2: the d1 family
                                 // drops it, d2 must FIND it
      (2L, "tble scan fas"),     // two deletions
      (3L, "tablee sscan fast"), // two insertions
      (4L, "tible scen fast"),   // two substitutions
      (5L, "tble scn fas"),      // three deletions: candidate keys may
                                 // collide, the verify must drop it
      (6L, "window sort limit")) // unrelated
      .toDF("doc_id", "q_term")
    val out = Fuzzy.fuzzyMatch2(queries, dict)
      .orderBy("doc_id")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "tabel scan fast", "table scan fast", 2L),
      (2L, "tble scan fas", "table scan fast", 2L),
      (3L, "tablee sscan fast", "table scan fast", 2L),
      (4L, "tible scen fast", "table scan fast", 2L)))
  }

  test("fuzzy d2: blocked join equals brute-force levenshtein<=2 (differential)") {
    // ≥ MinTermLen2-char universe: chains of 1- and 2-edit neighbors,
    // repeats, shared 2-deletions — every pair within distance 2 must
    // surface, nothing past it
    val universe = Seq("abcdef", "abcde", "abcd".padTo(6, 'f'), "abcdeg",
      "abcdfg", "abdcef", "bacdef", "abcdefgh", "abcdxy", "xycdef",
      "wxyzuv", "ababab", "bababa", "aabcdef", "abcddef")
    val dict = universe.toDF("term")
    val queries = universe.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "q_term")
    val got = Fuzzy.fuzzyMatch2(queries, dict)
      .select("doc_id", "dict_term").as[(Long, String)].collect().toSet
    val want = (for {
      (q, i) <- universe.zipWithIndex; d <- universe
      // the MinTermLen2 floor is part of the operator's declared universe
      if q.length >= Fuzzy.MinTermLen2 && d.length >= Fuzzy.MinTermLen2 &&
        levenshteinDist(q, d) <= 2
    } yield (i.toLong, d)).toSet
    assert(got == want)
  }

  test("fuzzy index: admission sums ACROSS layers (df-rederive posture)") {
    // the shingle "rare term here" appears ONCE in the base and ONCE in
    // the delta batch: below DictMinCount=2 in each layer alone, admitted
    // on the summed total — the probe must match it. "only base once"
    // stays at total 1 and must NOT match.
    val base = Seq((1L, "rare term here plus base pad")).toDF("doc_id", "text")
    val delta = Seq((2L, "rare term here plus delta pad")).toDF("doc_id", "text")
    val name = "graft_fuzzy_cross_t"
    val dir = TestSpark.managedTempDir("fuzzycross")
    Fuzzy.buildFuzzyIndexGen(base, name)
    Fuzzy.appendFuzzyBatch(delta, s"$dir/d", 0L)
    val queries = Seq(
      (900L, "rare term herq"),   // 1 edit from the cross-layer shingle
      (901L, "plus base pxd"))    // 1 edit from a base-only (count 1) shingle
      .toDF("doc_id", "q_term")
    // base-only probe: total counts are 1 everywhere -> nothing admitted
    assert(Fuzzy.fuzzyAgainstIndexWith(spark, queries, name).collect().isEmpty)
    // base ∪ delta: the shared shingle crosses the threshold
    val got = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name, Some(s"$dir/d"))
      .select("doc_id", "dict_term").as[(Long, String)].collect().toSeq
    assert(got == Seq((900L, "rare term here")))
  }

  test("fuzzy d2 index: cross-layer admission and radius-2 probe") {
    // same df-rederive posture at edit radius 2: a shingle split across
    // base and delta (count 1 each) is admitted on the summed total and
    // must match a TWO-edit query; a three-edit query must not match
    val base = Seq((1L, "rare term here plus base pad")).toDF("doc_id", "text")
    val delta = Seq((2L, "rare term here plus delta pad")).toDF("doc_id", "text")
    val name = "graft_fuzzy2_cross_t"
    val dir = TestSpark.managedTempDir("fuzzy2cross")
    Fuzzy.buildFuzzyIndexGen(base, name, maxEdits = 2)
    Fuzzy.appendFuzzyBatch(delta, s"$dir/d", 0L, maxEdits = 2)
    val queries = Seq(
      (900L, "rare term hxrq"),   // 2 edits from the cross-layer shingle
      (901L, "rare texm hxrq"))   // 3 edits: keys may collide, verify drops
      .toDF("doc_id", "q_term")
    assert(Fuzzy.fuzzyAgainstIndexWith(spark, queries, name,
      maxEdits = 2).collect().isEmpty)
    val got = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name,
        Some(s"$dir/d"), maxEdits = 2)
      .select("doc_id", "dict_term", "dist").as[(Long, String, Long)]
      .collect().toSeq
    assert(got == Seq((900L, "rare term here", 2L)))
  }

  test("fuzzy index radius is persisted state: mismatched probe fails fast") {
    // the radius is part of the index's identity — a d1 probe on a d2
    // index misses the length-4/5 dictionary tail, a d2 probe on a d1
    // index has no del<=2 keys to meet: both are silently-lossy wrong
    // answers, so the probe must fail fast instead
    val docsDf = Seq(
      (1L, "alpha beta gamma tail one"),
      (2L, "alpha beta gamma tail two")).toDF("doc_id", "text")
    val name = "graft_fuzzy_radius_t"
    Fuzzy.buildFuzzyIndexGen(docsDf, name, buckets = 2, maxEdits = 2)
    try {
      assert(Fuzzy.indexRadius(spark, name) == 2)
      val queries = Seq((900L, "alpha beta gamqa")).toDF("doc_id", "q_term")
      val err = intercept[IllegalArgumentException](
        Fuzzy.fuzzyAgainstIndexWith(spark, queries, name)) // default radius 1
      assert(err.getMessage.contains("edit radius"))
      // the matched-radius probe answers: two edits from the base shingle
      val got = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name, maxEdits = 2)
        .select("dict_term").as[String].collect().toSeq
      assert(got == Seq("alpha beta gamma"))
      // the radius travels with every fold: the folded keys generation's
      // manifest is the source's with only the watermark replaced
      val deltaDir = s"${managedTempDir("fuzzyradius")}/d"
      Fuzzy.appendFuzzyBatch(Seq((3L, "alpha beta gamma tail three"))
        .toDF("doc_id", "text"), deltaDir, 0L, maxEdits = 2)
      Fuzzy.compactFuzzyIndexGen(spark, name, deltaDir, buckets = 2)
      val b = graft.sources.Bucketing
      assert(b.manifestOf(spark, b.resolvePhysical(spark, name)) ==
        b.Manifest(foldedBatchMax = 0L, maxEdits = 2))
      assert(Fuzzy.fuzzyAgainstIndexWith(spark, queries, name, maxEdits = 2)
        .select("dict_term").as[String].collect().toSeq == got)
    } finally Seq(name, s"${name}_cnt").foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS $t")
      Seq(1, 2).foreach(graft.sources.Bucketing.dropGeneration(spark, t, _))
    }
  }

  /** Asserts that a probe, a maintenance-loop append and a fold of fuzzy
    * index `name` each fail with a rebuild instruction naming `why`, and
    * that the failed append wrote nothing.
    */
  private def assertFuzzyRefused(name: String, why: String): Unit = {
    import org.apache.spark.sql.types._
    val root = managedTempDir("fuzzyrefused")
    def refused(e: Throwable): Unit = {
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(why) && m.contains("rebuild")),
        msgs.mkString(" | "))
    }
    refused(intercept[IllegalArgumentException](Fuzzy.fuzzyAgainstIndexWith(
      spark, Seq((900L, "alpha beta gamqa")).toDF("doc_id", "q_term"), name)))
    Seq((10L, "stream only shingle first pad")).toDF("doc_id", "text")
      .write.parquet(s"$root/src")
    val q = Fuzzy.maintainFuzzyDictionary(
      spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(s"$root/src"),
      name, s"$root/delta", s"$root/ckpt")
    try refused(intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable()))
    finally q.stop()
    assert(!new java.io.File(s"$root/delta").exists())
    refused(intercept[IllegalArgumentException](
      Fuzzy.compactFuzzyIndexGen(spark, name, s"$root/delta", buckets = 2)))
  }

  test("fuzzy index without a persisted radius fails loudly at probe, append and fold") {
    // the two older on-disk shapes: a keys manifest without the radius
    // column (the radius then lived in a separate sibling table) and no
    // keys manifest at all. Guessing radius 1 would let a maintenance
    // loop append d1 keys to a d2 index — every streamed term silently
    // unreachable at the probe radius
    val b = graft.sources.Bucketing
    val name = "graft_fuzzy_noradius_t"
    Fuzzy.buildFuzzyIndexGen(
      Seq((1L, "alpha beta gamma tail one"),
        (2L, "alpha beta gamma tail two")).toDF("doc_id", "text"),
      name, buckets = 2, maxEdits = 2)
    try {
      val meta = s"${b.resolvePhysical(spark, name)}_meta"
      b.dropWithLocation(spark, meta)
      Seq((-1L, 0)).toDF("folded_batch_max", "max_bucket").write.saveAsTable(meta)
      assertFuzzyRefused(name, "no edit radius")
      b.dropWithLocation(spark, meta)
      assertFuzzyRefused(name, "no edit radius")
    } finally Seq(name, s"${name}_cnt").foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS $t")
      b.dropGeneration(spark, t, 1)
    }
  }

  test("fuzzy index with string keys fails loudly at probe, append and fold") {
    // a generation in the pre-hash key encoding: the delete-neighborhood
    // strings themselves. Hashed probe keys would join it to nothing and
    // silently drop the whole base dictionary
    val b = graft.sources.Bucketing
    val name = "graft_fuzzy_strkey_t"
    val (keys, cnt) = (b.generationName(name, 1), b.generationName(s"${name}_cnt", 1))
    b.writeBucketed(Seq(("alpha beta gamma", "alpha beta gamma"))
      .toDF("k", "term"), keys, "k", 2)
    b.writeBucketed(Seq(("alpha beta gamma", 2L)).toDF("term", "cnt"), cnt, "term", 2)
    b.writeMeta(spark, keys, b.Manifest(maxEdits = 1))
    b.swapView(spark, name, keys)
    b.swapView(spark, s"${name}_cnt", cnt)
    try assertFuzzyRefused(name, "xxhash64")
    finally Seq(name, s"${name}_cnt").foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS $t")
      b.dropGeneration(spark, t, 1)
    }
  }

  test("d2 maintenance loop appends del<=2 keys (radius read from the index)") {
    // the loop takes NO radius parameter — it reads the index's persisted
    // radius per batch; a hard-coded d1 append would make every streamed
    // term unreachable at the probe radius (no del<=2 keys) and this
    // two-edit query would silently return empty
    import org.apache.spark.sql.types._
    val root = TestSpark.managedTempDir("fuzzy2maint")
    val srcDir = s"$root/src"
    new java.io.File(srcDir).mkdirs()
    val name = "graft_fuzzy2_maint_t"
    Fuzzy.buildFuzzyIndexGen(
      Seq((1L, "alpha beta gamma tail one"),
        (2L, "alpha beta gamma tail two")).toDF("doc_id", "text"),
      name, buckets = 2, maxEdits = 2)
    try {
      Seq((10L, "stream only shingle first pad"),
        (11L, "stream only shingle second pad")).toDF("doc_id", "text")
        .write.mode("append").parquet(srcDir)
      val q = Fuzzy.maintainFuzzyDictionary(
        spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
          .parquet(srcDir),
        name, s"$root/delta", s"$root/ckpt")
      q.processAllAvailable(); q.stop()
      // "shinqe" is TWO edits from the streamed "shingle" (sub g->q,
      // drop l) — only matchable if the delta stored del<=2 keys
      val queries = Seq((900L, "stream only shinqe")).toDF("doc_id", "q_term")
      val got = Fuzzy.fuzzyAgainstIndexWith(spark, queries, name,
          Some(s"$root/delta"), maxEdits = 2)
        .select("dict_term", "dist").as[(String, Long)].collect().toSeq
      assert(got == Seq(("stream only shingle", 2L)))
    } finally Seq(name, s"${name}_cnt").foreach { t =>
      spark.sql(s"DROP VIEW IF EXISTS $t")
      graft.sources.Bucketing.dropGeneration(spark, t, 1)
    }
  }

  test("fuzzy index: base+delta probe equals the one-shot spellMatch") {
    val docs = Tables.documents(spark, sfDir)
    val name = "graft_fuzzy_diff_t"
    val dir = TestSpark.managedTempDir("fuzzydiff")
    Fuzzy.buildFuzzyIndexGen(docs.filter(col("doc_id") % 4 =!= 0), name)
    Fuzzy.appendFuzzyBatch(docs.filter(col("doc_id") % 4 === 0), s"$dir/d", 0L)
    val q = Fuzzy.typoQueries(docs)
    val inc = Fuzzy.fuzzyAgainstIndexWith(spark, q, name, Some(s"$dir/d"))
      .select("doc_id", "dict_term").as[(Long, String)].collect().toSet
    val oneShot = Fuzzy.fuzzyMatch(q, Fuzzy.dictionary(docs))
      .select("doc_id", "dict_term").as[(Long, String)].collect().toSet
    assert(inc == oneShot && inc.nonEmpty)
  }

  test("fuzzy rebuild over a live delta stamps the watermark — no double count") {
    // delta doc 10 carries "delta only shingle" ONCE in the whole corpus:
    // a rebuild over base+delta that left the retained delta partition
    // live would read total 1+1=2 and spuriously admit it
    val base = Seq((1L, "alpha beta gamma pad a"),
      (2L, "alpha beta gamma pad b")).toDF("doc_id", "text")
    val deltaDocs = Seq((10L, "delta only shingle pad c")).toDF("doc_id", "text")
    val name = "graft_fuzzy_rebuild_t"
    val dir = TestSpark.managedTempDir("fuzzyrebuild")
    val deltaDir = s"$dir/d"
    Fuzzy.buildFuzzyIndexGen(base, name, buckets = 2)
    Fuzzy.appendFuzzyBatch(deltaDocs, deltaDir, 0L)
    val queries = Seq((900L, "delta only shingqe"),
      (901L, "alpha beta gamqa")).toDF("doc_id", "q_term")
    def probe(): Set[(Long, String)] = Fuzzy
      .fuzzyAgainstIndexWith(spark, queries, name, Some(deltaDir))
      .select("doc_id", "dict_term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Set((901L, "alpha beta gamma"))
    assert(probe() == want)
    // quiesced rebuild over the FULL corpus, delta layer still on disk
    Fuzzy.buildFuzzyIndexGen(base.unionByName(deltaDocs), name,
      buckets = 2, deltaDir = Some(deltaDir))
    // the retained partition is stamped folded: counts not double-summed
    // ("delta only shingle" stays at total 1 — below admission)
    assert(probe() == want)
  }

  test("fuzzy cadence knob: gate shut below threshold, fold above, answers fixed") {
    val base = Seq((1L, "alpha beta gamma pad a"),
      (2L, "alpha beta gamma pad b")).toDF("doc_id", "text")
    val name = "graft_fuzzy_cadence_t"
    val dir = TestSpark.managedTempDir("fuzzycadence")
    val deltaDir = s"$dir/d"
    Fuzzy.buildFuzzyIndexGen(base, name, buckets = 2)
    Fuzzy.appendFuzzyBatch(
      Seq((10L, "gamma pad extra one x"),
        (11L, "gamma pad extra one y")).toDF("doc_id", "text"), deltaDir, 0L)
    val queries = Seq((900L, "alpha beta gamqa"),
      (901L, "gamma pad extrq")).toDF("doc_id", "q_term")
    def probe(): Set[(Long, String)] = Fuzzy
      .fuzzyAgainstIndexWith(spark, queries, name, Some(deltaDir))
      .select("doc_id", "dict_term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = probe()
    assert(before.exists(_._1 == 901L))
    // one unfolded batch, threshold 1: gate stays shut, nothing folds
    assert(!Fuzzy.compactFuzzyIfNeeded(spark, name, deltaDir, maxUnfolded = 1))
    assert(graft.sources.Bucketing.foldedBatchMax(spark, s"${name}_cnt") == -1L)
    // threshold 0: folds (buckets inherited from the build), true because
    // the watermark advanced; answers unchanged; second call gate-shut
    assert(Fuzzy.compactFuzzyIfNeeded(spark, name, deltaDir, maxUnfolded = 0))
    assert(graft.sources.Bucketing.foldedBatchMax(spark, s"${name}_cnt") == 0L)
    assert(probe() == before)
    assert(!Fuzzy.compactFuzzyIfNeeded(spark, name, deltaDir, maxUnfolded = 0))
  }

  test("fuzzy spellMatch: every injected typo finds its source shingle") {
    val out = Fuzzy.spellMatch(Tables.documents(spark, sfDir))
    // the typo'd first shingle of every doc_id%5 doc is one edit from a
    // real corpus shingle; shingles seen >=2 times are in the dictionary,
    // so a non-trivial match set must come back, every row dist<=1
    val collected = out.select("doc_id", "dist").as[(Long, Long)].collect()
    assert(collected.nonEmpty)
    assert(collected.forall(_._2 <= 1L))
  }

  test("resample OHLC: open/close picked by total (ts, event_id) order") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:30:00")
    val evs = Seq(
      // same ts for first two rows: event_id breaks the tie for open
      (11L, t0, 1L, "click", 5.0, ""),
      (10L, t0, 2L, "click", 3.0, ""),
      (12L, t1, 3L, "click", 9.0, ""),
      (13L, t1, 4L, "view", 2.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = TimeSeries.resampleOhlc(evs)
      .orderBy("event_type")
      .select("event_type", "n_events", "sum_value", "low_value",
        "high_value", "open_value", "close_value")
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out == Seq(
      ("click", 3L, 17.0, 3.0, 9.0, 3.0, 9.0),
      ("view", 1L, 2.0, 2.0, 2.0, 2.0, 2.0)))
  }

  test("gapfill: silent hours get zero counts and the last observed sum") {
    val evs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:15:00"), 1L, "click", 4.0, ""),
      // 11:00 silent
      (2L, java.sql.Timestamp.valueOf("2024-01-01 12:05:00"), 1L, "click", 6.0, ""),
      // a second series whose first observation is LATE: its leading
      // hours must stay null-filled, not inherit another series' sum
      (3L, java.sql.Timestamp.valueOf("2024-01-01 12:30:00"), 2L, "view", 1.5, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = TimeSeries.gapfillHourly(evs, cohorts = 100)
      .orderBy("cohort", "event_type", "h")
      .select("cohort", "event_type", "n_events", "filled_sum")
      .as[(Long, String, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, "click", 1L, Some(4.0)),   // 10:00
      (1L, "click", 0L, Some(4.0)),   // 11:00 gap: count 0, LOCF sum
      (1L, "click", 1L, Some(6.0)),   // 12:00
      (2L, "view", 0L, None),         // 10:00 pre-first-observation
      (2L, "view", 0L, None),         // 11:00
      (2L, "view", 1L, Some(1.5))))   // 12:00
  }

  test("profileApprox: same shape as exact profile, estimates near exact") {
    val df = Tables.documents(spark, sfDir)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val exact = Curation.profile(df, cols).orderBy("column_name")
      .as[(String, Long, Long, Long, String, String)].collect()
    val approx = Curation.profileApprox(df, cols).orderBy("column_name")
      .as[(String, Long, Long, Long, String, String)].collect()
    assert(approx.map(_._1).toSeq == exact.map(_._1).toSeq)
    exact.zip(approx).foreach { case (e, a) =>
      assert(a._2 == e._2 && a._3 == e._3, s"rows/nulls must be exact: $a vs $e")
      assert(a._5 == e._5 && a._6 == e._6, s"min/max must be exact: $a vs $e")
      // HLL++ at 5% rsd: generous 3-sigma-ish band
      assert(math.abs(a._4 - e._4) <= math.max(2L, (e._4 * 0.15).toLong),
        s"distinct estimate off: $a vs $e")
    }
    // the whole point: the approx plan has NO Expand
    val p = Curation.profileApprox(df, cols).queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), p)
  }
}
