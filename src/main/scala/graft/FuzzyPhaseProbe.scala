package graft

import org.apache.spark.sql.functions._

/** One-off diagnostics: wall per phase of the ext_fuzzy_incremental
  * lifecycle (build / append / probe), to attribute its bench cost before
  * optimizing. Mirrors the SparkEntry wiring exactly.
  */
object FuzzyPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(body: => A): A = {
      val (r, run) = Harness.measured(spark)(body)
      println(f"$tag%-10s ${run.wall}%.2f s")
      r
    }
    if (args.contains("inc2")) {
      // phase attribution for the persisted d2 probe: build once, then
      // time the probe and its pieces
      import graft.ext.Fuzzy
      val all = Tables.documents(spark, sfDir)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fuzzy2_phase").toString
      t("build") { Fuzzy.buildFuzzyIndexGen(all.filter(col("doc_id") % 6 === 0),
        "graft_fuzzy2_phase", buckets = 32, maxEdits = 2) }
      t("append") { Fuzzy.appendFuzzyBatch(all.filter(col("doc_id") % 6 === 3),
        dir, 1L, maxEdits = 2) }
      var live = -1L
      (1 to 3).foreach { rep =>
        println(s"--- inc2 rep $rep ---")
        val q = t("typoq2") { Fuzzy.typoQueries2(all).localCheckpoint(true) }
        live = t("probe") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", Some(dir), maxEdits = 2).count() }
        t("probe_nodelta") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", None, maxEdits = 2).count() }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      // compaction cadence: fold the (deliberately half-corpus-sized)
      // delta, then re-measure — the with-delta probe must RETURN TO
      // BASE-ONLY COST (every delta partition now sits at or below the
      // folded watermark and reads empty) with the answer set unchanged,
      // and the radius sibling must survive the fold (the probe's
      // maxEdits=2 require reads the NEW generation's stamp)
      t("compact") { Fuzzy.compactFuzzyIfNeeded(spark,
        "graft_fuzzy2_phase", dir, maxUnfolded = 0) }
      (1 to 3).foreach { rep =>
        println(s"--- inc2 post-compact rep $rep ---")
        val q = t("typoq2") { Fuzzy.typoQueries2(all).localCheckpoint(true) }
        val folded = t("probe") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", Some(dir), maxEdits = 2).count() }
        assert(folded == live,
          s"fold changed the d2 answer set: $folded vs $live")
        t("probe_nodelta") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", None, maxEdits = 2).count() }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      // the cycle after: the folded partitions GC (they were retained one
      // cycle for in-flight readers) — the delta listing is now empty, the
      // probe plans NO delta branches, and with-delta cost = base-only
      t("compact_gc") { graft.ext.Fuzzy.compactFuzzyIndexGen(spark,
        "graft_fuzzy2_phase", dir) }
      (1 to 3).foreach { rep =>
        println(s"--- inc2 post-gc rep $rep ---")
        val q = t("typoq2") { Fuzzy.typoQueries2(all).localCheckpoint(true) }
        val gone = t("probe") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", Some(dir), maxEdits = 2).count() }
        assert(gone == live,
          s"GC cycle changed the d2 answer set: $gone vs $live")
        t("probe_nodelta") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
          "graft_fuzzy2_phase", None, maxEdits = 2).count() }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      spark.stop()
      return
    }
    if (args.contains("match2")) {
      // phase attribution for the one-shot distance-2 match
      val all = Tables.documents(spark, sfDir)
      (1 to 3).foreach { rep =>
        println(s"--- match2 rep $rep ---")
        val q = t("typoq2") {
          graft.ext.Fuzzy.typoQueries2(all).localCheckpoint(true) }
        val dict = t("dict") {
          graft.ext.Fuzzy.dictionary(all.filter(col("doc_id") % 3 === 0))
            .localCheckpoint(true) }
        val dk = t("keys2") {
          graft.ext.Fuzzy.dictionaryKeys2(dict).localCheckpoint(true) }
        println(s"  dk rows: ${dk.count()}")
        t("joinverify") {
          graft.ext.Fuzzy.fuzzyMatch2Against(q, dk).count() }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      spark.stop()
      return
    }
    (1 to 3).foreach { rep =>
      println(s"--- rep $rep ---")
      val all = Tables.documents(spark, sfDir)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_fuzzy_phase").toString
      val buildDocs = all.filter(col("doc_id") % 3 =!= 0)
      t("build") { graft.ext.Fuzzy.buildFuzzyIndexGen(
        buildDocs, "graft_fuzzy_idx_p") }
      t("append") { graft.ext.Fuzzy.appendFuzzyBatch(
        all.filter(col("doc_id") % 3 === 0), dir, 1L, maxEdits = 1) }
      t("probe") { graft.ext.Fuzzy.fuzzyAgainstIndexWith(
        spark, graft.ext.Fuzzy.typoQueries(all), "graft_fuzzy_idx_p",
        Some(dir)).orderBy("doc_id", "dict_term").count() }
    }
    spark.stop()
  }
}
