package graft

/** Bench harness (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A small warmup runs first (Harness.warm, sf0.001) so per-query timings
  * measure steady-state engine throughput rather than JVM/class-loading/
  * codegen warmup. `graft.Bench <names>` times only the named queries
  * (warming them too) — the diagnostics loop for stage-count work: the
  * sidecar carries each query's job and stage counts.
  *
  * SELF-ATTRIBUTING: every `slow` entry carries
  * `[wall_ds, stage_exec_ds, gc_ds, n_jobs, job_wall_ds]` from the
  * median-wall run (Harness's listener sums task executorRunTime / jvmGCTime
  * over completed stages, counts job submissions, and accumulates
  * inside-job wall time between per-run snapshots). Three consecutive
  * rounds burned their top adjudication item bisecting driver-window
  * bursts because the artifact recorded wall only. Reading the tuple:
  * wall ≈ job_wall with exec comparable → genuinely priced distributed
  * work; wall ≈ job_wall but exec ≪ wall → scheduler/host burst INSIDE
  * the jobs (executors idle — the classic loud-window fingerprint);
  * wall ≫ job_wall → driver-side cost (planning/launch-bound queries
  * like the multi-method ANN harnesses — and the one regression class
  * stage-exec alone would mis-exonerate as host noise).
  */
object Bench {

  /** Warmed before every run: ann_recall warms the whole kernel/codegen
    * surface of the 8-method harness (without it the first in-suite run
    * pays the JIT spike, observed 77 ds vs 38-43 steady in the r12
    * sessions); ext_retrieval_eval the BM25 + phrase + metric codegen;
    * ext_ts_neighbors the SAX/vector kernels; ext_fuzzy_incremental the
    * generation-swap lifecycle (bucketed writes, view swaps, delta reads)
    * plus levenshtein codegen.
    */
  private val WarmQueries = Seq("a3_event_counts", "q1_pricing",
    "ext_fingerprint", "ann_brute_topk", "ext_frame_sample",
    "ext_dedup_minhash", "ann_recall", "ext_retrieval_eval",
    "ext_ts_neighbors", "ext_fuzzy_incremental")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    // ERROR, not WARN: the driver keeps only the LAST 2000 chars of output,
    // and per-query cleanup (unpersisting localCheckpoint blocks) emits a
    // WARN per block — the r9 capture shows that noise sharing the tail
    // window with the JSON line. Nothing may print after the line.
    spark.sparkContext.setLogLevel("ERROR")
    // a subset run also warms the queries it names
    Harness.warm(spark, WarmQueries ++ args)

    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty)
      System.err.println(s"BENCH UNKNOWN QUERY NAMES: ${unknown.mkString(", ")}")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else SparkEntry.queries
    // median of 3 runs per query (Harness.median3's protocol, looped here
    // for two Bench-only rules). A failed run skips the retries: failures
    // are deterministic and retrying them pays the cost three times for
    // the same -1. After each run, per-query persists AND localCheckpoint
    // blocks are released: clearCache only covers CacheManager entries,
    // while checkpoint blocks (e.g. the dedup fixpoint's final round) are
    // raw RDD persists that would otherwise accumulate across queries.
    val Runs = 3
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = scala.collection.mutable.ArrayBuffer[Harness.Run]()
      var ok = true
      while (ok && runs.size < Runs) {
        try runs += Harness.timed(spark)(fn(spark, sfDir))
        catch {
          case t: Throwable =>
            System.err.println(s"BENCH FAILURE $name: ${t.getClass.getName}: ${t.getMessage}")
            ok = false
        }
        finally {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      }
      (name, if (ok) Harness.median(runs.toSeq) else Harness.Run(-1.0, 0, 0, 0, 0, 0), ok)
    }
    // failed queries report -1 and are excluded from the total, so a broken
    // query can never be mistaken for a fast one.
    // The driver captures only the LAST 2000 chars of stdout (r6/r7 BENCH
    // JSONs lost their leading per-query entries to that window), so the
    // line is kept compact: DECISECOND per-query precision (median-of-3
    // noise at sf0.1 is itself ~0.1 s, so centiseconds were false
    // precision), basename-only sf, and a hard length check.
    // per-query values are INTEGER DECISECONDS ("qunit":"ds" below): "0.3 s"
    // prints as 3.
    def num(v: Double): String = math.rint(v * 10).toLong.toString
    // At 108 queries even family-grouped name:value maps hit ~1,930 of the
    // 2,000-char window (r9), so names moved OUT of the line: "qds" is the
    // value array over query names sorted LEXICOGRAPHICALLY (the exact keys
    // of SparkEntry.queries, same order as a full-suite run benches them) —
    // name i ↔ qds[i]. The name list is stable, committed (SparkEntry +
    // BASELINE.md's bench-format note), and "nq" guards against a
    // count-mismatch misread. "slow" re-inlines full names for every query
    // ≥ 1.0 s — the entries a reader of the bare line actually needs.
    // ~700 chars at 108 queries; scales ~3 bytes/query (fits 300+).
    // A SUBSET run (args given) still prints the named map: the array
    // encoding is only unambiguous for the full sorted suite.
    val total = results.collect { case (_, v, true) => v.wall }.sum
    val qs =
      if (args.nonEmpty)
        results.sortBy(_._1).map { case (k, v, ok) =>
          "\"" + k + "\":" + (if (ok) num(v.wall) else "-1")
        }.mkString("{", ",", "}")
      else
        results.sortBy(_._1).map { case (_, v, ok) =>
          if (ok) num(v.wall) else "-1"
        }.mkString("[", ",", "]")
    // "slow" values are [wall_ds, stage_exec_ds, gc_ds, n_jobs,
    // job_wall_ds] from the median-wall run — see the object scaladoc for
    // the adjudication grid (host burst vs priced work vs driver-side)
    val slowEntries = results.filter { case (_, v, ok) => ok && v.wall >= 1.0 }
      .sortBy(-_._2.wall)
      .map { case (k, v, _) =>
        "\"" + k + "\":[" + num(v.wall) + "," + (v.execMs / 100) + "," +
          (v.gcMs / 100) + "," + v.jobs + "," + (v.jobWallMs / 100) + "]"
      }
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val unknownJson = unknown.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    val key = if (args.nonEmpty) "queries" else "qds"
    // failed/unknown/slow only appear when non-empty — every byte counts
    // against the tail window, and an absent field reads as an empty one.
    // If the line would overflow the driver's 2000-char tail capture, the
    // SMALLEST slow entries drop first (the big rows are the ones the
    // adjudication needs) and "slow_n" records how many were kept of how
    // many qualified.
    def assemble(kept: Seq[String]): String = {
      val slowJson =
        if (kept.isEmpty)
          // entries may have qualified and ALL been dropped for budget —
          // "0/N" must survive, or the artifact reads as "no slow rows"
          (if (slowEntries.isEmpty) ""
           else s""","slow_n":"0/${slowEntries.size}"""")
        else {
          val n = if (kept.size < slowEntries.size)
            s""","slow_n":"${kept.size}/${slowEntries.size}"""" else ""
          s""","slow":${kept.mkString("{", ",", "}")}$n"""
        }
      val extras = slowJson +
        (if (failed == "[]") "" else s""","failed":$failed""") +
        (if (unknownJson == "[]") "" else s""","unknown":$unknownJson""")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","qunit":"ds","nq":${results.size},"$key":$qs$extras,"sf":"$sfName"}"""
    }
    // Sidecar artifact (VERDICT r21 #2): the driver's stdout tail keeps
    // only 2,000 chars, which forced per-query times into the positional
    // `qds` array and left PERF comparisons joining noisy totals. The SAME
    // timed results are therefore also written as a NAMED map with full
    // telemetry, plus each median run's completed-stage count (the
    // launch-count signal: each stage pays a scheduler round-trip that
    // host contention multiplies), to bench_perquery_c<cpus>.json (cwd,
    // named by core count so a c8 run never overwrites a c32 record;
    // SPARK_GRAFT_PERQUERY_OUT overrides the path). The stdout line below
    // is byte-for-byte the same contract as before; the file is
    // best-effort and can never fail the bench.
    try {
      val pq = results.sortBy(_._1).map { case (k, v, ok) =>
        val vals = if (ok)
          s"[${num(v.wall)},${v.execMs / 100},${v.gcMs / 100},${v.jobs},${v.jobWallMs / 100},${v.stages}]"
        else "[-1,0,0,0,0,0]"
        "\"" + k + "\":" + vals
      }.mkString("{", ",", "}")
      val out = sys.env.getOrElse("SPARK_GRAFT_PERQUERY_OUT", s"bench_perquery_c$cpus.json")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(
        f"""{"total":$total%.2f,"unit":"sec","qunit":"ds","cpus":"$cpus","sf":"$sfName","cols":["wall_ds","stage_exec_ds","gc_ds","n_jobs","job_wall_ds","n_stages"],"queries":$pq}""")
      finally w.close()
    } catch { case _: Throwable => () }
    var keep = slowEntries
    var line = assemble(keep)
    while (line.length > 1950 && keep.nonEmpty) {
      keep = keep.dropRight(1)
      line = assemble(keep)
    }
    if (line.length > 1950)
      System.err.println(s"BENCH LINE TOO LONG (${line.length} > 1950): the driver's " +
        "2000-char tail capture will truncate it — shrink the encoding further")
    println(line)
    spark.stop()
    // a typo'd query name must not be mistaken for a fast successful run
    if (unknown.nonEmpty) sys.exit(2)
  }
}
