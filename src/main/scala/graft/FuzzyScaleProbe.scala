package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Fuzzy

/** Scale-evidence probe for the SymSpell fuzzy join (SCALE.md): grows BOTH
  * universes together — |Q| = 100×s queries, |D| = 10,000×s dictionary
  * terms at s ∈ {1, 2, 4, 8} — and times the delete-neighborhood blocked join
  * against the brute-force length-banded `levenshtein` verify the DuckDB
  * oracle twin uses. Growing both sides is the regime that separates the
  * two: brute verify work is |Q|·|D| (quadratic in s, exponent ≈ 2), the
  * blocked join's work is neighborhood generation (linear) plus
  * shared-key candidates (the planted matches — linear), so its measured
  * exponent should stay ≈ lin.
  *
  * The synthesized universes are md5-hex 12-char terms (cross-pair
  * distance ≤ 1 collisions essentially never happen), with every query a
  * one-char deletion of a dictionary term — so the TRUE match set is the
  * planted one, identical for both formulations, and the probe asserts
  * result-set equality before timing.
  */
object FuzzyScaleProbe {

  def dict(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      substring(md5(concat(lit("d:"), col("id"))), 1, 12).as("term"))

  def queries(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      substring(md5(concat(lit("d:"), col("id"))), 1, 12).as("term"))
      .select(col("doc_id"), expr(
        """concat(substring(term, 1, CAST(doc_id % 12 AS INT)),
          |       substring(term, CAST(doc_id % 12 AS INT) + 2, 12))"""
          .stripMargin).as("q_term"))

  /** Brute-force twin: length-banded cross join + levenshtein — the
    * oracle's formulation, as a Spark job.
    */
  def brute(q: DataFrame, d: DataFrame): DataFrame =
    q.crossJoin(d.select(col("term").as("dict_term")))
      .filter(abs(length(col("q_term")) - length(col("dict_term"))) <= 1)
      .filter(levenshtein(col("q_term"), col("dict_term")) <= 1)
      .select(col("doc_id"), col("q_term"), col("dict_term"),
        levenshtein(col("q_term"), col("dict_term")).cast("long").as("dist"))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    def r2(x: Double): Double = Harness.r2(x)
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_MODE=lsm — the split base+delta probe ladder (the
    // LsmProbe discipline, fifth family): dictionary base grown
    // 1×/4×/16× as TWIN-PAIRED docs (each shingle lands count 2 —
    // admitted; singleton shingles would leave the index unmatchable),
    // delta CONSTANT (50 twin-paired docs of fresh vocabulary — base
    // twins would change nothing and fake a zero overhead), query load
    // CONSTANT (perturbed x1-range shingles + perturbed delta shingles;
    // the probe asserts the delta-admitted terms actually answer). Claim:
    // with_delta − base_only is delta-sized, flat across base growth —
    // the bucketed keys/cnt bases satisfy their joins from layout.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("lsm")) {
      import graft.ext.Fuzzy
      val tmp = java.nio.file.Files.createTempDirectory("fuzzylsm").toString
      def pairedDocs(n: Long, off: Long, tag: String): DataFrame =
        spark.range(n).select(
          (col("id") + off).as("doc_id"),
          concat_ws(" ", (0 until 12).map(t =>
            concat(lit(s"$tag${t}x"), col("id") % (n / 2))): _*).as("text"))
      val deltaDocs = pairedDocs(50, 900000000L, "dz")
      // constant probe: one-char-extended shingles of the x1 base range
      // plus of the delta range (the latter answer ONLY via the delta)
      def typo(docs: DataFrame): DataFrame =
        graft.ext.TextAnalysis.shingleStream(docs)
          .groupBy("doc_id").agg(min("shingle").as("term"))
          .select(col("doc_id"), concat(col("term"), lit("q")).as("q_term"))
      val probeQ = typo(pairedDocs(100, 950000000L, "b").drop("text")
          .join(pairedDocs(100, 950000000L, "b"), "doc_id"))
      for (s <- Seq(1, 4, 16)) {
        val name = s"lsm_fuzzy_x$s"
        val dd = s"$tmp/fuzzy_x$s"
        val base = pairedDocs(2000L * s, 0L, "b")
        Fuzzy.buildFuzzyIndexGen(base, name)
        Fuzzy.appendFuzzyBatch(deltaDocs, dd, 0L, maxEdits = 1)
        val q = probeQ.unionByName(typo(deltaDocs)).localCheckpoint(true)
        // the delta must actually answer — an empty delta fakes flatness
        val deltaHits = Fuzzy
          .fuzzyAgainstIndexWith(spark, q, name, Some(dd))
          .filter(col("doc_id") >= 900000000L && col("doc_id") < 950000000L)
          .count()
        require(deltaHits > 0, s"delta answered nothing at s=$s")
        median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name)) // warm
        median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name, Some(dd)))
        val tb = median3(
          Fuzzy.fuzzyAgainstIndexWith(spark, q, name))
        val tw = median3(
          Fuzzy.fuzzyAgainstIndexWith(spark, q, name, Some(dd)))
        println(s"""{"probe":"lsm_fuzzy","scale":$s,"dict_docs":${2000 * s},""" +
          s""""delta_hits":$deltaHits,"base_s":${r2(tb)},""" +
          s""""with_delta_s":${r2(tw)},""" +
          s""""delta_overhead_s":${r2(tw - tb)}}""")
      }
      spark.stop()
      return
    }

    // SPARK_GRAFT_MODE=d2 — the distance-2 ladder: same grow-both-sides
    // regime with TWO-char-deleted queries, del<=2 (FastSS) keys, and a
    // levenshtein<=2 brute twin. Also reports the measured neighborhood
    // inflation (keys per dictionary term, d1 vs d2): the d2 index costs
    // ~len²/2 keys per term — a CONSTANT factor (~6x at len 12), linear in
    // dictionary size, which is the whole scale argument — candidates stay
    // planted-match-sized while brute verify work grows |Q|·|D|.
    if (sys.env.get("SPARK_GRAFT_MODE").contains("d2")) {
      graft.functions.DeleteNeighborhoodKeys.register(spark)
      def queries2(n: Long): DataFrame =
        queries(spark, n).select(col("doc_id"), expr(
          """concat(substring(q_term, 1, CAST((doc_id div 12) % 11 AS INT)),
            |       substring(q_term, CAST((doc_id div 12) % 11 AS INT) + 2, 11))"""
            .stripMargin).as("q_term"))
      def brute2(q: DataFrame, d: DataFrame): DataFrame =
        q.crossJoin(d.select(col("term").as("dict_term")))
          .filter(abs(length(col("q_term")) - length(col("dict_term"))) <= 2)
          .filter(levenshtein(col("q_term"), col("dict_term")) <= 2)
          .select("doc_id", "q_term", "dict_term")
      for (s <- Seq(1, 2, 4, 8)) {
        val d = dict(spark, 10000L * s)
        val q = queries2(100L * s)
        val keysRow = d.select(
            sum(size(expr("del_keys(term, 1)"))).as("k1"),
            sum(size(expr("del_keys(term, 2)"))).as("k2"))
          .head()
        val keys = (keysRow.getLong(0), keysRow.getLong(1))
        val got = Fuzzy.fuzzyMatch2(q, d)
          .select("doc_id", "dict_term").distinct().count()
        val want = brute2(q, d)
          .select("doc_id", "dict_term").distinct().count()
        require(got == want, s"blocked=$got brute=$want at s=$s")
        val tBlocked = median3(Fuzzy.fuzzyMatch2(q, d))
        val tBrute = median3(brute2(q, d))
        println(s"""{"probe":"fuzzy_d2","scale":$s,"dict":${10000 * s},""" +
          s""""queries":${100 * s},"matches":$got,""" +
          s""""keys_d1":${keys._1},"keys_d2":${keys._2},""" +
          s""""blocked_s":${r2(tBlocked)},"brute_s":${r2(tBrute)}}""")
      }
      spark.stop()
      return
    }

    for (s <- Seq(1, 2, 4, 8)) {
      val d = dict(spark, 10000L * s)
      val q = queries(spark, 100L * s)
      // same result set before timing (the blocked join's losslessness
      // at scale, not just on the spec's mini-universe)
      val got = Fuzzy.fuzzyMatch(q, d)
        .select("doc_id", "dict_term").distinct().count()
      val want = brute(q, d)
        .select("doc_id", "dict_term").distinct().count()
      require(got == want, s"blocked=$got brute=$want at s=$s")
      val tBlocked = median3(Fuzzy.fuzzyMatch(q, d))
      val tBrute = median3(brute(q, d))
      println(s"""{"probe":"fuzzy","scale":$s,"dict":${10000 * s},""" +
        s""""queries":${100 * s},"matches":$got,""" +
        s""""blocked_s":${r2(tBlocked)},"brute_s":${r2(tBrute)}}""")
    }
    spark.stop()
  }
}
