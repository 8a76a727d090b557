package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dumps each selected query's result under `outDir` and returns the
    * name → error map for queries that threw (empty = all ran). Split from
    * [[main]] (which owns the session lifecycle) so the failure-reporting
    * contract is testable against the shared test session.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Set[String] = Set.empty): Map[String, String] = {
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => only(kv._1))
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      System.err.println(s"[verify] start $name")
      try {
        val out = fn(spark, sfDir)
        // Emit timestamps as NTZ so the parquet physical type matches what
        // DuckDB writes for the oracle side (session tz is UTC, so the cast
        // preserves the wall-clock value exactly).
        val norm = out.schema.fields.foldLeft(out) { (df, f) =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            df.withColumn(f.name, org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
          else df
        }
        norm.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getName}: ${e.getMessage}"
        // A thrown query must surface as an explicit FAIL in the driver's
        // compare, never as a silently-smaller-but-green suite (round 11:
        // 29 plan-time failures left no output and CORRECTNESS simply
        // omitted them). Write a sentinel result whose schema can't match
        // any oracle, so the compare records a failing entry for the name.
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: ${failures(name)}").toDF("_graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      } finally {
        // per-query persists + localCheckpoint blocks (the latter are raw
        // RDD persists the CacheManager doesn't know about)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.err.println(f"[verify] done $name in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure record beside the results (empty {} when all
    // queries ran): the per-name sentinel above makes failures VISIBLE in
    // the compare; this file makes them DIAGNOSABLE without re-running
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: dump only these queries (fast local loop);
    // unknown names fail loudly rather than silently verifying nothing
    val only = args.drop(2).toSet
    // micros (not INT96) so the driver's parquet readers see the same
    // timestamp physical type DuckDB produces for the oracle results
    val spark = Harness.session(Harness.cpus,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, only)
    // exit 0 even when queries failed — DELIBERATE: the driver must still
    // run the DuckDB compare over the dump, where the per-name sentinel
    // results surface each failure as an explicit per-query FAIL. A nonzero
    // exit here could short-circuit the compare and turn partial failure
    // into a zero-entry round. Scripted callers should gate on
    // errors.json / the compare output, not the exit status.
    spark.stop()
  }
}
