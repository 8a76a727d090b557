package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, UTC, AQE on). */
object TestSpark {

  /** Temp dirs created by suites, deleted when the test JVM exits (the
    * suites share one JVM-wide session, so per-suite afterAll would race
    * with later suites reusing the dir).
    */
  private val cleanupDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  def managedTempDir(prefix: String): String = synchronized {
    if (cleanupDirs.isEmpty) sys.addShutdownHook {
      cleanupDirs.foreach { root =>
        // NonFatal, not IOException: Files.walk's stream iteration wraps I/O
        // failures in UncheckedIOException (a RuntimeException), which must
        // not abort cleanup of the REMAINING roots (Spark's own shutdown
        // hooks may be touching the warehouse dir concurrently)
        try {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupDirs += p
    p.toString
  }

  lazy val spark: SparkSession = {
    val s = Harness.session(4, "spark.app.name" -> "graft-test",
      // bucketed-table tests need a catalog; keep the warehouse out of the repo
      "spark.sql.warehouse.dir" -> managedTempDir("graft-warehouse"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = Harness.WarmDir
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
  /** A temp dir cleaned up at JVM exit — use for any on-disk test output. */
  def managedTempDir(prefix: String): String = TestSpark.managedTempDir(prefix)
}

/** Top-level event row for test frames (inner case classes can't get
  * Catalyst encoders).
  */
case class TestEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                  event_type: String, value: Double, props: String)
