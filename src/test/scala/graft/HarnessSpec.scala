package graft

import org.apache.spark.sql.functions._

class HarnessSpec extends SparkSpec {

  test("listener job delta equals the job-group count for one sf0.001 query") {
    val (run, groupJobs) = Harness.jobsIn(spark)(
      Harness.timed(spark)(SparkEntry.queries("q1_pricing")(spark, sfDir)))
    assert(groupJobs > 0, "the query launched no job")
    assert(run.jobs == groupJobs.toLong,
      s"listener counted ${run.jobs} jobs, the job group $groupJobs")
    assert(run.stages > 0 && run.wall > 0.0)
  }

  test("shifted copies fail loudly on a base whose max id reaches the stride") {
    val base = spark.range(5).select(col("id").as("doc_id"),
      (col("id") * 1000L).as("user_id"))
    // below every stride: copies shift and never collide
    val scaled = Harness.shiftedCopies(base, "doc_id" -> 5L, "user_id" -> 5000L)()
    val three = scaled(3)
    assert(three.count() == 15L)
    assert(three.select("doc_id").distinct().count() == 15L)
    assert(three.select("user_id").distinct().count() == 15L)
    // max doc_id 4 reaches a stride of 4: copy 1's id 4 would be copy 0's 4
    val e = intercept[IllegalArgumentException](
      Harness.shiftedCopies(base, "doc_id" -> 4L)())
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("collide"))
    // each id column is checked, not only the first
    intercept[IllegalArgumentException](
      Harness.shiftedCopies(base, "doc_id" -> 5L, "user_id" -> 4000L)())
  }
}
