package graft

import org.apache.spark.sql.functions._

/** Diagnostics main: has Lloyd training reached its assignment fixed point
  * on the test embeddings after the default 2 iterations? Compares the
  * LAST training assignment (against the iteration-1 centroids) with the
  * search assignment (against the final centroids) — if they agree, the
  * trained-IVF search can reuse the final E-step as its posting lists and
  * skip one full corpus pass without changing any answer.
  */
object TrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, sfDir)
    import graft.ext.Similarity
    val k = Similarity.IvfClusters
    val c1 = Similarity.trainIvfCentroids(emb, k, iters = 1)
    val c2 = Similarity.trainIvfCentroids(emb, k, iters = 2)
    val a1 = Similarity.assignTo(emb, c1, 1).select("vec_id", "cluster_id")
    val a2 = Similarity.assignTo(emb, c2, 1).select("vec_id", "cluster_id")
    val diff = a1.as("l").join(a2.as("r"), "vec_id")
      .filter(col("l.cluster_id") =!= col("r.cluster_id")).count()
    println(s"[trainprobe] sf=$sfDir n=${emb.count()} assignment diffs c1-vs-c2: $diff")
  }
}
