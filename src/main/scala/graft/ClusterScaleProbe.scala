package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Scale-evidence probe for the CLUSTER-keyed curation operators —
  * [[Similarity.semDedup]] and [[Similarity.clusterLabels]] (SCALE.md
  * "Measured evidence"): wall time at 1×/4×/16× population growth, plus a
  * hot-cluster skew mode.
  *
  * The regime mirrors ScaleProbe's sign-LSH ladder, with the knob renamed:
  * semDedup's pair kernel is bucket-local on cluster_id, so a FIXED k
  * turns corpus growth into quadratic Σ cluster² work — the fix is sizing
  * k ≈ N/targetCluster (linear bucket-count growth), and `maxBucket` is
  * the guard for the skewed tail sizing can't remove (clusters skew
  * harder than sign buckets: assignment is semantic, not hash-uniform).
  * clusterLabels has NO quadratic term — its per-cluster work is a
  * WindowGroupLimit-pruned rank over aggregated (cluster, token) rows —
  * so its wall should stay ~linear even at fixed k; the probe measures
  * that claim rather than assuming it.
  *
  * Skew mode (`SPARK_GRAFT_MODE=skew`): `hot` extra vectors share one
  * centroid's first 32 dims (they pile into few clusters — the measured
  * `max_cluster` is printed) with jittered back halves keeping mutual
  * cosine below the semDedup threshold, so the kernel does Θ(hot²) work
  * without emitting Θ(hot²) pair rows — isolating gather/kernel cost from
  * output size. Guarded, the hot cluster hash-splits into bounded shard
  * groups.
  */
object ClusterScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    // dim-rotated copies (the shared ScaleProbe construction): each
    // copy's centroid affinity differs, so the cluster distribution stays
    // realistic instead of replicating the base corpus k times
    val scaledEmb = Harness.rotatedCopies(emb)
    val scaledDocs = Harness.shiftedCopies(docs, "doc_id" -> Harness.IdStride)()

    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall
    def r2(x: Double): Double = Harness.r2(x)

    def clusterHist(e: DataFrame, k: Int): (Long, Long) = {
      val h = Similarity.assignToCentroids(e, k, 1)
        .filter(col("crank") === 1)
        .groupBy("cluster_id").agg(count(lit(1)).as("c"))
        .agg(max("c").as("maxc"), sum(col("c") * col("c")).as("sumsq"))
        .collect()(0)
      (h.getLong(0), h.getLong(1))
    }

    // warmup: codegen + kernel registration off the measured path
    Harness.noop(Similarity.semDedup(emb, 0.95))
    Harness.noop(Similarity.clusterLabels(emb, docs))

    if (sys.env.get("SPARK_GRAFT_MODE").contains("skew")) {
      val hots = sys.env.getOrElse("SPARK_GRAFT_SKEW", "8192")
        .split(",").map(_.trim.toInt).toSeq
      // first 32 dims of vector 0 (a centroid of the first-K quantizer):
      // shared head → the copies chase centroid 0; jittered tail → mutual
      // cosine well under 0.95, so pair OUTPUT stays tiny while pair WORK
      // is Θ(hot²)
      val head = emb.filter(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).take(32)
      hots.foreach { hot =>
        val tail = (32 until 64).map(d =>
          ((pmod(xxhash64(col("id") * lit(d + 1)), lit(1000L)).cast("double")
            / 1000.0d) - 0.5d).cast("float"))
        val hotVecs = spark.range(hot).select(
          (col("id") + 10000000L).as("vec_id"),
          array(head.map(v => lit(v).cast("float")) ++ tail: _*).as("embedding"))
        val ev = emb.unionByName(hotVecs).localCheckpoint(true)
        val hotDocs = docs.unionByName(
          spark.range(hot).select((col("id") + 10000000L).as("doc_id"),
            lit("hot hot hot common text payload").as("text")))
          .localCheckpoint(true)
        try {
          val (maxc, sumsq) = clusterHist(ev, Similarity.IvfClusters)
          val s0 = median3(Similarity.semDedup(ev, 0.95,
            maxBucket = Similarity.NoMaxBucket))
          val s1 = median3(Similarity.semDedup(ev, 0.95,
            maxBucket = Similarity.MaxBucket))
          val l0 = median3(Similarity.clusterLabels(ev, hotDocs))
          println(s"""{"probe":"cluster_skew","hot":$hot,"max_cluster":$maxc,""" +
            s""""sum_sq":$sumsq,"semdedup_s":${r2(s0)},""" +
            s""""semdedup_capped_s":${r2(s1)},"labels_s":${r2(l0)}}""")
        } finally { ev.unpersist(); hotDocs.unpersist() }
      }
      spark.stop()
      return
    }

    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    scales.foreach { times =>
      val ev = scaledEmb(times).localCheckpoint(true)
      val dv = scaledDocs(times).localCheckpoint(true)
      try {
        val n = ev.count()
        // fixed k — the misconfiguration; sized k — the N/targetCluster rule
        val kFixed = Similarity.IvfClusters
        val kSized = Similarity.IvfClusters * times
        // dedup on k (at 1× fixed == sized — one measurement, one row)
        Seq(("fixed", kFixed), ("sized", kSized)).distinctBy(_._2)
          .foreach { case (mode, k) =>
          val (maxc, sumsq) = clusterHist(ev, k)
          val sd = median3(Similarity.semDedup(ev, 0.95, k))
          val cl = median3(Similarity.clusterLabels(ev, dv, k))
          println(s"""{"probe":"cluster","scale":$times,"n":$n,"k":$k,""" +
            s""""mode":"$mode","max_cluster":$maxc,"sum_sq":$sumsq,""" +
            s""""semdedup_s":${r2(sd)},"labels_s":${r2(cl)}}""")
        }
      } finally { ev.unpersist(); dv.unpersist() }
    }
    spark.stop()
  }
}
