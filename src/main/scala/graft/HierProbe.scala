package graft

import org.apache.spark.sql.DataFrame

import graft.ext.Similarity

/** Scale-evidence probe for the hierarchical IVF router (SCALE.md): flat
  * assignment scores all k₂ centroids per row, the two-level route scores
  * k₁ + |group| ≈ k₁ + k₂/k₁ — so the router's advantage should WIDEN as the
  * codebook grows with the corpus (k₂ ≈ √N). Measures end-to-end flat vs
  * hier IVF top-1 wall time at growing corpus×codebook tiers; numbers land
  * in SCALE.md "Measured evidence". The scaled corpus rotates dims per copy
  * (same trick as ScaleProbe) so assignments don't collapse to replicas.
  */
object HierProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val scaled = Harness.rotatedCopies(base)
    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall

    // warmup: compile both plan families once
    Harness.noop(Similarity.ivfTopNeighbor(base, 16))
    Harness.noop(Similarity.ivfTopNeighborHier(base, 4, 16))

    // codebook grows as ~sqrt(N) with the corpus (the SIZING rule); k1 ~ sqrt(k2).
    // vec_id < k2 picks centroids only from copy 0, which holds every base id —
    // both forms use the identical centroid set at every tier.
    Seq((1, 64, 8), (4, 128, 12), (16, 256, 16), (64, 512, 23)).foreach {
      case (times, k2, k1) =>
        val emb = scaled(times).localCheckpoint(true)
        val n = emb.count()
        val tFlat = median3(Similarity.ivfTopNeighbor(emb, k2))
        val tHier = median3(Similarity.ivfTopNeighborHier(emb, k1, k2))
        println(f"""{"probe":"ivf_flat_vs_hier","scale":$times,"n":$n,"k2":$k2,"k1":$k1,""" +
          f""""flat_sec":$tFlat%.2f,"hier_sec":$tHier%.2f,"speedup":${tFlat / tHier}%.2f}""")
        emb.unpersist(blocking = true)
    }
    spark.stop()
  }
}
