package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Scale-evidence probe for the ANN sizing rule (SCALE.md "Measured
  * evidence"): measures the sign-LSH bucket-size distribution and kernel
  * search time at 1× and 10× corpus size under three configurations —
  * fixed bucket count (the misconfiguration the sizing rule exists to
  * prevent), the sizing rule (signBits grown by ~log2(scale)), and the
  * hot-bucket cap. Prints one JSON line per measurement; numbers land in
  * SCALE.md. The 10× corpus rotates each copy's dims so sign patterns
  * differ per copy (scaling by a constant would replicate the 1× bucket
  * distribution and fake uniformity).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir()
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val scaled = Harness.rotatedCopies(base)
    def median3(mk: => DataFrame): Double = Harness.median3(spark)(mk).wall

    // JVM/codegen warmup so the first measured tier isn't inflated
    Harness.noop(Similarity.lshTopNeighbor(base))

    Seq(1, 10, 100).foreach { times =>
      val emb = scaled(times).localCheckpoint(true)
      val n = emb.count()
      // sizing rule: signBits ≈ 8 + log2(scale) keeps expected bucket size
      // constant as the corpus grows; 8 held fixed shows the quadratic blowup
      val sized = 8 + (math.log(times.toDouble) / math.log(2.0)).round.toInt
      // the measure-then-size hook must reproduce the manual ladder from
      // the corpus alone (one count pass)
      val auto = Similarity.autoSignBits(emb)
      println(s"""{"probe":"auto_signbits","scale":$times,"n":$n,""" +
        s""""auto":$auto,"manual_sized":$sized}""")
      Seq(8, sized).distinct.foreach { signBits =>
        val h = emb
          .groupBy(Similarity.signBucket(col("embedding"), signBits).as("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("buckets"), max("c").as("maxb"),
            expr("CAST(avg(c) AS DOUBLE)").as("avgb"),
            sum(col("c") * col("c")).as("sumsq"))
          .collect()(0)
        println(s"""{"probe":"hist","scale":$times,"n":$n,"signBits":$signBits,""" +
          s""""buckets":${h.getLong(0)},"max_bucket":${h.getLong(1)},""" +
          f""""avg_bucket":${h.getDouble(2)}%.1f,"sum_sq":${h.getLong(3)}}""")
        val t = median3(Similarity.lshTopNeighbor(emb, signBits))
        println(f"""{"probe":"lsh","scale":$times,"signBits":$signBits,"sec":$t%.2f}""")
      }
      val tCap = median3(Similarity.lshTopNeighbor(emb, 8, maxBucket = 512))
      println(f"""{"probe":"lsh_capped512","scale":$times,"signBits":8,"sec":$tCap%.2f}""")
      emb.unpersist(blocking = true)
    }
    spark.stop()
  }
}
