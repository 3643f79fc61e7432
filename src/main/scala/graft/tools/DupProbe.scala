package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: how the m11/m12 duplicate-QUERY set grows under corpus
  * replication — the r13 study flagged a first-decade level shift and
  * attributed it to digit collisions, but the documents corpus contains
  * no digits at any SF; the real candidate is the aHash's
  * word-SKELETON dominance (spaces sit far below the byte mean, letters
  * cluster near it, and the affine letter permutation preserves every
  * space position — so a replica's thresholded pixel pattern can match
  * its source's exactly). This prints, per corpus: #BMP assets, #distinct
  * aHashes, #assets with ≥1 exact-dup partner (the m11 query set), and
  * the cross- vs in-replica split of dup pairs.
  * Usage: runMain graft.tools.DupProbe <dir> [replicaModulus]
  */
object DupProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val docOff = if (args.length > 1) args(1).toLong else 0L
    val spark = graft.Session.local()
    val h = graft.operators.Multimodal.imageAhashProbe(spark, dir)
      .persist()
    val n = h.count()
    val distinct = h.select("ahash").distinct().count()
    val pairs = h.as("a").join(h.as("b"),
        col("a.ahash") === col("b.ahash") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .persist()
    val nPairs = pairs.count()
    val queries = pairs.select(col("va").as("q"))
      .union(pairs.select(col("vb"))).distinct().count()
    val cross = if (docOff > 0)
      pairs.filter(col("va") * 2 / docOff =!= col("vb") * 2 / docOff).count()
    else -1L
    println(s"[dupprobe] dir=$dir bmps=$n distinct_ahash=$distinct " +
      s"dup_pairs=$nPairs query_set=$queries cross_replica_pairs=$cross")
    spark.stop()
  }
}
