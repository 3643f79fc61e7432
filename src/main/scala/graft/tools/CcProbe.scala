package graft.tools

import org.apache.spark.sql.functions._

/** Variance probe for the connected-components query family (d06, d25,
  * q68) — the only queries whose BENCH_LOCAL spread the r12 quiet-window
  * top-up could not settle (d06 ±1.58 s on a ~1.5 s median). The
  * fixpoint loop is DETERMINISTIC for a fixed corpus (same pairs → same
  * round count), so the hypothesis space is runtime, not logic:
  * per-round driver latency (each round = 2 shuffle joins + an eager
  * localCheckpoint + a count action — a chain of short jobs that
  * amplifies scheduler/CPU-steal jitter) versus the pair-generation
  * stage (LSH/ER candidate work shared with d02/q67, already
  * spread-stable there).
  *
  * Prints, for `reps` repetitions: pair-gen seconds, propagation
  * seconds, round count, and per-round seconds — if rounds are constant
  * and propagation carries the spread, the variance source is the
  * short-job chain; if pair-gen carries it, the d02/q67 stages do.
  *
  * Usage: runMain graft.tools.CcProbe [sfDir] [reps]
  */
object CcProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 6
    val spark = graft.Session.local()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // warmup (codegen + page cache)
    graft.operators.Dedup.clusters(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    println("rep,pairgen_s,prop_s,rounds,per_round_s,full_d06_s")
    (1 to reps).foreach { i =>
      val (pairs, tPairs) = time {
        val p = graft.operators.Dedup.minhashLsh(spark, sfDir)
          .select(col("da"), col("db")).persist()
        p.count()
        p
      }
      val nodes = graft.Tables.table(spark, sfDir, "documents")
        .select("doc_id")
      val ((_, rounds), tProp) = time {
        val (labels, r) = graft.operators.Dedup
          .propagateMinLabels(nodes, pairs)
        labels.write.format("noop").mode("overwrite").save()
        (labels, r)
      }
      pairs.unpersist()
      val (_, tFull) = time {
        graft.operators.Dedup.clusters(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"$i,$tPairs%.3f,$tProp%.3f,$rounds,${tProp / rounds}%.3f," +
        f"$tFull%.3f")
    }
    spark.stop()
  }
}
