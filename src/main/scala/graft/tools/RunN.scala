package graft.tools

import graft.SparkEntry

/** Dev tool: run one named query N times in one session, timing each run —
  * separates per-session overhead (codegen, classloading, footer reads)
  * from steady-state execution.
  * Usage: runMain graft.tools.RunN <queryName> [n] [sfDir]
  */
object RunN {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[runn] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
