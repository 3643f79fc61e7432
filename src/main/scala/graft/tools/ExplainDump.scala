package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dev tool: write `df.explain("formatted")` for the named queries to
  * `<outDir>/<name>_<tag>.txt` — the optimization round's before/after
  * plan evidence (plans/r16/...).
  * Usage: runMain graft.tools.ExplainDump <name[,name...]> <tag> [outDir] [sfDir]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val tag = args(1)
    val outDir = if (args.length > 2) args(2) else "plans/r16"
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Session.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      // capture ON so eagerly-materialized pipelines (the evictAfter
      // family: m11-m14, d09, d13, s21...) contribute their REAL
      // pre-checkpoint plans — the returned frame alone would show only
      // a checkpoint scan for those queries
      graft.plans.PlanCapture.enable()
      val text = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val outer = graft.plans.PlanCapture.explainText(df)
        val inner = graft.plans.PlanCapture.drain().map { case (l, t) =>
          s"\n===== captured internal pipeline [$l] =====\n$t"
        }
        (outer +: inner).mkString
      } finally graft.plans.PlanCapture.disable()
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        text.getBytes(StandardCharsets.UTF_8))
      val shuffles = "Exchange (hash|range|Single)".r.findAllIn(text).size
      val reused = "ReusedExchange".r.findAllIn(text).size
      val bcast = "BroadcastExchange".r.findAllIn(text).size
      println(s"[explain] $name -> $outDir/${name}_$tag.txt " +
        s"(exchanges=$shuffles reused=$reused bcast=$bcast)")
    }
    spark.stop()
  }
}
