package graft.tools


/** Dev tool: materialize one ScaleTrend-synthesized corpus without
  * running the study — the input for oracle cross-checks of the
  * corpus-adaptive geometries at rungs the fixture corpora never reach
  * (sf0.01/sf0.1 both sit at the plane ladder's floor; a 10× enlargement
  * derives P = 6 and exercises the substr/truncation replay for real).
  * Usage: runMain graft.tools.SynthCorpus <srcDir> <outDir> <factor>
  */
object SynthCorpus {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/graft-synth"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local()
    ScaleTrend.synthesize(spark, src, out, factor)
    println(s"[synth] $src x$factor -> $out")
    spark.stop()
  }
}
