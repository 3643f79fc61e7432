package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.{IndexDeployment, StreamingIndexCdc}

/** Runnable tour of the ANN index LIFECYCLE the engine maintains — the
  * demo-main sibling of `PipelineDemo` (config boot, CDC → sinks),
  * covering what the `IndexDeploymentSpec`/`StreamingIndexCdcSpec`
  * suites prove:
  *
  *  1. blue/green deploy of generation 0 (train → shard-build → atomic
  *     pointer flip),
  *  2. pointer-following serving,
  *  3. a mixed I/U/D change feed applied through the frozen artifacts
  *     (CDC maintenance with the raw survivor corpus recorded),
  *  4. lifecycle-closing rebuild from the CDC survivor view
  *     (measure recall loss through the live generation → retrain →
  *     green build → swap),
  *  5. serving across the swap (deletes can no longer be answers),
  *  6. rollback + forward flip,
  *  7. generation GC bounded by the rollback window.
  *
  * Usage: runMain graft.tools.IndexDemo [sfDir]
  */
object IndexDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    import spark.implicits._

    val work = Files.createTempDirectory("graft-index-demo").toString
    val root = s"$work/deployment"
    val indexDir = s"$work/cdc/index"
    val tombDir = s"$work/cdc/tombs"
    val corpusDir = s"$work/cdc/corpus"

    // -- 1. deploy generation 0 --------------------------------------------
    val e = Similarity.embeddings(spark, sfDir)
    val gen0 = IndexDeployment.deploy(spark, e, e, root)
    println(s"[index-demo] deployed gen=$gen0 " +
      s"(grid ${IndexDeployment.gridOf(spark, root, gen0)})")

    // -- 2. pointer-following serving ---------------------------------------
    val session = new IndexDeployment.ServingSession(root)
    val queries = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding"))
    def topAnswers(tag: String): Map[Long, Seq[Long]] = {
      val rows = session.serveBatch(queries).collect()
      val byQ = rows.groupBy(_.getAs[Long]("qid")).view
        .mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(_.getAs[Long]("neighbor_id")).toSeq).toMap
      println(s"[index-demo] $tag: served ${byQ.size} queries through " +
        s"gen=${session.servingGen.get}")
      byQ
    }
    topAnswers("initial serve")

    // -- 3. CDC feed through the frozen artifacts ---------------------------
    val idx = IndexDeployment.loadGen(spark, root, gen0)
    // batch 0: the whole corpus enters the CDC store (seq = vec_id), so
    // the survivor view covers everything the index serves
    val seed = e.select(col("vec_id").as("seq"), col("vec_id"),
      lit("I").as("op"), col("embedding"))
    StreamingIndexCdc.applyBatch(seed, idx, indexDir, tombDir,
      batchId = 0L, corpusDir = Some(corpusDir))
    // batch 1: delete the two vectors that were rank-1 answers, update
    // one other — the delete-propagation story aimed at the index
    val victims = Seq(Similarity.NumQueries.toLong,
      Similarity.NumQueries + 1L)
    val maxSeq = e.agg(max(col("vec_id"))).head().getLong(0)
    val changes = victims.map(v => (maxSeq + 1 + v, v, "D",
        Seq.empty[Float]))
      .toDF("seq", "vec_id", "op", "embedding")
    StreamingIndexCdc.applyBatch(changes, idx, indexDir, tombDir,
      batchId = 1L, corpusDir = Some(corpusDir))
    println(s"[index-demo] CDC applied: corpus seeded + deletes of " +
      s"${victims.mkString(",")}")

    // -- 4. lifecycle-closing rebuild ---------------------------------------
    val loss = IndexDeployment.recallLossOf(spark,
      Similarity.withNorm(
        StreamingIndexCdc.readSurvivors(spark, corpusDir, tombDir)), root)
    println(f"[index-demo] recall loss through gen=$gen0 vs survivors: " +
      f"$loss%.4f")
    val gen1 = IndexDeployment.rebuildFromCdc(spark, corpusDir, tombDir,
      root, maxRecallLoss = -1.0, // force the rebuild for the demo
      indexDir = Some(indexDir)).get
    println(s"[index-demo] rebuilt + swapped to gen=$gen1")

    // -- 5. serving across the swap -----------------------------------------
    val after = topAnswers("post-swap serve")
    val leaked = after.values.flatten.toSet.intersect(victims.toSet)
    require(leaked.isEmpty,
      s"deleted vectors $leaked surfaced as answers after the rebuild")
    println(s"[index-demo] deleted vectors never surface post-swap")

    // -- 6. rollback and forward flip ---------------------------------------
    IndexDeployment.rollback(spark, root, gen0)
    topAnswers("rolled-back serve")
    IndexDeployment.rollback(spark, root, gen1) // forward again
    topAnswers("rolled-forward serve")

    // -- 7. GC bounded by the rollback window --------------------------------
    val dropped = IndexDeployment.gcGenerations(spark, root, keep = 0)
    println(s"[index-demo] gc dropped generations: " +
      s"${dropped.mkString(",")}; remaining: " +
      s"${IndexDeployment.generations(spark, root).mkString(",")} " +
      s"(live ${IndexDeployment.currentGen(spark, root).get})")

    // -- 8. near-dup geometry deployment (the PLANES sibling of GRID) -------
    // the dedup analog of steps 1/4: the first maintenance pass sizes
    // the embedding-LSH planes knob with the d26 sampled instrument and
    // persists it beside the deployment; a restarted pass (or one after
    // an operator pinned a P from the published curve) reads the
    // artifact and bands at the recorded rung instead of re-deriving
    val dedupRoot = s"$work/neardup"
    val (planes0, pairs0) =
      graft.operators.DedupDeployment.maintenanceRun(spark, sfDir, dedupRoot)
    println(s"[index-demo] near-dup maintenance: sized+recorded " +
      s"PLANES=$planes0, ${pairs0.count()} verified pairs")
    val (planes1, _) =
      graft.operators.DedupDeployment.maintenanceRun(spark, sfDir, dedupRoot)
    require(planes1 == planes0,
      s"restarted maintenance re-sized: $planes1 != recorded $planes0")
    println(s"[index-demo] restarted maintenance honored recorded " +
      s"PLANES=$planes1 (no re-size)")

    session.close()
    idx.unpersistAll()
    spark.stop()
  }
}
