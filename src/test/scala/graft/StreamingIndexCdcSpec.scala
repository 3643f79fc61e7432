package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.{StreamingIndexCdc, StreamingIndexIngest,
  StreamingSimScorer, VecChange}

/** CDC-feed parity for the ANN index: a mixed I/U/D change stream
  * applied per micro-batch must leave the index in exactly the state a
  * one-shot encode of the FINAL surviving corpus produces — arrival
  * batching, op interleaving, replays, and compaction all invisible. */
class StreamingIndexCdcSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rowSet(df: DataFrame) = df
    .select("vec_id", "m", "code", "cid").collect()
    .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
      r.getAs[Int]("code"), r.getAs[Long]("cid"))).toSet

  /** The first `n` index-member vectors, as (id -> embedding) plus the
    * sorted id list — the change-feed fixture every test carves ops
    * from. */
  private def loadVecs(n: Int): (Map[Long, Seq[Float]], Array[Long]) = {
    val vecs = Tables.table(spark, sf, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries &&
        col("vec_id") < Similarity.NumQueries + n)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    assert(vecs.length == n)
    (vecs.toMap, vecs.map(_._1).sorted)
  }

  /** Attach the maintainer to a fresh MemoryStream under `base`,
    * returning (input, query, indexDir, tombDir) — the one place the
    * change-stream column mapping (vecId -> vec_id) lives. */
  private def attachTo(idx: StreamingSimScorer.Index,
      base: java.nio.file.Path): (MemoryStream[VecChange],
      org.apache.spark.sql.streaming.StreamingQuery, String, String) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[VecChange]
    val (indexDir, tombDir) = (base.resolve("index").toString,
      base.resolve("tomb").toString)
    val q = StreamingIndexCdc.attach(
      input.toDF().select(col("seq"), col("vecId").as("vec_id"),
        col("op"), col("embedding")),
      idx, indexDir, tombDir, base.resolve("ckpt").toString)
    (input, q, indexDir, tombDir)
  }

  test("a mixed I/U/D change stream resolves to the one-shot encode of " +
      "the final state; replay and compaction change nothing") {
    val idx = StreamingSimScorer.buildIndex(spark, sf)
    try {
      val (byId, ids) = loadVecs(30)

      // batch 1: insert all 30; batch 2: delete 10, update 10 to ANOTHER
      // vector's embedding (so the re-encode is visible); batch 3:
      // re-insert 5 of the deleted (CDC's delete-then-reinsert)
      var seq = 0L
      def nxt = { seq += 1; seq }
      val b1 = ids.map(i => VecChange(nxt, i, "I", byId(i)))
      val (toDelete, toUpdate) = (ids.take(10), ids.slice(10, 20))
      val b2 = toDelete.map(i => VecChange(nxt, i, "D", Seq.empty)) ++
        toUpdate.map(i => VecChange(nxt, i, "U", byId(ids.last)))
      val reborn = toDelete.take(5)
      val b3 = reborn.map(i => VecChange(nxt, i, "I", byId(ids.head)))

      val base = Files.createTempDirectory("idx-cdc")
      val (input, q, indexDir, tombDir) = attachTo(idx, base)
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b.toIndexedSeq); q.processAllAvailable()
      }
      q.stop()

      // the final surviving state, resolved driver-side from the op log
      val gone = toDelete.drop(5).toSet
      val finalState = ids.filterNot(gone).map { i =>
        val emb = if (reborn.contains(i)) byId(ids.head)
        else if (toUpdate.contains(i)) byId(ids.last)
        else byId(i)
        (i, emb)
      }
      val oneShot = rowSet(StreamingIndexIngest.encode(
        finalState.toSeq.toDF("vec_id", "embedding"), idx))
      val live = StreamingIndexCdc.readIndex(spark, indexDir, tombDir)
      assert(rowSet(live) == oneShot && oneShot.nonEmpty,
        "the CDC-maintained view must equal a scratch encode of the final state")
      // exactly M rows per survivor — no superseded version leaks through
      assert(live.count() == finalState.size.toLong * Similarity.PqM)

      // crash replay: re-applying a completed batch overwrites its own
      // partitions byte-identically
      StreamingIndexCdc.applyBatch(
        b2.toSeq.toDF("seq", "vec_id", "op", "embedding"),
        idx, indexDir, tombDir, batchId = 1L)
      assert(rowSet(StreamingIndexCdc.readIndex(spark, indexDir, tombDir))
        == oneShot, "a replayed batch must change nothing")

      // compaction erases superseded history but RETAINS winning
      // tombstones (the UpsertStateStore rule)
      val compactIdx = base.resolve("compacted-index").toString
      val compactTomb = base.resolve("compacted-tomb").toString
      StreamingIndexCdc.compact(spark, indexDir, tombDir, compactIdx,
        compactTomb)
      assert(rowSet(StreamingIndexCdc.readIndex(spark, compactIdx,
        compactTomb)) == oneShot)
      // superseded/deleted vec_ids are physically gone post-compaction
      val onDisk = spark.read.parquet(compactIdx)
        .select("vec_id").distinct().as[Long].collect().toSet
      assert(gone.forall(!onDisk(_)))
      // exactly the still-deleted keys keep their tombstones (a reborn
      // key's outranked tombstone is dropped)
      val keptTombs = spark.read.parquet(compactTomb)
        .select("vec_id").as[Long].collect().toSet
      assert(keptTombs == gone)
      // resume-safety: a crash-replayed PRE-compaction batch (old encodes
      // of since-deleted keys, batch id 0 — which must not collide with
      // the compacted base partition) cannot resurrect deleted keys
      StreamingIndexCdc.applyBatch(
        b1.toSeq.toDF("seq", "vec_id", "op", "embedding"),
        idx, compactIdx, compactTomb, batchId = 0L)
      val afterReplay = StreamingIndexCdc.readIndex(spark, compactIdx,
        compactTomb)
      assert(rowSet(afterReplay) == oneShot,
        "a replayed old batch onto the compacted pair must change nothing")
      // ...including multiplicity: the physically-duplicated rows (base
      // partition + replayed batch) collapse to M rows per survivor
      assert(afterReplay.count() ==
        finalState.size.toLong * Similarity.PqM)
      // and a SECOND compaction from this replayed-onto-compacted state
      // must not bake those duplicates into its base partition: the
      // on-disk artifact itself (not just the read view) carries
      // exactly M rows per survivor
      val compact2Idx = base.resolve("compacted2-index").toString
      val compact2Tomb = base.resolve("compacted2-tomb").toString
      StreamingIndexCdc.compact(spark, compactIdx, compactTomb,
        compact2Idx, compact2Tomb)
      assert(spark.read.parquet(compact2Idx).count() ==
        finalState.size.toLong * Similarity.PqM,
        "re-compaction wrote duplicate rows into the base partition")

      // the maintained index SERVES: the full two-stage retrieval
      // through the live view answers external queries identically to a
      // scratch encode of the survivors — and a deleted vector can
      // never be an answer even though it still sits in the raw corpus
      // frame the refine stage reads
      val queries = Tables.table(spark, sf, "embeddings")
        .filter(col("vec_id") < Similarity.NumQueries)
        .select(col("vec_id").as("qid"), col("embedding"))
      val served = StreamingIndexCdc.serve(queries,
        StreamingIndexCdc.readIndex(spark, indexDir, tombDir),
        idx.corpus, idx).collect()
      assert(served.nonEmpty)
      served.foreach(r => assert(!gone(r.getAs[Long]("neighbor_id"))))
      val scratchServed = StreamingIndexCdc.serve(queries,
        StreamingIndexIngest.encode(
          finalState.toSeq.toDF("vec_id", "embedding"), idx),
        idx.corpus, idx).collect()
      assert(served.map(_.toString).sorted.toSeq ==
        scratchServed.map(_.toString).sorted.toSeq,
        "serving through the maintained view must equal a scratch build")
    } finally idx.unpersistAll()
  }

  test("kill/restart: the maintainer resumes from its checkpoint " +
      "exactly-once — the recovered view equals a one-shot encode") {
    val idx = StreamingSimScorer.buildIndex(spark, sf)
    try {
      val (byId, ids) = loadVecs(20)
      val inserts = ids.zipWithIndex.map { case (i, n) =>
        VecChange(n + 1L, i, "I", byId(i)) }
      // after the restart: delete 5 of the first half's keys, update 3
      val dels = ids.take(5).zipWithIndex.map { case (i, n) =>
        VecChange(100L + n, i, "D", Seq.empty) }
      val upds = ids.slice(5, 8).zipWithIndex.map { case (i, n) =>
        VecChange(200L + n, i, "U", byId(ids.last)) }

      val base = Files.createTempDirectory("idx-cdc-restart")
      val (input, q1, indexDir, tombDir) = attachTo(idx, base)
      input.addData(inserts.toIndexedSeq)
      q1.processAllAvailable()
      q1.stop()
      // kill window: these arrive while no query is running; the restart
      // reuses the SAME MemoryStream and checkpoint (attachTo is only
      // the wiring — the second attach recovers from base's checkpoint)
      input.addData((dels ++ upds).toIndexedSeq)
      val q2 = StreamingIndexCdc.attach(
        input.toDF().select(col("seq"), col("vecId").as("vec_id"),
          col("op"), col("embedding")),
        idx, indexDir, tombDir, base.resolve("ckpt").toString)
      q2.processAllAvailable()
      q2.stop()

      val goneIds = ids.take(5).toSet
      val finalState = ids.filterNot(goneIds).map { i =>
        (i, if (ids.slice(5, 8).contains(i)) byId(ids.last) else byId(i))
      }
      val oneShot = rowSet(StreamingIndexIngest.encode(
        finalState.toSeq.toDF("vec_id", "embedding"), idx))
      val live = StreamingIndexCdc.readIndex(spark, indexDir, tombDir)
      assert(rowSet(live) == oneShot && oneShot.nonEmpty,
        "the restarted maintainer must land exactly the final state")
      assert(live.count() == finalState.size.toLong * Similarity.PqM)
    } finally idx.unpersistAll()
  }

  test("a delete-only feed leaves a readable (empty-upsert) index") {
    val idx = StreamingSimScorer.buildIndex(spark, sf)
    try {
      val base = Files.createTempDirectory("idx-cdc-delonly")
      val (indexDir, tombDir) = (base.resolve("index").toString,
        base.resolve("tomb").toString)
      val dels = Seq((1L, 42L, "D", Seq.empty[Float]),
        (2L, 43L, "D", Seq.empty[Float]))
        .toDF("seq", "vec_id", "op", "embedding")
      StreamingIndexCdc.applyBatch(dels, idx, indexDir, tombDir, 0L)
      // no upsert has ever landed: the read view is EMPTY, not an error
      assert(StreamingIndexCdc.readIndex(spark, indexDir, tombDir)
        .count() == 0L)
    } finally idx.unpersistAll()
  }

  test("a delete-free feed reads with an empty tombstone side") {
    val idx = StreamingSimScorer.buildIndex(spark, sf)
    try {
      val base = Files.createTempDirectory("idx-cdc-nodel")
      val (indexDir, tombDir) = (base.resolve("index").toString,
        base.resolve("tomb").toString)
      val batch = Tables.table(spark, sf, "embeddings")
        .filter(col("vec_id") >= Similarity.NumQueries &&
          col("vec_id") < Similarity.NumQueries + 5)
        .select(monotonically_increasing_id().as("seq"), col("vec_id"),
          lit("I").as("op"), col("embedding"))
      StreamingIndexCdc.applyBatch(batch, idx, indexDir, tombDir, 0L)
      val live = StreamingIndexCdc.readIndex(spark, indexDir, tombDir)
      assert(live.count() == 5L * Similarity.PqM)
    } finally idx.unpersistAll()
  }
}
