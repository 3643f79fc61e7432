package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}
import graft.fs.CommitFiles

/** A change event on the vector corpus — the commit-log op convention
  * (I insert / U update / D delete, `ChangeEvent`'s op byte) aimed at
  * the ANN index. `seq` is the change's commit-log position (the total
  * order CDC guarantees per key); deletes carry no embedding. */
final case class VecChange(seq: Long, vecId: Long, op: String,
    embedding: Seq[Float])

/** CDC-driven IVF-PQ index maintenance — the full change-feed story the
  * reference's pipeline applies to warehouse tables, applied to the ANN
  * index: [[StreamingIndexIngest]] handles an insert-only feed; this
  * consumes a MIXED I/U/D stream. Per micro-batch (foreachBatch):
  * the batch's last op per key wins (by `seq` — the same LWW rule as
  * the upsert sink), upserts are assigned + PQ-encoded through the
  * FROZEN artifacts and appended as versioned index rows, deletes land
  * as tombstone rows. Both sides write `batch_id=N` overwrite
  * partitions — idempotent under crash replay.
  *
  * The read view ([[readIndex]]) resolves versions by the last-write-wins
  * rule of [[UpsertStateStore]]: per vector the highest-`seq` event
  * wins; a winning tombstone removes the vector, a winning upsert
  * serves its (single) encode. [[compact]] materializes the view into a
  * reserved `batch_id=-1` base partition and RETAINS the still-winning
  * tombstones (the store's rule: a replayed pre-compaction batch must
  * still find the tombstone that outranks it, or deleted keys
  * resurrect) — the OPTIMIZE FINAL analog
  * for the index. Resuming maintenance onto the compacted pair with a
  * fresh checkpoint is safe: streaming batch ids start at 0 and never
  * touch the base partition.
  *
  * Shape at 100 TB: per-batch cost is batch-proportional (broadcast
  * artifacts; no corpus reads on the write path; the micro-batch frame
  * is persisted across its two sink writes). The version resolution in
  * the read view is one shuffle keyed on vec_id over index rows — the
  * read-amplification compaction exists to erase, on the same cadence a
  * versioned warehouse sink compacts. All paths go through the Hadoop
  * filesystem of the index URI, never the local filesystem. */
object StreamingIndexCdc {

  /** The reserved base partition [[compact]] writes; streaming batch ids
    * are non-negative, so maintenance resumed on a compacted index can
    * never overwrite it. */
  val CompactedBatchId = -1L

  private val TombSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("seq", LongType)))

  /** Data-file schema of one encoded index row ([[StreamingIndexIngest
    * .encode]] plus the version stamp); `batch_id`/`cid` live in the
    * directory structure and are appended by partition discovery. */
  private val EncSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("nrm", DoubleType),
    StructField("m", IntegerType), StructField("code", IntegerType),
    StructField("seq", LongType)))

  /** Apply ONE batch of change events `(seq, vec_id, op, embedding)` to
    * the on-disk index — the foreachBatch body, callable directly for
    * batch backfills and replay. Last op per key (highest `seq`) wins
    * within the batch; I and U are the same operation against an index
    * (encode + version-append), as in any upsert sink. CDC guarantees a
    * per-key total order on `seq`, but a feed that violates it must not
    * break crash-replay idempotence — equal-seq ties resolve
    * deterministically: delete outranks upsert (the tombstone tie rule
    * [[LatestStateProcessor]] applies), then op byte descending. The
    * resolved frame is persisted across the two sink writes (index +
    * tombstones) so the LWW window and the source scan run once per
    * batch. */
  def applyBatch(batch: DataFrame, idx: StreamingSimScorer.Index,
      indexDir: String, tombDir: String, batchId: Long,
      corpusDir: Option[String] = None): Unit = {
    val latest = batch
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("seq").desc,
          (col("op") === "D").desc, col("op").desc)))
      .filter(col("rn") === 1)
      .persist()
    try {
      val ups = latest.filter(col("op") =!= "D")
        .select(col("vec_id"), col("seq"), col("embedding"))
      val dels = latest.filter(col("op") === "D").select("vec_id", "seq")
      StreamingIndexIngest
        .encode(ups.select("vec_id", "embedding"), idx)
        .join(ups.select("vec_id", "seq"), "vec_id")
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$indexDir/batch_id=$batchId")
      dels.write.mode("overwrite").parquet(s"$tombDir/batch_id=$batchId")
      // optionally maintain the RAW survivor corpus beside the encodes —
      // the retrain input [[readSurvivors]] resolves and
      // [[IndexDeployment.rebuildFromCdc]] closes the lifecycle loop on
      // (tombstones are shared with the index store). Same idempotent
      // batch_id overwrite; the persisted frame covers all three writes.
      corpusDir.foreach(cd =>
        ups.write.mode("overwrite").parquet(s"$cd/batch_id=$batchId"))
    } finally { latest.unpersist(); () }
  }

  /** Attach the maintainer to a streaming change frame
    * `(seq, vec_id, op, embedding)`. */
  def attach(changeStream: DataFrame, idx: StreamingSimScorer.Index,
      indexDir: String, tombDir: String, checkpointDir: String,
      corpusDir: Option[String] = None): StreamingQuery =
    changeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idx, indexDir, tombDir, batchId, corpusDir)
      }
      .start()

  private def emptyOf(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)

  /** Tombstones, tolerant of a delete-free feed: schema-explicit read, so
    * `batch_id=N` dirs with no part files (or no dir at all) read as an
    * empty frame, never a schema-inference error. */
  private def tombstones(s: SparkSession, tombDir: String): DataFrame =
    if (CommitFiles.exists(s, tombDir))
      s.read.schema(TombSchema).parquet(tombDir).select("vec_id", "seq")
    else emptyOf(s, TombSchema)

  /** Versioned encode rows, with the same empty-feed tolerance as
    * [[tombstones]] (a delete-only feed leaves upsert partitions with no
    * part files), and `cid` normalized back to the LongType the encode
    * contract writes — partition-column inference would otherwise hand
    * readers an IntegerType `cid`. */
  private def encoded(s: SparkSession, indexDir: String): DataFrame = {
    val base =
      if (CommitFiles.exists(s, indexDir)) s.read.schema(EncSchema).parquet(indexDir)
      else emptyOf(s, EncSchema)
    val withCid =
      if (base.columns.contains("cid")) base
      else base.withColumn("cid", lit(null))
    withCid.select(col("vec_id"), col("seq"), col("nrm"), col("m"),
      col("code"), col("cid").cast(LongType).as("cid"))
  }

  /** Per-vector winning version across encodes and tombstones: `(vec_id,
    * seq, deleted)` — the single resolution rule [[readIndex]] and
    * [[compact]] share. */
  private def winners(enc: DataFrame, tmb: DataFrame): DataFrame =
    enc.select("vec_id", "seq").withColumn("deleted", lit(false))
      .unionByName(tmb.withColumn("deleted", lit(true)))
      .groupBy("vec_id")
      .agg(max(struct(col("seq"), col("deleted"))).as("v"))
      .select(col("vec_id"), col("v.seq").as("seq"),
        col("v.deleted").as("deleted"))

  /** Surviving encode rows for the given winner set — the single
    * resolution-and-dedup rule [[readIndex]] AND [[compact]] read
    * through (a compaction that skipped the dedup would bake a
    * replayed batch's byte-identical duplicates into its base
    * partition permanently). A batch replayed ONTO a compacted index
    * duplicates its rows byte-identically (base partition + replayed
    * batch_id) — encode is deterministic, so collapsing per (vector,
    * subspace) is value-deterministic: exactly M rows per live
    * vector. */
  private def liveRows(enc: DataFrame, win: DataFrame): DataFrame =
    enc.join(win.filter(!col("deleted")).select("vec_id", "seq"),
        Seq("vec_id", "seq"))
      .dropDuplicates("vec_id", "m")

  private val RawSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("seq", LongType),
    StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  /** The surviving RAW vectors `(vec_id, embedding)` of a maintained
    * corpus store ([[applyBatch]]'s `corpusDir` side) — the [[readIndex]]
    * version-resolution rule applied to raw rows: per vector the
    * highest-seq event wins across corpus versions AND tombstones; a
    * winning tombstone removes the vector. Replayed batches duplicate
    * rows byte-identically, so the per-key collapse is
    * value-deterministic. This view is the RETRAIN input that closes the
    * lifecycle loop: quantizers rebuilt from it see exactly what the
    * index serves. */
  def readSurvivors(s: SparkSession, corpusDir: String,
      tombDir: String, keepSeq: Boolean = false): DataFrame = {
    val raw =
      if (CommitFiles.exists(s, corpusDir))
        s.read.schema(RawSchema).parquet(corpusDir)
          .select("vec_id", "seq", "embedding")
      else emptyOf(s, RawSchema)
    val surv = raw.join(winners(raw, tombstones(s, tombDir))
        .filter(!col("deleted")).select("vec_id", "seq"),
        Seq("vec_id", "seq"))
      .dropDuplicates("vec_id")
    // keepSeq exposes the winning version, so a consumer can audit
    // VERSION coverage (IndexDeployment's rebuild guard), not just
    // vector existence
    if (keepSeq) surv.select("vec_id", "seq", "embedding")
    else surv.select("vec_id", "embedding")
  }

  /** The live index — version resolution over the raw versioned rows:
    * per vector, the highest-`seq` event wins across encodes AND
    * tombstones; survivors serve exactly their winning encode's rows.
    * Output columns: the [[StreamingIndexIngest.encode]] contract
    * `(vec_id, nrm, m, code, cid)` plus `seq`. */
  def readIndex(s: SparkSession, indexDir: String,
      tombDir: String): DataFrame = {
    val enc = encoded(s, indexDir)
    liveRows(enc, winners(enc, tombstones(s, tombDir)))
      .select("vec_id", "seq", "nrm", "m", "code", "cid")
  }

  /** Answer queries THROUGH the CDC-maintained index — the end of the
    * loop: change feed → [[applyBatch]] → [[readIndex]] → answers. The
    * live view supplies the inverted-list assignment and the PQ codes
    * (so tombstoned vectors can never be candidates, let alone
    * answers); the frozen artifacts supply probing and the ADC table;
    * `corpus` supplies raw vectors for the exact refine stage — it MAY
    * still contain deleted vectors (an upstream table is compacted on
    * its own cadence): the candidate set, not the corpus scan, is what
    * delete propagation gates. Spec-proven bit-equal to serving a
    * scratch-built index over the surviving vectors. */
  def serve(queries: DataFrame, live: DataFrame, corpus: DataFrame,
      idx: StreamingSimScorer.Index,
      excludeSelfIds: Boolean = false): DataFrame =
    graft.operators.Similarity.ivfPqServe(queries, corpus, idx.cents,
      idx.cb, m = idx.m, subDim = idx.subDim,
      excludeSelfIds = excludeSelfIds,
      // the live view carries M rows per vector (one per subspace);
      // the assignment seam wants ONE — all M share the vector's cid,
      // so the collapse is value-deterministic, and without it every
      // candidate row fans the ADC join out M× for nothing
      assigned = Some(live.select("vec_id", "cid")
        .dropDuplicates("vec_id")),
      corpusCodes = Some(live.select("vec_id", "nrm", "m", "code")))

  /** Materialize the live view into a fresh index whose base partition is
    * the reserved [[CompactedBatchId]], drop superseded versions, and
    * RETAIN the still-winning tombstones in `outTombDir` — the explicit
    * compaction (OPTIMIZE FINAL analog). Resuming the CDC stream onto
    * `(outIndexDir, outTombDir)` is safe: batch 0 of a fresh checkpoint
    * cannot collide with the base partition, and a crash-replayed
    * pre-compaction batch carrying a deleted key's old encode still
    * finds the tombstone that outranks it. */
  def compact(s: SparkSession, indexDir: String, tombDir: String,
      outIndexDir: String, outTombDir: String): Unit = {
    val enc = encoded(s, indexDir)
    val win = winners(enc, tombstones(s, tombDir)).persist()
    try {
      liveRows(enc, win)
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$outIndexDir/batch_id=$CompactedBatchId")
      win.filter(col("deleted")).select("vec_id", "seq")
        .write.mode("overwrite")
        .parquet(s"$outTombDir/batch_id=$CompactedBatchId")
    } finally { win.unpersist(); () }
  }
}
