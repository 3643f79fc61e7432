package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Bound

/** Dead-letter queue as partitioned JSON-lines.
  *
  * Mirrors `src/dlq/writer.py:39-129`: failed events are appended as JSONL
  * with destination + error metadata and a failure date; files are
  * discoverable and countable per destination. Instead of the reference's
  * one-file-per-day naming (`dlq_{dest}_{date}.jsonl`, `writer.py:73-76`)
  * we partition by `destination`/`failed_date` directories — the same
  * retrieval semantics, but written in parallel by many executors and
  * partition-pruned on read at any scale.
  */
object DlqSink {

  /** Append failed rows. `df` is any DataFrame of failed events; error
    * context is attached as columns (spec `data-model.md:233-244`):
    * `dlq_id`, `error_type/_message`, `stack_trace`, `retry_count`,
    * `first_failure_at_micros`, and `failed_at_micros` (= dlq_written_at). */
  /** Serializes concurrent appends into one DLQ root: two destinations
    * failing in the same fan-out batch would otherwise append
    * simultaneously and share the Hadoop committer's `_temporary` staging
    * dir — the first job's cleanup deletes the second's staged files
    * (exactly the corruption FanOut's no-shared-paths rule exists for;
    * the DLQ root is the one deliberately shared path). Driver-level lock:
    * appends are small and rare, contention is not a concern. */
  private val appendLock = new Object

  def write(df: DataFrame, dlqDir: String, destination: String,
      errorType: String, errorMessage: String, failedAtMicros: Long,
      retryCount: Int = 0, firstFailureAtMicros: Long = 0L,
      stackTrace: String = ""): Unit = appendLock.synchronized {
    // fail fast on payload/meta name collisions: withColumn would silently
    // REPLACE a payload column named e.g. `destination`, and replay's
    // drop(MetaCols) would then delete the original data permanently (the
    // meta names are the reference's spec fields, data-model.md:233-244,
    // so they cannot be renamed — the payload must)
    val clash = df.columns.toSet.intersect(MetaCols.toSet - "batch_id")
    require(clash.isEmpty,
      s"DLQ payload columns ${clash.mkString(", ")} collide with DLQ meta " +
        "columns; rename them before dead-lettering")
    df.withColumn("dlq_id", Bound.uuid())
      .withColumn("destination", lit(destination))
      .withColumn("error_type", lit(errorType))
      .withColumn("error_message", lit(errorMessage))
      .withColumn("stack_trace", lit(stackTrace))
      .withColumn("retry_count", lit(retryCount))
      .withColumn("first_failure_at_micros",
        Bound.long(if (firstFailureAtMicros > 0) firstFailureAtMicros else failedAtMicros))
      .withColumn("failed_at_micros", Bound.long(failedAtMicros))
      .withColumn("failed_date",
        date_format(timestamp_micros(lit(failedAtMicros)), "yyyy-MM-dd"))
      .write.mode("append")
      .partitionBy("destination", "failed_date")
      .json(dlqDir)
  }

  /** All DLQ rows for one destination (partition-pruned scan). An empty
    * or fully-compacted queue reads as an empty frame WITH the DLQ meta
    * schema (payload columns are caller-defined and unknowable when no
    * letters exist), so downstream selects/filters on `destination`,
    * `error_type`, … behave uniformly instead of throwing on a zero-column
    * frame. */
  def read(spark: SparkSession, dlqDir: String, destination: String): DataFrame =
    try spark.read.json(dlqDir).filter(col("destination") === destination)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" ||
            e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], MetaSchema)
    }

  /** Count per destination (`writer.py:113-129`). */
  def count(spark: SparkSession, dlqDir: String, destination: String): Long =
    read(spark, dlqDir, destination).count()

  /** Columns [[write]] attaches — stripped again on [[replay]]. */
  private val MetaCols = Seq("dlq_id", "destination", "error_type",
    "error_message", "stack_trace", "retry_count", "first_failure_at_micros",
    "failed_at_micros", "failed_date", "batch_id")

  /** Meta-column schema as the JSON scan infers it (integrals → LONG) —
    * the shape an empty queue presents so projections never fail. */
  private val MetaSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("dlq_id", StringType),
      StructField("destination", StringType),
      StructField("error_type", StringType),
      StructField("error_message", StringType),
      StructField("stack_trace", StringType),
      StructField("retry_count", LongType),
      StructField("first_failure_at_micros", LongType),
      StructField("failed_at_micros", LongType),
      StructField("failed_date", StringType),
      StructField("batch_id", LongType)))
  }

  final case class ReplayResult(destination: String, rows: Long,
      succeeded: Boolean, error: Option[Throwable])

  /** Replay one destination's dead letters — the recovery path after the
    * destination heals (the reference tracks `retry_count` for exactly
    * this; `data-model.md:233-244`). All queued rows re-attempt as ONE
    * batch under the caller's `replayBatchId`: destination writes are
    * batchId-idempotent, so a replay that crashes mid-write re-runs
    * safely, and no driver loop over failed batches is needed (the plan
    * stays fully distributed).
    *
    * Compaction deletes exactly the FILES the replay read (via
    * `input_file_name`), never the partition directory: letters appended
    * concurrently while the replay is in flight land in new files and
    * survive, and partition-name escaping can't desynchronize the path.
    * The file list is driver-side METADATA bounded by file count (like
    * any committer), not data. A file whose delete fails is reported as
    * `succeeded = false` so the caller knows duplicates are possible on
    * the next replay.
    *
    * `preserveBatchIds = true` re-drives each letter group under its
    * ORIGINAL `batch_id` (one write per failed batch — a bounded driver
    * loop) instead of one write under `replayBatchId`. Use it for
    * batchId-idempotent destinations: a false-positive timeout whose
    * abandoned attempt later SUCCEEDS has then already committed under
    * the same id the replay reuses, so the destination dedupes the double
    * delivery — under a fresh `replayBatchId` it cannot (idempotence
    * holds per batchId, not across ids). Letters with a null `batch_id`
    * (foreign/legacy producers) fall back to `replayBatchId`. */
  def replay(spark: SparkSession, dlqDir: String, destination: String,
      replayBatchId: Long, write: (DataFrame, Long) => Unit,
      policy: RetryPolicy = RetryPolicy(),
      preserveBatchIds: Boolean = false): ReplayResult = {
    // Pin the file list FIRST, then re-read exactly those files: a replay
    // built on the directory read could silently diverge from `files` if
    // a cached block is lost mid-write and the recomputation re-lists the
    // path — rows from letters appended mid-replay would be delivered but
    // their files would survive compaction and re-deliver next replay.
    val files = read(spark, dlqDir, destination)
      .withColumn("_src_file", input_file_name())
      .select("_src_file").distinct()
      .collect().map(_.getString(0)) // bounded metadata: one row per file
    if (files.isEmpty) return ReplayResult(destination, 0, succeeded = true, None)
    val letters = spark.read.json(files: _*).persist()
    try {
      val rows = letters.count()
      // partition columns (destination, failed_date) are dir-derived and
      // absent from the leaf-file read; drop ignores missing names
      val payload = letters.drop(MetaCols: _*)
      def drive(): Unit = {
        // batch_id is a caller-supplied payload column (FanOut attaches it;
        // foreign producers may not) — a queue with no such column at all,
        // or one whose batch_id round-tripped through JSONL as a
        // non-integral type (string/double from a foreign producer),
        // degrades to the single replayBatchId write instead of throwing
        val batchIdIsIntegral =
          letters.columns.contains("batch_id") && (letters.schema("batch_id")
            .dataType match {
            case _: org.apache.spark.sql.types.LongType |
                _: org.apache.spark.sql.types.IntegerType |
                _: org.apache.spark.sql.types.ShortType => true
            case _ => false
          })
        if (preserveBatchIds && batchIdIsIntegral) {
          // one row per FAILED BATCH — bounded metadata, not data; the
          // whole loop is idempotent under retry because each group
          // re-writes under the same stable id every attempt
          val ids = letters.select(col("batch_id").cast("long")).distinct()
            .collect()
            .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
          ids.foreach {
            case Some(b) =>
              write(letters.filter(col("batch_id") === b).drop(MetaCols: _*), b)
            case None =>
              write(letters.filter(col("batch_id").isNull).drop(MetaCols: _*),
                replayBatchId)
          }
        } else write(payload, replayBatchId)
      }
      Retry.withRetry(policy)(drive()) match {
        case Retry.Succeeded(_, _) =>
          val conf = spark.sparkContext.hadoopConfiguration
          // eager map, THEN forall: one undeletable file must not
          // short-circuit the rest of the compaction (each survivor is a
          // duplicate delivery on the next replay)
          val allDeleted = files.map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            try p.getFileSystem(conf).delete(p, false)
            catch { case _: java.io.IOException => false }
          }.forall(identity)
          ReplayResult(destination, rows, succeeded = allDeleted,
            if (allDeleted) None
            else Some(new java.io.IOException(
              "replayed but some DLQ files could not be deleted; " +
                "next replay may re-deliver")))
        case Retry.Permanent(err, _, _) =>
          ReplayResult(destination, rows, succeeded = false, Some(err))
        case Retry.Exhausted(err, _, _) =>
          ReplayResult(destination, rows, succeeded = false, Some(err))
      }
    } finally { letters.unpersist(); () }
  }
}
