package graft.streaming

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.events.ChangeEvent
import graft.functions.{HmacSha256, MaskRules}
import graft.sinks.DlqSink

/** The reference's critical path (SURVEY §3.1–3.2) as one Structured
  * Streaming pipeline:
  *
  *   readStream(JSONL change events) → validate → mask → dedup
  *     → foreachBatch { DLQ invalids ∥ fan out (upsert latest-state, …); commit }
  *
  * What replaces what (SURVEY §7.1):
  *  - `CommitLogReader.poll_for_new_events` (`src/cdc/reader.py:203-242`)
  *    → file streaming source + `Trigger.ProcessingTime` (default 100 ms,
  *    matching `config/pipeline.example.yaml:50`), `maxFilesPerTrigger`
  *    as the native backpressure the reference only declared
  *    (`src/config/settings.py:87-89`);
  *  - `OffsetManager` (`src/cdc/offset.py`) → the checkpoint/WAL;
  *  - per-row `ON CONFLICT` loops → set-based [[UpsertStateStore.upsert]];
  *  - transactional data+offset commit (`src/sinks/postgres.py:148-205`)
  *    → idempotent batchId-guarded merge + checkpoint sequencing.
  *
  * Masking and validation are Column expressions inside the streaming plan
  * (not driver loops), so Catalyst optimizes and codegens them per batch.
  */
object CdcPipeline {

  /** Mask PII/PHI values inside the envelope's `columns` map by key name —
    * plan-level `transform_values`, classification compiled from rules. */
  def maskEnvelope(rules: MaskRules)(df: DataFrame): DataFrame = {
    // foldLeft, not reduce: an empty field list (a rules file with only
    // pii_fields or only phi_fields) must compile to `false`, not throw
    def anyMatch(k: Column, fields: Seq[String]): Column =
      fields.foldLeft(lit(false))((acc, f) =>
        acc || lower(k).contains(lit(f)))
    df.withColumn("columns", transform_values(col("columns"), (k, v) =>
      when(anyMatch(k, rules.phiFields),
        HmacSha256.hmac_sha256(v, lit(rules.hmacKey)))
        .when(anyMatch(k, rules.piiFields), sha2(v, 256))
        .otherwise(v)))
  }

  /** Start the pipeline. One streaming query; fan-out to additional sinks
    * happens inside foreachBatch against the persisted batch (SURVEY §2.9
    * fan-out note). */
  def start(
      spark: SparkSession,
      eventsDir: String,
      stateDir: String,
      checkpointDir: String,
      dlqDir: String,
      rules: MaskRules = MaskRules(),
      triggerMs: Long = 100,
      maxFilesPerTrigger: Int = 1000,
      extraSinks: Seq[FanOut.Destination] = Nil,
      retryPolicy: graft.sinks.RetryPolicy = graft.sinks.RetryPolicy(),
      onBatch: Seq[FanOut.FanOutResult] => Unit = _ => ()): StreamingQuery =
    startFromRaw(spark,
      spark.readStream
        .schema(ChangeEvent.envelopeSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .json(eventsDir),
      stateDir, checkpointDir, dlqDir, rules, triggerMs, extraSinks,
      retryPolicy, onBatch)

  /** The pipeline over ANY streaming envelope frame — the JSON file source
    * ([[start]]) and the framed-binary commitlog DSv2 source (the
    * reference's real ingest entry point) produce the same envelope
    * columns, so everything downstream of the source is shared. */
  def startFromRaw(
      spark: SparkSession,
      raw: DataFrame,
      stateDir: String,
      checkpointDir: String,
      dlqDir: String,
      rules: MaskRules = MaskRules(),
      triggerMs: Long = 100,
      extraSinks: Seq[FanOut.Destination] = Nil,
      retryPolicy: graft.sinks.RetryPolicy = graft.sinks.RetryPolicy(),
      onBatch: Seq[FanOut.FanOutResult] => Unit = _ => ()): StreamingQuery = {

    val store = stateStore(stateDir)

    val masked = maskEnvelope(rules)(raw)
      .withColumn("event_key", ChangeEvent.eventKeyCol)
      // canonical partition+clustering key rendering = the upsert identity
      .withColumn("event_key_cols",
        expr("substring_index(event_key, ':', 3)"))
      .withColumn("captured_at",
        timestamp_micros(col("captured_at_micros")))
      // redelivery dedup within the watermark horizon (§2.5)
      .withWatermark("captured_at", "10 minutes")
      .dropDuplicatesWithinWatermark("event_key")

    masked.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val (valid, invalid) = ChangeEvent.validate(batch)
          // counting the invalid rows computes every partition of the
          // batch once, before any destination's clock starts: destination
          // latencies (the health input) then time their own writes, and
          // Spark's state-store commit check sees every dedup partition
          // even when a replay skips every write
          val invalidRows = invalid.count()
          // the validation DLQ runs beside the fan-out (DlqSink serializes
          // its appends with the fan-out's own DLQ handoffs). The batchId
          // marker makes the crash-replay path a no-op (the append itself
          // is not idempotent); batch_id rides along so any residual
          // duplicate from a crash INSIDE the append window is
          // identifiable. The marker lives on the DLQ path's own
          // filesystem, so a replay on another host sees it.
          val deadLettered = FanOut.inheriting(spark.sparkContext) {
            val vMarker = new Path(s"$dlqDir/_validation_batch_$batchId")
            val fs = vMarker.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (invalidRows > 0 && !fs.exists(vMarker)) {
              DlqSink.write(
                invalid.withColumnRenamed("_invalid_reason", "validation_reason")
                  .withColumn("batch_id", lit(batchId)),
                dlqDir, destination = "state-store",
                errorType = "ValidationError", errorMessage = "validation failed",
                failedAtMicros = System.currentTimeMillis() * 1000)
              fs.createNewFile(vMarker)
            }
          }(ExecutionContext.global)
          // per-destination retry + failure isolation + DLQ handoff
          // (reference main.py:123-155 semantics; see FanOut)
          val results =
            try FanOut.writeAll(valid, batchId,
              FanOut.Destination("state-store", retryPolicy, store.upsert)
                +: extraSinks,
              dlqDir)
            // the DLQ write reads the batch: never leave it running past
            // the unpersist below
            finally Await.ready(deadLettered, Duration.Inf)
          Await.result(deadLettered, Duration.Inf)
          onBatch(results)
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** The pipeline's state store: one upsert identity and one
    * last-write-wins order shared by the writer and [[currentState]], so
    * the read ranks base and delta rows exactly as a merge would. */
  def stateStore(stateDir: String): UpsertStateStore =
    new UpsertStateStore(stateDir,
      keyNames = Seq("keyspace", "table_name", "event_key_cols"),
      orderNames = Seq("timestamp_micros", "event_id"))

  /** Read the materialized latest state (the engine's analog of querying
    * the destination warehouse). */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    stateStore(stateDir).current(spark)

  /** Boot the pipeline from a [[graft.config.PipelineConfig]] — the
    * reference's `load_config → CDCPipeline(config)` path
    * (`src/config/loader.py:112-168`, `src/main.py`). Mapping:
    * `pipeline.poll_interval_ms` → trigger; `pipeline.batch_size` →
    * per-trigger admission (file granularity on the JSONL source; the
    * commitlog source takes it as `maxEntriesPerTrigger` exactly);
    * `retry.*` → every destination's [[graft.sinks.RetryPolicy]];
    * `dlq.directory` → DLQ root; `masking_rules_file` → [[MaskRules]];
    * each enabled destination → a [[FanOut.Destination]] whose writer
    * `sinkFor` builds (JDBC/versioned/hypertable in production, parquet in
    * the demo). Every fan-out result feeds `health` with up/down + the
    * retried-write latency, driving HEALTHY/DEGRADED/UNHEALTHY. */
  def startFromConfig(
      spark: SparkSession,
      cfg: graft.config.PipelineConfig,
      eventsDir: String,
      stateDir: String,
      checkpointDir: String,
      sinkFor: graft.config.DestinationSettings => (DataFrame, Long) => Unit,
      health: Option[graft.obs.HealthStatus] = None): StreamingQuery = {
    val policy = cfg.retry.toPolicy
    val rules = cfg.maskingRulesFile
      .map(f => MaskRules.fromYaml(f)).getOrElse(MaskRules())
    val dests = cfg.enabledDestinations.map(d =>
      FanOut.Destination(d.name, policy, sinkFor(d)))
    start(spark, eventsDir, stateDir, checkpointDir,
      dlqDir = cfg.dlqDirectory,
      rules = rules,
      triggerMs = cfg.pipeline.pollIntervalMs,
      maxFilesPerTrigger = cfg.pipeline.batchSize,
      extraSinks = dests,
      retryPolicy = policy,
      onBatch = results => health.foreach { h =>
        results.foreach(r => h.update(r.destination,
          up = r.outcome.isInstanceOf[graft.sinks.Retry.Succeeded[_]],
          latencyMs = r.durationMs.toDouble))
      })
  }
}
