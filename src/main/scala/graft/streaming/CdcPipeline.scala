package graft.streaming

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.events.ChangeEvent
import graft.fs.CommitFiles
import graft.functions.{Bound, HmacSha256, MaskRules}
import graft.sinks.DlqSink

/** The reference's critical path (SURVEY §3.1–3.2) as one Structured
  * Streaming pipeline:
  *
  *   readStream(JSONL change events) → validate → mask → dedup
  *     → foreachBatch { count; DLQ invalids ∥ fan out (upsert latest-state, …); commit }
  *
  * Inside a trigger the batch is persisted and counted (one job), then
  * every destination writes from that one cache. With two or more
  * destinations each write runs as one task per [[RowsPerWriteTask]]
  * rows: a trigger of a few thousand events writes one file per
  * destination, not one per core. The state store's write is O(batch):
  * the trigger writes the batch as a delta plus its commit marker, and
  * the O(state) fold of the deltas into a new base runs after the
  * trigger, on a thread of its own, once the deltas reach the base's
  * size ([[UpsertStateStore]]). Per-batch values (the batch id, DLQ
  * timestamps) reach generated code by reference
  * ([[graft.functions.Bound]]), so a trigger compiles no new classes
  * for them.
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
  *    → idempotent batchId-guarded delta marker + checkpoint sequencing.
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
    startFromRaw(spark, jsonSource(spark, eventsDir, maxFilesPerTrigger),
      stateDir, checkpointDir, dlqDir, rules, triggerMs, extraSinks,
      retryPolicy, onBatch)

  private def jsonSource(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(ChangeEvent.envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(eventsDir)

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
      onBatch: Seq[FanOut.FanOutResult] => Unit = _ => ()): StreamingQuery =
    launch(spark, raw, stateDir, checkpointDir, dlqDir, rules, triggerMs,
      extraSinks, retryPolicy, onBatch, name = None)

  private def launch(
      spark: SparkSession,
      raw: DataFrame,
      stateDir: String,
      checkpointDir: String,
      dlqDir: String,
      rules: MaskRules,
      triggerMs: Long,
      extraSinks: Seq[FanOut.Destination],
      retryPolicy: graft.sinks.RetryPolicy,
      onBatch: Seq[FanOut.FanOutResult] => Unit,
      name: Option[String]): StreamingQuery = {

    val store = stateStore(stateDir)
    val dlqMarkers = CommitFiles(spark, dlqDir)
    val dests = FanOut.Destination("state-store", retryPolicy, store.upsert) +:
      extraSinks

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

    val writer = masked.writeStream
    name.fold(writer)(writer.queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val (valid, invalid) = ChangeEvent.validate(batch)
          // one aggregate counts the batch and its invalid rows. It is the
          // only job before the fan-out, and it computes every partition of
          // the batch once, before any destination's clock starts:
          // destination latencies (the health input) then time their own
          // writes, and Spark's state-store commit check sees every dedup
          // partition even when a replay skips every write. The two
          // counts size the writes below (see writeTasks)
          val counts = batch.agg(count(lit(1)), count(ChangeEvent.invalidReason)).head()
          val invalidRows = counts.getLong(1)
          val validRows = counts.getLong(0) - invalidRows
          // the validation DLQ runs beside the fan-out (DlqSink serializes
          // its appends with the fan-out's own DLQ handoffs). The batchId
          // marker makes the crash-replay path a no-op (the append itself
          // is not idempotent); batch_id rides along so any residual
          // duplicate from a crash INSIDE the append window is
          // identifiable. The marker lives on the DLQ path's own
          // filesystem, so a replay on another host sees it. It is one
          // more write beside the destinations' when it sizes its tasks.
          val deadLettered = FanOut.inheriting(spark.sparkContext,
              Some(s"validation DLQ, batch $batchId")) {
            val vMarker = s"_validation_batch_$batchId"
            if (invalidRows > 0 && !dlqMarkers.exists(vMarker)) {
              deadLetterInvalid(sized(invalid, invalidRows, dests.size + 1), batchId, dlqDir)
              dlqMarkers.mark(vMarker)
            }
          }(ExecutionContext.global)
          // per-destination retry + failure isolation + DLQ handoff
          // (reference main.py:123-155 semantics; see FanOut), every
          // destination and its handoff reading the persisted batch
          val results =
            try FanOut.writeAll(sized(valid, validRows, dests.size), batchId,
              dests, dlqDir)
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

  /** Append a batch's invalid rows to the validation DLQ, tagged with the
    * batch id. Every per-batch value reaches generated code by reference
    * ([[graft.functions.Bound]]), so one compile serves every trigger. */
  private[graft] def deadLetterInvalid(invalid: DataFrame, batchId: Long,
      dlqDir: String): Unit =
    DlqSink.write(
      invalid.withColumnRenamed("_invalid_reason", "validation_reason")
        .withColumn("batch_id", Bound.long(batchId)),
      dlqDir, destination = "state-store",
      errorType = "ValidationError", errorMessage = "validation failed",
      failedAtMicros = System.currentTimeMillis() * 1000)

  /** Rows one write task takes. Every task of a destination's write
    * writes its own file and is committed and renamed on its own, so a
    * trigger's fixed cost grows with its write tasks, and every later scan
    * of a delta, base or bucket opens every file. The batch arrives in
    * one partition per core (the dedup shuffle's), but the fan-out already
    * runs two or more destinations side by side, so one task each keeps
    * the cores busy. Measured on a 4-core host, three concurrent parquet
    * writes of an envelope-shaped frame, one task each against four: 386
    * against 462 ms at 10,000 rows, 1,099 against 1,200 ms at 100,000, and
    * 3,558 against 3,041 ms at 400,000. A trigger of the reference's size
    * (`batch_size` ≤ 10,000, `settings.py:85`) therefore writes one file
    * per destination, and a large file-source backlog keeps more tasks. */
  private[graft] val RowsPerWriteTask = 100000L

  /** Tasks for one of `writes` side-by-side writes of `rows` rows: one
    * per [[RowsPerWriteTask]] rows, at least one; `None` keeps the batch's
    * partitions for a lone write, which one task would run on one core. */
  private[graft] def writeTasks(rows: Long, writes: Int): Option[Int] =
    if (writes < 2) None
    else Some(math.max(1L, (rows + RowsPerWriteTask - 1) / RowsPerWriteTask).toInt)

  /** `df` coalesced (no shuffle) to its [[writeTasks]]. */
  private def sized(df: DataFrame, rows: Long, writes: Int): DataFrame =
    writeTasks(rows, writes).fold(df)(df.coalesce)

  /** The pipeline's state store: one upsert identity and one
    * last-write-wins order shared by the writer and [[currentState]], so
    * the read ranks base and delta rows exactly as a fold does. */
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
    * the demo). Every fan-out result feeds `health` through
    * [[graft.obs.HealthStatus.record]]; a [[graft.obs.MetricsListener]]
    * built on the same `health` adds the streaming query itself, under
    * its [[queryName]]. */
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
    launch(spark, jsonSource(spark, eventsDir, cfg.pipeline.batchSize),
      stateDir, checkpointDir,
      dlqDir = cfg.dlqDirectory,
      rules = rules,
      triggerMs = cfg.pipeline.pollIntervalMs,
      extraSinks = dests,
      retryPolicy = policy,
      onBatch = results => health.foreach(_.record(results)),
      name = Some(queryName(cfg)))
  }

  /** The streaming query's name under [[startFromConfig]], and so its
    * `/health` dependency key: `cdc-<cassandra.keyspace>`, known from the
    * config before the query starts and the same across restarts. */
  def queryName(cfg: graft.config.PipelineConfig): String =
    s"cdc-${cfg.source.keyspace}"
}
