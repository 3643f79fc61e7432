package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
  StringType, StructField, StructType}
import graft.fs.CommitFiles

/** One change event aimed at the SCD2 maintainer — the q69 input shape
  * (`events` rows: the per-key change feed the commit log delivers in
  * order). */
final case class Scd2Event(user_id: Long, event_id: Long,
    event_type: String, value: Double, ts_us: Long)

/** One validity-interval row of the maintained history — exactly
  * [[graft.operators.CoreQueries.q69Scd2History]]'s output contract. */
final case class Scd2Version(user_id: Long, version_event_id: Long,
    state_type: String, state_value: Double, valid_from_us: Long,
    valid_to_us: Option[Long], is_current: Boolean)

/** Streaming SCD Type-2 historization — the in-stream form of the
  * historized upsert the reference's warehouses maintain via
  * triggers/MERGE, and the online twin of batch q69: per entity, a
  * `ValueState` holds the OPEN version; every arriving change CLOSES it
  * (valid_to = the change's timestamp) and — unless it is the delete
  * marker — OPENS its own version. The delete marker only closes: a key
  * whose last event is the marker ends with no current row, q69's
  * final-event rule.
  *
  * Emission is update-shaped, like a MERGE against the history table:
  * each event emits the closed prior row (now with its `valid_to_us`)
  * and, for non-deletes, its own provisional open row — downstream the
  * latest emission per (entity, version) wins, a closed row always
  * superseding its open form ([[readHistory]]). Ordering: the feed is
  * the commit log, per-key ordered across batches (the same contract
  * every maintainer here assumes); WITHIN a micro-batch arrival order
  * is not guaranteed, so the processor replays its batch in
  * `(ts_us, event_id)` order — q69's exact window order.
  *
  * Shape at 100 TB: state is one open version per LIVE entity (closed
  * history lives in the store, not in state), emission per batch ∝
  * 2× batch size, and the store write is an idempotent `batch_id`
  * overwrite partition — crash replay of a batch regenerates
  * byte-identical rows from the checkpointed state. [[compact]] folds
  * the batch-partition history into a reserved `batch_id=-1` base on a
  * cadence, so [[readHistory]]'s version resolution reads base + tail
  * instead of every partition ever written.
  *
  * Bounding state for silent entities — the offset-retention idea
  * applied to dimension state — comes in two flavors:
  *
  *  - raw `TTLConfig` eviction BREAKS the one-open-version invariant
  *    for the evicted key: its open row stays `is_current=true` with a
  *    null `valid_to_us` forever (no closing emission fires at
  *    eviction), and the key's next event opens a SECOND current
  *    version, so [[readHistory]] can report two current rows for one
  *    entity. Configure a TTL only when downstream tolerates an
  *    eviction-torn history (treat the later `valid_from_us` as the
  *    live one);
  *  - [[historyEvictClosed]] keeps the invariant: instead of state-store
  *    TTL it registers a per-key processing-time TIMER, and at expiry
  *    EMITS the closing row (`valid_to_us` = the eviction deadline,
  *    `is_current=false`) before clearing the state — every eviction
  *    leaves a closed history, never a stranded current row. The
  *    deadline lives in the processing-time domain (eviction is a
  *    wall-clock policy), so event-driven rows stay byte-deterministic
  *    under replay while eviction-close rows are deterministic given
  *    the timer that fired.
  *
  * The default [[TTLConfig.NONE]] keeps state for every live entity. */
object StreamingScd2 {

  /** The reserved base partition [[compact]] writes; streaming batch ids
    * are non-negative, so a maintainer resumed on a compacted store can
    * never overwrite it. */
  val CompactedBatchId = -1L

  // `private[streaming]` for the same state-encoder codegen reason as
  // LatestStateProcessor.Stored
  private[streaming] final case class Open(event_id: Long,
      event_type: String, value: Double, ts_us: Long)

  class Processor(ttl: TTLConfig, evictCloseMs: Option[Long] = None)
      extends StatefulProcessor[Long, Scd2Event, Scd2Version] {
    @transient private var open: ValueState[Open] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // in evict-close mode the TIMER is the eviction — a state-store
      // TTL beside it could silently evict first and strand the open row
      open = getHandle.getValueState[Open]("open",
        Encoders.product[Open],
        if (evictCloseMs.isDefined) TTLConfig.NONE else ttl)

    override def handleInputRows(key: Long, rows: Iterator[Scd2Event],
        timerValues: TimerValues): Iterator[Scd2Version] = {
      val ordered = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = Seq.newBuilder[Scd2Version]
      var cur = if (open.exists()) Some(open.get()) else None
      ordered.foreach { e =>
        cur.foreach { o =>
          out += Scd2Version(key, o.event_id, o.event_type, o.value,
            o.ts_us, Some(e.ts_us), is_current = false)
        }
        if (e.event_type != "error") {
          cur = Some(Open(e.event_id, e.event_type, e.value, e.ts_us))
          out += Scd2Version(key, e.event_id, e.event_type, e.value,
            e.ts_us, None, is_current = true)
        } else cur = None
      }
      cur match {
        case Some(o) => open.update(o)
        case None => open.clear()
      }
      // every event resets the key's eviction deadline (single live
      // timer per key: drop the old one before arming the new)
      evictCloseMs.foreach { ms =>
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        if (cur.isDefined)
          getHandle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + ms)
      }
      out.result().iterator
    }

    /** Eviction with a closed history: emit the open version's closing
      * row (valid_to = the deadline that fired) and drop the state —
      * the key's next event opens a fresh version against an already
      * CLOSED predecessor, so at most one current row ever exists. */
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Scd2Version] =
      if (open.exists()) {
        val o = open.get()
        open.clear()
        Iterator.single(Scd2Version(key, o.event_id, o.event_type,
          o.value, o.ts_us,
          Some(expiredTimerInfo.getExpiryTimeInMs() * 1000L),
          is_current = false))
      } else Iterator.empty
  }

  /** Wire a change stream through the maintainer (update-mode output).
    * Requires the RocksDB state-store provider
    * ([[StateStores.useRocksDb]]). */
  def history(events: Dataset[Scd2Event],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Scd2Version] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new Processor(ttl), StateStores.timeModeFor(ttl),
        OutputMode.Update())
  }

  /** [[history]] with invariant-keeping eviction: silent entities are
    * dropped after `evictCloseMs` of processing time, but through a
    * per-key timer that EMITS the closing row first — see the class
    * scaladoc. Requires the RocksDB state-store provider (timers use a
    * second column family, as TTL does). */
  def historyEvictClosed(events: Dataset[Scd2Event],
      evictCloseMs: Long): Dataset[Scd2Version] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(
        new Processor(TTLConfig.NONE, Some(evictCloseMs)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  private val RowSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("version_event_id", LongType),
    StructField("state_type", StringType),
    StructField("state_value", DoubleType),
    StructField("valid_from_us", LongType),
    StructField("valid_to_us", LongType),
    StructField("is_current", BooleanType)))

  /** Attach maintainer + store: emitted version rows land in idempotent
    * `batch_id=N` overwrite partitions under `storeDir`. */
  def attach(events: Dataset[Scd2Event], storeDir: String,
      checkpointDir: String,
      ttl: TTLConfig = TTLConfig.NONE): StreamingQuery =
    attachSink(history(events, ttl), storeDir, checkpointDir)

  /** [[attach]] with [[historyEvictClosed]]'s invariant-keeping
    * eviction — the deployable form of the timer-closed maintainer. */
  def attachEvictClosed(events: Dataset[Scd2Event], storeDir: String,
      checkpointDir: String, evictCloseMs: Long): StreamingQuery =
    attachSink(historyEvictClosed(events, evictCloseMs), storeDir,
      checkpointDir)

  private def attachSink(versions: Dataset[Scd2Version], storeDir: String,
      checkpointDir: String): StreamingQuery =
    versions.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: Dataset[Scd2Version], batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$storeDir/batch_id=$batchId")
        ()
      }
      .start()

  /** The materialized history — latest emission per (entity, version):
    * a closed row (non-null `valid_to_us`) supersedes its provisional
    * open form regardless of batch interleaving; a version only ever
    * closes once, at one timestamp, so the resolution is
    * value-deterministic under replay. Output: q69's exact column
    * contract. */
  def readHistory(s: SparkSession, storeDir: String): DataFrame = {
    val base =
      if (CommitFiles.exists(s, storeDir)) s.read.schema(RowSchema).parquet(storeDir)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], RowSchema)
    val withB =
      if (base.columns.contains("batch_id")) base
      else base.withColumn("batch_id", lit(null))
    val resolved = withB
      .groupBy("user_id", "version_event_id")
      .agg(max(struct(col("valid_to_us").isNotNull.as("closed"),
        col("batch_id").cast(LongType).as("batch_id"),
        col("state_type"), col("state_value"), col("valid_from_us"),
        col("valid_to_us"), col("is_current"))).as("v"))
      .select(col("user_id"),
        col("version_event_id"),
        col("v.state_type").as("state_type"),
        col("v.state_value").as("state_value"),
        col("v.valid_from_us").as("valid_from_us"),
        col("v.valid_to_us").as("valid_to_us"),
        col("v.is_current").as("is_current"))
    // non-overlap repair: an evict-close stamps a wall-clock deadline
    // into the event-time valid_to domain, and the entity's RETURN
    // (event-time valid_from) can predate it — cap every closed
    // version at its successor's valid_from so point-in-time reads
    // never match two versions. Ordinary closes already equal the next
    // open's timestamp, so this is a byte-level no-op for them (the
    // stream↔batch parity spec holds unchanged); gaps after deletes
    // stay gaps (the cap only ever shrinks an interval).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("version_event_id"))
    val nextFrom = lead(col("valid_from_us"), 1).over(w)
    resolved.withColumn("valid_to_us",
      when(col("valid_to_us").isNotNull && nextFrom.isNotNull,
        least(col("valid_to_us"), nextFrom))
        .otherwise(col("valid_to_us")))
  }

  /** Fold the batch-partition history into a fresh store whose ONLY
    * partition is the reserved [[CompactedBatchId]] base — the
    * [[StreamingIndexCdc.compact]] move for the SCD2 store: after N
    * batches, [[readHistory]] reads base + tail instead of N
    * partitions. Replay safety: the resolution key is
    * `(closed, batch_id, …)` and a version only ever closes once at one
    * timestamp, so a crash-replayed pre-compaction batch's rows either
    * lose to the base's closed form or duplicate it byte-identically —
    * the resolved history is unchanged (spec-proven). Resume the
    * maintainer with its ORIGINAL checkpoint (the open-version state
    * lives there, not in the store); its batch ids keep ascending and
    * can never collide with the base. */
  def compact(s: SparkSession, storeDir: String,
      outStoreDir: String): Unit =
    readHistory(s, storeDir)
      .write.mode("overwrite")
      .parquet(s"$outStoreDir/batch_id=$CompactedBatchId")
}
