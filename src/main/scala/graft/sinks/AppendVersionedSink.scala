package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Bound
import graft.streaming.UpsertStateStore

/** The versioned destination — the engine's analog of the reference's
  * ClickHouse path: the sink only ever appends
  * (`src/sinks/clickhouse.py:81-145` — dedup deferred to
  * `ReplacingMergeTree` collapsing by ORDER BY key), and exactness is
  * restored at READ time by a last-write-wins view
  * (`specs/.../research.md:68-74` accepts transient duplicates; SURVEY
  * §7.6 requires the read view so query results stay exact).
  *
  * An [[UpsertStateStore]] under its append policy, ordered by
  * (`versionCol`, `_batch_id`): a redelivered batch id is a no-op, and a
  * redelivery under another id is byte-identical, so either copy wins.
  */
final class AppendVersionedSink(val tableDir: String, keyNames: Seq[String],
    versionCol: String, isDeleteCol: String = "event_type",
    deleteValue: String = "DELETE") {

  private val store = new UpsertStateStore(tableDir, keyNames,
    Seq(versionCol, "_batch_id"), isDeleteCol, deleteValue)

  /** Append a micro-batch, stamped with its `_batch_id`; safe to replay. */
  def append(batch: DataFrame, batchId: Long): Unit =
    store.append(batch.withColumn("_batch_id", Bound.long(batchId)), batchId)

  /** The exact read view: latest version per key, delete tombstones
    * dropped; empty before the first append. */
  def view(spark: SparkSession): DataFrame =
    store.current(spark).map(_.drop("_batch_id")).getOrElse(spark.emptyDataFrame)

  /** Fold the appended batches into one winner row per key (ClickHouse
    * `OPTIMIZE FINAL`); tombstones stay so a replay older than a delete
    * cannot resurrect its key. */
  def compact(spark: SparkSession): Unit = store.compact(spark)
}
