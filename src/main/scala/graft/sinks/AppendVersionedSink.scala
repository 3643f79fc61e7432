package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.LatestState

/** Append-only versioned sink with a dedup read view — the engine's analog
  * of the reference's ClickHouse path: the sink only ever appends
  * (`src/sinks/clickhouse.py:81-145` — DELETEs skipped, dedup deferred to
  * `ReplacingMergeTree` collapsing by ORDER BY key), and exactness is
  * restored at READ time by a last-write-wins view
  * (`specs/.../research.md:68-74` accepts transient duplicates; SURVEY
  * §7.6 requires the read view so query results stay exact).
  *
  * Append scales trivially (no read-modify-write, any number of writers);
  * the view is one shuffle on the key — the same trade ClickHouse makes,
  * expressed relationally.
  */
final class AppendVersionedSink(val tableDir: String, keyNames: Seq[String],
    versionCol: String, isDeleteCol: String = "event_type",
    deleteValue: String = "DELETE") {

  /** Append a micro-batch; a constant `_batch_id` column makes replays
    * observable (and removable) downstream. */
  def append(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("append").parquet(tableDir)

  /** Raw appended rows (may contain duplicates + tombstones). */
  def raw(spark: SparkSession): DataFrame = spark.read.parquet(tableDir)

  /** Winner row per key INCLUDING delete tombstones — compaction's unit
    * of retention. A null delete-marker (e.g. a payload that lost the
    * field round-tripping through the JSON DLQ) counts as NOT-a-delete:
    * `null =!= "DELETE"` is null and a bare filter would silently drop
    * the live row. */
  private def winners(spark: SparkSession): DataFrame =
    LatestState.latestPerKey(raw(spark), keyNames.map(col),
      Seq(col(versionCol), col("_batch_id")))

  /** The exact read view: latest version per key (ties broken by highest
    * `_batch_id` — redeliveries are byte-identical so either wins), with
    * delete tombstones dropped. */
  def view(spark: SparkSession): DataFrame =
    winners(spark)
      .filter(coalesce(col(isDeleteCol) =!= deleteValue, lit(true)))
      .drop("_batch_id")

  /** Compaction — the ReplacingMergeTree background merge, run explicitly
    * (ClickHouse `OPTIMIZE FINAL` analog): rewrite the table as one
    * winner row per key so reads stop paying the per-query collapse.
    * Delete TOMBSTONES ARE RETAINED (one row each): dropping them would
    * let a DLQ replay of an older failed batch resurrect a deleted key —
    * the tombstone must stay to outrank it (a production deploy ages
    * tombstones out past the replay horizon). Write-temp-then-swap with
    * every rename/delete CHECKED: a failed swap aborts loudly rather
    * than deleting the only full copy. */
  def compact(spark: SparkSession): Unit = {
    val compacted = winners(spark)
      .withColumn("_batch_id", lit(-1L)) // compacted rows predate any batch
    val tmp = tableDir + ".compact-tmp"
    val old = tableDir + ".compact-old"
    compacted.write.mode("overwrite").parquet(tmp)
    def delRecursive(f: java.io.File): Boolean = {
      Option(f.listFiles()).toSeq.flatten.foreach(delRecursive)
      !f.exists() || f.delete()
    }
    val dir = new java.io.File(tableDir)
    val oldDir = new java.io.File(old)
    if (oldDir.exists() && !delRecursive(oldDir))
      throw new java.io.IOException(s"compact: cannot clear stale $old")
    if (!dir.renameTo(oldDir))
      throw new java.io.IOException(s"compact: cannot move $tableDir aside")
    if (!new java.io.File(tmp).renameTo(dir)) {
      // restore the backup before failing — the table must never vanish
      oldDir.renameTo(dir)
      throw new java.io.IOException(s"compact: cannot install $tmp")
    }
    delRecursive(oldDir)
    ()
  }
}
