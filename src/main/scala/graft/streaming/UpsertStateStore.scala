package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.ops.LatestState

/** A last-write-wins table over parquet: a merged base plus per-batch
  * deltas, merged on read (the ReplacingMergeTree shape).
  *
  * It plays both of the reference's destinations, one write policy each:
  *  - [[upsert]]: the idempotent warehouse upsert (`INSERT ... ON CONFLICT
  *    (pk) DO UPDATE`, `src/sinks/postgres.py:119-132`) plus delete
  *    propagation (`postgres.py:93-101`). It merges by size (below).
  *  - [[append]]: the ClickHouse append that ReplacingMergeTree collapses
  *    by key (`src/sinks/clickhouse.py:81-145`). It never merges by size,
  *    so a trigger touches O(1) files; the deltas pile up until an
  *    explicit [[compact]] (`OPTIMIZE FINAL`) folds them.
  *
  * Layout under `tableDir`:
  *  - `v<id>/`: the merged base, one winner row per key, written by the
  *    merge that ran at batch `id`. `_LATEST` names the current one.
  *  - `d<id>/`: batch `id` as written, pending until the next merge.
  *  - `_committed_<id>`: batch `id` is committed.
  *  - `_schema`: the base's schema, written by every merge, so reads and
  *    merges scan every directory at once without inferring it. Deltas
  *    are written under it; a batch that changes a column type merges.
  *
  * A batch normally writes only its delta, with overwrite, and then its
  * marker: it reads no state. The MARKER is the delta's commit point; a
  * delta without one is a crashed write, invisible to readers, and its
  * replay overwrites it. When the committed deltas' data bytes reach the
  * base's, the batch instead MERGES: base + committed deltas + batch in
  * one scan, row_number last-write-wins (ordered by `orderCols` desc), a
  * new `v<batchId>`, then an atomic swap of `_LATEST`. The POINTER SWAP is
  * a merge's commit point; its replay is recognized by the marker or by
  * the pointer already naming `v<batchId>` (a crash can land between the
  * two; re-merging then would overwrite the directory the pointer reads
  * from). The first batch always merges, under both policies.
  *
  * [[current]] takes the latest row per key over base + committed deltas.
  * Both operations are pure functions of (stored rows ∪ batch) under
  * last-write-wins, so a replay converges to the same state whatever the
  * batch order (the Spark exactly-once recipe: checkpoint + idempotent
  * foreachBatch), and a folded delta read again beside its base changes
  * nothing. DELETE winners are RETAINED as tombstones — dropping them
  * would let a late event older than the delete resurrect the row — and
  * filtered at the [[current]] read boundary; a production deploy ages
  * tombstones out past the source's lateness horizon.
  *
  * Cost: a delta batch costs O(batch). Under [[upsert]] a merge costs
  * O(state) and runs once the deltas have grown to the base's size, so a
  * batch costs O(batch) amortized, and a read scans at most twice the
  * base. Under [[append]] a read scans every delta since the last
  * [[compact]]. A merge prunes every delta and marker it folded and every
  * base but the new and the previous one (readers that resolved the
  * pointer just before the swap keep their base), so disk stays at
  * O(2 × state + deltas). A reader's frame stays valid until the next
  * merge. In production this store would be a Delta/Iceberg MERGE; the
  * semantics here are identical and the interface (`upsert(df, batchId)`)
  * matches that swap-in.
  */
final class UpsertStateStore(
    val tableDir: String,
    keyNames: Seq[String],
    orderNames: Seq[String],
    isDeleteCol: String = "event_type",
    deleteValue: String = "DELETE") {

  private val root = Paths.get(tableDir)
  private val pointer = root.resolve("_LATEST")
  private val schemaFile = root.resolve("_schema")
  Files.createDirectories(root)

  private val Base = "v(-?\\d+)".r
  private val Delta = "d(-?\\d+)".r
  private val Marker = "_committed_(-?\\d+)".r

  private def readString(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim

  /** Entry names of a directory. Files.list streams hold a directory fd
    * until closed; the store lists once per micro-batch on a long-lived
    * driver, so leaking them to GC would exhaust fds. */
  private def names(dir: Path): List[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toList
    finally st.close()
  }

  private def latestVersion: Option[String] =
    if (Files.exists(pointer)) Some(readString(pointer)) else None

  private def marker(batchId: Long): Path = root.resolve(s"_committed_$batchId")

  def committed(batchId: Long): Boolean = Files.exists(marker(batchId))

  /** Committed deltas, oldest batch first. */
  private def deltas: Seq[String] =
    names(root).collect { case n @ Delta(id) if committed(id.toLong) => id.toLong -> n }
      .sorted.map(_._2)

  /** Parquet bytes of one version directory (no checksums or markers). */
  private def dataBytes(dir: String): Long =
    names(root.resolve(dir)).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .map(n => Files.size(root.resolve(dir).resolve(n))).sum

  /** The schema of the current base, written by every merge. */
  private def storedSchema: Option[StructType] =
    if (Files.exists(schemaFile))
      Some(DataType.fromJson(readString(schemaFile)).asInstanceOf[StructType])
    else None

  /** The stored schema. A store written before `_schema` existed infers
    * it from its base (one Spark job) until its next upsert, which merges. */
  private def schema(spark: SparkSession, base: String): StructType =
    storedSchema.getOrElse(spark.read.parquet(root.resolve(base).toString).schema)

  /** Base + deltas, tombstones included, as ONE scan with a known schema. */
  private def stored(spark: SparkSession, base: String, deltas: Seq[String]): DataFrame =
    spark.read.schema(schema(spark, base))
      .parquet((base +: deltas).map(root.resolve(_).toString): _*)

  private def winners(df: DataFrame): DataFrame =
    LatestState.latestPerKey(df, keyNames.map(col), orderNames.map(col))

  /** Live rows (tombstones filtered) — the read surface. Null-safe: a row
    * whose delete-marker column is null (e.g. a payload that lost the field
    * round-tripping through the JSON DLQ and was replayed here) is LIVE —
    * a bare `=!=` would evaluate to null and silently drop it. */
  def current(spark: SparkSession): Option[DataFrame] =
    latestVersion.map { base =>
      val pending = deltas
      val rows = stored(spark, base, pending)
      // the base alone already holds one winner per key
      (if (pending.isEmpty) rows else winners(rows))
        .filter(coalesce(col(isDeleteCol) =!= deleteValue, lit(true)))
    }

  /** Add one micro-batch, merging once the pending deltas have grown to
    * the base's size; safe to replay. */
  def upsert(batch: DataFrame, batchId: Long): Unit =
    write(batch, batchId, mergeDue = base => deltas.map(dataBytes).sum >= dataBytes(base))

  /** Add one micro-batch as a delta; merge only to lay down the first base
    * or to widen a changed column type. Lists no deltas, so its filesystem
    * cost stays O(1) however many are pending; [[compact]] folds them.
    * Safe to replay. */
  def append(batch: DataFrame, batchId: Long): Unit =
    write(batch, batchId, mergeDue = _ => false)

  /** Fold every committed delta into a new base (ClickHouse's `OPTIMIZE
    * FINAL`), named after the newest folded batch; a no-op without
    * deltas. Tombstones stay in the base as in every merge. */
  def compact(spark: SparkSession): Unit = (latestVersion, deltas.lastOption) match {
    case (Some(base), Some(Delta(last))) => merge(spark, None, last.toLong, Some(base))
    case _ => ()
  }

  private def write(batch: DataFrame, batchId: Long, mergeDue: String => Boolean): Unit = {
    if (committed(batchId)) return
    val base = latestVersion
    if (base.contains(s"v$batchId")) {
      // crashed between a merge's pointer swap (its commit point) and the
      // marker: the merge already landed — backfill the marker, never
      // re-merge into the directory the current pointer reads from
      Files.write(marker(batchId), Array.emptyByteArray)
      return
    }
    (base, storedSchema) match {
      case (Some(b), Some(s)) if sameTypes(batch.schema, s) && !mergeDue(b) =>
        batch.select(s.fieldNames.toSeq.map(col): _*)
          .write.mode("overwrite").parquet(root.resolve(s"d$batchId").toString)
        Files.write(marker(batchId), Array.emptyByteArray)
      case _ => merge(batch.sparkSession, Some(batch), batchId, base)
    }
  }

  /** Every stored column is in `batch` with its stored type (nullability
    * aside: a scan reads every column as nullable). A batch that changes a
    * type merges instead (the union widens it), so no scan ever reads a
    * delta under another type than the stored schema's. */
  private def sameTypes(batch: StructType, stored: StructType): Boolean =
    stored.forall(f => batch.find(_.name == f.name).exists { b =>
      DataType.equalsStructurally(b.dataType, f.dataType, ignoreNullability = true) &&
        DataType.equalsStructurallyByName(b.dataType, f.dataType, _ == _)
    })

  /** Base + committed deltas (+ `batch`) into a new base `v<batchId>`. */
  private def merge(spark: SparkSession, batch: Option[DataFrame], batchId: Long,
      base: Option[String]): Unit = {
    val unioned = (base.map(stored(spark, _, deltas)) ++ batch).reduce { (cur, df) =>
      cur.unionByName(df.select(cur.columns.toSeq.map(col): _*))
    }
    // keep DELETE winners as tombstones (filtered in current()) so a late
    // event older than the delete loses the next merge instead of
    // resurrecting the row
    val newVersion = s"v$batchId"
    winners(unioned).write.mode("overwrite")
      .parquet(root.resolve(newVersion).toString)
    swap(schemaFile, unioned.schema.json, batchId)
    swap(pointer, newVersion, batchId)
    Files.write(marker(batchId), Array.emptyByteArray)
    prune(Set(newVersion) ++ base, batchId)
  }

  /** Replace `target` atomically: readers see the old or the new content. */
  private def swap(target: Path, content: String, batchId: Long): Unit = {
    val tmp = root.resolve(s"${target.getFileName}.tmp$batchId")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** After a merge at `batchId`: every delta is folded into the new base
    * (or is a crashed write that was never committed), so drop them all,
    * every marker but this batch's, and every base but `keep` — the new
    * one and the previous one, which covers in-flight readers that
    * resolved the pointer just before the swap. */
  private def prune(keep: Set[String], batchId: Long): Unit = {
    def delRecursive(p: Path): Unit = {
      if (Files.isDirectory(p)) names(p).foreach(n => delRecursive(p.resolve(n)))
      Files.deleteIfExists(p)
      ()
    }
    names(root).foreach { n =>
      val drop = n match {
        case Base(_) => !keep(n)
        case Delta(_) => true
        case Marker(id) => id.toLong != batchId
        case _ => false
      }
      if (drop) delRecursive(root.resolve(n))
    }
  }
}
