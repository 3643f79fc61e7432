package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalProperties
import org.apache.spark.sql.types.{DataType, StructType}
import graft.fs.CommitFiles
import graft.ops.LatestState

/** A last-write-wins table over parquet: a folded base plus per-batch
  * deltas, merged on read (the ReplacingMergeTree shape).
  *
  * It plays both of the reference's destinations, one write policy each:
  *  - [[upsert]]: the idempotent warehouse upsert (`INSERT ... ON CONFLICT
  *    (pk) DO UPDATE`, `src/sinks/postgres.py:119-132`) plus delete
  *    propagation (`postgres.py:93-101`). It folds by size, after the
  *    batch (below).
  *  - [[append]]: the ClickHouse append that ReplacingMergeTree collapses
  *    by key (`src/sinks/clickhouse.py:81-145`). It never folds by size,
  *    so a trigger touches O(1) files; the deltas pile up until an
  *    explicit [[compact]] (`OPTIMIZE FINAL`) folds them.
  *
  * Layout under `tableDir`:
  *  - `v<B>/`: a base, one winner row per key, holding every batch up to
  *    `B`. `_LATEST` names the current one, so `B` is read from it.
  *  - `d<id>/`: batch `id` as written.
  *  - `_committed_<id>`: batch `id` is committed.
  *  - `_schema`: the base's schema, written by every fold, so reads and
  *    folds scan every directory at once without inferring it. Deltas
  *    are written under it; a batch that changes a column type merges.
  *
  * `tableDir` is any Hadoop path: the pointers, markers and listings go
  * through [[graft.fs.CommitFiles]], so a plain path and its `file:` URI
  * name the same table.
  *
  * Commit points. Once a base exists, a batch writes only its delta, with
  * overwrite, and then its marker: it reads no state. The MARKER is the
  * batch's commit point; a delta without one is a crashed write,
  * invisible to readers, and its replay overwrites it. A batch is also
  * committed when the current base already holds it (`id <= B`), so a
  * replay of a folded batch whose marker was pruned writes nothing.
  *
  * Folds. A FOLD merges the current base `v<P>` and the committed deltas
  * above `P`, up to the highest such batch `B`, in one scan, row_number
  * last-write-wins (ordered by `orderCols` desc), into `v<B>`; then it
  * swaps `_schema` and `_LATEST`. The POINTER SWAP is the fold's commit
  * point: before it, readers and the due check still see `v<P>` and the
  * deltas, which are all still there. Under [[upsert]], once the
  * committed deltas above the base reach the base's data bytes, the store
  * starts a fold on a daemon thread after the batch's marker, so the
  * trigger never waits for O(state) work; at most one fold per table is
  * in flight, and a fold that fails (or whose session stops) changes
  * nothing, logs one WARN line and is retried by the next due check. Its
  * Spark jobs run under their own local properties, named `state-store
  * fold through batch <B>`, outside the trigger's job group and batch.
  * Three synchronous paths fold through the same code, each after any
  * fold in flight: the first batch (no base yet), a batch that changes a
  * column type (base + deltas + the batch, into `v<batchId>`, committed
  * by the swap; a crash before its marker is recognized by the pointer
  * naming `v<batchId>`, and the marker is backfilled), and [[compact]].
  *
  * Pruning runs one fold behind: a fold from `v<P>` deletes the deltas
  * and markers up to `P` (those the previous fold folded) and every base
  * but `v<B>` and `v<P>`, so a frame that [[current]] resolved before a
  * swap stays readable until the next fold. [[compact]] prunes everything
  * it folded, like a merge of `OPTIMIZE FINAL`.
  *
  * [[current]] takes the latest row per key over the base plus the
  * committed deltas above `B`. Every operation is a pure function of
  * (stored rows ∪ batch) under last-write-wins, so a replay converges to
  * the same state whatever the batch order (the Spark exactly-once
  * recipe: checkpoint + idempotent foreachBatch), and a folded delta read
  * again beside its base changes nothing. DELETE winners are RETAINED as
  * tombstones — dropping them would let a late event older than the
  * delete resurrect the row — and filtered at the [[current]] read
  * boundary; a production deploy ages tombstones out past the source's
  * lateness horizon.
  *
  * Cost: a batch costs O(batch) on the trigger. Under [[upsert]] a fold
  * costs O(state) off the trigger and runs once the deltas have grown to
  * the base's size, so a read scans at most about twice the base. Under
  * [[append]] a read scans every delta since the last [[compact]]. Disk
  * holds two bases plus the deltas of the last two folds. In production
  * this store would be a Delta/Iceberg MERGE; the semantics here are
  * identical and the interface (`upsert(df, batchId)`) matches that
  * swap-in.
  */
final class UpsertStateStore(
    val tableDir: String,
    keyNames: Seq[String],
    orderNames: Seq[String],
    isDeleteCol: String = "event_type",
    deleteValue: String = "DELETE") {

  /** The table's files, on the Hadoop configuration of the session the
    * store is first used with. */
  private lazy val files = CommitFiles(SparkSession.active, tableDir)
  private val Pointer = "_LATEST"
  private val SchemaFile = "_schema"

  private val Base = "v(-?\\d+)".r
  private val Delta = "d(-?\\d+)".r
  private val Marker = "_committed_(-?\\d+)".r

  private def dir(name: String): String = files.path(name).toString

  private def marker(batchId: Long): String = s"_committed_$batchId"

  /** The highest batch base `v<B>` holds. */
  private def folded(base: String): Long = base match { case Base(id) => id.toLong }

  def committed(batchId: Long): Boolean =
    files.exists(marker(batchId)) || files.read(Pointer).exists(folded(_) >= batchId)

  /** Committed deltas above batch `above`, oldest first, as (id, name),
    * from one listing of the root: a delta's marker lies beside it. */
  private def deltas(above: Long): Seq[(Long, String)] = {
    val names = files.list("").map(_.getPath.getName).toSet
    names.toSeq.collect {
      case n @ Delta(id) if id.toLong > above && names(marker(id.toLong)) => id.toLong -> n
    }.sorted
  }

  /** Parquet bytes of one version directory (no checksums or markers). */
  private def dataBytes(dir: String): Long =
    files.list(dir).filterNot { f =>
      val n = f.getPath.getName
      n.startsWith(".") || n.startsWith("_")
    }.map(_.getLen).sum

  /** The schema of the current base, written by every fold. */
  private def storedSchema: Option[StructType] =
    files.read(SchemaFile).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The stored schema. A store written before `_schema` existed infers
    * it from its base (one Spark job) until its next upsert, which merges. */
  private def schema(spark: SparkSession, base: String): StructType =
    storedSchema.getOrElse(spark.read.parquet(dir(base)).schema)

  /** Base + deltas, tombstones included, as ONE scan with a known schema. */
  private def stored(spark: SparkSession, base: String, deltas: Seq[String]): DataFrame =
    spark.read.schema(schema(spark, base)).parquet((base +: deltas).map(dir): _*)

  private def winners(df: DataFrame): DataFrame =
    LatestState.latestPerKey(df, keyNames.map(col), orderNames.map(col))

  /** Live rows (tombstones filtered) — the read surface. Null-safe: a row
    * whose delete-marker column is null (e.g. a payload that lost the field
    * round-tripping through the JSON DLQ and was replayed here) is LIVE —
    * a bare `=!=` would evaluate to null and silently drop it. */
  def current(spark: SparkSession): Option[DataFrame] =
    files.read(Pointer).map { base =>
      val pending = deltas(folded(base)).map(_._2)
      val rows = stored(spark, base, pending)
      // the base alone already holds one winner per key
      (if (pending.isEmpty) rows else winners(rows))
        .filter(coalesce(col(isDeleteCol) =!= deleteValue, lit(true)))
    }

  /** Add one micro-batch; once the pending deltas have grown to the
    * base's size, start a fold that runs after this call returns. Safe to
    * replay. */
  def upsert(batch: DataFrame, batchId: Long): Unit =
    if (write(batch, batchId)) foldInBackground(batch.sparkSession)

  /** Add one micro-batch as a delta; merge only to lay down the first base
    * or to widen a changed column type. Lists no deltas, so its filesystem
    * cost stays O(1) however many are pending; [[compact]] folds them.
    * Safe to replay. */
  def append(batch: DataFrame, batchId: Long): Unit = { write(batch, batchId); () }

  /** Fold every committed delta into a new base (ClickHouse's `OPTIMIZE
    * FINAL`), named after the newest folded batch, and prune what it
    * folded; a no-op without deltas. Tombstones stay in the base as in
    * every fold. */
  def compact(spark: SparkSession): Unit = exclusively {
    files.read(Pointer).foreach { base =>
      val pending = deltas(folded(base))
      if (pending.nonEmpty) fold(spark, Some(base), pending, None, pruneFolded = true)
    }
  }

  /** Write `batch` as a committed delta, or merge it inline when there is
    * no base yet or it changes a column type. Returns whether it wrote a
    * delta; a committed batch writes nothing. */
  private def write(batch: DataFrame, batchId: Long): Boolean = {
    if (files.exists(marker(batchId))) return false
    val base = files.read(Pointer)
    if (base.exists(folded(_) >= batchId)) {
      // the base holds it. A pointer at v<batchId> is an inline merge that
      // crashed between its pointer swap (its commit point) and its
      // marker: backfill the marker, never re-merge into the directory the
      // pointer reads from
      if (base.contains(s"v$batchId")) files.mark(marker(batchId))
      return false
    }
    (base, storedSchema) match {
      case (Some(_), Some(s)) if sameTypes(batch.schema, s) =>
        batch.select(s.fieldNames.toSeq.map(col): _*)
          .write.mode("overwrite").parquet(dir(s"d$batchId"))
        files.mark(marker(batchId))
        true
      case _ =>
        exclusively {
          val base = files.read(Pointer)
          fold(batch.sparkSession, base, base.fold(Seq.empty[(Long, String)])(b => deltas(folded(b))),
            Some(batch -> batchId), pruneFolded = false)
        }
        false
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

  /** Base + `pending` deltas (+ `batch`, marked here) into a new base named
    * after the highest batch it holds, then the swaps and the prune. With
    * `tasks`, every stage of the fold runs that many tasks. */
  private def fold(spark: SparkSession, base: Option[String], pending: Seq[(Long, String)],
      batch: Option[(DataFrame, Long)], pruneFolded: Boolean, tasks: Option[Int] = None): Unit = {
    val through = batch.fold(pending.last._1)(_._2)
    val all = (base.map(stored(spark, _, pending.map(_._2))) ++ batch.map(_._1)).reduce {
      (cur, df) => cur.unionByName(df.select(cur.columns.toSeq.map(col): _*))
    }
    // coalesced on both sides of the window's shuffle: a coalesce right
    // under a repartition would be optimized away
    val unioned = tasks.fold(all)(all.coalesce)
    // keep DELETE winners as tombstones (filtered in current()) so a late
    // event older than the delete loses the next fold instead of
    // resurrecting the row
    val next = s"v$through"
    val out = winners(unioned)
    tasks.fold(out)(out.coalesce).write.mode("overwrite").parquet(dir(next))
    files.swap(SchemaFile, unioned.schema.json)
    files.swap(Pointer, next)
    batch.foreach { case (_, id) => files.mark(marker(id)) }
    prune(Set(next) ++ base, if (pruneFolded) Some(through) else base.map(folded))
  }

  /** After a fold into one of `keep`: drop every other base, and the
    * deltas and markers up to `upTo` — those a base in `keep` holds, or
    * crashed writes that were never committed. */
  private def prune(keep: Set[String], upTo: Option[Long]): Unit =
    files.list("").map(_.getPath.getName).foreach { n =>
      val drop = n match {
        case Base(_) => !keep(n)
        case Delta(id) => upTo.exists(id.toLong <= _)
        case Marker(id) => upTo.exists(id.toLong <= _)
        case _ => false
      }
      if (drop) files.delete(n)
    }

  /** The size rule: the committed deltas above the base reach its bytes.
    * The fold runs beside the triggers, so it takes half the cores: Spark
    * schedules jobs first come, first served, and a fold's stages on every
    * core would hold each trigger's tasks until one of its own finished. */
  private def foldIfDue(spark: SparkSession): Unit = {
    val base = files.read(Pointer)
    val pending = base.fold(Seq.empty[(Long, String)])(b => deltas(folded(b)))
    if (pending.nonEmpty && pending.map(d => dataBytes(d._2)).sum >= dataBytes(base.get)) {
      val props = new java.util.Properties()
      LocalProperties.labelled(props, s"state-store fold through batch ${pending.last._1}")
      LocalProperties.withCopy(spark.sparkContext, props)(
        fold(spark, base, pending, None, pruneFolded = false,
          tasks = Some(math.max(1, spark.sparkContext.defaultParallelism / 2))))
    }
  }

  /** Run the due check, and the fold it calls for, on a daemon thread,
    * unless a fold of this table is already in flight. */
  private def foldInBackground(spark: SparkSession): Unit = {
    val done = Promise[Unit]()
    if (UpsertStateStore.inFlight.putIfAbsent(files.id, done.future) == null) {
      val t = new Thread(() =>
        try foldIfDue(spark)
        catch { case NonFatal(e) =>
          UpsertStateStore.log.warn(s"state-store fold of $tableDir failed, " +
            s"left for the next due check: $e")
        } finally release(done), s"state-store fold $tableDir")
      t.setDaemon(true)
      t.start()
    }
  }

  /** `f` as this table's one fold in flight, after any other finishes. */
  private def exclusively[A](f: => A): A = {
    val done = Promise[Unit]()
    var other = UpsertStateStore.inFlight.putIfAbsent(files.id, done.future)
    while (other != null) {
      Await.ready(other, Duration.Inf)
      other = UpsertStateStore.inFlight.putIfAbsent(files.id, done.future)
    }
    try f finally release(done)
  }

  /** Free the table's slot before completing `done`, so whoever waited on
    * it can start the next fold. */
  private def release(done: Promise[Unit]): Unit = {
    UpsertStateStore.inFlight.remove(files.id, done.future)
    done.success(())
  }
}

object UpsertStateStore {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[UpsertStateStore])

  /** The fold in flight per table, by qualified root. */
  private val inFlight = new ConcurrentHashMap[String, Future[Unit]]()

  /** Wait for every fold in flight in this JVM. */
  private[graft] def awaitFolds(): Unit =
    inFlight.values.asScala.toSeq.foreach(Await.ready(_, Duration.Inf))
}
