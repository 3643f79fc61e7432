package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.events.ChangeEvent
import graft.sinks.{AppendVersionedSink, DlqSink, HypertableSink, Retry}
import graft.sources.{CommitLogFormat, CommitLogOffset}
import graft.streaming.{CdcPipeline, FanOut}

/** Which batch committed each entry: entry `i` ends at `ends(i)`; a batch
  * admits every entry up to its end offset. Returns the batch id per
  * entry, -1 for entries no batch committed. `batchEnds` must be in batch
  * order. */
object OffsetMap {
  private def le(a: CommitLogOffset, b: CommitLogOffset): Boolean = {
    val c = CommitLogFormat.fileCompare(a.file, b.file)
    c < 0 || (c == 0 && a.pos <= b.pos)
  }

  def assign(ends: IndexedSeq[CommitLogOffset],
      batchEnds: Seq[(Long, CommitLogOffset)]): Array[Long] = {
    val out = Array.fill(ends.length)(-1L)
    var i = 0
    batchEnds.foreach { case (id, end) =>
      while (i < ends.length && le(ends(i), end)) { out(i) = id; i += 1 }
    }
    out
  }
}

/** The open-loop generator: entry `i` is due at `t0 + i / rate`, is
  * stamped with that due time as its `captured_at`, and is appended as
  * soon as the generator gets to it. Lateness is the append time minus
  * the due time; a stall delays every entry behind it, and the lag of
  * each is measured from its due time, so the stall is charged to all of
  * them. */
final class OpenLoop(gen: EventGen, append: Seq[GenEvent] => Unit,
    rate: Double, epochMicrosAt: Long => Long) extends Runnable {
  val dueNs = mutable.ArrayBuffer.empty[Long]
  val lateNs = mutable.ArrayBuffer.empty[Long]
  @volatile private var stopped = false
  private val thread = new Thread(this, "perfbench-generator")
  private var t0 = 0L

  def start(): Unit = { t0 = System.nanoTime(); thread.start() }
  def stop(): Unit = { stopped = true; thread.join() }

  /** Entries due by `now`. */
  def dueBy(now: Long): Long = ((now - t0) * rate / 1e9).toLong

  override def run(): Unit = {
    var i = 0L
    while (!stopped) {
      val target = dueBy(System.nanoTime())
      if (target > i) {
        val due = (i until target).map(j => t0 + (j * 1e9 / rate).toLong)
        val evs = due.map(d => gen.next(epochMicrosAt(d)))
        append(evs)
        val now = System.nanoTime()
        due.foreach { d => dueNs += d; lateNs += now - d }
        i = target
      } else {
        val nextDue = t0 + ((i + 1) * 1e9 / rate).toLong
        LockSupport.parkNanos(math.max(100000L, nextDue - System.nanoTime()))
      }
    }
  }
}

/** A CDC pipeline run over one commitlog directory: the program's
  * `CdcPipeline.startFromRaw` on the `graft-commitlog` source, with the
  * state store plus the versioned and hypertable destinations, every
  * destination write and every commit timed from outside. */
final class CdcHarness(spark: SparkSession, work: File, spans: Spans,
    maxEntriesPerTrigger: Option[Long]) {
  val logDir = new File(work, "commitlog")
  val stateDir = new File(work, "state").getPath
  val dlqDir = new File(work, "dlq").getPath
  val versionedDir = new File(work, "versioned").getPath
  val hyperDir = new File(work, "hyper").getPath
  logDir.mkdirs()

  val versioned = new AppendVersionedSink(versionedDir, Seq("event_key_cols"),
    "timestamp_micros")

  /** (batch id, nanoTime when onBatch ran, fan-out results). */
  val commits = new ConcurrentLinkedQueue[(Long, Long, Seq[FanOut.FanOutResult])]()
  /** State-store version size right after each batch, MB (traced runs). */
  val stateWrittenMb = new ConcurrentLinkedQueue[(Long, Double)]()
  val rowsCommitted = new AtomicLong(0)
  /** Entries waiting in the source, as `backlog` reports them at each
    * commit (traced runs): (nanoTime, entries). */
  val backlogAtCommit = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var backlog: () => Long = () => 0L
  private val curBatch = new AtomicLong(-1)
  private val fanStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def timed(name: String)(f: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = (df, id) => {
    curBatch.set(id)
    val t0 = System.nanoTime()
    fanStart.merge(id, t0, (a: Long, b: Long) => math.min(a, b))
    f(df, id)
    spans.add(Span(s"fanout.$name", s"batch-$id", t0, System.nanoTime(),
      s"batch-$id"))
  }

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      rowsCommitted.addAndGet(e.progress.numInputRows)
      ()
    }
  }

  def start(): StreamingQuery = {
    spark.streams.addListener(listener)
    val reader = spark.readStream.format("graft-commitlog")
      .option("path", logDir.getPath)
    val raw = maxEntriesPerTrigger.fold(reader)(n =>
      reader.option("maxEntriesPerTrigger", n)).load()
      .transform(df => ChangeEvent.parseEnvelope(df, "body"))
    CdcPipeline.startFromRaw(spark, raw, stateDir,
      new File(work, "checkpoint").getPath, dlqDir,
      extraSinks = Seq(
        FanOut.Destination("versioned", write = timed("versioned")(versioned.append)),
        FanOut.Destination("hypertable", write = timed("hypertable")((df, _) =>
          HypertableSink.write(df, hyperDir, "captured_at", "day")))),
      onBatch = results => {
        val now = System.nanoTime()
        val id = curBatch.get()
        commits.add((id, now, results))
        val s = Option(fanStart.get(id)).map(_.longValue).getOrElse(now)
        results.find(_.destination == "state-store").foreach { r =>
          spans.add(Span("fanout.state-store", s"batch-$id", s,
            s + r.durationMs * 1000000L, s"batch-$id"))
        }
        spans.add(Span("fanout.wall", s"batch-$id", s, now, s"batch-$id"))
        if (spans.enabled) {
          stateWrittenMb.add((id, latestStateMb()))
          backlogAtCommit.add((now, backlog()))
        }
      })
  }

  def stop(q: StreamingQuery): Unit = {
    q.stop()
    spark.streams.removeListener(listener)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  /** The state-store version the `_LATEST` pointer names. */
  private def latestVersion: Option[File] = {
    val ptr = new File(stateDir, "_LATEST")
    if (!ptr.exists) None
    else Some(new File(stateDir, new String(java.nio.file.Files.readAllBytes(ptr.toPath)).trim))
  }

  def latestStateMb(): Double = latestVersion.map(dirBytes).getOrElse(0L) / 1048576.0

  def stateDiskMb(): Double = dirBytes(new File(stateDir)) / 1048576.0

  /** (rows, tombstones) of the stored state snapshot. */
  def stateRows(): (Long, Long) = latestVersion.fold((0L, 0L)) { v =>
    val r = spark.read.parquet(v.getPath)
      .agg(count(lit(1)), count(when(col("event_type") === "DELETE", 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  def fileCount(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
      else Option(f.listFiles()).toSeq.flatten.map(walk).sum
    walk(new File(dir))
  }

  /** Executed batches (a no-data trigger has no addBatch), in order. */
  def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  def endOffset(p: StreamingQueryProgress): CommitLogOffset =
    CommitLogOffset.fromJson(p.sources.head.endOffset)

  /** Compare the program's outputs with the generator's model. Returns
    * the mismatch count and a description of the first few. */
  def check(model: LwwModel): (Long, Seq[String]) = {
    val live = model.live
    val bad = mutable.ArrayBuffer.empty[String]
    var n = 0L
    def miss(s: String): Unit = { n += 1; if (bad.size < 5) bad += s }

    val state = CdcPipeline.currentState(spark, stateDir)
      .map(_.select(col("event_key_cols"), col("event_id"),
        col("columns").getItem("email")).collect().toSeq)
      .getOrElse(Nil)
    def compare(what: String, rows: Seq[(String, String, Option[String])]): Unit = {
      val seen = mutable.HashSet.empty[String]
      rows.foreach { case (k, id, email) =>
        seen += k
        live.get(k) match {
          case None => miss(s"$what: $k present, expected absent")
          case Some(w) if w.eventId != id => miss(s"$what: $k has $id, expected ${w.eventId}")
          case Some(w) => email.foreach { e =>
            if (e != EventGen.sha256Hex(w.email)) miss(s"$what: $k email not masked")
          }
        }
      }
      live.keys.filterNot(seen).foreach(k => miss(s"$what: $k missing"))
    }
    compare("state", state.map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2)))))
    compare("versioned", versioned.view(spark)
      .select(col("event_key_cols"), col("event_id")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), None)))
    val dlq = DlqSink.read(spark, dlqDir, "state-store")
      .filter(col("error_type") === "ValidationError").count()
    if (dlq != model.invalid) miss(s"dlq: $dlq validation rows, expected ${model.invalid}")
    (n, bad.toSeq)
  }
}

/** Per-trigger phase breakdown of one executed batch. */
object Phases {
  val Keys: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Trigger span plus phase children laid out in execution order from
    * `durationMs` (Spark reports durations, not start times). */
  def spans(p: StreamingQueryProgress, startNs: Long): Seq[Span] = {
    val owner = s"batch-${p.batchId}"
    var t = startNs
    Span("trigger", owner, startNs,
      startNs + (ms(p, "triggerExecution") * 1e6).toLong) +:
      Keys.map { k =>
        val s = Span(s"trigger.$k", owner, t, t + (ms(p, k) * 1e6).toLong, owner)
        t = s.endNs
        s
      }
  }

  def retries(rs: Seq[FanOut.FanOutResult]): Int = rs.map(_.outcome match {
    case Retry.Succeeded(_, a) => a - 1
    case Retry.Permanent(_, a, _) => a - 1
    case Retry.Exhausted(_, a, _) => a - 1
  }).sum
}
