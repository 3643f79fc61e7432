package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.CdcPipeline

/** The two CDC workloads.
  *
  * `cdc_lag` is an open loop at [[LagRate]] events/s, far below the drain
  * capacity, over a state store preloaded through the pipeline itself to
  * [[LagKeys]] keys. The key space is fixed, so the upsert state does not
  * grow inside a window; each event's lag is set by the per-trigger floor
  * plus the state-store rewrite, whose cost is O(state). Live events are
  * stamped with real time, so the 10-minute dedup watermark cannot evict
  * any of them inside a run: dedup state grows by the offered rate.
  *
  * `cdc_drain` is a closed loop over [[DrainKeys]] keys: a backlog kept
  * ahead of the consumer is drained at [[DrainPerTrigger]] entries per
  * trigger. With small state the work is per event, and the state-store
  * rewrite per event is a small fraction of `cdc_lag`'s.
  *
  * Both warm up for a fixed number of triggers before the window opens,
  * since the first triggers of a fresh JVM run several times slower. The
  * warm-up is short, because every run must fit a tight time budget.
  */
object CdcWorkloads {
  val LagKeys = 10000
  val LagRate = 1000.0
  /** Live triggers committed before the window opens. */
  val LagWarmupBatches = 1
  val DrainKeys = 500
  val DrainPerTrigger = 5000
  /** Entries in the first, warm-up trigger. */
  val DrainWarmupEntries = 1000
  /** Full triggers committed after it, before the window opens. */
  val DrainWarmupBatches = 1
  /** Capture-time spacing of backlog entries. A dedup entry lives until
    * the watermark (latest capture minus 10 minutes) passes its capture
    * time plus 10 minutes, about 20 minutes of capture time: 5,000
    * entries, one trigger. Dedup state then holds the last two triggers
    * and stays flat. Redeliveries look back at most 1,024 entries, about
    * 4 minutes, so they are still caught. */
  val DrainCaptureStepMicros = 240000L
  val EntriesPerFile = 10000
  val MinWindowCommits = 4

  private def sleepUntil(ns: Long): Unit = {
    var d = ns - System.nanoTime()
    while (d > 0) { Thread.sleep(math.max(1L, d / 1000000L)); d = ns - System.nanoTime() }
  }

  private def awaitCommits(h: CdcHarness, n: Int): Unit =
    while (h.commits.size < n) Thread.sleep(10)

  /** Everything a window's metrics are computed from, after the run. */
  final case class Timeline(batches: Seq[StreamingQueryProgress],
      commitNs: Map[Long, Long])

  private def timeline(h: CdcHarness, q: StreamingQuery): Timeline =
    Timeline(h.batches(q), h.commits.asScala.map(c => c._1 -> c._2).toMap)

  /** Every trigger as `batch:rows:ms`, for the run's detail record. */
  private def triggers(t: Timeline): Seq[String] =
    t.batches.map(p => s"${p.batchId}:${p.numInputRows}:${Phases.ms(p, "triggerExecution").toLong}")

  /** Batches committed inside `[a, b]`, in order, with their commit time. */
  def committedIn(t: Timeline, a: Long, b: Long): Seq[(StreamingQueryProgress, Long)] =
    t.batches.flatMap(p => t.commitNs.get(p.batchId).map(p -> _))
      .filter { case (_, c) => c >= a && c <= b }

  /** Committed entries per second between the first and the last commit
    * inside `[a, b]`: total committed work over wall time, so a stall
    * between commits counts. */
  def throughput(t: Timeline, a: Long, b: Long): Double = {
    val in = committedIn(t, a, b)
    require(in.length >= 2, s"only ${in.length} commits in the window")
    in.tail.map(_._1.numInputRows).sum / ((in.last._2 - in.head._2) / 1e9)
  }

  /** Median and tail of per-event latencies. Each sample carries the
    * trigger that committed it, so the detail records how many triggers
    * the tail spans. */
  private def putLatency(r: Main.Result, samples: Seq[(Double, Long)]): Unit = {
    val xs = samples.map(_._1)
    val tail = Stats.tail(xs).getOrElse(throw new IllegalStateException(
      s"fewer than 10 samples beyond the median (${xs.length} samples)"))
    r.put("latency_p50_ms", Stats.median(xs), "ms")
    r.put("latency_tail_ms", tail.value, "ms")
    r.detail("latency.tail_percentile") = tail.p
    r.detail("latency.samples") = tail.nSamples
    r.detail("latency.samples_beyond_tail") = tail.nBeyond
    r.detail("latency.triggers") = samples.map(_._2).distinct.length
    r.detail("latency.triggers_beyond_tail") =
      samples.filter(_._1 > tail.value).map(_._2).distinct.length
  }

  /** Dedup state rows after the first and after the last commit inside
    * `[a, b]`. */
  private def dedupRows(t: Timeline, a: Long, b: Long): Seq[Long] = {
    val in = committedIn(t, a, b).flatMap(_._1.stateOperators.headOption)
    if (in.isEmpty) Nil else Seq(in.head.numRowsTotal, in.last.numRowsTotal)
  }

  /** Runs the untraced window and, in a traced run, the traced window
    * right after it; returns each window's `[start, end]`. A window lasts
    * `--seconds`, and longer if it has not yet seen [[MinWindowCommits]]
    * commits, so a slow host still yields a median and a tail. */
  private def runWindows(ctx: Ctx, h: CdcHarness): Seq[(Long, Long)] = {
    val len = (ctx.args.seconds * 1e9).toLong
    var start = System.nanoTime()
    (0 until (if (ctx.args.trace) 2 else 1)).map { i =>
      val a = start
      Windows.observe(ctx, i) {
        sleepUntil(a + len)
        while (h.commits.asScala.count(_._2 > a) < MinWindowCommits) Thread.sleep(10)
      }
      start = System.nanoTime()
      (a, start)
    }
  }

  def lag(ctx: Ctx): Unit = {
    import ctx._
    val h = new CdcHarness(spark, args.work, spans, None)
    val gen = new EventGen(args.seed, LagKeys)
    val writer = new SegmentWriter(h.logDir, EntriesPerFile)
    // preload history through the pipeline, captured 25 minutes ago: a
    // dedup entry lives until the watermark (latest capture minus 10
    // minutes) passes its capture time plus 10 minutes, so the first live
    // trigger evicts the preload's dedup state; this first trigger also
    // pays the one-time code generation
    val preCaptured = Main.epochMicros(System.nanoTime()) - 25L * 60 * 1000000
    writer.append((0 until LagKeys).map(k => gen.preload(k, preCaptured)))
    val q = h.start()
    q.processAllAvailable()
    val nPre = writer.ends.length
    val loop = new OpenLoop(gen, writer.append, LagRate, Main.epochMicros)
    val c0 = h.commits.size
    loop.start()
    awaitCommits(h, c0 + LagWarmupBatches)
    markSetupDone()
    val windows = runWindows(ctx, h)
    loop.stop()
    q.processAllAvailable()
    val t = timeline(h, q)
    h.stop(q)

    val batchOf = OffsetMap.assign(writer.ends.toIndexedSeq,
      t.batches.map(p => p.batchId -> h.endOffset(p)))
    def lagSamples(a: Long, b: Long): Seq[(Double, Long)] =
      loop.dueNs.indices.flatMap { j =>
        val bId = batchOf(nPre + j)
        t.commitNs.get(bId).filter(c => c >= a && c <= b)
          .map(c => ((c - loop.dueNs(j)) / 1e6, bId))
      }
    val (a, b) = windows.head
    val s = lagSamples(a, b)
    putLatency(res, s)
    res.put("throughput_per_s", throughput(t, a, b), "1/s")
    res.attempted = s.length
    res.detail("triggers") = triggers(t)
    res.detail("offered_rate_per_s") = LagRate
    res.detail("state_keys") = LagKeys
    res.detail("gen.late_max_ms") = loop.lateNs.max / 1e6
    res.detail("dedup.rows_window_start_end") = dedupRows(t, a, b)

    if (args.trace) {
      val (ta, tb) = windows(1)
      Layers.trace(ctx, h, t, ta, tb)
      res.put("gen.late_max_ms", loop.lateNs.max / 1e6, "ms")
      // entries due but not yet committed, at each commit in the window
      val backlog = committedIn(t, ta, tb).map { case (p, c) =>
        val upTo = batchOf.indexWhere(x => x < 0 || x > p.batchId) match {
          case -1 => batchOf.length
          case i => i
        }
        (loop.dueBy(c) - (upTo - nPre)).toDouble
      }
      res.put("sources.backlog_entries", Stats.median(backlog), "count")
      Layers.overhead(res, Stats.median(s.map(_._1)),
        Stats.median(lagSamples(ta, tb).map(_._1)),
        throughput(t, a, b), throughput(t, ta, tb))
      Layers.stateReads(ctx, h, gen)
    }
    checkOutputs(ctx, h, gen)
  }

  def drain(ctx: Ctx): Unit = {
    import ctx._
    val h = new CdcHarness(spark, args.work, spans, Some(DrainPerTrigger.toLong))
    val gen = new EventGen(args.seed, DrainKeys)
    val writer = new SegmentWriter(h.logDir, EntriesPerFile)
    val base = 1704067200000000L
    val written = new AtomicLong(0)
    def segment(size: Int): Unit = {
      val evs = (0 until size).map { _ =>
        val n = written.incrementAndGet()
        if (n <= DrainKeys) gen.preload((n - 1).toInt, base + n * DrainCaptureStepMicros)
        else gen.next(base + n * DrainCaptureStepMicros)
      }
      writer.append(evs)
    }
    // warm-up: a small first trigger pays the one-time code generation,
    // then full triggers run before the window opens
    segment(DrainWarmupEntries)
    val q = h.start()
    awaitCommits(h, 1)
    // then full triggers: beyond the batch in flight, one more full
    // trigger is always waiting
    val lead = DrainPerTrigger
    @volatile var feeding = true
    val feeder = new Thread(() => {
      while (feeding) {
        if (written.get() - h.rowsCommitted.get() < lead + DrainPerTrigger) segment(DrainPerTrigger)
        else Thread.sleep(20)
      }
    }, "perfbench-feeder")
    feeder.start()
    h.backlog = () => written.get() - h.rowsCommitted.get()
    awaitCommits(h, 1 + DrainWarmupBatches)
    markSetupDone()
    val windows = runWindows(ctx, h)
    feeding = false
    feeder.join()
    q.processAllAvailable()
    val t = timeline(h, q)
    h.stop(q)

    // every entry of a batch waits from the batch's admission to its
    // commit, so a batch contributes one sample per entry it admitted
    def batchSamples(a: Long, b: Long): Seq[(Double, Long)] =
      committedIn(t, a, b).map(_._1).filter(_.numInputRows > 0).flatMap(p =>
        Seq.fill(p.numInputRows.toInt)((Phases.ms(p, "triggerExecution"), p.batchId)))
    val (a, b) = windows.head
    val s = batchSamples(a, b)
    putLatency(res, s)
    val tput = throughput(t, a, b)
    res.put("throughput_per_s", tput, "1/s")
    res.attempted = s.length
    res.detail("state_keys") = DrainKeys
    res.detail("entries_per_trigger") = DrainPerTrigger
    res.detail("triggers") = triggers(t)
    res.detail("dedup.rows_window_start_end") = dedupRows(t, a, b)

    if (args.trace) {
      val (ta, tb) = windows(1)
      Layers.trace(ctx, h, t, ta, tb)
      res.put("gen.late_max_ms", 0.0, "ms")
      res.put("sources.backlog_entries", Stats.median(h.backlogAtCommit.asScala
        .filter(x => x._1 >= ta && x._1 <= tb).map(_._2.toDouble).toSeq), "count")
      Layers.overhead(res, Stats.median(s.map(_._1)),
        Stats.median(batchSamples(ta, tb).map(_._1)), tput, throughput(t, ta, tb))
      Layers.stateReads(ctx, h, gen)
    }
    checkOutputs(ctx, h, gen)
  }

  private def checkOutputs(ctx: Ctx, h: CdcHarness, gen: EventGen): Unit = {
    val (bad, first) = h.check(gen.model)
    ctx.res.failed += bad
    if (first.nonEmpty) ctx.res.detail("mismatches") = first
    ctx.res.detail("model.live_keys") = gen.model.live.size
    ctx.res.detail("model.invalid") = gen.model.invalid
  }
}

/** Per-layer metrics of a traced window. */
object Layers {

  def overhead(r: Main.Result, p50: Double, p50Traced: Double,
      tput: Double, tputTraced: Double): Unit = {
    r.put("trace.overhead_p50_pct", 100.0 * (p50Traced / p50 - 1), "%")
    r.put("trace.overhead_throughput_pct", 100.0 * (1 - tputTraced / tput), "%")
  }

  /** Each of the three state reads, five times, timed from outside:
    * live-row count and keyed lookup through `CdcPipeline.currentState`,
    * and the LWW view through `AppendVersionedSink.view`. */
  def stateReads(ctx: Ctx, h: CdcHarness, gen: EventGen): Unit = {
    import ctx._
    val rnd = new java.util.SplittableRandom(args.seed)
    def timed(name: String)(f: => Unit): Unit =
      res.put(s"state_read.${name}_ms", Stats.median((0 until 5).map { i =>
        val t0 = System.nanoTime()
        spans.time(s"state_read.$name", s"read-$name-$i")(f)
        (System.nanoTime() - t0) / 1e6
      }), "ms")
    timed("live_count")(CdcPipeline.currentState(spark, h.stateDir).get.count())
    timed("key_lookup") {
      CdcPipeline.currentState(spark, h.stateDir).get
        .filter(col("event_key_cols") === gen.keyOf(rnd.nextInt(gen.nKeys)))
        .select(col("event_id")).collect()
    }
    timed("versioned_view")(h.versioned.view(spark).count())
  }

  def trace(ctx: Ctx, h: CdcHarness, t: CdcWorkloads.Timeline, a: Long,
      b: Long): Unit = {
    import ctx._
    val inWin = CdcWorkloads.committedIn(t, a, b).map(_._1).filter(_.numInputRows > 0)
    def med(f: StreamingQueryProgress => Double): Double =
      if (inWin.isEmpty) 0.0 else Stats.median(inWin.map(f))
    inWin.foreach(p => Phases.spans(p, Main.nanosOf(p)).foreach(spans.add))
    res.put("sources.latest_offset_ms", med(Phases.ms(_, "latestOffset")), "ms")
    res.put("sources.get_batch_ms", med(Phases.ms(_, "getBatch")), "ms")
    res.put("sources.rows_per_trigger", med(_.numInputRows.toDouble), "count")
    res.put("streaming.trigger.total_ms", med(Phases.ms(_, "triggerExecution")), "ms")
    res.put("streaming.trigger.add_batch_ms", med(Phases.ms(_, "addBatch")), "ms")
    res.put("streaming.trigger.planning_ms", med(Phases.ms(_, "queryPlanning")), "ms")
    res.put("streaming.trigger.wal_commit_ms", med(Phases.ms(_, "walCommit")), "ms")
    res.put("streaming.trigger.commit_offsets_ms", med(Phases.ms(_, "commitOffsets")), "ms")
    res.put("streaming.trigger.floor_ms",
      med(p => Phases.ms(p, "triggerExecution") - Phases.ms(p, "addBatch")), "ms")
    val per = inWin.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      jobs.between(s, s + Phases.ms(p, "triggerExecution").toLong)
    }
    def medB(f: JobListener.Breakdown => Double): Double =
      if (per.isEmpty) 0.0 else Stats.median(per.map(f))
    res.put("streaming.trigger.jobs", medB(_.jobs.toDouble), "count")
    res.put("streaming.trigger.tasks", medB(_.tasks.toDouble), "count")
    res.put("streaming.trigger.task_ms", medB(_.taskMs.toDouble), "ms")

    val ids = inWin.map(_.batchId).toSet
    val commits = h.commits.asScala.filter(c => ids.contains(c._1)).toSeq
    val sp = spans.all.groupBy(s => (s.owner, s.name))
    def spanMed(name: String): Double = {
      val xs = ids.toSeq.flatMap(id => sp.get((s"batch-$id", name)).map(_.head.ms))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val wall = spanMed("fanout.wall")
    val dest = Seq("state-store", "versioned", "hypertable")
      .map(d => d -> spanMed(s"fanout.$d"))
    res.put("streaming.batch.pre_fanout_ms", med(Phases.ms(_, "addBatch")) - wall, "ms")
    dest.foreach { case (d, ms) => res.put(s"streaming.fanout.${d}_ms", ms, "ms") }
    res.put("streaming.fanout.wall_ms", wall, "ms")
    res.put("streaming.fanout.overlap",
      if (wall <= 0) 0.0 else dest.map(_._2).sum / wall, "ratio")
    res.put("streaming.fanout.retries",
      commits.map(c => Phases.retries(c._3)).sum.toDouble, "count")
    res.put("streaming.fanout.dlq_rows",
      commits.flatMap(_._3.map(_.dlqRows)).sum.toDouble, "count")

    val written = h.stateWrittenMb.asScala.filter(x => ids.contains(x._1)).map(_._2).toSeq
    val writtenMed = if (written.isEmpty) 0.0 else Stats.median(written)
    val rows = med(_.numInputRows.toDouble)
    res.put("streaming.state.written_mb_per_trigger", writtenMed, "MB")
    res.put("streaming.state.written_kb_per_event",
      if (rows == 0) 0.0 else writtenMed * 1024 / rows, "KB")
    val (stateRows, tombstones) = h.stateRows()
    res.put("streaming.state.rows", stateRows.toDouble, "count")
    res.put("streaming.state.tombstones", tombstones.toDouble, "count")
    res.put("streaming.state.disk_mb", h.stateDiskMb(), "MB")
    val lastOp = inWin.lastOption.flatMap(_.stateOperators.headOption)
    res.put("streaming.dedup.rows", lastOp.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    res.put("streaming.dedup.mem_mb", lastOp.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
    res.put("sinks.dlq.rows",
      graft.sinks.DlqSink.read(spark, h.dlqDir, "state-store").count().toDouble, "count")
    res.put("sinks.versioned.files", h.fileCount(h.versionedDir).toDouble, "count")
    res.put("sinks.hypertable.files", h.fileCount(h.hyperDir).toDouble, "count")
  }
}
