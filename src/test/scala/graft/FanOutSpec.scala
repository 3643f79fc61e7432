package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.sinks.{AppendVersionedSink, DlqSink, Retry, RetryPolicy}
import graft.streaming.{FanOut, UpsertStateStore}

/** Multi-destination fan-out: healthy sinks land the batch, a flaky sink
  * recovers via retry, a permanently broken sink goes to its DLQ partition
  * — and none of them affect each other (reference main.py:123-155).
  */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  test("versioned-sink compaction rewrites to the dedup view; appends keep working") {
    val tmp = Files.createTempDirectory("graft-compact")
    val sink = new AppendVersionedSink(s"$tmp/t", Seq("user_id"),
      "timestamp_micros")
    sink.append(Seq(("u1", "INSERT", 100L), ("u2", "INSERT", 110L))
      .toDF("user_id", "event_type", "timestamp_micros"), batchId = 1L)
    sink.append(Seq(("u1", "UPDATE", 200L), ("u2", "DELETE", 300L))
      .toDF("user_id", "event_type", "timestamp_micros"), batchId = 2L)
    val before = sink.view(spark).collect()

    sink.compact(spark)
    // storage collapsed to one winner row per key — u1's latest plus u2's
    // DELETE tombstone (retained: see compact scaladoc); view unchanged
    assert(sink.raw(spark).count() == 2)
    assert(sink.view(spark).collect().toSeq == before.toSeq)
    // a replayed OLDER insert for the deleted key must NOT resurrect it:
    // the retained tombstone (ts 300) outranks the replay (ts 110)
    sink.append(Seq(("u2", "INSERT", 110L))
      .toDF("user_id", "event_type", "timestamp_micros"), batchId = 1L)
    assert(sink.view(spark).filter($"user_id" === "u2").isEmpty)
    // post-compaction appends still merge correctly
    sink.append(Seq(("u1", "UPDATE", 400L))
      .toDF("user_id", "event_type", "timestamp_micros"), batchId = 3L)
    val after = sink.view(spark).filter($"user_id" === "u1")
    assert(after.count() == 1)
    assert(after.head().getLong(2) == 400L)
  }

  test("per-destination isolation: healthy + flaky succeed, broken goes to DLQ") {
    val tmp = Files.createTempDirectory("graft-fanout")
    val dlqDir = s"$tmp/dlq"
    val store = new UpsertStateStore(s"$tmp/state", Seq("user_id"),
      Seq("timestamp_micros"))
    val versioned = new AppendVersionedSink(s"$tmp/versioned", Seq("user_id"),
      "timestamp_micros")
    // flaky gets its OWN directory: concurrent appends into one parquet
    // path share the _temporary staging dir and corrupt each other (see
    // FanOut scaladoc — destinations must not share output paths)
    val flakySink = new AppendVersionedSink(s"$tmp/flaky", Seq("user_id"),
      "timestamp_micros")

    val batch = Seq(
      ("u1", "INSERT", 100L), ("u2", "INSERT", 110L), ("u1", "UPDATE", 120L))
      .toDF("user_id", "event_type", "timestamp_micros")

    val flakyCalls = new AtomicInteger(0)
    val fastRetry = RetryPolicy(maxAttempts = 3, baseDelayMs = 1, maxDelayMs = 2)
    val results = FanOut.writeAll(batch, batchId = 7L, dests = Seq(
      FanOut.Destination("state-store", fastRetry, store.upsert),
      FanOut.Destination("versioned", fastRetry, versioned.append),
      FanOut.Destination("flaky", fastRetry, (df, id) => {
        if (flakyCalls.incrementAndGet() < 3)
          throw new java.net.ConnectException("connection refused")
        flakySink.append(df, id)
      }),
      FanOut.Destination("broken", fastRetry,
        (_, _) => throw new IllegalStateException("schema mismatch"))),
      dlqDir)

    val byName = results.map(r => r.destination -> r).toMap
    assert(byName("state-store").outcome == Retry.Succeeded((), 1))
    assert(byName("versioned").outcome == Retry.Succeeded((), 1))
    assert(byName("flaky").outcome == Retry.Succeeded((), 3)) // 2 failures + success
    assert(byName("broken").outcome.isInstanceOf[Retry.Permanent]) // no retry
    assert(byName("broken").dlqRows == 3)

    // healthy destinations hold the full batch result
    val state = store.current(spark).get
    assert(state.count() == 2) // u1 collapsed to latest, u2
    assert(state.filter($"user_id" === "u1").head().getLong(2) == 120L)
    assert(versioned.raw(spark).count() == 3)
    assert(flakySink.raw(spark).count() == 3) // landed on 3rd attempt

    // the broken destination's rows are all in ITS dlq partition, tagged
    val dlq = DlqSink.read(spark, dlqDir, "broken")
    assert(dlq.count() == 3)
    assert(DlqSink.count(spark, dlqDir, "state-store") == 0)
    assert(dlq.select("error_type").distinct().head().getString(0)
      == "IllegalStateException")
  }

  test("fan-out jobs carry the calling thread's job description, not the " +
      "one a pooled thread inherited") {
    val tmp = Files.createTempDirectory("graft-props")
    val batch = Seq(("u1", "INSERT", 1L)).toDF("user_id", "event_type",
      "timestamp_micros")
    val sc = spark.sparkContext
    // four destinations, each one job; a broken one adds its DLQ handoff
    val dests = (0 until 4).map(i => FanOut.Destination(s"d$i",
      RetryPolicy(maxAttempts = 1), (df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.count()
        if (i == 3) throw new IllegalStateException("broken")
      }))
    def described(d: String) = jobPropertiesOf {
      sc.setJobDescription(d)
      try FanOut.writeAll(batch, 1L, dests, s"$tmp/dlq")
      finally sc.setJobDescription(null)
    }.map(p => Option(p.getProperty("spark.job.description")))
    assert(described("first").nonEmpty)
    val second = described("second")
    assert(second.size >= 5, second)
    assert(second.forall(_.contains("second")), second)
  }

  test("a HUNG destination times out to its DLQ; the others are unaffected") {
    val tmp = Files.createTempDirectory("graft-hang")
    val dlqDir = s"$tmp/dlq"
    val store = new UpsertStateStore(s"$tmp/state", Seq("user_id"),
      Seq("timestamp_micros"))
    val batch = Seq(("u1", "INSERT", 100L), ("u2", "INSERT", 110L))
      .toDF("user_id", "event_type", "timestamp_micros")
    val hung = new java.util.concurrent.CountDownLatch(1)
    val results = FanOut.writeAll(batch, batchId = 3L, dests = Seq(
      FanOut.Destination("state-store", RetryPolicy(), store.upsert),
      FanOut.Destination("hung", RetryPolicy(),
        (_, _) => hung.await(), // blocks forever — no exception thrown
        timeoutMs = 500)),
      dlqDir)
    val byName = results.map(r => r.destination -> r).toMap
    assert(byName("state-store").outcome == Retry.Succeeded((), 1))
    byName("hung").outcome match {
      case Retry.Exhausted(err, _, _) =>
        assert(err.isInstanceOf[java.util.concurrent.TimeoutException])
      case other => fail(s"expected timeout Exhausted, got $other")
    }
    assert(byName("hung").dlqRows == 2) // batch dead-lettered for the hung sink
    assert(store.current(spark).get.count() == 2) // healthy sink landed it
    hung.countDown() // release the abandoned thread
  }

  test("chaos: slow destination degrades health under bounded backpressure, then recovers") {
    // End-to-end analog of the reference's tests/chaos/test_slow_destination.py
    // (stubbed there): run the REAL streaming pipeline with a 3-way fan-out
    // where one sink carries injected latency above the DEGRADED threshold.
    // Phase 1 asserts: health DEGRADED (not UNHEALTHY), /health still 200,
    // fast sinks unaffected, admission stays one-file-per-trigger (bounded
    // backlog). Phase 2 heals the sink and asserts full recovery: health
    // HEALTHY and every row landed everywhere exactly once.
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    import java.util.concurrent.ConcurrentLinkedQueue
    import graft.obs.{HealthStatus, MetricsListener, ObsHttpServer}
    import graft.streaming.{CdcPipeline, ThroughputBench}

    val tmp = Files.createTempDirectory("graft-chaos")
    val eventsDir = JFiles.createDirectories(tmp.resolve("events"))
    val staged = JFiles.createDirectories(tmp.resolve("staged"))
    val nFiles = 6; val nEvents = 6000; val perFile = nEvents / nFiles
    ThroughputBench.generate(eventsDir, nEvents, nFiles, nUsers = 500)
    // hold back half the files for the recovery phase
    (3 until nFiles).foreach { i =>
      val name = f"events_$i%03d.json"
      JFiles.move(eventsDir.resolve(name), staged.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
    }

    val health = new HealthStatus()
    val versioned = new AppendVersionedSink(s"$tmp/versioned", Seq("event_key_cols"),
      "timestamp_micros")
    val slowSink = new AppendVersionedSink(s"$tmp/slowdest", Seq("event_key_cols"),
      "timestamp_micros")
    @volatile var injectedLatencyMs = 1200L // above HealthStatus.DegradedThresholdMs
    val batchRows = new ConcurrentLinkedQueue[Long]()
    val dests = Seq(
      FanOut.Destination("versioned", write = (df, id) => {
        batchRows.add(df.count()); versioned.append(df, id)
      }),
      FanOut.Destination("slow-sink", write = (df, id) => {
        if (injectedLatencyMs > 0) Thread.sleep(injectedLatencyMs)
        slowSink.append(df, id)
      }))

    val q = CdcPipeline.start(spark, eventsDir.toString,
      s"$tmp/state", s"$tmp/ckpt", s"$tmp/dlq",
      maxFilesPerTrigger = 1,
      extraSinks = dests,
      onBatch = rs => rs.foreach(r => health.update(r.destination,
        up = r.outcome.isInstanceOf[Retry.Succeeded[_]],
        latencyMs = r.durationMs.toDouble)))
    try {
      q.processAllAvailable()

      // -- degraded, not down: the slow sink succeeds but over-threshold --
      assert(health.dependencyState("slow-sink") == "DEGRADED")
      assert(health.dependencyState("versioned") == "HEALTHY")
      assert(health.overall == "degraded")
      // load balancers keep routing while degraded: /health is still 200
      val obs = new ObsHttpServer(health, new MetricsListener()).start()
      try {
        val conn = new java.net.URL(s"http://localhost:${obs.port}/health")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200)
        val body = new String(conn.getInputStream.readAllBytes())
        assert(body.contains("\"status\":\"degraded\""))
      } finally obs.stop()
      // fast destinations never waited on the slow one: all phase-1 rows in
      assert(versioned.raw(spark).count() == nEvents / 2)
      assert(slowSink.raw(spark).count() == nEvents / 2)
      // bounded backlog: admission stayed at one file per trigger even
      // though the slow sink stretched every batch past 1.2 s
      val sizes = batchRows.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(sizes.filter(_ > 0).length == nFiles / 2)
      assert(sizes.max <= perFile,
        s"a batch admitted ${sizes.max} rows > one file's $perFile under backpressure")

      // -- heal the sink, release the held-back files --
      injectedLatencyMs = 0L
      (3 until nFiles).foreach { i =>
        val name = f"events_$i%03d.json"
        JFiles.move(staged.resolve(name), eventsDir.resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
      }
      q.processAllAvailable()

      assert(health.dependencyState("slow-sink") == "HEALTHY")
      assert(health.overall == "healthy")
      // full drain, no loss, no duplicates anywhere
      assert(versioned.raw(spark).count() == nEvents)
      assert(slowSink.raw(spark).count() == nEvents)
      val sizes2 = batchRows.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(sizes2.filter(_ > 0).length == nFiles)
      assert(sizes2.max <= perFile)
    } finally q.stop()
  }

  test("chaos: sink outage mid-stream exhausts to DLQ, others keep committing, heal + replay is loss-free") {
    // End-to-end analog of the reference's tests/chaos/test_network_partition.py:15-109
    // and test_database_restart.py (SC-003: a destination outage must not
    // lose events and recovery completes promptly once the destination
    // heals). Timeline: phase 1 both sinks commit; phase 2 one sink DIES
    // mid-stream — its batches retry, exhaust into its DLQ partition, the
    // healthy sink keeps committing and health reports UNHEALTHY for the
    // dead sink only; phase 3 the sink heals, the stream keeps serving it,
    // and a preserveBatchIds DLQ replay restores the outage window — end
    // state loss-free and duplicate-free on BOTH sinks.
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    import graft.obs.HealthStatus
    import graft.sinks.DlqSink
    import graft.streaming.{CdcPipeline, ThroughputBench}

    val tmp = Files.createTempDirectory("graft-chaos-outage")
    val eventsDir = JFiles.createDirectories(tmp.resolve("events"))
    val staged = JFiles.createDirectories(tmp.resolve("staged"))
    val dlqDir = s"$tmp/dlq"
    val nFiles = 6; val nEvents = 6000; val perFile = nEvents / nFiles
    ThroughputBench.generate(eventsDir, nEvents, nFiles, nUsers = 500)
    (2 until nFiles).foreach { i =>
      val name = f"events_$i%03d.json"
      JFiles.move(eventsDir.resolve(name), staged.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
    }
    def release(range: Range): Unit = range.foreach { i =>
      val name = f"events_$i%03d.json"
      JFiles.move(staged.resolve(name), eventsDir.resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
    }

    val health = new HealthStatus()
    val steady = new AppendVersionedSink(s"$tmp/steady", Seq("event_key_cols"),
      "timestamp_micros")
    val fragile = new AppendVersionedSink(s"$tmp/fragile", Seq("event_key_cols"),
      "timestamp_micros")
    // Destinations store a stable, JSON-safe projection (the columns the
    // versioned sink keys/orders on): dead letters round-trip through the
    // JSONL DLQ, so a replayed frame must re-append with the exact types
    // the live appends wrote (timestamps/maps would come back as strings)
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_key_cols").cast("string").as("event_key_cols"),
      col("timestamp_micros").cast("long").as("timestamp_micros"),
      col("event_id").cast("string").as("event_id"))
    @volatile var partitioned = false // the network partition switch
    def fragileWrite(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      if (partitioned) throw new java.net.ConnectException("partitioned")
      fragile.append(proj(df), id)
    }
    val fastRetry = RetryPolicy(maxAttempts = 3, baseDelayMs = 1, maxDelayMs = 2)
    val dests = Seq(
      FanOut.Destination("steady", fastRetry,
        (df, id) => steady.append(proj(df), id)),
      FanOut.Destination("fragile", fastRetry, fragileWrite))

    val q = CdcPipeline.start(spark, eventsDir.toString,
      s"$tmp/state", s"$tmp/ckpt", dlqDir,
      maxFilesPerTrigger = 1,
      extraSinks = dests,
      onBatch = rs => rs.foreach(r => health.update(r.destination,
        up = r.outcome.isInstanceOf[Retry.Succeeded[_]],
        latencyMs = r.durationMs.toDouble)))
    try {
      // -- phase 1: both healthy --
      q.processAllAvailable()
      assert(steady.raw(spark).count() == 2L * perFile)
      assert(fragile.raw(spark).count() == 2L * perFile)
      assert(health.dependencyState("fragile") == "HEALTHY")

      // -- phase 2: partition the fragile sink mid-stream --
      partitioned = true
      release(2 until 4)
      q.processAllAvailable()
      // retries exhausted into the DLQ, batch_id recorded per letter
      assert(DlqSink.count(spark, dlqDir, "fragile") == 2L * perFile)
      // the healthy sink never waited on the dead one
      assert(steady.raw(spark).count() == 4L * perFile)
      assert(fragile.raw(spark).count() == 2L * perFile)
      // failure visible, isolated to the dead sink
      assert(health.dependencyState("fragile") == "UNHEALTHY")
      assert(health.dependencyState("steady") == "HEALTHY")
      assert(health.overall == "unhealthy")

      // -- phase 3: heal; stream keeps serving, replay restores the gap --
      partitioned = false
      release(4 until 6)
      q.processAllAvailable()
      assert(fragile.raw(spark).count() == 4L * perFile) // live traffic resumed
      val rep = DlqSink.replay(spark, dlqDir, "fragile",
        replayBatchId = 9999L, fragileWrite, fastRetry,
        preserveBatchIds = true)
      assert(rep.succeeded && rep.rows == 2L * perFile)
      assert(DlqSink.count(spark, dlqDir, "fragile") == 0)
      // loss-free AND duplicate-free end state on both destinations
      assert(steady.raw(spark).count() == nEvents)
      assert(fragile.raw(spark).count() == nEvents)
      assert(fragile.raw(spark).select("event_key_cols").distinct().count() ==
        steady.raw(spark).select("event_key_cols").distinct().count())
      assert(health.dependencyState("fragile") == "HEALTHY")
      assert(health.overall == "healthy")
    } finally q.stop()
  }

  test("replay after partial failure re-writes only idempotently") {
    val tmp = Files.createTempDirectory("graft-fanout2")
    val store = new UpsertStateStore(s"$tmp/state", Seq("user_id"),
      Seq("timestamp_micros"))
    val batch = Seq(("u1", "INSERT", 1L)).toDF("user_id", "event_type",
      "timestamp_micros")
    val p = RetryPolicy(maxAttempts = 2, baseDelayMs = 1, maxDelayMs = 1)
    // first attempt: store succeeds
    FanOut.writeAll(batch, 1L, Seq(
      FanOut.Destination("state-store", p, store.upsert)), s"$tmp/dlq")
    // replay of the same batchId (as after a driver crash): the store's
    // _committed marker short-circuits — still exactly one row
    FanOut.writeAll(batch, 1L, Seq(
      FanOut.Destination("state-store", p, store.upsert)), s"$tmp/dlq")
    assert(store.current(spark).get.count() == 1)
    assert(store.committed(1L))
  }
}
