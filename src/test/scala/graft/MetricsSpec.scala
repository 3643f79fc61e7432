package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.obs.{HealthStatus, MetricsListener}

/** Listener-driven metrics with the reference's Prometheus names
  * (`src/observability/metrics.py:10-43`, `tests/unit/test_metrics.py`). */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("listener accumulates processed counts, durations, health") {
    val health = new HealthStatus()
    val listener = new MetricsListener(health)
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Int]
      val q = input.toDS().toDF("v")
        .writeStream.format("memory").queryName("metrics_probe").start()
      input.addData(1 to 100: _*)
      q.processAllAvailable()
      input.addData(1 to 50: _*)
      q.processAllAvailable()
      q.stop()

      // listener events are async — wait for delivery
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot("cdc_events_processed_total") < 150 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      val snap = listener.snapshot
      assert(snap("cdc_events_processed_total") == 150.0)
      assert(snap("cdc_replication_duration_seconds_count") >= 2.0)
      assert(snap("cdc_errors_total") == 0.0)
      assert(listener.processedFor("metrics_probe") == 150L)
      assert(health.dependencyState("metrics_probe") != "UNKNOWN")
    } finally spark.streams.removeListener(listener)
  }

  test("supervised restart reusing the query id keeps prior Unhealthy visible") {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val health = new HealthStatus()
    val listener = new MetricsListener(health)
    val id = java.util.UUID.randomUUID()
    listener.onQueryStarted(
      new QueryStartedEvent(id, java.util.UUID.randomUUID(), "q", "t0"))
    listener.onQueryTerminated(
      new QueryTerminatedEvent(id, java.util.UUID.randomUUID(), Some("boom")))
    assert(health.dependencyState("q") == "UNHEALTHY")
    // a checkpoint-based supervised restart reuses the SAME query id: the
    // failure must stay visible until the restart reports healthy progress
    listener.onQueryStarted(
      new QueryStartedEvent(id, java.util.UUID.randomUUID(), "q", "t1"))
    assert(health.dependencyState("q") == "UNHEALTHY",
      "restart wiped an unobserved failure")
  }

  test("unnamed queries do not kill the listener (progress.name is null)") {
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Int]
      val q = input.toDS().toDF("v") // no queryName: progress.name == null
        .writeStream.format("noop").start()
      input.addData(1 to 10: _*)
      q.processAllAvailable()
      q.stop()

      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot("cdc_events_processed_total") < 10 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      // before the null-guard, merge(null, …) NPE'd and every metric after
      // processedTotal silently stopped updating
      assert(listener.snapshot("cdc_events_processed_total") == 10.0)
      assert(listener.snapshot("cdc_replication_duration_seconds_count") >= 1.0)
      assert(listener.processedFor(q.id.toString) == 10L)
    } finally spark.streams.removeListener(listener)
  }

  test("prometheus exposition renders every snapshot series") {
    val listener = new MetricsListener
    val text = listener.prometheusText
    listener.snapshot.keys.foreach { name =>
      assert(text.contains(s"# TYPE $name"), s"missing series $name")
    }
    assert(text.contains("# TYPE cdc_events_processed_total counter"))
    assert(text.contains("# TYPE cdc_backlog_depth gauge"))
  }

  test("fan-out results drive health states incl. DEGRADED (health.py:21-84)") {
    import graft.sinks.RetryPolicy
    import graft.streaming.FanOut
    val health = new HealthStatus()
    assert(health.overall == "unhealthy") // nothing registered yet

    val dir = java.nio.file.Files.createTempDirectory("health-dlq").toString
    val batch = Seq((1, "a")).toDF("id", "v")
    val results = FanOut.writeAll(batch, 1L, Seq(
      FanOut.Destination("fast", RetryPolicy(), (_, _) => ()),
      FanOut.Destination("slow", RetryPolicy(),
        (_, _) => Thread.sleep(1200)), // > DegradedThresholdMs, still up
      FanOut.Destination("dead", RetryPolicy(maxAttempts = 1),
        (_, _) => throw new IllegalStateException("permanently broken"))),
      dir)
    health.record(results)

    assert(health.dependencyState("fast") == "HEALTHY")
    assert(health.dependencyState("slow") == "DEGRADED")
    assert(health.dependencyState("dead") == "UNHEALTHY")
    assert(health.overall == "unhealthy") // any down dependency wins
    val json = health.toJson
    assert(json.contains("\"status\":\"unhealthy\"") &&
      json.contains("\"slow\"") && json.contains("\"DEGRADED\""))

    // recovery: the dead destination comes back ⇒ overall only degraded
    health.update("dead", up = true, latencyMs = 5.0)
    assert(health.overall == "degraded")
    health.update("slow", up = true, latencyMs = 20.0)
    assert(health.overall == "healthy")

    // one slow write among fast ones: the median of the last 3 samples
    // (450 ms) is under the threshold, though the latest (1180 ms) is over
    Seq(400.0, 450.0, 1180.0).foreach(ms =>
      health.update("jittery", up = true, latencyMs = ms))
    assert(health.dependencyState("jittery") == "HEALTHY")
  }

  test("tracing on: one micro_batch span per progress event, sizes add up") {
    import graft.obs.{CollectingSpanExporter, Tracing}
    val col = new CollectingSpanExporter
    Tracing.init(extraExporters = Seq(col), maxExportBatchSize = 1)
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Int]
      val q = input.toDS().toDF("v")
        .writeStream.format("memory").queryName("span_probe").start()
      input.addData(1 to 40: _*)
      q.processAllAvailable()
      input.addData(1 to 20: _*)
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 10000
      def probeSpans() = col.spans.filter(s => s.name == "micro_batch" &&
        s.attributes.toMap.get("query.name").contains("span_probe") &&
        s.attributes.toMap.apply("batch.size").asInstanceOf[Long] > 0)
      while (probeSpans().map(_.attributes.toMap.apply("batch.size")
          .asInstanceOf[Long]).sum < 60 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val spans = probeSpans()
      assert(spans.map(_.attributes.toMap.apply("batch.size")
        .asInstanceOf[Long]).sum == 60L)
      assert(spans.forall(_.status == "OK"))
    } finally {
      spark.streams.removeListener(listener)
      Tracing.shutdown()
    }
  }
}
