package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.obs.{HealthStatus, MetricsListener, ObsHttpServer}

/** HTTP exposure of /health + /metrics, mirroring the reference's
  * Prometheus exporter + aiohttp health route
  * (`src/observability/metrics.py:46-54`, `health.py:87-119`). */
class ObsHttpSpec extends SparkSpec {

  private def get(port: Int, path: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  test("serves health JSON with load-balancer status codes") {
    val health = new HealthStatus("1.2.3")
    val srv = new ObsHttpServer(health, new MetricsListener).start()
    try {
      // no dependencies registered -> unhealthy -> 503 (health.py:50-61)
      val down = get(srv.port, "/health")
      assert(down.statusCode() == 503)
      assert(down.body().contains("\"status\":\"unhealthy\""))

      health.update("postgres", up = true, latencyMs = 12.0)
      health.update("clickhouse", up = true, latencyMs = 1500.0) // DEGRADED
      val degraded = get(srv.port, "/health")
      assert(degraded.statusCode() == 200)
      assert(degraded.body().contains("\"status\":\"degraded\""))
      assert(degraded.body().contains("\"version\":\"1.2.3\""))
      assert(degraded.body().contains("\"state\":\"DEGRADED\""))

      health.update("clickhouse", up = true, latencyMs = 30.0)
      assert(get(srv.port, "/health").body().contains("\"status\":\"healthy\""))
    } finally srv.stop()
  }

  test("a streaming query that fails turns /health to 503; its first " +
      "progress after a restart brings it back") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import spark.implicits._
    val health = new HealthStatus()
    val metrics = new MetricsListener(health)
    val srv = new ObsHttpServer(health, metrics).start()
    spark.streams.addListener(metrics)
    // listener events arrive asynchronously: poll /health for the code
    def healthCodeBecomes(code: Int): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      while (get(srv.port, "/health").statusCode() != code &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      get(srv.port, "/health").statusCode() == code
    }
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Int]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-health").toString
      @volatile var sinkDown = false
      def start() = input.toDF().writeStream
        .queryName("health_probe")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (sinkDown) throw new IllegalStateException("sink down")
          b.count()
          ()
        }.start()
      val q = start()
      input.addData(1, 2)
      q.processAllAvailable()
      assert(healthCodeBecomes(200), get(srv.port, "/health").body())

      sinkDown = true
      input.addData(3)
      intercept[StreamingQueryException](q.processAllAvailable())
      assert(healthCodeBecomes(503), get(srv.port, "/health").body())
      val body = get(srv.port, "/health").body()
      assert(body.contains("\"health_probe\"") &&
        body.contains("\"state\":\"UNHEALTHY\""), body)
      assert(metrics.snapshot("cdc_errors_total") == 1.0)

      // a restart from the checkpoint keeps the query's id and replays
      // the failed batch; its progress reports the query up again
      sinkDown = false
      val restarted = start()
      try {
        assert(restarted.id == q.id)
        restarted.processAllAvailable()
        assert(healthCodeBecomes(200), get(srv.port, "/health").body())
      } finally restarted.stop()
    } finally {
      spark.streams.removeListener(metrics)
      srv.stop()
    }
  }

  test("a pipeline booted from config is a /health dependency under " +
      "cdc-<keyspace>") {
    import graft.config.{DestinationSettings, PipelineConfig, SourceSettings}
    import graft.streaming.CdcPipeline
    val base = java.nio.file.Files.createTempDirectory("graft-health-name")
    val events = java.nio.file.Files.createDirectories(base.resolve("events"))
    java.nio.file.Files.write(events.resolve("e.json"),
      ("""{"event_id":"e1","event_type":"INSERT","table_name":"users",""" +
        """"keyspace":"shop","partition_key":{"user_id":"u1"},""" +
        """"clustering_key":{},"columns":{"age":"30"},""" +
        """"timestamp_micros":1,"captured_at_micros":1}""").getBytes("UTF-8"))
    val cfg = PipelineConfig(source = SourceSettings(keyspace = "shop"),
      destinations = Seq(DestinationSettings("postgres", enabled = true)),
      dlqDirectory = base.resolve("dlq").toString)
    val health = new HealthStatus()
    val metrics = new MetricsListener(health)
    val srv = new ObsHttpServer(health, metrics).start()
    spark.streams.addListener(metrics)
    try {
      val q = CdcPipeline.startFromConfig(spark, cfg, events.toString,
        base.resolve("state").toString, base.resolve("ckpt").toString,
        sinkFor = _ => (_, _) => (), health = Some(health))
      try q.processAllAvailable() finally q.stop()
      assert(q.name == "cdc-shop" && CdcPipeline.queryName(cfg) == "cdc-shop")
      // the listener's progress event arrives asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (health.dependencyState("cdc-shop") == "UNKNOWN" &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val body = get(srv.port, "/health").body()
      assert(body.contains("\"cdc-shop\":{\"status\":\"up\""), body)
      assert(!body.contains(q.id.toString), body)
    } finally {
      spark.streams.removeListener(metrics)
      srv.stop()
    }
  }

  test("serves Prometheus exposition with the reference metric names") {
    val metrics = new MetricsListener
    val srv = new ObsHttpServer(new HealthStatus, metrics).start()
    try {
      val resp = get(srv.port, "/metrics")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
      val body = resp.body()
      Seq("cdc_events_processed_total", "cdc_errors_total",
        "cdc_events_per_second", "cdc_backlog_depth").foreach { name =>
        assert(body.contains(s"# TYPE $name"), s"missing series $name")
      }
    } finally srv.stop()
  }
}
