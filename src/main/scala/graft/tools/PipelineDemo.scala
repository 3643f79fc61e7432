package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.config.PipelineConfig
import graft.obs.{HealthStatus, MetricsListener}
import graft.streaming.CdcPipeline

/** Config-driven boot demo — the reference's `main.py` startup path:
  * load YAML + env config, start the pipeline, expose metrics + health.
  *
  * Usage: runMain graft.tools.PipelineDemo [pipeline.yaml]
  * (defaults to config/pipeline.example.yaml). Destination sinks are
  * batchId-idempotent parquet appends — one directory per enabled
  * destination, standing in for JDBC/versioned/hypertable writers.
  * Prints the Prometheus exposition and the `/health` JSON after the
  * run; binding them to HTTP ports is `cfg.observability.*` + a servlet,
  * out of engine scope.
  */
object PipelineDemo {

  def main(args: Array[String]): Unit = {
    val cfgPath = args.headOption.getOrElse("config/pipeline.example.yaml")
    val cfg = PipelineConfig.load(Some(cfgPath))
    println(s"[demo] loaded $cfgPath: trigger=${cfg.pipeline.pollIntervalMs}ms " +
      s"batch=${cfg.pipeline.batchSize} retry=${cfg.retry.maxAttempts} " +
      s"destinations=${cfg.enabledDestinations.map(_.name).mkString(",")}")

    val spark = graft.Session.local()

    val work = Files.createTempDirectory("graft-demo")
    val eventsDir = s"$work/events"
    Files.createDirectories(java.nio.file.Paths.get(eventsDir))
    writeEvents(eventsDir)

    val metrics = new MetricsListener
    spark.streams.addListener(metrics)
    val health = new HealthStatus()
    // settings.py:118-119: tracing is config-gated; when enabled the
    // fan-out's per-destination batch_write spans print as console JSON
    val tracer = graft.obs.Tracing.initFromConfig(cfg.observability)
    tracer.foreach(_ => println("[demo] tracing enabled (console exporter)"))

    val outRoot = s"$work/sinks"
    def parquetSink(name: String): (DataFrame, Long) => Unit =
      (batch, batchId) => batch
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("append").parquet(s"$outRoot/$name")

    val q = CdcPipeline.startFromConfig(spark, cfg,
      eventsDir = eventsDir,
      stateDir = s"$work/state",
      checkpointDir = s"$work/ckpt",
      sinkFor = d => parquetSink(d.name),
      health = Some(health))
    q.processAllAvailable()
    q.stop()

    cfg.enabledDestinations.foreach { d =>
      val n = spark.read.parquet(s"$outRoot/${d.name}").count()
      println(s"[demo] destination ${d.name}: $n rows " +
        s"(${health.dependencyState(d.name)})")
    }
    println(s"[demo] ${cfg.observability.metricsPath} →")
    print(metrics.prometheusText)
    println(s"[demo] ${cfg.observability.healthCheckPath} → ${health.toJson}")
    graft.obs.Tracing.shutdown() // flush any buffered spans
    spark.streams.removeListener(metrics)
    spark.stop()
  }

  /** A handful of JSONL change events in the envelope wire shape. */
  private def writeEvents(dir: String): Unit = {
    val lines = (1 to 50).map { i =>
      s"""{"event_id":"e$i","event_type":"${if (i % 10 == 0) "DELETE" else "INSERT"}",
         |"table_name":"users","keyspace":"production",
         |"partition_key":{"user_id":"u${i % 20}"},
         |"clustering_key":{},
         |"columns":${if (i % 10 == 0) "{}"
        else s"""{"email":"user$i@example.com","ssn":"000-00-$i","age":"$i"}"""},
         |"timestamp_micros":${1700000000000000L + i},
         |"captured_at_micros":${1700000000000000L + i}}""".stripMargin
        .replaceAll("\n", "")
    }
    Files.write(java.nio.file.Paths.get(s"$dir/events-0001.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    ()
  }
}
