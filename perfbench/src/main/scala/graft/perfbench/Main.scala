package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The benchmark's measuring process: one workload, one seed, one run.
  *
  * Every timed window starts after warm-up, and warm-up counts in
  * `setup_s`. End-to-end metrics come from an untraced window. With
  * `--trace 1` a second, traced window follows; it gives the per-layer
  * metrics, and the difference between the two windows is the tracing
  * overhead. A traced run then times the per-event kernels and the query
  * pack. The run checks the program's outputs against the generator's
  * model and writes one JSON result file.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: String, t0EpochMs: Long,
      tracePath: String, corpus: String, answers: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", new File(m("work")), m("out"), m("t0-ms").toLong,
      m.getOrElse("trace-out", ""), m.getOrElse("corpus", ""),
      m.getOrElse("answers", ""))
  }

  /** Result of one run: metrics by name as (value, unit). */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  // nanoTime ↔ epoch time, fixed once per process
  private val nanoOrigin = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMicros(ns: Long): Long = (ns - nanoOrigin) / 1000L
  def nanosOf(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoOrigin

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .config("spark.local.dir", new File(args.work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.detail("session_ready_s") = (System.currentTimeMillis() - args.t0EpochMs) / 1000.0
    val spans = new Spans
    val ctx = Ctx(spark, args, res, spans, new JobListener)
    try {
      args.workload match {
        case "cdc_lag" => CdcWorkloads.lag(ctx)
        case "cdc_drain" => CdcWorkloads.drain(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (args.trace) {
        Kernels.measure(ctx)
        QueryPack.run(ctx, args.corpus, args.answers)
      }
      val (calibCpu, calibSpark) = (Host.calibCpuS(), Host.calibSparkS(spark))
      res.detail("host.calib_cpu_s") = calibCpu
      res.detail("host.calib_spark_s") = calibSpark
      if (args.trace) {
        res.put("host.calib_cpu_s", calibCpu, "s")
        res.put("host.calib_spark_s", calibSpark, "s")
      } else res.put("peak_rss_mb", Host.peakRssMb, "MB")
      res.detail("jvm_flags") = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      res.detail("spark_master") = s"local[$cpus]"
      if (args.trace && args.tracePath.nonEmpty) spans.write(args.tracePath)
    } finally spark.stop()
    write(res, args.out)
  }

  private def write(res: Result, path: String): Unit = {
    val mapper = new ObjectMapper()
    def jv(v: Any): AnyRef = v match {
      case s: Seq[_] => s.map(jv).asJava
      case m: collection.Map[_, _] =>
        val o = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => o.put(k.toString, jv(x)) }
        o
      case d: Double => java.lang.Double.valueOf(d)
      case l: Long => java.lang.Long.valueOf(l)
      case i: Int => java.lang.Integer.valueOf(i)
      case b: Boolean => java.lang.Boolean.valueOf(b)
      case null => null
      case x => x.toString
    }
    val root = new java.util.LinkedHashMap[String, AnyRef]()
    root.put("correct", java.lang.Boolean.valueOf(res.failed == 0))
    root.put("attempted", java.lang.Long.valueOf(res.attempted))
    root.put("failed", java.lang.Long.valueOf(res.failed))
    val ms = new java.util.LinkedHashMap[String, AnyRef]()
    res.metrics.foreach { case (k, (v, u)) =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      o.put("value", java.lang.Double.valueOf(v)); o.put("unit", u)
      ms.put(k, o)
    }
    root.put("metrics", ms)
    root.put("detail", jv(res.detail))
    Files.writeString(Paths.get(path), mapper.writeValueAsString(root))
  }
}

/** What every workload gets: the session, its arguments, the result it
  * fills and the span buffer. */
final case class Ctx(spark: SparkSession, args: Main.Args, res: Main.Result,
    spans: Spans, jobs: JobListener) {
  /** Record setup time: from the runner's start to the first timed
    * operation. */
  def markSetupDone(): Unit =
    res.put("setup_s", (System.currentTimeMillis() - args.t0EpochMs) / 1000.0, "s")
}

/** JVM and host readings around each timed window. Window 0 is untraced;
  * window 1, in a traced run, starts the spans and the job listener. */
object Windows {
  def observe(ctx: Ctx, i: Int)(body: => Unit): Unit = {
    if (i == 1) {
      ctx.spans.enabled = true
      ctx.spark.sparkContext.addSparkListener(ctx.jobs)
    }
    val gc0 = Host.gcMs
    Host.resetHeapPeak()
    val j0 = Host.cpuJiffies
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    val gc = (Host.gcMs - gc0) / s
    val steal = Host.stealPct(j0, Host.cpuJiffies)
    if (i == 0) {
      ctx.res.detail("jvm.gc_ms_per_s") = gc
      ctx.res.detail("jvm.heap_used_peak_mb") = Host.heapPeakMb
      ctx.res.detail("host.steal_pct") = steal
      ctx.res.detail("window_s") = s
    } else {
      ctx.res.put("jvm.gc_ms_per_s", gc, "ms/s")
      ctx.res.put("jvm.heap_used_peak_mb", Host.heapPeakMb, "MB")
      ctx.res.put("host.steal_pct", steal, "%")
    }
  }
}
