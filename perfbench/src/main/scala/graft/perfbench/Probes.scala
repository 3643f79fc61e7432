package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One span: a layer boundary the benchmark timed around a call into the
  * program. `owner` is the batch id or query-execution id it belongs to. */
final case class Span(name: String, owner: String, startNs: Long, endNs: Long,
    parent: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out once, when the run ends. Off
  * until the traced window starts. */
final class Spans {
  @volatile var enabled = false
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  def time[A](name: String, owner: String, parent: String = "")(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(Span(name, owner, t0, System.nanoTime(), parent))
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"name":"${s.name}","owner":"${s.owner}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, sb.toString)
  }
}

/** Bench-side SparkListener: job start and end times and per-stage task
  * totals, so a trigger or a query can be broken into jobs, stages, tasks,
  * task time, shuffle writes and spills. Times are the listener's epoch
  * millis. */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stageTasks = mutable.HashMap.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val t = stageTasks.getOrElse(e.stageId, StageTotals(0, 0L, 0L, 0L))
    stageTasks(e.stageId) = StageTotals(t.tasks + 1, t.taskMs + e.taskInfo.duration,
      t.shuffleBytes + m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      t.spillBytes + m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  /** Jobs that started inside `[fromMs, toMs]` and what their tasks did.
    * Skipped stages ran no task and are not counted. */
  def between(fromMs: Long, toMs: Long): Breakdown = synchronized {
    val js = jobs.filter { case (_, t, _) => t >= fromMs && t <= toMs }
    val st = js.flatMap(_._3).distinct.flatMap(stageTasks.get)
    Breakdown(js.length, st.length, st.map(_.tasks).sum, st.map(_.taskMs).sum,
      st.map(_.shuffleBytes).sum, st.map(_.spillBytes).sum,
      js.map { case (id, t, _) => (t, jobEnds.getOrElse(id, toMs)) }.toSeq)
  }

  /** Wait, up to `timeoutMs`, until every job seen so far has ended:
    * listener events arrive after the action that caused them returns. */
  def settle(timeoutMs: Long): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.exists(j => !jobEnds.contains(j._1))) &&
        System.currentTimeMillis() < until) Thread.sleep(20)
  }
}

object JobListener {
  final case class StageTotals(tasks: Int, taskMs: Long, shuffleBytes: Long,
      spillBytes: Long)
  /** `jobSpans` are the jobs' `(start, end)` epoch millis. */
  final case class Breakdown(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      shuffleBytes: Long, spillBytes: Long, jobSpans: Seq[(Long, Long)])
}

/** JVM and host readings taken around a timed window. */
object Host {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** (steal, total) jiffies over all CPUs. */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 == from._2) 0.0
    else 100.0 * (to._1 - from._1) / (to._2 - from._2)

  /** Fixed single-thread CPU work: SHA-256 over 64 MiB, seconds. */
  def calibCpuS(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val block = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    (0 until 64).foreach { i => block(0) = i.toByte; md.update(block) }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed small Spark job through the scheduler, median of 3, seconds. */
  def calibSparkS(spark: SparkSession): Double =
    Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 2000000, 1, 4).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    })
}
