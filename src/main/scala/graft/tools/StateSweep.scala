package graft.tools

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.fs.CommitFiles
import graft.streaming.{CdcPipeline, UpsertStateStore}

/** Dev tool: the state store's upsert cost against state size, across a
  * fold. For each N it lays down a base of N keys, upserts an N-row
  * delta (which makes a fold due), then upserts 10,000-row batches over
  * the N keys until the pointer has moved and 6 more have run. It prints
  * one markdown row per N: the median upsert call outside the fold, the
  * slowest call that overlapped it, and the fold's own time (the span of
  * its Spark jobs, named `state-store fold …`; a store that folds inside
  * a call has none, and its fold is that call).
  *
  * Rows are the CDC state row: the key triple, `timestamp_micros`,
  * `event_id`, `event_type` with 2% DELETEs and a 64-character payload.
  * Every batch is written to parquet first, in one file as a CDC trigger
  * writes it, and read before the clock starts, so every timed call runs
  * the same plan and compiles nothing new.
  * Usage: runMain graft.tools.StateSweep [N …] (default 100000 1000000)
  */
object StateSweep {
  private val BatchRows = 10000L
  private val MaxCalls = 120
  private val CallsAfterFold = 6

  def main(args: Array[String]): Unit = {
    val sizes = if (args.isEmpty) Seq(100000L, 1000000L) else args.toSeq.map(_.toDouble.toLong)
    val spark = graft.Session.local()
    println("| existing keys N | median upsert | slowest upsert across the fold | " +
      "ratio | fold | calls across the fold |")
    println("|---|---|---|---|---|---|")
    sizes.foreach(n => println(row(spark, n)))
    spark.stop()
  }

  /** `rows` CDC state rows at version `v`, keys drawn from `keys` slots
    * (all of them, in order, when `rows == keys`). */
  private def rows(spark: SparkSession, rows: Long, keys: Long, v: Long) = {
    val slot = if (rows == keys) col("id") else pmod(xxhash64(col("id"), lit(v)), lit(keys))
    spark.range(rows).select(
      lit("ks").as("keyspace"), lit("users").as("table_name"),
      format_string("ks.users:user_id=%d:", slot).as("event_key_cols"),
      (lit(v * 1000000000L) + col("id")).as("timestamp_micros"),
      format_string("e%d-%d", lit(v), col("id")).as("event_id"),
      when(pmod(xxhash64(col("id"), lit(v + 1)), lit(50)) === 0, "DELETE")
        .otherwise("UPDATE").as("event_type"),
      sha2(format_string("%d/%d", lit(v), col("id")), 256).as("payload"))
  }

  private def row(spark: SparkSession, n: Long): String = {
    val work = Files.createTempDirectory("graft-sweep")
    val batches = work.resolve("batches").toString
    def batch(v: Long) = spark.read.parquet(s"$batches/$v")
    // one file per batch, as a CDC trigger writes it
    (2L until 2L + MaxCalls).foreach(v =>
      rows(spark, BatchRows, n, v).coalesce(1).write.parquet(s"$batches/$v"))
    rows(spark, n, n, 0).write.parquet(s"$batches/0")
    rows(spark, n, n, 1).write.parquet(s"$batches/1")

    val stateDir = work.resolve("state").toString
    val store = CdcPipeline.stateStore(stateDir)
    val pointer = CommitFiles(spark, stateDir)
    store.upsert(batch(0), 0) // the base
    // every batch's frame, read before the clock starts
    val upserts = (2L until 2L + MaxCalls).map(batch)

    // every fold's jobs, by job id: (description, start, end), epoch ms
    val foldJobs = new ConcurrentHashMap[Int, (String, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("state-store fold"))
          .foreach(d => foldJobs.put(e.jobId, (d, e.time, Long.MaxValue)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        foldJobs.computeIfPresent(e.jobId, (_, j) => j.copy(_3 = e.time))
    }
    spark.sparkContext.addSparkListener(listener)
    store.upsert(batch(1), 1) // an N-row delta: a fold is due
    // (start, end) of every timed call, epoch ms; the call that saw the
    // pointer move
    val calls = Vector.newBuilder[(Long, Long)]
    var movedAt = -1
    var i = 0
    while (i < MaxCalls && (movedAt < 0 || i < movedAt + 1 + CallsAfterFold)) {
      val t0 = System.currentTimeMillis()
      store.upsert(upserts(i), 2L + i)
      calls += ((t0, System.currentTimeMillis()))
      if (movedAt < 0 && !pointer.read("_LATEST").contains("v0")) movedAt = i
      i += 1
    }
    UpsertStateStore.awaitFolds()
    Thread.sleep(500) // the listener bus delivers the last job end
    spark.sparkContext.removeSparkListener(listener)

    CommitFiles(spark, work.toString).delete("")

    val timed = calls.result()
    // each fold's window, from its jobs; a store that folds inside a call
    // has none, and its fold is the call that moved the pointer
    val windows = foldJobs.values.asScala.toSeq.groupBy(_._1).map { case (d, js) =>
      d -> (js.map(_._2).min, js.map(_._3).max)
    }
    val (from, to) = windows.getOrElse("state-store fold through batch 1",
      timed(math.max(movedAt, 0)))
    def overlaps(call: (Long, Long), w: (Long, Long)) = call._1 < w._2 && call._2 > w._1
    val across = timed.filter(overlaps(_, (from, to)))
    // a later fold (the 10k batches reach a small base again) is left out
    val ms = timed.filterNot(c => (windows.values.toSeq :+ (from -> to)).exists(overlaps(c, _)))
      .map { case (s, e) => e - s }.sorted
    val median = if (ms.isEmpty) 0L else ms(ms.size / 2)
    val slowest = across.map { case (s, e) => e - s }.maxOption.getOrElse(0L)
    f"| $n%,d | $median%,d ms | $slowest%,d ms | ${slowest.toDouble / math.max(median, 1)}%.1fx " +
      f"| ${to - from}%,d ms | ${across.size} |"
  }
}
