package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.functions.Bound
import graft.sinks.{AppendVersionedSink, DlqSink}
import graft.streaming.{CdcPipeline, UpsertStateStore}

/** Per-batch values bound by reference: the same generated source for
  * every batch id, so a write under a new batch compiles nothing. */
class BoundSpec extends SparkSpec {
  import spark.implicits._

  /** Janino compiles that `f` causes. */
  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a bound long reads as its value and a bound uuid draws a fresh " +
      "UUID per row, generated and interpreted") {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"
    def check(): Unit = {
      val rows = spark.range(0, 1000, 1, 4)
        .select(Bound.long(42L).as("b"), Bound.uuid().as("u"))
        .as[(Long, String)].collect()
      assert(rows.forall(_._1 == 42L))
      assert(rows.forall(_._2.matches(uuid)) && rows.map(_._2).distinct.length == 1000)
    }
    check()
    val key = "spark.sql.codegen.factoryMode"
    spark.conf.set(key, "NO_CODEGEN")
    try check() finally spark.conf.unset(key)
  }

  test("a second versioned append and a second validation-DLQ write under " +
      "a new batch id compile nothing") {
    UpsertStateStore.awaitFolds() // nothing else compiles meanwhile
    val tmp = Files.createTempDirectory("graft-bound")
    // a ranged frame, so the writes run generated code (a local one would
    // be evaluated by the optimizer)
    val batch = spark.range(0, 100, 1, 2)
      .select(concat(lit("k"), $"id").as("k"), lit("UPDATE").as("event_type"),
        $"id".as("ts"))
    val sink = new AppendVersionedSink(tmp.resolve("versioned").toString, Seq("k"), "ts")
    sink.append(batch, 1L) // the first base
    sink.append(batch, 2L) // the first delta
    assert(compiles(sink.append(batch, 3L)) == 0)
    assert(sink.view(spark).count() == 100)

    val dlq = tmp.resolve("dlq").toString
    val invalid = spark.range(0, 10, 1, 1)
      .select($"id".as("x"), lit("missing partition key").as("_invalid_reason"))
    CdcPipeline.deadLetterInvalid(invalid, 1L, dlq)
    Thread.sleep(2) // a later failed_at_micros
    assert(compiles(CdcPipeline.deadLetterInvalid(invalid, 2L, dlq)) == 0)
    val letters = DlqSink.read(spark, dlq, "state-store")
    assert(letters.select("batch_id").as[Long].collect().groupBy(identity)
      .view.mapValues(_.length).toMap == Map(1L -> 10, 2L -> 10))
    assert(letters.select("dlq_id").distinct().count() == 20)
  }
}
