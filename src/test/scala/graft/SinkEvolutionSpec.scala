package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.AppendVersionedSink
import graft.schema._

/** Append+versioned-dedup sink (ClickHouse RMT analog) and online schema
  * evolution gating. */
class SinkEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("append-versioned sink: view collapses versions, drops tombstones, survives replay") {
    val dir = Files.createTempDirectory("avs").toString
    val sink = new AppendVersionedSink(dir, keyNames = Seq("k"),
      versionCol = "ver")
    val b1 = Seq(("u1", 1L, "INSERT", "a"), ("u2", 1L, "INSERT", "b"))
      .toDF("k", "ver", "event_type", "v")
    val b2 = Seq(("u1", 2L, "UPDATE", "a2"), ("u2", 2L, "DELETE", null))
      .toDF("k", "ver", "event_type", "v")
    sink.append(b1, 1); sink.append(b2, 2)
    def files = Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString).toSet
    val landed = files
    sink.append(b2, 2) // redelivery of a committed batch id: a no-op
    assert(files == landed)
    val view = sink.view(spark).select("k", "ver", "v").as[(String, Long, String)]
      .collect().toSet
    assert(view == Set(("u1", 2L, "a2"))) // u1 latest, u2 tombstoned, replay absorbed
  }

  test("schema evolution: discovery, widening applied, narrowing rejected") {
    val reg = new SchemaRegistry
    val v1 = StructType(Seq(
      SchemaMeta.field("id", "UUID", partitionKey = true),
      SchemaMeta.field("age", "INT")))
    val v2 = StructType(Seq(
      SchemaMeta.field("id", "UUID", partitionKey = true),
      SchemaMeta.field("age", "BIGINT"),
      SchemaMeta.field("note", "TEXT")))
    assert(SchemaEvolution.evolve(reg, "ks", "t", v1) == SchemaEvolution.Discovered(1))
    assert(SchemaEvolution.evolve(reg, "ks", "t", v1) == SchemaEvolution.Unchanged)
    SchemaEvolution.evolve(reg, "ks", "t", v2) match {
      case SchemaEvolution.Applied(2, changes) =>
        assert(changes.toSet == Set(AddColumn("note", "TEXT"),
          AlterType("age", "INT", "BIGINT", keyRole = false)))
      case other => fail(s"unexpected: $other")
    }
    assert(SchemaEvolution.evolve(reg, "ks", "t", v1).isInstanceOf[SchemaEvolution.Rejected])
  }

  test("unsupported-type columns route events to DLQ side; typed projection applies") {
    val schema = StructType(Seq(
      SchemaMeta.field("id", "UUID", partitionKey = true),
      SchemaMeta.field("age", "INT"),
      SchemaMeta.field("ctr", "COUNTER")))
    val batch = Seq(
      ("e1", "INSERT", 10L, Map("id" -> "u1"), Map.empty[String, String],
        Map("age" -> "30")),
      ("e2", "INSERT", 20L, Map("id" -> "u2"), Map.empty[String, String],
        Map("age" -> "40", "ctr" -> "7")))
      .toDF("event_id", "event_type", "timestamp_micros",
        "partition_key", "clustering_key", "columns")
    val (ok, dlq) = SchemaEvolution.gateUnsupported(batch, schema)
    assert(ok.select("event_id").as[String].collect().toSeq == Seq("e1"))
    assert(dlq.select("event_id").as[String].collect().toSeq == Seq("e2"))

    val typed = SchemaEvolution.applyTyped(ok,
      StructType(schema.fields.filterNot(_.name == "ctr")))
    val row = typed.head()
    assert(row.getAs[String]("id") == "u1")
    assert(row.getAs[Int]("age") == 30) // cast applied from string map
  }
}
