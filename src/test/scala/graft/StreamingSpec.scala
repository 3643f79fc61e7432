package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.streaming.{CdcPipeline, FanOut, UpsertStateStore}
import graft.functions.MaskRules
import graft.sinks.{AppendVersionedSink, HypertableSink}
import org.apache.spark.sql.functions._

/** End-to-end streaming slice (SURVEY §7.2): JSONL change events →
  * validate/mask/dedup → upsert state store, with kill/restart
  * exactly-once semantics mirroring
  * `tests/integration/test_exactly_once.py:16-168` and
  * `test_crash_recovery.py:16-208`. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def eventJson(id: String, typ: String, user: String, email: String,
      ts: Long): String =
    s"""{"event_id":"$id","event_type":"$typ","table_name":"users",""" +
      s""""keyspace":"ecommerce","partition_key":{"user_id":"$user"},""" +
      s""""clustering_key":{},"columns":${
        if (typ == "DELETE") "{}"
        else s"""{"email":"$email","age":"30"}"""},""" +
      s""""timestamp_micros":$ts,"captured_at_micros":$ts}"""

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def run(eventsDir: Path, base: Path): Unit = {
    val q = CdcPipeline.start(spark,
      eventsDir.toString, base.resolve("state").toString,
      base.resolve("ckpt").toString, base.resolve("dlq").toString)
    q.processAllAvailable()
    q.stop()
  }

  test("pipeline: mask, dedup, upsert, delete, DLQ, restart exactly-once") {
    val base = Files.createTempDirectory("cdc")
    val events = Files.createDirectories(base.resolve("events"))

    // batch 1: u1 insert, u2 insert, one duplicate redelivery of u1's
    // event (same natural key), one invalid event (no partition key)
    writeFile(events, "b1.json", Seq(
      eventJson("e1", "INSERT", "u1", "a@x.com", 1000),
      eventJson("e1-redelivered", "INSERT", "u1", "a@x.com", 1000),
      eventJson("e2", "INSERT", "u2", "b@x.com", 1000),
      """{"event_id":"bad","event_type":"INSERT","table_name":"users",
        |"keyspace":"ecommerce","partition_key":{},"clustering_key":{},
        |"columns":{},"timestamp_micros":5,"captured_at_micros":5}"""
        .stripMargin.replaceAll("\n", "")))
    run(events, base)

    val store = CdcPipeline.stateStore(base.resolve("state").toString)
    val s1 = store.current(spark).get.cache()
    assert(s1.count() == 2) // u1 deduped, bad row routed to DLQ
    val u1email = s1.filter(col("event_key_cols").contains("u1"))
      .select(element_at(col("columns"), "email")).as[String].head()
    // masked: sha256 of the PII email, not the raw value
    assert(u1email.length == 64 && u1email != "a@x.com")
    assert(spark.read.json(base.resolve("dlq").toString).count() == 1)

    // batch 2 after restart: update u1, delete u2, insert u3,
    // plus an exact redelivery of e2 from batch 1 (crash replay analog)
    writeFile(events, "b2.json", Seq(
      eventJson("e4", "UPDATE", "u1", "new@x.com", 2000),
      eventJson("e5", "DELETE", "u2", "", 2000),
      eventJson("e6", "INSERT", "u3", "c@x.com", 2000),
      eventJson("e2", "INSERT", "u2", "b@x.com", 1000)))
    run(events, base) // new query instance, same checkpoint → recovery path

    val s2 = store.current(spark).get.cache()
    val keys = s2.select("event_key_cols").as[String].collect()
    assert(keys.length == 2) // u2 deleted; u1 + u3 remain
    assert(keys.exists(_.contains("u1")) && keys.exists(_.contains("u3")))
    // u1 reflects the UPDATE (ts 2000), exactly once
    val u1 = s2.filter(col("event_key_cols").contains("u1"))
    assert(u1.select("timestamp_micros").as[Long].head() == 2000)

    // replaying the same upsert batch is a no-op (idempotent foreachBatch)
    val before = s2.collect().toSet
    val replay = s2.sparkSession.createDataFrame(s2.rdd, s2.schema)
    store.upsert(replay, batchId = 999)
    store.upsert(replay, batchId = 999) // committed marker short-circuits
    assert(store.current(spark).get.collect().toSet == before)
  }

  test("validation DLQ marker lives under a file: URI DLQ directory, " +
      "and a replayed batch does not dead-letter twice") {
    val base = Files.createTempDirectory("cdc-dlq-uri")
    val events = Files.createDirectories(base.resolve("events"))
    writeFile(events, "b1.json", Seq(
      eventJson("e1", "INSERT", "u1", "a@x.com", 1000),
      """{"event_id":"bad","event_type":"INSERT","table_name":"users",
        |"keyspace":"ecommerce","partition_key":{},"clustering_key":{},
        |"columns":{},"timestamp_micros":5,"captured_at_micros":5}"""
        .stripMargin.replaceAll("\n", "")))
    val dlq = base.resolve("dlq")
    val dlqUri = dlq.toUri.toString
    assert(dlqUri.startsWith("file:"))
    val stateUri = base.resolve("state").toUri.toString
    def runOnce(): Unit = {
      val q = CdcPipeline.start(spark, events.toString,
        stateUri, base.resolve("ckpt").toString, dlqUri)
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    val markers = Option(dlq.toFile.list()).toSeq.flatten
      .filter(_.startsWith("_validation_batch_"))
    assert(markers == Seq("_validation_batch_0"))
    assert(graft.sinks.DlqSink.count(spark, dlqUri, "state-store") == 1)

    // drop batch 0's commit so the restart replays it under the same id
    val commits = base.resolve("ckpt").resolve("commits")
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(commits.resolve(f)))
    runOnce()
    assert(Files.exists(commits.resolve("0")))
    assert(graft.sinks.DlqSink.count(spark, dlqUri, "state-store") == 1)

    // the state store at a file: URI is the table under the plain path:
    // its pointer and markers are not under a `file:` directory relative
    // to the working directory, where java.nio would resolve the URI
    val keys = CdcPipeline.currentState(spark, stateUri).get
      .select("event_key_cols").as[String].collect()
    assert(keys.length == 1 && keys.head.contains("u1"))
    assert(CdcPipeline.currentState(spark, base.resolve("state").toString).get
      .count() == 1)
    assert(!Files.exists(Paths.get(stateUri)) && !Files.exists(Paths.get("file:")))
  }

  /** A job of a state-store fold, which runs after a trigger, not in it. */
  private def isFold(p: java.util.Properties): Boolean =
    Option(p).flatMap(p => Option(p.getProperty("spark.job.description")))
      .exists(_.startsWith("state-store fold"))

  /** Data files under `dir`, recursively: no checksums, markers or
    * `_SUCCESS`. */
  private def dataFiles(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else {
      val st = Files.walk(dir)
      try st.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSet
      finally st.close()
    }

  test("a trigger writes one file per destination, each in one task") {
    val base = Files.createTempDirectory("cdc-layout")
    val events = Files.createDirectories(base.resolve("events"))
    val versioned = new AppendVersionedSink(base.resolve("versioned").toString,
      Seq("event_key_cols"), "timestamp_micros")
    val hyper = base.resolve("hyper")
    val q = CdcPipeline.start(spark, events.toString,
      base.resolve("state").toString, base.resolve("ckpt").toString,
      base.resolve("dlq").toString,
      extraSinks = Seq(
        FanOut.Destination("versioned", write = versioned.append),
        FanOut.Destination("hypertable", write = (df, _) =>
          HypertableSink.write(df, hyper.toString, "captured_at", "day"))))
    try {
      // the first trigger lays down both stores' bases
      writeFile(events, "b1.json", Seq(eventJson("e0", "INSERT", "u0", "a@x.com", 1000)))
      q.processAllAvailable()
      val dests = Seq("state", "versioned", "hyper", "dlq").map(base.resolve)
      val before = dests.map(dataFiles)
      // 48 keys hash into all 4 of the dedup's partitions, so a write
      // that follows the batch's layout lands 4 files
      writeFile(events, "b2.json",
        (1 to 48).map(i => eventJson(s"e$i", "INSERT", s"u$i", s"$i@x.com", 2000)) :+
          """{"event_id":"bad","event_type":"INSERT","table_name":"users",
            |"keyspace":"ecommerce","partition_key":{},"clustering_key":{},
            |"columns":{},"timestamp_micros":5,"captured_at_micros":2000}"""
            .stripMargin.replaceAll("\n", ""))
      val seen = eventsOf(q.processAllAvailable())
      UpsertStateStore.awaitFolds()
      val added = dests.zip(before).map { case (d, b) =>
        (dataFiles(d) -- b).toSeq.map(f => d.relativize(f).getParent.toString)
      }
      // a fold's base is written beside the triggers, not by one
      val Seq(stateAndFold, versionedDelta, bucket, dlq) = added
      val state = stateAndFold.filterNot(_.matches("v\\d+"))
      assert(state.size == 1 && state.head.matches("d\\d+"), state)
      assert(versionedDelta.size == 1 && versionedDelta.head.matches("d\\d+"),
        versionedDelta)
      assert(bucket.size == 1 && bucket.head.startsWith("time_bucket="), bucket)
      assert(dlq.size == 1 && dlq.head.startsWith("destination=state-store"), dlq)
      assert(graft.sinks.DlqSink.count(spark, base.resolve("dlq").toString,
        "state-store") == 1)
      // each destination's write job, found by the output path its SQL
      // execution names, runs one task (its last stage; the earlier one is
      // the dedup's, skipped)
      val plans = seen.collect { case s: SparkListenerSQLExecutionStart =>
        s.executionId.toString -> s.physicalPlanDescription
      }.toMap
      def writeTaskCounts(dest: Path): Seq[Int] = seen.collect {
        case j: SparkListenerJobStart if !isFold(j.properties) && Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(plans.get)
            .exists(p => p.contains("InsertIntoHadoopFsRelationCommand") &&
              p.contains(dest.toString)) =>
          j.stageInfos.maxBy(_.stageId).numTasks
      }
      dests.foreach(d => assert(writeTaskCounts(d) == Seq(1), d))
    } finally q.stop()
  }

  test("CDC triggers start no chmod, readlink, ls or stat process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = Files.createTempDirectory("cdc-forks")
    val events = Files.createDirectories(base.resolve("events"))
    val extra = base.resolve("extra").toString
    spark.range(1).count() // the session's own start-up is not under test
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = CdcPipeline.start(spark, events.toString,
      base.resolve("state").toString, base.resolve("ckpt").toString,
      base.resolve("dlq").toString,
      extraSinks = Seq(FanOut.Destination("parquet",
        write = (df, _) => df.write.mode("append").parquet(extra))))
    try {
      writeFile(events, "b1.json", Seq(eventJson("e1", "INSERT", "u1", "a@x.com", 1000)))
      q.processAllAvailable()
      writeFile(events, "b2.json", Seq(eventJson("e2", "UPDATE", "u1", "b@x.com", 2000),
        """{"event_id":"bad","event_type":"INSERT","table_name":"users",
          |"keyspace":"ecommerce","partition_key":{},"clustering_key":{},
          |"columns":{},"timestamp_micros":5,"captured_at_micros":2000}"""
          .stripMargin.replaceAll("\n", "")))
      q.processAllAvailable()
      writeFile(events, "b3.json", Seq(eventJson("e3", "DELETE", "u1", "", 3000)))
      q.processAllAvailable()
    } finally {
      q.stop()
      rec.stop()
    }
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(graft.sinks.DlqSink.count(spark, base.resolve("dlq").toString,
      "state-store") == 1)
    val jfr = base.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    // Spark's ArtifactManager cleaner runs `rm -rf` on its own thread, off
    // the trigger path: it is not what this guards
    val commands = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).toSeq
    val forked = commands.filter(c =>
      Set("chmod", "readlink", "ls", "stat")(c.split(" ").head.split("/").last))
    assert(forked.isEmpty, s"${forked.size} forks, e.g. ${forked.take(3)}")
  }

  test("writeTasks: one write task per RowsPerWriteTask rows, at least one") {
    // a write beside others is sized by its rows; a lone write keeps the
    // batch's partitions
    val n = CdcPipeline.RowsPerWriteTask
    val rows = Seq(0L, 1L, n, n + 1, 2 * n + 1)
    Seq(2, 3, 4).foreach(writes =>
      assert(rows.map(CdcPipeline.writeTasks(_, writes)) ==
        Seq(1, 1, 1, 2, 3).map(Some(_)), writes))
    assert(rows.map(CdcPipeline.writeTasks(_, 1)).forall(_.isEmpty))
  }

  private def kvBatch(rows: (String, String, Long)*) =
    rows.toDF("k", "event_type", "ts")

  /** `n` INSERTs of keys f0…f(n-1) at `ts`. */
  private def filler(n: Int, ts: Long) =
    (0 until n).map(i => (s"f$i", "INSERT", ts)).toDF("k", "event_type", "ts")

  private def entries(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
    finally st.close()
  }

  private def pointerOf(dir: Path): String =
    new String(Files.readAllBytes(dir.resolve("_LATEST")), StandardCharsets.UTF_8).trim

  /** Parquet bytes of a store directory, as the store's merge rule counts. */
  private def dataBytes(dir: Path): Long =
    entries(dir).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .toSeq.map(n => Files.size(dir.resolve(n))).sum

  test("upsert store: a late event older than a DELETE cannot resurrect the row") {
    val dir = Files.createTempDirectory("graft-tomb").toString
    val store = new UpsertStateStore(dir, Seq("k"), Seq("ts"))
    store.upsert(kvBatch(("k1", "INSERT", 100L), ("k2", "INSERT", 100L)), 1)
    store.upsert(kvBatch(("k1", "DELETE", 300L)), 2)
    assert(store.current(spark).get.select("k").as[String].collect()
      .toSet == Set("k2"))
    // the late straggler: older than the delete, arriving after it
    store.upsert(kvBatch(("k1", "UPDATE", 200L)), 3)
    assert(store.current(spark).get.select("k").as[String].collect()
      .toSet == Set("k2"), "tombstone must outrank the older late event")
    // but a genuinely NEWER write revives the key (last-write-wins)
    store.upsert(kvBatch(("k1", "INSERT", 400L)), 4)
    assert(store.current(spark).get.select("k").as[String].collect()
      .toSet == Set("k1", "k2"))
  }

  test("upsert store: a null delete-marker column is LIVE, not dropped") {
    // a payload that lost the marker field round-tripping through the JSON
    // DLQ and was replayed into the store: `col =!= deleteValue` evaluates
    // to null on it, and a bare filter would silently drop the live row
    val dir = Files.createTempDirectory("graft-nulltomb").toString
    val store = new UpsertStateStore(dir, Seq("k"), Seq("ts"))
    val batch = Seq(
      ("k1", Some("INSERT"), 100L),
      ("k2", Option.empty[String], 100L), // marker lost in replay round-trip
      ("k3", Some("DELETE"), 100L)
    ).toDF("k", "event_type", "ts")
    store.upsert(batch, 1)
    assert(store.current(spark).get.select("k").as[String].collect()
      .toSet == Set("k1", "k2"), "null-marker row must survive the read")
  }

  test("upsert store: replay after a crash between pointer swap and marker") {
    val dir = Files.createTempDirectory("graft-crash")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    def narrow(df: org.apache.spark.sql.DataFrame) = df.withColumn("ts", $"ts".cast("int"))
    store.upsert(narrow(kvBatch(("k1", "INSERT", 100L))), 1)
    store.upsert(narrow(filler(500, 100L)), 2)
    // a batch that widens ts merges inline, and only an inline merge swaps
    // the pointer before its marker
    store.upsert(kvBatch(("k1", "UPDATE", 200L)), 3)
    assert(pointerOf(dir) == "v3")
    val state = store.current(spark).get.collect().toSet
    // simulate the crash window: pointer already at v3, marker missing
    Files.delete(dir.resolve("_committed_3"))
    store.upsert(kvBatch(("k1", "UPDATE", 200L)), 3) // replay must be a no-op
    assert(store.current(spark).get.collect().toSet == state)
    assert(Files.exists(dir.resolve("_committed_3")), "marker backfilled")
  }

  // a fold is the store's merge; pruning runs one fold behind
  test("upsert store: a merge prunes bases before the previous one and deltas below it") {
    val dir = Files.createTempDirectory("graft-prune")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    var bases = Vector.empty[String]
    (1L to 12L).foreach { b =>
      val batch = kvBatch(("k1", "INSERT", b * 100))
      store.upsert(if (b % 3 == 2) batch.unionByName(filler(2000, b)) else batch, b)
      UpsertStateStore.awaitFolds()
      if (pointerOf(dir) == s"v$b") {
        bases :+= s"v$b"
        val names = entries(dir)
        assert(names.filter(_.matches("v\\d+")) subsetOf bases.takeRight(2).toSet,
          s"after the fold through $b: $names")
        // the previous base's batches are gone; this fold's stay readable
        val previous = bases.takeRight(2).head.tail.toLong
        val deltas = names.filter(_.matches("d\\d+")).map(_.tail.toLong)
        assert(deltas.filter(_ <= b) == (previous + 1 to b).toSet,
          s"after the fold through $b: $names")
      }
    }
    assert(bases.size >= 3, s"folds: $bases")
    assert(store.current(spark).get.filter($"k" === "k1")
      .select("ts").as[Long].head() == 1200L)
  }

  test("upsert store: a small batch over a 10k-row base writes only its " +
      "delta, in one job") {
    val dir = Files.createTempDirectory("graft-delta")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(10000, 100L), 1)
    val pointer = pointerOf(dir)
    def baseFiles() = entries(dir.resolve(pointer)).map { n =>
      val p = dir.resolve(pointer).resolve(n)
      (n, Files.size(p), Files.getLastModifiedTime(p))
    }
    val before = baseFiles()
    val jobs = jobPropertiesOf(store.upsert(
      kvBatch(("f1", "UPDATE", 200L), ("new", "INSERT", 200L)), 2)).filterNot(isFold)
    // the write is the only job: no state read, no schema inference
    assert(jobs.size == 1, s"${jobs.size} jobs")
    assert(pointerOf(dir) == pointer && baseFiles() == before)
    val names = entries(dir)
    assert(names("d2") && names("_committed_2") && !names("v2"))
    val cur = store.current(spark).get
    assert(cur.count() == 10001)
    assert(cur.filter($"k" === "f1").select("ts").as[Long].head() == 200L)
  }

  // the trigger writes d<b>; the fold it starts lays down v<b>
  test("upsert store: a batch merges exactly when the committed deltas' " +
      "bytes reach the base's") {
    val dir = Files.createTempDirectory("graft-threshold")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(300, 100L), 1)
    var folds = 0
    var deltas = 0
    (2L to 14L).foreach { b =>
      val base = pointerOf(dir)
      store.upsert(filler(40, b).withColumn("k",
        concat($"k", lit(s"-$b"))), b)
      assert(Files.exists(dir.resolve(s"d$b")), s"batch $b")
      UpsertStateStore.awaitFolds()
      // pruning runs one fold behind: every delta above the old base is
      // still there, and so is the old base
      val pending = (base.tail.toLong + 1 to b).map(i => dataBytes(dir.resolve(s"d$i"))).sum
      val fold = pending >= dataBytes(dir.resolve(base))
      assert(Files.exists(dir.resolve(s"v$b")) == fold, s"batch $b")
      assert(pointerOf(dir) == (if (fold) s"v$b" else base), s"batch $b")
      if (fold) folds += 1 else deltas += 1
    }
    assert(folds > 0 && deltas > 0, s"$folds folds, $deltas deltas")
    assert(store.current(spark).get.count() == 300 + 13 * 40)
  }

  test("upsert store: a DELETE in a delta outranks an older late event, " +
      "in a later delta and after a merge") {
    val dir = Files.createTempDirectory("graft-delta-tomb")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    def keys() = store.current(spark).get.select("k").as[String].collect().toSet
    store.upsert(filler(2000, 100L).unionByName(kvBatch(("k1", "INSERT", 100L))), 1)
    store.upsert(kvBatch(("k1", "DELETE", 300L)), 2)
    store.upsert(kvBatch(("k1", "UPDATE", 200L)), 3) // late, in a later delta
    assert(Files.exists(dir.resolve("d2")) && Files.exists(dir.resolve("d3")))
    assert(!keys()("k1"), "the delta's tombstone must outrank the late event")
    store.upsert(filler(4000, 500L), 4) // a delta as large as the base: a fold
    UpsertStateStore.awaitFolds()
    store.upsert(kvBatch(("k1", "UPDATE", 250L)), 5) // late, above the fold
    assert(pointerOf(dir) == "v4" && Files.exists(dir.resolve("d5")))
    assert(!keys()("k1"), "the folded tombstone must outrank the late event")
    // the tombstone is retained in the base, not dropped by the fold
    assert(spark.read.parquet(dir.resolve("v4").toString)
      .filter($"k" === "k1").select("event_type").as[String].collect()
      .toSeq == Seq("DELETE"))
    store.upsert(kvBatch(("k1", "INSERT", 400L)), 6) // a newer write revives
    assert(keys()("k1"))
  }

  test("upsert store: a delta batch that crashed before its marker " +
      "replays idempotently") {
    val dir = Files.createTempDirectory("graft-delta-crash")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(2000, 100L), 1)
    val batch = kvBatch(("f1", "UPDATE", 200L), ("new", "INSERT", 200L))
    store.upsert(batch, 2)
    // simulate the crash: delta written (partly), marker missing
    Files.delete(dir.resolve("_committed_2"))
    Files.write(dir.resolve("d2").resolve("part-torn.parquet"), Array[Byte](1, 2))
    val cur = store.current(spark).get
    assert(cur.count() == 2000, "an uncommitted delta is invisible")
    assert(cur.filter($"k" === "f1").select("ts").as[Long].head() == 100L)
    store.upsert(batch, 2)
    store.upsert(batch, 2) // committed: a no-op
    val after = store.current(spark).get
    assert(after.count() == 2001)
    assert(after.filter($"k" === "f1").select("ts").as[Long].collect()
      .toSeq == Seq(200L))
    assert(store.committed(2) && !Files.exists(dir.resolve("v2")))
  }

  /** Copy `from` to `to`, directories and files alike. */
  private def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator.asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally st.close()
  }

  private def rowsOf(store: UpsertStateStore) =
    store.current(spark).get.as[(String, String, Long)].collect().toSet

  test("upsert store: a fold that crashed after writing its base, before " +
      "the swap, leaves the old base current and is redone by the next fold") {
    val dir = Files.createTempDirectory("graft-fold-unswapped")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(2000, 100L), 1)
    store.upsert(kvBatch(("k1", "INSERT", 200L)), 2)
    store.upsert(filler(4000, 300L), 3) // the deltas reach the base: a fold
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v3")
    val folded = rowsOf(store)
    // the crash: v3 is written, the pointer still names the base it read
    graft.fs.CommitFiles(spark, dir.toString).swap("_LATEST", "v1")
    assert(rowsOf(store) == folded, "the old base and its deltas hold every batch")
    store.upsert(filler(4000, 300L), 3) // committed: a no-op
    store.upsert(kvBatch(("k2", "INSERT", 400L)), 4)
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v4" && !Files.exists(dir.resolve("v3")))
    assert(rowsOf(store) == folded + (("k2", "INSERT", 400L)))
  }

  test("upsert store: a fold that crashed after the swap, before the " +
      "prune, reads the same, and the next fold prunes what it left") {
    val dir = Files.createTempDirectory("graft-fold-unpruned")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(1000, 100L), 1)
    store.upsert(filler(2000, 200L), 2) // a fold through 2
    UpsertStateStore.awaitFolds()
    val saved = Files.createTempDirectory("graft-fold-saved").resolve("t")
    copyTree(dir, saved)
    store.upsert(filler(4000, 300L), 3) // a fold through 3: prunes d2 and v1
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v3" && !Files.exists(dir.resolve("d2")) &&
      !Files.exists(dir.resolve("v1")))
    val folded = rowsOf(store)
    // the crash: the swap landed, the prune did not
    entries(saved).filterNot(entries(dir)).foreach(n => copyTree(saved.resolve(n), dir.resolve(n)))
    assert(Seq("d2", "_committed_2", "v1").forall(n => Files.exists(dir.resolve(n))))
    assert(rowsOf(store) == folded)
    store.upsert(filler(8000, 400L), 4) // a fold through 4 from v3
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v4")
    val names = entries(dir)
    assert(names.filter(_.matches("v\\d+")) == Set("v3", "v4"), names)
    assert(!names.exists(n => n.matches("(d|_committed_)[23]")), names)
    assert(rowsOf(store) == (0 until 8000).map(i => (s"f$i", "INSERT", 400L)).toSet)
  }

  test("upsert store: a replay of a batch the base holds writes nothing, " +
      "after its marker is pruned too") {
    val dir = Files.createTempDirectory("graft-fold-replay")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(1000, 100L), 1)
    store.upsert(filler(2000, 200L), 2) // a fold through 2
    UpsertStateStore.awaitFolds()
    store.upsert(filler(4000, 300L), 3) // a fold through 3: prunes batch 2
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v3" && !Files.exists(dir.resolve("_committed_2")))
    val before = rowsOf(store)
    assert(store.committed(1) && store.committed(2) && store.committed(3))
    // each would win if it were written
    store.upsert(kvBatch(("f1", "UPDATE", 900L)), 2)
    store.upsert(kvBatch(("f1", "UPDATE", 900L)), 1)
    UpsertStateStore.awaitFolds()
    assert(rowsOf(store) == before)
    assert(!Files.exists(dir.resolve("d1")) && !Files.exists(dir.resolve("d2")))
  }

  test("upsert store: a frame resolved before a fold's swap stays " +
      "readable after it") {
    val dir = Files.createTempDirectory("graft-fold-reader")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(1000, 100L), 1)
    store.upsert(filler(2000, 200L), 2) // a fold through 2
    UpsertStateStore.awaitFolds()
    store.upsert(kvBatch(("k1", "INSERT", 300L)), 3)
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v2")
    val frame = store.current(spark).get // v2 + d3, its files listed now
    val expected = frame.as[(String, String, Long)].collect().toSet
    store.upsert(filler(4000, 400L), 4) // a fold through 4, from v2
    UpsertStateStore.awaitFolds()
    assert(pointerOf(dir) == "v4" && !Files.exists(dir.resolve("v1")))
    assert(frame.as[(String, String, Long)].collect().toSet == expected)
  }

  test("a fold's jobs are named for it, outside the trigger's job group " +
      "and batch") {
    val dir = Files.createTempDirectory("graft-fold-jobs")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(1000, 100L), 1)
    UpsertStateStore.awaitFolds()
    val sc = spark.sparkContext
    val jobs = jobPropertiesOf {
      // the local properties a streaming trigger runs its batch under
      sc.setJobGroup("trigger-group", "trigger, batch 2")
      sc.setLocalProperty("streaming.sql.batchId", "2")
      try store.upsert(filler(2000, 200L), 2) // starts a fold through 2
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("streaming.sql.batchId", null)
      }
      UpsertStateStore.awaitFolds()
    }
    assert(pointerOf(dir) == "v2")
    val (fold, trigger) = jobs.partition(isFold)
    assert(fold.nonEmpty && trigger.nonEmpty, jobs)
    val label = "state-store fold through batch 2"
    fold.foreach { p =>
      assert(p.getProperty("spark.job.description") == label)
      assert(p.getProperty("callSite.short") == label)
      assert(p.getProperty("spark.jobGroup.id") == null)
      assert(p.getProperty("streaming.sql.batchId") == null)
    }
    trigger.foreach(p => assert(p.getProperty("streaming.sql.batchId") == "2"))
  }

  test("upsert store: a batch that changes a column type merges, and " +
      "later deltas use the widened type") {
    val dir = Files.createTempDirectory("graft-widen")
    val store = new UpsertStateStore(dir.toString, Seq("k"), Seq("ts"))
    store.upsert(filler(2000, 100L).withColumn("ts", $"ts".cast("int")), 1)
    // small enough for a delta, but ts no longer fits the stored INT
    store.upsert(kvBatch(("k1", "INSERT", 5000000000L)), 2)
    assert(pointerOf(dir) == "v2" && !Files.exists(dir.resolve("d2")))
    store.upsert(kvBatch(("k2", "INSERT", 6000000000L)), 3)
    assert(Files.exists(dir.resolve("d3")))
    val cur = store.current(spark).get
    assert(cur.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(cur.count() == 2002)
    assert(cur.filter($"k".isin("k1", "k2")).select("ts").as[Long].collect()
      .toSet == Set(5000000000L, 6000000000L))
  }

  test("currentState ranks same-timestamp events by event_id, as the " +
      "writer does, across base and delta") {
    val dir = Files.createTempDirectory("graft-tie").toString
    def rows(r: (String, String)*) = r.map { case (user, id) =>
      ("ecommerce", "users", s"ecommerce.users:user_id=$user:", id, "UPDATE",
        1000L)
    }.toDF("keyspace", "table_name", "event_key_cols", "event_id",
      "event_type", "timestamp_micros")
    val store = CdcPipeline.stateStore(dir)
    store.upsert(rows("u1" -> "e-b", "u2" -> "e-a"), 1) // the base
    store.upsert(rows("u1" -> "e-a", "u2" -> "e-b"), 2) // a delta
    assert(Files.exists(Paths.get(dir, "d2")))
    val winners = CdcPipeline.currentState(spark, dir).get
      .select("event_key_cols", "event_id").as[(String, String)].collect()
    assert(winners.toMap == Map("ecommerce.users:user_id=u1:" -> "e-b",
      "ecommerce.users:user_id=u2:" -> "e-b"), winners.toSeq)
  }

  test("maskEnvelope compiles with an empty PHI or PII field list") {
    val rules = graft.functions.MaskRules(
      piiFields = Seq("email"), phiFields = Nil)
    val df = Seq(("e1", Map("email" -> "a@x.com", "age" -> "30")))
      .toDF("event_id", "columns")
    val out = CdcPipeline.maskEnvelope(rules)(df)
      .select(element_at(col("columns"), "email"),
        element_at(col("columns"), "age"))
      .as[(String, String)].head()
    assert(out._1.length == 64) // sha2 applied
    assert(out._2 == "30")      // passthrough untouched
  }

  test("schema evolution through the live pipeline: ADD_COLUMN generations + incompatibles DLQ") {
    // the reference's test_add_column/test_alter_type shape run end-to-end:
    // deliver a generation-1 batch, register an ADD_COLUMN version at the
    // restart boundary (SURVEY §7.6 restart-on-schema-change), deliver
    // generation-2 events, and assert both generations land typed while
    // events carrying unsupported-typed columns route to the DLQ
    import graft.schema._
    import graft.types.CqlTypes
    import graft.streaming.FanOut
    import graft.sinks.DlqSink
    val base = Files.createTempDirectory("cdc-evo")
    val events = Files.createDirectories(base.resolve("events"))
    val typedOut = base.resolve("typed").toString
    val dlqDir = base.resolve("dlq").toString
    val registry = new SchemaRegistry

    // typed-warehouse destination: per batch, project against the
    // registry's LATEST schema; unsupported-typed columns → DLQ
    def typedWrite(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val v = registry.latest("ecommerce", "users").get
      val (ok, bad) = SchemaEvolution.gateUnsupported(df, v.schema)
      if (!bad.isEmpty)
        DlqSink.write(bad, dlqDir, "typed-warehouse", "UnsupportedType",
          "column with DLQ-routed CQL type", failedAtMicros = 1L)
      val typedSchema = org.apache.spark.sql.types.StructType(v.schema.fields
        .filterNot(f => CqlTypes.isUnsupported(SchemaMeta.cqlTypeOf(f))))
      SchemaEvolution.applyTyped(ok, typedSchema)
        .write.mode("append").parquet(s"$typedOut/gen=${v.version}")
    }
    def runEvo(): Unit = {
      val q = CdcPipeline.start(spark, events.toString,
        base.resolve("state").toString, base.resolve("ckpt").toString,
        dlqDir, extraSinks = Seq(
          FanOut.Destination("typed-warehouse", write = typedWrite)))
      q.processAllAvailable()
      q.stop()
    }

    // generation 1: (user_id PK, email)
    val v1 = org.apache.spark.sql.types.StructType(Seq(
      SchemaMeta.field("user_id", "TEXT", partitionKey = true),
      SchemaMeta.field("email", "TEXT")))
    assert(SchemaEvolution.evolve(registry, "ecommerce", "users", v1)
      == SchemaEvolution.Discovered(1))
    writeFile(events, "g1.json",
      Seq(eventJson("e1", "INSERT", "u1", "a@x.com", 1000)))
    runEvo()

    // restart boundary: ADD_COLUMN phone (compatible, applied) + a legacy
    // COUNTER column (lands in the registry, but its events DLQ-route);
    // an ALTER narrowing email to INT is REJECTED, never applied
    val v2 = org.apache.spark.sql.types.StructType(v1.fields ++ Seq(
      SchemaMeta.field("phone", "TEXT"),
      SchemaMeta.field("legacy_ctr", "COUNTER")))
    SchemaEvolution.evolve(registry, "ecommerce", "users", v2) match {
      case SchemaEvolution.Applied(2, changes) =>
        assert(changes.collect { case AddColumn(c, _) => c }.toSet
          == Set("phone", "legacy_ctr"))
      case other => fail(s"expected Applied(2, _), got $other")
    }
    val narrowed = org.apache.spark.sql.types.StructType(Seq(
      SchemaMeta.field("user_id", "TEXT", partitionKey = true),
      SchemaMeta.field("email", "INT"),
      SchemaMeta.field("phone", "TEXT"),
      SchemaMeta.field("legacy_ctr", "COUNTER")))
    assert(SchemaEvolution.evolve(registry, "ecommerce", "users", narrowed)
      .isInstanceOf[SchemaEvolution.Rejected])

    // generation 2: e2 uses the new phone column; e3 carries the
    // unsupported-typed legacy_ctr and must DLQ-route
    writeFile(events, "g2.json", Seq(
      s"""{"event_id":"e2","event_type":"INSERT","table_name":"users",""" +
        s""""keyspace":"ecommerce","partition_key":{"user_id":"u2"},""" +
        s""""clustering_key":{},"columns":{"email":"b@x.com","phone":"555"},""" +
        s""""timestamp_micros":2000,"captured_at_micros":2000}""",
      s"""{"event_id":"e3","event_type":"INSERT","table_name":"users",""" +
        s""""keyspace":"ecommerce","partition_key":{"user_id":"u3"},""" +
        s""""clustering_key":{},"columns":{"email":"c@x.com","legacy_ctr":"7"},""" +
        s""""timestamp_micros":2000,"captured_at_micros":2000}"""))
    runEvo() // fresh query, same checkpoint — the §7.6 restart

    // both generations landed typed, each under its own schema version
    val g1 = spark.read.parquet(s"$typedOut/gen=1")
    assert(g1.columns.toSeq ==
      Seq("event_id", "event_type", "timestamp_micros", "user_id", "email"))
    assert(g1.select("user_id").as[String].collect().toSeq == Seq("u1"))
    val g2 = spark.read.parquet(s"$typedOut/gen=2")
    assert(g2.columns.contains("phone"))
    assert(g2.select("user_id").as[String].collect().toSeq == Seq("u2"))
    // the evolved column is PII — masking applies to it from its first
    // post-evolution batch (sha-256, not the raw phone number)
    val phone = g2.select("phone").as[String].head()
    assert(phone.length == 64 && phone != "555")
    // the unsupported-typed event went to the DLQ, not the warehouse
    assert(DlqSink.count(spark, dlqDir, "typed-warehouse") == 1)
    // the state store (schema-generation-agnostic) holds all three users
    assert(CdcPipeline.currentState(spark, base.resolve("state").toString)
      .get.count() == 3)
    // registry history records the lineage: v1 → v2, hashes distinct
    val hist = registry.history("ecommerce", "users")
    assert(hist.map(_.version) == List(1, 2))
    assert(hist.map(_.hash).distinct.size == 2)
  }

  test("restart on schema change: events arriving in the kill window " +
      "survive the version flip exactly-once, old state widens") {
    // SURVEY §7.6's operational sequence, end-to-end: the stream is
    // KILLED, generation-2 events (new column + a value needing the
    // widened type) land while nothing is running, the registry flips
    // v1→v2 (ADD_COLUMN phone + ALTER age INT→BIGINT, the
    // test_add_column/test_alter_type pair), and the restart drains the
    // backlog from the checkpoint — every event lands exactly once, a
    // generation-1 row UPDATED post-flip carries the new column, and a
    // further no-input restart replays nothing
    import graft.schema._
    import graft.streaming.FanOut
    val base = Files.createTempDirectory("cdc-flip")
    val events = Files.createDirectories(base.resolve("events"))
    val typedOut = base.resolve("typed").toString
    val registry = new SchemaRegistry

    def typedWrite(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val v = registry.latest("ecommerce", "users").get
      SchemaEvolution.applyTyped(df, v.schema)
        .write.mode("append").parquet(s"$typedOut/gen=${v.version}")
    }
    def drain(): Unit = {
      val q = CdcPipeline.start(spark, events.toString,
        base.resolve("state").toString, base.resolve("ckpt").toString,
        base.resolve("dlq").toString, extraSinks = Seq(
          FanOut.Destination("typed-warehouse", write = typedWrite)))
      q.processAllAvailable()
      q.stop()
    }
    def userJson(id: String, typ: String, user: String, ts: Long,
        cols: String): String =
      s"""{"event_id":"$id","event_type":"$typ","table_name":"users",""" +
        s""""keyspace":"ecommerce","partition_key":{"user_id":"$user"},""" +
        s""""clustering_key":{},"columns":$cols,""" +
        s""""timestamp_micros":$ts,"captured_at_micros":$ts}"""

    // generation 1 under v1 (age is INT)
    val v1 = org.apache.spark.sql.types.StructType(Seq(
      SchemaMeta.field("user_id", "TEXT", partitionKey = true),
      SchemaMeta.field("email", "TEXT"),
      SchemaMeta.field("age", "INT")))
    assert(SchemaEvolution.evolve(registry, "ecommerce", "users", v1)
      == SchemaEvolution.Discovered(1))
    writeFile(events, "g1.json", Seq(
      userJson("e1", "INSERT", "u1", 1000, """{"email":"a@x.com","age":"30"}"""),
      userJson("e2", "INSERT", "u2", 1000, """{"email":"b@x.com","age":"40"}""")))
    drain() // ...and the stream is now KILLED

    // the kill window: generation-2 events land while nothing runs —
    // an UPDATE to a generation-1 user using the NEW column, and an
    // insert whose age value needs the WIDENED type
    writeFile(events, "g2.json", Seq(
      userJson("e3", "UPDATE", "u1", 2000, """{"phone":"555","age":"31"}"""),
      userJson("e4", "INSERT", "u3", 2000,
        """{"email":"c@x.com","phone":"777","age":"9999999999"}""")))
    // the registry flip that motivated the restart
    val v2 = org.apache.spark.sql.types.StructType(Seq(
      SchemaMeta.field("user_id", "TEXT", partitionKey = true),
      SchemaMeta.field("email", "TEXT"),
      SchemaMeta.field("age", "BIGINT"),
      SchemaMeta.field("phone", "TEXT")))
    SchemaEvolution.evolve(registry, "ecommerce", "users", v2) match {
      case SchemaEvolution.Applied(2, changes) =>
        assert(changes.toSet == Set(AddColumn("phone", "TEXT"),
          AlterType("age", "INT", "BIGINT", keyRole = false)))
      case other => fail(s"expected Applied(2, _), got $other")
    }
    drain() // restart from the same checkpoint drains the backlog

    def stateSnapshot() =
      CdcPipeline.currentState(spark, base.resolve("state").toString).get
      .select(col("event_key_cols"),
        element_at(col("columns"), "phone").as("phone"),
        element_at(col("columns"), "age").as("age"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    val s1 = stateSnapshot()
    assert(s1.size == 3, s"expected u1,u2,u3 — got $s1") // no loss, no dup
    // the generation-1 row took the post-flip UPDATE: new column present
    // (masked — phone is PII from its first post-evolution batch)
    val u1 = s1.find(_._1.contains("u1")).get
    assert(u1._2 != null && u1._2.length == 64 && u1._2 != "555")
    assert(u1._3 == "31")
    // typed landings: gen-1 has INT age, gen-2 has the widened BIGINT
    // carrying the value an INT cannot hold
    val g1 = spark.read.parquet(s"$typedOut/gen=1")
    assert(g1.schema("age").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(g1.count() == 2)
    val g2 = spark.read.parquet(s"$typedOut/gen=2")
    assert(g2.schema("age").dataType == org.apache.spark.sql.types.LongType)
    assert(g2.select("age").as[Long].collect().toSet ==
      Set(31L, 9999999999L))
    // a further restart with NO new input replays nothing
    drain()
    assert(stateSnapshot() == s1)
    assert(spark.read.parquet(s"$typedOut/gen=2").count() == g2.count())
    assert(registry.history("ecommerce", "users").map(_.version) ==
      List(1, 2))
  }
}
