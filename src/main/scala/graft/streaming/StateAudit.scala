package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, TTLConfig}

/** State-size audit for the TTL-bounded streaming twins — the missing
  * measurement behind the 100 TB streaming story: the twins' scaladocs
  * ARGUE that watermark/TTL keeps state bounded ("dedup against the
  * last N days, not all of history"), and the specs prove semantics,
  * but nothing measured state rows/bytes across a run longer than the
  * TTL horizon. This drives each twin through `waves` key-DISJOINT
  * input waves with the TTL expiring between them, and reads the
  * engine's own state-store metrics (`StreamingQueryProgress
  * .stateOperators`: numRowsTotal / memoryUsedBytes — RocksDB memtable
  * + block-cache occupancy) after the first wave and at the end.
  *
  * Bounded state means: rows after `waves` disjoint waves ≈ rows after
  * ONE wave (the store holds roughly the live horizon), not `waves`×.
  * Unbounded would mean every cold key stays resident forever — the
  * reference's in-memory dict failure mode (`src/cdc/offset.py:27`)
  * at corpus scale. The audited twins:
  *
  *  - `neardup`  — [[StreamingNearDup]]: ListState per LSH bucket
  *  - `passage`  — [[StreamingPassageDedup]]: ValueState per window fp
  *  - `latest`   — [[LatestStateProcessor]]: ValueState per CDC key
  *  - `cms`      — [[StreamingCms]]: ValueState per sketch cell (also
  *    grid-bounded by construction; the TTL bounds the HORIZON)
  *
  * TTL requires ProcessingTime time mode and the RocksDB provider
  * (transformWithState column families), and `processAllAvailable`
  * never settles under timer housekeeping batches — progress is polled
  * (the StreamingCmsSpec pattern). RocksDB purges expired rows during
  * maintenance/compaction, not at the expiry instant, so the final
  * read waits for a post-expiry batch to land before trusting
  * numRowsTotal.
  */
object StateAudit {

  /** One twin's measured state trajectory. `rowsWave1` is the live
    * footprint of a single wave; `rowsFinal`/`bytesFinal` the store
    * after all waves with expiries between them. Bounded eviction ⇒
    * rowsFinal stays O(rowsWave1), not O(waves · rowsWave1). */
  final case class TwinState(twin: String, rowsWave1: Long,
      rowsFinal: Long, bytesFinal: Long, waves: Int, keysPerWave: Int)

  private def stateRows(q: StreamingQuery): (Long, Long) = {
    val ps = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
    ps.map { p =>
      (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }.getOrElse((-1L, -1L))
  }

  /** Poll until the query has processed its source up to `offset` (what
    * the last `addData` returned) — `processAllAvailable` is unusable in
    * ProcessingTime mode. Not by summing `recentProgress` input rows: it
    * keeps the last 100 batches only, and timer housekeeping batches of
    * a few ms each cycle through that between two polls. */
  private def awaitOffset(q: StreamingQuery, offset: Offset,
      timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def reached = Option(q.lastProgress)
      .exists(_.sources.exists(_.endOffset == offset.json))
    while (System.currentTimeMillis() < deadline && !reached) Thread.sleep(200)
    require(reached,
      s"stream did not reach source offset ${offset.json} within ${timeoutMs}ms")
  }

  /** Wait for at least one more completed micro-batch (timer
    * housekeeping counts) — the hook that lets RocksDB surface TTL
    * eviction in numRowsTotal after the horizon has passed. */
  private def awaitNextBatch(q: StreamingQuery,
      timeoutMs: Long = 60000): Unit = {
    val seen = q.recentProgress.map(_.batchId).foldLeft(-1L)(_ max _)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      q.recentProgress.map(_.batchId).foldLeft(-1L)(_ max _) <= seen)
      Thread.sleep(200)
  }

  /** Drive one twin: `wire` builds the stateful stream over the typed
    * input; `wave(w)` yields wave `w`'s rows (key-disjoint across
    * waves). Returns the measured trajectory. */
  private def auditTwin[I: Encoder, O](spark: SparkSession, name: String,
      waves: Int, keysPerWave: Int, ttl: java.time.Duration,
      wave: Int => Seq[I],
      wire: (Dataset[I], TTLConfig) => Dataset[O]): TwinState = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[I]
    val out = wire(input.toDS(), TTLConfig(ttl))
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-stateaudit-$name-ckpt")
    val q = out.writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(if (name == "latest") "update" else "append")
      .start()
    try {
      var rowsWave1 = -1L
      (0 until waves).foreach { w =>
        awaitOffset(q, input.addData(wave(w)))
        if (w == 0) rowsWave1 = stateRows(q)._1
        // let wave w expire before wave w+1 lands (and before the final
        // read): the TTL horizon passes, then one more batch gives the
        // store a maintenance slot to purge
        Thread.sleep(ttl.toMillis + 1000)
        awaitNextBatch(q)
      }
      // one EXTRA maintenance slot before the final read: RocksDB can
      // surface a TTL purge in numRowsTotal one batch later than the
      // horizon on a loaded machine — a purge-lag budget, not required
      // on a quiet run (short timeout; on-deadline return is fine)
      awaitNextBatch(q, timeoutMs = 10000)
      val (rows, bytes) = stateRows(q)
      TwinState(name, rowsWave1, rows, bytes, waves, keysPerWave)
    } finally {
      q.stop()
      // the checkpoint is per-run scratch (four dirs per audit, run from
      // both Bench and the spec) — delete it, deepest-first. RocksDB
      // maintenance can still be retiring .tmp/.crc files just after
      // q.stop(): one racing file must not abandon the REST of the
      // cleanup, so each deleteIfExists swallows its own IOException /
      // UncheckedIOException; the walk stream itself is closed (it holds
      // a directory handle) and a throw from its iterator — a directory
      // vanishing mid-walk — is swallowed at the outer level (a
      // rarely-leaked scratch dir in /tmp beats a failed audit)
      try {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(ckpt)) { walk =>
          walk.sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach { p =>
              try java.nio.file.Files.deleteIfExists(p)
              catch {
                case _: java.io.IOException |
                     _: java.io.UncheckedIOException => ()
              }
            }
        }
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }
  }

  /** Run the audit over all four TTL-bounded twins. Wave keys are
    * disjoint across waves by construction (wave id baked into every
    * key/token), so without eviction state would grow `waves`-fold. */
  def run(spark: SparkSession, waves: Int = 3, keysPerWave: Int = 500,
      ttlSeconds: Int = 4): Seq[TwinState] = {
    import spark.implicits._
    StateStores.useRocksDb(spark, boundedMemMb = 512)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // state-store partition count is pinned at first checkpoint; 4 keeps
    // per-batch task count proportional to the audit's volume (the
    // ThroughputBench.run sizing rule)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val ttl = java.time.Duration.ofSeconds(ttlSeconds.toLong)
    try {
      val neardup = auditTwin[StreamingNearDup.Doc,
        StreamingNearDup.Candidate](spark, "neardup", waves, keysPerWave,
        ttl,
        w => (0 until keysPerWave).map(i => StreamingNearDup.Doc(
          w.toLong * keysPerWave + i, s"w${w}d${i}a w${w}d${i}b w${w}d${i}c")),
        (ds, t) => StreamingNearDup.candidates(ds, t))
      val passage = auditTwin[StreamingPassageDedup.Doc,
        StreamingPassageDedup.Cut](spark, "passage", waves, keysPerWave,
        ttl,
        w => (0 until keysPerWave).map { i =>
          val toks = (0 until graft.operators.Dedup.PassageLen)
            .map(j => s"w${w}d${i}t$j").mkString(" ")
          StreamingPassageDedup.Doc(w.toLong * keysPerWave + i, toks)
        },
        (ds, t) => StreamingPassageDedup.cuts(ds, t))
      val latest = auditTwin[LatestStateProcessor.Change,
        LatestStateProcessor.KeyState](spark, "latest", waves, keysPerWave,
        ttl,
        w => (0 until keysPerWave).map(i => LatestStateProcessor.Change(
          s"w${w}k$i", "INSERT", i.toLong, s"payload$i")),
        (ds, t) => LatestStateProcessor.latestState(ds, t))
      val cms = auditTwin[StreamingCms.Doc, StreamingCms.CellCount](
        spark, "cms", waves, keysPerWave, ttl,
        w => (0 until keysPerWave).map(i =>
          StreamingCms.Doc(w.toLong * keysPerWave + i, s"w${w}tok$i")),
        (ds, t) => StreamingCms.counters(ds, t))
      Seq(neardup, passage, latest, cms)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      StateStores.useDefault(spark)
    }
  }
}
