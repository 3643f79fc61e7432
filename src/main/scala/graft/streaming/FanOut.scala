package graft.streaming

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.LocalProperties
import graft.functions.Bound
import graft.sinks.{DlqSink, Retry, RetryPolicy}

/** Per-batch fan-out to N destinations with per-destination failure
  * isolation — the reference's core orchestration
  * (`src/main.py:123-155`: one batch, `asyncio.gather` across sinks,
  * `return_exceptions=True` so one sick destination never blocks the
  * others; retry + DLQ handoff per destination,
  * `specs/.../research.md:361-378`).
  *
  * Spark shape (SURVEY §2.9 fan-out note): ONE streaming query, the batch
  * `persist()`ed once by the caller, destination writes dispatched
  * concurrently from the driver. Each destination owns a retry policy
  * (§2.9 backoff semantics);
  * permanent or exhausted failures append the whole batch to that
  * destination's DLQ partition and the other destinations proceed —
  * matching the reference's per-sink health independence. Exactly-once
  * holds per destination, and only for a destination whose write is
  * `batchId`-idempotent: a batch replayed after a crash between its
  * writes and the checkpoint commit runs every destination's write again
  * under the same id. The state store and the versioned sink skip a
  * batch they committed; `HypertableSink.write` appends without a batch
  * id, so a replayed batch lands in it twice.
  *
  * Constraint: destinations run CONCURRENTLY and therefore must not share
  * an output path — two simultaneous parquet appends into one directory
  * share the Hadoop committer's `_temporary` staging dir and corrupt each
  * other's commits. One destination = one sink = one path.
  */
object FanOut {

  /** One destination: a name (DLQ partition key), a retry policy, a
    * write (batchId-idempotent for exactly-once), and a wall-clock bound
    * on the whole retried write. `timeoutMs` guards against a
    * destination that HANGS rather than fails (half-open TCP, a driver
    * with no socket timeout):
    * retries only isolate destinations that throw, and an unbounded
    * await on a hung one would stall every other destination's next
    * batch. On timeout the batch goes to this destination's DLQ and the
    * others proceed. A late success from the abandoned attempt commits
    * under THIS batchId — idempotence holds per batchId, not across ids,
    * so the later DLQ replay dedupes it only when driven with
    * `DlqSink.replay(..., preserveBatchIds = true)` (re-writes under the
    * original batch_id recorded in the letters); a replay under a fresh
    * replayBatchId double-delivers to append-style destinations. */
  final case class Destination(
      name: String,
      policy: RetryPolicy = RetryPolicy(),
      write: (DataFrame, Long) => Unit,
      timeoutMs: Long = Long.MaxValue)

  /** Outcome per destination for metrics/health bookkeeping;
    * `durationMs` covers the whole retried write (the sink-health latency
    * input, `src/models/destination_sink.py:67-72`), which
    * [[graft.obs.HealthStatus.record]] reports. */
  final case class FanOutResult(destination: String,
      outcome: Retry.Outcome[Unit], dlqRows: Long, durationMs: Long = 0L)

  /** `Future(f)` on `ec`, under a copy of the calling thread's Spark local
    * properties. A pooled thread otherwise tags every job it runs with the
    * properties it inherited when the pool created it: in a streaming
    * query, batch 0's description, batch id and SQL root execution id, in
    * every later trigger. A `label` names the jobs `f` runs: it becomes
    * their call site (the stage name) and a line of their description, in
    * the copy only. */
  def inheriting[A](sc: SparkContext, label: Option[String] = None)(f: => A)(
      implicit ec: ExecutionContext): Future[A] = {
    val props = LocalProperties.capture(sc)
    label.foreach(LocalProperties.labelled(props, _))
    Future(LocalProperties.withCopy(sc, props)(f))
  }

  /** Write `batch` to every destination concurrently; isolate failures.
    * Returns per-destination outcomes (order of `dests`). Every destination
    * and its DLQ handoff read `batch`, so a caller whose batch is costly to
    * recompute persists it first. Each write and each DLQ handoff runs
    * under the caller's Spark local properties, labelled with the
    * destination and `batchId`. */
  def writeAll(batch: DataFrame, batchId: Long, dests: Seq[Destination],
      dlqDir: String)(implicit ec: ExecutionContext = ExecutionContext.global)
      : Seq[FanOutResult] = {
    val sc = batch.sparkSession.sparkContext
    val futures = dests.map { d =>
      val t0 = System.currentTimeMillis()
      val label = Some(s"fan-out ${d.name}, batch $batchId")
      // one `batch_write` span per destination per batch (the
      // reference's tracing unit, `src/observability/tracing.py:103`);
      // non-recording — two branches — unless Tracing.init was called.
      // batch.size is not attributed here: counting the batch costs a
      // Spark job, and the caller that knows the count can set it.
      val span = graft.obs.Tracing.active
        .map(_.startSpan("batch_write",
          "destination" -> d.name, "batch.id" -> batchId))
        .getOrElse(graft.obs.Span.NonRecording)
      inheriting(sc, label) {
        def attempt() = Retry.withRetry(d.policy)(d.write(batch, batchId))
        // a destination that HANGS (vs fails) must not stall the other
        // destinations' next batch: a bounded write runs on a thread of its
        // own (under this thread's labelled properties) and is abandoned
        // after its bound
        val out =
          if (d.timeoutMs == Long.MaxValue) attempt()
          else try Await.result(inheriting(sc)(attempt()), Duration(d.timeoutMs, "ms"))
          catch { case _: TimeoutException => Retry.Exhausted(
            new TimeoutException(s"${d.name} write exceeded ${d.timeoutMs} ms"),
            attempts = 1, firstFailureAtMillis = t0) }
        val dlqRows = out match {
          case Retry.Succeeded(_, _) => 0L
          case Retry.Permanent(err, attempts, firstAt) =>
            span.recordError(err)
            toDlq(batch, batchId, d.name, err, dlqDir, attempts, firstAt)
          case Retry.Exhausted(err, attempts, firstAt) =>
            span.recordError(err)
            toDlq(batch, batchId, d.name, err, dlqDir, attempts, firstAt)
        }
        span.setAttribute("retry.attempts", out.attempts)
          .setAttribute("dlq.rows", dlqRows)
          .end()
        FanOutResult(d.name, out, dlqRows,
          durationMs = System.currentTimeMillis() - t0)
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
  }

  private def toDlq(batch: DataFrame, batchId: Long, dest: String,
      err: Throwable, dlqDir: String, attempts: Int,
      firstFailureAtMillis: Long): Long = {
    val n = batch.count()
    val sw = new java.io.StringWriter()
    err.printStackTrace(new java.io.PrintWriter(sw))
    DlqSink.write(
      batch.withColumn("batch_id", Bound.long(batchId)),
      dlqDir, destination = dest,
      errorType = err.getClass.getSimpleName,
      errorMessage = Option(err.getMessage).getOrElse(""),
      failedAtMicros = System.currentTimeMillis() * 1000,
      retryCount = attempts,
      firstFailureAtMicros = firstFailureAtMillis * 1000,
      stackTrace = sw.toString)
    n
  }
}
