package graft.sinks

import scala.util.Random

/** Retry with exponential backoff + jitter and retryable/permanent
  * classification.
  *
  * Ports the semantics of the reference's retry engine: delay =
  * base · mult^(n−1), capped, with ±25% jitter (`src/sinks/retry.py:38-70`);
  * classification by exception type and message substrings
  * (`retry.py:73-121`); bounded attempts with DLQ handoff on permanent or
  * exhausted failures (`retry.py:124-194`). Driver-side: wraps whole-batch
  * sink writes inside `foreachBatch`; task-level compute retries stay with
  * `spark.task.maxFailures`.
  */
final case class RetryPolicy(
    maxAttempts: Int = 3,
    baseDelayMs: Long = 100,
    multiplier: Double = 2.0,
    maxDelayMs: Long = 30000,
    jitterFraction: Double = 0.25) {

  /** Deterministic (pre-jitter) backoff for attempt n (1-based):
    * base·mult^(n−1) capped at maxDelayMs (`retry.py:38-57`). */
  def backoffMs(attempt: Int): Long = {
    require(attempt >= 1, "attempt is 1-based")
    val raw = baseDelayMs * math.pow(multiplier, (attempt - 1).toDouble)
    math.min(raw, maxDelayMs.toDouble).toLong
  }

  /** Backoff with uniform ±jitterFraction jitter (`retry.py:59-70`). */
  def backoffWithJitterMs(attempt: Int, rng: Random = new Random()): Long = {
    val base = backoffMs(attempt).toDouble
    val jitter = base * jitterFraction * (2 * rng.nextDouble() - 1)
    math.max(0L, (base + jitter).toLong)
  }
}

object Retry {
  /** Substring patterns marking an exception retryable
    * (`src/sinks/retry.py:88-103`: connection/timeouts/unavailability). */
  private val retryablePatterns = Seq(
    "connection", "timeout", "timed out", "temporarily unavailable",
    "too many connections", "broken pipe", "connection reset",
    "network", "unavailable")

  /** Exception classes that are always retryable. */
  private val retryableClasses: Seq[Class[_]] = Seq(
    classOf[java.net.SocketTimeoutException],
    classOf[java.net.ConnectException],
    classOf[java.io.InterruptedIOException],
    classOf[java.util.concurrent.TimeoutException])

  def isRetryable(t: Throwable): Boolean = {
    val byClass = retryableClasses.exists(_.isInstance(t))
    val msg = Option(t.getMessage).getOrElse("").toLowerCase
    byClass || retryablePatterns.exists(msg.contains)
  }

  sealed trait Outcome[+A] { def attempts: Int }
  case class Succeeded[A](value: A, attempts: Int) extends Outcome[A]
  /** `firstFailureAtMillis` = wall-clock of the FIRST failed attempt —
    * carried into the DLQ record (spec `data-model.md:241`). */
  case class Exhausted(lastError: Throwable, attempts: Int,
      firstFailureAtMillis: Long) extends Outcome[Nothing]
  case class Permanent(error: Throwable, attempts: Int,
      firstFailureAtMillis: Long) extends Outcome[Nothing]

  /** Run `op` with the policy; sleep between attempts. Permanent errors
    * fail immediately (`retry.py:150-170`). */
  def withRetry[A](policy: RetryPolicy, rng: Random = new Random(),
      sleep: Long => Unit = Thread.sleep)(op: => A): Outcome[A] = {
    var attempt = 1
    var firstFailureAt = 0L
    while (true) {
      try return Succeeded(op, attempt)
      catch {
        // NonFatal only: an OOM or interrupt must propagate, not become a
        // Permanent outcome that sends the stream off to run a DLQ write
        // on a JVM that just died (and swallowing an interrupt defeats
        // shutdown cancellation)
        case scala.util.control.NonFatal(t) =>
          if (firstFailureAt == 0L) firstFailureAt = System.currentTimeMillis()
          if (!isRetryable(t)) return Permanent(t, attempt, firstFailureAt)
          if (attempt >= policy.maxAttempts)
            return Exhausted(t, attempt, firstFailureAt)
          sleep(policy.backoffWithJitterMs(attempt, rng))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
