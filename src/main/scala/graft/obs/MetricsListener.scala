package graft.obs

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming metrics bridge carrying the reference's observability
  * vocabulary (`src/observability/metrics.py:10-43`):
  * `cdc_events_processed_total`, `cdc_events_per_second`,
  * `cdc_replication_duration_seconds`, `cdc_errors_total`,
  * `cdc_backlog_depth` — fed from Spark's `StreamingQueryListener`
  * progress events instead of hand-maintained counters.
  *
  * Each streaming query is also a dependency of `health`, named by the
  * query's name or, when it has none, its id: a progress event reports
  * it up with the trigger's duration as latency, and a termination with
  * an exception reports it down. `health` judges it by the same rules as
  * a destination (see [[HealthStatus]]). A restart under the same id
  * reports nothing until its first progress, so a failure stays visible
  * until the restarted query has run a trigger; a clean stop keeps the
  * query's last state.
  */
final class MetricsListener(health: HealthStatus = new HealthStatus())
    extends StreamingQueryListener {

  private val processedTotal = new AtomicLong(0)
  private val errorsTotal = new AtomicLong(0)
  private val durationSeconds = new DoubleAdder
  private val batches = new AtomicLong(0)
  @volatile private var lastEventsPerSecond: Double = 0.0
  @volatile private var lastBacklog: Long = 0
  private val byQuery = new ConcurrentHashMap[String, Long]()
  // a QueryTerminatedEvent carries the query's id but not its name
  private val nameById = new ConcurrentHashMap[UUID, String]()

  /** The query's name, or its id when it has none (the name is null). */
  private def dependency(id: UUID, name: String): String =
    Option(name).getOrElse(id.toString)

  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    nameById.put(event.id, dependency(event.id, event.name))
    ()
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    processedTotal.addAndGet(p.numInputRows)
    // p.name is null for unnamed queries and CHM.merge NPEs on null keys
    val key = dependency(p.id, p.name)
    byQuery.merge(key, p.numInputRows, (a, b) => a + b)
    lastEventsPerSecond = p.processedRowsPerSecond
    batches.incrementAndGet()
    val batchMs = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    durationSeconds.add(batchMs / 1000.0)
    // backlog analog: rows available but not yet processed this trigger
    lastBacklog = math.max(0L,
      (p.inputRowsPerSecond - p.processedRowsPerSecond).toLong)
    health.update(key, up = true, latencyMs = batchMs.toDouble)
    // one completed micro-batch = one span when tracing is on — the
    // reference's replicate_event unit lifted to Spark's batch
    // granularity (tracing.py:72-100; per-row spans at stream rates
    // would be the tracer tracing itself). Emitted retrospectively:
    // the span's start is backdated by the progress event's batch
    // duration so exported start/end nanos cover the actual batch
    // window (duration.ms rides along as the authoritative figure).
    // Costs nothing when Tracing was never initialized.
    Tracing.active.foreach(_.startSpanAt("micro_batch",
        System.currentTimeMillis() * 1000000L - batchMs * 1000000L,
        "query.name" -> key, "batch.id" -> p.batchId,
        "batch.size" -> p.numInputRows, "duration.ms" -> batchMs)
      .end())
    ()
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val name = Option(nameById.remove(event.id))
      .getOrElse(event.id.toString)
    if (event.exception.isDefined) {
      errorsTotal.incrementAndGet()
      health.update(name, up = false, latencyMs = 0.0)
    }
    ()
  }

  /** Prometheus-style snapshot (names from metrics.py:10-43). */
  def snapshot: Map[String, Double] = Map(
    "cdc_events_processed_total" -> processedTotal.get.toDouble,
    "cdc_errors_total" -> errorsTotal.get.toDouble,
    "cdc_events_per_second" -> lastEventsPerSecond,
    "cdc_replication_duration_seconds_sum" -> durationSeconds.sum,
    "cdc_replication_duration_seconds_count" -> batches.get.toDouble,
    "cdc_backlog_depth" -> lastBacklog.toDouble)

  /** Prometheus text exposition of [[snapshot]] — the `/metrics` body the
    * reference serves (`src/observability/metrics.py:46-54`). Spark's own
    * executor/driver metrics export natively with
    * `spark.ui.prometheus.enabled=true` (+ the `PrometheusServlet` sink);
    * this covers the reference's CDC-specific series. */
  def prometheusText: String =
    snapshot.toSeq.sortBy(_._1).map { case (name, v) =>
      val typ = if (name.endsWith("_total") || name.endsWith("_sum") ||
        name.endsWith("_count")) "counter" else "gauge"
      s"# TYPE $name $typ\n$name $v"
    }.mkString("", "\n", "\n")

  def processedFor(queryName: String): Long = byQuery.getOrDefault(queryName, 0L)
}
