package graft.obs

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.sinks.Retry
import graft.streaming.FanOut

/** The pipeline's one health model, mirroring the reference's
  * `HealthStatus` (`src/observability/health.py:21-84`): each dependency
  * reports (status, latency); the overall state degrades to the worst
  * member. Dependencies are every destination sink, whose fan-out
  * results arrive through [[record]], and every streaming query, which
  * [[MetricsListener]] reports from progress and termination events, so
  * both are judged by the same rules below. The reference's binary
  * up/down is extended with the sink DEGRADED threshold it tracks
  * separately (`src/models/destination_sink.py:67-72`): up but slower
  * than 1000 ms ⇒ DEGRADED. Slower means the median of the dependency's
  * last [[HealthStatus.Window]] latency samples, so one slow sample (a
  * cold first write, a host-load spike) does not flip the state; a
  * `down` report counts at once.
  *
  * Rendered as the `/health` JSON body (`health.py:66-84` `to_dict`),
  * which [[ObsHttpServer]] serves.
  */
final class HealthStatus(version: String = "1.0.0") {

  val DegradedThresholdMs = 1000L

  /** `recentMs`: the last [[HealthStatus.Window]] latencies, newest last. */
  private case class Dep(status: String, recentMs: Vector[Double], lastCheckMs: Long) {
    def latencyMs: Double = recentMs.last
    /** The lower median, so a window still filling reads its faster half. */
    def medianMs: Double = recentMs.sorted.apply((recentMs.size - 1) / 2)
  }
  private val deps = new ConcurrentHashMap[String, Dep]()
  private val startMs = System.currentTimeMillis()

  /** `health.py:31-48`: record one dependency check. */
  def update(name: String, up: Boolean, latencyMs: Double): Unit = {
    deps.compute(name, (_, prev) => Dep(if (up) "up" else "down",
      (Option(prev).fold(Vector.empty[Double])(_.recentMs) :+ latencyMs)
        .takeRight(HealthStatus.Window),
      System.currentTimeMillis()))
    ()
  }

  /** One fan-out's results: a destination is up when its retried write
    * succeeded, and the write's duration is its latency. */
  def record(results: Seq[FanOut.FanOutResult]): Unit =
    results.foreach(r => update(r.destination,
      up = r.outcome.isInstanceOf[Retry.Succeeded[_]],
      latencyMs = r.durationMs.toDouble))

  /** HEALTHY / DEGRADED / UNHEALTHY for one dependency. */
  def dependencyState(name: String): String =
    Option(deps.get(name)) match {
      case None => "UNKNOWN"
      case Some(d) if d.status == "down" => "UNHEALTHY"
      case Some(d) if d.medianMs > DegradedThresholdMs => "DEGRADED"
      case Some(_) => "HEALTHY"
    }

  /** `health.py:50-61` with the DEGRADED middle state: unhealthy if any
    * dependency is down (or none registered), else degraded if any is
    * slow, else healthy. */
  def overall: String = {
    val states = deps.keySet().asScala.toSeq.map(dependencyState)
    if (states.isEmpty || states.contains("UNHEALTHY")) "unhealthy"
    else if (states.contains("DEGRADED")) "degraded"
    else "healthy"
  }

  def uptimeSeconds: Double = (System.currentTimeMillis() - startMs) / 1000.0

  /** The `/health` response body (`health.py:66-84`). */
  def toJson: String = {
    val mapper = HealthStatus.SharedMapper
    val root = mapper.createObjectNode()
    root.put("status", overall)
    root.put("uptime_seconds", math.round(uptimeSeconds * 100) / 100.0)
    root.put("version", version)
    val depNode = root.putObject("dependencies")
    deps.asScala.toSeq.sortBy(_._1).foreach { case (name, d) =>
      val n = depNode.putObject(name)
      n.put("status", d.status)
      n.put("state", dependencyState(name))
      n.put("latency_ms", math.round(d.latencyMs * 100) / 100.0)
      n.put("last_check_ms", d.lastCheckMs)
      ()
    }
    mapper.writeValueAsString(root)
  }
}

object HealthStatus {
  /** Latency samples per dependency that DEGRADED is judged from. */
  val Window = 3

  /** One shared mapper: construction is heavyweight and the instance is
    * thread-safe for this usage — building one per `/health` request put
    * avoidable latency on exactly the probe path. */
  private[obs] val SharedMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
}
