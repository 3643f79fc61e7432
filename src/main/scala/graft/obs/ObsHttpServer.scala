package graft.obs

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HTTP exposure of the observability surface — the piece the reference
  * serves with its Prometheus exporter + health endpoint
  * (`src/observability/metrics.py:46-54` `start_http_server`,
  * `src/observability/health.py:87-119` aiohttp `/health` route):
  *
  *   - `GET /health`  → [[HealthStatus.toJson]] (200 healthy/degraded,
  *     503 unhealthy — load balancers key off the status code). Give
  *     `metrics` the same `health`, so a failed streaming query turns it
  *     to 503 as a failed destination does
  *   - `GET /metrics` → [[MetricsListener.prometheusText]]
  *     (`text/plain; version=0.0.4` Prometheus exposition)
  *
  * Built on the JDK's `com.sun.net.httpserver` — no dependency beyond
  * Java 17. Bind port 0 for an ephemeral port (tests); the bound port is
  * [[port]]. At scale this runs once per driver (Spark's own executor
  * metrics flow through the native `PrometheusServlet`, wired separately
  * with `spark.ui.prometheus.enabled`).
  */
final class ObsHttpServer(health: HealthStatus, metrics: MetricsListener,
    requestedPort: Int = 0) {

  private val server: HttpServer =
    HttpServer.create(new InetSocketAddress(requestedPort), 0)

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  server.createContext("/health", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val code = if (health.overall == "unhealthy") 503 else 200
      respond(ex, code, "application/json", health.toJson)
    }
  })
  server.createContext("/metrics", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      respond(ex, 200, "text/plain; version=0.0.4; charset=utf-8",
        metrics.prometheusText)
  })

  // Without an executor every request serializes on the dispatcher thread,
  // so a slow /metrics render would delay load-balancer health probes.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2,
    (r: Runnable) => {
      val t = new Thread(r, "obs-http")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  def start(): ObsHttpServer = { server.start(); this }
  def port: Int = server.getAddress.getPort
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
