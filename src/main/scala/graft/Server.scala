package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.model.BuzzException
import graft.plans.BuzzEngine

/** HTTP entry point for the two-stage engine — the service-binary surface
  * the reference ships (`/root/reference/code/src/bin/main_fuse_local.rs:6-34`
  * runs a query service; `flight_service.rs:142-169` exposes a HealthCheck
  * action). The transport is plain HTTP + the engine's JSON query format
  * (README.md:80-104) on the JDK's built-in server — zero dependencies,
  * matching the sandbox constraint; the inter-stage exchange stays Spark's
  * shuffle (SURVEY §2c), so this server is the EXTERNAL API only:
  *
  *   POST /query  — body: buzz JSON query → 200 with a JSON array of result
  *                  rows, or, when the request's Accept header names
  *                  `application/vnd.apache.arrow.stream`, a complete Arrow
  *                  IPC stream (schema + batches + EOS) — wire-format parity
  *                  with the reference's Arrow results
  *                  (`flight_utils.rs:42-81`); 400 on bad/unplannable
  *                  queries; 500 otherwise.
  *   POST /explain — same body as /query; 200 with the DRY-RUN plan
  *                  report (catalog identity/format, file counts at each
  *                  pruning stage, bytes to read, derived map/reduce
  *                  schemas) WITHOUT executing — beyond reference, the
  *                  "what will this touch" answer before a 100 TB scan.
  *   GET  /health — 200 "H" (the reference's HealthCheck action reply).
  *
  * One Spark session serves all requests (the local[n] analog of the
  * reference's one-process-per-service topology); requests execute on a
  * cached handler pool and Spark schedules their jobs concurrently.
  *
  * Like the reference's hcomb (`hcomb_service.rs:24,33-47` exits after 300 s
  * without work — the serverless contract: a reducer that nobody queries
  * must release its instance), the server can self-stop after an idle
  * period: pass `idleShutdownMs`, or `SPARK_GRAFT_IDLE_SHUTDOWN_SEC` for the
  * main binary (default 300, ≤ 0 disables). A request in flight is work —
  * the idle clock only runs while no handler is active.
  */
object Server {

  /** MIME type of the Arrow IPC stream format on the wire. */
  val ArrowMime = "application/vnd.apache.arrow.stream"

  /** Start serving on `port` (0 = ephemeral). Every request executes in
    * `spark` itself, on which the graft SQL kernels are registered once
    * here: the engine binds each query's statements to its own inputs
    * without touching the session catalog, so concurrent requests that
    * share catalog and step names cannot see each other's relations.
    * Session state a caller sets (conf, temp views, functions) is visible
    * to every request.
    *
    * `idleShutdownMs`: when set, a daemon watcher stops the server (and runs
    * `onStop`) once no request has STARTED or been IN FLIGHT for that long. */
  def start(
      spark: SparkSession,
      port: Int,
      idleShutdownMs: Option[Long] = None,
      onStop: () => Unit = () => ()): HttpServer = {
    graft.functions.GraftFunctions.registerAll(spark)
    val engine = new BuzzEngine(Map.empty)
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    // idle tracking: the clock restarts when the LAST in-flight request
    // finishes, so a long query can never be shut down under itself
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastDone = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def tracked(handler: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
      (ex: HttpExchange) => {
        inFlight.incrementAndGet()
        try handler(ex)
        finally { lastDone.set(System.nanoTime()); inFlight.decrementAndGet() }
      }

    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    }

    def respondArrow(ex: HttpExchange, bytes: Array[Byte]): Unit = {
      ex.getResponseHeaders.set("Content-Type", ArrowMime)
      ex.sendResponseHeaders(200, bytes.length.toLong)
      try ex.getResponseBody.write(bytes) finally ex.close()
    }

    def jsonError(msg: String): String =
      "{\"error\":\"" + msg.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\"}"

    server.createContext("/query", tracked((ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, jsonError("POST a buzz JSON query"))
      } else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        try {
          val result = engine.runJson(spark, body)
          val wantsArrow = Option(ex.getRequestHeaders.getFirst("Accept"))
            .exists(_.contains(ArrowMime))
          if (wantsArrow)
            respondArrow(ex, org.apache.spark.sql.graft.ArrowBridge.toIPCStream(result))
          else
            respond(ex, 200, result.toJSON.collect().mkString("[", ",", "]"))
        } catch {
          case e: BuzzException.BuzzError => respond(ex, 400, jsonError(e.getMessage))
          case e: Exception =>
            respond(ex, 500, jsonError(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }))
    // dry-run planning: same body as /query, returns the plan report
    // (file counts per pruning stage, schemas) without executing
    server.createContext("/explain", tracked((ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") {
        respond(ex, 405, jsonError("POST a buzz JSON query"))
      } else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        try {
          respond(ex, 200, engine.explainJson(spark, body))
        } catch {
          case e: BuzzException.BuzzError => respond(ex, 400, jsonError(e.getMessage))
          case e: Exception =>
            respond(ex, 500, jsonError(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }))
    server.createContext("/health", tracked((ex: HttpExchange) => respond(ex, 200, "\"H\"")))

    // a null executor would run every handler inline on the single dispatch
    // thread, serializing queries and blocking /health behind them — a
    // cached pool keeps health checks live while long queries run
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()

    idleShutdownMs.filter(_ > 0).foreach { timeoutMs =>
      val watcher = new Thread(() => {
        def idle: Boolean =
          inFlight.get() == 0 && (System.nanoTime() - lastDone.get()) > timeoutMs * 1000000L
        var running = true
        while (running) {
          Thread.sleep(math.max(timeoutMs / 4, 10))
          if (idle) {
            // double-check after a grace period: a request ACCEPTED at the
            // deadline but whose handler hasn't started yet leaves inFlight
            // at 0 — any such handler normally starts well within the grace
            // and its completion bumps lastDone, so a second consistent
            // observation makes the window practically empty (it cannot be
            // fully closed from outside HttpServer's dispatch). The stop
            // drain is bounded — timeout/1000 s, capped at 30 — so a query
            // that slips in right at shutdown gets a real grace but cannot
            // hold the instance open indefinitely (the serverless contract).
            Thread.sleep(math.max(timeoutMs / 4, 10))
            if (idle) {
              server.stop(math.min(30L, math.max(1L, timeoutMs / 1000)).toInt)
              onStop()
              running = false
            }
          }
        }
      }, "graft-server-idle-watcher")
      watcher.setDaemon(true)
      watcher.start()
    }
    server
  }

  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_PORT", "3333").toInt
    val spark = GraftSession.local()
    // serverless parity: exit after the reference's 300 s idle default
    // (hcomb_service.rs:24); <= 0 disables and the server runs until killed
    val idleSec = sys.env.getOrElse("SPARK_GRAFT_IDLE_SHUTDOWN_SEC", "300").toDouble
    val stopped = new java.util.concurrent.CountDownLatch(1)
    val server = start(spark, port,
      idleShutdownMs = Some((idleSec * 1000).toLong).filter(_ > 0),
      onStop = () => stopped.countDown())
    println(s"""{"server":"graft","port":${server.getAddress.getPort},"idle_shutdown_sec":$idleSec}""")
    if (idleSec > 0) { stopped.await(); spark.stop() }
    else Thread.currentThread().join() // serve until killed
  }
}
