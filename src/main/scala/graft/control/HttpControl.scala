package graft.control

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Thin HTTP facade over [[Control]] — the ops-parity analog of the
  * reference's axum control server (reference: src/control/mod.rs:19-32,
  * handlers.rs:81-312). Verbs:
  *
  *   GET  /status    → engine status JSON (handlers.rs:255-291)
  *   GET  /metrics   → recent per-batch rate/lag samples (metrics_sampler)
  *   POST /pause     → graceful pause at the next batch boundary
  *   POST /resume    → restart against the same checkpoint
  *   POST /drain     → process the available backlog, then stop
  *   POST /snapshot  → on-demand re-snapshot trigger (handlers.rs:103-180;
  *                     requires paused stream, HTTP 409 otherwise)
  *   POST /reload    → apply new runtime knobs (?maxFilesPerTrigger=N) and
  *                     restart against the same checkpoint
  *                     (handlers.rs:103-223)
  *   GET  /health    → liveness probe (handlers.rs health route)
  *   POST /stop      → stop the engine (reference stop verb; identical to
  *                     pause in this engine — resume restarts from the
  *                     same checkpoint either way)
  *   POST /snapshot/pause  → hold further backfill chunks while the CDC
  *                           stream keeps flowing (handlers.rs:233-245)
  *   POST /snapshot/resume → let backfill chunks interleave again
  *
  * Serves the [[EngineControl]] verb surface of [[Control]]; a
  * multi-table engine's status adds one `tables` row per destination lake (reference per-table
  * progress, handlers.rs:255-291).
  *
  * Deliberately JDK-only (com.sun.net.httpserver): the control plane is an
  * ops convenience, not a data path — it must add zero dependencies and
  * zero load. JSON is assembled by hand for the same reason.
  *
  * Binds LOOPBACK by default: the verbs mutate engine state with no
  * authentication, so exposing them beyond the host must be an explicit
  * operator decision (`bindAddress = "0.0.0.0"`) fronted by whatever auth
  * layer the deployment provides.
  */
final class HttpControl(ctl: EngineControl, port: Int = 0,
    bindAddress: String = "127.0.0.1") {

  private val server =
    HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
  // without an executor every endpoint shares the single dispatcher
  // thread, so a long POST /drain would block GET /status — give the
  // server a small pool (status/metrics stay lock-free on the Control
  // side for the same reason)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** Bound port (useful with port=0 = ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handler(f: HttpExchange => (Int, String)): HttpHandler =
    new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          val (code, body) = f(ex)
          reply(ex, code, body)
        } catch {
          case e: Throwable =>
            reply(ex, 500, s"""{"error":${HttpControl.q(e.toString)}}""")
        }
    }

  private def postOnly(ex: HttpExchange)(body: => (Int, String)) =
    if (ex.getRequestMethod != "POST")
      (405, """{"error":"POST required"}""")
    // drain() holds the control lock for the whole backlog: every other
    // verb would block on it until the drain ends and then run on a
    // drained engine — answer 409 immediately instead of appearing hung
    // (status/metrics/health stay lock-free and keep answering)
    else if (ctl.isDraining)
      (409, """{"error":"draining: retry after the backlog completes"}""")
    else body

  private def statusJson: String = {
    val s = ctl.status()
    val backfill =
      if (s.backfillTotal < 0) s""""backfill":null"""
      else s""""backfill":{"done":${s.backfillDone},""" +
        s""""total":${s.backfillTotal},""" +
        s""""complete":${s.backfillDone >= s.backfillTotal}}"""
    s"""{"running":${s.running},"snapshotVersion":${s.snapshotVersion},""" +
      s""""batchId":${s.batchId},"endLsn":${s.endLsn},""" +
      s""""schemaVersion":${s.schemaVersion},"backfillDone":${s.backfillDone},""" +
      s"""$backfill,""" +
      s""""rowCount":${s.rowCount},"lastBatchWallMs":${s.lastBatchWallMs},""" +
      s""""skippedEvolutions":${s.lastBatchSkippedEvolutions},""" +
      s""""eventsPerSec":${s.eventsPerSec},"lagMs":${s.lagMs},""" +
      s""""snapshotPaused":${s.snapshotPaused},""" +
      s""""state":"${s.state}","stage":"${s.stage}"""" +
      (if (s.tables.isEmpty) "}"
       else s.tables.map(t =>
         s"""{"name":${HttpControl.q(t.name)},""" +
           s""""snapshotVersion":${t.snapshotVersion},""" +
           s""""batchId":${t.batchId},"endLsn":${t.endLsn},""" +
           s""""schemaVersion":${t.schemaVersion},""" +
           s""""rowCount":${t.rowCount},""" +
           s""""lastBatchWallMs":${t.lastBatchWallMs}}""")
         .mkString(""","tables":[""", ",", "]}"))
  }

  /** Parse a query string into key→value (simple knob names/values only —
    * no URL decoding needed for the accepted grammar).
    */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split('&')
      .filter(_.contains('='))
      .map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap

  server.createContext("/status", handler(_ => (200, statusJson)))
  server.createContext("/metrics", handler { _ =>
    val rows = ctl.metrics.samples.map(m =>
      s"""{"batchId":${m.batchId},"tsMs":${m.tsMs},""" +
        s""""inputRows":${m.inputRows},"eventsPerSec":${m.eventsPerSec},""" +
        s""""lagMs":${m.lagMs},"cpuMillicores":${m.cpuMillicores},""" +
        s""""memoryBytes":${m.memoryBytes}}""")
    (200, rows.mkString("[", ",", "]"))
  })
  server.createContext("/pause", handler { ex =>
    postOnly(ex) { ctl.pause(); (200, statusJson) }
  })
  server.createContext("/resume", handler { ex =>
    postOnly(ex) { ctl.resume(); (200, statusJson) }
  })
  server.createContext("/drain", handler { ex =>
    postOnly(ex) { ctl.drain(); (200, statusJson) }
  })
  server.createContext("/snapshot", handler { ex =>
    postOnly(ex) {
      // atomic check+trigger inside the control lock: a concurrent
      // POST /resume can no longer slip between them
      if (ctl.triggerSnapshotIfPaused()) (200, statusJson)
      else
        (409, """{"error":"pause the stream before triggering a snapshot"}""")
    }
  })
  server.createContext("/reload", handler { ex =>
    postOnly(ex) {
      val fpt = queryParams(ex).get("maxFilesPerTrigger").map(_.toInt)
      ctl.reload(newMaxFilesPerTrigger = fpt)
      (200, statusJson)
    }
  })
  // liveness only — no snapshot read, so it answers even mid-commit
  server.createContext("/health", handler { _ =>
    (200, s"""{"status":"ok","running":${ctl.isRunning}}""")
  })
  server.createContext("/stop", handler { ex =>
    postOnly(ex) { ctl.stop(); (200, statusJson) }
  })
  // JDK HttpServer matches the LONGEST registered context prefix, so these
  // win over the plain /snapshot trigger above for their exact paths
  server.createContext("/snapshot/pause", handler { ex =>
    postOnly(ex) { ctl.pauseSnapshot(); (200, statusJson) }
  })
  server.createContext("/snapshot/resume", handler { ex =>
    postOnly(ex) { ctl.resumeSnapshot(); (200, statusJson) }
  })

  def start(): HttpControl = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}

object HttpControl {
  private[control] def q(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
