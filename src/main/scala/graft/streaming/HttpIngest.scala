package graft.streaming

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** S5: HTTP ingest endpoint (reference: `src/main.c:82-98,116-120` —
  * libsoup server on :8088 replying `202 Accepted`; the reference never
  * processes the body, here the accepted payload is actually durable).
  * Dependency-free: the JDK's built-in `com.sun.net.httpserver`.
  *
  * Design: the endpoint is a FRONT-DOOR, not a Spark source. Each POST
  * to `/ingest` carries NDJSON (one JSON event per line) and is spooled
  * as one atomic file into a directory that Structured Streaming's file
  * source ([[graft.sources.Sources.jsonEventStream]]) consumes: the body
  * is written to a dot-prefixed temp name (hidden files are invisible to
  * Spark's file lister), then ATOMIC_MOVE-renamed into place — the
  * rename is the commit, so a micro-batch can never list a half-written
  * batch. Exactly-once delivery downstream of the spool then rides the
  * file source's processed-files log, same as every file-stream path in
  * this engine (T1/T2).
  *
  * Auth (S11 "auth for S5"): pass `authorize` — e.g.
  * `t => Jwt.verify(t, publicKey).isDefined` — and requests without a
  * valid `Authorization: Bearer <token>` header get 401 before any
  * byte is spooled.
  *
  * Scale: one server per edge node, all spooling to shared storage, ONE
  * streaming query consuming the directory — ingest fan-in scales by
  * adding stateless spool writers, never by scaling the query. At real
  * traffic the documented production front-door is Kafka (SURVEY §2.1
  * S5); this is the reference-parity REST path for dev and small edges.
  */
object HttpIngest {

  /** Running ingest server; `port` is the bound (possibly ephemeral)
    * port. `stop()` releases the socket AND the handler pool (whose
    * non-daemon threads would otherwise pin the JVM); spooled batches
    * stay. */
  final class Server private[HttpIngest] (val port: Int, hs: HttpServer,
      pool: java.util.concurrent.ExecutorService) {
    def stop(): Unit = { hs.stop(0); pool.shutdown() }
  }

  /** Start an ingest server spooling to `spoolDir` (created if absent).
    * `port` 0 binds an ephemeral port. `authorize` gates every /ingest
    * request on its bearer token when set. `maxBodyBytes` bounds every
    * request body: a declared Content-Length above it is rejected 413
    * before any byte is read, and chunked/undeclared bodies are read
    * through a counting loop that stops at the cap — either way an
    * oversized POST can never buffer past the cap in heap (the handler
    * otherwise holds the whole batch, so without the cap one rogue
    * client could OOM the edge JVM). */
  def start(spoolDir: String, port: Int = 0,
      authorize: Option[String => Boolean] = None,
      maxBodyBytes: Long = 64L << 20): Server = {
    require(maxBodyBytes >= 1, s"maxBodyBytes must be >= 1, got $maxBodyBytes")
    val dir = Paths.get(spoolDir)
    Files.createDirectories(dir)
    // The JDK server writes a response's headers and its body as two
    // socket writes. With Nagle on, the body then waits for the client's
    // delayed ACK of the headers (~40 ms on Linux) on every request of a
    // kept-alive connection. The server reads this property once, when
    // the JVM's first server is created; an explicit setting is kept.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val hs = HttpServer.create(new InetSocketAddress(port), 0)
    hs.createContext("/ingest", (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST")
          respond(ex, 405, "method not allowed")
        else if (!authorized(ex, authorize))
          respond(ex, 401, "unauthorized")
        else if (declaredLength(ex).exists(_ > maxBodyBytes))
          respond(ex, 413, "payload too large")
        else {
          val body = readBounded(ex.getRequestBody, maxBodyBytes)
          if (body == null) respond(ex, 413, "payload too large")
          else if (body.isEmpty) respond(ex, 400, "empty body")
          else {
            val name = java.util.UUID.randomUUID().toString
            val tmp = dir.resolve(s".tmp-$name")
            // the rename is the commit: on any write/move failure the
            // hidden temp file is deleted before the 500, so a crashed
            // request can't leave orphan spool garbage behind
            try {
              Files.write(tmp, body)
              Files.move(tmp, dir.resolve(s"batch-$name.json"),
                StandardCopyOption.ATOMIC_MOVE)
            } catch {
              case e: Exception => Files.deleteIfExists(tmp); throw e
            }
            // the reference's ingest-ack status (src/main.c:94)
            respond(ex, 202, "accepted")
          }
        }
      } catch {
        case e: Exception =>
          respond(ex, 500, Option(e.getMessage).getOrElse("error"))
      }
    })
    hs.createContext("/health", (ex: HttpExchange) => respond(ex, 200, "ok"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    hs.setExecutor(pool)
    hs.start()
    new Server(hs.getAddress.getPort, hs, pool)
  }

  /** Content-Length as declared, if parseable (absent for chunked). */
  private def declaredLength(ex: HttpExchange): Option[Long] =
    Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)

  /** Read the stream fully, but never buffer more than `max` bytes:
    * returns null the moment byte max+1 arrives (the 413 signal), so a
    * chunked body with no Content-Length is still capped. */
  private def readBounded(in: java.io.InputStream, max: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0) {
      if (out.size().toLong + n > max) return null
      out.write(chunk, 0, n)
      n = in.read(chunk)
    }
    out.toByteArray
  }

  private def authorized(ex: HttpExchange,
      authorize: Option[String => Boolean]): Boolean =
    authorize.forall { check =>
      val h = ex.getRequestHeaders.getFirst("Authorization")
      h != null && h.startsWith("Bearer ") &&
        check(h.substring("Bearer ".length))
    }

  private def respond(ex: HttpExchange, code: Int, msg: String): Unit = {
    val b = msg.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    ex.sendResponseHeaders(code, b.length.toLong)
    ex.getResponseBody.write(b)
    ex.close()
  }
}
