package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.types._
import graft.streaming.HttpIngest

/** S5 HTTP ingest endpoint: REST front-door → atomic NDJSON spool →
  * Structured Streaming file source (reference parity for
  * src/main.c:82-98's libsoup :8088 + 202 Accepted, plus the body is
  * actually durable and the S11 JWT auth wiring is exercised). */
class HttpIngestSpec extends SparkTestBase {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String,
      bearer: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ingest"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("POSTed NDJSON events flow through the spool into a streaming query") {
    val spool = tmpDir("ingest")
    val srv = HttpIngest.start(spool)
    try {
      assert(post(srv.port,
        """{"event_id":1,"event_type":"purchase","value":10.5}
          |{"event_id":2,"event_type":"signup","value":0.0}""".stripMargin)
        .statusCode() === 202)
      assert(post(srv.port,
        """{"event_id":3,"event_type":"error","value":-1.0}""")
        .statusCode() === 202)

      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val q = graft.sources.Sources.jsonEventStream(spark, spool, schema)
        .writeStream.format("memory").queryName("ingested")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table("ingested")
          .orderBy("event_id")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        assert(got.toSeq === Seq(
          (1L, "purchase", 10.5), (2L, "signup", 0.0), (3L, "error", -1.0)))
      } finally q.stop()
    } finally srv.stop()
  }

  test("spool retention: cleanSource=delete reclaims committed batches, archive keeps a trail") {
    val spool = tmpDir("ingest-gc")
    val arch = tmpDir("ingest-arch")
    val srv = HttpIngest.start(spool)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("value", DoubleType)))
    def spoolBatches() = new java.io.File(spool).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("batch-")).map(_.getName)
    def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
      val t0 = System.currentTimeMillis()
      while (!cond && System.currentTimeMillis() - t0 < timeoutMs)
        Thread.sleep(100)
      cond
    }
    try {
      assert(post(srv.port, """{"event_id":1,"value":1.0}""").statusCode() === 202)
      val q = graft.sources.Sources.jsonEventStream(spark, spool, schema,
          cleanSource = Some("delete"))
        .writeStream.format("memory").queryName("gcspool")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("gcspool").count() === 1)
        // the cleaner reclaims a batch's files once a LATER batch runs
        // (and on background threads — poll): the guarantee is a spool
        // bounded at ~one in-flight batch, not instant deletion
        assert(post(srv.port, """{"event_id":2,"value":2.0}""").statusCode() === 202)
        q.processAllAvailable()
        assert(post(srv.port, """{"event_id":3,"value":3.0}""").statusCode() === 202)
        q.processAllAvailable()
        assert(eventually(20000)(spoolBatches().length <= 1),
          s"spool grew instead of being reclaimed: ${spoolBatches().toSeq}")
        // exactly-once unaffected: every event delivered despite deletion
        assert(spark.table("gcspool").count() === 3)
      } finally q.stop()
      // archive mode: processed batches MOVE to the archive dir
      assert(post(srv.port, """{"event_id":5,"value":5.0}""").statusCode() === 202)
      val q2 = graft.sources.Sources.jsonEventStream(spark, spool, schema,
          cleanSource = Some("archive"), archiveDir = Some(arch))
        .writeStream.format("memory").queryName("arspool")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        // fresh checkpoint over the same spool may also pick up the
        // delete-phase's bounded tail file — count is >= the new event
        assert(spark.table("arspool").count() >= 1)
        assert(post(srv.port, """{"event_id":6,"value":6.0}""").statusCode() === 202)
        q2.processAllAvailable()
        assert(eventually(20000)({ q2.processAllAvailable()
          val d = new java.io.File(arch)
          d.exists() && java.nio.file.Files.walk(d.toPath)
            .filter(p => p.getFileName.toString.startsWith("batch-"))
            .count() >= 1 }),
          "no batch archived")
      } finally q2.stop()
      // bad mode fails loudly, archive without a dir fails loudly
      intercept[IllegalArgumentException] {
        graft.sources.Sources.jsonEventStream(spark, spool, schema,
          cleanSource = Some("purge"))
      }
      intercept[IllegalArgumentException] {
        graft.sources.Sources.jsonEventStream(spark, spool, schema,
          cleanSource = Some("archive"))
      }
    } finally srv.stop()
  }

  test("ingest rejects non-POST, empty bodies, and bad bearer tokens (S11 auth)") {
    val spool = tmpDir("ingest-auth")
    // S11-for-S5: gate on a real RS256 JWT
    val kpg = java.security.KeyPairGenerator.getInstance("RSA")
    kpg.initialize(2048)
    val kp = kpg.generateKeyPair()
    val token = graft.functions.Jwt.sign("""{"iss":"graft","sub":"ingest"}""",
      kp.getPrivate)
    val srv = HttpIngest.start(spool, authorize =
      Some(t => graft.functions.Jwt.verify(t, kp.getPublic).isDefined))
    try {
      // GET is not an ingest
      val get = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/ingest")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() === 405)
      // missing / forged tokens never spool a byte
      assert(post(srv.port, """{"event_id":1}""").statusCode() === 401)
      assert(post(srv.port, """{"event_id":1}""",
        bearer = Some(token.dropRight(2) + "xx")).statusCode() === 401)
      // valid token + empty body is still rejected
      assert(post(srv.port, "", bearer = Some(token)).statusCode() === 400)
      // the real thing is accepted
      assert(post(srv.port, """{"event_id":1}""",
        bearer = Some(token)).statusCode() === 202)
      val files = new java.io.File(spool).listFiles()
        .filter(_.getName.startsWith("batch-"))
      assert(files.length === 1, "exactly the authorized batch is spooled")
      // health endpoint stays open
      val health = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() === 200)
    } finally srv.stop()
  }

  test("ingest caps the body: over-cap 413 (declared and chunked), at-cap spooled") {
    val spool = tmpDir("ingest-cap")
    val srv = HttpIngest.start(spool, maxBodyBytes = 1024)
    try {
      // declared Content-Length over the cap → 413 before any byte spools
      assert(post(srv.port, "x" * 2048).statusCode() === 413)
      // one byte over the boundary → 413; exactly at the cap → accepted
      assert(post(srv.port, "z" * 1025).statusCode() === 413)
      assert(post(srv.port, "y" * 1024).statusCode() === 202)
      // a chunked body (no Content-Length declared) is capped by the
      // bounded read loop, not the header check
      val chunked = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/ingest"))
        .POST(HttpRequest.BodyPublishers.ofInputStream(() =>
          new java.io.ByteArrayInputStream(("c" * 3000).getBytes("UTF-8"))))
        .build()
      assert(client.send(chunked,
        HttpResponse.BodyHandlers.ofString()).statusCode() === 413)
      // only the at-cap batch landed; rejects left no temp orphans behind
      val files = new java.io.File(spool).listFiles()
      assert(files.count(_.getName.startsWith("batch-")) === 1)
      assert(!files.exists(_.getName.startsWith(".tmp-")),
        "orphan temp spool file left behind")
    } finally srv.stop()
  }

  test("kept-alive POSTs are answered without a delayed-ACK stall") {
    // The server writes a response's headers and body separately; with
    // Nagle on, the body waits for the client's delayed ACK of the
    // headers (~40 ms on Linux) on every POST after the first on a
    // kept-alive connection — 20 POSTs then take 800 ms or more.
    val spool = tmpDir("ingest-ka")
    val srv = HttpIngest.start(spool)
    val sock = new java.net.Socket("127.0.0.1", srv.port)
    try {
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def readLine(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != '\n') {
          assert(c >= 0, "connection closed mid-response")
          if (c != '\r') b += c.toChar
          c = in.read()
        }
        b.toString
      }
      def postKeptAlive(i: Int): Int = {
        val body = s"""{"event_id":$i}""".getBytes("UTF-8")
        out.write((s"POST /ingest HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body)
        out.flush()
        val status = readLine().split(" ")(1).toInt
        val headers = Iterator.continually(readLine()).takeWhile(_.nonEmpty)
          .map(_.split(":", 2)).map(h => h(0).trim.toLowerCase -> h(1).trim).toMap
        assert(!headers.get("connection").contains("close"))
        in.readNBytes(headers("content-length").toInt)
        status
      }
      assert(postKeptAlive(0) === 202) // connection and handler warm-up
      val t0 = System.nanoTime()
      assert((1 to 20).map(postKeptAlive).forall(_ == 202))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 500, s"20 kept-alive POSTs took $ms ms")
      assert(new java.io.File(spool).listFiles()
        .count(_.getName.startsWith("batch-")) === 21)
    } finally { sock.close(); srv.stop() }
  }
}
