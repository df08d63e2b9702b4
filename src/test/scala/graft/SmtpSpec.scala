package graft

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import graft.streaming.{Sinks, SmtpNotifier}

/** End-to-end SMTP alert delivery against an in-process RFC 5321 server
  * (no network egress needed — loopback only). */
class SmtpSpec extends SparkTestBase {
  import spark.implicits._

  /** One-connection fake SMTP server; records the DATA payload. */
  private class FakeSmtpServer {
    val server = new ServerSocket(0) // ephemeral loopback port
    val commands = new ArrayBuffer[String]()
    val data = new StringBuilder
    @volatile var failFirstRcpt = false
    private var served = 0

    val thread = new Thread(() => {
      try {
        while (!server.isClosed) {
          val s = server.accept()
          served += 1
          val in = new BufferedReader(new InputStreamReader(
            s.getInputStream, StandardCharsets.UTF_8))
          val out = new OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8)
          def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
          reply("220 fake ESMTP")
          var inData = false
          var line = in.readLine()
          while (line != null) {
            if (inData) {
              if (line == ".") { inData = false; reply("250 OK") }
              else data.append(line).append('\n')
            } else {
              commands += line
              val up = line.toUpperCase
              if (up.startsWith("EHLO")) { reply("250-fake"); reply("250 OK") }
              else if (up.startsWith("RCPT") && failFirstRcpt && served == 1)
                reply("550 mailbox unavailable")
              else if (up.startsWith("DATA")) { inData = true; reply("354 go") }
              else if (up.startsWith("QUIT")) { reply("221 bye"); line = null }
              else reply("250 OK")
            }
            if (line != null) line = in.readLine()
          }
          s.close()
        }
      } catch { case _: Exception => () } // closed server socket ends the loop
    })
    thread.setDaemon(true)
    thread.start()
    def port: Int = server.getLocalPort
    def close(): Unit = server.close()
  }

  test("SmtpNotifier speaks RFC 5321: envelope, headers, dot-stuffing (S10)") {
    val srv = new FakeSmtpServer
    try {
      val n = new SmtpNotifier("127.0.0.1", srv.port, "graft@example.com",
        Seq("ops@example.com", "oncall@example.com"))
      n.send("disk alert", "usage high\n.hidden dot line\nend")
      assert(srv.commands.exists(_ == "MAIL FROM:<graft@example.com>"))
      assert(srv.commands.count(_.startsWith("RCPT TO:")) === 2)
      val d = srv.data.toString
      assert(d.contains("Subject: disk alert"))
      assert(d.contains("usage high"))
      // dot-stuffed on the wire (so the receiving server un-stuffs to the
      // original), and the stuffed line did NOT terminate DATA early
      assert(d.contains("..hidden dot line"))
      assert(d.contains("end"))
    } finally srv.close()
  }

  test("SmtpNotifier sanitizes CR/LF out of headers (no command injection)") {
    val srv = new FakeSmtpServer
    try {
      val n = new SmtpNotifier("127.0.0.1", srv.port, "graft@example.com",
        Seq("ops@example.com"))
      n.send("evil\r\n.\r\nMAIL FROM:<x@y>", "body line")
      // the injected terminator never reached the wire as its own line:
      // DATA contains a single flattened Subject header and the body
      val d = srv.data.toString
      assert(d.contains("Subject: evil . MAIL FROM:<x@y>"))
      assert(srv.commands.count(_.toUpperCase.startsWith("MAIL FROM")) === 1)
      assert(d.contains("body line"))
    } finally srv.close()
  }

  test("SmtpNotifier send failure throws (batch retry, not silent drop)") {
    val srv = new FakeSmtpServer
    srv.failFirstRcpt = true
    try {
      val n = new SmtpNotifier("127.0.0.1", srv.port, "graft@example.com",
        Seq("ops@example.com"))
      intercept[java.io.IOException] { n.send("s", "b") }
    } finally srv.close()
  }

  /** STARTTLS-capable fake server: plaintext until STARTTLS, then the
    * connection is upgraded server-side with the given SSLContext.
    * Records commands seen before vs after the handshake separately so the
    * test can prove the envelope never travels in the clear. */
  private class TlsFakeSmtpServer(ctx: javax.net.ssl.SSLContext) {
    val server = new ServerSocket(0)
    val preTls = new ArrayBuffer[String]()
    val postTls = new ArrayBuffer[String]()
    @volatile var authToken: String = null
    val data = new StringBuilder
    val thread = new Thread(() => {
      try {
        var s: java.net.Socket = server.accept()
        def reader = new BufferedReader(new InputStreamReader(
          s.getInputStream, StandardCharsets.UTF_8))
        def writer = new OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8)
        var in = reader; var out = writer
        def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
        reply("220 fake ESMTP")
        var tls = false
        var inData = false
        var line = in.readLine()
        while (line != null) {
          if (inData) {
            if (line == ".") { inData = false; reply("250 OK") }
            else data.append(line).append('\n')
          } else {
            (if (tls) postTls else preTls) += line
            val up = line.toUpperCase
            if (up.startsWith("EHLO")) {
              reply("250-fake"); reply("250-STARTTLS"); reply("250 AUTH PLAIN")
            } else if (up.startsWith("STARTTLS")) {
              reply("220 go ahead")
              val ssl = ctx.getSocketFactory
                .createSocket(s, null, s.getPort, false)
                .asInstanceOf[javax.net.ssl.SSLSocket]
              ssl.setUseClientMode(false)
              s = ssl; in = reader; out = writer; tls = true
            } else if (up.startsWith("AUTH PLAIN ")) {
              authToken = line.substring("AUTH PLAIN ".length); reply("235 ok")
            } else if (up.startsWith("DATA")) { inData = true; reply("354 go") }
            else if (up.startsWith("QUIT")) { reply("221 bye"); line = null }
            else reply("250 OK")
          }
          if (line != null) line = in.readLine()
        }
        s.close()
      } catch { case _: Exception => () }
    })
    thread.setDaemon(true)
    thread.start()
    def port: Int = server.getLocalPort
    def close(): Unit = server.close()
  }

  test("SmtpNotifier STARTTLS + AUTH PLAIN: envelope only inside TLS (S10 security modes)") {
    // Self-signed cert via the JDK's own keytool (no new deps, no egress)
    val dir = java.nio.file.Paths.get(tmpDir("smtp-tls"))
    val ksPath = dir.resolve("ks.p12").toString
    val kt = new ProcessBuilder("keytool", "-genkeypair", "-alias", "smtp",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-validity", "3650",
      "-ext", "SAN=IP:127.0.0.1").redirectErrorStream(true).start()
    assert(kt.waitFor() === 0, "keytool must generate the test keystore")

    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = new java.io.FileInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val serverCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    // client trusts exactly the generated cert (not the system store)
    val trust = java.security.KeyStore.getInstance("PKCS12")
    trust.load(null, null)
    trust.setCertificateEntry("smtp", ks.getCertificate("smtp"))
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(trust)
    val clientCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)

    val srv = new TlsFakeSmtpServer(serverCtx)
    try {
      val n = new SmtpNotifier("127.0.0.1", srv.port, "graft@example.com",
        Seq("ops@example.com"), startTls = true,
        username = Some("alerts"), password = Some("s3cret")) {
        override protected def sslSocketFactory() = clientCtx.getSocketFactory
      }
      n.send("tls alert", "secure body")
      srv.thread.join(10000)
      assert(srv.preTls.exists(_.toUpperCase.startsWith("STARTTLS")))
      assert(srv.postTls.exists(_.toUpperCase.startsWith("EHLO")),
        "RFC 3207 §4.2: client must re-EHLO after the handshake")
      assert(!srv.preTls.exists(_.toUpperCase.startsWith("MAIL")),
        "envelope must never travel in the clear")
      assert(!srv.preTls.exists(_.toUpperCase.startsWith("AUTH")),
        "credentials must never travel in the clear")
      assert(srv.postTls.exists(_ == "MAIL FROM:<graft@example.com>"))
      val tok = new String(java.util.Base64.getDecoder.decode(srv.authToken),
        StandardCharsets.UTF_8)
      assert(tok === "\u0000alerts\u0000s3cret") // RFC 4616 NUL framing
      assert(srv.data.toString.contains("Subject: tls alert"))
    } finally srv.close()
  }

  test("SmtpNotifier rejects username without password") {
    intercept[IllegalArgumentException] {
      new SmtpNotifier("127.0.0.1", 25, "a@b", Seq("c@d"),
        username = Some("u"), password = None)
    }
  }

  test("streaming alerts deliver through the real SMTP transport end-to-end") {
    val srv = new FakeSmtpServer
    val dir = tmpDir("smtp")
    try {
      implicit val ctx = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val alerts = ms.toDF().toDF("event_id", "event_type")
        .filter(col("event_type") === "error")
      val q = Sinks.alerts(alerts,
        new SmtpNotifier("127.0.0.1", srv.port, "graft@example.com",
          Seq("ops@example.com")),
        s"$dir/ckpt")
      try {
        ms.addData((1L, "error"), (2L, "view"))
        q.processAllAvailable()
      } finally q.stop()
      val d = srv.data.toString
      assert(d.contains("graft-alert") || srv.commands.nonEmpty)
      assert(d.contains("error"))
    } finally srv.close()
  }
}
