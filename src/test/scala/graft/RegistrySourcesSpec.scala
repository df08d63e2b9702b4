package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Event, TopicRegistry}
import graft.sources.Sources
import graft.multimodal.{MediaRow, Multimodal}

class RegistrySourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("TopicRegistry subscribe/consume/unsubscribe lifecycle (S3/S4/T2)") {
    implicit val ctx = spark.sqlContext
    val reg = new TopicRegistry
    val seen = new ConcurrentLinkedQueue[Long]()
    val dir = tmpDir("reg")
    val ms = MemoryStream[Event]
    val q = reg.subscribe("brokerA", "topic1", ms.toDF(), dir) { (batch, _) =>
      batch.collect().foreach(r => seen.add(r.getAs[Long]("event_id")))
    }
    assert(reg.active === Seq(("brokerA", "topic1")))
    ms.addData(Event(42, ts(1), 7, "purchase", 1.0))
    q.processAllAvailable()
    assert(seen.toArray.toSeq === Seq(42L))

    // upsert: re-subscribing the same key replaces the query (A4)
    val q2 = reg.subscribe("brokerA", "topic1", ms.toDF(), tmpDir("reg2")) { (_, _) => () }
    assert(!q.isActive && q2.isActive)
    assert(reg.active === Seq(("brokerA", "topic1")))

    assert(reg.unsubscribe("brokerA", "topic1"))
    assert(!q2.isActive && reg.active.isEmpty)
    assert(!reg.unsubscribe("brokerA", "topic1")) // idempotent remove
  }

  test("rate source feeds a windowed aggregation (S1 dev source)") {
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .selectExpr("value AS event_id", "timestamp AS ts",
        "value % 10 AS user_id", "'tick' AS event_type",
        "CAST(value AS DOUBLE) AS value")
    val q = graft.streaming.EventWindows
      .tumbling(stream, "1 minute", watermark = Some("2 minutes"))
      .writeStream.format("memory").queryName("ratewin")
      .outputMode("complete").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("ratewin").count() >= 1)
    } finally q.stop()
  }

  test("binaryFiles + recursive listing skip hidden files (S7/S8)") {
    val dir = java.nio.file.Paths.get(tmpDir("src"))
    val sub = java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(sub.resolve("b.bin"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve(".hidden"), Array[Byte](9))

    val flat = Sources.binaryFiles(spark, dir.toString, "*.bin")
    assert(flat.count() === 1)
    val bytes = flat.select("content").as[Array[Byte]].head()
    assert(bytes.toSeq === Seq[Byte](1, 2, 3))

    val rec = Sources.listFilesRecursive(spark, dir.toString)
      .select("path").as[String].collect()
    assert(rec.length === 2 && rec.forall(!_.contains(".hidden")))

    // scheme-qualified base — the only way to address an object store:
    // the dot filter must still apply BELOW the base only, so a dotted
    // ANCESTOR of the base cannot hide every file (the regression mode:
    // an unstripped base leaves "/.anc/" in the relative path)
    val anc = java.nio.file.Files.createDirectory(dir.resolve(".anc"))
    val corpus = java.nio.file.Files.createDirectory(anc.resolve("corpus"))
    java.nio.file.Files.write(corpus.resolve("c.bin"), Array[Byte](7))
    java.nio.file.Files.write(corpus.resolve(".hid"), Array[Byte](8))
    val rec2 = Sources.listFilesRecursive(spark, "file://" + corpus.toString)
      .select("path").as[String].collect()
    assert(rec2.length === 1 && rec2(0).endsWith("c.bin"), rec2.mkString(","))
  }

  test("whole-document JSON scan (S6)") {
    val dir = java.nio.file.Paths.get(tmpDir("json"))
    java.nio.file.Files.writeString(dir.resolve("conf.json"),
      """{ "broker": "localhost:9092",
           "topics": ["a", "b"] }""")
    val df = Sources.jsonDocument(spark, dir.toString)
    assert(df.select("broker").as[String].head() === "localhost:9092")
    assert(df.select("topics").as[Seq[String]].head() === Seq("a", "b"))
  }

  test("multimodal feature extraction is deterministic and partition-parallel") {
    val media = Seq(
      MediaRow(1, "image", Array.tabulate(64)(_.toByte), 8, 8),
      MediaRow(2, "audio", Array.tabulate(128)(i => (i * 3).toByte), 0, 0)
    ).toDS().repartition(2)
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect().sortBy(_.media_id)
    assert(f1.map(_.checksum).toSeq === f2.map(_.checksum).toSeq)
    assert(f1.map(_.features.toSeq) === f2.map(_.features.toSeq))
    assert(f1.forall(_.features.length === 8))
    assert(f1.map(_.n_bytes).toSeq === Seq(64, 128))
    // dim < 3 cannot hold one histogram bin per RGB channel — it used to
    // AIOOBE per image and silently stub every valid decode; now it
    // fails on the driver before any task launches
    intercept[IllegalArgumentException] {
      Multimodal.extractFeatures(media, dim = 2)
    }
  }

  test("multimodal image codec decodes a real PNG: dimensions + RGB histogram") {
    // a 20×10 PNG, left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 20)
      img.setRGB(x, y, if (x < 10) 0xff0000 else 0x0000ff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val media = Seq(
      MediaRow(1, "image", baos.toByteArray, 0, 0),
      MediaRow(2, "image", Array.tabulate(64)(_.toByte), 0, 0) // not an image
    ).toDS().repartition(2)
    val f = Multimodal.extractFeatures(media, dim = 6).collect()
      .sortBy(_.media_id)
    // real decode: true dimensions, not the (0,0) metadata
    assert((f(0).decoded_width, f(0).decoded_height) === (20, 10))
    // per-channel 2-bin histograms: R is half-high/half-low, same for B,
    // G is all-low; each channel sums to 1
    val Array(r0, r1, g0, g1, b0, b1) = f(0).features
    assert(math.abs(r0 - 0.5f) < 1e-6 && math.abs(r1 - 0.5f) < 1e-6)
    assert(math.abs(g0 - 1.0f) < 1e-6 && g1 === 0.0f)
    assert(math.abs(b0 - 0.5f) < 1e-6 && math.abs(b1 - 0.5f) < 1e-6)
    // garbage bytes labeled "image" fall back to the stub with -1 dims
    assert((f(1).decoded_width, f(1).decoded_height) === (-1, -1))
    assert(f(1).features.length === 6)
  }

  test("multimodal audio codec decodes a real WAV: format fields + RMS windows") {
    // 8000 Hz mono 16-bit PCM, 0.5 s: first half silence, second half a
    // loud 440 Hz sine — windowed RMS must be ~0 then clearly positive
    val rate = 8000
    val n = rate / 2
    val pcm = new Array[Byte](n * 2)
    for (i <- n / 2 until n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 30000).toShort
      pcm(2 * i) = (s & 0xff).toByte          // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val media = Seq(
      MediaRow(1, "audio", baos.toByteArray, 0, 0),
      MediaRow(2, "audio", Array.tabulate(64)(_.toByte), 0, 0) // not audio
    ).toDS().repartition(2)
    val f = Multimodal.extractFeatures(media, dim = 4).collect().sortBy(_.media_id)
    // real decode: true sample rate + channel count, not the (0,0) metadata
    assert((f(0).decoded_width, f(0).decoded_height) === (rate, 1))
    val Array(w0, w1, w2, w3) = f(0).features
    assert(w0 < 0.01f && w1 < 0.01f, "silent half must have ~zero RMS")
    // a full-scale sine's RMS is ~0.65 of peak (1/sqrt(2) * 30000/32768)
    assert(w2 > 0.5f && w3 > 0.5f, s"loud half must have high RMS, got $w2 $w3")
    // garbage bytes labeled "audio" fall back to the stub with -1 dims
    assert((f(1).decoded_width, f(1).decoded_height) === (-1, -1))
    assert(f(1).features.length === 4)
  }

  test("multimodal video codec decodes an uncompressed AVI: dims + luminance") {
    // hand-built minimal RIFF/AVI: 4×2 BI_RGB 24-bit, 2 frames —
    // frame 0 all black, frame 1 all white
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
        (if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(tpe: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", tpe.getBytes("US-ASCII") ++ payload)
    val (w, h) = (4, 2)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val avih = new Array[Byte](56)
    System.arraycopy(le32(2), 0, avih, 16, 4)  // dwTotalFrames
    System.arraycopy(le32(w), 0, avih, 32, 4)  // dwWidth
    System.arraycopy(le32(h), 0, avih, 36, 4)  // dwHeight
    val strh = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0) ++ new Array[Byte](20)           // biCompression = 0 (BI_RGB)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      chunk("00db", Array.fill(rowSize * h)(0.toByte)) ++
        chunk("00db", Array.fill(rowSize * h)(255.toByte)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body

    // same movie with an AUDIO strl ahead of the video one: the decoder
    // must not read the WAVEFORMATEX as a BITMAPINFOHEADER
    val strhAud = "auds".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strfWave = le16(85) ++ le16(2) ++ le32(44100) ++ le32(0) ++
      le16(4) ++ le16(0) ++ le16(12) ++ new Array[Byte](12) // 20+ bytes
    val hdrl2 = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strhAud) ++ chunk("strf", strfWave)) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val body2 = "AVI ".getBytes("US-ASCII") ++ hdrl2 ++ movi
    val avi2 = "RIFF".getBytes("US-ASCII") ++ le32(body2.length) ++ body2

    val media = Seq(
      MediaRow(1, "video", avi, 0, 0),
      MediaRow(2, "video", Array.tabulate(64)(_.toByte), 0, 0), // not an AVI
      MediaRow(3, "video", avi2, 0, 0)
    ).toDS().repartition(2)
    val f = Multimodal.extractFeatures(media, dim = 4).collect().sortBy(_.media_id)
    // audio-first stream order still decodes the video stream for real
    assert((f(2).decoded_width, f(2).decoded_height) === (w, h))
    assert(f(2).features.toSeq === f(0).features.toSeq)
    // real decode: true dimensions from the avih header
    assert((f(0).decoded_width, f(0).decoded_height) === (w, h))
    // dim=4 over 2 frames: windows [0,0,1,1] → luminance [0,0,1,1]
    val Array(l0, l1, l2, l3) = f(0).features
    assert(l0 === 0.0f && l1 === 0.0f)
    assert(math.abs(l2 - 1.0f) < 1e-3 && math.abs(l3 - 1.0f) < 1e-3)
    // non-AVI bytes labeled "video" fall back to the stub with -1 dims
    assert((f(1).decoded_width, f(1).decoded_height) === (-1, -1))
  }

  test("multimodal video codec decodes an MJPEG AVI through javax.imageio") {
    // MJPEG AVI: same RIFF skeleton as the BI_RGB case, but biCompression
    // = 'MJPG' and each frame chunk ('00dc') is a standalone JPEG. Three
    // 8×6 frames: black, mid-gray (128), white — luminance must ramp.
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
        (if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(tpe: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", tpe.getBytes("US-ASCII") ++ payload)
    def jpegOf(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val (w, h) = (8, 6)
    val avih = new Array[Byte](56)
    System.arraycopy(le32(3), 0, avih, 16, 4)  // dwTotalFrames
    System.arraycopy(le32(w), 0, avih, 32, 4)  // dwWidth
    System.arraycopy(le32(h), 0, avih, 36, 4)  // dwHeight
    val strh = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    val mjpg = "MJPG".getBytes("US-ASCII")
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      mjpg ++ new Array[Byte](20)              // biCompression = 'MJPG'
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      chunk("00dc", jpegOf(w, h, 0)) ++
        chunk("00dc", jpegOf(w, h, 128)) ++
        chunk("00dc", jpegOf(w, h, 255)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body

    // a claimed-MJPG AVI whose frame bytes are NOT decodable JPEGs must
    // fail the whole clip to the stub, never return half-real features
    val moviBad = list("movi", chunk("00dc", Array.tabulate(64)(_.toByte)))
    val bodyBad = "AVI ".getBytes("US-ASCII") ++ hdrl ++ moviBad
    val aviBad = "RIFF".getBytes("US-ASCII") ++ le32(bodyBad.length) ++ bodyBad

    // the same MJPEG movie carrying a SECOND (non-video) stream whose
    // '01dc' chunks are not JPEGs: stream-number filtering must decode
    // the 00dc video frames for real instead of sampling the junk
    // stream's chunks and failing the whole clip to the stub
    val strhAud = "auds".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strfWave = le16(85) ++ le16(2) ++ le32(44100) ++ le32(0) ++
      le16(4) ++ le16(0) ++ le16(12) ++ new Array[Byte](12)
    val hdrl2 = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)) ++
      list("strl", chunk("strh", strhAud) ++ chunk("strf", strfWave)))
    val movi2 = list("movi",
      chunk("00dc", jpegOf(w, h, 0)) ++
        chunk("01dc", Array.tabulate(64)(_.toByte)) ++
        chunk("00dc", jpegOf(w, h, 128)) ++
        chunk("01dc", Array.tabulate(64)(i => (255 - i).toByte)) ++
        chunk("00dc", jpegOf(w, h, 255)))
    val body2 = "AVI ".getBytes("US-ASCII") ++ hdrl2 ++ movi2
    val avi2 = "RIFF".getBytes("US-ASCII") ++ le32(body2.length) ++ body2

    val media = Seq(
      MediaRow(1, "video", avi, 0, 0),
      MediaRow(2, "video", aviBad, 0, 0),
      MediaRow(3, "video", avi2, 0, 0)
    ).toDS().repartition(2)
    val f = Multimodal.extractFeatures(media, dim = 3).collect().sortBy(_.media_id)
    // second-stream junk chunks are filtered by stream number: the
    // two-stream clip decodes identically to the single-stream one
    assert((f(2).decoded_width, f(2).decoded_height) === (w, h))
    assert(f(2).features.toSeq === f(0).features.toSeq)
    // real decode: exact dimensions from the decoded JPEG frames
    assert((f(0).decoded_width, f(0).decoded_height) === (w, h))
    // dim=3 over 3 frames: one window per frame; JPEG is lossy so allow
    // a small tolerance around 0 / 128/255 / 1
    val Array(l0, l1, l2) = f(0).features
    assert(l0 < 0.05f, s"black frame luminance, got $l0")
    assert(math.abs(l1 - 128f / 255f) < 0.05f, s"gray frame luminance, got $l1")
    assert(l2 > 0.95f, s"white frame luminance, got $l2")
    assert((f(1).decoded_width, f(1).decoded_height) === (-1, -1))
    assert(f(1).features.length === 3)
  }

  test("multimodal frame sampling fans out frames with offsets") {
    val media = Seq(MediaRow(1, "video", Array.tabulate(100)(_.toByte), 0, 0)).toDS()
    val frames = Multimodal.sampleFrames(media, stride = 25, frameSize = 10).collect()
    assert(frames.map(_.offset).toSeq === Seq(0, 25, 50, 75))
    assert(frames.forall(_.frame_bytes.length === 10))
  }
}
