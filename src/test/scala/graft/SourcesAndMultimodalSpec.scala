package graft

import graft.operators.Multimodal
import graft.sources.TextSource
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

class SourcesAndMultimodalSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  private val booksDir = getClass.getResource("/books").getPath

  test("readLines yields (file, line) records for every line") {
    val df = TextSource.readLines(spark, booksDir)
    assert(df.columns.toSeq == Seq("file", "line"))
    assert(df.select("file").distinct().count() == 3)
    assert(df.count() > 6)
  }

  test("readDocuments yields one (file, text) record per file") {
    val df = TextSource.readDocuments(spark, booksDir)
    assert(df.count() == 3)
    val texts = df.as[(String, String)].collect().toMap
    assert(texts.keys.forall(_.endsWith(".txt")))
    assert(texts.values.exists(_.contains("universally acknowledged")))
  }

  test("readDocuments: one row per non-hidden file, empty included, bytes and file URIs kept") {
    val dir = Files.createTempDirectory("docs")
    val files = Map(
      "bom.txt" -> "\uFEFFcaf\u00e9\tna\u00efve\r\n\u00dcber stra\u00dfe\r\n".getBytes(UTF_8),
      "ws.txt" -> "  \n\n lead and trail \t\n\n\n  ".getBytes(UTF_8),
      "empty.txt" -> Array.emptyByteArray)
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    Seq("_x.txt", ".x.txt").foreach(n => Files.writeString(dir.resolve(n), "hidden"))

    val docs = TextSource.readDocuments(spark, dir.toString).as[(String, String)].collect().toSeq
    def base(f: String) = f.substring(f.lastIndexOf('/') + 1)
    assert(docs.map(d => base(d._1)).sorted == files.keys.toSeq.sorted, docs)
    docs.foreach { case (f, text) => assert(text == new String(files(base(f)), UTF_8), f) }
    assert(docs.exists(_._2.startsWith("\uFEFFcaf")))
    // readLines has no row for the empty file; every other file string is
    // the same, and the empty file's row has the same URI form
    val lineFiles = TextSource.readLines(spark, dir.toString)
      .select("file").distinct().as[String].collect().toSet
    assert(docs.map(_._1).filterNot(_.endsWith("/empty.txt")).toSet == lineFiles)
    assert(docs.map(d => d._1.stripSuffix(base(d._1))).distinct.size == 1, docs)
  }

  test("readDocuments spreads a directory of files over the session's cores") {
    val dir = Files.createTempDirectory("docs4")
    (0 until 4).foreach(i => Files.writeString(dir.resolve(s"d$i.txt"), s"doc $i " * 50))
    val df = TextSource.readDocuments(spark, dir.toString)
    val n = df.rdd.getNumPartitions
    assert(n >= math.min(4, spark.sparkContext.defaultParallelism), n)
    // no empty file: the plan is the plain scan, no union
    assert(df.queryExecution.analyzed.collect { case u: Union => u }.isEmpty)
  }

  test("writeTsv round-trips tab-separated key-value lines") {
    val out = Files.createTempDirectory("tsv").toString + "/wc"
    val wc = Seq(("cat", 3L), ("dog", 1L)).toDF("word", "cnt")
    TextSource.writeTsv(wc, out, singleFile = true)
    val back = spark.read.text(out).as[String].collect().toSet
    assert(back == Set("cat\t3", "dog\t1"))
  }

  test("writeTsv keeps NULL fields as empty columns (no left-shift)") {
    // concat_ws SKIPS nulls; un-coalesced, (5, null, 0.2) would serialize
    // as "5\t0.2" and every downstream parser would misread the columns
    val out = Files.createTempDirectory("tsvnull").toString + "/n"
    val df = Seq((5L, Option.empty[Double], Some(0.2)), (6L, Some(1.5), None))
      .toDF("id", "a", "b")
    TextSource.writeTsv(df, out, singleFile = true)
    val back = spark.read.text(out).as[String].collect().toSet
    assert(back == Set("5\t\t0.2", "6\t1.5\t"))
  }

  test("writePythonReprIndex byte-reproduces the reference's output framing") {
    // /root/reference/output/output_sample.txt:1 —
    //   in\t['./book3.txt', './myfile.txt', './book1.txt', './book2.txt']
    // (set-iteration file order is run-dependent in the reference; the
    // writer emits the sorted refinement of the same framing)
    val out = Files.createTempDirectory("pyrepr").toString + "/idx"
    val idx = Seq(
      ("in", Seq("./book3.txt", "./myfile.txt", "./book1.txt", "./book2.txt")),
      ("solo", Seq("./book1.txt"))).toDF("word", "files")
    TextSource.writePythonReprIndex(idx, "word", "files", out, singleFile = true)
    val back = spark.read.text(out).as[String].collect().toSet
    assert(back == Set(
      "in\t['./book1.txt', './book2.txt', './book3.txt', './myfile.txt']",
      "solo\t['./book1.txt']"), back)
  }

  test("multimodal payload carries bytes + metadata struct") {
    val docs = Seq((1L, "hello", "en", "s", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = Multimodal.withPayload(docs).select("media.n_bytes", "media.mime").head()
    assert(row.getLong(0) == 5L)
    assert(row.getString(1) == "text/plain")
  }

  test("WAV decode parses real RIFF/PCM-16 bytes: rate, channels, duration, amplitude") {
    // synthesize two valid PCM-16 WAVs byte-by-byte (no codec library):
    // a constant-amplitude mono signal and a stereo silence
    def wav(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val mono = wav(8000, 1, Array.fill(16000)(16384.toShort))  // 2s, amp 0.5
    val stereo = wav(44100, 2, Array.fill(882)(0.toShort))     // 10ms silence
    val df = Seq((1L, mono), (2L, stereo), (3L, "not a wav".getBytes("US-ASCII")))
      .toDF("id", "content")
    val out = Multimodal.decodeWavColumn(df)
      .select("id", "wav.sample_rate", "wav.n_channels", "wav.n_samples",
        "wav.duration_s", "wav.mean_abs_amplitude")
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(8000), Some(1), Some(16000L), Some(2.0), Some(0.5))))
    assert(out(1)._2 == Some(44100) && out(1)._3 == Some(2) &&
      out(1)._4 == Some(441L) && out(1)._6 == Some(0.0))
    assert(out(2)._2.isEmpty) // non-WAV payload -> null struct, no exception
  }

  test("wavSceneCut opens a scene exactly where the frame-energy delta crosses the threshold") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // frame=2 energies: [20000, 20000, 18000000, 18000000] — the only
    // delta > 1e6 is frame 1->2, so exactly two scenes: frames 0-1
    // (energy 40000) and frames 2-3 (energy 36000000)
    val clip = wav(Array[Short](100, 100, 100, 100, 3000, 3000, 3000, 3000))
    val got = Multimodal.wavSceneCut(
        Seq((1L, clip)).toDF("doc_id", "content"),
        frame = 2, threshold = 1000000L)
      .orderBy("scene_no")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 0L, 1L, 2L, 40000L),
                      (1L, 1L, 2L, 3L, 2L, 36000000L)), got)
  }

  test("audio fingerprint packs double-delta sign bits over polyphase band energies") {
    // hand-traceable 12-sample clip, frame=4 -> 3 frames, 2 delta bits:
    //   frame 0: samples 10,0,0,0   -> D(0) = 100 - 0   = 100
    //   frame 1: samples 0,20,0,0   -> D(1) = 0 - 400   = -400  bit0 = 0
    //   frame 2: samples 30,0,0,5   -> D(2) = 900 - 25  = 875   bit1 = 1
    def wav(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val hand = wav(Array[Short](10, 0, 0, 0, 0, 20, 0, 0, 30, 0, 0, 5))
    val partial = wav(Array[Short](1, 2, 3)) // under one frame -> nF = 0
    val df = Seq((1L, hand), (2L, partial)).toDF("id", "content")
    val got = Multimodal.wavFingerprint(df, frame = 4)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3, 2L, 1)), got.toSeq) // fp = bit1 only = 2
    assert(got(1) == ((2L, 0, 0L, 0)), got.toSeq)

    // and the synth fixture matches an independent in-test replay of the
    // closed form (the oracle's computation, in Scala)
    val ids = Seq(7L, 42L, 123L)
    val docs = ids.map(i => (i, "")).toDF("doc_id", "text")
    val fps = Multimodal.wavFingerprint(
        Multimodal.withSynthPayload(docs.select("doc_id"), Multimodal.synthWav),
        frame = 4)
      .as[(Long, Int, Long, Int)].collect().map(r => r._1 -> r).toMap
    ids.foreach { id =>
      val n = (64 + id % 50).toInt
      val s = (0 until n).map(i => (id * 131 + i * 17) % 2001 - 1000)
      val nF = n / 4
      val d = (0 until nF).map(f =>
        s(4 * f) * s(4 * f) - s(4 * f + 1) * s(4 * f + 1) +
          s(4 * f + 2) * s(4 * f + 2) - s(4 * f + 3) * s(4 * f + 3))
      val fp = (1 until nF).filter(f => d(f) > d(f - 1))
        .map(f => 1L << (f - 1)).sum
      assert(fps(id) == ((id, nF, fp, java.lang.Long.bitCount(fp))), id)
    }
  }

  test("image decode parses real PNG/BMP bytes: dims, luma, resize-grid features") {
    // synthesize images through the JDK's own encoder (no external codec):
    // an 8x4 two-tone (left black, right white) and a uniform mid-gray BMP
    def img(w: Int, h: Int, rgbAt: (Int, Int) => Int, fmt: String): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => bi.setRGB(x, y, rgbAt(x, y))))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, fmt, bos))
      bos.toByteArray
    }
    val twoTone = img(8, 4, (x, _) => if (x < 4) 0x000000 else 0xFFFFFF, "png")
    val gray = img(5, 5, (_, _) => 0x808080, "bmp")
    val df = Seq((1L, twoTone), (2L, gray), (3L, "not an image".getBytes("US-ASCII")))
      .toDF("id", "content")
    val out = Multimodal.decodeImageColumn(df, gridW = 2, gridH = 2)
      .select("id", "img.width", "img.height", "img.n_pixels", "img.mean_luma",
        "img_features")
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Double], Option[Seq[Float]])]
      .collect().sortBy(_._1)
    // two-tone: 8x4, mean luma = 255/2; 2x2 grid = [dark, light, dark, light]
    assert(out(0)._2 == Some(8) && out(0)._3 == Some(4) && out(0)._4 == Some(32L))
    assert(math.abs(out(0)._5.get - 127.5) < 0.51)
    val f = out(0)._6.get
    assert(f.length == 4 && f(0) < 0.25 && f(1) > 0.75 && f(2) < 0.25 && f(3) > 0.75, f)
    // uniform gray BMP: every grid cell equals the global luma
    assert(out(1)._2 == Some(5) && out(1)._3 == Some(5))
    val g = out(1)._6.get
    assert(g.forall(v => math.abs(v - g(0)) < 1e-6) &&
      math.abs(g(0) * 255.0 - out(1)._5.get) < 0.51, g)
    assert(out(2)._2.isEmpty && out(2)._6.isEmpty) // non-image -> nulls, no exception
  }

  test("frame sampling emits every Nth frame index without a shuffle") {
    val vids = Seq((1L, 10), (2L, 3), (3L, 1), (4L, 0)).toDF("vid_id", "n_frames")
    val out = Multimodal.sampleFrames(vids, "n_frames", stride = 4)
      .select("vid_id", "frame_idx").as[(Long, Int)].collect().toSet
    assert(out == Set((1L, 0), (1L, 4), (1L, 8), (2L, 0), (3L, 0))) // 0 frames -> no rows
    val plan = Multimodal.sampleFrames(vids, "n_frames", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("extractFeatures (stub decode) is deterministic with the right shape") {
    val docs = Seq((1L, "abc", "en", "s", 3L), (2L, "abd", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.extractFeatures(Multimodal.withPayload(docs), dim = 8)
      .select(col("doc_id"), col("features")).as[(Long, Seq[Float])].collect().toMap
    assert(f(1L).length == 8)
    assert(f(1L) != f(2L))                 // content-sensitive
    assert(f(1L).forall(x => x >= 0f && x < 1f))
    val again = Multimodal.extractFeatures(Multimodal.withPayload(docs), dim = 8)
      .select(col("doc_id"), col("features")).as[(Long, Seq[Float])].collect().toMap
    assert(f == again)                     // deterministic
  }

  test("synthetic WAV/PNG fixtures round-trip through the REAL decoders") {
    // in-Scala check of the closed forms the mm_wav_stats / mm_image_stats
    // oracles recompute in SQL
    val id = 37L
    val w = Multimodal.decodeWav(Multimodal.synthWav(id))
    val n = (64 + id % 50).toInt
    val expSum = (0 until n).map(i => math.abs((id * 131 + i * 17) % 2001 - 1000)).sum
    assert(w.sample_rate == 8000 && w.n_channels == 1 && w.n_samples == n)
    assert(math.abs(w.mean_abs_amplitude - expSum.toDouble / n / 32768.0) < 1e-12)

    val Some((img, info)) = Multimodal.decodeImage(Multimodal.synthPng(id))
    assert(info.width == (8 + id % 9) && info.height == (6 + id % 5))
    // PNG is lossless: every channel value must round-trip exactly
    assert((img.getRGB(2, 3) & 0xFFFFFF) ==
      ((((id * 7 + 2 * 13 + 3 * 31) % 256).toInt << 16) |
       (((id * 11 + 2 * 3 + 3 * 17) % 256).toInt << 8) |
        ((id * 5 + 2 * 23 + 3 * 29) % 256).toInt))
  }

  test("binaryFile source ingests raw media files straight into the decode path") {
    // the production multimodal ingest shape: a directory of opaque media
    // files read as (path, content) rows by Spark's binaryFile source, then
    // decoded by the same mapPartitions decoders the table-column queries
    // use — no staging conversion step.
    val dir = Files.createTempDirectory("graft_bin")
    val ids = Seq(3L, 17L, 42L)
    ids.foreach(id =>
      Files.write(dir.resolve(s"clip_$id.wav"), Multimodal.synthWav(id)))
    try {
      val df = spark.read.format("binaryFile").load(dir.toString)
      val decoded = Multimodal.decodeWavColumn(df, payloadCol = "content")
        .select(regexp_extract(col("path"), "clip_(\\d+)\\.wav", 1).cast("long").as("id"),
          col("wav.n_samples").as("n_samples"))
        .as[(Long, Long)].collect().toMap
      assert(decoded.keySet == ids.toSet)
      ids.foreach(id => assert(decoded(id) == 64 + id % 50, s"id $id"))
    } finally {
      Files.list(dir).forEach(p => Files.deleteIfExists(p))
      Files.deleteIfExists(dir)
    }
  }

  test("autocorrelation pitch finds the true period of a synthetic square wave") {
    // period-8 square wave: R(lag) peaks at lag 8 (full period) within [2,16];
    // a period-5 wave peaks at 5 and 10 — ties by R break toward the smaller
    def squareWav(period: Int, n: Int): Array[Byte] = {
      val samples = Array.tabulate[Short](n)(i =>
        if ((i / (period / 2)) % 2 == 0) 1000 else -1000)
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val df = Seq((8L, squareWav(8, 160)), (10L, squareWav(10, 160)))
      .toDF("id", "content")
    val got = Multimodal.wavAutocorrPitch(df, minLag = 2, maxLag = 16)
      .select("id", "best_lag").as[(Long, Int)].collect().toMap
    assert(got == Map(8L -> 8, 10L -> 10), got)
  }

  test("autocorrelation pitch matches a brute-force replay on the synth fixtures") {
    val ids = (0L until 40L).toSeq
    val df = Multimodal.withSynthPayload(ids.toDF("doc_id"), Multimodal.synthWav)
    val got = Multimodal.wavAutocorrPitch(df, minLag = 2, maxLag = 16)
      .select("doc_id", "n_samples", "r0", "best_lag", "best_r")
      .as[(Long, Int, Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    ids.foreach { id =>
      val n = (64 + id % 50).toInt
      val v = Array.tabulate(n)(i => ((id * 131 + i * 17) % 2001 - 1000).toLong)
      val r0 = v.map(x => x * x).sum
      val scores = (2 to 16).map(l => l -> (0 until n - l).map(i => v(i) * v(i + l)).sum)
      val (bl, br) = scores.maxBy { case (l, r) => (r, -l) }
      assert(got(id) == ((id, n, r0, bl, br)), s"id $id")
    }
  }
}
