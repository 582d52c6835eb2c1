package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Real `javax.imageio` codecs behind the multimodal transform:
  * generated PNGs decode to their true dimensions, resize really
  * rescales (re-encoded PNG), magic-byte sniffing names formats, and
  * corrupt bytes degrade to ok=false instead of throwing. The q194 /
  * q197 driver gates run the same chain through the Pipeline API. */
class MultimodalImageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.MultimodalTransform.{ImageCodecs, StubCodecs}

  test("generatePng → decode roundtrip: true dims, 3 channels, png") {
    val bytes = ImageCodecs.generatePng(23, 11, seed = 42L)
    assert(ImageCodecs.sniff(bytes).contains("png"))
    val m = ImageCodecs.decode(bytes)
    assert(m == StubCodecs.Meta(23, 11, 3, "png", ok = true))
    // deterministic: same (w, h, seed) → identical bytes
    assert(java.util.Arrays.equals(bytes,
      ImageCodecs.generatePng(23, 11, seed = 42L)))
    // different seed → different pixels
    assert(!java.util.Arrays.equals(bytes,
      ImageCodecs.generatePng(23, 11, seed = 43L)))
  }

  test("resize really rescales and re-encodes PNG; jpeg/gif/bmp " +
      "sniff and decode through the same path") {
    val src = ImageCodecs.generatePng(32, 16, seed = 7L)
    val small = ImageCodecs.resize(src, 8, 4)
    assert(ImageCodecs.decode(small) ==
      StubCodecs.Meta(8, 4, 3, "png", ok = true))
    // round-trip the same raster through the other JDK writers and
    // decode via the magic-byte sniff
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(src))
    for (fmt <- Seq("jpeg", "gif", "bmp")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos),
        s"JDK has no $fmt writer")
      val m = ImageCodecs.decode(bos.toByteArray)
      assert(m.format == fmt && m.ok && m.width == 32 && m.height == 16,
        s"$fmt: $m")
    }
  }

  test("corrupt and unknown bytes degrade to ok=false, never throw") {
    // valid magic, truncated body
    val png = ImageCodecs.generatePng(16, 16, seed = 1L)
    val truncated = png.take(20)
    val m1 = ImageCodecs.decode(truncated)
    assert(m1.format == "png" && !m1.ok)
    assert(ImageCodecs.decode("garbage".getBytes) ==
      StubCodecs.Meta(0, 0, 0, "unknown", ok = false))
    // resize of undecodable bytes passes them through unchanged
    assert(java.util.Arrays.equals(
      ImageCodecs.resize("garbage".getBytes, 4, 4), "garbage".getBytes))
    // synthetic IMG: fixtures still route through the stub codec
    val fix = "IMG:640x480x3:payload".getBytes("ISO-8859-1")
    assert(ImageCodecs.decode(fix) ==
      StubCodecs.Meta(640, 480, 3, "img", ok = true))
    assert(new String(ImageCodecs.resize(fix, 8, 8), "ISO-8859-1")
      .startsWith("IMG:8x8x3:"))
  }

  test("generateWav → audio decode roundtrip: true frame count, " +
      "PCM-16 mono, wav; AIFF decodes through the same path; " +
      "corrupt/compressed bytes degrade to ok=false") {
    import graft.operators.MultimodalTransform.AudioCodecs
    val wav = AudioCodecs.generateWav(320, 8000, seed = 42L)
    assert(AudioCodecs.sniffAudio(wav).contains("wav"))
    val m = AudioCodecs.decode(wav)
    assert(m == AudioCodecs.AudioMeta(8000, 1, 320L, 16, "wav",
      ok = true))
    // deterministic across runs
    assert(java.util.Arrays.equals(wav,
      AudioCodecs.generateWav(320, 8000, seed = 42L)))
    assert(!java.util.Arrays.equals(wav,
      AudioCodecs.generateWav(320, 8000, seed = 43L)))
    // round-trip the same PCM through the JDK AIFF writer
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val aiff = AudioCodecs.decode(bos.toByteArray)
    assert(aiff.format == "aiff" && aiff.ok && aiff.frames == 320L,
      aiff.toString)
    // truncated WAV: valid magic, unparseable body
    val trunc = AudioCodecs.decode(wav.take(16))
    assert(trunc.format == "wav" && !trunc.ok)
    assert(AudioCodecs.decode("not-audio-at-all".getBytes) ==
      AudioCodecs.AudioMeta(0, 0, 0L, 0, "unknown", ok = false))
    assert(AudioCodecs.decode(null) ==
      AudioCodecs.AudioMeta(0, 0, 0L, 0, "null", ok = false))
  }

  test("generate_wav + audio_meta end-to-end through the transform: " +
      "per-row frame counts, invalid counts degrade to null") {
    // 4: over the fixture ceiling; 5: out-of-int-range (the old
    // intValue() truncation wrapped it to a plausible small count)
    val rows = Seq((1L, 160L), (2L, 250L), (3L, -5L),
      (4L, 1200000000L), (5L, 4294967396L))
      .toDF("doc_id", "frames")
    val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse("""
        {"ops": [
          {"op": "generate_wav", "framesField": "frames",
           "seedField": "doc_id", "sampleRate": 8000,
           "name": "audio"},
          {"op": "audio_meta", "field": "audio", "name": "meta"}
        ]}"""), graft.config.Json.obj())
    val out = graft.operators.MultimodalTransform
      .build(spark, cfg, Map("in" -> rows))("mm")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def meta(id: Long) = out(id).getAs[org.apache.spark.sql.Row]("meta")
    assert(meta(1L).getAs[Long]("frames") == 160L)
    assert(meta(2L).getAs[Long]("frames") == 250L)
    assert(meta(1L).getAs[Int]("sample_rate") == 8000)
    assert(meta(1L).getAs[String]("format") == "wav")
    for (id <- Seq(3L, 4L, 5L)) {
      assert(out(id).isNullAt(out(id).fieldIndex("audio")),
        s"doc $id must degrade to null audio")
      assert(!meta(id).getAs[Boolean]("ok"))
    }
  }

  test("generateGif → frame_sample: real multi-frame container, " +
      "evenly-spaced sampling, frames re-encode as RGB PNGs; " +
      "stills read as one frame; garbage degrades to null") {
    import graft.operators.MultimodalTransform.{ImageCodecs, StubCodecs}
    val gif = ImageCodecs.generateGif(12, 7, frames = 5, seed = 9L)
    assert(ImageCodecs.sniff(gif).contains("gif"))
    val m = ImageCodecs.decode(gif)
    assert(m.width == 12 && m.height == 7 && m.format == "gif" && m.ok)
    // sample 3 of 5: evenly-spaced, each a 12x7 RGB PNG
    val sampled = ImageCodecs.frameSample(gif, 3)
    assert(sampled.size == 3)
    for (f <- sampled) {
      val fm = ImageCodecs.decode(f)
      assert(fm == StubCodecs.Meta(12, 7, 3, "png", ok = true), fm)
    }
    // frames differ (per-frame seed offset) and sampling is
    // deterministic
    assert(!java.util.Arrays.equals(sampled(0), sampled(2)))
    assert(ImageCodecs.frameSample(gif, 3).zip(sampled)
      .forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // n > available: capped at the real frame count
    assert(ImageCodecs.frameSample(gif, 99).size == 5)
    // a still PNG is a one-frame container
    val still = ImageCodecs.generatePng(8, 8, 1L)
    assert(ImageCodecs.frameSample(still, 4).size == 1)
    // IMG: fixture keeps the stub path (n index-tagged thumbs)
    val fix = "IMG:640x480x3:payload".getBytes("ISO-8859-1")
    assert(ImageCodecs.frameSample(fix, 3).size == 3)
    // garbage and null degrade
    assert(ImageCodecs.frameSample("junk".getBytes, 3) == null)
    assert(ImageCodecs.frameSample(null, 3) == null)
  }

  test("codec roundtrip property sweep: every (dims, seed) in a " +
      "deterministic grid decodes back exactly — images and audio") {
    import graft.operators.MultimodalTransform.{AudioCodecs, ImageCodecs}
    for (w <- Seq(1, 2, 7, 64, 333); h <- Seq(1, 3, 17, 128);
         seed <- Seq(0L, -9L, Long.MaxValue)) {
      val m = ImageCodecs.decode(ImageCodecs.generatePng(w, h, seed))
      assert((m.width, m.height, m.channels, m.format, m.ok) ==
        ((w, h, 3, "png", true)), s"png $w x $h seed=$seed: $m")
    }
    for (frames <- Seq(1, 2, 255, 4096, 44100);
         rate <- Seq(8000, 16000, 44100); seed <- Seq(0L, 7L)) {
      val m = AudioCodecs.decode(
        AudioCodecs.generateWav(frames, rate, seed))
      assert((m.sampleRate, m.channels, m.frames, m.bits, m.format,
          m.ok) == ((rate, 1, frames.toLong, 16, "wav", true)),
        s"wav $frames @$rate seed=$seed: $m")
    }
    // resize property: any generated image rescales to any target
    for (w <- Seq(5, 40); h <- Seq(9, 21); tw <- Seq(1, 13, 80);
         th <- Seq(2, 33)) {
      val r = ImageCodecs.decode(ImageCodecs.resize(
        ImageCodecs.generatePng(w, h, 3L), tw, th))
      assert((r.width, r.height, r.ok) == ((tw, th, true)),
        s"resize ($w,$h)->($tw,$th): $r")
    }
  }

  test("generate op end-to-end through the transform: per-row dims " +
      "and seed columns, decode and resize downstream, null dims " +
      "stay null") {
    val rows = Seq((1L, 8, 6), (2L, 12, 5), (3L, 0, 0))
      .toDF("doc_id", "w", "h")
      .withColumn("w", when($"doc_id" === 3, lit(null)).otherwise($"w"))
    val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse("""
        {"ops": [
          {"op": "generate", "widthField": "w", "heightField": "h",
           "seedField": "doc_id", "name": "content"},
          {"op": "decode", "field": "content", "name": "meta"},
          {"op": "resize", "field": "content", "name": "thumb",
           "width": 5, "height": 4},
          {"op": "decode", "field": "thumb", "name": "meta2"}
        ]}"""), graft.config.Json.obj())
    val out = graft.operators.MultimodalTransform
      .build(spark, cfg, Map("in" -> rows))("mm")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def meta(id: Long, col: String) =
      out(id).getAs[org.apache.spark.sql.Row](col)
    assert(meta(1L, "meta").getAs[Int]("width") == 8)
    assert(meta(1L, "meta").getAs[Int]("height") == 6)
    assert(meta(2L, "meta").getAs[Int]("width") == 12)
    assert(meta(1L, "meta").getAs[String]("format") == "png")
    assert(meta(1L, "meta2").getAs[Int]("width") == 5)
    assert(meta(2L, "meta2").getAs[Int]("height") == 4)
    assert(out(3L).isNullAt(out(3L).fieldIndex("content")))
    assert(!meta(3L, "meta").getAs[Boolean]("ok"))
    // distinct seeds → distinct images (same dims)
    val b1 = out(1L).getAs[Array[Byte]]("content")
    val cfg2 = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"ops": [{"op": "generate", "widthField": "w",
            "heightField": "h", "seedField": "doc_id",
            "name": "content"}]}"""), graft.config.Json.obj())
    val again = graft.operators.MultimodalTransform
      .build(spark, cfg2, Map("in" -> rows))("mm")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(java.util.Arrays.equals(b1,
      again(1L).getAs[Array[Byte]]("content")),
      "generate must be deterministic across runs")
  }

  /** Hand-assemble an animated GIF with explicit per-frame disposal
    * methods and descriptor offsets (the metadata knobs real
    * optimized GIFs use). Solid primary colors quantize exactly into
    * the GIF palette, so canvas pixels assert bit-exactly. */
  private def gifWithDisposal(
      frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)])
      : Array[Byte] = {
    import javax.imageio.{ImageIO, IIOImage, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { case (img, ox, oy, disposal) =>
        val md = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), null)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def child(name: String): IIOMetadataNode = {
          val kids = root.getElementsByTagName(name)
          if (kids.getLength > 0)
            kids.item(0).asInstanceOf[IIOMetadataNode]
          else {
            val n = new IIOMetadataNode(name)
            root.appendChild(n); n
          }
        }
        val gce = child("GraphicControlExtension")
        gce.setAttribute("disposalMethod", disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        val desc = child("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", ox.toString)
        desc.setAttribute("imageTopPosition", oy.toString)
        desc.setAttribute("imageWidth", img.getWidth.toString)
        desc.setAttribute("imageHeight", img.getHeight.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        md.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, md), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  private def solid(w: Int, h: Int, rgb: Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    img
  }

  private def pngPixel(png: Array[Byte], x: Int, y: Int): Int =
    javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png)).getRGB(x, y) & 0xffffff

  test("frame_sample honors GIF disposal: restoreToBackgroundColor " +
      "clears the frame rect, restoreToPrevious rewinds the canvas") {
    import graft.operators.MultimodalTransform.ImageCodecs
    val RED = 0xff0000; val GREEN = 0x00ff00; val BLUE = 0x0000ff
    // frame 0 (full 16x8 red canvas) asks restoreToBackgroundColor:
    // after it displays, its rect clears to background (black on the
    // RGB canvas) — frame 1's sample must show ONLY the green delta
    // patch, not stale red
    val g1 = gifWithDisposal(Seq(
      (solid(16, 8, RED), 0, 0, "restoreToBackgroundColor"),
      (solid(4, 4, GREEN), 0, 0, "doNotDispose")))
    val s1 = ImageCodecs.frameSample(g1, 2)
    assert(s1.size == 2)
    assert(pngPixel(s1(0), 12, 6) == RED) // frame 0 samples pre-dispose
    assert(pngPixel(s1(1), 1, 1) == GREEN)
    assert(pngPixel(s1(1), 12, 6) == 0x000000,
      "stale frame-0 pixels must clear under restoreToBackgroundColor")
    // frame 1 (green patch) asks restoreToPrevious: after it
    // displays, the canvas rewinds to the frame-0 state — frame 2's
    // sample shows red background + blue patch, and NO green
    val g2 = gifWithDisposal(Seq(
      (solid(16, 8, RED), 0, 0, "doNotDispose"),
      (solid(4, 4, GREEN), 0, 0, "restoreToPrevious"),
      (solid(4, 4, BLUE), 8, 2, "doNotDispose")))
    val s2 = ImageCodecs.frameSample(g2, 3)
    assert(s2.size == 3)
    assert(pngPixel(s2(1), 1, 1) == GREEN) // sampled pre-dispose
    assert(pngPixel(s2(2), 1, 1) == RED,
      "green must rewind under restoreToPrevious")
    assert(pngPixel(s2(2), 9, 3) == BLUE)
    assert(pngPixel(s2(2), 14, 7) == RED)
  }

  test("generate rejects fractional dims: a double-typed 4.9 width " +
      "degrades to null instead of truncating to 4") {
    val rows = Seq((1L, 4.9, 6.0), (2L, 4.0, 6.0))
      .toDF("doc_id", "w", "h")
    val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"ops": [{"op": "generate", "widthField": "w",
            "heightField": "h", "seedField": "doc_id",
            "name": "content"}]}"""), graft.config.Json.obj())
    val out = graft.operators.MultimodalTransform
      .build(spark, cfg, Map("in" -> rows))("mm")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).isNullAt(out(1L).fieldIndex("content")),
      "fractional width must degrade to null, not truncate")
    // an INTEGRAL double is a fine width (4.0 == 4)
    val m = graft.operators.MultimodalTransform.ImageCodecs
      .decode(out(2L).getAs[Array[Byte]]("content"))
    assert(m.width == 4 && m.height == 6 && m.ok)
  }

  test("embed with model routes decode → pixel tensor → session: " +
      "stub:linear reproduces 2·(pixel/255)+1 per element; " +
      "undecodable rows skip the session (null embedding); a real " +
      "model path raises the onnxruntime jar error") {
    import graft.operators.MultimodalTransform.ImageCodecs
    val rows = Seq((1L, 8, 8), (2L, 8, 8)).toDF("doc_id", "w", "h")
    val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"ops": [
            {"op": "generate", "widthField": "w", "heightField": "h",
             "seedField": "doc_id", "name": "img"},
            {"op": "embed", "field": "img", "model": "stub:linear",
             "grid": 8, "name": "emb"}]}"""), graft.config.Json.obj())
    val out = graft.operators.MultimodalTransform
      .build(spark, cfg, Map("in" -> rows))("mm")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val emb = out(1L).getSeq[Float](out(1L).fieldIndex("emb"))
    assert(emb.size == 192)
    val expected = ImageCodecs
      .pixelTensor(ImageCodecs.generatePng(8, 8, 1L), 8)
      .map(x => (2.0 * x + 1.0).toFloat)
    assert(emb == expected.toSeq)
    // a non-image row degrades to a null embedding, never a throw
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "img")
    val cfgJ = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"ops": [{"op": "embed", "field": "img",
            "model": "stub:linear", "grid": 8, "name": "emb"}]}"""),
      graft.config.Json.obj())
    val jOut = graft.operators.MultimodalTransform
      .build(spark, cfgJ, Map("in" -> junk))("mm").collect()(0)
    assert(jOut.isNullAt(jOut.fieldIndex("emb")))
    // jar-error path: a real model path without the onnxruntime jar
    // raises the connector-slot error (reference contract:
    // transform/ONNXTransform.java:590 runs onnxruntime sessions)
    val cfgR = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"ops": [
            {"op": "generate", "widthField": "w", "heightField": "h",
             "name": "img"},
            {"op": "embed", "field": "img", "model": "clip.onnx",
             "grid": 8, "name": "emb"}]}"""), graft.config.Json.obj())
    val err = intercept[Exception] {
      graft.operators.MultimodalTransform
        .build(spark, cfgR, Map("in" -> rows))("mm").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(err).exists(_.contains("onnxruntime")),
      s"expected the onnxruntime jar error, got: ${chain(err)}")
  }

  test("embed fast path fails loudly on a contract-violating " +
      "session: a missing 'out' tensor and a short output both " +
      "name the problem instead of emitting null embeddings") {
    import graft.operators.{MultimodalTransform, OnnxTransform}
    val rows = Seq((1L, 8, 8), (2L, 8, 8)).toDF("doc_id", "w", "h")
    def embed(): Unit = {
      val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
        graft.config.Json.parse(
          """{"ops": [
              {"op": "generate", "widthField": "w",
               "heightField": "h", "name": "img"},
              {"op": "embed", "field": "img", "model": "stub:bad",
               "grid": 8, "name": "emb"}]}"""),
        graft.config.Json.obj())
      MultimodalTransform.build(spark, cfg, Map("in" -> rows))("mm")
        .collect()
      ()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val prev = OnnxTransform.sessionFactory
    try {
      // wrong tensor name: the error must name the tensors returned
      OnnxTransform.sessionFactory = _ => new OnnxTransform.Session {
        def run(inputs: Map[String, IndexedSeq[Any]], n: Int) =
          Map("embedding" -> IndexedSeq.fill(n)(Array(1.0)))
      }
      val e1 = intercept[Exception](embed())
      assert(chain(e1).exists(m => m.contains("'out' tensor") &&
        m.contains("embedding")), chain(e1))
      // short output: one vector for two inputs
      OnnxTransform.sessionFactory = _ => new OnnxTransform.Session {
        def run(inputs: Map[String, IndexedSeq[Any]], n: Int) =
          Map("out" -> IndexedSeq(Array(1.0)))
      }
      val e2 = intercept[Exception](embed())
      assert(chain(e2).exists(_.contains("one output per row")),
        chain(e2))
    } finally OnnxTransform.sessionFactory = prev
  }
}
