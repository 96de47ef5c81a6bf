package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

class MultimodalOpsSpec extends SparkSpec {

  import MultimodalOps._

  /** Deterministic fake media generator (xorshift bytes from media_id). */
  private def syntheticMedia(n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      var x = id * 2654435761L + 1
      val bytes = new Array[Byte](256 + (id % 64).toInt)
      var i = 0
      while (i < bytes.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        bytes(i) = (x & 0xff).toByte
        i += 1
      }
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      MediaRow(id, kind, bytes, 64, 64, 16000, 1000L + id)
    }
  }

  private lazy val media = syntheticMedia(30).cache()

  test("synthetic media is deterministic and typed") {
    val a = syntheticMedia(10).collect().sortBy(_.media_id)
    val b = syntheticMedia(10).collect().sortBy(_.media_id)
    assert(a.map(_.bytes.toSeq) === b.map(_.bytes.toSeq))
    assert(a.map(_.kind).distinct.sorted === Seq("audio", "image", "video"))
  }

  test("decode is REAL for images: a 2x2 PNG decodes to its known RGB pixels") {
    // fixture built by the JDK's own encoder — decode must invert it
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x00ff00) // green
    img.setRGB(0, 1, 0x0000ff) // blue
    img.setRGB(1, 1, 0x102030)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    val decoded = new MediaDecoder().decode("image", png)
    // row-major RGB triplets, NOT the raw container bytes
    assert(decoded.toSeq.map(_ & 0xff) === Seq(
      0xff, 0, 0, /**/ 0, 0xff, 0, /**/ 0, 0, 0xff, /**/ 0x10, 0x20, 0x30))
    // BMP goes through the same real path
    val baos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", baos2))
    assert(new MediaDecoder().decode("image", baos2.toByteArray).toSeq === decoded.toSeq)
    // kind gating: the same PNG bytes under a non-image kind stay opaque
    assert(new MediaDecoder().decode("audio", png).toSeq === png.toSeq)
    assert(new MediaDecoder().decode("text", png).toSeq === png.toSeq)
  }

  test("decode is REAL for WAV audio: a PCM fixture decodes to its known samples") {
    import javax.sound.sampled._
    // 16-bit mono little-endian PCM, 8 frames of known samples
    val pcm = Array[Byte](0, 0, 1, 0, -1, 127, 0, -128, 42, 0, 0, 42, 7, 7, -7, -7)
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 2)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    assert(wav.length > pcm.length, "container adds RIFF/fmt headers")
    // decode must strip the container and return the raw samples
    assert(new MediaDecoder().decode("audio", wav).toSeq === pcm.toSeq)
    // kind gating: the same WAV bytes under kind=image stay opaque
    assert(new MediaDecoder().decode("image", wav).toSeq === wav.toSeq)
  }

  /** Minimal MJPEG-in-AVI fixture: a RIFF/AVI container with an hdrl
    * LIST (skipped by the walker) and a movi LIST holding one `00dc`
    * chunk per JPEG frame, sizes little-endian, chunks even-padded. */
  private def mjpegAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  private def solidJpeg(rgb: Int, w: Int = 4, h: Int = 4): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos))
    baos.toByteArray
  }

  /** RGB triplets the JDK JPEG decoder itself produces for the frame —
    * the self-consistent expected value (JPEG is lossy, so the target
    * is what the decoder round-trips, not the pre-encode constants). */
  private def rgbTwin(jpeg: Array[Byte]): Seq[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    val out = for (y <- 0 until img.getHeight; x <- 0 until img.getWidth;
        c <- Seq(16, 8, 0)) yield ((img.getRGB(x, y) >> c) & 0xff).toByte
    out
  }

  test("decode is REAL for video: MJPEG-in-AVI frames decode to per-frame RGB") {
    val jpegs = Seq(solidJpeg(0xc04020), solidJpeg(0x2040c0), solidJpeg(0x808080))
    val avi = mjpegAvi(jpegs)
    val dec = new MediaDecoder()
    // the chunk walk finds exactly the three frame payloads
    assert(dec.aviFramePayloads(avi).map(_.toSeq) === jpegs.map(_.toSeq))
    // decode = concatenated per-frame RGB from the JDK JPEG decoder
    assert(dec.decode("video", avi).toSeq === jpegs.flatMap(rgbTwin))
    // kind gating: the same AVI bytes under kind=image stay opaque
    assert(dec.decode("image", avi).toSeq === avi.toSeq)
    // non-AVI video payloads keep the identity fallback
    val notAvi = "plain video-ish bytes".getBytes("UTF-8")
    assert(dec.decode("video", notAvi).toSeq === notAvi.toSeq)
    // a frame-less AVI (empty movi) falls back to identity too
    val noFrames = mjpegAvi(Seq(Array[Byte](1, 2, 3))) // non-JPEG payload
    assert(dec.decode("video", noFrames).toSeq === noFrames.toSeq)
  }

  test("AVI walk terminates on crafted size fields (no executor hang)") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val dec = new MediaDecoder()
    // a chunk whose unsigned size is 0xFFFFFFF8 made the old int-wrapped
    // advance exactly 0 — the walk re-read the same chunk forever (an
    // executor hang no NonFatal catch can interrupt). Also probe the
    // odd-pad twin 0xFFFFFFF7 and a mid-range back-jumping value.
    for (size <- Seq(0xFFFFFFF8L, 0xFFFFFFF7L, 0x80000000L, 0xFFFFFFFFL)) {
      val body = "AVI ".getBytes("US-ASCII") ++
        "junk".getBytes("US-ASCII") ++ le32(size) ++ new Array[Byte](32)
      val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
      // must return (identity fallback), not loop: payloads are empty
      assert(dec.aviFramePayloads(avi).isEmpty)
      assert(dec.decode("video", avi).toSeq === avi.toSeq)
    }
    // same crafted size on a frame chunk inside a movi LIST: the walk
    // must terminate after the (truncated-tail) extraction, and the
    // non-JPEG payload keeps the identity fallback
    val inner = "00dc".getBytes("US-ASCII") ++ le32(0xFFFFFFF8L) ++ new Array[Byte](16)
    val moviBody = "movi".getBytes("US-ASCII") ++ inner
    val movi = "LIST".getBytes("US-ASCII") ++ le32(moviBody.length.toLong) ++ moviBody
    val body2 = "AVI ".getBytes("US-ASCII") ++ movi
    val avi2 = "RIFF".getBytes("US-ASCII") ++ le32(body2.length.toLong) ++ body2
    assert(dec.aviFramePayloads(avi2).length <= 1)
    assert(dec.decode("video", avi2).toSeq === avi2.toSeq)
  }

  test("decode falls back to the identity stub for non-image byte streams") {
    val garbage = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    assert(new MediaDecoder().decode("image", garbage).toSeq === garbage.toSeq)
    val textish = "BM plain words that are not a bitmap header".getBytes("UTF-8")
    assert(new MediaDecoder().decode("image", textish).toSeq === textish.toSeq)
  }

  test("q52 invariant: no corpus payload decodes non-identically (oracle models identity)") {
    val dec = new MediaDecoder()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
    docs.foreach { r =>
      val text = r.getString(1)
      val bytes = Array.tabulate[Byte](text.length)(i => (text.charAt(i).toInt & 0xff).toByte)
      val kind = Seq("image", "audio", "video")((r.getLong(0) % 3).toInt)
      assert(dec.decode(kind, bytes).toSeq === bytes.toSeq,
        s"doc ${r.getLong(0)} decoded non-identically as $kind")
    }
  }

  test("extractFeatures yields 16-dim embeddings, deterministic across runs") {
    val f1 = extractFeatures(spark, media).collect().sortBy(_.media_id)
    val f2 = extractFeatures(spark, media).collect().sortBy(_.media_id)
    assert(f1.length === 30)
    assert(f1.forall(_.embedding.length === 16))
    assert(f1.map(_.embedding.toSeq) === f2.map(_.embedding.toSeq))
    // features are content-sensitive: not all identical
    assert(f1.map(_.embedding.toSeq).distinct.length > 1)
  }

  test("feature extraction survives repartitioning (per-partition decoder)") {
    val f1 = extractFeatures(spark, media).collect().sortBy(_.media_id).map(_.embedding.toSeq)
    val f8 = extractFeatures(spark, media.repartition(8)).collect().sortBy(_.media_id).map(_.embedding.toSeq)
    assert(f1.toSeq === f8.toSeq)
  }

  test("featureTable feeds the similarity path (cosine top-1 runs on it)") {
    val ft = featureTable(spark, media)
    assert(ft.columns.toSeq === Seq("vec_id", "embedding"))
    // brute-force cosine between first vector and the rest via the same
    // higher-order-function dot product the similarity operators use
    val q = ft.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")).crossJoin(ft.filter(col("vec_id") =!= 0))
      .withColumn("dot", expr(
        "aggregate(zip_with(qv, embedding, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
    assert(q.count() === 29)
    assert(q.filter(col("dot").isNull).count() === 0)
  }

  test("q141 dHash dedup equals a driver recomputation and respects family accounting") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // driver twin of the media → stripe-mean → dHash chain
    def feats(text: String): IndexedSeq[Double] =
      (0 until 16).map { s =>
        val xs = text.indices.filter(_ % 16 == s).map(i => (text.charAt(i).toInt & 0xff).toDouble)
        (xs.sum / xs.size).toFloat.toDouble
      }
    def dhash(v: IndexedSeq[Double]): Long =
      (0 until 16).map(i => if (v(i) > v((i + 1) % 16)) 1L << i else 0L).sum
    val expected = docs.map { case (id, t) => (id, dhash(feats(t))) }
      .groupBy(_._2).collect { case (h, xs) if xs.length >= 2 =>
        h -> ((xs.map(_._1).min, xs.length.toLong))
      }
    val got = graft.operators.MultimodalQueries.specs
      .find(_.name == "q141_media_dhash_dedup").get.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("dhash") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("dupes")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (h, e) => assert(got(h) === e, s"dhash $h") }
    // perceptual property: identical payloads collide regardless of id
    assert(dhash(feats("abcdef" * 40)) === dhash(feats("abcdef" * 40)))
  }
}
