package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import MultimodalSpec._

/** The media codecs the Media pack runs (q158, q159, q326): golden
  * round trips through the real PNG/JPEG/GIF (ImageIO) and WAV (RIFF
  * PCM16) codecs, malformed payloads that must decode to None, and
  * binary media columns surviving a parquet round trip.
  */
class MultimodalSpec extends SparkTestBase {

  test("binary columns round-trip parquet and repartition for decode") {
    import spark.implicits._
    // real PNG and WAV payloads, spread over six partitions before the
    // write as a decode stage would be
    val media = (0 until 30).map { i =>
      val payload =
        if (i % 2 == 0)
          Multimodal.encodePng(2, 2, Array.tabulate[Byte](12)(j => (i * j).toByte))
        else
          Multimodal.encodeWav(8000, 1, Array.tabulate[Short](8 + i)(j => (i * j).toShort))
      (i.toLong, payload)
    }.toDF("media_id", "data")
    val dir = java.nio.file.Files.createTempDirectory("graft_media_").toString
    media.repartition(6).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 30)
    val orig = media.select(col("media_id"), md5(col("data")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    back.select(col("media_id"), md5(col("data")).as("h")).collect()
      .foreach(r => assert(orig(r.getLong(0)) === r.getString(1)))
  }

  test("WAV decode is real: RIFF chunk walk, PCM16 round trip, meta") {
    // golden fixture: 2 s of an 8 kHz mono square wave at full scale,
    // with an unknown LIST chunk between fmt and data that the chunk
    // walk must skip
    val rate = 8000
    val samples = Array.tabulate[Short](rate * 2) { i =>
      if ((i / 4) % 2 == 0) 16384 else -16384
    }
    val plain = Multimodal.encodeWav(rate, 1, samples)
    // splice a LIST chunk after fmt (offset 36 = start of "data")
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = plain.take(36) ++ listChunk ++ plain.drop(36)
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8) // fix RIFF size
    for (payload <- Seq(plain, spliced)) {
      val Some((r, ch, got)) = Multimodal.decodeWav(payload)
      assert(r === rate && ch === 1)
      assert(got.sameElements(samples), "PCM16 samples must round-trip")
    }
    // malformed RIFF (truncated header) never decodes
    assert(Multimodal.decodeWav(plain.take(30)).isEmpty)
  }

  test("PNG decode is real: ImageIO lossless round trip, golden pixels") {
    // 3x2 primary-color grid, encoded to PNG by the JDK codec and
    // decoded back by the production kernel: lossless → exact bytes
    val rgb = Array[Byte](
      255.toByte, 0, 0, 0, 255.toByte, 0, 0, 0, 255.toByte,
      0, 0, 0, 255.toByte, 255.toByte, 255.toByte, 7, 42, 99)
    val png = Multimodal.encodePng(3, 2, rgb)
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P', "real PNG magic")
    val Some((fmt, w, h, back)) = Multimodal.decodeImageIO(png)
    assert(fmt === "png" && w === 3 && h === 2)
    assert(back.sameElements(rgb), "PNG is lossless: exact pixel bytes")
    // truncated PNG never decodes
    assert(Multimodal.decodeImageIO(png.take(20)).isEmpty)
  }

  test("JPEG decode is real: ImageIO round trip within lossy tolerance") {
    // flat mid-gray 8x8: JPEG is lossy but near-exact on flat fields
    val rgb = Array.fill[Byte](8 * 8 * 3)(128.toByte)
    val jpg = encodeJpeg(8, 8, rgb)
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8,
      "real JFIF magic")
    val Some((fmt, w, h, back)) = Multimodal.decodeImageIO(jpg)
    assert(fmt === "jpeg" && w === 8 && h === 8)
    rgb.zip(back).foreach { case (a, b) =>
      assert(math.abs((a & 0xff) - (b & 0xff)) <= 8,
        "lossy round trip must stay within codec tolerance")
    }
  }

  test("GIF decode is real: palette-lossless round trip, golden pixels") {
    // 4 distinct colors on an 8x8 diagonal: fits any palette, so the
    // GIF round trip must be byte-exact like PNG. (8x8, not smaller:
    // the JDK GIF codec corrupts the LZW stream of a 2x2 frame — a
    // probed tiny-image edge case, not a palette issue.)
    val colors = Array(Array[Byte](255.toByte, 0, 0),
      Array[Byte](0, 255.toByte, 0), Array[Byte](0, 0, 255.toByte),
      Array[Byte](7, 42, 99))
    val rgb = (0 until 64).flatMap(i =>
      colors((i % 8 + i / 8) % 4)).toArray
    val gif = encodeGif(8, 8, rgb)
    assert(gif(0) === 'G' && gif(1) === 'I' && gif(2) === 'F' &&
      gif(3) === '8', "real GIF magic")
    val Some((fmt, w, h, back)) = Multimodal.decodeImageIO(gif)
    assert(fmt === "gif" && w === 8 && h === 8)
    assert(back.sameElements(rgb), "palette GIF is lossless: exact bytes")
    // truncated GIF stays None, never fake-decoded
    assert(Multimodal.decodeImageIO(gif.take(10)).isEmpty)
  }

  test("malformed headers with overflowing dims return None, never throw") {
    // WAV chunk whose declared length is near Int.MaxValue: the sum
    // pos+8+len wraps negative in Int math and would pass the bound
    val wav = Multimodal.encodeWav(8000, 1, Array.tabulate[Short](16)(_.toShort))
    val evil = wav.clone()
    val wb = java.nio.ByteBuffer.wrap(evil)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wb.putInt(40, Int.MaxValue - 4) // data chunk len, offset 40 in minimal RIFF
    assert(Multimodal.decodeWav(evil).isEmpty)
  }
}

object MultimodalSpec {

  /** Encode top-down RGB triplets as JPEG via ImageIO (fixture side
    * of the lossy round-trip test). */
  def encodeJpeg(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val argb = new Array[Int](w * h)
    var i = 0
    while (i < argb.length) {
      argb(i) = ((rgb(3 * i) & 0xff) << 16) |
        ((rgb(3 * i + 1) & 0xff) << 8) | (rgb(3 * i + 2) & 0xff)
      i += 1
    }
    img.setRGB(0, 0, w, h, argb, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  /** Encode top-down RGB triplets as GIF via ImageIO (fixture side of
    * the palette-lossless round-trip test). The JDK's GIF writer
    * QUANTIZES direct-color images to its own palette — handing it a
    * TYPE_INT_RGB frame loses colors even when ≤256 are present — so
    * the image is built as TYPE_BYTE_INDEXED over an explicit
    * IndexColorModel holding exactly the distinct source colors
    * (≤256 required), which the writer emits verbatim. */
  def encodeGif(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val n = w * h
    val argb = new Array[Int](n)
    var i = 0
    while (i < n) {
      argb(i) = ((rgb(3 * i) & 0xff) << 16) |
        ((rgb(3 * i + 1) & 0xff) << 8) | (rgb(3 * i + 2) & 0xff)
      i += 1
    }
    val palette = argb.distinct
    require(palette.length <= 256,
      s"GIF fixture needs <=256 distinct colors, got ${palette.length}")
    val idx = palette.zipWithIndex.toMap
    val cm = new java.awt.image.IndexColorModel(
      8, palette.length,
      palette.map(v => ((v >> 16) & 0xff).toByte),
      palette.map(v => ((v >> 8) & 0xff).toByte),
      palette.map(v => (v & 0xff).toByte))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val raster = img.getRaster
    i = 0
    while (i < n) {
      raster.setSample(i % w, i / w, 0, idx(argb(i)))
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    bos.toByteArray
  }
}
