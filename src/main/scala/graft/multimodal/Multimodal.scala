package graft.multimodal

/** The media codecs behind the Media query pack (queries/Media.scala,
  * SURVEY §7.5): images and audio travel as opaque `binary` columns and
  * are decoded inside per-row kernels.
  *
  * WAV (RIFF/PCM16) is pure byte math: a RIFF chunk walk and
  * little-endian samples ([[decodeWav]]/[[encodeWav]]). PNG, JPEG and GIF
  * go through the JDK's own `javax.imageio.ImageIO` ([[decodeImageIO]]/
  * [[encodePng]]), with magic-number sniffing so arbitrary binary never
  * reaches the codec. q158, q159 and q326 hash-match DuckDB oracles
  * through these codecs, and MultimodalSpec pins their golden pixels.
  */
object Multimodal {

  // ImageIO's stream cache defaults to DISK-backed temp files: every
  // ImageIO.read/write otherwise creates (and deletes) a file under
  // java.io.tmpdir PER CALL — for the codec queries that is tens of
  // thousands of filesystem round trips per scan for images that are
  // a few hundred bytes. Memory-backed streams decode/encode the
  // identical bytes (golden fixtures + the q158/q326 oracles prove
  // it).
  //
  // Deliberately an OBJECT-INIT effect, not an engine-entry-point
  // call: the codec kernels are closures referencing this object, so
  // the initializer runs in every JVM that deserializes them —
  // including real-cluster EXECUTORS, which a driver-side init hook
  // would never reach. Known JVM-global implications, accepted and
  // documented: any other ImageIO consumer in the same JVM also
  // switches to fully heap-buffered streams (fine for this engine's
  // few-hundred-byte images; a co-resident library decoding very
  // large images would trade tmpdir I/O for heap), and the setting
  // only applies once this object is class-loaded — i.e. exactly when
  // the engine's own codec paths are about to run. The setter is
  // idempotent and this object is the only ImageIO entry point in the
  // engine.
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL WAV decode — pure byte math, no codec library: RIFF header
    * sniff, chunk walk to `fmt ` (PCM format 1, 16-bit only) and
    * `data`, little-endian PCM16 samples. Returns (sampleRate,
    * channels, interleaved samples). Malformed/compressed payloads →
    * None.
    */
  private[graft] def decodeWav(
      data: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (data == null || data.length < 44) return None
    def ascii(off: Int, s: String): Boolean =
      s.indices.forall(i => data(off + i) == s(i).toByte)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = -1; var channels = -1
    var pcmOff = -1; var pcmLen = -1
    while (pos + 8 <= data.length && (rate < 0 || pcmOff < 0)) {
      val id = new String(data, pos, 4, "US-ASCII")
      val len = bb.getInt(pos + 4)
      // Long sum: len near Int.MaxValue would wrap pos+8+len negative
      // and pass the bound, then drive an out-of-bounds PCM read
      if (len < 0 || pos.toLong + 8 + len > data.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val audioFormat = bb.getShort(pos + 8).toInt
          channels = bb.getShort(pos + 10).toInt
          rate = bb.getInt(pos + 12)
          val bits = bb.getShort(pos + 22).toInt
          if (audioFormat != 1 || bits != 16 || channels < 1 || rate <= 0)
            return None
        case "data" => pcmOff = pos + 8; pcmLen = len
        case _ => // skip unknown chunks (LIST, cue , ...)
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (rate < 0 || pcmOff < 0) return None
    // belt-and-braces: the chunk-walk bound already implies this, but
    // never let pcmLen exceed the payload actually present
    if (pcmLen > data.length - pcmOff) return None
    val n = pcmLen / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = bb.getShort(pcmOff + 2 * i); i += 1 }
    Some((rate, channels, out))
  }

  /** Encode PCM16 samples as a minimal RIFF/WAVE payload (fixtures +
    * the inverse proof for decodeWav). */
  private[graft] def encodeWav(
      rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = s.foreach(c => bb.put(c.toByte))
    ascii("RIFF"); bb.putInt(36 + dataLen); ascii("WAVE")
    ascii("fmt "); bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(rate)
    bb.putInt(rate * channels * 2) // byte rate
    bb.putShort((channels * 2).toShort) // block align
    bb.putShort(16) // bits
    ascii("data"); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    out
  }

  /** REAL JPEG/PNG/GIF decode via the JDK's `javax.imageio.ImageIO` —
    * ships in every JRE, so no external codec dependency. Payloads
    * are magic-sniffed (JPEG FFD8, PNG 89'PNG', GIF 'GIF8') before
    * the codec ever sees them; output is top-down RGB triplets. JPEG
    * being lossy, pixel values
    * are codec-defined — tests assert dimensions and per-pixel
    * tolerance on round trips, exact bytes for PNG and for GIF whose
    * palette the source colors fit (both lossless). None on
    * malformed/truncated payloads (ImageIO returns null or throws;
    * both map to None). */
  private[graft] def decodeImageIO(
      data: Array[Byte]): Option[(String, Int, Int, Array[Byte])] = {
    if (data == null || data.length < 8) return None
    val isJpeg = (data(0) & 0xff) == 0xff && (data(1) & 0xff) == 0xd8
    val isPng = (data(0) & 0xff) == 0x89 && data(1) == 'P' &&
      data(2) == 'N' && data(3) == 'G'
    val isGif = data(0) == 'G' && data(1) == 'I' && data(2) == 'F' &&
      data(3) == '8'
    if (!isJpeg && !isPng && !isGif) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(data))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h * 3 > Int.MaxValue) return None
      // one bulk getRGB pass (not per-pixel calls) keeps the decode
      // stage's per-row cost dominated by the codec, not the copy
      val argb = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Byte](w * h * 3)
      var i = 0
      while (i < argb.length) {
        val v = argb(i)
        out(3 * i) = ((v >> 16) & 0xff).toByte
        out(3 * i + 1) = ((v >> 8) & 0xff).toByte
        out(3 * i + 2) = (v & 0xff).toByte
        i += 1
      }
      Some((if (isJpeg) "jpeg" else if (isGif) "gif" else "png",
        w, h, out))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode top-down RGB triplets as PNG via ImageIO (fixtures + the
    * lossless inverse proof for [[decodeImageIO]]). */
  private[graft] def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
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
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
