package graft.api

import org.apache.spark.sql.{DataFrame, Dataset}

/** One media payload row entering the decode stage. */
case class MediaIn(doc_id: Long, content: Array[Byte], mime: String)

/** Decoded metadata leaving the decode stage. */
case class MediaMeta(doc_id: Long, mime: String, n_bytes: Long,
                     width: Int, height: Int, ok: Boolean)

/** Batch decode harness for opaque media columns — the Scala analog of a
  * mapInPandas decode stage: partition-at-a-time iteration so a real
  * decoder can amortize per-batch setup (native lib handles, model
  * weights) across every row of the partition instead of paying it per
  * row.
  *
  * Image payloads (mime `image/...`) take a REAL decode path: `ImageIO`
  * ships with the JDK, so width/height/ok come from actually parsing the
  * image bytes (undecodable bytes → ok=false, zero dims — never a thrown
  * partition). Video payloads (mime `video/...`) take the REAL
  * MP4/ISO-BMFF box walk ([[probeVideoOne]]) — track dims out of tkhd.
  * Audio metadata has its own typed surface ([[decodeAudioOne]] —
  * dimensions are meaningless for it); any other mime keeps a documented
  * deterministic byte-fake that exercises the plumbing — typed schema
  * in/out, per-partition batching, corrupt-row handling — end to end.
  *
  * 100-TB note: decode is pure map work — no shuffle. Size input
  * partitions by payload bytes (spark.sql.files.maxPartitionBytes), not
  * row counts, and repartition upstream if single files hold many large
  * payloads.
  */
object MultimodalDecode {

  /** Thread-local PNG reader/writer: every `ImageIO.read`/`write` call
    * walks the synchronized IIORegistry service lookup, which under 32
    * executor threads CONTENDS hard enough to run SLOWER than a single
    * thread (measured on the sf1 rehearsal: 50k decodes took 4.7s
    * parallel vs 0.9s serial before this pool). One reader/writer per
    * thread, direct MemoryCache image streams (no registry, no temp
    * files) — the codec amortization the harness doc promises.
    */
  private val pngReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next())
  private val pngWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
  // JPEG gets its own pooled pair: a real crawl's images are mostly
  // JPEG, and the registry-lookup contention is format-independent
  private val jpegReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next())
  private val jpegWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next())

  // the remaining JDK-native still-image formats a real crawl carries:
  // GIF/BMP/TIFF each get the same pooled reader treatment (and TIFF a
  // pooled writer for the fixture side), so NO image format the JDK can
  // decode ever falls to the contended generic registry path
  private val gifReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next())
  private val bmpReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("bmp").next())
  private val tiffReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("tiff").next())
  private val gifWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next())
  private val bmpWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next())
  private val tiffWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next())

  /** Pooled audio providers — the audio twin of the image pools above:
    * every `AudioSystem.getAudioInputStream`/`write` call re-enters the
    * JDK's synchronized provider lookup (JDK13Services), which under 32
    * executor threads contends hard enough that pinning the decode
    * stages to defaultParallelism ran 2-3x SLOWER than one task
    * (x_audio_features 0.9s → 1.6s wall at 41 summed task-sec when the
    * media repartition was widened). The provider list is loaded ONCE;
    * WAV/AIFF reader and writer instances are stateless parsers, safe
    * to share across threads. Semantics match AudioSystem exactly:
    * first provider that accepts the stream wins; none → null (the
    * callers' loud ok=false arm).
    */
  private val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    buf.toArray
  }
  private val audioWriters: Array[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) buf += it.next()
    buf.toArray
  }

  /** The JDK ships a MIDI-backed AudioFileReader (Gervill's
    * SoftMidiAudioFileReader) FIRST in provider order, and its accept
    * probe calls MidiSystem.getSequence — which re-enters the
    * synchronized JDK13Services registry on EVERY call: thread dumps of
    * a 32-task sf1 audio stage showed 675/800 executor samples BLOCKED
    * on that monitor (parallel decode ran slower than serial). Sampled
    * audio (RIFF/WAVE, FORM/AIFF, .snd) can never be MIDI, so the MIDI
    * reader is split off once here, ordered last and skipped by
    * position for RIFF/FORM payloads — the non-MIDI readers reject
    * genuinely-MIDI bytes first under AudioSystem's own semantics, so
    * outcomes are unchanged. A JDK whose MIDI reader is renamed falls
    * back to the contended provider order; that is logged once.
    */
  private val (audioReadersOrdered, nonMidiReaders)
      : (Array[javax.sound.sampled.spi.AudioFileReader], Int) = {
    val (midi, rest) = audioReaders.partition(
      _.getClass.getName.contains("SoftMidiAudioFileReader"))
    if (midi.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "no SoftMidiAudioFileReader among the audio providers; every " +
          "audio decode probes the providers in the JDK's contended order")
    (rest ++ midi, rest.length)
  }
  private def looksRiffOrForm(c: Array[Byte]): Boolean =
    c.length >= 4 &&
      ((c(0) == 'R' && c(1) == 'I' && c(2) == 'F' && c(3) == 'F') ||
        (c(0) == 'F' && c(1) == 'O' && c(2) == 'R' && c(3) == 'M'))

  /** Registry-free `AudioSystem.getAudioInputStream`: first pooled
    * provider that accepts the bytes, or null for undecodable input.
    */
  private def audioStream(c: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val n =
      if (looksRiffOrForm(c)) nonMidiReaders else audioReadersOrdered.length
    var i = 0
    while (i < n) {
      try return audioReadersOrdered(i)
        .getAudioInputStream(new java.io.ByteArrayInputStream(c))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException |
             _: java.io.IOException => ()
      }
      i += 1
    }
    null
  }

  /** Registry-free `AudioSystem.write`: first pooled provider that
    * supports the container type for this stream (same pick order as
    * AudioSystem). Fixture encoders only — a miss is a programming
    * error, loud.
    */
  private def writeAudio(st: javax.sound.sampled.AudioInputStream,
                         tpe: javax.sound.sampled.AudioFileFormat.Type,
                         out: java.io.OutputStream): Unit = {
    var i = 0
    while (i < audioWriters.length) {
      if (audioWriters(i).isFileTypeSupported(tpe, st)) {
        audioWriters(i).write(st, tpe, out)
        return
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"writeAudio: no provider for container type $tpe")
  }

  private val PngSig =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def looksPng(c: Array[Byte]): Boolean =
    c.length >= 8 && java.util.Arrays.equals(c, 0, 8, PngSig, 0, 8)

  /** JFIF/EXIF JPEG starts with the SOI marker FF D8 FF. */
  private def looksJpeg(c: Array[Byte]): Boolean =
    c.length >= 3 && (c(0) & 0xff) == 0xff && (c(1) & 0xff) == 0xd8 &&
      (c(2) & 0xff) == 0xff

  /** GIF87a / GIF89a header. */
  private def looksGif(c: Array[Byte]): Boolean =
    c.length >= 6 && c(0) == 'G' && c(1) == 'I' && c(2) == 'F' &&
      c(3) == '8' && (c(4) == '7' || c(4) == '9') && c(5) == 'a'

  /** Windows bitmap: 'BM'. */
  private def looksBmp(c: Array[Byte]): Boolean =
    c.length >= 2 && c(0) == 'B' && c(1) == 'M'

  /** TIFF: little-endian "II*\0" or big-endian "MM\0*". */
  private def looksTiff(c: Array[Byte]): Boolean =
    c.length >= 4 &&
      ((c(0) == 'I' && c(1) == 'I' && c(2) == 0x2a && c(3) == 0) ||
        (c(0) == 'M' && c(1) == 'M' && c(2) == 0 && c(3) == 0x2a))

  private def readPooled(r: javax.imageio.ImageReader,
                         c: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(c))
    try { r.setInput(iis, true, true); r.read(0) }
    finally { r.setInput(null); iis.close() }
  }

  /** Decode image bytes to a raster, or null if undecodable. Every
    * JDK-native format — PNG, JPEG, GIF, BMP, TIFF — takes a pooled
    * contention-free reader, sniffed by signature; only genuinely
    * unknown bytes fall back to the generic registry path.
    */
  private def readImage(c: Array[Byte]): java.awt.image.BufferedImage =
    try {
      if (looksPng(c)) readPooled(pngReaderTl.get(), c)
      else if (looksJpeg(c)) readPooled(jpegReaderTl.get(), c)
      else if (looksGif(c)) readPooled(gifReaderTl.get(), c)
      else if (looksBmp(c)) readPooled(bmpReaderTl.get(), c)
      else if (looksTiff(c)) readPooled(tiffReaderTl.get(), c)
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(c))
    } catch { case _: java.io.IOException | _: RuntimeException => null }

  /** Encode a raster as PNG bytes through the pooled writer. */
  private def writePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = pngWriterTl.get()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try { w.setOutput(ios); w.write(img); ios.flush() }
    finally { w.setOutput(null); ios.close() }
    bos.toByteArray
  }

  /** Decode one payload. Image mimes go through ImageIO (real parse);
    * other mimes get deterministic byte-derived dims (no JDK codec).
    * Public like the other *One kernels so specs can drive single rows.
    */
  def decodeOne(in: MediaIn): MediaMeta = {
    // NULL payload = corrupt feed row: decode "fails" loudly (ok=false,
    // zero bytes) instead of NPE-ing the partition
    val c = if (in.content == null) Array.emptyByteArray else in.content
    if (in.mime != null && in.mime.startsWith("image/")) {
      val img = readImage(c)
      if (img == null)
        MediaMeta(in.doc_id, in.mime, c.length.toLong, 0, 0, ok = false)
      else
        MediaMeta(in.doc_id, in.mime, c.length.toLong,
          img.getWidth, img.getHeight, ok = true)
    } else if (in.mime != null && in.mime.startsWith("video/")) {
      val v = probeVideoOne(in)
      MediaMeta(in.doc_id, in.mime, c.length.toLong,
        v.width, v.height, v.ok)
    } else {
      val b0 = if (c.nonEmpty) c(0) & 0xff else 0
      val b1 = if (c.length > 1) c(1) & 0xff else 0
      MediaMeta(in.doc_id, in.mime, c.length.toLong,
        width = 64 + b0 * 4, height = 64 + b1 * 4, ok = c.nonEmpty)
    }
  }

  /** Decode a payload Dataset partition-at-a-time. */
  def decode(payloads: Dataset[MediaIn]): Dataset[MediaMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { rows =>
      // per-partition setup, paid once per task: disable ImageIO's
      // temp-file cache so each decode is a pure in-memory parse
      javax.imageio.ImageIO.setUseCache(false)
      rows.map(decodeOne)
    }
  }

  /** Encode a small deterministic RGB raster as real PNG bytes — the
    * fixture generator for the image-decode path. Pixel (x, y) carries a
    * value mixed from (seed, x, y), so two distinct (w, h, seed) triples
    * give distinct images and the same triple always gives the same
    * raster. Java's PNG writer emits no timestamp chunks, so the bytes
    * are stable for a given JDK.
    */
  private def fixtureRaster(width: Int, height: Int,
                            seed: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        // murmur-style finalizer so the pixel field is genuinely
        // pseudorandom per (seed, x, y): any MULTIPLICATIVE mix of a
        // linear ramp keeps adjacent-pixel differences nearly constant
        // across seeds, which correlates every image's perceptual hash
        // (measured: 140 distinct fields, pairwise dHash hamming 1-10)
        var m = seed * 0x9E3779B97F4A7C15L + x * 0xC2B2AE3D27D4EB4FL +
          y * 0x165667B19E3779F9L
        m ^= m >>> 33; m *= 0xFF51AFD7ED558CCDL; m ^= m >>> 33
        img.setRGB(x, y, (m & 0xffffffL).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  def encodePng(width: Int, height: Int, seed: Long): Array[Byte] =
    writePng(fixtureRaster(width, height, seed))

  /** Encode the same deterministic raster as real JPEG bytes — the
    * fixture generator for the JPEG decode path (the format most crawl
    * images arrive in). JPEG is lossy, so only structural facts (dims,
    * decodability) are gate material — pixel values are NOT (they vary
    * with the encoder's quantization); the oracle gates the dimension
    * formula, exactly what survives a lossy round-trip.
    */
  def encodeJpeg(width: Int, height: Int, seed: Long): Array[Byte] =
    writePooled(jpegWriterTl.get(), fixtureRaster(width, height, seed))

  /** Encode the deterministic fixture raster in any pooled still-image
    * format ("png", "jpeg", "gif", "bmp", "tiff") — the fixture writer
    * for the multi-format decode gate. GIF quantizes to a 256-color
    * palette and JPEG is lossy, so only structural facts (dims,
    * decodability, sniffed format) are gate material across all five.
    */
  def encodeImage(format: String, width: Int, height: Int,
                  seed: Long): Array[Byte] = {
    val w = format match {
      case "png"  => pngWriterTl.get()
      case "jpeg" => jpegWriterTl.get()
      case "gif"  => gifWriterTl.get()
      case "bmp"  => bmpWriterTl.get()
      case "tiff" => tiffWriterTl.get()
      case other  => throw new IllegalArgumentException(
        s"encodeImage: unsupported fixture format '$other'")
    }
    writePooled(w, fixtureRaster(width, height, seed))
  }

  private def writePooled(w: javax.imageio.ImageWriter,
                          img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try { w.setOutput(ios); w.write(img); ios.flush() }
    finally { w.setOutput(null); ios.close() }
    bos.toByteArray
  }

  /** 64-bit difference hash (dHash) over the REAL decoded pixels: the
    * raster is aspect-ignoring reduced to a 9×8 brightness grid by
    * EXACT-INTEGER average pooling — cell (cx, cy) averages the pixel
    * box [cx·w/9, (cx+1)·w/9) × [cy·h/8, (cy+1)·h/8) (floor division,
    * boxes forced non-empty) — and each bit records whether a cell is
    * darker than its right neighbor: the standard perceptual
    * fingerprint for image near-dup detection (identical images hash
    * identically; a small local edit flips only the bits whose
    * comparison windows it touches). Hand-rolled pooling, NOT
    * Graphics2D `drawImage` scaling, because the latter's resample
    * kernel is implementation-defined — a JDK upgrade could legally
    * shift every fingerprint and flip the gated no-near-collision
    * property of the fixtures; this arithmetic depends only on the
    * decoded pixel values. Returns None for undecodable payloads.
    */
  def dHash64(c: Array[Byte]): Option[Long] = {
    val img = readImage(if (c == null) Array.emptyByteArray else c)
    if (img == null) return None
    val (w, h) = (img.getWidth, img.getHeight)
    // lum(cx, cy) = sum(r+g+b over box) / (3 * |box|), exact integers.
    // cx·w/9 < w always, so forcing x1 >= x0+1 never exceeds w (and a
    // source narrower than the grid just repeats cells — forced-equal
    // neighbors compare as 0 bits, same as any tiny-image fingerprint).
    // Pixels stream row-at-a-time through ONE bulk getRGB per row (same
    // default-sRGB conversion as the scalar call, so fingerprints are
    // unchanged): per-pixel getRGB pays a ColorModel dispatch per call —
    // ~8M calls on a 4K frame — on the decode hot path. Cell y-ranges
    // may overlap when h < 8 (the forced-non-empty rule), so each row
    // adds its per-column sums to EVERY cell row covering it.
    val xr = Array.tabulate(9) { cx =>
      val x0 = cx * w / 9; (x0, math.max(x0 + 1, (cx + 1) * w / 9))
    }
    val yr = Array.tabulate(8) { cy =>
      val y0 = cy * h / 8; (y0, math.max(y0 + 1, (cy + 1) * h / 8))
    }
    val sums = new Array[Long](8 * 9)
    val row = new Array[Int](w)
    val colSum = new Array[Long](9)
    var sy = 0
    while (sy < h) {
      img.getRGB(0, sy, w, 1, row, 0, w)
      var cx = 0
      while (cx < 9) {
        var s = 0L
        var x = xr(cx)._1
        while (x < xr(cx)._2) {
          val p = row(x)
          s += (p >> 16 & 0xff) + (p >> 8 & 0xff) + (p & 0xff)
          x += 1
        }
        colSum(cx) = s
        cx += 1
      }
      var cy = 0
      while (cy < 8) {
        if (sy >= yr(cy)._1 && sy < yr(cy)._2) {
          var k = 0
          while (k < 9) { sums(cy * 9 + k) += colSum(k); k += 1 }
        }
        cy += 1
      }
      sy += 1
    }
    val lum = new Array[Int](8 * 9)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        lum(cy * 9 + cx) = (sums(cy * 9 + cx) /
          (3L * (xr(cx)._2 - xr(cx)._1) * (yr(cy)._2 - yr(cy)._1))).toInt
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        bits = (bits << 1) |
          (if (lum(y * 9 + x) < lum(y * 9 + x + 1)) 1L else 0L)
        x += 1
      }
      y += 1
    }
    Some(bits)
  }

  /** The dHash-64 cell arithmetic over an abstract pixel accessor —
    * what lets [[dHashRot64]] hash the four quarter-turn orientations
    * of ONE decoded grid without re-encoding or Graphics2D (exact
    * integer pooling, the same JDK-upgrade-proof discipline).
    * DELIBERATELY a second copy of [[dHash64]]'s cell formulas, not a
    * refactor: dHash64 streams rows through one bulk getRGB per row on
    * the decode hot path, and routing it through a per-pixel accessor
    * would re-add the ColorModel-dispatch cost its comment documents
    * removing. The two copies are pinned bit-identical across several
    * grid shapes in MultimodalDecodeSpec (orientation-0 equality law);
    * change one, the pin fails. `at(x, y)` returns the packed RGB.
    */
  private def dHashGrid(w: Int, h: Int, at: (Int, Int) => Int): Long = {
    val xr = Array.tabulate(9) { cx =>
      val x0 = cx * w / 9; (x0, math.max(x0 + 1, (cx + 1) * w / 9))
    }
    val yr = Array.tabulate(8) { cy =>
      val y0 = cy * h / 8; (y0, math.max(y0 + 1, (cy + 1) * h / 8))
    }
    val lum = new Array[Int](8 * 9)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        var s = 0L
        var y = yr(cy)._1
        while (y < yr(cy)._2) {
          var x = xr(cx)._1
          while (x < xr(cx)._2) {
            val p = at(x, y)
            s += (p >> 16 & 0xff) + (p >> 8 & 0xff) + (p & 0xff)
            x += 1
          }
          y += 1
        }
        lum(cy * 9 + cx) = (s / (3L * (xr(cx)._2 - xr(cx)._1) *
          (yr(cy)._2 - yr(cy)._1))).toInt
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        bits = (bits << 1) |
          (if (lum(y * 9 + x) < lum(y * 9 + x + 1)) 1L else 0L)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Rotation-invariant perceptual hash: the MINIMUM dHash-64 over the
    * four quarter-turn orientations of the decoded pixels. The four
    * rotations form a closed group, so every quarter-turn copy of an
    * image produces the SAME canonical value no matter which
    * orientation was stored — the screen that catches the
    * rotated-re-upload duplicate a plain [[dHash64]] misses (its 8×9
    * grid is orientation-sensitive by construction). Rotations are
    * index arithmetic over one decoded grid (no second decode, no
    * Graphics2D transform); the grid is w·h ints, the decode's own
    * raster size, held only for the row's hash.
    */
  def dHashRot64(c: Array[Byte]): Option[Long] = {
    val img = readImage(if (c == null) Array.emptyByteArray else c)
    if (img == null) return None
    val (w, h) = (img.getWidth, img.getHeight)
    val g = img.getRGB(0, 0, w, h, null, 0, w)
    val h0 = dHashGrid(w, h, (x, y) => g(y * w + x))
    // 90 cw: dst(x', y') over h×w reads src(y', h-1-x')
    val h1 = dHashGrid(h, w, (x, y) => g((h - 1 - x) * w + y))
    // 180: dst(x', y') reads src(w-1-x', h-1-y')
    val h2 = dHashGrid(w, h, (x, y) => g((h - 1 - y) * w + (w - 1 - x)))
    // 270 cw: dst(x', y') over h×w reads src(w-1-y', x')
    val h3 = dHashGrid(h, w, (x, y) => g(x * w + (w - 1 - y)))
    Some(math.min(math.min(h0, h1), math.min(h2, h3)))
  }

  /** Rotation-invariant hash of a payload Dataset (the [[phash]]
    * harness shape; ok=false rows carry hash 0).
    */
  def phashRot(payloads: Dataset[MediaIn]): Dataset[MediaHash] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { in =>
        dHashRot64(in.content) match {
          case Some(v) => MediaHash(in.doc_id, v, ok = true)
          case None    => MediaHash(in.doc_id, 0L, ok = false)
        }
      }
    }
  }

  /** Encode the deterministic fixture raster rotated by `turns`
    * quarter-turns clockwise — the fixture writer for the
    * rotation-invariant dedup gate: the same (width, height, seed)
    * pixel FIELD stored in four orientations, as genuinely different
    * PNG bytes with swapped dims on odd turns.
    */
  def encodePngRotated(width: Int, height: Int, seed: Long,
                       turns: Int): Array[Byte] = {
    require(turns >= 0 && turns <= 3, "encodePngRotated: turns in [0, 3]")
    var img = fixtureRaster(width, height, seed)
    var t = 0
    while (t < turns) {
      val (w, h) = (img.getWidth, img.getHeight)
      val rot = new java.awt.image.BufferedImage(
        h, w, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < w) {
        var x = 0
        while (x < h) {
          // 90 cw: dst(x', y') = src(y', srcH-1-x')
          rot.setRGB(x, y, img.getRGB(y, h - 1 - x))
          x += 1
        }
        y += 1
      }
      img = rot
      t += 1
    }
    writePng(img)
  }

  /** ORIENTATION-APPLIED perceptual hash: read the EXIF Orientation
    * tag riding the payload (PNG `eXIf` chunk — the PNG-native carrier
    * of the same TIFF/IFD0 structure JPEG APP1 carries, walked with
    * the same [[tiffIfd0]] parser and a verified CRC32), then hash the
    * DISPLAY pixels: the decoded grid read through the orientation's
    * index transform — one decode, no second raster, the
    * [[dHashRot64]] arithmetic discipline extended to the full
    * 8-element dihedral group (flips and transposes included, because
    * the tag TELLS us the transform; no canonical fold needed). An
    * image stored rotated/flipped-with-metadata fingerprints
    * identically to its upright copy — the duplicate a plain
    * [[dHash64]] (and even the rotation FOLD, for flip orientations)
    * misses. A payload with no eXIf chunk is upright by definition
    * (orientation 1); a payload with a MALFORMED chunk (bad CRC, bad
    * TIFF, truncated walk) fails loudly, never "assume upright" — a
    * pipeline that guessed would silently split duplicate classes.
    *
    * Display coordinates (x, y) read stored pixel (col, row) with
    * (w, h) the STORED dims — the EXIF orientation table:
    *   1 → (x, y)              2 → (w-1-x, y)        [flip H]
    *   3 → (w-1-x, h-1-y)      4 → (x, h-1-y)        [flip V]
    *   5 → (y, x)  [transpose] 6 → (y, h-1-x)        [90° CW]
    *   7 → (w-1-y, h-1-x)      8 → (w-1-y, x)        [90° CCW]
    * (display dims swap to (h, w) for 5–8). The fixture writer
    * [[encodePngOriented]] inverts the same table, and the gate proves
    * the round trip per orientation.
    */
  def dHashOriented64(c: Array[Byte]): Option[(Int, Long)] = {
    val cc = if (c == null) Array.emptyByteArray else c
    val o = pngExifOrientation(cc) match {
      case Some(v) => v
      case None    => return None
    }
    val img = readImage(cc)
    if (img == null) return None
    val (w, h) = (img.getWidth, img.getHeight)
    val g = img.getRGB(0, 0, w, h, null, 0, w)
    val hash = o match {
      case 1 => dHashGrid(w, h, (x, y) => g(y * w + x))
      case 2 => dHashGrid(w, h, (x, y) => g(y * w + (w - 1 - x)))
      case 3 => dHashGrid(w, h, (x, y) => g((h - 1 - y) * w + (w - 1 - x)))
      case 4 => dHashGrid(w, h, (x, y) => g((h - 1 - y) * w + x))
      case 5 => dHashGrid(h, w, (x, y) => g(x * w + y))
      case 6 => dHashGrid(h, w, (x, y) => g((h - 1 - x) * w + y))
      case 7 => dHashGrid(h, w, (x, y) => g((h - 1 - x) * w + (w - 1 - y)))
      case _ => dHashGrid(h, w, (x, y) => g(x * w + (w - 1 - y)))
    }
    Some((o, hash))
  }

  /** Orientation-applied hash of a payload Dataset (the [[phash]]
    * harness shape; ok=false rows carry hash 0 / orientation 0).
    */
  def phashOriented(payloads: Dataset[MediaIn]): Dataset[OrientHash] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { in =>
        dHashOriented64(in.content) match {
          case Some((o, v)) => OrientHash(in.doc_id, o, v, ok = true)
          case None         => OrientHash(in.doc_id, 0, 0L, ok = false)
        }
      }
    }
  }

  /** PNG chunk walk to the Orientation tag: verify the 8-byte
    * signature, hop length-prefixed chunks, and on `eXIf` verify the
    * CRC32 (over type+data, per spec) before handing the body to
    * [[tiffIfd0]]. A PNG with no eXIf chunk is orientation 1 (upright
    * is the absence default the EXIF spec itself names); any
    * structural fault — bad signature, truncated chunk, CRC mismatch,
    * bad TIFF — is None.
    */
  private def pngExifOrientation(c: Array[Byte]): Option[Int] = {
    if (c.length < 8 || (c(0) & 0xff) != 0x89 || c(1) != 'P' ||
        c(2) != 'N' || c(3) != 'G' || c(4) != 0x0d || c(5) != 0x0a ||
        c(6) != 0x1a || c(7) != 0x0a) return None
    def be32(p: Int): Long =
      ((c(p) & 0xffL) << 24) | ((c(p + 1) & 0xffL) << 16) |
        ((c(p + 2) & 0xffL) << 8) | (c(p + 3) & 0xffL)
    var off = 8
    while (off + 8 <= c.length) {
      val len = be32(off)
      if (len > Int.MaxValue - 12 || off + 12 + len > c.length) return None
      val typ = new String(c, off + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      if (typ == "eXIf") {
        val crc = new java.util.zip.CRC32
        crc.update(c, off + 4, 4 + len.toInt)
        if (crc.getValue != be32(off + 8 + len.toInt)) return None
        return tiffIfd0(c, off + 8, off + 8 + len.toInt).map(_._2)
      }
      if (typ == "IEND") return Some(1) // no eXIf chunk: upright
      off += 12 + len.toInt
    }
    None // ran off the end without IEND
  }

  /** Encode the deterministic fixture raster STORED under an EXIF
    * orientation — the fixture writer for the orientation-applied
    * dedup gate: the upright (width × height, seed) pixel field is
    * inverted through the [[dHashOriented64]] orientation table (so
    * DISPLAYING the stored pixels under the tag reproduces the upright
    * field exactly), written as PNG (dims swapped for orientations
    * 5–8), and an `eXIf` chunk carrying the real TIFF/IFD0 structure
    * (big-endian, CRC32'd) is spliced after IHDR. Orientation 1 skips
    * the chunk entirely, pinning the absence-default path.
    */
  def encodePngOriented(width: Int, height: Int, seed: Long,
                        orientation: Int): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8,
      "encodePngOriented: orientation in [1, 8]")
    val up = fixtureRaster(width, height, seed)
    val swap = orientation >= 5
    val (sw, sh) = if (swap) (height, width) else (width, height)
    val stored = new java.awt.image.BufferedImage(
      sw, sh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        // stored (col, row) that display (x, y) reads — the same table
        // as the hash accessor, with (w, h) = stored dims
        val (cx, cy) = orientation match {
          case 1 => (x, y)
          case 2 => (sw - 1 - x, y)
          case 3 => (sw - 1 - x, sh - 1 - y)
          case 4 => (x, sh - 1 - y)
          case 5 => (y, x)
          case 6 => (y, sh - 1 - x)
          case 7 => (sw - 1 - y, sh - 1 - x)
          case _ => (sw - 1 - y, x)
        }
        stored.setRGB(cx, cy, up.getRGB(x, y))
        x += 1
      }
      y += 1
    }
    val png = writePng(stored)
    if (orientation == 1) return png
    // splice the eXIf chunk right after IHDR (signature 8 + 25 bytes;
    // ImageIO always emits IHDR first with its fixed 13-byte body)
    require(png.length > 33 && png(12) == 'I' && png(13) == 'H',
      "encodePngOriented: unexpected PNG layout")
    val tiffLen = 8 + 2 + 3 * 12 + 4
    val chunk = new Array[Byte](12 + tiffLen)
    def wbe32(p: Int, v: Long): Unit = {
      chunk(p) = ((v >> 24) & 0xff).toByte
      chunk(p + 1) = ((v >> 16) & 0xff).toByte
      chunk(p + 2) = ((v >> 8) & 0xff).toByte
      chunk(p + 3) = (v & 0xff).toByte
    }
    wbe32(0, tiffLen.toLong)
    chunk(4) = 'e'; chunk(5) = 'X'; chunk(6) = 'I'; chunk(7) = 'f'
    var p = 8
    def w8(v: Int): Unit = { chunk(p) = v.toByte; p += 1 }
    def e16(v: Int): Unit = { w8((v >> 8) & 0xff); w8(v & 0xff) }
    def e32(v: Long): Unit = {
      w8(((v >> 24) & 0xff).toInt); w8(((v >> 16) & 0xff).toInt)
      w8(((v >> 8) & 0xff).toInt); w8((v & 0xff).toInt)
    }
    w8(0x4d); w8(0x4d) // big-endian TIFF
    e16(42); e32(8L)
    e16(3)
    def entry(tag: Int, typ: Int, v: Long): Unit = {
      e16(tag); e16(typ); e32(1L)
      if (typ == 3) { e16(v.toInt); e16(0) } else e32(v)
    }
    entry(0x0100, 4, sw.toLong)
    entry(0x0101, 4, sh.toLong)
    entry(0x0112, 3, orientation.toLong)
    e32(0L)
    val crc = new java.util.zip.CRC32
    crc.update(chunk, 4, 4 + tiffLen)
    wbe32(8 + tiffLen, crc.getValue)
    val out = new Array[Byte](png.length + chunk.length)
    System.arraycopy(png, 0, out, 0, 33)
    System.arraycopy(chunk, 0, out, 33, chunk.length)
    System.arraycopy(png, 33, out, 33 + chunk.length, png.length - 33)
    out
  }

  /** Perceptual-hash a payload Dataset partition-at-a-time. */
  def phash(payloads: Dataset[MediaIn]): Dataset[MediaHash] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map { in =>
      dHash64(in.content) match {
        case Some(h) => MediaHash(in.doc_id, h, ok = true)
        case None    => MediaHash(in.doc_id, 0L, ok = false)
      }
    })
  }

  /** Convenience: DataFrame in (doc_id, content, mime), metadata out. */
  def decodeDF(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    decode(df.as[MediaIn]).toDF()
  }

  /** Per-payload byte histogram features — REAL byte work (not a stub):
    * 16 bins over `byte & 0xff mod 16`, the stand-in position where an
    * image pipeline runs its embedding/feature model. Same partition-at-
    * a-time shape as [[decode]] (a real model would load weights once per
    * partition here); output is tall (doc_id, bin, cnt) with all 16 bins
    * present per doc — fixed-arity rows keep the result oracle-comparable
    * (array cells are unsortable in the driver's pandas comparator).
    */
  def features(payloads: Dataset[MediaIn]): Dataset[MediaFeat] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { rows =>
      rows.flatMap { in =>
        // a NULL payload (corrupt feed row) yields no features — absent
        // rows are the loud signal; a real pipeline joins back against
        // the manifest to count them
        if (in.content == null) Iterator.empty
        else {
          val hist = new Array[Long](16)
          var i = 0
          while (i < in.content.length) {
            hist((in.content(i) & 0xff) % 16) += 1; i += 1
          }
          (0 until 16).iterator.map(b => MediaFeat(in.doc_id, b, hist(b)))
        }
      }
    }
  }

  def featuresDF(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    features(df.as[MediaIn]).toDF()
  }

  /** REAL pixel resample: decode the image, aspect-fit it into a
    * `box`×`box` target with the same exact-integer ppm arithmetic the
    * planning query uses (scale_ppm = min(1e6, box·1e6 div max(w, h)),
    * downscale only), draw through Graphics2D onto a fresh raster,
    * re-encode as PNG, and DECODE THE RESULT AGAIN — the reported
    * out_w/out_h come from the re-decoded output bytes, so the gate
    * proves the whole decode→resample→encode→decode chain, not just the
    * arithmetic. Undecodable input → ok=false, zero dims, empty output.
    */
  def resampleOne(in: MediaIn, box: Int): MediaResample = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val img = readImage(c)
    if (img == null)
      return MediaResample(in.doc_id, 0, 0, 0, 0, 0L, ok = false)
    val (w, h) = (img.getWidth, img.getHeight)
    val scalePpm = math.min(1000000L, box * 1000000L / math.max(w, h))
    val nw = math.max(1L, w * scalePpm / 1000000L).toInt
    val nh = math.max(1L, h * scalePpm / 1000000L).toInt
    val out = new java.awt.image.BufferedImage(
      nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try g.drawImage(img, 0, 0, nw, nh, null)
    finally g.dispose()
    val bytes = writePng(out)
    val back = readImage(bytes)
    // the re-decode of our own fresh PNG "cannot" fail, but if it ever
    // does (codec bug, OOM-truncated buffer) the row reports ok=false
    // like every other corrupt payload — never a thrown partition
    if (back == null)
      MediaResample(in.doc_id, w, h, 0, 0, 0L, ok = false)
    else
      MediaResample(in.doc_id, w, h, back.getWidth, back.getHeight,
        bytes.length.toLong, ok = true)
  }

  /** Resample a payload Dataset partition-at-a-time (the [[decode]]
    * harness shape; a real pipeline would also carry the output bytes —
    * here only their size is kept so the result stays oracle-sortable).
    */
  def resample(payloads: Dataset[MediaIn], box: Int): Dataset[MediaResample] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map(resampleOne(_, box))
    }
  }

  /** REAL audio decode: `javax.sound.sampled` ships with the JDK, so
    * WAV payloads yield their true sample rate / channel count / frame
    * length from actually parsing the RIFF stream. Undecodable bytes →
    * ok=false, zeros — never a thrown partition.
    */
  def decodeAudioOne(in: MediaIn): AudioMeta = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val st =
      audioStream(c)
    if (st == null)
      AudioMeta(in.doc_id, in.mime, c.length.toLong, 0, 0, 0L, ok = false)
    else {
      val f = st.getFormat
      AudioMeta(in.doc_id, in.mime, c.length.toLong,
        f.getSampleRate.toInt, f.getChannels, st.getFrameLength, ok = true)
    }
  }

  def decodeAudio(payloads: Dataset[MediaIn]): Dataset[AudioMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(decodeAudioOne))
  }

  /** REAL audio feature extraction: decode the stream, read the WHOLE
    * PCM body (not just the header), and compute the classic first-pass
    * DSP features in exact integers — frame count, energy as the raw
    * sum of squares, and the zero-crossing count (sign flip between
    * consecutive frames; zero counts as non-negative). Both endiannesses
    * and any channel count are interpreted: a multi-channel stream is
    * downmixed per frame to floorDiv(sum of channel samples, channels)
    * — still exact integer arithmetic, so an oracle that knows the
    * waveform replays bit-for-bit (mono is the identity downmix, so
    * existing mono fixtures are unchanged). Only layouts the code
    * genuinely cannot interpret (non-16-bit samples, undecodable
    * containers) fail loudly with zeros.
    */
  def audioFeaturesOne(in: MediaIn): AudioFeat = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val st =
      audioStream(c)
    if (st == null || st.getFormat.getSampleSizeInBits != 16 ||
        st.getFormat.getChannels < 1)
      return AudioFeat(in.doc_id, 0L, 0L, 0L, ok = false)
    val ch = st.getFormat.getChannels
    val be = st.getFormat.isBigEndian
    val pcm =
      try st.readAllBytes()
      catch { case _: java.io.IOException =>
        return AudioFeat(in.doc_id, 0L, 0L, 0L, ok = false)
      }
    val n = pcm.length / (2 * ch)
    var sumSq = 0L
    var zc = 0L
    var prevNeg = false
    var i = 0
    while (i < n) {
      var sum = 0L
      var k = 0
      while (k < ch) {
        val off = 2 * (i * ch + k)
        val s =
          if (be) ((pcm(off + 1) & 0xff) | (pcm(off) << 8)).toShort.toInt
          else ((pcm(off) & 0xff) | (pcm(off + 1) << 8)).toShort.toInt
        sum += s
        k += 1
      }
      val m = Math.floorDiv(sum, ch.toLong)
      sumSq += m * m
      val neg = m < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      i += 1
    }
    AudioFeat(in.doc_id, n.toLong, sumSq, zc, ok = true)
  }

  def audioFeatures(payloads: Dataset[MediaIn]): Dataset[AudioFeat] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(audioFeaturesOne))
  }

  /** REAL energy-gated voice-activity segmentation — the audio
    * curation stage between the container probe and any GPU-tier ASR:
    * decode the WHOLE PCM body (the [[audioFeaturesOne]] path: 16-bit,
    * both endiannesses, exact-integer per-frame downmix), split it
    * into fixed `windowFrames` windows, a window is ACTIVE iff its
    * exact-integer energy (sum of squared downmixed samples) reaches
    * `minEnergy`, and consecutive active windows merge into one
    * segment — emitted 1→N per payload (the [[parseSrtOne]] generator
    * shape) with integer-floor start/end milliseconds and the window
    * count. An all-silent VALID file emits no rows (nothing to keep —
    * the same convention as a rule-less robots host); an undecodable
    * or non-16-bit payload emits ONE loud ok=false row. The trailing
    * partial window is a real window (its energy gates it like any
    * other); end_ms clamps to the true frame count, never the window
    * grid.
    */
  def vadSegmentsOne(in: MediaIn, windowFrames: Int,
                     minEnergy: Long): Seq[VadSeg] = {
    require(windowFrames >= 1 && minEnergy >= 1,
      "vadSegments: windowFrames >= 1, minEnergy >= 1")
    val bad = Seq(VadSeg(in.doc_id, 0L, 0L, 0L, 0L, ok = false))
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val st =
      audioStream(c)
    if (st == null || st.getFormat.getSampleSizeInBits != 16 ||
        st.getFormat.getChannels < 1) return bad
    val ch = st.getFormat.getChannels
    val be = st.getFormat.isBigEndian
    val rate = st.getFormat.getSampleRate.toLong
    if (rate <= 0) return bad
    val pcm =
      try st.readAllBytes()
      catch { case _: java.io.IOException => return bad }
    val n = pcm.length / (2 * ch)
    val out = scala.collection.mutable.ArrayBuffer.empty[VadSeg]
    var segStartW = -1L
    var segWindows = 0L
    var idx = 0L
    def close(endWExcl: Long): Unit = if (segStartW >= 0) {
      idx += 1
      val endFrame = math.min(n.toLong, endWExcl * windowFrames)
      out += VadSeg(in.doc_id, idx,
        segStartW * windowFrames * 1000L / rate,
        endFrame * 1000L / rate, segWindows, ok = true)
      segStartW = -1L
      segWindows = 0L
    }
    val nWindows = (n + windowFrames - 1) / windowFrames
    var w = 0
    while (w < nWindows) {
      var energy = 0L
      var i = w * windowFrames
      val end = math.min(n, (w + 1) * windowFrames)
      while (i < end) {
        var sum = 0L
        var k = 0
        while (k < ch) {
          val off = 2 * (i * ch + k)
          val s =
            if (be) ((pcm(off + 1) & 0xff) | (pcm(off) << 8)).toShort.toInt
            else ((pcm(off) & 0xff) | (pcm(off + 1) << 8)).toShort.toInt
          sum += s
          k += 1
        }
        val m = Math.floorDiv(sum, ch.toLong)
        energy += m * m
        i += 1
      }
      if (energy >= minEnergy) {
        if (segStartW < 0) segStartW = w.toLong
        segWindows += 1
      } else close(w.toLong)
      w += 1
    }
    close(nWindows.toLong)
    out.toSeq
  }

  def vadSegments(payloads: Dataset[MediaIn], windowFrames: Int = 160,
                  minEnergy: Long = 1L): Dataset[VadSeg] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.flatMap(
      vadSegmentsOne(_, windowFrames, minEnergy)))
  }

  /** Encode a deterministic speech-shaped WAV — the fixture writer for
    * the VAD gate: window w (of `windowFrames` frames) is SILENT (all
    * zero samples) iff (seed + 3·w) mod 11 < 4, giving varied active
    * run lengths (2/3/2 per 11-window period — 3 generates the whole
    * residue ring); active frames carry the standard sample formula
    * forced odd (|1), so an active window's energy is provably ≥ 1 and
    * the oracle can predict activity arithmetically without
    * regenerating a single sample.
    */
  def encodeWavVad(frames: Int, seed: Long, sampleRate: Int = 8000,
                   windowFrames: Int = 160): Array[Byte] = {
    require(frames >= 0 && windowFrames >= 1,
      "encodeWavVad: frames >= 0, windowFrames >= 1")
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val w = i / windowFrames
      val silent = Math.floorMod(seed + 3L * w, 11L) < 4L
      val s =
        if (silent) 0.toShort
        else (((seed * 31L + i * 2654435761L) & 0xffffL) | 1L).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val st = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    writeAudio(st, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Encode deterministic 16-bit PCM as real WAV bytes — the fixture
    * generator for the audio-decode path. Interleaved sample slot
    * j = frame * channels + channel is a pure function of (seed, j), so
    * the same (frames, seed, channels) always gives the same RIFF
    * payload; mono keeps the original one-slot-per-frame layout
    * bit-for-bit. WAV is little-endian by spec — the big-endian fixture
    * is [[encodeAiff]].
    */
  def encodeWav(frames: Int, seed: Long, sampleRate: Int = 8000,
                channels: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    writeAudio(pcmStream(frames, seed, sampleRate, channels, bigEndian = false),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Encode the SAME deterministic sample stream as real AIFF bytes —
    * AIFF carries big-endian 16-bit PCM by spec, so this is the genuine
    * big-endian fixture for the audio path (a "big-endian WAV" would be
    * an out-of-spec file no real reader produces). Sample values match
    * [[encodeWav]] exactly for equal (frames, seed, channels).
    */
  def encodeAiff(frames: Int, seed: Long, sampleRate: Int = 8000,
                 channels: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    writeAudio(pcmStream(frames, seed, sampleRate, channels, bigEndian = true),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    bos.toByteArray
  }

  private def pcmStream(frames: Int, seed: Long, sampleRate: Int,
                        channels: Int, bigEndian: Boolean)
      : javax.sound.sampled.AudioInputStream = {
    require(frames >= 0 && channels >= 1, "pcmStream: frames >= 0, channels >= 1")
    val slots = frames * channels
    val pcm = new Array[Byte](slots * 2)
    var j = 0
    while (j < slots) {
      val s = ((seed * 31L + j * 2654435761L) & 0xffffL).toShort
      if (bigEndian) {
        pcm(2 * j) = ((s >> 8) & 0xff).toByte
        pcm(2 * j + 1) = (s & 0xff).toByte
      } else {
        pcm(2 * j) = (s & 0xff).toByte
        pcm(2 * j + 1) = ((s >> 8) & 0xff).toByte
      }
      j += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16,
      channels, true, bigEndian)
    new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
  }

  // ------------------------------------------------------------ audio (MP3)

  /** MPEG-1 Layer III bitrate table, kbps by header index 1..14 (0 is
    * "free format", 15 is forbidden — both rejected as malformed).
    */
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample rates by header index 0..2 (3 is reserved). */
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** REAL MP3/MPEG audio probe — the audio analog of the MP4 box walk:
    * no JDK codec exists, but the MPEG frame header is a pure byte
    * layout, so frame count, bitrate, sample rate and duration come
    * from an actual frame-by-frame walk over the payload. Handles the
    * common real-file shape: an optional ID3v2 tag (10-byte header +
    * synchsafe 28-bit size) is skipped, then MPEG-1 Layer III frames
    * are walked strictly — frame length floor(144000·kbps/rate) +
    * padding, duration = frames·1152/rate. ANY malformation — bad
    * sync, reserved version/layer/bitrate/rate bits, a truncated final
    * frame, trailing garbage, zero frames — fails loudly (ok=false,
    * zeros), the same dirty-feed contract as every other codec path.
    * Bitrate is the FIRST frame's (the CBR readout; a VBR stream still
    * walks correctly because each frame's length uses its own header).
    */
  def probeMp3One(in: MediaIn): Mp3Meta = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val bad = Mp3Meta(in.doc_id, in.mime, c.length.toLong, 0L, 0, 0, 0L,
      ok = false)
    var off = 0
    // optional ID3v2 prefix: 'ID3', 2 version bytes, 1 flag byte, then
    // a 4-byte synchsafe (7 bits per byte) tag size
    if (c.length >= 10 && c(0) == 'I' && c(1) == 'D' && c(2) == '3') {
      if ((c(6) | c(7) | c(8) | c(9)) < 0) return bad // synchsafe: high bit clear
      val size = ((c(6) & 0x7f) << 21) | ((c(7) & 0x7f) << 14) |
        ((c(8) & 0x7f) << 7) | (c(9) & 0x7f)
      off = 10 + size
      if (off > c.length) return bad
    }
    var frames = 0L
    var kbps0 = 0
    var rate0 = 0
    while (off < c.length) {
      if (off + 4 > c.length) return bad // truncated header
      val b1 = c(off) & 0xff
      val b2 = c(off + 1) & 0xff
      val b3 = c(off + 2) & 0xff
      // sync (11 set bits) + MPEG-1 (version bits 11) + Layer III
      // (layer bits 01): 0xFF Ex/Fx with (b2 & 0x1e) == 0x1a
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return bad
      if ((b2 & 0x18) != 0x18 || (b2 & 0x06) != 0x02) return bad
      val bi = (b3 >> 4) & 0xf
      val ri = (b3 >> 2) & 0x3
      val pad = (b3 >> 1) & 0x1
      if (bi == 0 || bi == 15 || ri == 3) return bad
      val kbps = Mp3Bitrates(bi)
      val rate = Mp3Rates(ri)
      if (frames == 0L) { kbps0 = kbps; rate0 = rate }
      val flen = 144000 * kbps / rate + pad
      if (off + flen > c.length) return bad // truncated final frame
      frames += 1L
      off += flen
    }
    if (frames == 0L) bad
    else Mp3Meta(in.doc_id, in.mime, c.length.toLong, frames, kbps0,
      rate0, frames * 1152L * 1000L / rate0, ok = true)
  }

  def probeMp3(payloads: Dataset[MediaIn]): Dataset[Mp3Meta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(probeMp3One))
  }

  /** Encode a deterministic MPEG-1 Layer III frame stream — the fixture
    * writer for the MP3 probe (no JDK MP3 encoder exists, but the frame
    * LAYOUT is pure bytes: real headers, deterministic filler bodies).
    * `withId3` prepends a real ID3v2 tag with a synchsafe size. Frame
    * body byte j of frame f is a pure function of (seed, f, j).
    */
  def encodeMp3(frames: Int, bitrateIdx: Int, rateIdx: Int, seed: Long,
                withId3: Boolean = false): Array[Byte] = {
    require(frames >= 1 && bitrateIdx >= 1 && bitrateIdx <= 14 &&
      rateIdx >= 0 && rateIdx <= 2, "encodeMp3: invalid fixture fields")
    val kbps = Mp3Bitrates(bitrateIdx)
    val rate = Mp3Rates(rateIdx)
    val flen = 144000 * kbps / rate
    // exact-size array, not a ByteArrayOutputStream: the stream's
    // per-byte write() is synchronized and its doubling growth recopies
    // the payload — at the 10x rehearsal this writer generates ~1 GB of
    // fixture bytes and was the suite's one superlinear query (17.5x
    // raw) until the direct array writes (byte-identical output)
    val tagLen = if (withId3) 32 else 0
    val out = new Array[Byte](tagLen + frames * flen)
    if (withId3) {
      val tagBody = 22
      out(0) = 'I'; out(1) = 'D'; out(2) = '3'
      out(3) = 3; out(4) = 0; out(5) = 0 // v2.3, no flags
      out(6) = 0; out(7) = 0; out(8) = (tagBody >> 7).toByte
      out(9) = (tagBody & 0x7f).toByte
      var j = 0
      while (j < tagBody) {
        out(10 + j) = ((seed + j) % 251).toByte; j += 1
      }
    }
    var f = 0
    while (f < frames) {
      val base = tagLen + f * flen
      out(base) = 0xff.toByte
      out(base + 1) = 0xfb.toByte // sync + MPEG-1 + Layer III
      out(base + 2) = ((bitrateIdx << 4) | (rateIdx << 2)).toByte // no pad
      out(base + 3) = 0
      var j = 4
      while (j < flen) {
        out(base + j) = (seed * 31 + f * 131 + j * 2654435761L).toByte
        j += 1
      }
      f += 1
    }
    out
  }

  // ------------------------------------------------------------ audio (FLAC)

  /** REAL FLAC container probe — the lossless-audio member of the
    * container family (WAV/AIFF decode, MP3 frame walk, MP4 box walk):
    * 'fLaC' magic, then the metadata-block chain is walked (1-byte
    * last-flag+type header, 3-byte big-endian length per block) to the
    * mandatory STREAMINFO block, whose packed bit layout — sample rate
    * 20 bits, channels−1 3 bits, bits-per-sample−1 5 bits, total
    * samples 36 bits — is decoded with exact shifts; the first audio
    * frame after the chain must carry the 14-bit FLAC frame sync
    * (0xFF 0xF8..0xFB) or the payload is rejected. duration_ms is the
    * integer floor of total·1000/rate, replayable by any oracle. ANY
    * malformation — bad magic, truncated block, missing or non-FIRST
    * STREAMINFO (the spec pins its position), zero rate, absent frame
    * sync — fails loudly (ok=false, zeros), the dirty-feed contract of
    * every codec path here.
    */
  def probeFlacOne(in: MediaIn): FlacMeta = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val bad = FlacMeta(in.doc_id, in.mime, c.length.toLong, 0, 0, 0, 0L,
      0L, ok = false)
    if (c.length < 4 || c(0) != 'f' || c(1) != 'L' || c(2) != 'a' ||
        c(3) != 'C') return bad
    var off = 4
    var last = false
    var rate = 0
    var channels = 0
    var bps = 0
    var total = 0L
    var sawInfo = false
    while (!last) {
      if (off + 4 > c.length) return bad // truncated block header
      val h = c(off) & 0xff
      last = (h & 0x80) != 0
      val btype = h & 0x7f
      if (btype == 127) return bad // forbidden block type
      val blen = ((c(off + 1) & 0xff) << 16) | ((c(off + 2) & 0xff) << 8) |
        (c(off + 3) & 0xff)
      if (off + 4 + blen > c.length) return bad // truncated block body
      // the spec requires STREAMINFO as the FIRST metadata block —
      // any other position (or a first block of another type) is a
      // malformation and fails loudly like every other one here
      if ((off == 4) != (btype == 0)) return bad
      if (btype == 0) {
        // STREAMINFO is exactly 34 bytes; the packed 64-bit field
        // starts at body offset 10 (after the 16/16-bit block sizes and
        // 24/24-bit frame sizes)
        if (blen != 34 || sawInfo) return bad
        val b = off + 4
        rate = ((c(b + 10) & 0xff) << 12) | ((c(b + 11) & 0xff) << 4) |
          ((c(b + 12) & 0xff) >> 4)
        channels = ((c(b + 12) >> 1) & 0x7) + 1
        bps = (((c(b + 12) & 0x1) << 4) | ((c(b + 13) & 0xff) >> 4)) + 1
        total = ((c(b + 13) & 0xfL) << 32) | ((c(b + 14) & 0xffL) << 24) |
          ((c(b + 15) & 0xffL) << 16) | ((c(b + 16) & 0xffL) << 8) |
          (c(b + 17) & 0xffL)
        sawInfo = true
      }
      off += 4 + blen
    }
    if (!sawInfo || rate <= 0) return bad
    // the chain must be followed by at least one audio frame whose
    // header carries the FLAC frame sync code (11111111 111110xx)
    if (off + 2 > c.length || (c(off) & 0xff) != 0xff ||
        (c(off + 1) & 0xfc) != 0xf8) return bad
    FlacMeta(in.doc_id, in.mime, c.length.toLong, rate, channels, bps,
      total, total * 1000L / rate, ok = true)
  }

  def probeFlac(payloads: Dataset[MediaIn]): Dataset[FlacMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(probeFlacOne))
  }

  /** Encode a deterministic FLAC container — the fixture writer for the
    * FLAC probe (no JDK FLAC codec exists, but the metadata layout is
    * pure bytes: real magic, real STREAMINFO bit packing, real block
    * chain). `withPadding` appends a PADDING block AFTER STREAMINFO —
    * the spec requires STREAMINFO to be the first metadata block — so
    * the probe's chain walk is exercised on multi-block files. The
    * body is a deterministic pseudo-frame starting with the genuine
    * 14-bit frame sync; body byte j is a pure function of (seed, j).
    */
  def encodeFlac(sampleRate: Int, channels: Int, bitsPerSample: Int,
                 totalSamples: Long, seed: Long, bodyLen: Int,
                 withPadding: Boolean = false): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20) &&
      channels >= 1 && channels <= 8 &&
      bitsPerSample >= 4 && bitsPerSample <= 32 &&
      totalSamples >= 0 && totalSamples < (1L << 36) && bodyLen >= 2,
      "encodeFlac: invalid fixture fields")
    val padLen = 16
    val size = 4 + (4 + 34) + (if (withPadding) 4 + padLen else 0) + bodyLen
    val out = new Array[Byte](size)
    out(0) = 'f'; out(1) = 'L'; out(2) = 'a'; out(3) = 'C'
    val off = 4
    // STREAMINFO is the FIRST metadata block — the spec mandates its
    // position, and the probe rejects any other ordering; it is the
    // last block only when no PADDING follows
    out(off) = (if (withPadding) 0 else 0x80).toByte
    out(off + 1) = 0; out(off + 2) = 0; out(off + 3) = 34
    val b = off + 4
    // min/max block size 4096, min/max frame size 0 (unknown — legal)
    out(b) = 0x10; out(b + 1) = 0; out(b + 2) = 0x10; out(b + 3) = 0
    val rate20 = sampleRate & 0xfffff
    out(b + 10) = (rate20 >> 12).toByte
    out(b + 11) = ((rate20 >> 4) & 0xff).toByte
    out(b + 12) = (((rate20 & 0xf) << 4) | ((channels - 1) << 1) |
      ((bitsPerSample - 1) >> 4)).toByte
    out(b + 13) = ((((bitsPerSample - 1) & 0xf) << 4) |
      ((totalSamples >> 32) & 0xf)).toInt.toByte
    out(b + 14) = ((totalSamples >> 24) & 0xff).toByte
    out(b + 15) = ((totalSamples >> 16) & 0xff).toByte
    out(b + 16) = ((totalSamples >> 8) & 0xff).toByte
    out(b + 17) = (totalSamples & 0xff).toByte
    // bytes 18..33: the raw-audio md5 slot — deterministic filler
    var j = 18
    while (j < 34) { out(b + j) = ((seed + j) % 251).toByte; j += 1 }
    var after = b + 34
    if (withPadding) {
      // PADDING (type 1) after STREAMINFO, last block, zero body
      out(after) = (0x80 | 1).toByte
      out(after + 1) = 0; out(after + 2) = 0
      out(after + 3) = padLen.toByte
      after += 4 + padLen
    }
    val body = after
    out(body) = 0xff.toByte
    out(body + 1) = 0xf8.toByte // frame sync, blocking strategy 0
    j = 2
    while (j < bodyLen) {
      out(body + j) = (seed * 31 + j * 2654435761L).toByte; j += 1
    }
    out
  }

  // ------------------------------------------------------ EXIF (JPEG APP1)

  /** REAL EXIF metadata parse — the camera-metadata layer of the JPEG
    * tier (orientation is load-bearing: a training pipeline that
    * ignores it feeds sideways images to the model): walk the JPEG
    * marker stream to APP1, verify the `Exif\0\0` signature, read the
    * TIFF header in ITS OWN byte order ('II' little / 'MM' big — both
    * decoded, both gated), then iterate IFD0's 12-byte entries
    * extracting ImageWidth (0x0100), ImageLength (0x0101), Orientation
    * (0x0112) from their inline SHORT/LONG value slots. Unknown
    * markers (JFIF APP0 etc.) are length-skipped like a real reader.
    * ANY malformation — bad SOI, truncated marker, missing APP1/Exif,
    * bad TIFF magic, entry table past the segment — fails loudly
    * (ok=false, zeros).
    */
  def probeExifOne(in: MediaIn): ExifMeta = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val bad = ExifMeta(in.doc_id, "", 0, 0, 0, 0, ok = false)
    if (c.length < 4 || (c(0) & 0xff) != 0xff || (c(1) & 0xff) != 0xd8)
      return bad
    var off = 2
    var app1 = -1
    var app1End = -1
    while (app1 < 0) {
      if (off + 4 > c.length) return bad
      if ((c(off) & 0xff) != 0xff) return bad
      val marker = c(off + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return bad // EOI/SOS: no EXIF
      val len = ((c(off + 2) & 0xff) << 8) | (c(off + 3) & 0xff)
      if (len < 2 || off + 2 + len > c.length) return bad
      if (marker == 0xe1 && len >= 8 &&
          c(off + 4) == 'E' && c(off + 5) == 'x' && c(off + 6) == 'i' &&
          c(off + 7) == 'f' && c(off + 8) == 0 && c(off + 9) == 0) {
        app1 = off + 10 // TIFF header start
        app1End = off + 2 + len
      } else off += 2 + len
    }
    tiffIfd0(c, app1, app1End) match {
      case Some((little, orientation, width, height, n)) =>
        ExifMeta(in.doc_id, if (little) "II" else "MM", orientation,
          width, height, n, ok = true)
      case None => bad
    }
  }

  /** The TIFF header + IFD0 walk shared by the JPEG APP1 probe and the
    * PNG eXIf path: byte-order mark, magic 42, bounded IFD0 offset,
    * inline SHORT/LONG reads of ImageWidth/ImageLength/Orientation.
    * None on any malformation — the caller turns that into its own
    * loud row.
    */
  private def tiffIfd0(c: Array[Byte], tiff: Int, segEnd: Int)
      : Option[(Boolean, Int, Int, Int, Int)] = {
    if (tiff + 8 > segEnd) return None
    val b0 = c(tiff) & 0xff
    val b1 = c(tiff + 1) & 0xff
    val little =
      if (b0 == 0x49 && b1 == 0x49) true
      else if (b0 == 0x4d && b1 == 0x4d) false
      else return None
    def u16(p: Int): Int =
      if (little) (c(p) & 0xff) | ((c(p + 1) & 0xff) << 8)
      else ((c(p) & 0xff) << 8) | (c(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (little) (c(p) & 0xffL) | ((c(p + 1) & 0xffL) << 8) |
        ((c(p + 2) & 0xffL) << 16) | ((c(p + 3) & 0xffL) << 24)
      else ((c(p) & 0xffL) << 24) | ((c(p + 1) & 0xffL) << 16) |
        ((c(p + 2) & 0xffL) << 8) | (c(p + 3) & 0xffL)
    if (u16(tiff + 2) != 42) return None // TIFF magic
    // the IFD0 offset is an unbounded u32 from the payload: lower-bound
    // it too (a crafted 0xF0FFFFFF wraps .toInt negative and would
    // dereference outside the segment — a thrown task, not a loud row)
    val ifd0Off = u32(tiff + 4)
    if (ifd0Off < 8L || tiff + ifd0Off > segEnd - 2) return None
    val ifd0 = tiff + ifd0Off.toInt
    val n = u16(ifd0)
    if (ifd0 + 2 + n * 12 + 4 > segEnd) return None
    var orientation = 0
    var width = 0
    var height = 0
    var i = 0
    while (i < n) {
      val e = ifd0 + 2 + i * 12
      val tag = u16(e)
      val typ = u16(e + 2)
      // inline SHORT (3) reads the first two value bytes; inline
      // LONG (4) reads all four — both in the TIFF byte order
      val v: Long =
        if (typ == 3) u16(e + 8).toLong
        else if (typ == 4) u32(e + 8)
        else -1L
      if (tag == 0x0100 && v >= 0) width = v.toInt
      else if (tag == 0x0101 && v >= 0) height = v.toInt
      else if (tag == 0x0112 && v >= 1 && v <= 8) orientation = v.toInt
      i += 1
    }
    if (orientation == 0 || width == 0 || height == 0) None
    else Some((little, orientation, width, height, n))
  }

  def probeExif(payloads: Dataset[MediaIn]): Dataset[ExifMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(probeExifOne))
  }

  /** Encode a minimal JPEG carrying a real EXIF APP1 segment — the
    * fixture writer for the EXIF probe: SOI, optional JFIF APP0 (so
    * the marker WALK is gated, not a fixed offset), APP1 with
    * `Exif\0\0` + TIFF header in the chosen byte order + IFD0 with
    * ascending-tag entries (ImageWidth LONG, ImageLength LONG,
    * Orientation SHORT, plus ResolutionUnit when `extraEntry`), EOI.
    */
  def encodeExif(width: Int, height: Int, orientation: Int,
                 littleEndian: Boolean, withJfif: Boolean = false,
                 extraEntry: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && orientation >= 1 &&
      orientation <= 8, "encodeExif: invalid fixture fields")
    val n = if (extraEntry) 4 else 3
    val tiffLen = 8 + 2 + n * 12 + 4
    val app1Len = 2 + 6 + tiffLen
    val jfifLen = if (withJfif) 18 else 0
    val out = new Array[Byte](2 + jfifLen + 2 + app1Len + 2)
    var p = 0
    def w8(v: Int): Unit = { out(p) = v.toByte; p += 1 }
    def wbe16(v: Int): Unit = { w8(v >> 8); w8(v & 0xff) }
    out(p) = 0xff.toByte; out(p + 1) = 0xd8.toByte; p += 2 // SOI
    if (withJfif) {
      w8(0xff); w8(0xe0); wbe16(16)
      "JFIF".foreach(ch => w8(ch)); w8(0)
      w8(1); w8(2); w8(0) // version 1.2, aspect units
      wbe16(72); wbe16(72); w8(0); w8(0) // density + no thumbnail
    }
    w8(0xff); w8(0xe1); wbe16(app1Len)
    "Exif".foreach(ch => w8(ch)); w8(0); w8(0)
    val tiff = p
    def e16(v: Int): Unit =
      if (littleEndian) { w8(v & 0xff); w8((v >> 8) & 0xff) }
      else { w8((v >> 8) & 0xff); w8(v & 0xff) }
    def e32(v: Long): Unit =
      if (littleEndian) {
        w8((v & 0xff).toInt); w8(((v >> 8) & 0xff).toInt)
        w8(((v >> 16) & 0xff).toInt); w8(((v >> 24) & 0xff).toInt)
      } else {
        w8(((v >> 24) & 0xff).toInt); w8(((v >> 16) & 0xff).toInt)
        w8(((v >> 8) & 0xff).toInt); w8((v & 0xff).toInt)
      }
    if (littleEndian) { w8(0x49); w8(0x49) } else { w8(0x4d); w8(0x4d) }
    e16(42); e32(8L) // magic + IFD0 offset from TIFF start
    e16(n)
    def entry(tag: Int, typ: Int, v: Long): Unit = {
      e16(tag); e16(typ); e32(1L)
      if (typ == 3) { e16(v.toInt); e16(0) } else e32(v)
    }
    entry(0x0100, 4, width.toLong)
    entry(0x0101, 4, height.toLong)
    entry(0x0112, 3, orientation.toLong)
    if (extraEntry) entry(0x0128, 3, 2L) // ResolutionUnit = inches
    e32(0L) // no next IFD
    require(p - tiff == tiffLen, s"encodeExif: layout ${p - tiff} != $tiffLen")
    w8(0xff); w8(0xd9) // EOI
    out
  }

  // ------------------------------------------------------- subtitles (SRT)

  /** REAL SubRip (SRT) subtitle parse — the aligned-text track next to
    * the audio/video container probes (captions are the text half of a
    * speech or video training pair): cue blocks are split on blank
    * lines and each block must carry a positive integer index line, a
    * strict `HH:MM:SS,mmm --> HH:MM:SS,mmm` timestamp line (2-2-2-3
    * digit fields, exact separators), and at least one text line. One
    * output row per cue (the 1→N generator shape of
    * [[probeVideoTracksOne]]) with exact start/end milliseconds and the
    * text character count (newlines excluded). ANY malformation — bad
    * index, misshaped timestamp, end before start, empty text — yields
    * ONE loud ok=false row for the document, the dirty-feed contract of
    * every parser here.
    */
  def parseSrtOne(in: MediaIn): Seq[SrtCue] = {
    val bad = Seq(SrtCue(in.doc_id, 0L, 0L, 0L, 0L, ok = false))
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val text = new String(c, java.nio.charset.StandardCharsets.UTF_8)
    def ts(s: String): Long = {
      // strict HH:MM:SS,mmm — length, separators and digit positions
      if (s.length != 12 || s(2) != ':' || s(5) != ':' || s(8) != ',')
        return -1L
      var v = 0L
      var i = 0
      while (i < 12) {
        if (i != 2 && i != 5 && i != 8) {
          val d = s(i) - '0'
          if (d < 0 || d > 9) return -1L
        }
        i += 1
      }
      v = s.substring(0, 2).toLong * 3600000L +
        s.substring(3, 5).toLong * 60000L +
        s.substring(6, 8).toLong * 1000L + s.substring(9, 12).toLong
      if (s.substring(3, 5).toLong > 59 || s.substring(6, 8).toLong > 59)
        -1L
      else v
    }
    val blocks = text.split("\r?\n\r?\n").filter(_.trim.nonEmpty)
    if (blocks.isEmpty) return bad
    val out = scala.collection.mutable.ArrayBuffer.empty[SrtCue]
    var k = 0
    while (k < blocks.length) {
      val lines = blocks(k).split("\r?\n")
      if (lines.length < 3) return bad
      val idx =
        try lines(0).trim.toLong
        catch { case _: NumberFormatException => return bad }
      if (idx <= 0) return bad
      val arrow = lines(1).indexOf(" --> ")
      if (arrow < 0) return bad
      val start = ts(lines(1).substring(0, arrow))
      val end = ts(lines(1).substring(arrow + 5))
      if (start < 0 || end < 0 || end < start) return bad
      val body = lines.drop(2)
      if (body.exists(_.isEmpty)) return bad
      out += SrtCue(in.doc_id, idx, start, end,
        body.map(_.length.toLong).sum, ok = true)
      k += 1
    }
    out.toSeq
  }

  def parseSrt(payloads: Dataset[MediaIn]): Dataset[SrtCue] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.flatMap(parseSrtOne))
  }

  /** Render a deterministic SRT document — the fixture writer for the
    * subtitle parser. Cue i (0-based) starts at i·4000 + startJitter
    * ms, runs cueMs + i-independent jitter, indexes 1-based, and
    * carries a text line of computable length (plus a second line on
    * every 3rd cue, so multi-line bodies are exercised).
    */
  def encodeSrt(id: Long, nCues: Int): Array[Byte] = {
    require(nCues >= 1, "encodeSrt: need at least one cue")
    def fmt(ms: Long): String =
      f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:" +
        f"${ms / 1000 % 60}%02d,${ms % 1000}%03d"
    val sb = new StringBuilder
    (0 until nCues).foreach { i =>
      val start = i * 4000L + id % 1000
      val end = start + 1500L + (id % 7) * 250
      sb.append(i + 1).append('\n')
      sb.append(fmt(start)).append(" --> ").append(fmt(end)).append('\n')
      sb.append("x" * (10 + ((id + i * 3) % 25)).toInt).append('\n')
      if (i % 3 == 0) sb.append("yyyyy").append('\n')
      sb.append('\n')
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  // ------------------------------------------------------------ WARC

  /** Strict UTF-8 validity walk over `c[from, until)` — RFC 3629
    * exactly: rejects overlong encodings, UTF-16 surrogate code points
    * (U+D800–U+DFFF), code points past U+10FFFF, bare continuation
    * bytes, and truncated sequences. Used wherever a byte slice must
    * be PROVEN decodable before `new String(..., UTF_8)` — the JDK
    * decoder substitutes U+FFFD silently, which would turn a malformed
    * input into a silently-altered value instead of a loud ok=false.
    */
  private[graft] def isValidUtf8(c: Array[Byte], from: Int,
                                 until: Int): Boolean = {
    var i = from
    while (i < until) {
      val b0 = c(i) & 0xff
      if (b0 < 0x80) i += 1
      else {
        val n = // continuation count and the sequence's min code point
          if (b0 >= 0xc2 && b0 <= 0xdf) 1
          else if (b0 >= 0xe0 && b0 <= 0xef) 2
          else if (b0 >= 0xf0 && b0 <= 0xf4) 3
          else return false // 0x80-0xc1 bare/overlong, 0xf5-0xff out of range
        if (i + n >= until) return false // truncated sequence
        var k = 1
        while (k <= n) {
          if ((c(i + k) & 0xc0) != 0x80) return false
          k += 1
        }
        val cp =
          if (n == 1) ((b0 & 0x1f) << 6) | (c(i + 1) & 0x3f)
          else if (n == 2)
            ((b0 & 0x0f) << 12) | ((c(i + 1) & 0x3f) << 6) | (c(i + 2) & 0x3f)
          else
            ((b0 & 0x07) << 18) | ((c(i + 1) & 0x3f) << 12) |
              ((c(i + 2) & 0x3f) << 6) | (c(i + 3) & 0x3f)
        if (n == 2 && (cp < 0x800 || (cp >= 0xd800 && cp <= 0xdfff)))
          return false // overlong 3-byte or surrogate
        if (n == 3 && (cp < 0x10000 || cp > 0x10ffff))
          return false // overlong 4-byte or past Unicode
        i += n + 1
      }
    }
    true
  }

  /** REAL WARC/1.x record walk — the byte format web crawls actually
    * arrive in (ISO 28500): every crawl-pipeline stage upstream of URL
    * canonicalization/HTML strip starts by splitting a WARC container
    * into records. Strict framing, same discipline as the MP4/FLAC/MP3
    * walks: a `WARC/1.0|1.1` version line, named headers up to the
    * blank CRLF line, a `Content-Length` hop over the exact block
    * bytes, then the mandatory `\r\n\r\n` record terminator; 1→N
    * records per payload (the [[parseSrtOne]] generator shape). Per
    * record: 1-based index, WARC-Type, WARC-Target-URI ('' when absent
    * — warcinfo records legitimately carry none), the exact
    * Content-Length, and the header count. Header names are
    * case-insensitive per spec (matched via one lowercase fold);
    * values are taken verbatim, and may carry UTF-8 — ISO 28500 allows
    * non-ASCII field values (an IRI-ish WARC-Target-URI is a
    * legitimate crawl record), so header lines are UTF-8 validated via
    * [[isValidUtf8]] and decoded, never rejected for a high byte. ANY
    * malformation — bad version line, invalid UTF-8 in a header line,
    * a header line without ': ', a missing/malformed Content-Length or
    * WARC-Type, a block running past the payload, a missing
    * terminator, trailing garbage — yields ONE loud ok=false row for
    * the document, the dirty-feed contract of every parser here.
    */
  def parseWarcOne(in: MediaIn): Seq[WarcRec] = {
    val bad = Seq(WarcRec(in.doc_id, 0L, "", "", 0L, 0, ok = false))
    val c = if (in.content == null) Array.emptyByteArray else in.content
    if (c.length == 0) return bad
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRec]
    var off = 0
    var idx = 0L
    // one header line ending in CRLF starting at `off`; -1 on fault.
    // ISO 28500 allows UTF-8 in field VALUES (an IRI-ish
    // WARC-Target-URI is a legitimate crawl record, not a
    // malformation), so high bytes are accepted here and the line is
    // UTF-8 VALIDATED before decode — an invalid sequence is still a
    // loud ok=false, never a U+FFFD substitution that would silently
    // alter the reported value
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < c.length && !(c(i) == '\r' && c(i + 1) == '\n'))
        i += 1
      if (i + 1 >= c.length) -1 else i
    }
    def decodeLine(from: Int, until: Int): String =
      if (!isValidUtf8(c, from, until)) null
      else new String(c, from, until - from,
        java.nio.charset.StandardCharsets.UTF_8)
    while (off < c.length) {
      idx += 1
      val ve = lineEnd(off)
      if (ve < 0) return bad
      val version = decodeLine(off, ve)
      if (version != "WARC/1.0" && version != "WARC/1.1") return bad
      off = ve + 2
      var warcType = ""
      var targetUri = ""
      var contentLength = -1L
      var nHeaders = 0
      var inHeaders = true
      while (inHeaders) {
        val he = lineEnd(off)
        if (he < 0) return bad
        if (he == off) { inHeaders = false; off += 2 } // blank CRLF line
        else {
          val line = decodeLine(off, he)
          if (line == null) return bad // invalid UTF-8 in a header line
          val colon = line.indexOf(": ")
          if (colon <= 0) return bad
          nHeaders += 1
          val name = line.substring(0, colon).toLowerCase
          val value = line.substring(colon + 2)
          name match {
            case "warc-type"       => warcType = value
            case "warc-target-uri" => targetUri = value
            case "content-length" =>
              if (!value.nonEmpty || !value.forall(_.isDigit) ||
                  value.length > 15) return bad
              contentLength = value.toLong
            case _ => ()
          }
          off = he + 2
        }
      }
      if (warcType.isEmpty || contentLength < 0) return bad
      // hop the content block, then the two mandatory terminating CRLFs
      if (off + contentLength + 4 > c.length) return bad
      off += contentLength.toInt
      if (c(off) != '\r' || c(off + 1) != '\n' ||
          c(off + 2) != '\r' || c(off + 3) != '\n') return bad
      off += 4
      out += WarcRec(in.doc_id, idx, warcType, targetUri, contentLength,
        nHeaders, ok = true)
    }
    out.toSeq
  }

  def parseWarc(payloads: Dataset[MediaIn]): Dataset[WarcRec] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.flatMap(parseWarcOne))
  }

  /** Render a deterministic WARC/1.0 container — the fixture writer
    * for the record walk. Record k (1-based) of `nRecords`: type
    * warcinfo for k=1 (no Target-URI — pins the ''-when-absent rule),
    * else response/request by (id+k) parity; Content-Length
    * 20 + (id·7 + k·13) mod 50 with body byte j a pure function of
    * (id, k, j). Every field the parser reports is replayable
    * arithmetically from (id, k).
    */
  def encodeWarc(id: Long, nRecords: Int): Array[Byte] = {
    require(nRecords >= 1, "encodeWarc: need at least one record")
    val bos = new java.io.ByteArrayOutputStream()
    (1 to nRecords).foreach(k => bos.write(encodeWarcRecord(id, k)))
    bos.toByteArray
  }

  /** The bytes of record k (1-based) of the [[encodeWarc]] fixture —
    * extracted so [[encodeWarcGz]] can compress each record as its own
    * gzip member (the Common Crawl storage layout) while staying
    * byte-identical to the plain container's record.
    */
  private[graft] def encodeWarcRecord(id: Long, k: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit =
      bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val info = k == 1
    val t = if (info) "warcinfo"
      else if ((id + k) % 2 == 0) "response" else "request"
    val len = 20 + ((id * 7 + k * 13) % 50)
    w("WARC/1.0\r\n")
    w(s"WARC-Type: $t\r\n")
    w(s"WARC-Record-ID: <urn:uuid:$id-$k>\r\n")
    w("WARC-Date: 2024-01-01T00:00:00Z\r\n")
    if (!info) w(s"WARC-Target-URI: https://example${id % 40}.com/p$k\r\n")
    w(s"Content-Length: $len\r\n")
    w("\r\n")
    var j = 0
    while (j < len) {
      bos.write(((id * 31 + k * 17 + j * 2654435761L) % 256).toInt)
      j += 1
    }
    w("\r\n\r\n")
    bos.toByteArray
  }

  /** Zip-bomb guard for [[parseWarcGzOne]]: a member that inflates past
    * this many bytes is a loud ok=false fault, never an OOM — at 100 TB
    * an adversarial crawl WILL contain deflate bombs, and the failure
    * mode must be a visible rejected row, not a dead executor. 64 MiB
    * is far above any legitimate single WARC record.
    */
  val MaxInflatedMember: Int = 1 << 26

  /** Per-record-gzip WARC walk — the layout web crawls are actually
    * STORED in (Common Crawl's .warc.gz: each record compressed as its
    * own gzip member, members concatenated, so a byte-range fetch can
    * start at any member boundary). Walks RFC 1952 members: fixed
    * header (magic 1f 8b, CM=8 deflate, reserved FLG bits zero), the
    * optional FEXTRA/FNAME/FCOMMENT/FHCRC fields, a raw-deflate body
    * via java.util.zip.Inflater, then the CRC32 + ISIZE trailer — BOTH
    * verified against the inflated bytes (a transport-corrupted member
    * must surface here, not as downstream mojibake). Each member must
    * inflate to exactly ONE well-formed WARC record (the per-record
    * contract that makes the format seekable); its fields are reported
    * through the same [[parseWarcOne]] grammar, plus the member's
    * inflated byte count. ANY fault — bad magic, reserved flags, a
    * truncated deflate stream, CRC or ISIZE mismatch, an inflated size
    * past `maxPlain` (the zip-bomb guard), a member holding zero or
    * two records — yields ONE loud ok=false row for the document.
    *
    * Scale shape: pure map work like [[parseWarc]] — decode cost linear
    * in compressed payload bytes, no shuffle; the widest stage of a
    * 100 TB crawl read runs exactly this loop.
    */
  def parseWarcGzOne(in: MediaIn,
                     maxPlain: Int = MaxInflatedMember): Seq[WarcGzRec] = {
    val bad = Seq(WarcGzRec(in.doc_id, 0L, "", "", 0L, 0, 0L, ok = false))
    val c = if (in.content == null) Array.emptyByteArray else in.content
    if (c.length == 0) return bad
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcGzRec]
    def b(i: Int) = c(i) & 0xff
    var off = 0
    var idx = 0L
    while (off < c.length) {
      idx += 1
      // ---- RFC 1952 member header
      if (off + 10 > c.length) return bad
      if (b(off) != 0x1f || b(off + 1) != 0x8b || b(off + 2) != 8)
        return bad
      val flg = b(off + 3)
      if ((flg & 0xe0) != 0) return bad // reserved bits must be zero
      var p = off + 10
      if ((flg & 4) != 0) { // FEXTRA: little-endian length + payload
        if (p + 2 > c.length) return bad
        p += 2 + (b(p) | (b(p + 1) << 8))
        if (p > c.length) return bad
      }
      def skipZeroTerminated(): Boolean = {
        while (p < c.length && c(p) != 0) p += 1
        if (p >= c.length) false else { p += 1; true }
      }
      if ((flg & 8) != 0 && !skipZeroTerminated()) return bad // FNAME
      if ((flg & 16) != 0 && !skipZeroTerminated()) return bad // FCOMMENT
      if ((flg & 2) != 0) { p += 2; if (p > c.length) return bad } // FHCRC
      // ---- raw-deflate body, CRC accumulated over the inflated bytes
      val inf = new java.util.zip.Inflater(true)
      val plainBos = new java.io.ByteArrayOutputStream()
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](8192)
      var plainLen = 0L
      try {
        inf.setInput(c, p, c.length - p)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            return bad // truncated stream (or a non-gzip dictionary ask)
          crc.update(buf, 0, n)
          plainBos.write(buf, 0, n)
          plainLen += n
          if (plainLen > maxPlain) return bad // zip bomb: loud, not OOM
        }
        p += (c.length - p) - inf.getRemaining
      } catch {
        case _: java.util.zip.DataFormatException => return bad
      } finally inf.end()
      // ---- trailer: CRC32 then ISIZE, both little-endian
      if (p + 8 > c.length) return bad
      val crcStored = b(p).toLong | (b(p + 1).toLong << 8) |
        (b(p + 2).toLong << 16) | (b(p + 3).toLong << 24)
      val isize = b(p + 4).toLong | (b(p + 5).toLong << 8) |
        (b(p + 6).toLong << 16) | (b(p + 7).toLong << 24)
      if (crcStored != crc.getValue) return bad
      if (isize != (plainLen & 0xffffffffL)) return bad
      p += 8
      // ---- exactly one record per member — the seekability contract
      val recs = parseWarcOne(MediaIn(in.doc_id, plainBos.toByteArray,
        in.mime))
      if (recs.length != 1 || !recs.head.ok) return bad
      val r = recs.head
      out += WarcGzRec(in.doc_id, idx, r.warc_type, r.target_uri,
        r.content_length, r.n_headers, plainLen, ok = true)
      off = p
    }
    out.toSeq
  }

  def parseWarcGz(payloads: Dataset[MediaIn]): Dataset[WarcGzRec] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.flatMap(in => parseWarcGzOne(in)))
  }

  /** One gzip member over `plain` — java.util.zip.GZIPOutputStream's
    * RFC 1952 layout (fixed 10-byte header, raw deflate, CRC32 + ISIZE
    * trailer).
    */
  private def gzipMember(plain: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain)
    gz.close()
    bos.toByteArray
  }

  /** Render the [[encodeWarc]] fixture in Common Crawl's storage
    * layout: record k compressed as its own gzip member, members
    * concatenated. Three planted corruption arms prove the walk's
    * verification is load-bearing: id % 89 = 5 zeroes the first
    * member's magic byte (bad header), id % 89 = 23 flips a byte of
    * the FINAL member's stored CRC32 (the trailer check must catch a
    * transport flip), id % 89 = 47 truncates the final trailer — each
    * must yield one loud ok=0 row, never a silently-short document.
    */
  def encodeWarcGz(id: Long, nRecords: Int): Array[Byte] = {
    require(nRecords >= 1, "encodeWarcGz: need at least one record")
    val bos = new java.io.ByteArrayOutputStream()
    (1 to nRecords).foreach(k => bos.write(gzipMember(encodeWarcRecord(id, k))))
    val all = bos.toByteArray
    if (id % 89 == 5) all(0) = 0x00.toByte
    else if (id % 89 == 23)
      all(all.length - 8) = (all(all.length - 8) ^ 0xff).toByte
    else if (id % 89 == 47) return all.take(all.length - 5)
    all
  }

  // ------------------------------------------------------------ charset

  /** Charset sniff + transcode screen — the crawl front-door stage
    * between the WARC record split and every text operator: ~15% of
    * real crawl bodies are legacy-encoded, and feeding them to a
    * UTF-8-assuming pipeline yields mojibake that no downstream
    * quality gate reliably catches. Per payload, one byte walk
    * reports:
    *
    *  - BOM: UTF-8 / UTF-16LE / UTF-16BE signature ('' when absent).
    *    A UTF-16 BOM with an ODD payload length is undecodable →
    *    loud ok=0; a UTF-8 BOM over an invalid UTF-8 body is a
    *    signature contradiction → loud ok=0, never "trust the BOM".
    *  - meta_charset: the HTML5-prescan-style `charset=` declaration
    *    extracted from the first 1024 bytes (case-insensitive key,
    *    optional quotes, value lowercased; '' when absent).
    *  - the strict RFC 3629 walk ([[isValidUtf8]]'s categories,
    *    COUNTED): n_ascii, n_valid_mb (well-formed multi-byte
    *    sequences), n_overlong (C0/C1 leads and over-wide encodings),
    *    n_surrogate (U+D800–DFFF), n_truncated (sequence cut off by a
    *    non-continuation or EOF), n_invalid (bare continuations +
    *    F5–FF leads + past-U+10FFFF), and n_c1 (bytes in 0x80–0x9F —
    *    the region where windows-1252 and latin-1 DISAGREE, which is
    *    the transcode-screen decision bit).
    *  - detected: the fold verdict a transcoder would apply —
    *    BOM charset when present; 'utf-8' when the body walks clean
    *    with multi-byte content (a clean walk with multi-byte content
    *    is UTF-8 with near-certainty — a lying meta tag is overridden,
    *    the common crawl case); the meta charset for clean pure-ASCII
    *    bodies that declare one, else 'ascii'; and for invalid-UTF-8
    *    bodies the legacy fold: 'windows-1252' when any C1 byte
    *    proves cp1252 punctuation, else 'iso-8859-1'.
    *
    * Scale shape: pure map work like every probe here — one pass over
    * the first KBs-to-body of each payload, no shuffle; at 100 TB this
    * runs as wide as the WARC split itself.
    */
  def sniffCharsetOne(in: MediaIn): CharsetProbe = {
    val bad = CharsetProbe(in.doc_id, "", "", "", 0L, 0L, 0L, 0L, 0L,
      0L, 0L, 0L, ok = false)
    val c = if (in.content == null) Array.emptyByteArray else in.content
    if (c.length == 0) return bad
    // ---- BOM
    def b(i: Int) = c(i) & 0xff
    val (bom, bodyOff) =
      if (c.length >= 3 && b(0) == 0xef && b(1) == 0xbb && b(2) == 0xbf)
        ("utf-8", 3)
      else if (c.length >= 2 && b(0) == 0xff && b(1) == 0xfe)
        ("utf-16le", 2)
      else if (c.length >= 2 && b(0) == 0xfe && b(1) == 0xff)
        ("utf-16be", 2)
      else ("", 0)
    val nBytes = c.length.toLong
    if (bom.startsWith("utf-16")) {
      // a UTF-16 body is code-unit-aligned or it is not UTF-16
      if ((c.length - bodyOff) % 2 != 0) return bad
      return CharsetProbe(in.doc_id, bom, "", bom, nBytes, 0L, 0L, 0L,
        0L, 0L, 0L, 0L, ok = true)
    }
    // ---- meta charset prescan (first 1024 bytes, first match wins)
    var meta = ""
    val scanEnd = math.min(c.length, bodyOff + 1024)
    var i = bodyOff
    val key = "charset"
    while (meta.isEmpty && i + key.length < scanEnd) {
      var k = 0
      while (k < key.length &&
        (c(i + k) | 0x20).toChar == key.charAt(k)) k += 1
      if (k == key.length) {
        var j = i + key.length
        while (j < scanEnd && (c(j) == ' ' || c(j) == '\t')) j += 1
        if (j < scanEnd && c(j) == '=') {
          j += 1
          while (j < scanEnd && (c(j) == ' ' || c(j) == '\t')) j += 1
          val quote = if (j < scanEnd && (c(j) == '"' || c(j) == '\'')) {
            val q = c(j); j += 1; q
          } else 0.toByte
          val v0 = j
          def stops(x: Byte): Boolean =
            if (quote != 0) x == quote
            else x == ' ' || x == ';' || x == '>' || x == '"' || x == '\''
          while (j < scanEnd && (c(j) & 0xff) < 0x80 && !stops(c(j))) j += 1
          if (j > v0)
            meta = new String(c, v0, j - v0,
              java.nio.charset.StandardCharsets.US_ASCII).toLowerCase
        }
      }
      i += 1
    }
    // ---- strict UTF-8 category walk over the body
    var (ascii, validMb, overlong, surrogate, truncated, invalid, c1) =
      (0L, 0L, 0L, 0L, 0L, 0L, 0L)
    i = bodyOff
    while (i < c.length) {
      val b0 = b(i)
      if (b0 >= 0x80 && b0 <= 0x9f) c1 += 1
      if (b0 < 0x80) { ascii += 1; i += 1 }
      else if (b0 < 0xc0) { invalid += 1; i += 1 } // bare continuation
      else {
        val want = // continuation count the lead byte announces
          if (b0 < 0xe0) 1 else if (b0 < 0xf0) 2 else 3
        var got = 0
        while (got < want && i + 1 + got < c.length &&
          (c(i + 1 + got) & 0xc0) == 0x80) got += 1
        if (b0 == 0xc0 || b0 == 0xc1) { overlong += 1; i += 1 + got }
        else if (b0 >= 0xf5) { invalid += 1; i += 1 + got }
        else if (got < want) { truncated += 1; i += 1 + got }
        else {
          val cp =
            if (want == 1) ((b0 & 0x1f) << 6) | (c(i + 1) & 0x3f)
            else if (want == 2)
              ((b0 & 0x0f) << 12) | ((c(i + 1) & 0x3f) << 6) |
                (c(i + 2) & 0x3f)
            else
              ((b0 & 0x07) << 18) | ((c(i + 1) & 0x3f) << 12) |
                ((c(i + 2) & 0x3f) << 6) | (c(i + 3) & 0x3f)
          if (want == 2 && cp < 0x800) overlong += 1
          else if (want == 2 && cp >= 0xd800 && cp <= 0xdfff) surrogate += 1
          else if (want == 3 && cp < 0x10000) overlong += 1
          else if (want == 3 && cp > 0x10ffff) invalid += 1
          else validMb += 1
          i += 1 + want
        }
      }
    }
    val clean = overlong + surrogate + truncated + invalid == 0L
    if (bom == "utf-8" && !clean) return bad // signature contradiction
    val detected =
      if (bom == "utf-8") "utf-8"
      else if (clean && validMb > 0) "utf-8"
      else if (clean) if (meta.nonEmpty) meta else "ascii"
      else if (c1 > 0) "windows-1252"
      else "iso-8859-1"
    CharsetProbe(in.doc_id, bom, meta, detected, nBytes, ascii, validMb,
      overlong, surrogate, truncated, invalid, c1, ok = true)
  }

  def sniffCharset(payloads: Dataset[MediaIn]): Dataset[CharsetProbe] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(sniffCharsetOne))
  }

  /** Render a deterministic charset fixture — every field the sniffer
    * reports is a pure function of `id` (mode = id % 7): 0 plain
    * ASCII; 1 UTF-8 BOM + utf-8 meta + 2-byte sequences (id % 35 == 8:
    * a trailing truncated lead contradicts the BOM → loud row);
    * 2 BOM-less UTF-8 whose meta LIES (iso-8859-1); 3 windows-1252
    * high bytes (C1 quotes + latin letters) behind a truthful meta;
    * 4 bare latin-1 letters, no meta; 5 a planted UTF-8 fault zoo
    * (overlongs, a surrogate, an F5 lead, a bare continuation, a
    * truncated tail); 6 UTF-16 with BOM, LE/BE by (id / 7) parity
    * (id % 35 == 13: a dropped final byte de-aligns it → loud row).
    */
  def encodeCharsetDoc(id: Long): Array[Byte] = {
    require(id >= 0, "encodeCharsetDoc: non-negative id")
    val m = (id % 7).toInt
    val l = (20 + (id * 7) % 40).toInt
    val k = (1 + id % 5).toInt
    val v = (1 + id % 2).toInt
    val bos = new java.io.ByteArrayOutputStream()
    def w(bytes: Int*): Unit = bytes.foreach(x => bos.write(x & 0xff))
    def ws(s: String): Unit =
      bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def fill(): Unit = ws(("abcdefghijklmnopqrstuvwxyz"(
      (id % 26).toInt)).toString * l)
    m match {
      case 0 => fill()
      case 1 =>
        w(0xef, 0xbb, 0xbf); ws("<meta charset=\"utf-8\">"); fill()
        (1 to k).foreach(_ => w(0xc3, 0xa9))
        if (id % 35 == 8) w(0xc3) // truncated lead: contradicts the BOM
      case 2 =>
        ws("<meta charset=\"ISO-8859-1\">"); fill()
        (1 to k).foreach(_ => w(0xe2, 0x82, 0xac))
      case 3 =>
        ws("<meta charset=\"windows-1252\">"); fill()
        (1 to k).foreach(_ => w(0x93, 'a'))
        (1 to k).foreach(_ => w(0xe9, 'a'))
      case 4 =>
        fill(); (1 to k).foreach(_ => w(0xe9, 'a'))
      case 5 =>
        fill()
        (1 to v).foreach(_ => w(0xc0, 0xaf, 'a')) // overlong "/"
        w(0xed, 0xa0, 0x80, 'a')                  // surrogate U+D800
        w(0xf5, 'a')                              // invalid lead
        w(0x91, 'a')                              // bare continuation (C1)
        w(0xe2, 0x82)                             // truncated tail
      case 6 =>
        val le = (id / 7) % 2 == 0
        if (le) w(0xff, 0xfe) else w(0xfe, 0xff)
        val ch = ('a' + (id % 26).toInt).toChar
        (1 to l).foreach { _ =>
          if (le) w(ch, 0x00) else w(0x00, ch)
        }
        if (id % 35 == 13) { // de-align: drop the final byte
          val all = bos.toByteArray
          return all.take(all.length - 1)
        }
    }
    bos.toByteArray
  }

  // ------------------------------------------------------------ video (MP4)

  /** REAL video container metadata parse: no JDK video CODEC exists, but
    * an MP4/ISO-BMFF container is a pure byte format — length-prefixed
    * boxes — so duration, timescale and track dimensions come from an
    * actual `moov`/`mvhd`/`trak`/`tkhd` box walk over the payload, the
    * same real-vs-stub footing the image (ImageIO) and audio
    * (javax.sound.sampled) paths have. Handles 32-bit and 64-bit
    * (`size == 1` largesize) boxes, `size == 0` (to end of enclosing),
    * and both mvhd/tkhd versions (0: 32-bit times; 1: 64-bit). Any
    * malformed structure — truncated box, size < 8, child overrunning
    * its parent, zero timescale, missing moov/mvhd/tkhd — fails loudly
    * (ok=false, zeros); never a thrown partition.
    */
  /** The ISO-BMFF byte walker shared by the whole-file probe and the
    * per-track probe. All reads are bounds-checked via the walk result;
    * any structural fault surfaces as None, never an exception.
    */
  private object Bmff {
    def u32(c: Array[Byte], off: Int): Long =
      ((c(off) & 0xffL) << 24) | ((c(off + 1) & 0xffL) << 16) |
        ((c(off + 2) & 0xffL) << 8) | (c(off + 3) & 0xffL)
    def u64(c: Array[Byte], off: Int): Long =
      (u32(c, off) << 32) | u32(c, off + 4)
    def fourcc(c: Array[Byte], off: Int): String =
      new String(c, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Walk the boxes in [start, end) in order, returning every
      * (type, bodyStart, bodyEnd); None on any structural fault.
      * bodyStart points past the size+type (+largesize) header.
      */
    def walkAll(c: Array[Byte], start: Int, end: Int)
        : Option[Seq[(String, Int, Int)]] = {
      var off = start
      val found = Seq.newBuilder[(String, Int, Int)]
      while (off < end) {
        if (off + 8 > end) return None
        val sz32 = u32(c, off)
        val typ = fourcc(c, off + 4)
        var bodyStart = off + 8
        val boxEnd: Long =
          if (sz32 == 0L) end.toLong // last box: extends to enclosing end
          else if (sz32 == 1L) { // 64-bit largesize follows the type
            if (off + 16 > end) return None
            bodyStart = off + 16
            off + u64(c, off + 8)
          } else off + sz32
        if (boxEnd < bodyStart || boxEnd > end) return None
        found += ((typ, bodyStart, boxEnd.toInt))
        off = boxEnd.toInt
      }
      Some(found.result())
    }

    /** First box of each type in [start, end). */
    def walk(c: Array[Byte], start: Int, end: Int)
        : Option[Map[String, (Int, Int)]] =
      walkAll(c, start, end).map { boxes =>
        boxes.groupBy(_._1).map { case (t, bs) =>
          t -> ((bs.head._2, bs.head._3))
        }
      }

    /** tkhd fields (track_id, width, height), both versions. */
    def tkhdFields(c: Array[Byte], s: Int, e: Int): Option[(Long, Int, Int)] = {
      // tkhd: version(1) flags(3); v0 puts track_ID 8 bytes in (after
      // two u32 times) and the fixed fields span 72 bytes before the
      // 16.16 width/height; v1 (u64 times) shifts those to 16 and 84
      val tv = c(s) & 0xff
      val (idOff, dimOff) =
        if (tv == 0) (s + 4 + 8, s + 4 + 72)
        else if (tv == 1) (s + 4 + 16, s + 4 + 84)
        else return None
      if (dimOff + 8 > e || idOff + 4 > e) return None
      Some((u32(c, idOff),
        (u32(c, dimOff) >> 16).toInt, (u32(c, dimOff + 4) >> 16).toInt))
    }
  }

  def probeVideoOne(in: MediaIn): VideoMeta = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val bad = VideoMeta(in.doc_id, in.mime, c.length.toLong,
      0L, 0, 0, 0, ok = false)
    import Bmff._
    try {
      val top = walk(c, 0, c.length).getOrElse(return bad)
      val (moovS, moovE) = top.getOrElse("moov", return bad)
      val moov = walk(c, moovS, moovE).getOrElse(return bad)
      val (mvhdS, mvhdE) = moov.getOrElse("mvhd", return bad)
      // mvhd: version(1) flags(3), then v0: creation u32, modification
      // u32, timescale u32, duration u32; v1: the times are u64
      val mv = c(mvhdS) & 0xff
      val (timescale, duration) =
        if (mv == 0) {
          if (mvhdS + 20 > mvhdE) return bad
          (u32(c, mvhdS + 12), u32(c, mvhdS + 16))
        } else if (mv == 1) {
          if (mvhdS + 32 > mvhdE) return bad
          (u32(c, mvhdS + 20), u64(c, mvhdS + 24))
        } else return bad
      // ISO-BMFF leaves box order unconstrained, so duration * 1000 must
      // not overflow (a crafted u64 v1 duration would otherwise wrap to
      // a negative duration_ms with ok=true)
      if (timescale <= 0L || timescale > Int.MaxValue || duration < 0L ||
          duration > Long.MaxValue / 1000L)
        return bad
      // dims come from the VIDEO track, not the first trak: muxers may
      // put the audio track first, whose tkhd legally carries 0x0. Pick
      // the first trak whose mdia/hdlr handler is 'vide'; for hdlr-less
      // (legacy/minimal) files prefer the first trak with NONZERO tkhd
      // dims — an audio-first hdlr-less container would otherwise report
      // the audio track's legal 0x0 with ok=true — before falling back
      // to the first trak (all-zero dims: nothing better exists).
      val traks = walkAll(c, moovS, moovE).getOrElse(return bad)
        .filter(_._1 == "trak")
      if (traks.isEmpty) return bad
      val dims = traks.flatMap { case (_, ts, te) =>
        walk(c, ts, te).flatMap { trak =>
          trak.get("tkhd").flatMap { case (ks, ke) =>
            tkhdFields(c, ks, ke).map { case (_, w, h) =>
              val handler = trak.get("mdia").flatMap { case (ms, me) =>
                walk(c, ms, me).flatMap(_.get("hdlr")).flatMap {
                  case (hs, he) =>
                    if (hs + 12 > he) None else Some(fourcc(c, hs + 8))
                }
              }
              (handler, w, h)
            }
          }
        }
      }
      if (dims.isEmpty) return bad
      val (_, w, h) = dims.find(_._1.contains("vide"))
        .orElse(dims.find(d => d._2 > 0 && d._3 > 0))
        .getOrElse(dims.head)
      VideoMeta(in.doc_id, in.mime, c.length.toLong,
        duration * 1000L / timescale, timescale.toInt, w, h, ok = true)
    } catch {
      case _: IndexOutOfBoundsException => bad
    }
  }

  /** Per-TRACK container parse — the realistic shape of an MP4 (a video
    * track plus an audio track, sometimes subtitles): one row per trak
    * box with its track id, handler type out of the mdia/hdlr box
    * ('vide'/'soun'/...), and the tkhd dims (zero for non-visual
    * tracks). A corrupt container yields ONE loud row (ok=false, zeroed
    * fields) rather than silently vanishing from the output — the same
    * dirty-feed contract as every other codec path.
    */
  def probeVideoTracksOne(in: MediaIn): Seq[VideoTrack] = {
    val c = if (in.content == null) Array.emptyByteArray else in.content
    val bad = Seq(VideoTrack(in.doc_id, 0L, "", 0, 0, ok = false))
    import Bmff._
    try {
      val top = walk(c, 0, c.length).getOrElse(return bad)
      val (moovS, moovE) = top.getOrElse("moov", return bad)
      val boxes = walkAll(c, moovS, moovE).getOrElse(return bad)
      val traks = boxes.filter(_._1 == "trak")
      if (traks.isEmpty) return bad
      val rows = traks.map { case (_, ts, te) =>
        val trak = walk(c, ts, te).getOrElse(return bad)
        val (tkhdS, tkhdE) = trak.getOrElse("tkhd", return bad)
        val (id, w, h) = tkhdFields(c, tkhdS, tkhdE).getOrElse(return bad)
        // handler type lives in trak/mdia/hdlr: version/flags(4),
        // pre_defined(4), then the 4cc
        val handler = trak.get("mdia").flatMap { case (ms, me) =>
          walk(c, ms, me).flatMap(_.get("hdlr")).flatMap { case (hs, he) =>
            if (hs + 12 > he) None else Some(fourcc(c, hs + 8))
          }
        }.getOrElse(return bad)
        VideoTrack(in.doc_id, id, handler, w, h, ok = true)
      }
      rows
    } catch {
      case _: IndexOutOfBoundsException => bad
    }
  }

  /** Probe per-track metadata partition-at-a-time (1→N generator shape:
    * one input payload, one output row per track). Pure map work.
    */
  def probeVideoTracks(payloads: Dataset[MediaIn]): Dataset[VideoTrack] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.flatMap(probeVideoTracksOne))
  }

  /** Probe a video payload Dataset partition-at-a-time ([[decode]]'s
    * harness shape). Pure map work, no shuffle.
    */
  def probeVideo(payloads: Dataset[MediaIn]): Dataset[VideoMeta] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions(_.map(probeVideoOne))
  }

  /** Encode a minimal deterministic MP4/ISO-BMFF container — the fixture
    * writer for the video-probe path (the [[encodePng]]/[[encodeWav]]
    * pattern): real ftyp + moov{mvhd, trak{tkhd, mdia{hdlr}}} byte
    * layout, duration in mvhd units of `timescale`, track dims as 16.16
    * fixed point, handler types in real hdlr boxes. `version1`
    * exercises the 64-bit-time mvhd/tkhd variants; `audioTrack` adds a
    * second trak (handler 'soun', zero dims) — the realistic two-track
    * shape. `writeHdlr = false` drops the mdia/hdlr boxes (the
    * legacy/minimal hdlr-less layout) and `audioFirst` muxes the audio
    * trak before the video trak — together they exercise the probe's
    * nonzero-dims fallback. Pure ByteBuffer layout — bit-stable
    * everywhere.
    */
  def encodeMp4(durationUnits: Long, timescale: Int, width: Int, height: Int,
                version1: Boolean = false,
                audioTrack: Boolean = false,
                writeHdlr: Boolean = true,
                audioFirst: Boolean = false): Array[Byte] = {
    require(timescale > 0 && durationUnits >= 0 && width >= 0 && height >= 0,
      "encodeMp4 fixture fields must be non-negative with timescale > 0")
    val bb = java.nio.ByteBuffer.allocate(1024)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def box(typ: String)(body: => Unit): Unit = {
      val at = bb.position()
      bb.putInt(0) // size backpatched below
      bb.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      body
      bb.putInt(at, bb.position() - at)
    }
    def trak(trackId: Int, handler: String, w: Int, h: Int): Unit =
      box("trak") {
        box("tkhd") {
          if (version1) {
            bb.putInt(0x01000007)          // version 1, flags: enabled
            bb.putLong(0L); bb.putLong(0L) // creation/modification (u64)
            bb.putInt(trackId); bb.putInt(0) // track_ID, reserved
            bb.putLong(durationUnits)
          } else {
            bb.putInt(0x00000007)          // version 0, flags: enabled
            bb.putInt(0); bb.putInt(0)     // creation/modification (u32)
            bb.putInt(trackId); bb.putInt(0) // track_ID, reserved
            bb.putInt(durationUnits.toInt)
          }
          bb.putLong(0L)                   // reserved
          bb.putShort(0); bb.putShort(0)   // layer, alternate_group
          bb.putShort(0); bb.putShort(0)   // volume (video: 0), reserved
          bb.putInt(0x00010000); bb.putInt(0); bb.putInt(0)
          bb.putInt(0); bb.putInt(0x00010000); bb.putInt(0)
          bb.putInt(0); bb.putInt(0); bb.putInt(0x40000000)
          bb.putInt(w << 16)               // 16.16 fixed point
          bb.putInt(h << 16)
        }
        if (writeHdlr) box("mdia") {
          box("hdlr") {
            bb.putInt(0)                   // version 0, flags 0
            bb.putInt(0)                   // pre_defined
            bb.put(handler.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            bb.putInt(0); bb.putInt(0); bb.putInt(0) // reserved
            bb.put(0.toByte)               // empty null-terminated name
          }
        }
      }
    box("ftyp") {
      bb.put("isom".getBytes); bb.putInt(0x200); bb.put("isommp41".getBytes)
    }
    box("moov") {
      box("mvhd") {
        if (version1) {
          bb.putInt(0x01000000)            // version 1, flags 0
          bb.putLong(0L); bb.putLong(0L)   // creation/modification (u64)
          bb.putInt(timescale)
          bb.putLong(durationUnits)
        } else {
          bb.putInt(0)                     // version 0, flags 0
          bb.putInt(0); bb.putInt(0)       // creation/modification (u32)
          bb.putInt(timescale)
          bb.putInt(durationUnits.toInt)
        }
        bb.putInt(0x00010000)              // rate 1.0
        bb.putShort(0x0100)                // volume 1.0
        bb.putShort(0); bb.putLong(0L)     // reserved
        // identity matrix
        bb.putInt(0x00010000); bb.putInt(0); bb.putInt(0)
        bb.putInt(0); bb.putInt(0x00010000); bb.putInt(0)
        bb.putInt(0); bb.putInt(0); bb.putInt(0x40000000)
        (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
        bb.putInt(if (audioTrack) 3 else 2) // next_track_ID
      }
      if (audioTrack && audioFirst) {
        trak(2, "soun", 0, 0)
        trak(1, "vide", width, height)
      } else {
        trak(1, "vide", width, height)
        if (audioTrack) trak(2, "soun", 0, 0)
      }
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }
}

/** One histogram-bin feature row leaving the feature stage. */
case class MediaFeat(doc_id: Long, bin: Int, cnt: Long)

/** One resample result row: source dims, RE-DECODED output dims, and the
  * re-encoded payload size.
  */
case class MediaResample(doc_id: Long, src_w: Int, src_h: Int,
                         out_w: Int, out_h: Int, n_bytes_out: Long,
                         ok: Boolean)

/** One perceptual-hash row: 64-bit dHash of the decoded pixels. */
case class MediaHash(doc_id: Long, phash: Long, ok: Boolean)

/** Decoded audio metadata: true format values parsed from the payload. */
case class AudioMeta(doc_id: Long, mime: String, n_bytes: Long,
                     sample_rate: Int, channels: Int, n_frames: Long,
                     ok: Boolean)

/** Exact-integer first-pass DSP features from the decoded PCM body. */
case class AudioFeat(doc_id: Long, n_samples: Long, sum_sq: Long,
                     n_zero_cross: Long, ok: Boolean)

/** Video container metadata parsed from a real MP4/ISO-BMFF box walk:
  * duration_ms = mvhd duration · 1000 / timescale (integer floor),
  * width/height the integer part of tkhd's 16.16 fixed-point dims.
  */
/** One MP3 probe row: frame walk totals + first-frame header readout. */
case class ExifMeta(doc_id: Long, byte_order: String, orientation: Int,
                    width: Int, height: Int, n_entries: Int, ok: Boolean)

case class SrtCue(doc_id: Long, cue_idx: Long, start_ms: Long,
                  end_ms: Long, n_chars: Long, ok: Boolean)

case class WarcRec(doc_id: Long, rec_idx: Long, warc_type: String,
                   target_uri: String, content_length: Long,
                   n_headers: Int, ok: Boolean)

/** One member of a per-record-gzip WARC walk: 1-based member index,
  * the record fields the [[MultimodalDecode.parseWarcOne]] grammar
  * reports for the member's single record, and the member's inflated
  * byte count (CRC32- and ISIZE-verified).
  */
case class WarcGzRec(doc_id: Long, member_idx: Long, warc_type: String,
                     target_uri: String, content_length: Long,
                     n_headers: Int, plain_len: Long, ok: Boolean)

/** One charset-sniff row: BOM / meta declaration / fold verdict plus
  * the strict UTF-8 walk's per-category counts (n_c1 counts 0x80–0x9F
  * bytes at walk positions — continuation bytes consumed by a valid
  * lead are attributed to their sequence, so in the legacy-text regime
  * where no sequence validates it equals the raw C1-byte count).
  */
case class CharsetProbe(doc_id: Long, bom: String, meta_charset: String,
                        detected: String, n_bytes: Long, n_ascii: Long,
                        n_valid_mb: Long, n_overlong: Long,
                        n_surrogate: Long, n_truncated: Long,
                        n_invalid: Long, n_c1: Long, ok: Boolean)

case class OrientHash(doc_id: Long, orientation: Int, ohash: Long,
                      ok: Boolean)

case class VadSeg(doc_id: Long, seg_idx: Long, start_ms: Long,
                  end_ms: Long, n_windows: Long, ok: Boolean)

case class FlacMeta(doc_id: Long, mime: String, n_bytes: Long,
                    sample_rate: Int, channels: Int, bits_per_sample: Int,
                    total_samples: Long, duration_ms: Long, ok: Boolean)

case class Mp3Meta(doc_id: Long, mime: String, n_bytes: Long,
                   n_frames: Long, bitrate_kbps: Int, sample_rate: Int,
                   duration_ms: Long, ok: Boolean)

case class VideoMeta(doc_id: Long, mime: String, n_bytes: Long,
                     duration_ms: Long, timescale: Int,
                     width: Int, height: Int, ok: Boolean)

/** One track row from the per-trak MP4 parse: tkhd id/dims plus the
  * mdia/hdlr handler type ('vide'/'soun'/...).
  */
case class VideoTrack(doc_id: Long, track_id: Long, handler: String,
                      width: Int, height: Int, ok: Boolean)
