package graft

import graft.api.{GraftOps, MultimodalDecode}
import graft.ops.LlmQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The batch decode harness: typed partition-at-a-time plumbing — schema
  * in/out, determinism, no shuffle in the decode stage — plus the REAL
  * ImageIO decode path: an actual PNG round-trips encode→decode with
  * exact dimensions, and corrupt bytes fail loudly instead of throwing.
  */
class MultimodalDecodeSpec extends SparkSpec {

  private def payloads = Tables.documents(spark, sf)
    .select(col("doc_id"), col("text").cast("binary").as("content"),
      lit("text/plain").as("mime"))

  test("decode emits one metadata row per payload with faithful sizes") {
    val in = payloads
    val out = MultimodalDecode.decodeDF(in)
    assert(out.count() === in.count())
    assert(out.schema.fieldNames.toSet ===
      Set("doc_id", "mime", "n_bytes", "width", "height", "ok"))
    // n_bytes must equal the binary length (decoder saw the real payload)
    val joined = out.join(in.select(col("doc_id"),
      length(col("content")).cast("long").as("expect_bytes")), "doc_id")
    assert(joined.filter(col("n_bytes") =!= col("expect_bytes")).count() === 0)
    assert(out.filter(!col("ok")).count() === 0)
  }

  test("features: exact byte histogram, all 16 bins, map-only") {
    import spark.implicits._
    val in = Seq((1L, "abc".getBytes("UTF-8"), "text/plain"),
      (2L, Array.empty[Byte], "text/plain"))
      .toDF("doc_id", "content", "mime")
    val out = MultimodalDecode.featuresDF(in)
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length === 32, "16 bins per payload, empty included")
    val d1 = rows.filter(_._1 == 1L).map(t => t._2 -> t._3).toMap
    // 'a'=97 -> bin 1, 'b'=98 -> bin 2, 'c'=99 -> bin 3
    assert(d1(1) === 1L && d1(2) === 1L && d1(3) === 1L)
    assert(d1.values.sum === 3L)
    assert(rows.filter(_._1 == 2L).forall(_._3 == 0L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "feature stage must not shuffle")
  }

  test("image/* payloads are REALLY decoded: PNG round-trip exact dims") {
    import spark.implicits._
    val png = MultimodalDecode.encodePng(17, 9, seed = 42L)
    // sanity: genuine PNG signature on the encoded bytes
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte &&
      png(2) === 'N'.toByte && png(3) === 'G'.toByte)
    val in = Seq(
      graft.api.MediaIn(1L, png, "image/png"),
      graft.api.MediaIn(2L, png.take(8), "image/png"),     // signature only
      graft.api.MediaIn(3L, "not an image".getBytes, "image/png"),
      graft.api.MediaIn(4L, null, "image/png")).toDS()
    val out = MultimodalDecode.decode(in).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).width === 17 && out(1L).height === 9 && out(1L).ok)
    assert(out(1L).n_bytes === png.length.toLong)
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!out(id).ok && out(id).width === 0 && out(id).height === 0,
        s"corrupt payload $id must fail loudly with zero dims")
    }
  }

  test("resample really transforms pixels: re-decoded output has fit dims") {
    import spark.implicits._
    val in = Seq(
      graft.api.MediaIn(1L, MultimodalDecode.encodePng(32, 8, 5L), "image/png"),
      graft.api.MediaIn(2L, MultimodalDecode.encodePng(6, 4, 5L), "image/png"),
      graft.api.MediaIn(3L, "garbage".getBytes, "image/png")).toDS()
    val out = MultimodalDecode.resample(in, box = 16).collect()
      .map(m => m.doc_id -> m).toMap
    // 32x8 -> scale 0.5 -> 16x4, verified on the RE-DECODED bytes
    assert(out(1L).ok && out(1L).src_w === 32 && out(1L).out_w === 16
      && out(1L).out_h === 4)
    assert(out(1L).n_bytes_out > 0)
    // 6x4 fits already: downscale-only keeps it untouched
    assert(out(2L).ok && out(2L).out_w === 6 && out(2L).out_h === 4)
    assert(!out(3L).ok && out(3L).out_w === 0 && out(3L).n_bytes_out === 0L)
  }

  test("image/jpeg payloads decode through the pooled JPEG reader") {
    import spark.implicits._
    val jpg = MultimodalDecode.encodeJpeg(21, 13, seed = 5L)
    // genuine JFIF: SOI marker up front
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8)
    val in = Seq(
      graft.api.MediaIn(1L, jpg, "image/jpeg"),
      graft.api.MediaIn(2L, jpg.take(3), "image/jpeg"), // SOI only:
      // fails INSIDE the pooled reader path, not the registry fallback
      graft.api.MediaIn(3L, null, "image/jpeg")).toDS()
    val out = MultimodalDecode.decode(in).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).ok && out(1L).width === 21 && out(1L).height === 13)
    assert(!out(2L).ok && out(2L).width === 0)
    assert(!out(3L).ok)
    // a JPEG also resamples and fingerprints through the same machinery
    val rs = MultimodalDecode.resampleOne(
      graft.api.MediaIn(9L, jpg, "image/jpeg"), box = 8)
    // scale_ppm = floor(8e6/21) = 380952; 21·380952 div 1e6 = 7 (floor)
    assert(rs.ok && rs.src_w === 21 && rs.out_w === 7 && rs.out_h === 4)
    assert(MultimodalDecode.dHash64(jpg).isDefined)
  }

  test("audio: a real WAV round-trips through javax.sound.sampled") {
    import spark.implicits._
    val wav = MultimodalDecode.encodeWav(frames = 1234, seed = 9L)
    // genuine RIFF signature
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    val in = Seq(
      graft.api.MediaIn(1L, wav, "audio/wav"),
      graft.api.MediaIn(2L, wav.take(8), "audio/wav"),
      graft.api.MediaIn(3L, null, "audio/wav")).toDS()
    val out = MultimodalDecode.decodeAudio(in).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).ok && out(1L).sample_rate === 8000
      && out(1L).channels === 1 && out(1L).n_frames === 1234L)
    Seq(2L, 3L).foreach { id =>
      assert(!out(id).ok && out(id).n_frames === 0L,
        s"corrupt audio payload $id must fail loudly")
    }
  }

  test("audio features read the PCM body exactly (hand-computed waveform)") {
    import spark.implicits._
    // 3 hand samples: encode them as PCM, round-trip through the WAV
    // container, and the features must match the by-hand arithmetic
    val pcm = Array[Short](100, -200, 300)
    val bytes = new Array[Byte](6)
    pcm.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val st = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, 3L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(st,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val in = Seq(graft.api.MediaIn(1L, bos.toByteArray, "audio/wav"),
      graft.api.MediaIn(2L, "nope".getBytes, "audio/wav")).toDS()
    val out = MultimodalDecode.audioFeatures(in).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).ok && out(1L).n_samples === 3L)
    assert(out(1L).sum_sq === (100L * 100 + 200L * 200 + 300L * 300))
    assert(out(1L).n_zero_cross === 2L, "sign flips at both transitions")
    assert(!out(2L).ok && out(2L).sum_sq === 0L)
  }

  test("dHash64: identical pixels hash equal, a small edit stays near") {
    val a = MultimodalDecode.encodePng(24, 18, seed = 3L)
    val b = MultimodalDecode.encodePng(24, 18, seed = 3L)
    assert(MultimodalDecode.dHash64(a) === MultimodalDecode.dHash64(b),
      "byte-identical images must fingerprint identically")
    // corrupt bytes have no hash
    assert(MultimodalDecode.dHash64("junk".getBytes).isEmpty)
    // near-dup: flip ONE source pixel and re-encode — only the hash bits
    // whose 9x8 comparison windows cover that pixel may move
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a))
    img.setRGB(5, 5, 0xffffff ^ img.getRGB(5, 5))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val near = MultimodalDecode.dHash64(bos.toByteArray).get
    val base = MultimodalDecode.dHash64(a).get
    val ham = java.lang.Long.bitCount(base ^ near)
    assert(ham <= 6, s"one-pixel edit moved $ham dHash bits — not local")
    // a different seed is a different image: hashes far apart
    val other = MultimodalDecode.dHash64(
      MultimodalDecode.encodePng(24, 18, seed = 4L)).get
    assert(java.lang.Long.bitCount(base ^ other) > 10,
      "unrelated images must not fingerprint near each other")
  }

  test("encodePng is deterministic; distinct seeds give distinct bytes") {
    val a = MultimodalDecode.encodePng(8, 5, 7L)
    val b = MultimodalDecode.encodePng(8, 5, 7L)
    val c = MultimodalDecode.encodePng(8, 5, 8L)
    assert(java.util.Arrays.equals(a, b))
    assert(!java.util.Arrays.equals(a, c))
  }

  test("every byte-truncation of real payloads decodes loudly, never throws") {
    // the dirty-feed contract for codecs: a feed can cut a payload at
    // ANY byte; every prefix must yield ok=false (or ok=true for the
    // full payload) — never a thrown partition. Exhaustive over a whole
    // PNG and a whole WAV, plus the resample and feature paths.
    val png = MultimodalDecode.encodePng(10, 6, seed = 11L)
    (0 until png.length).foreach { n =>
      val m = graft.api.MediaIn(n.toLong, png.take(n), "image/png")
      val r = MultimodalDecode.resampleOne(m, box = 8) // must not throw
      // prefixes inside the signature/IHDR region can never decode;
      // longer ones MAY (ImageIO tolerates a truncated IEND once every
      // IDAT byte is present — found by this very sweep), but any
      // successful decode must report the true dims
      if (n <= 40) assert(!r.ok, s"PNG prefix of $n bytes decoded")
      else if (r.ok) assert(r.src_w === 10 && r.src_h === 6)
    }
    assert(MultimodalDecode.resampleOne(
      graft.api.MediaIn(0L, png, "image/png"), box = 8).ok)
    val wav = MultimodalDecode.encodeWav(frames = 64, seed = 11L)
    (0 until wav.length).foreach { n =>
      val m = graft.api.MediaIn(n.toLong, wav.take(n), "audio/wav")
      val f = MultimodalDecode.audioFeaturesOne(m)
      // a truncated RIFF may still parse its header; the contract is
      // only no-throw + self-consistent output, never a crash
      assert(f.n_samples >= 0L)
    }
    assert(MultimodalDecode.audioFeaturesOne(
      graft.api.MediaIn(1L, wav, "audio/wav")).ok)
  }

  test("video: a real MP4 box walk extracts mvhd/tkhd fields (both versions)") {
    import spark.implicits._
    val v0 = MultimodalDecode.encodeMp4(
      durationUnits = 4500L, timescale = 900, width = 640, height = 360)
    val v1 = MultimodalDecode.encodeMp4(
      durationUnits = 7200L, timescale = 600, width = 1280, height = 720,
      version1 = true)
    // genuine ISO-BMFF: the first box is ftyp, length-prefixed
    assert(new String(v0.slice(4, 8), "US-ASCII") === "ftyp")
    val in = Seq(
      graft.api.MediaIn(1L, v0, "video/mp4"),
      graft.api.MediaIn(2L, v1, "video/mp4"),
      graft.api.MediaIn(3L, v0.take(12), "video/mp4"),   // truncated
      graft.api.MediaIn(4L, "not a container".getBytes, "video/mp4"),
      graft.api.MediaIn(5L, null, "video/mp4")).toDS()
    val out = MultimodalDecode.probeVideo(in).collect()
      .map(m => m.doc_id -> m).toMap
    // 4500 units at timescale 900 = 5000 ms exactly
    assert(out(1L).ok && out(1L).duration_ms === 5000L
      && out(1L).timescale === 900 && out(1L).width === 640
      && out(1L).height === 360)
    // version-1 (64-bit time) layout parses identically
    assert(out(2L).ok && out(2L).duration_ms === 12000L
      && out(2L).timescale === 600 && out(2L).width === 1280
      && out(2L).height === 720)
    Seq(3L, 4L, 5L).foreach { id =>
      assert(!out(id).ok && out(id).duration_ms === 0L
        && out(id).width === 0,
        s"corrupt video payload $id must fail loudly with zeros")
    }
    // integer-floor ms conversion: 1000 units at timescale 600 -> 1666 ms
    val floorCase = MultimodalDecode.probeVideoOne(graft.api.MediaIn(9L,
      MultimodalDecode.encodeMp4(1000L, 600, 320, 240), "video/mp4"))
    assert(floorCase.duration_ms === 1666L)
    // the generic decode harness routes video/* through the same parser
    val meta = MultimodalDecode.decode(in).collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(1L).ok && meta(1L).width === 640 && meta(1L).height === 360)
    assert(!meta(4L).ok && meta(4L).width === 0)
  }

  test("video tracks: per-trak rows with real hdlr handlers, both versions") {
    import spark.implicits._
    val two = MultimodalDecode.encodeMp4(6000L, 1000, 854, 480,
      audioTrack = true)
    val oneV1 = MultimodalDecode.encodeMp4(3000L, 600, 426, 240,
      version1 = true)
    val in = Seq(
      graft.api.MediaIn(1L, two, "video/mp4"),
      graft.api.MediaIn(2L, oneV1, "video/mp4"),
      graft.api.MediaIn(3L, two.take(12), "video/mp4")).toDS()
    val got = MultimodalDecode.probeVideoTracks(in).collect()
      .map(t => (t.doc_id, t.track_id, t.handler, t.width, t.height, t.ok))
      .toSet
    assert(got === Set(
      (1L, 1L, "vide", 854, 480, true),
      (1L, 2L, "soun", 0, 0, true),
      (2L, 1L, "vide", 426, 240, true),
      (3L, 0L, "", 0, 0, false)),
      s"unexpected track rows: $got")
    // the whole-file probe still reads the FIRST (video) track's dims
    // on a two-track container
    val whole = MultimodalDecode.probeVideoOne(
      graft.api.MediaIn(9L, two, "video/mp4"))
    assert(whole.ok && whole.width === 854 && whole.height === 480)
  }

  test("video: malformed box structures fail loudly, never throw") {
    def probe(bytes: Array[Byte]): graft.api.VideoMeta =
      MultimodalDecode.probeVideoOne(graft.api.MediaIn(0L, bytes, "video/mp4"))
    val good = MultimodalDecode.encodeMp4(3000L, 1000, 320, 240)
    // every byte-truncation of a real container: ok only for the full one
    (0 until good.length).foreach { n =>
      assert(!probe(good.take(n)).ok, s"truncated container of $n bytes parsed")
    }
    assert(probe(good).ok)
    // a box whose declared size overruns the payload
    val overrun = good.clone()
    overrun(0) = 0x7f.toByte // ftyp size becomes huge
    assert(!probe(overrun).ok)
    // a box size below the 8-byte header minimum (not the to-EOF 0 or
    // the largesize 1 escapes) makes the walk non-advancing -> reject
    val tiny = good.clone()
    tiny(3) = 4.toByte
    assert(!probe(tiny).ok)
    // moov present but mvhd renamed away -> missing required child
    val noMvhd = good.clone()
    val mvhdAt = {
      var i = 0
      while (!(noMvhd(i) == 'm' && noMvhd(i + 1) == 'v' &&
        noMvhd(i + 2) == 'h' && noMvhd(i + 3) == 'd')) i += 1
      i
    }
    noMvhd(mvhdAt) = 'x'.toByte
    assert(!probe(noMvhd).ok)
    // an unknown mvhd version byte
    val badVer = good.clone()
    badVer(mvhdAt + 4) = 5.toByte
    assert(!probe(badVer).ok)
  }

  test("encodeMp4 is deterministic; size==0 (to-EOF) final box parses") {
    val a = MultimodalDecode.encodeMp4(3000L, 1000, 320, 240)
    val b = MultimodalDecode.encodeMp4(3000L, 1000, 320, 240)
    assert(java.util.Arrays.equals(a, b))
    // rewrite the top-level moov size to 0 = "extends to end of file":
    // the spec-legal last-box form the walker must also accept
    val ftypEnd = ((a(0) & 0xff) << 24) | ((a(1) & 0xff) << 16) |
      ((a(2) & 0xff) << 8) | (a(3) & 0xff)
    val toEof = a.clone()
    toEof(ftypEnd) = 0; toEof(ftypEnd + 1) = 0
    toEof(ftypEnd + 2) = 0; toEof(ftypEnd + 3) = 0
    val m = MultimodalDecode.probeVideoOne(
      graft.api.MediaIn(0L, toEof, "video/mp4"))
    assert(m.ok && m.timescale === 1000 && m.width === 320)
  }

  test("decode is deterministic and map-only (no shuffle)") {
    val a = MultimodalDecode.decodeDF(payloads)
    val b = MultimodalDecode.decodeDF(payloads)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "decode stage must not shuffle")
  }

  test("spreadScan fans a one-split scan out to defaultParallelism and " +
      "leaves an already-wide input unshuffled") {
    val p = spark.sparkContext.defaultParallelism
    val aqe = new AdaptiveSparkPlanHelper {}
    def shuffles(df: DataFrame) =
      aqe.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
    val ids = Tables.documents(spark, sf).select(col("doc_id"))
    assert(ids.rdd.getNumPartitions < p, "fixture premise: one-file scan")
    assert(shuffles(GraftOps.spreadScan(ids)) === Seq(RoundRobinPartitioning(p)))
    assert(LlmQueries.mediaPngTable(spark, sf).rdd.getNumPartitions === p)
    val wide = spark.range(0L, 64L, 1L, p).toDF()
    assert(GraftOps.spreadScan(wide) eq wide)
    assert(shuffles(GraftOps.spreadScan(wide)).isEmpty)
  }

  test("images: GIF/BMP/TIFF round-trip dims through the pooled sniffed " +
      "readers; truncations fail loudly") {
    Seq("gif", "bmp", "tiff", "png", "jpeg").foreach { fmt =>
      val bytes = MultimodalDecode.encodeImage(fmt, 13, 7, seed = 42L)
      val m = MultimodalDecode.decodeOne(
        graft.api.MediaIn(1L, bytes, s"image/$fmt"))
      assert(m.ok && m.width === 13 && m.height === 7, s"format $fmt")
      // every prefix must decode loudly or report true dims, never throw
      (0 until math.min(bytes.length, 64)).foreach { n =>
        val t = MultimodalDecode.decodeOne(
          graft.api.MediaIn(2L, bytes.take(n), s"image/$fmt"))
        if (t.ok) assert(t.width === 13 && t.height === 7)
      }
      assert(!MultimodalDecode.decodeOne(
        graft.api.MediaIn(3L, bytes.take(5), s"image/$fmt")).ok)
    }
  }

  test("mp3: the frame walk reads real headers, skips ID3v2, handles VBR " +
      "and rejects malformations") {
    // 6 frames at 128 kbps / 44100 Hz: flen = 417, duration 156 ms
    val cbr = MultimodalDecode.encodeMp3(6, 9, 0, seed = 5L)
    val m = MultimodalDecode.probeMp3One(
      graft.api.MediaIn(1L, cbr, "audio/mpeg"))
    assert(m.ok && m.n_frames === 6L && m.bitrate_kbps === 128 &&
      m.sample_rate === 44100)
    assert(m.n_bytes === 6L * (144000 * 128 / 44100))
    assert(m.duration_ms === 6L * 1152 * 1000 / 44100)
    // ID3v2-prefixed stream walks identically after the synchsafe skip
    val tagged = MultimodalDecode.encodeMp3(6, 9, 0, seed = 5L,
      withId3 = true)
    val mt = MultimodalDecode.probeMp3One(
      graft.api.MediaIn(2L, tagged, "audio/mpeg"))
    assert(mt.ok && mt.n_frames === 6L && mt.duration_ms === m.duration_ms)
    // VBR: frames of DIFFERENT bitrates — the walk must hop each
    // frame's own length; reported bitrate is the first frame's
    val vbr = MultimodalDecode.encodeMp3(2, 9, 0, seed = 7L) ++
      MultimodalDecode.encodeMp3(3, 14, 0, seed = 7L)
    val mv = MultimodalDecode.probeMp3One(
      graft.api.MediaIn(3L, vbr, "audio/mpeg"))
    assert(mv.ok && mv.n_frames === 5L && mv.bitrate_kbps === 128)
    // malformations: every byte-truncation is loud, never a throw
    (0 until cbr.length by 13).foreach { n =>
      val t = MultimodalDecode.probeMp3One(
        graft.api.MediaIn(4L, cbr.take(n), "audio/mpeg"))
      assert(!t.ok, s"truncation at $n bytes must fail loudly")
    }
    // bad sync, reserved bitrate (0/15), reserved rate index
    def corrupt(at: Int, v: Int): Boolean = {
      val c = cbr.clone(); c(at) = v.toByte
      MultimodalDecode.probeMp3One(
        graft.api.MediaIn(5L, c, "audio/mpeg")).ok
    }
    assert(!corrupt(0, 0xfe) && !corrupt(1, 0xf3) &&
      !corrupt(2, 0x00) && !corrupt(2, 0xf0) && !corrupt(2, 0x9c))
    assert(!MultimodalDecode.probeMp3One(
      graft.api.MediaIn(6L, Array[Byte](), "audio/mpeg")).ok)
    assert(!MultimodalDecode.probeMp3One(
      graft.api.MediaIn(7L, null, "audio/mpeg")).ok)
  }

  test("flac: STREAMINFO bit unpacking round-trips, the block chain is " +
      "walked, malformations are loud") {
    // 48 kHz stereo 24-bit, 123456 samples -> duration floor 2572 ms
    val f = MultimodalDecode.encodeFlac(48000, 2, 24, 123456L, seed = 3L,
      bodyLen = 50)
    val m = MultimodalDecode.probeFlacOne(
      graft.api.MediaIn(1L, f, "audio/flac"))
    assert(m.ok && m.sample_rate === 48000 && m.channels === 2 &&
      m.bits_per_sample === 24 && m.total_samples === 123456L)
    assert(m.duration_ms === 123456L * 1000 / 48000)
    assert(m.n_bytes === 4L + 38 + 50)
    // padding block AFTER streaminfo (the spec-legal multi-block
    // layout): the probe must walk the chain, not read a fixed last
    // block; identical fields, 20 more bytes
    val fp = MultimodalDecode.encodeFlac(48000, 2, 24, 123456L, seed = 3L,
      bodyLen = 50, withPadding = true)
    val mp = MultimodalDecode.probeFlacOne(
      graft.api.MediaIn(2L, fp, "audio/flac"))
    assert(mp.ok && mp.sample_rate === 48000 &&
      mp.total_samples === 123456L && mp.n_bytes === m.n_bytes + 20)
    // a PADDING block FIRST (STREAMINFO second) is spec-invalid — the
    // probe must reject it as loudly as any other malformation; build
    // the illegal layout by hand from the legal one's bytes
    val illegal = new Array[Byte](fp.length)
    System.arraycopy(fp, 0, illegal, 0, 4)
    System.arraycopy(fp, 4 + 38, illegal, 4, 20)        // PADDING first
    illegal(4) = 1                                       // not last
    System.arraycopy(fp, 4, illegal, 24, 38)             // STREAMINFO
    illegal(24) = (0x80 | 0).toByte                      // now last
    System.arraycopy(fp, 4 + 38 + 20, illegal, 4 + 38 + 20,
      fp.length - (4 + 38 + 20))                         // frames
    assert(!MultimodalDecode.probeFlacOne(
      graft.api.MediaIn(7L, illegal, "audio/flac")).ok,
      "non-first STREAMINFO must fail loudly")
    // a >2^32 total-samples value exercises the 36-bit field's high bits
    val big = MultimodalDecode.encodeFlac(44100, 1, 16, (1L << 35) + 7L,
      seed = 9L, bodyLen = 8)
    assert(MultimodalDecode.probeFlacOne(
      graft.api.MediaIn(3L, big, "audio/flac")).total_samples ===
      (1L << 35) + 7L)
    // every truncation inside the metadata region + sync is loud, never
    // a throw (body truncation past the sync is invisible to a header
    // probe by design — FLAC frames carry no length field, so only a
    // full decoder could notice; the probe's contract stops at the
    // verified STREAMINFO + first frame sync)
    (0 until (4 + 38 + 2) by 7).foreach { n =>
      assert(!MultimodalDecode.probeFlacOne(
        graft.api.MediaIn(4L, f.take(n), "audio/flac")).ok,
        s"truncation at $n bytes must fail loudly")
    }
    // bad magic, forbidden block type, missing frame sync
    def corrupt(at: Int, v: Int): Boolean = {
      val c = f.clone(); c(at) = v.toByte
      MultimodalDecode.probeFlacOne(
        graft.api.MediaIn(5L, c, "audio/flac")).ok
    }
    assert(!corrupt(0, 'g') && !corrupt(4, 0xff) &&
      !corrupt(4 + 38, 0x00) && !corrupt(4 + 39, 0x00))
    assert(!MultimodalDecode.probeFlacOne(
      graft.api.MediaIn(6L, null, "audio/flac")).ok)
  }

  test("warc: record walk round-trips the fixture layout, headers fold " +
      "case, malformations are loud") {
    def rec(id: Long, n: Int) = MultimodalDecode.parseWarcOne(
      graft.api.MediaIn(id, MultimodalDecode.encodeWarc(id, n),
        "application/warc"))
    // 3 records: warcinfo (no Target-URI -> ''), then parity types
    val r = rec(5L, 3)
    assert(r.map(_.rec_idx) === Seq(1L, 2L, 3L) && r.forall(_.ok))
    assert(r.map(_.warc_type) === Seq("warcinfo", "request", "response"))
    assert(r.head.target_uri === "" &&
      r(1).target_uri === "https://example5.com/p2")
    assert(r.map(_.content_length) ===
      (1 to 3).map(k => 20L + (5 * 7 + k * 13) % 50))
    assert(r.map(_.n_headers) === Seq(4, 5, 5))
    // header names are case-insensitive per spec: hand-build a record
    // with lowercase names and the walk must still find them
    val lower = ("WARC/1.1\r\nwarc-type: response\r\ncontent-length: 4\r\n" +
      "warc-target-uri: https://x/y\r\n\r\nBODY\r\n\r\n")
      .getBytes("US-ASCII")
    val lr = MultimodalDecode.parseWarcOne(
      graft.api.MediaIn(9L, lower, "application/warc"))
    assert(lr.size === 1 && lr.head.ok &&
      lr.head.warc_type === "response" && lr.head.content_length === 4L &&
      lr.head.target_uri === "https://x/y")
    // ISO 28500 allows UTF-8 header VALUES: an IRI-ish Target-URI must
    // parse (valid UTF-8 accepted), while an INVALID UTF-8 byte in a
    // header line is still a loud ok=0 — never a U+FFFD substitution
    val iri = ("WARC/1.1\r\nWARC-Type: response\r\nContent-Length: 2\r\n" +
      "WARC-Target-URI: https://x/café\r\n\r\nok\r\n\r\n")
      .getBytes("UTF-8")
    val ir = MultimodalDecode.parseWarcOne(
      graft.api.MediaIn(10L, iri, "application/warc"))
    assert(ir.size === 1 && ir.head.ok &&
      ir.head.target_uri === "https://x/café")
    // é as the BARE latin-1 byte 0xe9: a 3-byte UTF-8 lead whose second
    // continuation ('\r') is invalid -> loud malformed header line
    val badUtf8 = iri.clone()
    badUtf8(iri.indexOf(0xc3.toByte)) = 0xe9.toByte
    val badRows = MultimodalDecode.parseWarcOne(
      graft.api.MediaIn(11L, badUtf8, "application/warc"))
    assert(badRows.size === 1 && !badRows.head.ok)
    // every malformation is ONE loud ok=0 row, never a throw
    def loud(bytes: Array[Byte]): Boolean = {
      val out = MultimodalDecode.parseWarcOne(
        graft.api.MediaIn(7L, bytes, "application/warc"))
      out.size == 1 && !out.head.ok
    }
    val good = MultimodalDecode.encodeWarc(7L, 2)
    assert(loud(good.take(good.length - 6)), "lost terminator")
    assert(loud(good.take(good.length - 1)), "short final CRLF")
    assert(loud(good ++ "junk".getBytes("US-ASCII")), "trailing garbage")
    assert(loud("HTTP/1.0\r\n\r\n".getBytes("US-ASCII")), "bad version")
    assert(loud(("WARC/1.0\r\nWARC-Type: response\r\n\r\n" +
      "\r\n\r\n").getBytes("US-ASCII")), "missing Content-Length")
    assert(loud(("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 9z\r\n" +
      "\r\n\r\n\r\n").getBytes("US-ASCII")), "non-numeric length")
    assert(loud(("WARC/1.0\r\nContent-Length: 0\r\n\r\n" +
      "\r\n\r\n").getBytes("US-ASCII")), "missing WARC-Type")
    assert(loud(("WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 999\r\n" +
      "\r\nab\r\n\r\n").getBytes("US-ASCII")), "block past payload")
    assert(loud(("WARC/1.0\r\nNoColonHere\r\n\r\n\r\n\r\n")
      .getBytes("US-ASCII")), "header without separator")
    assert(loud(Array[Byte]()) && loud(null))
  }

  test("warc.gz: per-record gzip members invert to the plain records, " +
      "header flags walk, CRC/ISIZE/bomb/short-trailer faults are loud") {
    // round-trip: every member's record fields AND inflated byte count
    // match the plain container's records exactly
    val id = 6L
    val members = MultimodalDecode.parseWarcGzOne(graft.api.MediaIn(
      id, MultimodalDecode.encodeWarcGz(id, 3), "application/warc+gzip"))
    val plain = MultimodalDecode.parseWarcOne(graft.api.MediaIn(
      id, MultimodalDecode.encodeWarc(id, 3), "application/warc"))
    assert(members.size === 3 && members.forall(_.ok))
    assert(members.map(_.member_idx) === Seq(1L, 2L, 3L))
    assert(members.map(m => (m.warc_type, m.target_uri, m.content_length,
      m.n_headers)) === plain.map(r => (r.warc_type, r.target_uri,
      r.content_length, r.n_headers)))
    assert(members.map(_.plain_len) ===
      (1 to 3).map(k => MultimodalDecode.encodeWarcRecord(id, k)
        .length.toLong))
    // optional header fields: splice FNAME + FEXTRA into a real member
    // (flag bits + payloads before the unchanged deflate body) — the
    // flag walk must hop them and still verify the trailer
    val m1 = MultimodalDecode.encodeWarcGz(1L, 1)
    val name = "rec.warc".getBytes("US-ASCII") :+ 0.toByte
    val extra = Array[Byte](3, 0, 'a', 'b', 'c') // XLEN=3 LE + payload
    val flagged = m1.take(3) ++ Array((4 | 8).toByte) ++
      m1.slice(4, 10) ++ extra ++ name ++ m1.drop(10)
    val fr = MultimodalDecode.parseWarcGzOne(graft.api.MediaIn(
      1L, flagged, "application/warc+gzip"))
    assert(fr.size === 1 && fr.head.ok &&
      fr.head.warc_type === "warcinfo")
    def loud(bytes: Array[Byte]): Boolean = {
      val out = MultimodalDecode.parseWarcGzOne(
        graft.api.MediaIn(7L, bytes, "application/warc+gzip"))
      out.size == 1 && !out.head.ok
    }
    // the three planted fixture arms (% 89 = 5 / 23 / 47)
    assert(loud(MultimodalDecode.encodeWarcGz(5L, 2)), "zeroed magic")
    assert(loud(MultimodalDecode.encodeWarcGz(23L, 2)), "flipped CRC")
    assert(loud(MultimodalDecode.encodeWarcGz(47L, 2)), "short trailer")
    // hand-built faults
    val good = MultimodalDecode.encodeWarcGz(7L, 2)
    assert(loud(good.take(good.length - 12)), "truncated deflate")
    val isizeFlip = good.clone()
    isizeFlip(good.length - 2) = (isizeFlip(good.length - 2) ^ 0x7f).toByte
    assert(loud(isizeFlip), "ISIZE mismatch")
    val reserved = good.clone()
    reserved(3) = 0x20.toByte // a reserved FLG bit
    assert(loud(reserved), "reserved flag bit")
    assert(loud("not gzip at all".getBytes("US-ASCII")), "bad magic")
    assert(loud(Array[Byte]()) && loud(null))
    // a member holding TWO records breaks the seekability contract
    val twoRecs = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(MultimodalDecode.encodeWarc(7L, 2)); gz.close()
      bos.toByteArray
    }
    assert(loud(twoRecs), "two records in one member")
    // zip-bomb guard: the cap faults loudly instead of inflating
    val capped = MultimodalDecode.parseWarcGzOne(graft.api.MediaIn(
      7L, MultimodalDecode.encodeWarcGz(7L, 1), "application/warc+gzip"),
      maxPlain = 10)
    assert(capped.size === 1 && !capped.head.ok)
  }

  test("charset: BOM/meta/fold verdicts and exact walk counts per " +
      "planted mode; contradictions and de-alignment are loud") {
    def probe(id: Long) = MultimodalDecode.sniffCharsetOne(
      graft.api.MediaIn(id, MultimodalDecode.encodeCharsetDoc(id),
        "text/html"))
    // mode 0 (id=0): pure ASCII, l=20
    val p0 = probe(0)
    assert(p0.ok && p0.bom === "" && p0.meta_charset === "" &&
      p0.detected === "ascii" && p0.n_bytes === 20L && p0.n_ascii === 20L)
    // mode 1 (id=1): BOM + truthful meta + k=2 two-byte seqs, l=27
    val p1 = probe(1)
    assert(p1.ok && p1.bom === "utf-8" && p1.meta_charset === "utf-8" &&
      p1.detected === "utf-8" && p1.n_bytes === 56L &&
      p1.n_ascii === 49L && p1.n_valid_mb === 2L)
    // mode 2 (id=2): the meta LIES (iso-8859-1) over valid UTF-8 —
    // byte evidence wins, the lie stays visible in meta_charset
    val p2 = probe(2)
    assert(p2.ok && p2.bom === "" && p2.meta_charset === "iso-8859-1" &&
      p2.detected === "utf-8" && p2.n_valid_mb === 3L &&
      p2.n_ascii === 61L && p2.n_bytes === 70L)
    // mode 3 (id=3): cp1252 evidence — k=4 C1 bytes decide the fold
    val p3 = probe(3)
    assert(p3.ok && p3.detected === "windows-1252" &&
      p3.meta_charset === "windows-1252" && p3.n_c1 === 4L &&
      p3.n_invalid === 4L && p3.n_truncated === 4L &&
      p3.n_ascii === 78L && p3.n_bytes === 86L)
    // mode 4 (id=4): high bytes, no C1 evidence -> latin-1, k=5
    val p4 = probe(4)
    assert(p4.ok && p4.detected === "iso-8859-1" &&
      p4.meta_charset === "" && p4.n_c1 === 0L && p4.n_truncated === 5L &&
      p4.n_ascii === 53L && p4.n_bytes === 58L)
    // mode 5 (id=5): the fault zoo, v=2 overlongs
    val p5 = probe(5)
    assert(p5.ok && p5.detected === "windows-1252" &&
      p5.n_overlong === 2L && p5.n_surrogate === 1L &&
      p5.n_invalid === 2L && p5.n_truncated === 1L && p5.n_c1 === 1L &&
      p5.n_ascii === 60L && p5.n_bytes === 71L && p5.n_valid_mb === 0L)
    // mode 6: UTF-16 both byte orders by (id / 7) parity
    val p6 = probe(6)
    assert(p6.ok && p6.bom === "utf-16le" && p6.detected === "utf-16le" &&
      p6.n_bytes === 46L && p6.n_ascii === 0L)
    val p27 = probe(27)
    assert(p27.ok && p27.bom === "utf-16be" && p27.detected === "utf-16be")
    // corrupt arms: one loud zeroed row each, never a throw
    val c8 = probe(8) // UTF-8 BOM contradicted by a truncated lead
    assert(!c8.ok && c8.detected === "" && c8.n_bytes === 0L)
    val c13 = probe(13) // de-aligned UTF-16
    assert(!c13.ok)
    assert(!MultimodalDecode.sniffCharsetOne(
      graft.api.MediaIn(7L, null, "text/html")).ok)
    assert(!MultimodalDecode.sniffCharsetOne(
      graft.api.MediaIn(7L, Array.emptyByteArray, "text/html")).ok)
    // meta prescan edges: uppercase key, single quotes, unquoted value,
    // and the 1024-byte scan horizon
    def meta(s: String) = MultimodalDecode.sniffCharsetOne(
      graft.api.MediaIn(9L, s.getBytes("US-ASCII"), "text/html"))
      .meta_charset
    assert(meta("<META CHARSET='Windows-1252'>x") === "windows-1252")
    assert(meta("<meta http-equiv=x content=\"text/html; charset=utf-8\">")
      === "utf-8")
    assert(meta("<meta charset=latin1>") === "latin1")
    assert(meta(("x" * 1200) + "<meta charset=\"utf-8\">") === "")
    // first declaration wins
    assert(meta("<meta charset=\"a\"><meta charset=\"b\">") === "a")
  }

  test("vadSegments: run merging, partial-window clamp, all-silent " +
      "files emit nothing, malformations are loud") {
    // seed 0: silent iff (3w) mod 11 < 4 -> w in {0,1,4,8} per period;
    // active runs per 11 windows: {2,3}, {5,6,7}, {9,10}
    val frames = 11 * 160 + 73 // window 11 (silent: (33)%11=0) partial
    val wav = MultimodalDecode.encodeWavVad(frames, seed = 0L)
    val segs = MultimodalDecode.vadSegmentsOne(
      graft.api.MediaIn(1L, wav, "audio/wav"), 160, 1L)
    assert(segs.forall(_.ok))
    assert(segs.map(s => (s.seg_idx, s.start_ms, s.end_ms, s.n_windows))
      === Seq(
        // 20 ms per window at 8 kHz
        (1L, 40L, 80L, 2L),    // windows 2-3
        (2L, 100L, 160L, 3L),  // windows 5-7
        (3L, 180L, 220L, 2L))) // windows 9-10; 11 is silent+partial
    // a partial ACTIVE trailing window clamps end_ms to the true frame
    // count: seed 1 -> silent iff (1+3w)%11<4 -> w in {0,4,7,8}; with
    // 370 frames (3 windows), window 0 is silent and 1-2 are active,
    // the last partial -> one segment ending at frame 370, not 480
    val segs2 = MultimodalDecode.vadSegmentsOne(
      graft.api.MediaIn(2L, MultimodalDecode.encodeWavVad(370, seed = 1L),
        "audio/wav"), 160, 1L)
    assert(segs2.map(s => (s.start_ms, s.end_ms, s.n_windows)) ===
      Seq((20L, 370L * 1000 / 8000, 2L)))
    // all-silent valid file: zero rows (nothing to keep), never a fake
    // segment — craft by zeroing an encoded file's PCM via a seed whose
    // every window is silent: impossible for mod-11, so build directly
    val silent = MultimodalDecode.encodeWavVad(0, seed = 0L)
    assert(MultimodalDecode.vadSegmentsOne(
      graft.api.MediaIn(3L, silent, "audio/wav"), 160, 1L).isEmpty)
    // malformations: truncation and garbage are ONE loud ok=0 row
    val badT = MultimodalDecode.vadSegmentsOne(
      graft.api.MediaIn(4L, wav.take(8), "audio/wav"), 160, 1L)
    assert(badT.size === 1 && !badT.head.ok)
    val badG = MultimodalDecode.vadSegmentsOne(
      graft.api.MediaIn(5L, null, "audio/wav"), 160, 1L)
    assert(badG.size === 1 && !badG.head.ok)
  }

  test("dHashOriented64: all eight EXIF orientations land on the " +
      "upright fingerprint; tag is read off a CRC-verified eXIf chunk; " +
      "malformations are loud") {
    val variants = (1 to 8).map { o =>
      val png = MultimodalDecode.encodePngOriented(20, 17, 42L, o)
      (o, png, MultimodalDecode.dHashOriented64(png))
    }
    val upright = variants.head._3.get._2
    variants.foreach { case (o, png, r) =>
      assert(r.isDefined && r.get._1 === o && r.get._2 === upright,
        s"orientation $o must report the tag and the upright hash")
      // the stored bytes are genuinely transformed — for o != 1 the
      // PLAIN hash of the stored pixels must differ (the tag, not the
      // pixels, carries the identity; a reader ignoring it splits the
      // class)
      if (o != 1)
        assert(MultimodalDecode.dHash64(png).get !== upright,
          s"orientation $o stored pixels must not hash upright untagged")
    }
    // distinct fields do not collide
    val other = MultimodalDecode.dHashOriented64(
      MultimodalDecode.encodePngOriented(20, 17, 43L, 6)).get._2
    assert(other !== upright)
    // no eXIf chunk -> upright by the absence default
    assert(MultimodalDecode.dHashOriented64(
      MultimodalDecode.encodePngOriented(20, 17, 42L, 1)).get._1 === 1)
    // malformed chunk fails loudly, never "assume upright": corrupt the
    // CRC byte of the spliced chunk (offset 33 starts the eXIf chunk;
    // its CRC is its last 4 bytes)
    val tagged = MultimodalDecode.encodePngOriented(20, 17, 42L, 6)
    val badCrc = tagged.clone()
    badCrc(33 + 61) = (badCrc(33 + 61) ^ 0x7f).toByte
    assert(MultimodalDecode.dHashOriented64(badCrc).isEmpty)
    // corrupt the TIFF magic inside the chunk (CRC updated to match, so
    // ONLY the TIFF walk can reject it)
    val badTiff = tagged.clone()
    badTiff(33 + 8 + 3) = 0x00 // magic low byte: 42 -> 0
    val crc = new java.util.zip.CRC32
    crc.update(badTiff, 33 + 4, 4 + 50)
    val v = crc.getValue
    (0 to 3).foreach { i =>
      badTiff(33 + 58 + i) = ((v >> (24 - 8 * i)) & 0xff).toByte
    }
    assert(MultimodalDecode.dHashOriented64(badTiff).isEmpty)
    assert(MultimodalDecode.dHashOriented64(null).isEmpty &&
      MultimodalDecode.dHashOriented64(Array[Byte](1, 2)).isEmpty)
  }

  test("dHashRot64: all four stored orientations share one canonical " +
      "value; distinct fields do not collide; plain dHash differs") {
    val hashes = (0 to 3).map { t =>
      MultimodalDecode.dHashRot64(
        MultimodalDecode.encodePngRotated(20, 17, seed = 9L, turns = t)).get
    }
    assert(hashes.distinct.size === 1,
      s"four orientations must fold to one canonical hash: $hashes")
    // the canonical value is the min over the orientation dHashes —
    // pinned across several grid shapes (incl. sub-grid dims where the
    // forced-non-empty cell rule kicks in), which is the bit-equality
    // law between dHash64's streamed-row copy of the cell formulas and
    // dHashGrid's accessor copy: diverge either and this fails
    for ((w, h) <- Seq((20, 17), (16, 16), (33, 19), (9, 8))) {
      val plainMin = (0 to 3).map { t =>
        MultimodalDecode.dHash64(
          MultimodalDecode.encodePngRotated(w, h, seed = 9L, turns = t)).get
      }.min
      val rot = MultimodalDecode.dHashRot64(
        MultimodalDecode.encodePngRotated(w, h, seed = 9L, turns = 0)).get
      assert(rot === plainMin, s"copies diverged at ${w}x$h")
    }
    // plain dHash is orientation-SENSITIVE on this field (the gap the
    // rotation fold closes)
    val plain = (0 to 3).map { t =>
      MultimodalDecode.dHash64(
        MultimodalDecode.encodePngRotated(20, 17, seed = 9L, turns = t)).get
    }
    assert(plain.distinct.size > 1)
    // a different field lands elsewhere
    val other = MultimodalDecode.dHashRot64(
      MultimodalDecode.encodePngRotated(20, 17, seed = 10L, turns = 0)).get
    assert(other !== hashes.head)
    // corrupt bytes fail loudly
    assert(MultimodalDecode.dHashRot64(Array[Byte](1, 2, 3)).isEmpty)
    assert(MultimodalDecode.dHashRot64(null).isEmpty)
  }

  test("exif: both byte orders round-trip, the marker walk skips JFIF, " +
      "malformations are loud") {
    for (little <- Seq(true, false)) {
      val j = MultimodalDecode.encodeExif(800, 600, 6, little)
      val m = MultimodalDecode.probeExifOne(
        graft.api.MediaIn(1L, j, "image/jpeg"))
      assert(m.ok && m.width === 800 && m.height === 600 &&
        m.orientation === 6 && m.n_entries === 3 &&
        m.byte_order === (if (little) "II" else "MM"))
    }
    // a JFIF APP0 before the APP1 must be length-skipped, and the
    // extra IFD entry must show in the count without disturbing fields
    val j2 = MultimodalDecode.encodeExif(1024, 768, 8, littleEndian = true,
      withJfif = true, extraEntry = true)
    val m2 = MultimodalDecode.probeExifOne(
      graft.api.MediaIn(2L, j2, "image/jpeg"))
    assert(m2.ok && m2.width === 1024 && m2.height === 768 &&
      m2.orientation === 8 && m2.n_entries === 4)
    // truncations and field corruptions are loud, never a throw
    val base = MultimodalDecode.encodeExif(800, 600, 6, littleEndian = false)
    (0 until base.length by 5).foreach { n =>
      assert(!MultimodalDecode.probeExifOne(
        graft.api.MediaIn(3L, base.take(n), "image/jpeg")).ok,
        s"truncation at $n bytes must fail loudly")
    }
    def corrupt(at: Int, v: Int): Boolean = {
      val c = base.clone(); c(at) = v.toByte
      MultimodalDecode.probeExifOne(
        graft.api.MediaIn(4L, c, "image/jpeg")).ok
    }
    // bad SOI, oversized segment length, broken Exif signature byte,
    // invalid TIFF byte-order mark
    assert(!corrupt(1, 0xd7) && !corrupt(4, 'Q') && !corrupt(10, 0x4a) &&
      !corrupt(13, 41))
    // a crafted IFD0 offset whose u32 wraps .toInt negative (or points
    // past the segment) must be a loud row, never a thrown task: the
    // offset bytes sit at TIFF+4..7 = payload 16..19 on this layout
    def craftOffset(b: Array[Int]): Boolean = {
      val c = base.clone()
      (0 until 4).foreach(i => c(16 + i) = b(i).toByte)
      MultimodalDecode.probeExifOne(
        graft.api.MediaIn(6L, c, "image/jpeg")).ok
    }
    assert(!craftOffset(Array(0xf0, 0xff, 0xff, 0xff)), // toInt-negative
      "wrapping IFD0 offset must fail loudly")
    assert(!craftOffset(Array(0x00, 0x00, 0xff, 0x00)), // past segment
      "out-of-segment IFD0 offset must fail loudly")
    assert(!craftOffset(Array(0x00, 0x00, 0x00, 0x04)), // inside header
      "IFD0 offset inside the TIFF header must fail loudly")
    assert(!MultimodalDecode.probeExifOne(
      graft.api.MediaIn(5L, null, "image/jpeg")).ok)
  }

  test("srt: cue blocks parse to exact bounds and char counts; " +
      "malformations are one loud row") {
    def cues(s: String) = MultimodalDecode.parseSrtOne(
      graft.api.MediaIn(1L, s.getBytes("UTF-8"), "text/srt"))
    val good = "1\n00:00:01,500 --> 00:00:03,250\nhello there\n\n" +
      "2\n00:01:00,000 --> 01:00:59,999\nline one\nline two\n\n"
    val out = cues(good)
    assert(out.map(c => (c.cue_idx, c.start_ms, c.end_ms, c.n_chars,
      c.ok)) === Seq(
      (1L, 1500L, 3250L, 11L, true),
      (2L, 60000L, 3659999L, 16L, true)))
    // CRLF line endings parse identically
    assert(cues(good.replace("\n", "\r\n")).map(_.n_chars) ===
      Seq(11L, 16L))
    // the deterministic fixture round-trips its own formulas
    val enc = MultimodalDecode.parseSrtOne(graft.api.MediaIn(42L,
      MultimodalDecode.encodeSrt(42L, 4), "text/srt"))
    assert(enc.length === 4 && enc.forall(_.ok))
    assert(enc.map(_.start_ms) ===
      (0 until 4).map(i => i * 4000L + 42 % 1000))
    assert(enc.map(_.n_chars) === (0 until 4).map(i =>
      10L + (42 + i * 3) % 25 + (if (i % 3 == 0) 5 else 0)))
    // malformations: each is ONE loud ok=false row, never a throw
    val badOnes = Seq(
      "x\n00:00:01,500 --> 00:00:03,250\nhi\n",    // non-numeric index
      "0\n00:00:01,500 --> 00:00:03,250\nhi\n",    // non-positive index
      "1\n00:00:01.500 --> 00:00:03,250\nhi\n",    // wrong ms separator
      "1\n00:00:61,500 --> 00:01:03,250\nhi\n",    // seconds field > 59
      "1\n00:00:03,250 --> 00:00:01,500\nhi\n",    // end before start
      "1\n00:00:01,500 --> 00:00:03,250\n",        // no text line
      "")                                          // empty payload
    badOnes.foreach { s =>
      val r = cues(s)
      assert(r.length === 1 && !r.head.ok, s"must fail loudly: $s")
    }
    assert(!MultimodalDecode.parseSrtOne(
      graft.api.MediaIn(2L, null, "text/srt")).head.ok)
  }

  test("audio: stereo downmix is exact-integer floorDiv and AIFF carries " +
      "the same samples big-endian") {
    // replay the generator + downmix in plain integer Scala: slot j
    // sample, frame i mono value = floorDiv(s(2i) + s(2i+1), 2)
    def sample(seed: Long, j: Int): Int = {
      val v = ((seed * 31L + j * 2654435761L) & 0xffffL).toInt
      if (v >= 32768) v - 65536 else v
    }
    val (frames, seed) = (96, 17L)
    val mix = (0 until frames).map(i =>
      Math.floorDiv(sample(seed, 2 * i) + sample(seed, 2 * i + 1), 2))
    var (e, zc) = (0L, 0L)
    mix.indices.foreach { i =>
      e += mix(i).toLong * mix(i)
      if (i > 0 && (mix(i) < 0) != (mix(i - 1) < 0)) zc += 1
    }
    val st = MultimodalDecode.audioFeaturesOne(graft.api.MediaIn(1L,
      MultimodalDecode.encodeWav(frames, seed, channels = 2), "audio/wav"))
    assert(st.ok && st.n_samples === frames.toLong)
    assert(st.sum_sq === e && st.n_zero_cross === zc)
    // AIFF (big-endian by spec) with the same (frames, seed) must yield
    // the bit-identical mono features the little-endian WAV yields
    val wavF = MultimodalDecode.audioFeaturesOne(graft.api.MediaIn(2L,
      MultimodalDecode.encodeWav(frames, seed), "audio/wav"))
    val aifF = MultimodalDecode.audioFeaturesOne(graft.api.MediaIn(3L,
      MultimodalDecode.encodeAiff(frames, seed), "audio/aiff"))
    assert(aifF.ok && wavF.ok)
    assert(aifF.sum_sq === wavF.sum_sq &&
      aifF.n_zero_cross === wavF.n_zero_cross &&
      aifF.n_samples === wavF.n_samples)
    // stereo AIFF downmixes identically to stereo WAV
    val aifS = MultimodalDecode.audioFeaturesOne(graft.api.MediaIn(4L,
      MultimodalDecode.encodeAiff(frames, seed, channels = 2), "audio/aiff"))
    assert(aifS.ok && aifS.sum_sq === st.sum_sq &&
      aifS.n_zero_cross === st.n_zero_cross)
    // header metadata reports the true channel count for both containers
    val meta = MultimodalDecode.decodeAudioOne(graft.api.MediaIn(5L,
      MultimodalDecode.encodeAiff(frames, seed, channels = 2), "audio/aiff"))
    assert(meta.ok && meta.channels === 2 && meta.n_frames === frames.toLong)
  }

  test("video: hdlr-less audio-first container prefers the nonzero-dims " +
      "trak over dims.head") {
    // two traks, audio (0x0) first, NO mdia/hdlr boxes anywhere — the
    // legacy/minimal layout where handler-based selection cannot work
    val bytes = MultimodalDecode.encodeMp4(3000L, 600, 512, 288,
      audioTrack = true, writeHdlr = false, audioFirst = true)
    val m = MultimodalDecode.probeVideoOne(
      graft.api.MediaIn(1L, bytes, "video/mp4"))
    assert(m.ok, "hdlr-less container must still parse")
    assert(m.width === 512 && m.height === 288,
      s"expected the video trak's dims, got ${m.width}x${m.height}")
    // all-audio hdlr-less container: nothing nonzero exists — first trak
    // (legal 0x0) is the honest answer, still ok=true
    val audioOnly = MultimodalDecode.encodeMp4(3000L, 600, 0, 0,
      writeHdlr = false)
    val a = MultimodalDecode.probeVideoOne(
      graft.api.MediaIn(2L, audioOnly, "video/mp4"))
    assert(a.ok && a.width === 0 && a.height === 0)
  }
}
