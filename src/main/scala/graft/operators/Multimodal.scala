package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for a training-data
  * pipeline: opaque `binary` content + typed metadata, with
  * decode / feature-extract / resize / frame-sample stages.
  *
  * Codec boundary: PNG content is decoded FOR REAL via `javax.imageio`
  * ([[PngCodec]] — pixel features, true resize + re-encode) and WAV
  * via `javax.sound.sampled` ([[WavCodec]] — PCM samples, RMS-envelope
  * features); other kinds fall back to [[FakeCodec]], a deterministic
  * md5-derived stub standing in for the video libraries absent from
  * this environment. Dispatch is on the content's magic bytes, inside
  * the same batched mapPartitions boundary (the Scala analog of
  * mapInPandas: amortize per-batch codec setup across rows), so
  * adding further real formats is a registry entry, not a new
  * operator.
  *
  * Scale: media rows are large (MBs); the operators keep content
  * byte-arrays out of shuffles wherever possible (features/frames are
  * computed map-side and content is dropped before any wide stage),
  * and `repartitionForMedia` sizes partitions by total bytes rather
  * than row count.
  */
object Multimodal {

  /** STUB CODEC — deterministic fake standing in for image/audio
    * decoding. A real deployment replaces exactly these functions with
    * e.g. javax.imageio / ffmpeg bindings; their signatures (bytes in,
    * primitives out) are the codec boundary. */
  object FakeCodec {
    private val md5 = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    /** 48-bit value of md5(content ++ ":" ++ tag) — the per-channel
      * pseudo-signal. */
    def channel(content: Array[Byte], tag: Int): Long = {
      val md = md5.get()
      md.reset()
      md.update(content)
      md.update(s":$tag".getBytes("UTF-8"))
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h
    }

    /** "Decode + feature-extract": dim pseudo-features in [0, 1). */
    def features(content: Array[Byte], dim: Int): Array[Double] =
      Array.tabulate(dim)(j => (channel(content, j) % 1000000L) / 1000000.0)

    /** "Resize": a real impl re-encodes pixels; the stub re-hashes to
      * a (w*h)-dependent byte count so size bookkeeping stays honest. */
    def resize(content: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte](math.max(16, (w * h) / 64))
      var i = 0
      while (i < out.length) {
        out(i) = (channel(content, i / 16) >> ((i % 16) / 2)).toByte
        i += 1
      }
      out
    }
  }

  /** REAL image codec — PNG (and anything else `javax.imageio` can
    * sniff) decoded to pixels. Proves the codec boundary with actual
    * bytes: same (bytes in, primitives out) signatures as FakeCodec,
    * called from the same batched mapPartitions stages. */
  object PngCodec {
    /** 0x89 'P' 'N' 'G' \r \n 0x1a \n */
    def isPng(content: Array[Byte]): Boolean =
      content.length >= 8 &&
        (content(0) & 0xff) == 0x89 && content(1) == 'P' &&
        content(2) == 'N' && content(3) == 'G' &&
        content(4) == 0x0d && content(5) == 0x0a &&
        (content(6) & 0xff) == 0x1a && content(7) == 0x0a

    /** NonFatal, not just IOException: codec plugins throw unchecked
      * exceptions (CMMException, ArrayIndexOutOfBounds) on crafted or
      * corrupt bytes that pass the magic check — any decoder failure
      * must fall through to the stub, not abort the job. */
    def decode(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }

    /** Real pixel features: a `dim`-bin luma histogram, L1-normalized.
      * Deterministic, resolution-independent, and cheap — the shape a
      * perceptual-dedup / quality-filter stage consumes. */
    def features(img: java.awt.image.BufferedImage, dim: Int): Array[Double] = {
      val hist = new Array[Double](dim)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(math.min(dim - 1, luma * dim / 256)) += 1.0
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      if (n > 0) { var i = 0; while (i < dim) { hist(i) /= n; i += 1 } }
      hist
    }

    /** True resize: bilinear scale to w×h, re-encoded as PNG bytes. */
    def resize(img: java.awt.image.BufferedImage, w: Int, h: Int): Array[Byte] = {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** REAL JPEG codec — the dominant crawl-image format, decoded via
    * the JDK-bundled ImageIO JPEG reader behind the same magic-byte
    * gate as [[PngCodec]] (baseline and progressive JFIF/EXIF;
    * exotic variants like CMYK that the reader rejects fall through
    * to the stub like any other decode failure). */
  object JpegCodec {
    /** FF D8 (SOI) followed by a third FF (first marker byte) — the
      * `file(1)` JPEG signature; matches [[sniffType]]'s `FFD8FF`. */
    def isJpeg(content: Array[Byte]): Boolean =
      content.length >= 3 && (content(0) & 0xff) == 0xff &&
        (content(1) & 0xff) == 0xd8 && (content(2) & 0xff) == 0xff

    /** Same guarded ImageIO path as [[PngCodec.decode]] — NonFatal,
      * because codec plugins throw unchecked exceptions on crafted
      * bytes that pass the magic check. */
    def decode(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
  }


  /** Deterministic 16×16 baseline-JPEG fixture, pinned as hex so SQL
    * gates can `unhex` it and so the golden [[dhash]] below is a
    * decoder lock, not a magic number. Generated ONCE from the
    * pattern `v = (53x + 31y + 23·((x·y) mod 7)) mod 256` written as
    * TYPE_INT_RGB and encoded by the JDK's bundled ImageIO JPEG
    * writer; MultimodalSpec re-decodes these exact bytes and asserts
    * the dhash, so a JDK decoder change surfaces as a test failure,
    * never as a silent gate mismatch. */
  object JpegFixture {
    val hex: String =
    "FFD8FFE000104A46494600010200000100010000FFDB00430008060607060508" +
    "0707070909080A0C140D0C0B0B0C1912130F141D1A1F1E1D1A1C1C20242E2720" +
    "222C231C1C2837292C30313434341F27393D38323C2E333432FFDB0043010909" +
    "090C0B0C180D0D1832211C213232323232323232323232323232323232323232" +
    "323232323232323232323232323232323232323232323232323232323232FFC0" +
    "0011080010001003012200021101031101FFC4001F0000010501010101010100" +
    "000000000000000102030405060708090A0BFFC400B510000201030302040305" +
    "0504040000017D01020300041105122131410613516107227114328191A10823" +
    "42B1C11552D1F02433627282090A161718191A25262728292A3435363738393A" +
    "434445464748494A535455565758595A636465666768696A737475767778797A" +
    "838485868788898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7" +
    "B8B9BAC2C3C4C5C6C7C8C9CAD2D3D4D5D6D7D8D9DAE1E2E3E4E5E6E7E8E9EAF1" +
    "F2F3F4F5F6F7F8F9FAFFC4001F01000301010101010101010100000000000001" +
    "02030405060708090A0BFFC400B5110002010204040304070504040001027700" +
    "0102031104052131061241510761711322328108144291A1B1C109233352F015" +
    "6272D10A162434E125F11718191A262728292A35363738393A43444546474849" +
    "4A535455565758595A636465666768696A737475767778797A82838485868788" +
    "898A92939495969798999AA2A3A4A5A6A7A8A9AAB2B3B4B5B6B7B8B9BAC2C3C4" +
    "C5C6C7C8C9CAD2D3D4D5D6D7D8D9DAE2E3E4E5E6E7E8E9EAF2F3F4F5F6F7F8F9" +
    "FAFFDA000C03010002110311003F00AD610D9E870C979776B25E697A738B5B8B" +
    "289A27303E1E212A2961B9B794C93B597CD23E60A08B135B8B9B97B074B996F9" +
    "D95AE25B5122CB7708CAC9D76AC8AFB762A81B02A00AC431024D30D9C5AA5DCD" +
    "ACDD4FBB4FB39D120172B29B870B99D8121433B654904B306C02C31835F51B8B" +
    "8B48A3B386DEDD95A592E2E6E99E3856E59A26675653FEA77472499665079665" +
    "F9546003FFD9"
    /** dhash of the decoded fixture (real pixels, not the stub). */
    val dhash: Long = -3140463234907280851L
  }

  /** REAL GIF codec — GIF87a/89a via the JDK-bundled ImageIO GIF
    * reader behind the same magic gate; animated GIFs decode their
    * FIRST frame (ImageIO.read's contract), which is exactly what a
    * perceptual-dedup stage wants. */
  object GifCodec {
    /** 'G' 'I' 'F' '8' ('7'|'9') 'a' */
    def isGif(content: Array[Byte]): Boolean =
      content.length >= 6 &&
        content(0) == 'G' && content(1) == 'I' && content(2) == 'F' &&
        content(3) == '8' &&
        (content(4) == '7' || content(4) == '9') && content(5) == 'a'

    /** Same guarded ImageIO path as [[PngCodec.decode]]. */
    def decode(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Magic-gated image decode shared by the batched stages: real
    * pixels for PNG, JPEG, GIF and lossless WebP ([[Vp8lCodec]] —
    * the JDK has no WebP reader, so that one is a from-scratch RFC
    * 9649 decoder), None elsewhere — callers fall through to the
    * deterministic stub. Lossy WebP sniffs as webp but decodes None
    * (honest scope: VP8 is a DCT codec). */
  private[operators] def decodeImage(
      content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (PngCodec.isPng(content)) PngCodec.decode(content)
    else if (JpegCodec.isJpeg(content)) JpegCodec.decode(content)
    else if (GifCodec.isGif(content)) GifCodec.decode(content)
    else if (Vp8lCodec.isWebpLossless(content)) Vp8lCodec.decode(content)
    else if (BmpCodec.isBmp(content)) BmpCodec.decode(content)
    else None

  /** Deterministic 16×16 lossless-WebP fixture (quadrant pattern,
    * two values per channel) with its PNG twin encoding the SAME
    * pixels: the cross-format pair the q249/q250 gates and Vp8lSpec
    * lock against — a decoder regression breaks the shared-dhash
    * invariant, never a silent gate drift. Bytes generated once by
    * Vp8lSpec's spec-first encoder / ImageIO and pinned as hex. */
  object WebpFixture {
    val hex: String =
      "524946467C000000574542505650384C700000002F0FC003003819F251908F" +
      "B2D9FF02B46DDB4A9224B56DDB4A9224B56DDB4A9224B56DDB4A9224B56DDB" +
      "4A9224B56DDB4A9224B56DDB4A9224B56DDB4A9224499224B56DDB4A9224B5" +
      "6DDB4A9224B56DDB4A9224B56DDB4A9224B56DDB4A9224B56DDB4A9224B56D" +
      "DB4A9224B56DDB02"
    val pngTwinHex: String =
      "89504E470D0A1A0A0000000D4948445200000010000000100802000000909168" +
      "360000002849444154785E63D038311B2B3A91A2811531602A1DD580814" +
      "8D780290441984640D0A8069A680000F67E6F9020BA31AB000000004945" +
      "4E44AE426082"
    /** dhash of the decoded fixture — equals the PNG twin's. */
    val dhash: Long = 404232216L
    private def unhex(s: String): Array[Byte] =
      s.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray
    def bytes: Array[Byte] = unhex(hex)
    def pngTwinBytes: Array[Byte] = unhex(pngTwinHex)
  }

  /** Deterministic 16×16 GIF fixture — the SAME quadrant pixels as
    * [[WebpFixture]] (JDK ImageIO GIF writer, exact 2-color
    * roundtrip), so all three decodable formats share one
    * decoder-locked dhash. */
  object GifFixture {
    val hex: String =
      "47494638396110001000F0000028C89BC864282C00000000100010004008" +
      "330001081C283080C18308130620C8B0210085100F3A9CF810E2C488112F" +
      "5AA4D830A3438F1D3786C49850A34293253F8A641810003B"
    def bytes: Array[Byte] =
      hex.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray
  }

  /** BMP through the same guarded ImageIO boundary — the
    * uncompressed workhorse format scanners and exports still emit.
    * Magic 'B' 'M'; 24-bit pixels roundtrip exactly, so the fixture
    * shares the quadrant dhash with PNG/GIF/WebP. */
  object BmpCodec {
    def isBmp(content: Array[Byte]): Boolean =
      content.length >= 2 && content(0) == 'B' && content(1) == 'M'

    /** Same guarded ImageIO path as [[PngCodec.decode]]. */
    def decode(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic 16×16 BMP fixture — the SAME quadrant pixels as
    * [[WebpFixture]]/[[GifFixture]] (JDK ImageIO BMP writer, 24-bit
    * exact roundtrip), so all four decodable image formats share one
    * decoder-locked dhash. Bytes generated once by ImageIO and
    * pinned as hex. */
  object BmpFixture {
    val hex: String =
      "424D36030000000000003600000028000000100000001000000001001800" +
      "0000000000030000000000000000000000000000000000002864C82864C8" +
      "2864C82864C82864C82864C82864C82864C89BC8289BC8289BC8289BC828" +
      "9BC8289BC8289BC8289BC8282864C82864C82864C82864C82864C82864C8" +
      "2864C82864C89BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC828" +
      "2864C82864C82864C82864C82864C82864C82864C82864C89BC8289BC828" +
      "9BC8289BC8289BC8289BC8289BC8289BC8282864C82864C82864C82864C8" +
      "2864C82864C82864C82864C89BC8289BC8289BC8289BC8289BC8289BC828" +
      "9BC8289BC8282864C82864C82864C82864C82864C82864C82864C82864C8" +
      "9BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC8282864C82864C8" +
      "2864C82864C82864C82864C82864C82864C89BC8289BC8289BC8289BC828" +
      "9BC8289BC8289BC8289BC8282864C82864C82864C82864C82864C82864C8" +
      "2864C82864C89BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC828" +
      "2864C82864C82864C82864C82864C82864C82864C82864C89BC8289BC828" +
      "9BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC828" +
      "9BC8289BC8289BC8289BC8282864C82864C82864C82864C82864C82864C8" +
      "2864C82864C89BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC828" +
      "2864C82864C82864C82864C82864C82864C82864C82864C89BC8289BC828" +
      "9BC8289BC8289BC8289BC8289BC8289BC8282864C82864C82864C82864C8" +
      "2864C82864C82864C82864C89BC8289BC8289BC8289BC8289BC8289BC828" +
      "9BC8289BC8282864C82864C82864C82864C82864C82864C82864C82864C8" +
      "9BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC8282864C82864C8" +
      "2864C82864C82864C82864C82864C82864C89BC8289BC8289BC8289BC828" +
      "9BC8289BC8289BC8289BC8282864C82864C82864C82864C82864C82864C8" +
      "2864C82864C89BC8289BC8289BC8289BC8289BC8289BC8289BC8289BC828" +
      "2864C82864C82864C82864C82864C82864C82864C82864C89BC8289BC828" +
      "9BC8289BC8289BC8289BC8289BC8289BC8282864C82864C82864C82864C8" +
      "2864C82864C82864C82864C8"
    def bytes: Array[Byte] =
      hex.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray
  }

  /** ISO-BMFF (MP4/MOV) METADATA parser — the video boundary a
    * 100 TB multimodal pipeline actually needs first: not frame
    * decode (a codec concern, stubbed like lossy WebP) but container
    * facts — brand, timescale, duration — read by walking the box
    * tree (ftyp, moov ▸ mvhd), so frame-sampling and budget math
    * ([[sampleFrames]]) get REAL durations. Handles 32-bit sizes,
    * 64-bit largesize (size = 1), to-end-of-file (size = 0), and
    * both mvhd versions; any malformed size/truncation aborts to
    * None → the caller's NULL quarantine, never a throw. */
  object Mp4Codec {
    /** size(4) then 'f' 't' 'y' 'p' — the ISO-BMFF signature. */
    def isMp4(content: Array[Byte]): Boolean =
      content.length >= 8 &&
        content(4) == 'f' && content(5) == 't' &&
        content(6) == 'y' && content(7) == 'p'

    private def be32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    private def be64(b: Array[Byte], off: Int): Long =
      (be32(b, off) << 32) | be32(b, off + 4)

    /** First box of `tpe` directly inside [start, end): payload
      * bounds. Sizes are validated against the window — a crafted
      * size that under-runs its header or over-runs the window stops
      * the walk (None), and size ≥ 8 guarantees progress. */
    private def findBox(
        b: Array[Byte], start: Int, end: Int,
        tpe: String): Option[(Int, Int)] = {
      var off = start
      while (off + 8 <= end) {
        val size32 = be32(b, off)
        var hdr = 8L
        val size: Long =
          if (size32 == 1) {
            if (off + 16 > end) return None
            hdr = 16L
            be64(b, off + 8)
          } else if (size32 == 0) (end - off).toLong
          else size32
        if (size < hdr || off + size > end) return None
        if (b(off + 4) == tpe.charAt(0) && b(off + 5) == tpe.charAt(1) &&
          b(off + 6) == tpe.charAt(2) && b(off + 7) == tpe.charAt(3))
          return Some((off + hdr.toInt, (off + size).toInt))
        off += size.toInt
      }
      None
    }

    /** (majorBrand, timescale, duration, durationMs) — requires a
      * well-formed ftyp AND moov▸mvhd with a positive timescale;
      * durationMs is the integer floor of duration·1000/timescale. */
    def parseMeta(
        content: Array[Byte]): Option[(String, Long, Long, Long)] =
      if (!isMp4(content)) None
      else for {
        ft <- findBox(content, 0, content.length, "ftyp")
        if ft._2 - ft._1 >= 4
        mv <- findBox(content, 0, content.length, "moov")
        hd <- findBox(content, mv._1, mv._2, "mvhd")
        td <- {
          val (hs, he) = hd
          if (he - hs < 4) None
          else (content(hs) & 0xff) match {
            case 0 if he - hs >= 20 =>
              Some((be32(content, hs + 12), be32(content, hs + 16)))
            case 1 if he - hs >= 32 =>
              Some((be32(content, hs + 20), be64(content, hs + 24)))
            case _ => None
          }
        }
        if td._1 > 0 && td._2 >= 0
      } yield (new String(content, ft._1, 4,
          java.nio.charset.StandardCharsets.ISO_8859_1),
        td._1, td._2, td._2 * 1000L / td._1)
  }

  /** Deterministic minimal MP4 fixture (ftyp 'isom' + moov▸mvhd v0,
    * timescale 1000, duration 5500 → 5500 ms) built box-by-box —
    * no hex pinning needed; the oracle interpolates [[hex]]. */
  object Mp4Fixture {
    val bytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + 116)
      bb.putInt(16).put("ftyp".getBytes("ISO-8859-1"))
        .put("isom".getBytes("ISO-8859-1")).putInt(0x200)
      bb.putInt(116).put("moov".getBytes("ISO-8859-1"))
      bb.putInt(108).put("mvhd".getBytes("ISO-8859-1"))
        .putInt(0)          // version 0 + flags
        .putInt(0).putInt(0) // creation / modification
        .putInt(1000)        // timescale
        .putInt(5500)        // duration
      bb.position(bb.position() + 80) // rate..next_track_id zeros
      bb.array()
    }
    lazy val hex: String = bytes.map(b => f"${b & 0xff}%02X").mkString
  }

  /** MPEG-audio (MP3) stream metadata — a header walk like
    * [[Mp4Codec]], no sample decode: skip the ID3v2 tag (syncsafe
    * 28-bit size), then walk MPEG-1 Layer-III frame headers (sync,
    * bitrate/samplerate table indices, padding bit) to an EXACT
    * frame census. The walk is STRICT: every byte after the tag must
    * belong to a well-formed consecutive frame — a free/bad bitrate
    * index, reserved samplerate, short tail, or trailing garbage
    * quarantines the whole stream to None (crafted magic-passing
    * bytes must not yield half-parsed metadata). duration_ms is the
    * integer floor of frames·1152·1000/rate, the [[Mp4Codec]]
    * convention. */
  object Mp3Codec {
    /** MPEG-1 Layer-III bitrate table (kbps); index 0 = free and
      * 15 = bad are both rejected. */
    private val Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
      128, 160, 192, 224, 256, 320)
    private val Rates = Array(44100, 48000, 32000)

    def hasId3(c: Array[Byte]): Boolean =
      c.length >= 10 && c(0) == 'I' && c(1) == 'D' && c(2) == '3'

    /** ID3v2 tag, or a bare MPEG-1 Layer-III sync at offset 0. */
    def isMp3(c: Array[Byte]): Boolean =
      hasId3(c) || (c.length >= 4 && (c(0) & 0xff) == 0xff &&
        (c(1) & 0xfe) == 0xfa)

    /** (tagBytes, nFrames, bitrateKbps of the first frame,
      * sampleRate, durationMs). */
    def parseMeta(
        c: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
      if (!isMp3(c)) return None
      var off = 0
      var tag = 0L
      if (hasId3(c)) {
        val s = (0 until 4).map(i => c(6 + i) & 0xff)
        // syncsafe bytes keep bit 7 clear — a set bit is corruption
        if (s.exists(_ >= 0x80)) return None
        tag = 10L + ((s(0) << 21) | (s(1) << 14) | (s(2) << 7) | s(3))
        if (tag > c.length) return None
        off = tag.toInt
      }
      var frames = 0L
      var firstBr = 0L
      var rate = 0L
      while (off + 4 <= c.length) {
        // 0xFF sync + MPEG-1 Layer III (0xFA with CRC, 0xFB without)
        if ((c(off) & 0xff) != 0xff || (c(off + 1) & 0xfe) != 0xfa)
          return None
        val brIdx = (c(off + 2) & 0xf0) >> 4
        val srIdx = (c(off + 2) & 0x0c) >> 2
        val pad = (c(off + 2) & 0x02) >> 1
        if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
        val br = Bitrates(brIdx)
        val sr = Rates(srIdx)
        if (frames == 0L) { firstBr = br.toLong; rate = sr.toLong }
        val flen = 144 * br * 1000 / sr + pad
        if (off + flen > c.length) return None
        frames += 1
        off += flen
      }
      if (frames == 0L || off != c.length) None
      else Some((tag, frames, firstBr, rate,
        frames * 1152L * 1000L / rate))
    }
  }

  /** Deterministic minimal MP3 fixture: a 20-byte ID3v2.4 tag
    * (10-byte payload) + four 417-byte MPEG-1 Layer-III frames at
    * 128 kbps / 44100 Hz, no padding → duration floor(4·1152·1000 /
    * 44100) = 104 ms. Built byte-by-byte; the oracle interpolates
    * [[hex]]. */
  object Mp3Fixture {
    val bytes: Array[Byte] = {
      val tagPayload = 10
      val frameLen = 144 * 128 * 1000 / 44100 // 417
      val out = new Array[Byte](10 + tagPayload + 4 * frameLen)
      out(0) = 'I'; out(1) = 'D'; out(2) = '3'
      out(3) = 4 // v2.4, flags 0, syncsafe size = 10
      out(9) = tagPayload.toByte
      var off = 10 + tagPayload
      (0 until 4).foreach { _ =>
        out(off) = 0xff.toByte
        out(off + 1) = 0xfb.toByte
        out(off + 2) = 0x90.toByte // bitrate idx 9, 44100, pad 0
        off += frameLen
      }
      out
    }
    lazy val hex: String = bytes.map(b => f"${b & 0xff}%02X").mkString
  }

  /** FLAC stream metadata — a header walk like [[Mp3Codec]], no
    * sample decode: 'fLaC' magic, then the metadata-block chain
    * whose FIRST block must be a 34-byte STREAMINFO (the spec
    * mandates it), whose packed bitfield carries sample rate (20
    * bits), channels−1 (3), bits-per-sample−1 (5), and total
    * samples (36). The walk is STRICT: every block header must fit
    * its declared length inside the buffer and the chain must
    * terminate via the last-block bit — crafted magic-passing bytes
    * quarantine to None rather than yield half-parsed metadata
    * (the [[Mp3Codec]] convention). duration_ms is the integer
    * floor of totalSamples·1000/rate. */
  object FlacCodec {
    /** 'f' 'L' 'a' 'C' + a first-block header of type STREAMINFO
      * (byte 4 is 0x00 or 0x80 — a structural control byte plain
      * text cannot contain, the sniffType guard). */
    def isFlac(c: Array[Byte]): Boolean =
      c.length >= 5 && c(0) == 'f' && c(1) == 'L' && c(2) == 'a' &&
        c(3) == 'C' && (c(4) & 0x7f) == 0

    private def be24(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 16) | ((b(off + 1) & 0xff) << 8) |
        (b(off + 2) & 0xff)

    /** (sampleRate, channels, bitsPerSample, totalSamples,
      * durationMs). */
    def parseMeta(
        c: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
      if (!isFlac(c)) return None
      var off = 4
      var info: Option[(Long, Long, Long, Long)] = None
      var last = false
      var first = true
      while (!last) {
        if (off + 4 > c.length) return None
        val hdr = c(off) & 0xff
        last = (hdr & 0x80) != 0
        val tpe = hdr & 0x7f
        val len = be24(c, off + 1)
        if (off + 4 + len > c.length) return None
        if (first) {
          // Spec: STREAMINFO first, exactly 34 bytes.
          if (tpe != 0 || len != 34) return None
          val s = off + 4
          // bytes 10..17: rate(20) | ch−1(3) | bps−1(5) | total(36)
          var packed = 0L
          (0 until 8).foreach(i =>
            packed = (packed << 8) | (c(s + 10 + i) & 0xffL))
          val rate = packed >>> 44
          val ch = ((packed >>> 41) & 0x7L) + 1L
          val bps = ((packed >>> 36) & 0x1fL) + 1L
          val total = packed & 0xfffffffffL
          if (rate == 0L) return None
          info = Some((rate, ch, bps, total))
          first = false
        }
        off += 4 + len
      }
      info.map { case (rate, ch, bps, total) =>
        (rate, ch, bps, total, total * 1000L / rate) }
    }
  }

  /** Deterministic minimal FLAC fixture: 'fLaC' + one last-block
    * STREAMINFO (34 bytes) at 44100 Hz, 2 ch, 16-bit, 4410 samples
    * → 100 ms. The oracle interpolates [[hex]]. */
  object FlacFixture {
    val bytes: Array[Byte] = {
      val out = new Array[Byte](4 + 4 + 34)
      out(0) = 'f'; out(1) = 'L'; out(2) = 'a'; out(3) = 'C'
      out(4) = 0x80.toByte // last block, type 0 (STREAMINFO)
      out(7) = 34          // 3-byte BE length
      // min/max block size 4096 (spec minimum 16)
      out(8) = 0x10; out(9) = 0x00; out(10) = 0x10; out(11) = 0x00
      // min/max frame size 0 (unknown) — bytes 12..17 stay 0
      val packed = (44100L << 44) | (1L << 41) | (15L << 36) | 4410L
      (0 until 8).foreach(i =>
        out(18 + i) = ((packed >>> (8 * (7 - i))) & 0xff).toByte)
      // md5 (bytes 26..41) stays zero — legal "unknown" marker
      out
    }
    lazy val hex: String = bytes.map(b => f"${b & 0xff}%02X").mkString
  }

  /** TIFF dimensions — an IFD walk, no pixel decode: 'II*\0' (LE) /
    * 'MM\0*' (BE) magic (both contain a NUL, so plain text can
    * never sniff as TIFF), IFD0 at the header offset, and the
    * ImageWidth (256) / ImageLength (257) entries read as inline
    * SHORT or LONG values in the file's byte order. STRICT: the
    * IFD must fit, both tags must be present and positive, else
    * None (the [[Mp3Codec]] quarantine convention). */
  object TiffCodec {
    def isTiff(c: Array[Byte]): Boolean =
      c.length >= 8 &&
        ((c(0) == 'I' && c(1) == 'I' && c(2) == 0x2a && c(3) == 0) ||
          (c(0) == 'M' && c(1) == 'M' && c(2) == 0 && c(3) == 0x2a))

    private def u16(b: Array[Byte], off: Int, le: Boolean): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    private def u32(b: Array[Byte], off: Int, le: Boolean): Long =
      if (le) (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      else ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

    /** (byteOrder "II"/"MM", width, height). */
    def parseDims(c: Array[Byte]): Option[(String, Long, Long)] = {
      if (!isTiff(c)) return None
      val le = c(0) == 'I'
      val ifd = u32(c, 4, le)
      if (ifd < 8 || ifd + 2 > c.length) return None
      val n = u16(c, ifd.toInt, le)
      if (ifd + 2 + 12L * n > c.length) return None
      var width = -1L
      var height = -1L
      (0 until n).foreach { i =>
        val e = ifd.toInt + 2 + 12 * i
        val tag = u16(c, e, le)
        val tpe = u16(c, e + 2, le)
        val count = u32(c, e + 4, le)
        if ((tag == 256 || tag == 257) && count == 1L) {
          // inline value, left-justified in file byte order
          val v = tpe match {
            case 3 => u16(c, e + 8, le).toLong // SHORT
            case 4 => u32(c, e + 8, le)        // LONG
            case _ => -1L
          }
          if (tag == 256) width = v else height = v
        }
      }
      if (width > 0 && height > 0)
        Some((if (le) "II" else "MM", width, height))
      else None
    }
  }

  /** Deterministic minimal TIFF fixture: little-endian header, one
    * IFD with SHORT ImageWidth/ImageLength 16×16 (dims only — the
    * walker never touches pixel data). [[beBytes]] is the same
    * image in big-endian for the spec's endianness case. */
  object TiffFixture {
    private def build(le: Boolean): Array[Byte] = {
      val out = new Array[Byte](8 + 2 + 24 + 4)
      def p16(off: Int, v: Int): Unit =
        if (le) { out(off) = (v & 0xff).toByte
          out(off + 1) = ((v >> 8) & 0xff).toByte }
        else { out(off) = ((v >> 8) & 0xff).toByte
          out(off + 1) = (v & 0xff).toByte }
      def p32(off: Int, v: Long): Unit =
        if (le) (0 until 4).foreach(i =>
          out(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
        else (0 until 4).foreach(i =>
          out(off + i) = ((v >>> (8 * (3 - i))) & 0xff).toByte)
      if (le) { out(0) = 'I'; out(1) = 'I'; out(2) = 0x2a; out(3) = 0 }
      else { out(0) = 'M'; out(1) = 'M'; out(2) = 0; out(3) = 0x2a }
      p32(4, 8L)   // IFD0 right after the header
      p16(8, 2)    // two entries
      p16(10, 256); p16(12, 3); p32(14, 1L); p16(18, 16) // width
      p16(22, 257); p16(24, 3); p32(26, 1L); p16(30, 16) // height
      p32(34, 0L)  // no next IFD
      out
    }
    val bytes: Array[Byte] = build(le = true)
    val beBytes: Array[Byte] = build(le = false)
    lazy val hex: String = bytes.map(b => f"${b & 0xff}%02X").mkString
  }

  /** Gzip member metadata — REAL inflate through the JDK's
    * `GZIPInputStream` (the [[PngCodec]] bundled-decoder rule), with
    * the header fields read directly and the trailer ISIZE verified
    * against the actual inflated length mod 2³² — a crawl archive's
    * integrity check without trusting either side alone. STRICT:
    * magic + CM = 8, a clean inflate, and a matching ISIZE, or the
    * whole member quarantines to None. */
  object GzipCodec {
    def isGzip(c: Array[Byte]): Boolean =
      c.length >= 18 && (c(0) & 0xff) == 0x1f &&
        (c(1) & 0xff) == 0x8b && (c(2) & 0xff) == 0x08

    private def le32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    /** (mtime, isize, inflatedBytes). */
    def parseMeta(c: Array[Byte]): Option[(Long, Long, Long)] = {
      if (!isGzip(c)) return None
      val inflated =
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(c))
          try {
            var n = 0L
            val buf = new Array[Byte](8192)
            var r = in.read(buf)
            while (r >= 0) { n += r; r = in.read(buf) }
            Some(n)
          } finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      inflated.flatMap { n =>
        val isize = le32(c, c.length - 4)
        if ((n & 0xffffffffL) == isize)
          Some((le32(c, 4), isize, n))
        else None
      }
    }
  }

  /** Deterministic gzip fixture: mtime 0, one deflate member of a
    * 148-byte payload. Bytes pinned as hex (deflate output is
    * compressor-dependent; the DECODER is the contract). */
  object GzipFixture {
    val hex: String =
      "1F8B08000000000002FF4B2F4A4C2B5148AFCA2C5048CBAC28292D4A5528" +
      "48ACCCC94F4C513030343236313533B7B04CA7AF22002A02B83894000000"
    lazy val bytes: Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** Gzip-member metadata column via [[GzipCodec.parseMeta]] — the
    * [[flacMeta]] shape: batched map-side parse, NULL quarantine.
    * Output: (media_id, mtime, isize, n_inflated). */
  def gzipMeta(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            val m = GzipCodec.parseMeta(
              Option(content).getOrElse(Array.emptyByteArray))
            (id, m.map(_._1), m.map(_._2), m.map(_._3))
          }
        }
      }.toDF("media_id", "mtime", "isize", "n_inflated")
  }

  /** REAL audio codec — RIFF/WAVE decoded to PCM samples via
    * `javax.sound.sampled` (JDK-bundled, like imageio). Same
    * (bytes in, primitives out) boundary as [[PngCodec]]. */
  object WavCodec {
    /** 'R' 'I' 'F' 'F' …size… 'W' 'A' 'V' 'E' */
    def isWav(content: Array[Byte]): Boolean =
      content.length >= 12 &&
        content(0) == 'R' && content(1) == 'I' &&
        content(2) == 'F' && content(3) == 'F' &&
        content(8) == 'W' && content(9) == 'A' &&
        content(10) == 'V' && content(11) == 'E'

    /** Decode to (sampleRateHz, mono samples in [-1, 1]). Any decoder
      * failure (unsupported encoding, truncated chunks, crafted bytes
      * passing the magic check) falls through to None → stub. */
    def decode(content: Array[Byte]): Option[(Int, Array[Double])] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val fmt = ais.getFormat
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            fmt.getSampleRate, 16, fmt.getChannels, 2 * fmt.getChannels,
            fmt.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais)
          try {
            val bytes = pcm.readAllBytes()
            val ch = math.max(1, target.getChannels)
            val n = bytes.length / (2 * ch)
            val out = new Array[Double](n)
            var i = 0
            while (i < n) {
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val o = (i * ch + c) * 2
                acc += (((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort) / 32768.0
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some((fmt.getSampleRate.toInt, out))
          } finally pcm.close()
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Real signal features: `dim`-window RMS envelope — the audio
      * analog of [[PngCodec.features]]'s luma histogram. */
    def features(samples: Array[Double], dim: Int): Array[Double] = {
      val out = new Array[Double](dim)
      val n = samples.length
      var j = 0
      while (j < dim) {
        val lo = (j.toLong * n / dim).toInt
        val hi = math.min(n, math.max(lo + 1, ((j + 1).toLong * n / dim).toInt))
        if (lo < n) {
          var s = 0.0
          var i = lo
          while (i < hi) { s += samples(i) * samples(i); i += 1 }
          out(j) = math.sqrt(s / (hi - lo))
        }
        j += 1
      }
      out
    }
  }

  /** 9×8 grayscale grid for the perceptual hash — REAL pixels for
    * PNG and JPEG (bilinear resize to 9×8, BT.601 integer luma: the
    * same 299/587/114 weights as [[PngCodec.features]]),
    * deterministic md5-derived stub elsewhere
    * (`channel(content, idx) % 256`, row-major idx — the
    * construction a SQL oracle can mirror). */
  private[operators] def grayGridFor(content: Array[Byte]): Array[Int] = {
    val fromImage: Option[Array[Int]] =
      decodeImage(content).map { img =>
        val small = {
          val out = new java.awt.image.BufferedImage(
            9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 9, 8, null)
          } finally g.dispose()
          out
        }
        Array.tabulate(72) { i =>
          val rgb = small.getRGB(i % 9, i / 9)
          (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
        }
      }
    fromImage.getOrElse(
      Array.tabulate(72)(i => (FakeCodec.channel(content, i) % 256).toInt))
  }

  /** 64-bit difference hash (dHash) of the 9×8 grid: bit (r,c) is set
    * iff brightness INCREASES left→right — `gray(r,c) < gray(r,c+1)`
    * — assembled row-major from the MSB. The gradient sign survives
    * re-encoding, scaling, and mild brightness shifts, which is
    * exactly what content-hash dedup misses on a re-encoded image. */
  private[operators] def dhashOf(gray: Array[Int]): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        h = (h << 1) | (if (gray(r * 9 + c) < gray(r * 9 + c + 1)) 1L else 0L)
        c += 1
      }
      r += 1
    }
    h
  }

  /** Perceptual-hash column over the content bytes: (media_id, dhash).
    * Batched mapPartitions like [[extractFeatures]] — decode stays
    * map-side; only the 8-byte hash continues into shuffling stages
    * (content never shuffles, the invariant that matters when a row
    * is megabytes). */
  def dhash(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            (id, dhashOf(grayGridFor(content))) }
        }
      }.toDF("media_id", "dhash")
  }

  /** Image near-duplicates by perceptual hash: [[dhash]] each image,
    * band the 64-bit hash into its 8 bytes, join on (band, byte) for
    * candidates, verify Hamming ≤ `maxHamming` — the
    * Dedup.simhashNearDups shape one level up the stack (reference
    * analogue: content-hash dedup at ingest; a RE-ENCODED duplicate
    * image escapes that, and this is the operator that catches it).
    *
    * Pigeonhole: hashes within Hamming 7 share at least one exact
    * byte, so 8 byte-bands give full recall for `maxHamming ≤ 7`
    * (hence the require). Scale: candidates come only from equi-join
    * buckets (64-row hash ⇒ ~n²/32 expected candidate pairs on
    * random hashes, all verified by one codegen'd xor/bit_count —
    * never an all-pairs product, and content bytes are long gone). */
  def imageNearDups(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 6): DataFrame =
    Dedup.hammingBandNearDups(dhash(media, idCol, contentCol),
      "media_id", "dhash", nBands = 8, maxHamming = maxHamming)

  /** 33-window loudness envelope for the audio fingerprint — REAL
    * RMS windows for WAV content ([[WavCodec.features]]), the
    * deterministic md5 stub elsewhere (`channel % 1e6`, the q29
    * construction a SQL oracle mirrors). */
  private[operators] def envelopeFor(content: Array[Byte]): Array[Double] =
    if (WavCodec.isWav(content))
      WavCodec.decode(content).map(d => WavCodec.features(d._2, 33))
        .getOrElse(FakeCodec.features(content, 33))
    else FakeCodec.features(content, 33)

  /** 32-bit audio difference fingerprint (chromaprint-lite): bit i is
    * set iff loudness INCREASES window i → i+1 over the 33-window RMS
    * envelope, assembled from the MSB. Comparing ADJACENT windows
    * makes the fingerprint invariant to uniform gain (every RMS
    * scales by the same factor, so the comparisons are unchanged) —
    * a re-leveled copy of the same recording fingerprints
    * identically, which a content hash misses. Nonnegative Long
    * (fits 32 bits), so no sign juggling anywhere downstream. */
  private[operators] def audioFingerprintOf(env: Array[Double]): Long = {
    var h = 0L
    var i = 0
    while (i < 32) {
      h = (h << 1) | (if (env(i) < env(i + 1)) 1L else 0L)
      i += 1
    }
    h
  }

  /** Fingerprint column over the content bytes: (media_id, afp) —
    * batched mapPartitions like [[dhash]]; only the 4-byte
    * fingerprint continues into shuffling stages. */
  def audioFingerprint(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            (id, audioFingerprintOf(envelopeFor(content))) }
        }
      }.toDF("media_id", "afp")
  }

  /** Audio near-duplicates by envelope fingerprint: byte-band the
    * 32-bit hash (4 bands — full recall to Hamming 3 by pigeonhole),
    * candidates from the (band, byte) equi-join, verify
    * `bit_count(xor) ≤ maxHamming` — [[imageNearDups]] one modality
    * over. Catches the re-leveled / re-encoded copy of a recording
    * that exact content-hash dedup misses. */
  def audioNearDups(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.hammingBandNearDups(audioFingerprint(media, idCol, contentCol),
      "media_id", "afp", nBands = 4, maxHamming = maxHamming)

  /** Magic-byte dispatch shared by the batched stages: real pixels
    * for PNG/JPEG, real PCM for WAV, deterministic stub elsewhere. */
  private def featuresFor(content: Array[Byte], dim: Int): Array[Double] =
    if (PngCodec.isPng(content) || JpegCodec.isJpeg(content))
      decodeImage(content).map(PngCodec.features(_, dim))
        .getOrElse(FakeCodec.features(content, dim))
    else if (WavCodec.isWav(content))
      WavCodec.decode(content).map(d => WavCodec.features(d._2, dim))
        .getOrElse(FakeCodec.features(content, dim))
    else FakeCodec.features(content, dim)

  /** Feature extraction over the content column — batched
    * mapPartitions so a real codec initializes once per partition and
    * processes rows in `batchSize` groups (the mapInPandas batch
    * shape). Output drops the content bytes: only (id, features)
    * continue into downstream (possibly shuffling) stages. */
  def extractFeatures(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      dim: Int,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val input = media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
    input.mapPartitions { it =>
      // Codec contexts initialize here, once per partition.
      it.grouped(batchSize).flatMap { batch =>
        batch.map { case (id, content) => (id, featuresFor(content, dim)) }
      }
    }.toDF("media_id", "features")
  }

  /** Content-type sniffing from magic bytes — the trust-nothing
    * boundary of a multimodal ingest: a crawl's `Content-Type` header
    * lies constantly, so the byte prefix is the authority (the same
    * signatures `file(1)` and browsers' MIME sniffing use). Pure
    * codegen'd expression over the binary column: hex the first 12
    * bytes once, prefix-match the signature table. RIFF containers
    * check the format tag at offset 8 (`WAVE` → wav, else `riff`).
    * Bytes never leave the map side — only the verdict string does.
    *
    * Signatures: PNG `89504E470D0A1A0A`, JPEG `FFD8FF`, GIF `GIF8`,
    * PDF `%PDF-`, WAV `RIFF….WAVE`, WebP `RIFF….WEBP`, ZIP `PK`, gzip
    * `1F8B`, MP4 `….ftyp` (box size < 65536), BMP `BM` (zeroed
    * reserved field), MP3 `ID3` (v2.2/2.3/2.4) or a bare
    * `FFFA`/`FFFB` sync; anything else (including empty/NULL) →
    * `unknown`. The text-shaped magics (`BM`, `ID3`, `ftyp`) each
    * also require a structural byte plain text cannot contain, so a
    * document that merely STARTS with those letters never
    * misclassifies. */
  def sniffType(content: Column): Column = {
    val h = hex(substring(content, 1, 12))
    val fmt = hex(substring(content, 9, 4))
    when(content.isNull, lit("unknown"))
      .when(h.startsWith("89504E470D0A1A0A"), lit("png"))
      .when(h.startsWith("FFD8FF"), lit("jpeg"))
      .when(h.startsWith("47494638"), lit("gif"))
      .when(h.startsWith("255044462D"), lit("pdf"))
      .when(h.startsWith("52494646") && fmt === "57415645", lit("wav"))
      .when(h.startsWith("52494646") && fmt === "57454250", lit("webp"))
      .when(h.startsWith("52494646"), lit("riff"))
      .when(h.startsWith("504B0304"), lit("zip"))
      .when(h.startsWith("1F8B"), lit("gzip"))
      // The mp4/bmp/ID3 magics are printable-text-shaped ("BM",
      // "ID3", "ftyp" at an offset), so each branch also demands a
      // structural byte plain document text cannot contain: an ftyp
      // box size < 65536 (two leading NULs), BMP's zeroed reserved
      // field, an ID3v2 major version 2/3/4 (control bytes). The
      // FFFA/FFFB MPEG sync needs no guard — 0xFF is not valid UTF-8.
      .when(hex(substring(content, 1, 2)) === "0000" &&
        hex(substring(content, 5, 4)) === "66747970", lit("mp4"))
      .when(h.startsWith("424D") &&
        hex(substring(content, 7, 4)) === "00000000", lit("bmp"))
      // ID3v2 tag, or a bare MPEG-1 Layer-III sync (FFFA/FFFB)
      .when(h.startsWith("494433") &&
        hex(substring(content, 4, 1)).isin("02", "03", "04"),
        lit("mp3"))
      .when(h.startsWith("FFFA") || h.startsWith("FFFB"), lit("mp3"))
      // 'fLaC' is text-shaped too: demand the STREAMINFO-first block
      // header byte (0x00/0x80 — control bytes). TIFF magics embed a
      // NUL, inherently text-safe.
      .when(h.startsWith("664C6143") &&
        hex(substring(content, 5, 1)).isin("00", "80"), lit("flac"))
      .when(h.startsWith("49492A00") || h.startsWith("4D4D002A"),
        lit("tiff"))
      .otherwise(lit("unknown"))
  }

  /** Video frame sampling: one row per frame index at `intervalMs`
    * over the metadata duration — a literal-sequence explode (no
    * per-frame content in the exploded rows; frame decode happens in a
    * later batched stage against (media_id, frame_ts) pairs). */
  def sampleFrames(
      media: DataFrame,
      idCol: String,
      durationMsCol: String,
      intervalMs: Long): DataFrame =
    media
      // zero/NULL duration ⇒ no frames (not a spurious frame 0).
      .filter(coalesce(col(durationMsCol), lit(0L)) > 0)
      .select(
      col(idCol),
      explode(sequence(lit(0L),
        greatest(lit(0L),
          floor((coalesce(col(durationMsCol), lit(0L)) - 1) / intervalMs).cast("long"))))
        .as("frame_idx"))
      .withColumn("frame_ts_ms", col("frame_idx") * intervalMs)

  /** Video-container metadata column: (media_id, brand, timescale,
    * duration, duration_ms) via [[Mp4Codec.parseMeta]] — batched
    * mapPartitions like [[dhash]] (parse stays map-side; only the
    * few-column metadata row continues into shuffling stages, the
    * content bytes never shuffle). Non-MP4 and malformed rows keep
    * their id with all-NULL metadata — the NULL quarantine, so a
    * downstream [[sampleFrames]] naturally skips them. */
  def videoMeta(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            val m = Mp4Codec.parseMeta(
              Option(content).getOrElse(Array.emptyByteArray))
            (id, m.map(_._1), m.map(_._2), m.map(_._3), m.map(_._4))
          }
        }
      }.toDF("media_id", "brand", "timescale", "duration",
        "duration_ms")
  }

  /** Audio-stream metadata column: (media_id, tag_bytes, n_frames,
    * bitrate_kbps, sample_rate, duration_ms) via
    * [[Mp3Codec.parseMeta]] — the [[videoMeta]] shape: batched
    * mapPartitions keeps the parse map-side, content bytes never
    * shuffle, non-MP3 / malformed rows keep their id with all-NULL
    * metadata (the NULL quarantine). */
  def audioStreamMeta(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            val m = Mp3Codec.parseMeta(
              Option(content).getOrElse(Array.emptyByteArray))
            (id, m.map(_._1), m.map(_._2), m.map(_._3), m.map(_._4),
              m.map(_._5))
          }
        }
      }.toDF("media_id", "tag_bytes", "n_frames", "bitrate_kbps",
        "sample_rate", "duration_ms")
  }

  /** Lossless-audio metadata column via [[FlacCodec.parseMeta]] —
    * the [[audioStreamMeta]] shape: batched mapPartitions keeps the
    * header walk map-side, content bytes never shuffle, non-FLAC /
    * malformed rows keep their id with all-NULL metadata (the NULL
    * quarantine). */
  def flacMeta(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            val m = FlacCodec.parseMeta(
              Option(content).getOrElse(Array.emptyByteArray))
            (id, m.map(_._1), m.map(_._2), m.map(_._3), m.map(_._4),
              m.map(_._5))
          }
        }
      }.toDF("media_id", "sample_rate", "channels", "bits_per_sample",
        "total_samples", "duration_ms")
  }

  /** TIFF-dimension metadata column via [[TiffCodec.parseDims]] —
    * same batched map-side boundary and NULL quarantine as
    * [[flacMeta]]. Output: (media_id, byte_order, width, height). */
  def tiffDims(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, content) =>
            val m = TiffCodec.parseDims(
              Option(content).getOrElse(Array.emptyByteArray))
            (id, m.map(_._1), m.map(_._2), m.map(_._3))
          }
        }
      }.toDF("media_id", "byte_order", "width", "height")
  }

  /** Resize stage (real for PNG, stub elsewhere), preserving the media
    * schema shape and updating size metadata. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds = media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
    ds.mapPartitions { it =>
      it.map { case (id, kind, content) =>
        // Real decode for PNG/JPEG; output is normalized to PNG
        // bytes either way (a resize stage re-encodes by contract).
        val out = decodeImage(content) match {
          case Some(img) => PngCodec.resize(img, w, h)
          case None => FakeCodec.resize(content, w, h)
        }
        (id, kind, out, out.length.toLong, w, h)
      }
    }.toDF("media_id", "kind", "content", "sizeBytes", "width", "height")
  }

  /** Fixed-size byte-chunk fingerprints — the content-addressing /
    * chunk-dedup primitive (audio segmenting, rolling storage dedup):
    * one row per `chunkBytes` slice of the content, fingerprint =
    * md5 over the chunk's hex encoding (2 chars/byte, so the same
    * construction runs on any engine without BLOB hashing support).
    *
    * The BINARY is sliced first and only the small chunk is
    * hex-encoded — hex-encoding the whole payload first would double
    * it (blowing the 2 GiB string ceiling for ~1 GiB media) and push
    * substring offsets past Int range (where a wrapped non-ANSI cast
    * silently slices from the string END). Byte offsets are bounded
    * by the JVM's 2 GiB array limit on `content` itself, so the
    * CAST-to-INT here cannot wrap. Map-only until the caller
    * aggregates fingerprints. */
  def chunkFingerprints(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      chunkBytes: Int): DataFrame = {
    require(chunkBytes > 0, "chunkBytes must be positive")
    media
      .select(col(idCol).as("media_id"), col(contentCol).as("_content"),
        length(col(contentCol)).as("_bytes"))
      .filter(col("_bytes") > 0)
      .select(col("media_id"), col("_content"),
        explode(sequence(lit(0L),
          floor((col("_bytes") - 1) / chunkBytes).cast("long"))).as("chunk_idx"))
      .withColumn("_chunk",
        expr(s"substring(_content, CAST(chunk_idx * $chunkBytes + 1 AS INT), $chunkBytes)"))
      .select(col("media_id"), col("chunk_idx"),
        md5(hex(col("_chunk"))).as("fp"),
        length(col("_chunk")).as("chunk_octets"))
  }

  /** Partition media by cumulative byte size (not row count): media
    * rows vary from KBs to GBs, so row-count partitioning produces
    * pathological stragglers at scale. */
  def repartitionForMedia(
      media: DataFrame,
      targetBytesPerPartition: Long = 128L << 20): DataFrame = {
    val stats = media.agg(
      sum(length(col("content"))).as("bytes"), count(lit(1)).as("rows"))
      .head()
    val totalBytes = Option(stats.getAs[Long]("bytes")).getOrElse(0L)
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerPartition).toInt)
    media.repartition(parts)
  }
}
