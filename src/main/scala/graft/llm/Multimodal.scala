package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns as opaque binaries with typed
  * metadata, plus the feature-extraction plumbing a training pipeline needs.
  *
  * The Spark-side contract is real and tested: binary payload column,
  * per-partition batched decode via `mapPartitions` on a typed Dataset
  * (one decoder init per partition, not per row — the shape that matters at
  * 100 TB), deterministic output schema.
  *
  * IMAGE decode is REAL: [[decodeImage]] parses PNG/JPEG bytes with the
  * JDK's built-in `javax.imageio` (no external codec needed) into
  * dimensions + per-channel means — including the baseline-DCT JPEG
  * path, oracle-gated end to end by `q_jpeg_decode` via
  * [[syntheticQuadJpeg]] fixtures whose lossy round-trip is provably
  * bit-exact, with truncated JPEG failing CLOSED (EOI-marker guard;
  * libjpeg otherwise pads a cut scan into silently wrong pixels). AUDIO decode is REAL for WAV/PCM:
  * [[decodeWav]] walks the RIFF chunk layout (fmt/data) with pure byte
  * arithmetic — no codec involved — into rate/channels/bit-depth/sample
  * stats plus REAL spectral features ([[wavSpectrum]] — a fixed-point
  * 16-point DFT over the decoded samples), and [[decodeMp3]] walks
  * MPEG-1 Layer III frame headers (bitrate/rate/frames/duration) the
  * same way. Only true codec decode — video FRAMES and LOSSY-audio
  * spectra — remains a clearly-marked STUB ([[decodeStub]] — the
  * container ships no codecs); swapping in a real codec changes only
  * that function.
  */
object Multimodal {

  // ImageIO defaults to DISK-backed stream caching — a temp file per
  // encode/decode call, which dominates wall time for many small images.
  // In-memory caching is strictly better for byte-array payloads. Object
  // init runs once per JVM (driver and each executor) on first use.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRecord(id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(id: Long, kind: String, n_bytes: Long,
      checksum: Long, feature: Array[Double])
  /** Decoded image facts: dimensions + mean intensity per RGB channel. */
  final case class ImageMeta(id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Attach an opaque binary payload column (here: utf-8 bytes of a text
    * column — stand-in for image/audio bytes) + media-kind metadata. */
  def attachPayload(df: DataFrame, idCol: String, srcCol: String,
      kind: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      lit(kind).as("kind"),
      encode(col(srcCol), "UTF-8").as("payload"))

  /** Batched per-partition "decode" → generic features for OPAQUE kinds
    * (audio/video — no codecs in this container; images should go through
    * the real [[imageFeatures]]/[[decodeImage]] path instead). Partition-
    * level iterator so a real implementation amortizes codec/model init. */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // real pipeline: init decoder/codec ONCE here, reuse across rows
      it.map(decodeStub)
    }
  }

  /** Fail-closed guard for JPEG payloads: libjpeg tolerates a truncated
    * scan and pads the missing blocks (probed: 15 of 342 cut points of a
    * 16×16 JPEG decode to a WRONG image with no exception), so unlike
    * PNG — whose inflater throws on an unfinished stream — a byte-level
    * integrity check must run BEFORE the decode. The check WALKS the
    * marker-segment structure from SOI (FFD8): every length-prefixed
    * segment (APPn/COM/DQT/DHT/SOF/...) is skipped whole via its declared
    * length — so an EXIF APP1 whose embedded thumbnail carries its own
    * EOI can never satisfy the guard (a file truncated just after the
    * thumbnail fails, where a trailing-window scan would silently pass
    * padded wrong pixels) — and from the first SOS onward entropy-coded
    * data is scanned byte-wise, where FF00 stuffing and FFD0–D7 restart
    * markers are data, any other FFxx re-enters marker mode, and only a
    * structural FFD9 counts as the image's true EOI. Arbitrarily large
    * POST-EOI trailers (camera firmware tails, alignment padding) are
    * accepted — the walk stops at the EOI it reaches, replacing the old
    * 64-byte-trailer trade-off — while any truncation (mid-segment,
    * mid-scan, or inside an embedded thumbnail) throws, never a silently
    * wrong histogram/hash/mean. Non-JPEG payloads pass through untouched
    * (PNG's own CRC+inflate already fails closed). */
  private def requireJpegComplete(r: MediaRecord): Unit = {
    val p = r.payload
    if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
      var i = 2
      var inScan = false
      var found = false
      while (!found && i + 1 < p.length) {
        if ((p(i) & 0xff) != 0xff) {
          // marker mode expects FF here for a well-formed file; scan mode
          // is plain entropy data. Either way advance — completeness is
          // judged solely by reaching a structural EOI.
          i += 1
        } else (p(i + 1) & 0xff) match {
          case 0xd9 => found = true                     // EOI
          case 0x00 if inScan => i += 2                 // stuffed FF data byte
          case m if m >= 0xd0 && m <= 0xd7 => i += 2    // RSTn (no payload)
          case 0xff => i += 1                           // fill byte
          case 0xd8 | 0x01 => i += 2                    // SOI / TEM (no payload)
          case m =>
            // length-prefixed segment (APPn incl. EXIF thumbnails, COM,
            // DQT, DHT, SOF, SOS, DNL, ...): skip the declared payload;
            // SOS additionally switches to entropy-coded scanning
            if (i + 3 >= p.length) i = p.length         // cut inside header
            else {
              val len = ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
              i += 2 + len
              inScan = m == 0xda
            }
        }
      }
      require(found,
        s"truncated JPEG payload for id=${r.id}: segment walk reached " +
          "end of payload without a structural EOI marker")
    }
  }

  /** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP):
    * bytes → BufferedImage → (width, height, per-channel means). Exact
    * long-integer channel sums (no float accumulation), divided once at
    * the end — deterministic under any partitioning. Throws on bytes no
    * installed reader accepts, and on truncated JPEG via
    * [[requireJpegComplete]] (callers route non-image kinds to
    * [[decodeStub]]). */
  def decodeImage(r: MediaRecord): ImageMeta = {
    requireJpegComplete(r)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for id=${r.id}")
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    ImageMeta(r.id, w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  /** Batched per-partition image decode — same `mapPartitions` shape as
    * [[extractFeatures]] (decoder state amortized per partition). */
  def imageFeatures(ds: Dataset[MediaRecord]): Dataset[ImageMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // javax.imageio readers are looked up per call; a partition-scoped
      // cache would hook in here for a stateful codec
      it.map(decodeImage)
    }
  }

  /** Deterministic PNG generator (encode side of the imageio round-trip,
    * used by tests and the oracle-checked q_image_meta): a solid-fill RGB
    * image whose dimensions and fill color are pure functions of `id` —
    *   width = 8 + id mod 5, height = 8 + id mod 3,
    *   (r, g, b) = (37·id, 59·id, 83·id) mod 256
    * — so dimensions AND channel means are SQL-expressible facts an
    * oracle can recompute without decoding anything. */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = (8 + Math.floorMod(id, 5L)).toInt
    val h = (8 + Math.floorMod(id, 3L)).toInt
    val (r, g, b) = (Math.floorMod(37 * id, 256L).toInt,
      Math.floorMod(59 * id, 256L).toInt, Math.floorMod(83 * id, 256L).toInt)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Perceptual-hash fingerprint of a decoded image, as 4×16-bit words
    * (same representation as SimHash fingerprints, so the banded Hamming
    * near-dup machinery applies unchanged). */
  final case class ImagePhash(id: Long, w0: Long, w1: Long, w2: Long, w3: Long)

  /** aHash (average hash) over a REAL image decode: 16×16 pixels →
    * 8×8 grid of 2×2 block sums → bit j set iff block j's mean intensity
    * exceeds the whole-image mean. All comparisons are exact integers
    * (64·blockSum > totalSum — both sides exact, no float round), so the
    * 64-bit fingerprint is deterministic under any partitioning and
    * recomputable arithmetically by an oracle that knows the pixels.
    * Near-duplicate IMAGES (re-encodes, small edits) land within a small
    * Hamming distance — the image-side analog of SimHash for text, and
    * the standard first pass of image dedup in a multimodal corpus.
    *
    * Decode requires a 16×16 image (the resize to hash geometry is the
    * caller's decode-side concern; [[syntheticGradientPng]] emits hash
    * geometry directly). Scale: map-only per-partition decode; the
    * fingerprint is 4 longs/row — banding joins never see pixels. */
  def imagePhash(ds: Dataset[MediaRecord]): Dataset[ImagePhash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        requireJpegComplete(r)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload for id=${r.id}")
        require(img.getWidth == 16 && img.getHeight == 16,
          s"aHash expects 16x16 input, got ${img.getWidth}x${img.getHeight}")
        val v = Array.ofDim[Int](16, 16)
        var tot = 0L
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            v(y)(x) = (img.getRGB(x, y) >> 16) & 0xff // gray = red channel
            tot += v(y)(x)
            x += 1
          }
          y += 1
        }
        var bits = 0L
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            val bs = v(2 * by)(2 * bx).toLong + v(2 * by)(2 * bx + 1) +
              v(2 * by + 1)(2 * bx) + v(2 * by + 1)(2 * bx + 1)
            if (64L * bs > tot) bits |= 1L << (by * 8 + bx)
            bx += 1
          }
          by += 1
        }
        ImagePhash(r.id,
          bits & 0xffffL, (bits >>> 16) & 0xffffL,
          (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
      }
    }
  }

  /** One luminance-histogram bucket of a decoded image — the per-image
    * pixel-intensity distribution a multimodal curation pipeline filters
    * on (near-black/near-white screenshots, low-contrast scans). */
  final case class ImageHist(id: Long, width: Int, height: Int,
      bin: Int, n_px: Long)

  /** Luminance histogram from a REAL `javax.imageio` decode (PNG/JPEG/
    * GIF/BMP): integer BT.601 luma per pixel — (77·r + 150·g + 29·b)
    * div 256, coefficients summing to 256 so a gray pixel's luma IS its
    * gray value exactly — bucketed into `bins` equal-width bins over
    * 0..255. All counting is exact integers (no float anywhere), so the
    * histogram is deterministic under any partitioning and recomputable
    * arithmetically by an oracle that knows the pixels.
    *
    * Every bin is emitted, zeros included — the row count is exactly
    * `bins` per image, so downstream joins/pivots never need an
    * absent-bin fill (the PSI absent-bin lesson). Fail-closed: bytes no
    * installed reader accepts (or a truncated stream the PNG inflater
    * cannot finish) throw — a partial decode must never pass silently
    * as a valid histogram. Scale: map-only per-partition decode; output
    * is `bins` rows/image, pixels never leave the partition. */
  def imageHistogram(ds: Dataset[MediaRecord], bins: Int)
      : Dataset[ImageHist] = {
    require(bins >= 2 && bins <= 256 && 256 % bins == 0,
      s"imageHistogram: bins=$bins must divide 256")
    import ds.sparkSession.implicits._
    ds.mapPartitions(it => it.flatMap(decodeImageHist(_, bins)))
  }

  /** Per-record kernel of [[imageHistogram]] (factored out so the fuzz
    * properties drive it without a Spark session). */
  private[graft] def decodeImageHist(r: MediaRecord, bins: Int)
      : Seq[ImageHist] = {
    val binWidth = 256 / bins
    requireJpegComplete(r)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for id=${r.id}")
    val (w, h) = (img.getWidth, img.getHeight)
    val counts = new Array[Long](bins)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (77 * ((rgb >> 16) & 0xff) +
          150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8
        counts(luma / binWidth) += 1
        x += 1
      }
      y += 1
    }
    (0 until bins).map(b => ImageHist(r.id, w, h, b, counts(b)))
  }

  /** Deterministic 16×16 grayscale gradient PNG whose pixel values are a
    * pure function of `id` — unlike [[syntheticPng]] (solid fill, for
    * channel-mean checks) this varies WITHIN the image, so its aHash is
    * non-degenerate and an oracle can recompute every bit:
    *   g = id div 7, o = id mod 7 (7 consecutive ids share a pattern,
    *   differing by a +o intensity offset → near-identical hashes),
    *   v(x, y) = (a·x + b·y + c·x·y + 37·g + o) mod 256 with
    *   a = 1 + (7g mod 11), b = 1 + (5g mod 13), c = 3g mod 5.
    * The x·y cross term de-linearizes the pattern per group (linear ramps
    * collapse to a handful of aHash shapes). */
  def syntheticGradientPng(id: Long): Array[Byte] = {
    val g = Math.floorDiv(id, 7L)
    val o = Math.floorMod(id, 7L)
    val a = 1 + Math.floorMod(7 * g, 11L)
    val b = 1 + Math.floorMod(5 * g, 13L)
    val c = Math.floorMod(3 * g, 5L)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val v = Math.floorMod(a * x + b * y + c * x * y + 37 * g + o, 256L).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic 16×16 grayscale BASELINE JPEG of four solid 8×8
    * quadrants, quadrant q (row-major) holding value
    * (37·id + 53·q) mod 256, compressed at quality 1.0.
    *
    * Why this shape is ORACLE-EXACT through a lossy codec: each JPEG
    * MCU is an 8×8 block, so a block-uniform image has only DC
    * coefficients; at libjpeg quality 100 the quantization table is all
    * ones, and DC = 8·(v−128) is an exact integer — the decoded block
    * is bit-identical to the source (probed exhaustively: every value
    * 0..255 and 500 quadrant images round-trip exactly, incl. non-
    * multiple-of-8 dims). The four distinct quadrant DCs still exercise
    * the REAL baseline-DCT path end to end — Huffman DC-delta decode,
    * dequantization, IDCT — which a single solid fill would not
    * (one DC delta of zero per block). Pixels are GRAY-valued RGB
    * (r=g=b=v, the syntheticGradientPng convention) rather than a
    * single-component TYPE_BYTE_GRAY raster, for two exactness reasons:
    * (a) gray pixels make the RGB↔YCbCr fixed-point conversion lossless
    * — the Y coefficients sum to unity so Y=v ± nothing, and both
    * chroma planes are the constant 128, which also makes any chroma
    * subsampling exact; (b) BufferedImage.getRGB on TYPE_BYTE_GRAY runs
    * a LINEAR-gray→sRGB color-space conversion (128 → 188, measured),
    * so a gray raster would break the getRGB-based histogram/phash
    * kernels even though its raw samples round-trip. Probed: 500 ids
    * (including negatives) decode bit-exactly via getRGB. */
  def syntheticQuadJpeg(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val q = (y / 8) * 2 + (x / 8)
        val v = Math.floorMod(37 * id + 53 * q, 256L).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close()
    writer.dispose()
    out.toByteArray
  }

  /** Decoded audio facts from a WAV/PCM payload: format header fields +
    * exact-integer sample statistics (mean |amplitude|, peak). */
  final case class AudioMeta(id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Long, mean_abs: Double, peak: Int)

  /** REAL audio decode for WAV (RIFF/PCM — the container ships no lossy
    * codecs, but WAV needs none): walks the RIFF chunk list, reads the
    * `fmt ` chunk (PCM format 1 only; 8- or 16-bit), then scans the
    * `data` chunk samples with exact long-integer accumulation — mean
    * absolute amplitude is a single division of an exact integer sum, so
    * the result is deterministic under any partitioning. Unknown chunks
    * (LIST, fact, …) are skipped via their declared size, including the
    * RIFF odd-size pad byte. */
  def decodeWav(r: MediaRecord): AudioMeta = {
    val b = r.payload
    require(b.length >= 44 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE",
      s"not a RIFF/WAVE payload for id=${r.id}")
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var sampleRate = 0; var channels = 0; var bits = 0
    var nSamples = 0L; var sumAbs = 0L; var peak = 0
    while (pos + 8 <= b.length) {
      val id = tag(b, pos)
      val size = bb.getInt(pos + 4)
      require(size >= 0 && pos + 8 + size <= b.length,
        s"truncated chunk '$id' in WAV payload for id=${r.id}")
      id match {
        case "fmt " =>
          // PCM fmt is 16 bytes; a smaller declared size would make the
          // field reads below spill into the NEXT chunk's bytes (silently
          // wrong header values, or an uncontrolled buffer overrun when
          // fmt is the last chunk).
          require(size >= 16, s"short fmt chunk ($size) in WAV for id=${r.id}")
          require(bb.getShort(pos + 8) == 1,
            s"non-PCM WAV (format ${bb.getShort(pos + 8)}) for id=${r.id}")
          channels = bb.getShort(pos + 10)
          sampleRate = bb.getInt(pos + 12)
          bits = bb.getShort(pos + 22)
          require(bits == 8 || bits == 16, s"unsupported bit depth $bits")
        case "data" =>
          require(bits != 0, s"WAV data chunk before fmt for id=${r.id}")
          if (bits == 16) {
            var i = pos + 8
            val end = pos + 8 + (size & ~1)
            while (i < end) {
              val s = bb.getShort(i).toInt
              val a = math.abs(s)
              sumAbs += a; if (a > peak) peak = a; nSamples += 1
              i += 2
            }
          } else { // 8-bit WAV is unsigned, centered at 128
            var i = pos + 8
            val end = pos + 8 + size
            while (i < end) {
              val a = math.abs((b(i) & 0xff) - 128)
              sumAbs += a; if (a > peak) peak = a; nSamples += 1
              i += 1
            }
          }
        case _ => () // LIST/fact/cue/…: skip by declared size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned (pad byte)
    }
    require(nSamples > 0, s"WAV payload without samples for id=${r.id}")
    AudioMeta(r.id, sampleRate, channels, bits, nSamples,
      sumAbs.toDouble / nSamples, peak)
  }

  private def tag(b: Array[Byte], at: Int): String =
    new String(b, at, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Batched per-partition WAV decode — same `mapPartitions` shape as
    * [[imageFeatures]] (decoder state amortized per partition). */
  def audioFeatures(ds: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeWav))
  }

  /** Deterministic WAV generator (encode side of the RIFF round-trip,
    * used by tests and the oracle-checked q_audio_meta): 16-bit mono PCM
    * whose header fields and samples are pure functions of `id` —
    *   sample_rate = 8000 + (id mod 4)·2000, n = 16 + id mod 17,
    *   sample(i)   = ((id·31 + i·97) mod 65536) − 32768
    * — so rate, sample count, mean |amplitude| and peak are
    * SQL-expressible facts an oracle can recompute without decoding. */
  def syntheticWav(id: Long): Array[Byte] = {
    val rate = (8000 + Math.floorMod(id, 4L) * 2000).toInt
    val n = (16 + Math.floorMod(id, 17L)).toInt
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) {
      bb.putShort((Math.floorMod(id * 31 + i * 97L, 65536L) - 32768L).toShort)
      i += 1
    }
    bb.array()
  }

  /** Fixed-point Q20 twiddle table for the 16-point DFT of
    * [[wavSpectrum]]: `ctab(j) = round(cos(2πj/16) · 2^20)` — 16 exact
    * integer constants, with `sin(2πj/16) = cos(2π(j−4)/16) =
    * ctab((j+12) mod 16)`. The oracle SQL embeds the SAME integers (the
    * spec builder interpolates this table at construction time), so no
    * cross-engine trig evaluation exists anywhere — the md5-derived-
    * randomness trick applied to twiddle factors. */
  val cosTableQ20: IndexedSeq[Long] = (0 until 16).map(j =>
    Math.round(Math.cos(2.0 * Math.PI * j / 16.0) * (1L << 20)))

  /** One DFT band energy of a WAV payload. */
  final case class WavBand(id: Long, band: Int, energy: Double)

  /** First `maxSamples` 16-bit PCM samples of a WAV/PCM payload — the
    * [[decodeWav]] RIFF walk collecting sample VALUES instead of
    * moments (same fail-closed chunk guards: declared sizes are
    * bounds-checked before any read, fmt must precede data, 16-bit PCM
    * only). */
  def wavPcm16(r: MediaRecord, maxSamples: Int): Array[Int] = {
    val b = r.payload
    require(b.length >= 44 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE",
      s"not a RIFF/WAVE payload for id=${r.id}")
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var bits = 0
    val out = new scala.collection.mutable.ArrayBuffer[Int](maxSamples)
    while (pos + 8 <= b.length) {
      val id = tag(b, pos)
      val size = bb.getInt(pos + 4)
      require(size >= 0 && pos + 8 + size <= b.length,
        s"truncated chunk '$id' in WAV payload for id=${r.id}")
      id match {
        case "fmt " =>
          require(size >= 16, s"short fmt chunk ($size) in WAV for id=${r.id}")
          require(bb.getShort(pos + 8) == 1,
            s"non-PCM WAV (format ${bb.getShort(pos + 8)}) for id=${r.id}")
          bits = bb.getShort(pos + 22)
          require(bits == 16,
            s"wavPcm16 requires 16-bit PCM, got $bits for id=${r.id}")
        case "data" =>
          require(bits != 0, s"WAV data chunk before fmt for id=${r.id}")
          var i = pos + 8
          val end = pos + 8 + (size & ~1)
          while (i < end && out.length < maxSamples) {
            out += bb.getShort(i).toInt
            i += 2
          }
        case _ => ()
      }
      pos += 8 + size + (size & 1)
    }
    out.toArray
  }

  /** REAL spectral features for WAV audio — band energies from a
    * 16-point fixed-point DFT over the decoded PCM samples (the last
    * pure-JDK slice of audio decode; only LOSSY codecs remain on
    * [[decodeStub]]). For band k = 1..bands over the first 16 samples:
    *
    *   re_k = Σ_i x_i · ctab[(k·i) mod 16],
    *   im_k = −Σ_i x_i · ctab[(k·i+12) mod 16],
    *   energy_k = (re_k/2^20)² + (im_k/2^20)²
    *
    * Exactness: x_i ≤ 2^15 and ctab ≤ 2^20 over 16 terms keep re/im
    * within 2^40 — exact long accumulation, order-free; re/2^20 is an
    * exactly representable double (≤ 40 significand bits), and the final
    * square-and-add is a fixed 3-operation IEEE tree both engines
    * evaluate identically — no rounding grid needed (the q_audio_meta
    * mean_abs convention). Per-record map work only; batched
    * `mapPartitions` like every decoder here. Output: id, band
    * (1-based), energy. */
  def wavSpectrum(ds: Dataset[MediaRecord], bands: Int = 4)
      : Dataset[WavBand] = {
    import ds.sparkSession.implicits._
    require(bands >= 1 && bands <= 8, s"wavSpectrum: bands=$bands")
    ds.mapPartitions(_.flatMap { r =>
      val x = wavPcm16(r, 16)
      require(x.length == 16,
        s"wavSpectrum needs >= 16 samples, got ${x.length} for id=${r.id}")
      val e = wavBandEnergies(x, bands)
      (1 to bands).map(k => WavBand(r.id, k, e(k - 1)))
    })
  }

  /** The pure DFT kernel of [[wavSpectrum]] (exactness contract in its
    * doc): band energies 1..bands over exactly 16 samples. */
  def wavBandEnergies(x: Array[Int], bands: Int): Array[Double] = {
    require(x.length == 16, s"wavBandEnergies needs 16 samples, got ${x.length}")
    Array.tabulate(bands) { b =>
      val k = b + 1
      var re = 0L
      var im = 0L
      var i = 0
      while (i < 16) {
        re += x(i) * cosTableQ20((k * i) & 15)
        im -= x(i) * cosTableQ20((k * i + 12) & 15)
        i += 1
      }
      val rd = re.toDouble / (1L << 20)
      val imd = im.toDouble / (1L << 20)
      rd * rd + imd * imd
    }
  }

  /** Video container facts from an MP4/ISO-BMFF payload: major brand +
    * movie-header timescale/duration. duration_ms is the exact integer
    * floor of duration·1000/timescale. */
  final case class VideoMeta(id: Long, brand: String, timescale: Long,
      duration: Long, duration_ms: Long)

  /** REAL video CONTAINER parse (MP4/ISO-BMFF — box walking is pure byte
    * arithmetic, like the RIFF walk of [[decodeWav]]; only frame DECODING
    * needs a codec and stays on [[decodeStub]]): walks the top-level box
    * list big-endian, reads the `ftyp` major brand and the `moov/mvhd`
    * movie header (version 0 and 1 layouts). Unknown boxes (free, mdat,
    * …) are skipped via their declared size. */
  def decodeMp4(r: MediaRecord): VideoMeta = {
    val b = r.payload
    val bb = java.nio.ByteBuffer.wrap(b) // ISO-BMFF is big-endian
    var brand: String = null
    var timescale = 0L
    var duration = -1L
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var p = from
      while (p + 8 <= to) {
        val size32 = bb.getInt(p).toLong & 0xffffffffL
        val tpe = tag(b, p + 4)
        // ISO-BMFF size encodings: size==0 → box extends to the end of the
        // enclosing scope; size==1 → 64-bit largesize follows the type
        // (standard for >4 GiB mdat). `hdr` is where the box body starts.
        val (size, hdr) =
          if (size32 == 0L) ((to - p).toLong, 8)
          else if (size32 == 1L) {
            require(p + 16 <= to, s"truncated largesize box for id=${r.id}")
            (bb.getLong(p + 8), 16)
          } else (size32, 8)
        require(size >= hdr && p + size <= to,
          s"bad box '$tpe' (size=$size) in MP4 payload for id=${r.id}")
        tpe match {
          case "ftyp" if depth == 0 =>
            require(size >= hdr + 4, s"short ftyp for id=${r.id}")
            brand = tag(b, p + hdr)
          case "moov" if depth == 0 =>
            walk(p + hdr, (p + size).toInt, depth + 1)
          case "mvhd" if depth == 1 =>
            val q = p + hdr
            require(size >= hdr + 4, s"short mvhd for id=${r.id}")
            val v = b(q) & 0xff
            // field reads must stay INSIDE the declared box: v0 needs
            // 4 (ver/flags) + 4+4 (times) + 4 (timescale) + 4 (duration),
            // v1 the 8-byte-time layout — else a short mvhd would hand
            // back the NEXT box's bytes as timescale/duration.
            if (v == 0) {
              require(size >= hdr + 20, s"short mvhd v0 for id=${r.id}")
              timescale = bb.getInt(q + 12).toLong & 0xffffffffL
              duration = bb.getInt(q + 16).toLong & 0xffffffffL
            } else {
              require(size >= hdr + 32, s"short mvhd v1 for id=${r.id}")
              timescale = bb.getInt(q + 20).toLong & 0xffffffffL
              duration = bb.getLong(q + 24)
            }
          case _ => () // free/mdat/trak/…: skip by declared size
        }
        p += size.toInt
      }
    }
    require(b.length >= 8, s"not an MP4 payload for id=${r.id}")
    walk(0, b.length, 0)
    require(brand != null, s"MP4 payload without ftyp for id=${r.id}")
    require(duration >= 0 && timescale > 0,
      s"MP4 payload without moov/mvhd for id=${r.id}")
    VideoMeta(r.id, brand, timescale, duration,
      Math.floorDiv(duration * 1000L, timescale))
  }

  /** Batched per-partition MP4 container parse — same `mapPartitions`
    * shape as [[imageFeatures]]/[[audioFeatures]]. */
  def videoMeta(ds: Dataset[MediaRecord]): Dataset[VideoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeMp4))
  }

  /** Deterministic MP4 generator (encode side of the box round-trip, used
    * by tests and the oracle-checked q_video_meta): ftyp(isom) + an
    * odd-sized free box + moov/mvhd(v0) whose header fields are pure
    * functions of `id` —
    *   timescale = 1000 + (id mod 5)·500,
    *   duration  = 2000 + (id mod 977)·3
    * — so brand, timescale, duration and duration_ms are SQL-expressible
    * facts an oracle can recompute without parsing anything. */
  def syntheticMp4(id: Long): Array[Byte] = {
    val timescale = (1000 + Math.floorMod(id, 5L) * 500).toInt
    val duration = (2000 + Math.floorMod(id, 977L) * 3).toInt
    val freeLen = 8 + Math.floorMod(id, 3L).toInt // exercise odd box sizes
    val mvhdSize = 108
    val moovSize = 8 + mvhdSize
    val bb = java.nio.ByteBuffer.allocate(16 + freeLen + moovSize)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(freeLen).put("free".getBytes("US-ASCII"))
      .put(new Array[Byte](freeLen - 8))
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
      .putInt(0)          // version 0 + flags
      .putInt(0).putInt(0) // creation, modification
      .putInt(timescale).putInt(duration)
    // rate/volume/reserved/matrix/predefined/next-track: zero tail
    bb.array()
  }

  /** Lossy-audio stream facts from an MP3 payload: MPEG version/layer,
    * bitrate (the constant rate for CBR, the exact floored average for
    * VBR), sample rate, audio frame count, the exact integer duration
    * (frames·1152·1000 / rate, floored), and whether the stream carried
    * a Xing/Info/VBRI metadata frame. */
  final case class Mp3Meta(id: Long, version: String, layer: Int,
      bitrate_kbps: Int, sample_rate: Int, frames: Long, duration_ms: Long,
      vbr: Boolean)

  /** MPEG-1 Layer III bitrate table (kbps), indexed by the 4-bit header
    * field (index 0 = "free" and 15 = "bad" are rejected). Published in
    * ISO/IEC 11172-3 Table B.1. */
  private val Mp3Bitrates =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
  /** MPEG-1 sample-rate table (Hz), indexed by the 2-bit header field. */
  private val Mp3Rates = Array(44100, 48000, 32000, -1)

  /** REAL lossy-audio HEADER walk (MP3/MPEG-1 Layer III — frame headers
    * are pure byte arithmetic, exactly like the RIFF and ISO-BMFF walks;
    * only the spectral FRAME DECODE needs a codec and stays on
    * [[decodeStub]]): skips a leading ID3v2 tag (syncsafe size, footer
    * flag honored) and a trailing ID3v1 'TAG' block, then walks the
    * frame chain — each 4-byte header yields the next frame's exact byte
    * length (144·bitrate/rate + padding), so the walk either lands
    * exactly on every header or fails loudly.
    *
    * VBR: when the FIRST frame carries a Xing/Info (at the MPEG-1 side-
    * info offset: 4+17 mono, 4+32 stereo) or VBRI (fixed 4+32) metadata
    * header, that frame is metadata, not audio — it is skipped, later
    * frames may change bitrate (the sample rate must stay fixed; a
    * mid-stream rate change is a broken file), and the walked audio
    * frame count is REQUIRED to equal the header's frame-count field
    * (the fail-loud cross-check the header exists for).
    * `bitrate_kbps` then reports the exact floored average
    * ⌊audio_bytes·8·rate / (frames·1152·1000)⌋. A stream that changes
    * bitrate WITHOUT such a header still fails loudly (the pre-r5 CBR
    * contract — reporting one bitrate for it would be wrong). */
  def decodeMp3(r: MediaRecord): Mp3Meta = {
    val b = r.payload
    var pos = 0
    // ID3v2 prefix: "ID3" ver(2) flags(1) syncsafe-size(4); footer flag
    // (bit 4 of flags) appends another 10 bytes after the body
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      val footer = if ((b(5) & 0x10) != 0) 10 else 0
      pos = 10 + size + footer
      require(pos <= b.length, s"truncated ID3v2 tag for id=${r.id}")
    }
    // ID3v1 suffix: fixed 128 bytes starting "TAG"
    var end = b.length
    if (end - pos >= 128 && b(end - 128) == 'T' && b(end - 127) == 'A' &&
        b(end - 126) == 'G') end -= 128
    var frames = 0L
    var kbps = -1; var rate = -1
    var vbr = false; var vbrFrames = -1L; var audioBytes = 0L
    var first = true
    while (pos < end) {
      require(pos + 4 <= end && (b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xe0) == 0xe0,
        s"lost frame sync at byte $pos for id=${r.id}")
      val b1 = b(pos + 1) & 0xff; val b2 = b(pos + 2) & 0xff
      require((b1 >> 3 & 3) == 3, s"not MPEG-1 for id=${r.id}")
      require((b1 >> 1 & 3) == 1, s"not Layer III for id=${r.id}")
      val bi = b2 >> 4 & 15; val si = b2 >> 2 & 3
      require(Mp3Bitrates(bi) > 0, s"bad bitrate index $bi for id=${r.id}")
      require(Mp3Rates(si) > 0, s"bad sample-rate index $si for id=${r.id}")
      require(rate < 0 || rate == Mp3Rates(si),
        s"sample rate changes at frame $frames for id=${r.id}")
      rate = Mp3Rates(si)
      val curKbps = Mp3Bitrates(bi)
      val pad = b2 >> 1 & 1
      val frameLen = 144 * (curKbps * 1000) / rate + pad
      require(frameLen > 4 && pos + frameLen <= end,
        s"truncated frame $frames for id=${r.id}")
      var isMeta = false
      if (first) {
        first = false
        // probe the first frame for a Xing/Info/VBRI metadata header;
        // a frame too short to hold one simply has none (CBR path)
        def tagAt(off: Int, t: String): Boolean =
          off + t.length <= pos + frameLen &&
            (0 until t.length).forall(i => b(off + i) == t.charAt(i).toByte)
        def be32(off: Int): Long =
          ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
            ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
        val mono = (b(pos + 3) >> 6 & 3) == 3
        val xo = pos + 4 + (if (mono) 17 else 32)
        val vo = pos + 4 + 32
        // same layout, opposite meaning: "Xing" marks VBR, "Info" is
        // LAME's CBR marker — both carry a frame count and both frames
        // are metadata (skipped), but an Info stream keeps its nominal
        // constant bitrate and vbr = false
        if (tagAt(xo, "Xing") || tagAt(xo, "Info")) {
          require(xo + 12 <= pos + frameLen,
            s"truncated Xing header for id=${r.id}")
          require((be32(xo + 4) & 1L) != 0,
            s"Xing header without a frame-count field for id=${r.id}")
          vbrFrames = be32(xo + 8)
          vbr = tagAt(xo, "Xing"); isMeta = true
        } else if (tagAt(vo, "VBRI")) {
          require(vo + 18 <= pos + frameLen,
            s"truncated VBRI header for id=${r.id}")
          vbrFrames = be32(vo + 14)
          vbr = true; isMeta = true
        }
      }
      if (!isMeta) {
        // without a VBR header the stream must be CBR — one bitrate
        // describes every frame, or the report would be wrong
        require(vbr || kbps < 0 || kbps == curKbps,
          s"VBR stream without Xing/VBRI header (frame $frames changes " +
            s"bitrate) for id=${r.id}")
        kbps = curKbps
        audioBytes += frameLen
        frames += 1
      }
      pos += frameLen
    }
    require(frames > 0, s"MP3 payload without frames for id=${r.id}")
    if (vbrFrames >= 0) require(vbrFrames == frames,
      s"Xing/Info/VBRI frame count $vbrFrames != walked $frames " +
        s"for id=${r.id}")
    if (vbr) kbps = (audioBytes * 8L * rate / (frames * 1152L * 1000L)).toInt
    Mp3Meta(r.id, "MPEG1", 3, kbps, rate, frames,
      Math.floorDiv(frames * 1152L * 1000L, rate), vbr)
  }

  /** Batched per-partition MP3 header walk — same `mapPartitions` shape
    * as [[imageFeatures]]/[[audioFeatures]]/[[videoMeta]]. */
  def mp3Meta(ds: Dataset[MediaRecord]): Dataset[Mp3Meta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeMp3))
  }

  /** Deterministic MP3 generator (encode side of the frame round-trip,
    * used by tests and the oracle-checked q_mp3_meta): CBR MPEG-1
    * Layer III whose header fields are pure functions of `id` —
    *   bitrate index = 1 + id mod 14  (the full 32..320 kbps table),
    *   rate index    = id mod 3       (44100 / 48000 / 32000),
    *   frames        = 4 + id mod 7,
    *   per-frame padding bit = (id + frame) mod 2
    * — wrapped in an ID3v2 tag of body size 7·(id mod 4) for even ids
    * and a trailing ID3v1 'TAG' block when id mod 5 = 0, so the skip
    * paths are exercised. bitrate, rate, frames, duration_ms are
    * SQL-expressible facts an oracle can recompute without decoding. */
  def syntheticMp3(id: Long): Array[Byte] = {
    val bi = 1 + Math.floorMod(id, 14L).toInt
    val si = Math.floorMod(id, 3L).toInt
    val kbps = Mp3Bitrates(bi); val rate = Mp3Rates(si)
    val nFrames = (4 + Math.floorMod(id, 7L)).toInt
    val id3Body = if (id % 2 == 0) 7 * Math.floorMod(id, 4L).toInt else -1
    val frameLens = (0 until nFrames).map { f =>
      val pad = Math.floorMod(id + f, 2L).toInt
      144 * (kbps * 1000) / rate + pad
    }
    val id3Len = if (id3Body >= 0) 10 + id3Body else 0
    val tagLen = if (id % 5 == 0) 128 else 0
    val bb = java.nio.ByteBuffer.allocate(id3Len + frameLens.sum + tagLen)
    if (id3Body >= 0) {
      bb.put("ID3".getBytes("US-ASCII")).put(4.toByte).put(0.toByte)
        .put(0.toByte) // flags: no footer
        .put((id3Body >> 21 & 0x7f).toByte).put((id3Body >> 14 & 0x7f).toByte)
        .put((id3Body >> 7 & 0x7f).toByte).put((id3Body & 0x7f).toByte)
      bb.put(new Array[Byte](id3Body))
    }
    frameLens.zipWithIndex.foreach { case (len, f) =>
      val pad = Math.floorMod(id + f, 2L).toInt
      bb.put(0xff.toByte).put(0xfb.toByte) // sync + MPEG1 + Layer III
        .put(((bi << 4) | (si << 2) | (pad << 1)).toByte)
        .put(0xc0.toByte) // mono
      var j = 4
      while (j < len) {
        bb.put((Math.floorMod(id * 131 + f * 17 + j, 251L)).toByte)
        j += 1
      }
    }
    if (tagLen > 0) {
      bb.put("TAG".getBytes("US-ASCII"))
      bb.put(new Array[Byte](125))
    }
    bb.array()
  }

  /** Deterministic VBR MP3 generator (encode side of the Xing/VBRI
    * round-trip, used by tests and the oracle-checked q_mp3_vbr): a
    * 32 kbps mono metadata frame carrying a Xing header (even ids, at
    * the mono side-info offset 4+17) or a VBRI header (odd ids, at the
    * fixed offset 4+32) whose frame-count field is the audio frame
    * count, followed by audio frames whose bitrate VARIES per frame —
    *   rate index      = id mod 3        (stream-constant),
    *   frames          = 4 + id mod 7,
    *   bitrate index f = 1 + (id+f) mod 14,
    *   padding bit f   = (id+f) mod 2
    * — so frames, total audio bytes, the floored average bitrate and
    * duration_ms are all SQL-expressible facts an oracle can recompute
    * without parsing anything. */
  def syntheticMp3Vbr(id: Long): Array[Byte] = {
    val si = Math.floorMod(id, 3L).toInt
    val rate = Mp3Rates(si)
    val nFrames = (4 + Math.floorMod(id, 7L)).toInt
    val useVbri = Math.floorMod(id, 2L) == 1
    val hdrLen = 144 * 32000 / rate // bitrate index 1, no padding
    val audioLens = (0 until nFrames).map { f =>
      val bi = 1 + Math.floorMod(id + f, 14L).toInt
      144 * (Mp3Bitrates(bi) * 1000) / rate + Math.floorMod(id + f, 2L).toInt
    }
    val bb = java.nio.ByteBuffer.allocate(hdrLen + audioLens.sum)
    // metadata frame header: sync + MPEG1 + Layer III, bi=1, mono
    bb.put(0xff.toByte).put(0xfb.toByte)
      .put(((1 << 4) | (si << 2)).toByte).put(0xc0.toByte)
    if (useVbri) {
      bb.put(new Array[Byte](32)) // VBRI sits 32 bytes after the header
      bb.put("VBRI".getBytes("US-ASCII"))
        .putShort(1).putShort(0).putShort(0) // version, delay, quality
        .putInt(audioLens.sum).putInt(nFrames)
      bb.put(new Array[Byte](hdrLen - 36 - 18))
    } else {
      bb.put(new Array[Byte](17)) // mono MPEG-1 side info
      bb.put("Xing".getBytes("US-ASCII"))
        .putInt(1) // flags: frame count present
        .putInt(nFrames)
      bb.put(new Array[Byte](hdrLen - 21 - 12))
    }
    audioLens.zipWithIndex.foreach { case (len, f) =>
      val bi = 1 + Math.floorMod(id + f, 14L).toInt
      val pad = Math.floorMod(id + f, 2L).toInt
      bb.put(0xff.toByte).put(0xfb.toByte)
        .put(((bi << 4) | (si << 2) | (pad << 1)).toByte)
        .put(0xc0.toByte)
      var j = 4
      while (j < len) {
        bb.put((Math.floorMod(id * 137 + f * 19 + j, 251L)).toByte)
        j += 1
      }
    }
    bb.array()
  }

  /** Info-tagged CBR generator: LAME writes the same Xing-layout header
    * tagged "Info" on CONSTANT-bitrate streams — the parser must skip
    * the metadata frame, cross-check its frame count, and still report
    * the nominal CBR bitrate with vbr = false (an "Info" treated as
    * "Xing" would misreport e.g. a 128 kbps CBR stream as VBR with a
    * floored 127 kbps byte-average). Same field derivations as
    * [[syntheticMp3]]. */
  def syntheticMp3Info(id: Long): Array[Byte] = {
    val bi = 1 + Math.floorMod(id, 14L).toInt
    val si = Math.floorMod(id, 3L).toInt
    val kbps = Mp3Bitrates(bi); val rate = Mp3Rates(si)
    val nFrames = (4 + Math.floorMod(id, 7L)).toInt
    val hdrLen = 144 * 32000 / rate // metadata frame at bitrate index 1
    val frameLens = (0 until nFrames).map { f =>
      144 * (kbps * 1000) / rate + Math.floorMod(id + f, 2L).toInt
    }
    val bb = java.nio.ByteBuffer.allocate(hdrLen + frameLens.sum)
    bb.put(0xff.toByte).put(0xfb.toByte)
      .put(((1 << 4) | (si << 2)).toByte).put(0xc0.toByte)
    bb.put(new Array[Byte](17)) // mono MPEG-1 side info
    bb.put("Info".getBytes("US-ASCII"))
      .putInt(1) // flags: frame count present
      .putInt(nFrames)
    bb.put(new Array[Byte](hdrLen - 21 - 12))
    frameLens.zipWithIndex.foreach { case (len, f) =>
      val pad = Math.floorMod(id + f, 2L).toInt
      bb.put(0xff.toByte).put(0xfb.toByte)
        .put(((bi << 4) | (si << 2) | (pad << 1)).toByte)
        .put(0xc0.toByte)
      var j = 4
      while (j < len) {
        bb.put((Math.floorMod(id * 137 + f * 19 + j, 251L)).toByte)
        j += 1
      }
    }
    bb.array()
  }

  /** Lossless-audio container facts from a FLAC STREAMINFO header.
    * duration_ms is the exact integer floor of samples·1000/rate. */
  final case class FlacMeta(id: Long, sample_rate: Int, channels: Int,
      bits: Int, total_samples: Long, duration_ms: Long)

  /** REAL lossless-audio HEADER parse (FLAC — the `fLaC` magic and the
    * metadata-block walk are pure byte arithmetic like the
    * RIFF/ISO-BMFF/MPEG walks; only SUBFRAME decode needs the codec and
    * stays on [[decodeStub]]): requires the mandatory first STREAMINFO
    * block (type 0, declared length 34; 1-byte last-flag+type header,
    * 24-bit big-endian length — RFC 9639 §8.2) and unpacks its packed
    * big-endian 64-bit field group at offset 10: 20-bit sample rate,
    * 3-bit channels−1, 5-bit bits-per-sample−1, 36-bit total samples.
    * Every read is bounds-checked against the declared block length
    * (the mvhd/fmt lesson: short headers must fail, not read the next
    * block's bytes). */
  def decodeFlac(r: MediaRecord): FlacMeta = {
    val b = r.payload
    require(b.length >= 4 && tag(b, 0) == "fLaC",
      s"not a FLAC payload for id=${r.id}")
    require(b.length >= 8, s"truncated FLAC block header for id=${r.id}")
    val btype = b(4) & 0x7f
    require(btype == 0,
      s"FLAC first block type $btype != STREAMINFO for id=${r.id}")
    val len = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
    require(len == 34, s"STREAMINFO length $len != 34 for id=${r.id}")
    require(8 + len <= b.length, s"truncated STREAMINFO for id=${r.id}")
    var g = 0L
    var i = 0
    while (i < 8) { g = (g << 8) | (b(8 + 10 + i) & 0xffL); i += 1 }
    val rate = (g >>> 44).toInt
    val channels = ((g >>> 41) & 0x7L).toInt + 1
    val bits = ((g >>> 36) & 0x1fL).toInt + 1
    val total = g & 0xfffffffffL
    require(rate > 0, s"FLAC sample rate 0 for id=${r.id}")
    FlacMeta(r.id, rate, channels, bits, total, total * 1000L / rate)
  }

  /** Batched per-partition FLAC header parse — same `mapPartitions`
    * shape as the other media decoders. */
  def flacMeta(ds: Dataset[MediaRecord]): Dataset[FlacMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeFlac))
  }

  /** Deterministic FLAC generator (header-only: magic + STREAMINFO as
    * the single, last metadata block — the parse target is the header
    * walk, audio frames would need the codec): rate = 8000 +
    * (id mod 4)·2000, channels = 1 + id mod 2, bits = 16,
    * total = 1000 + id mod 97 — all SQL-expressible facts an oracle can
    * recompute without decoding. */
  def syntheticFlac(id: Long): Array[Byte] = {
    val rate = (8000 + Math.floorMod(id, 4L) * 2000).toInt
    val channels = (1 + Math.floorMod(id, 2L)).toInt
    val total = 1000 + Math.floorMod(id, 97L)
    val bb = java.nio.ByteBuffer.allocate(42) // 4 magic + 4 hdr + 34 body
    bb.put("fLaC".getBytes("US-ASCII"))
    bb.put(0x80.toByte) // last-block flag | type 0 (STREAMINFO)
    bb.put(0.toByte).put(0.toByte).put(34.toByte)
    bb.putShort(4096.toShort).putShort(4096.toShort) // min/max block size
    bb.put(new Array[Byte](6)) // min/max frame size (24-bit each): unknown
    var g = 0L
    g |= rate.toLong << 44
    g |= (channels - 1).toLong << 41
    g |= (16 - 1).toLong << 36
    g |= total
    bb.putLong(g)
    bb.put(new Array[Byte](16)) // unaudited MD5 signature: zeros
    bb.array()
  }

  /** Web-archive facts from a WARC payload: record count and the FIRST
    * RESPONSE record's type/URI/host/length — the fields a Common-Crawl
    * text-extraction pipeline reads before any HTML parsing. */
  final case class WarcMeta(id: Long, version: String, n_records: Long,
      target_uri: String, host: String, response_len: Long)

  /** REAL web-archive container walk (WARC/1.1, ISO 28500 — the
    * Common-Crawl container; header blocks are CRLF-delimited ASCII and
    * record payloads are skipped by their declared Content-Length, so
    * the walk is pure byte arithmetic like the RIFF/ISO-BMFF chains):
    * verifies the `WARC/` magic per record, reads WARC-Type /
    * WARC-Target-URI / Content-Length from each header block, skips
    * payload + the mandatory trailing CRLFCRLF, and reports the first
    * `response` record's URI (host = the authority between `://` and
    * the next `/`). Every skip is bounds-checked against the remaining
    * buffer (the mvhd/fmt lesson) — truncation fails closed, never
    * reads past the declared block. */
  def decodeWarc(r: MediaRecord): WarcMeta = {
    val b = r.payload
    val CRLF2 = "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def indexOf(pat: Array[Byte], from: Int): Int = {
      var i = from
      while (i <= b.length - pat.length) {
        var j = 0
        while (j < pat.length && b(i + j) == pat(j)) j += 1
        if (j == pat.length) return i
        i += 1
      }
      -1
    }
    var pos = 0
    var nRec = 0L
    var version: String = null
    var uri: String = null
    var respLen = -1L
    while (pos < b.length) {
      val hdrEnd = indexOf(CRLF2, pos)
      require(hdrEnd >= 0, s"unterminated WARC header block at byte " +
        s"$pos for id=${r.id}")
      // UTF-8: the WARC spec allows non-ASCII header values (IRIs in
      // the wild) — an ASCII decode would silently U+FFFD them
      val hdr = new String(b, pos, hdrEnd - pos,
        java.nio.charset.StandardCharsets.UTF_8)
      val lines = hdr.split("\r\n")
      require(lines.nonEmpty && lines(0).startsWith("WARC/"),
        s"missing WARC/ magic at byte $pos for id=${r.id}")
      if (version == null) version = lines(0).stripPrefix("WARC/")
      def field(name: String): Option[String] = lines.tail
        .find(_.toLowerCase.startsWith(s"${name.toLowerCase}:"))
        .map(_.split(":", 2)(1).trim)
      val len = field("Content-Length")
        .getOrElse(throw new IllegalArgumentException(
          s"WARC record without Content-Length for id=${r.id}")).toLong
      // bound BEFORE any addition: a near-Long.MaxValue declared length
      // would wrap the naive hdrEnd+len+8 check negative, truncate in
      // toInt, and loop the walk forever on untrusted crawl bytes
      val room = b.length - hdrEnd - 2L * CRLF2.length
      require(len >= 0 && len <= room,
        s"truncated WARC record payload at byte $pos for id=${r.id}")
      if (respLen < 0 && field("WARC-Type").contains("response")) {
        respLen = len
        uri = field("WARC-Target-URI").orNull
      }
      nRec += 1
      pos = hdrEnd + CRLF2.length + len.toInt + CRLF2.length
    }
    require(nRec > 0, s"WARC payload without records for id=${r.id}")
    require(respLen >= 0, s"WARC payload without a response record " +
      s"for id=${r.id}")
    val host = Option(uri).map { u =>
      val a = u.indexOf("://")
      require(a >= 0, s"WARC-Target-URI without scheme for id=${r.id}")
      val rest = u.substring(a + 3)
      val slash = rest.indexOf('/')
      if (slash < 0) rest else rest.substring(0, slash)
    }.orNull
    WarcMeta(r.id, version, nRec, uri, host, respLen)
  }

  /** Batched per-partition WARC walk — same `mapPartitions` shape as
    * the other media decoders. */
  def warcMeta(ds: Dataset[MediaRecord]): Dataset[WarcMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeWarc))
  }

  /** Deterministic WARC generator (request + response record pair, the
    * crawl-capture shape): uri = https://h<id mod 7>.example/p/<id>,
    * request length = 10 + id mod 5, response length = 20 + id mod 11 —
    * all SQL-expressible facts an oracle recomputes without parsing.
    * Payload bytes are a pure function of (id, offset). */
  def syntheticWarc(id: Long): Array[Byte] = {
    val uri = s"https://h${Math.floorMod(id, 7L)}.example/p/$id"
    val reqLen = (10 + Math.floorMod(id, 5L)).toInt
    val respLen = (20 + Math.floorMod(id, 11L)).toInt
    def rec(typ: String, len: Int): Array[Byte] = {
      val hdr = s"WARC/1.1\r\nWARC-Type: $typ\r\n" +
        s"WARC-Record-ID: <urn:graft:$id:$typ>\r\n" +
        s"WARC-Target-URI: $uri\r\nContent-Length: $len\r\n\r\n"
      val h = hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](h.length + len + 4)
      System.arraycopy(h, 0, out, 0, h.length)
      var i = 0
      while (i < len) {
        out(h.length + i) = Math.floorMod(id * 31 + i * 7, 251L).toByte
        i += 1
      }
      out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
      out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
      out
    }
    rec("request", reqLen) ++ rec("response", respLen)
  }

  /** STUB decode — deterministic fake features, used for the kinds this
    * container genuinely cannot decode (video FRAMES and LOSSY-audio
    * spectra only, as of round 7: container/stream metadata goes through
    * the real [[decodeMp4]]/[[decodeMp3]], images through
    * [[decodeImage]] with real pixel decode, WAV audio through
    * [[decodeWav]] and its real spectral tier [[wavSpectrum]]).
    * Rolling-hash checksum + first-4-bytes "feature". */
  private def decodeStub(r: MediaRecord): MediaFeatures = {
    var h = 0L
    var i = 0
    while (i < r.payload.length) {
      h = (h * 31 + (r.payload(i) & 0xff)) % 1000000007L
      i += 1
    }
    val feat = Array.tabulate(4)(k =>
      if (k < r.payload.length) (r.payload(k) & 0xff) / 255.0 else 0.0)
    MediaFeatures(r.id, r.kind, r.payload.length.toLong, h, feat)
  }
  /** Archive facts from a POSIX ustar tape archive: entry count, byte
    * totals, and the first member's name — the listing a data-lake
    * ingest reads before extracting anything. */
  final case class TarMeta(id: Long, n_entries: Long, total_size: Long,
      first_name: String, max_size: Long)

  /** REAL tape-archive container walk (POSIX.1-1988 ustar — the bulk
    * container crawl dumps and dataset snapshots ship in; pure byte
    * arithmetic like the WARC/RIFF/ISO-BMFF walks): 512-byte header
    * blocks with NUL-terminated names, octal size fields, and a
    * checksum computed over the header with the checksum field blanked
    * — each entry's data is skipped in ceil(size/512) blocks, and the
    * archive ends at an all-zero block. Every skip is bounds-checked
    * BEFORE the arithmetic and the checksum is VERIFIED per entry
    * (untrusted archive bytes fail closed, never walk off: the WARC
    * Content-Length lesson). */
  def decodeTar(r: MediaRecord): TarMeta = {
    val b = r.payload
    require(b.length % 512 == 0 && b.length >= 1024,
      s"tar length ${b.length} not block-aligned for id=${r.id}")
    def zeroBlock(off: Int): Boolean = {
      var i = off
      while (i < off + 512) { if (b(i) != 0) return false; i += 1 }
      true
    }
    def cstr(off: Int, max: Int): String = {
      var n = 0
      while (n < max && b(off + n) != 0) n += 1
      new String(b, off, n, "US-ASCII")
    }
    def octal(off: Int, len: Int): Long = {
      var v = 0L
      var i = off
      val end = off + len
      while (i < end && (b(i) == ' '.toByte)) i += 1
      while (i < end && b(i) >= '0'.toByte && b(i) <= '7'.toByte) {
        require(v <= (Long.MaxValue - 7) / 8,
          s"octal field overflow for id=${r.id}")
        v = v * 8 + (b(i) - '0'.toByte)
        i += 1
      }
      v
    }
    var off = 0
    var entries = 0L
    var total = 0L
    var maxSize = 0L
    var first: String = null
    while (off + 512 <= b.length && !zeroBlock(off)) {
      require(cstr(off + 257, 6) == "ustar",
        s"bad ustar magic at entry $entries for id=${r.id}")
      // checksum: header bytes with the 8-byte checksum field as spaces
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) 32 else b(off + i) & 0xff)
        i += 1
      }
      require(sum == octal(off + 148, 8),
        s"tar checksum mismatch at entry $entries for id=${r.id}")
      val name = cstr(off, 100)
      val size = octal(off + 124, 12)
      if (first == null) first = name
      entries += 1
      total += size
      if (size > maxSize) maxSize = size
      val dataBlocks = ((size + 511) / 512).toInt
      require(off + 512 + dataBlocks.toLong * 512 <= b.length,
        s"tar entry '$name' data runs past the archive for id=${r.id}")
      off += 512 + dataBlocks * 512
    }
    require(entries > 0, s"empty tar for id=${r.id}")
    TarMeta(r.id, entries, total, first, maxSize)
  }

  /** Batched per-partition tar walk — same `mapPartitions` shape as the
    * other container decoders. */
  def tarMeta(ds: Dataset[MediaRecord]): Dataset[TarMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeTar))
  }

  /** Deterministic ustar generator: two members — `a_<id>.txt` of
    * 10 + id mod 7 bytes and `d/b_<id>.bin` of 100 + id mod 13 bytes —
    * with real octal fields, verified checksums, and the two-zero-block
    * trailer; all facts SQL-expressible for the oracle. */
  def syntheticTar(id: Long): Array[Byte] = {
    def header(name: String, size: Long): Array[Byte] = {
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, nb.length)
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val pad = "0" * (len - 1 - s.length) + s
        System.arraycopy(pad.getBytes("US-ASCII"), 0, h, off, len - 1)
        // trailing NUL already zero
      }
      oct(420, 100, 8) // mode 0644
      oct(0, 108, 8); oct(0, 116, 8)
      oct(size, 124, 12)
      oct(0, 136, 12)
      h(156) = '0'.toByte // regular file
      System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
      h(263) = '0'.toByte; h(264) = '0'.toByte
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      val cs = java.lang.Long.toOctalString(sum)
      val csPad = "0" * (6 - cs.length) + cs
      System.arraycopy(csPad.getBytes("US-ASCII"), 0, h, 148, 6)
      h(154) = 0; h(155) = ' '.toByte
      h
    }
    val s1 = 10 + Math.floorMod(id, 7L)
    val s2 = 100 + Math.floorMod(id, 13L)
    def blocks(n: Long): Int = ((n + 511) / 512).toInt * 512
    val out = java.nio.ByteBuffer.allocate(
      512 + blocks(s1) + 512 + blocks(s2) + 1024)
    out.put(header(s"a_$id.txt", s1))
    val d1 = new Array[Byte](blocks(s1))
    var i = 0
    while (i < s1) { d1(i) = (Math.floorMod(id + i, 251L)).toByte; i += 1 }
    out.put(d1)
    out.put(header(s"d/b_$id.bin", s2))
    val d2 = new Array[Byte](blocks(s2))
    i = 0
    while (i < s2) { d2(i) = (Math.floorMod(id * 7 + i, 251L)).toByte
      i += 1 }
    out.put(d2)
    out.array() // trailing 1024 zero bytes = the two-zero-block end
  }
  /** Compressed-member facts from a gzip stream: header fields plus the
    * ACTUAL inflate — the first multimodal tier where the full decode is
    * pure JDK (java.util.zip.Inflater is zlib), so nothing here is a
    * stub: the DEFLATE body is decompressed, the CRC32 recomputed over
    * the output, and both trailer fields verified. */
  final case class GzipMeta(id: Long, fname: String, mtime: Long, os: Int,
      uncompressed_len: Long, crc_ok: Boolean)

  /** REAL gzip member parse + decode (RFC 1952 + RFC 1951 via the JDK's
    * zlib binding): magic/CM check, FLG-driven optional-field walk
    * (FEXTRA length skip, zero-terminated FNAME/FCOMMENT, FHCRC),
    * little-endian MTIME/OS, then a full `Inflater(nowrap)` pass over
    * the DEFLATE body with the trailer's CRC32 and ISIZE verified
    * against the recomputed output. Every skip is bounds-checked before
    * the arithmetic, and the inflate is CAPPED at 64 MiB — an
    * adversarial "gzip bomb" member fails closed instead of exhausting
    * the executor (the WARC Content-Length lesson, applied to
    * decompression). */
  def decodeGzip(r: MediaRecord): GzipMeta = {
    val b = r.payload
    require(b.length >= 18, s"gzip too short (${b.length}) for id=${r.id}")
    require((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b,
      s"bad gzip magic for id=${r.id}")
    require(b(2) == 8, s"gzip CM ${b(2)} != deflate for id=${r.id}")
    val flg = b(3) & 0xff
    require((flg & 0xe0) == 0, s"reserved gzip FLG bits for id=${r.id}")
    def le32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    val mtime = le32(4)
    val os = b(9) & 0xff
    var off = 10
    if ((flg & 4) != 0) { // FEXTRA
      require(off + 2 <= b.length, s"truncated FEXTRA len for id=${r.id}")
      val xlen = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      off += 2 + xlen
      require(off <= b.length, s"FEXTRA runs past end for id=${r.id}")
    }
    def cstrEnd(start: Int): Int = {
      var i = start
      while (i < b.length && b(i) != 0) i += 1
      require(i < b.length, s"unterminated gzip string for id=${r.id}")
      i
    }
    var fname = ""
    if ((flg & 8) != 0) { // FNAME (ISO-8859-1 per RFC 1952)
      val e = cstrEnd(off)
      fname = new String(b, off, e - off, "ISO-8859-1")
      off = e + 1
    }
    if ((flg & 16) != 0) off = cstrEnd(off) + 1 // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC
      off += 2
      require(off <= b.length, s"truncated FHCRC for id=${r.id}")
    }
    require(off + 8 <= b.length, s"no room for gzip body for id=${r.id}")
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(b, off, b.length - off - 8)
    val crc = new java.util.zip.CRC32
    val out = new Array[Byte](64 * 1024)
    var total = 0L
    val cap = 64L * 1024 * 1024
    while (!inf.finished()) {
      val n =
        try inf.inflate(out)
        catch { case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(
            s"corrupt DEFLATE body for id=${r.id}: ${e.getMessage}")
        }
      require(n > 0 || inf.finished(),
        s"DEFLATE stalled (truncated body?) for id=${r.id}")
      crc.update(out, 0, n)
      total += n
      require(total <= cap, s"inflate exceeds ${cap}B cap for id=${r.id}")
    }
    val consumed = off + (b.length - off - 8 - inf.getRemaining)
    inf.end()
    require(consumed + 8 == b.length,
      s"trailing garbage after DEFLATE body for id=${r.id}")
    val crcStored = le32(consumed)
    val isize = le32(consumed + 4)
    require(isize == (total & 0xffffffffL),
      s"gzip ISIZE $isize != inflated $total for id=${r.id}")
    GzipMeta(r.id, fname, mtime, os, total, crc.getValue == crcStored)
  }

  /** Batched per-partition gzip decode — same `mapPartitions` shape as
    * the other container decoders. */
  def gzipMeta(ds: Dataset[MediaRecord]): Dataset[GzipMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeGzip))
  }

  /** Deterministic gzip generator: FNAME `f<id>.txt`, MTIME
    * 1700000000 + id mod 1000, OS 3 (unix), content = 50 + id mod 31
    * bytes of (31·i + id) mod 251 — compressed with the JDK Deflater.
    * The compressed BYTES may differ across zlib builds; every fact the
    * oracle checks (name, mtime, length, crc validity) is invariant. */
  def syntheticGzip(id: Long): Array[Byte] = {
    val n = (50 + Math.floorMod(id, 31L)).toInt
    val content = Array.tabulate(n)(i =>
      Math.floorMod(31L * i + id, 251L).toByte)
    val name = s"f$id.txt".getBytes("ISO-8859-1")
    val mtime = 1700000000L + Math.floorMod(id, 1000L)
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(content)
    defl.finish()
    val buf = new Array[Byte](n + 64)
    val m = defl.deflate(buf)
    require(defl.finished(), s"deflate buffer too small for id=$id")
    defl.end()
    val crc = new java.util.zip.CRC32
    crc.update(content)
    val bb = java.nio.ByteBuffer.allocate(10 + name.length + 1 + m + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x1f.toByte).put(0x8b.toByte).put(8.toByte)
      .put(8.toByte) // FLG = FNAME
      .putInt(mtime.toInt).put(0.toByte).put(3.toByte) // XFL, OS=unix
    bb.put(name).put(0.toByte)
    bb.put(buf, 0, m)
    bb.putInt(crc.getValue.toInt).putInt(n)
    bb.array()
  }
  /** Archive facts from a ZIP (PKWARE APPNOTE local-header walk):
    * entry count, byte totals, first member, and whether every STORED
    * member's CRC32 matches a recompute over its data. */
  final case class ZipMeta(id: Long, n_entries: Long, total_size: Long,
      first_name: String, crc_ok: Boolean)

  /** REAL ZIP container walk (PKWARE APPNOTE 4.3.x local file headers —
    * the other bulk container data dumps ship in, beside tar and the
    * gzip member): little-endian signature/size/name-length fields,
    * per-entry data skips, stop at the central directory. Contract kept
    * tight and fail-closed: STORED (method 0) members only — their
    * CRC32 is recomputed over the raw data and verified; a compressed
    * method or the bit-3 data-descriptor flag (sizes unknown at header
    * time) rejects loudly rather than guessing; every skip is
    * bounds-checked before the arithmetic (the WARC lesson). */
  def decodeZip(r: MediaRecord): ZipMeta = {
    val b = r.payload
    def le16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def le32(off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    require(b.length >= 22, s"zip too short (${b.length}) for id=${r.id}")
    var off = 0
    var entries = 0L
    var total = 0L
    var first: String = null
    var crcOk = true
    while (off + 4 <= b.length && le32(off) == 0x04034b50L) {
      require(off + 30 <= b.length,
        s"truncated local header at entry $entries for id=${r.id}")
      val flags = le16(off + 6)
      require((flags & 0x8) == 0,
        s"zip data-descriptor flag unsupported for id=${r.id}")
      require((flags & 0x800) == 0,
        s"zip UTF-8 (EFS) names unsupported for id=${r.id} — the " +
          "US-ASCII decode would silently garble them")
      val method = le16(off + 8)
      require(method == 0,
        s"zip method $method != STORED for id=${r.id} (deflate members " +
          "belong to the gzip/deflate tier)")
      val crcStored = le32(off + 14)
      val compSize = le32(off + 18)
      val uncompSize = le32(off + 22)
      require(compSize == uncompSize,
        s"STORED sizes disagree for id=${r.id}")
      val nameLen = le16(off + 26)
      val extraLen = le16(off + 28)
      val dataOff = off + 30 + nameLen + extraLen
      require(dataOff >= 0 && dataOff + compSize <= b.length,
        s"zip entry data runs past the archive for id=${r.id}")
      val name = new String(b, off + 30, nameLen, "US-ASCII")
      if (first == null) first = name
      val crc = new java.util.zip.CRC32
      crc.update(b, dataOff, compSize.toInt)
      if (crc.getValue != crcStored) crcOk = false
      entries += 1
      total += uncompSize
      off = dataOff + compSize.toInt
    }
    require(entries > 0, s"no zip local headers for id=${r.id}")
    require(off + 4 <= b.length && le32(off) == 0x02014b50L,
      s"central directory missing after entries for id=${r.id}")
    ZipMeta(r.id, entries, total, first, crcOk)
  }

  /** Batched per-partition ZIP walk — same `mapPartitions` shape as the
    * other container decoders. */
  def zipMeta(ds: Dataset[MediaRecord]): Dataset[ZipMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(decodeZip))
  }

  /** Deterministic ZIP generator: two STORED members (`a_<id>.txt` of
    * 10 + id mod 7 bytes, `d/b_<id>.bin` of 100 + id mod 13 bytes) with
    * real CRC32s, a matching central directory, and the EOCD record —
    * all facts SQL-expressible. */
  def syntheticZip(id: Long): Array[Byte] = {
    def entry(name: String, data: Array[Byte]): (Array[Byte], Long) = {
      val crc = new java.util.zip.CRC32
      crc.update(data)
      val nb = name.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(30 + nb.length + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x04034b50).putShort(20).putShort(0).putShort(0)
        .putShort(0).putShort(0)
        .putInt(crc.getValue.toInt)
        .putInt(data.length).putInt(data.length)
        .putShort(nb.length.toShort).putShort(0)
      bb.put(nb).put(data)
      (bb.array(), crc.getValue)
    }
    def central(name: String, crc: Long, size: Int,
        localOff: Int): Array[Byte] = {
      val nb = name.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(46 + nb.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x02014b50).putShort(20).putShort(20).putShort(0)
        .putShort(0).putShort(0).putShort(0)
        .putInt(crc.toInt).putInt(size).putInt(size)
        .putShort(nb.length.toShort).putShort(0).putShort(0)
        .putShort(0).putShort(0).putInt(0).putInt(localOff)
      bb.put(nb)
      bb.array()
    }
    val s1 = (10 + Math.floorMod(id, 7L)).toInt
    val s2 = (100 + Math.floorMod(id, 13L)).toInt
    val d1 = Array.tabulate(s1)(i => Math.floorMod(id + i, 251L).toByte)
    val d2 = Array.tabulate(s2)(i =>
      Math.floorMod(id * 7 + i, 251L).toByte)
    val (e1, c1) = entry(s"a_$id.txt", d1)
    val (e2, c2) = entry(s"d/b_$id.bin", d2)
    val cd1 = central(s"a_$id.txt", c1, s1, 0)
    val cd2 = central(s"d/b_$id.bin", c2, s2, e1.length)
    val cdLen = cd1.length + cd2.length
    val eocd = java.nio.ByteBuffer.allocate(22)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0x06054b50).putShort(0).putShort(0)
      .putShort(2).putShort(2)
      .putInt(cdLen).putInt(e1.length + e2.length).putShort(0)
      .array()
    e1 ++ e2 ++ cd1 ++ cd2 ++ eocd
  }
}
