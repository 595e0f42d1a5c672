package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.llm._

/** Pure-JVM properties of the hashing kernels. */
class LlmProps extends Properties("llm.kernels") {
  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val doc = Gen.listOfN(12, word)

  property("simhash is a bag-of-tokens function (order-invariant)") =
    Prop.forAll(doc) { words =>
      val a = SimHash.compute(words.mkString(" "))
      val b = SimHash.compute(scala.util.Random.shuffle(words).mkString(" "))
      a == b
    }
  property("simhash self-distance is zero") =
    Prop.forAll(doc) { words =>
      val h = SimHash.compute(words.mkString(" "))
      java.lang.Long.bitCount(h ^ h) == 0
    }
  property("wilcoxon p-values are probabilities (or the sentinel)") =
    Prop.forAll(Gen.choose(1, 60), Gen.choose(0.0, 400.0)) { (n, w) =>
      val maxW = n.toLong * (n + 1) / 2
      val p = graft.engine.Stats.wilcoxonPValue(n.toLong,
        math.min(w, maxW.toDouble), Seq.fill(n)(1L))
      (p >= 0.0 && p <= 1.0) || p == graft.engine.Stats.Sentinel
    }
}

/** Fuzz properties for the hand-written byte parsers (the RIFF, ISO-BMFF
  * and MPEG frame walks): generator→parser round-trip for ANY id, and
  * fail-closed behavior under arbitrary truncation — a parser bounds bug
  * surfaces here as an index/buffer exception instead of the contractual
  * IllegalArgumentException. Pure JVM, no Spark session. */
class MultimodalProps extends Properties("llm.multimodal") {
  import graft.llm.Multimodal
  import Multimodal.MediaRecord

  private val anyId = Gen.choose(-1000000L, 1000000000L)

  property("wav/mp4/mp3 generators round-trip through their parsers") =
    Prop.forAll(anyId) { id =>
      val wav = Multimodal.decodeWav(
        MediaRecord(id, "audio/wav", Multimodal.syntheticWav(id)))
      val mp4 = Multimodal.decodeMp4(
        MediaRecord(id, "video/mp4", Multimodal.syntheticMp4(id)))
      val mp3 = Multimodal.decodeMp3(
        MediaRecord(id, "audio/mpeg", Multimodal.syntheticMp3(id)))
      val vbr = Multimodal.decodeMp3(
        MediaRecord(id, "audio/mpeg", Multimodal.syntheticMp3Vbr(id)))
      val flac = Multimodal.decodeFlac(
        MediaRecord(id, "audio/flac", Multimodal.syntheticFlac(id)))
      val info = Multimodal.decodeMp3(
        MediaRecord(id, "audio/mpeg", Multimodal.syntheticMp3Info(id)))
      val warc = Multimodal.decodeWarc(
        MediaRecord(id, "application/warc", Multimodal.syntheticWarc(id)))
      wav.n_samples == 16 + Math.floorMod(id, 17L) &&
        wav.sample_rate == 8000 + Math.floorMod(id, 4L) * 2000 &&
        mp4.duration == 2000 + Math.floorMod(id, 977L) * 3 &&
        mp4.timescale == 1000 + Math.floorMod(id, 5L) * 500 &&
        mp3.frames == 4 + Math.floorMod(id, 7L) && !mp3.vbr &&
        mp3.duration_ms ==
          Math.floorDiv(mp3.frames * 1152L * 1000L, mp3.sample_rate) &&
        vbr.vbr && vbr.frames == mp3.frames &&
        vbr.sample_rate == mp3.sample_rate &&
        // Info = LAME's CBR marker: metadata frame skipped, frame count
        // cross-checked, NOMINAL bitrate kept, vbr = false
        !info.vbr && info.frames == mp3.frames &&
        info.bitrate_kbps == mp3.bitrate_kbps &&
        flac.sample_rate == wav.sample_rate &&
        flac.channels == 1 + Math.floorMod(id, 2L) && flac.bits == 16 &&
        flac.total_samples == 1000 + Math.floorMod(id, 97L) &&
        flac.duration_ms == Math.floorDiv(
          flac.total_samples * 1000L, flac.sample_rate) &&
        warc.version == "1.1" && warc.n_records == 2L &&
        warc.host == s"h${Math.floorMod(id, 7L)}.example" &&
        warc.target_uri ==
          s"https://h${Math.floorMod(id, 7L)}.example/p/$id" &&
        warc.response_len == 20 + Math.floorMod(id, 11L)
    }

  property("tar generator round-trips; checksum verified per entry") =
    Prop.forAll(anyId) { id =>
      val tar = Multimodal.decodeTar(
        MediaRecord(id, "application/x-tar", Multimodal.syntheticTar(id)))
      val s1 = 10 + Math.floorMod(id, 7L)
      val s2 = 100 + Math.floorMod(id, 13L)
      tar.n_entries == 2L && tar.total_size == s1 + s2 &&
        tar.first_name == s"a_$id.txt" && tar.max_size == s2 && {
          // corrupt one name byte: the verified checksum must catch it
          val bad = Multimodal.syntheticTar(id).clone()
          bad(0) = (bad(0) ^ 0x01).toByte
          try { Multimodal.decodeTar(MediaRecord(id, "t", bad)); false }
          catch {
            case _: IllegalArgumentException => true
            case _: Throwable => false
          }
        }
    }

  property("gzip generator round-trips through the REAL inflate") =
    Prop.forAll(anyId) { id =>
      val g = Multimodal.decodeGzip(
        MediaRecord(id, "application/gzip", Multimodal.syntheticGzip(id)))
      g.fname == s"f$id.txt" &&
        g.mtime == 1700000000L + Math.floorMod(id, 1000L) &&
        g.os == 3 && g.crc_ok &&
        g.uncompressed_len == 50 + Math.floorMod(id, 31L) && {
          // flip one DEFLATE body byte: either the inflate fails loudly
          // or the recomputed CRC must disagree with the trailer
          val bad = Multimodal.syntheticGzip(id).clone()
          val bodyOff = 10 + s"f$id.txt".length + 1
          bad(bodyOff + 2) = (bad(bodyOff + 2) ^ 0x40).toByte
          try !Multimodal.decodeGzip(MediaRecord(id, "g", bad)).crc_ok
          catch {
            case _: IllegalArgumentException => true
            case _: Throwable => false
          }
        }
    }

  property("gzip fails closed on truncation: IAE, never index errors") =
    Prop.forAll(anyId, Gen.choose(0, 999)) { (id, permille) =>
      val full = Multimodal.syntheticGzip(id)
      val cut = full.take((full.length.toLong * permille / 1000L).toInt)
      try { Multimodal.decodeGzip(MediaRecord(id, "g", cut)); false }
      catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    }

  property("imageHistogram matches the gradient-generator formula; " +
    "bins sum to the pixel count") =
    Prop.forAll(anyId) { id =>
      val hist = Multimodal.decodeImageHist(
        MediaRecord(id, "image/png", Multimodal.syntheticGradientPng(id)),
        bins = 16)
      val g = Math.floorDiv(id, 7L)
      val o = Math.floorMod(id, 7L)
      val a = 1 + Math.floorMod(7 * g, 11L)
      val b = 1 + Math.floorMod(5 * g, 13L)
      val c = Math.floorMod(3 * g, 5L)
      val want = Array.fill(16)(0L)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = Math.floorMod(a * x + b * y + c * x * y + 37 * g + o,
          256L).toInt
        want(v / 16) += 1 // gray pixel: BT.601 luma == gray (Σcoef=256)
      }
      hist.length == 16 &&
        hist.forall(e => e.width == 16 && e.height == 16) &&
        hist.map(_.n_px).sum == 256L &&
        hist.forall(e => e.n_px == want(e.bin))
    }

  property("image decode fails CLOSED on truncation: throws or decodes " +
    "to the full image's histogram, never a silently wrong one") =
    Prop.forAll(anyId, Gen.choose(0, 999)) { (id, permille) =>
      val full = Multimodal.syntheticGradientPng(id)
      val want = Multimodal.decodeImageHist(
        MediaRecord(id, "i", full), bins = 16)
      val cut = full.take((full.length.toLong * permille / 1000L).toInt)
      try {
        Multimodal.decodeImageHist(MediaRecord(id, "i", cut), 16) == want
      } catch {
        case _: IllegalArgumentException => true
        case _: javax.imageio.IIOException => true
        case _: java.io.IOException => true
        case _: Throwable => false
      }
    }

  property("JPEG quadrant fixture round-trips BIT-EXACTLY through the " +
    "lossy baseline-DCT codec (block-uniform DC-only spectra, all-ones " +
    "quant table at quality 1.0)") =
    Prop.forAll(anyId) { id =>
      val hist = Multimodal.decodeImageHist(
        MediaRecord(id, "image/jpeg", Multimodal.syntheticQuadJpeg(id)),
        bins = 16)
      val want = Array.fill(16)(0L)
      for (q <- 0 until 4)
        want(Math.floorMod(37 * id + 53 * q, 256L).toInt / 16) += 64L
      hist.length == 16 &&
        hist.forall(e => e.width == 16 && e.height == 16) &&
        hist.map(_.n_px).sum == 256L &&
        hist.forall(e => e.n_px == want(e.bin))
    }

  property("JPEG decode fails CLOSED on truncation: libjpeg would pad a " +
    "cut scan into a silently wrong image, the EOI guard must throw " +
    "first (or the decode must equal the full histogram)") =
    Prop.forAll(anyId, Gen.choose(0, 999)) { (id, permille) =>
      val full = Multimodal.syntheticQuadJpeg(id)
      val want = Multimodal.decodeImageHist(
        MediaRecord(id, "image/jpeg", full), bins = 16)
      val cut = full.take((full.length.toLong * permille / 1000L).toInt)
      try {
        Multimodal.decodeImageHist(
          MediaRecord(id, "image/jpeg", cut), 16) == want
      } catch {
        case _: IllegalArgumentException => true
        case _: javax.imageio.IIOException => true
        case _: java.io.IOException => true
        case _: Throwable => false
      }
    }

  property("JPEG EOI guard walks segments: an EXIF-style APP1 segment " +
    "embedding a thumbnail WITH ITS OWN EOI cannot satisfy the guard " +
    "when the outer image is truncated right after it; a valid file " +
    "with an arbitrarily large post-EOI trailer is accepted") =
    Prop.forAll(anyId, Gen.choose(65, 4096)) { (id, trailerLen) =>
      val full = Multimodal.syntheticQuadJpeg(id)
      // a complete mini-JPEG (own SOI..EOI) as the APP1 thumbnail body
      val thumb = Multimodal.syntheticQuadJpeg(id + 1)
      val app1Len = 2 + 6 + thumb.length // len field + "Exif\0\0" + body
      val app1 = Array[Byte](0xff.toByte, 0xe1.toByte,
        ((app1Len >> 8) & 0xff).toByte, (app1Len & 0xff).toByte,
        'E', 'x', 'i', 'f', 0, 0) ++ thumb
      // SOI + APP1(thumbnail) + rest-of-real-image, CUT right after the
      // thumbnail: the trailing bytes end in the thumbnail's FFD9, which
      // a trailing-window scan would accept — the segment walk must not
      val cutAfterThumb = full.take(2) ++ app1
      val cutRejected =
        try { Multimodal.decodeImageHist(MediaRecord(id, "image/jpeg",
          cutAfterThumb), 16); false }
        catch { case _: IllegalArgumentException => true
                case _: Throwable => false }
      // same structure but COMPLETE (real image follows the APP1), plus
      // a large non-FFD9 trailer: must decode to the un-thumbnailed
      // image's histogram (ImageIO skips unknown APP1 payloads)
      val withThumbAndTrailer = full.take(2) ++ app1 ++ full.drop(2) ++
        Array.fill(trailerLen)(0x41.toByte)
      val want = Multimodal.decodeImageHist(
        MediaRecord(id, "image/jpeg", full), 16)
      val got =
        try Multimodal.decodeImageHist(MediaRecord(id, "image/jpeg",
          withThumbAndTrailer), 16)
        catch { case _: Throwable => Nil }
      cutRejected && got == want
    }

  property("zip generator round-trips; corrupt STORED data flips crc_ok") =
    Prop.forAll(anyId) { id =>
      val z = Multimodal.decodeZip(
        MediaRecord(id, "application/zip", Multimodal.syntheticZip(id)))
      val s1 = 10 + Math.floorMod(id, 7L)
      val s2 = 100 + Math.floorMod(id, 13L)
      z.n_entries == 2L && z.total_size == s1 + s2 &&
        z.first_name == s"a_$id.txt" && z.crc_ok && {
          // corrupt one byte of the FIRST member's data: the walk still
          // completes (structure intact) but the CRC recompute must flag
          val bad = Multimodal.syntheticZip(id).clone()
          val dataOff = 30 + s"a_$id.txt".length
          bad(dataOff) = (bad(dataOff) ^ 0x7f).toByte
          !Multimodal.decodeZip(MediaRecord(id, "z", bad)).crc_ok
        }
    }

  property("zip fails closed on truncation: IAE or all entries intact " +
    "(a cut inside the central directory keeps the walked facts)") =
    Prop.forAll(anyId, Gen.choose(0, 999)) { (id, permille) =>
      val full = Multimodal.syntheticZip(id)
      val cut = full.take((full.length.toLong * permille / 1000L).toInt)
      try {
        val m = Multimodal.decodeZip(MediaRecord(id, "z", cut))
        m.n_entries == 2L && m.first_name == s"a_$id.txt" && m.crc_ok
      } catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    }

  property("tar fails closed on truncation: IAE or a valid entry prefix") =
    Prop.forAll(anyId, Gen.choose(0, 1000)) { (id, permille) =>
      val full = Multimodal.syntheticTar(id)
      val cut = full.take((full.length.toLong * permille / 1000L).toInt)
      try {
        val m = Multimodal.decodeTar(MediaRecord(id, "t", cut))
        // an aligned cut that keeps ≥1 complete entry is a valid prefix
        m.n_entries >= 1L && m.n_entries <= 2L &&
          m.first_name == s"a_$id.txt"
      } catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    }

  property("wavPcm16 round-trips the synthetic sample formula and fails " +
    "closed on truncation") =
    Prop.forAll(anyId, Gen.choose(0, 1000)) { (id, permille) =>
      val full = Multimodal.syntheticWav(id)
      val expected = (0 until 16).map(i =>
        (Math.floorMod(id * 31 + i * 97L, 65536L) - 32768L).toInt)
      val roundTrip = Multimodal.wavPcm16(
        MediaRecord(id, "w", full), 16).toSeq == expected
      val cut = full.take(full.length.toLong.*(permille)./(1000L).toInt)
      val failsClosed =
        try { Multimodal.wavPcm16(MediaRecord(id, "w", cut), 16); true }
        catch {
          case _: IllegalArgumentException => true
          case _: Throwable => false
        }
      roundTrip && failsClosed
    }

  property("wavBandEnergies matches an independent BigInt recomputation " +
    "and a pure band-k tone concentrates its energy in band k") =
    Prop.forAll(anyId, Gen.choose(1, 4)) { (id, tone) =>
      val x = Multimodal.wavPcm16(
        MediaRecord(id, "w", Multimodal.syntheticWav(id)), 16)
      val engine = Multimodal.wavBandEnergies(x, 4)
      val ref = (1 to 4).map { k =>
        var re = BigInt(0); var im = BigInt(0)
        for (i <- 0 until 16) {
          re += BigInt(x(i)) * Multimodal.cosTableQ20((k * i) % 16)
          im -= BigInt(x(i)) * Multimodal.cosTableQ20((k * i + 12) % 16)
        }
        val rd = re.toDouble / 1048576.0
        val imd = im.toDouble / 1048576.0
        rd * rd + imd * imd
      }
      val kernelExact = engine.toSeq == ref
      // spectral sanity: a pure cosine at band frequency `tone` (built
      // from the SAME Q20 table, scaled to ~2^14) must put >100x more
      // energy in its own band than in any other
      val pure = Array.tabulate(16)(i =>
        (Multimodal.cosTableQ20((tone * i) & 15) >> 6).toInt)
      val e = Multimodal.wavBandEnergies(pure, 4)
      val own = e(tone - 1)
      val others = e.zipWithIndex.collect {
        case (v, j) if j != tone - 1 => v
      }
      kernelExact && others.forall(o => own > 100.0 * (o + 1e-9))
    }

  property("parsers fail closed on truncation: IAE or a valid prefix, never index errors") =
    Prop.forAll(anyId, Gen.choose(0, 1000)) { (id, permille) =>
      def cut(b: Array[Byte]): Array[Byte] =
        b.take(b.length.toLong.*(permille)./(1000L).toInt)
      def ok(f: => Any): Boolean =
        try { f; true }
        catch {
          case _: IllegalArgumentException => true // the contract
          case _: Throwable => false               // bounds bug
        }
      ok(Multimodal.decodeWav(
          MediaRecord(id, "w", cut(Multimodal.syntheticWav(id))))) &&
        ok(Multimodal.decodeMp4(
          MediaRecord(id, "v", cut(Multimodal.syntheticMp4(id))))) && {
          // FLAC: any strict prefix misses STREAMINFO bytes → must IAE
          try {
            val m = Multimodal.decodeFlac(
              MediaRecord(id, "f", cut(Multimodal.syntheticFlac(id))))
            permille == 1000 &&
              m.total_samples == 1000 + Math.floorMod(id, 97L)
          } catch {
            case _: IllegalArgumentException => permille < 1000
            case _: Throwable => false
          }
        } && {
          // WARC: a strict prefix loses the response record (or a
          // payload byte) → must IAE; only the full pair parses
          try {
            val m = Multimodal.decodeWarc(
              MediaRecord(id, "w", cut(Multimodal.syntheticWarc(id))))
            permille == 1000 && m.n_records == 2L
          } catch {
            case _: IllegalArgumentException => permille < 1000
            case _: Throwable => false
          }
        } && {
          // mp3: a cut exactly on a frame boundary IS a valid shorter
          // stream — additionally require the parse to stay consistent
          try {
            val m = Multimodal.decodeMp3(
              MediaRecord(id, "a", cut(Multimodal.syntheticMp3(id))))
            m.frames >= 1 && m.frames <= 4 + Math.floorMod(id, 7L)
          } catch {
            case _: IllegalArgumentException => true
            case _: Throwable => false
          }
        } && {
          // VBR: the frame-count cross-check makes truncation strict —
          // any cut either fails (IAE) or is the COMPLETE stream
          try {
            val m = Multimodal.decodeMp3(
              MediaRecord(id, "a", cut(Multimodal.syntheticMp3Vbr(id))))
            m.vbr && m.frames == 4 + Math.floorMod(id, 7L)
          } catch {
            case _: IllegalArgumentException => true
            case _: Throwable => false
          }
        }
    }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog again and again"), // near dup
    (4L, "completely different content about spark query engines at scale"),
    (5L, "tiny")).toDF("doc_id", "text")

  test("exact groups: dup texts collapse to min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() === 4)
    val dup = g.filter(col("n_copies") === 2).head()
    assert(dup.getAs[Long]("keeper_id") === 1L)
  }

  test("jaccard pairs find exact and near dups, skip unrelated") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 3 })
    assert(!pairs.exists { case (a, b, _) => b == 4 || a == 4 })
  }

  test("minhash-LSH candidates contain the true near-dups (recall on planted pairs)") {
    val nd = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, bands = 3, rowsPerBand = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 2L)))  // identical docs always collide on every band
  }

  test("sizePrefilter: keeps exactly the pairs whose Jaccard upper " +
    "bound min/(sz1+sz2-min) can still reach the threshold") {
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("id1", "id2")
    val sizes = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 21L), (5L, 30L))
      .toDF("doc_id", "sz")
    val kept = Dedup.sizePrefilter(cand, sizes, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (10,10): bound 1.0 kept; (10,20): bound 10/20 = 0.5 EXACTLY on the
    // threshold — must survive (a pair with i = min = 10 has J = 0.5);
    // (10,21): bound 0.476 < 0.5 dropped; (10,30): 0.333 dropped
    assert(kept === Set((1L, 2L), (1L, 3L)))
  }

  test("size prefilter is sound end-to-end: near-dup output equals " +
    "exhaustive exact verification of every band candidate") {
    // families of identical docs, near-dups, a subset/superset pair, and
    // unrelated noise — whatever the banding surfaces, the prefiltered
    // pipeline must return exactly the candidates whose TRUE Jaccard
    // passes (the prefilter may only remove can't-pass pairs)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (
      Seq((1L, base), (2L, base), (3L, base + " lambda mu"),
        (4L, (base + " ") * 4 + base),
        (5L, "one two three four five six seven eight nine ten")) ++
      (6L to 20L).map(i => i ->
        s"doc $i filler ${"x" * (i % 5).toInt} unique token${i} tail end here now")
      ).toDF("doc_id", "text")
    val nd = Dedup.minhashNearDups(corpus, "doc_id", "text", 3, 3, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text", 3, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd === exact.intersect(cand))
  }

  test("too-short docs produce no shingles and no pairs") {
    val sh = Dedup.shingleSets(docs.filter(col("doc_id") === 5), "doc_id", "text", 3)
    assert(sh.count() === 0)
  }

  test("native word_shingles matches the declarative spec (incl. unicode/edge cases)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  Leading   spaces, UPPER case, punct!!! and--dashes  ",
      "café über naïve — l'été à Paris 42 fois", // multi-byte separators
      "one two", // fewer tokens than n
      "", // empty
      "a1 b2 c3 d4 e5",
      "tabs\tand\nnewlines\r\nsplit too").toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val got = texts.select(Shingles.wordShingles(col("text"), n).as("s"))
        .collect().map(_.getSeq[String](0))
      val want = texts.select(Dedup.wordShingles(col("text"), n).as("s"))
        .collect().map(_.getSeq[String](0))
      assert(got.toSeq === want.toSeq, s"n=$n")
    }
  }

  test("incremental dedup equals the full result restricted to batch pairs") {
    val newBatch = docs.filter(col("doc_id") % 2 === 0) // ids 2, 4
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)   // ids 1, 3, 5
    val corpusBands = Dedup.bandTable(corpus, "doc_id", "text", 3, 3, 3)
    val incr = Dedup.minhashNearDupsIncremental(newBatch, corpus, corpusBands,
        "doc_id", "text", 3, 3, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 3, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr === full.filter(p => p._1 % 2 == 0 || p._2 % 2 == 0))
    assert(incr.contains((1L, 2L))) // the planted cross pair survives
  }

  test("native minhash signature kernel matches the declarative aggregation") {
    val extra = Seq(
      (10L, "répétition répétition répétition unicode tokens mixed 中文 here"),
      (11L, "a b a b a b a b"), // heavy duplicate shingles
      (12L, "")).toDF("doc_id", "text")
    val all = docs.unionByName(extra)
    for (perms <- Seq(1, 2, 9)) {
      val native = Dedup.minhashSignatures(all, "doc_id", "text", 3, perms)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val decl = Dedup.minhashSignaturesFromShingles(
          Dedup.shingleSets(all, "doc_id", "text", 3), "doc_id", perms)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(native === decl, s"perms=$perms")
    }
  }

  test("simhash near-dups: exact dup at hamming 0; unrelated docs excluded") {
    val nd = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(nd.contains((1L, 2L, 0L)))            // identical text ⇒ identical fp
    assert(!nd.exists { case (a, b, _) => a == 4L || b == 4L })
    assert(nd.forall(_._3 <= 3L))
    // widening the budget can only add pairs (monotone in maxHamming)
    val wide = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.map(t => (t._1, t._2)).toSet.subsetOf(wide))
  }

  test("simhash near-dups: band blocking is complete for any maxHamming") {
    // ground truth: brute-force all-pairs Hamming over the fingerprints —
    // the banded path must recover EXACTLY this set (pigeonhole over
    // maxHamming+1 bands guarantees no candidate is dropped)
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
    val f1 = fp.toDF("id1", "a0", "a1", "a2", "a3")
    val f2 = fp.toDF("id2", "b0", "b1", "b2", "b3")
    val ham = (0 until 4).map(k =>
        bit_count(col(s"a$k").bitwiseXOR(col(s"b$k"))))
      .reduce(_ + _).cast("long")
    for (h <- Seq(0, 4, 5, 9, 63)) {
      val brute = f1.crossJoin(f2).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), ham.as("hamming"))
        .filter(col("hamming") <= h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val banded = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = h)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded === brute, s"maxHamming=$h")
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 64)
    }
  }

  test("containmentPairs: a quoted subset scores containment 1, lower jaccard") {
    val d = Seq(
      // doc 1 = doc 2's first 10 words: 8 shingles, all ⊂ doc 2's 10
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (3L, "totally different third document about unrelated matters entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text",
        n = 3, bands = 3, rowsPerBand = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // c1 = 8/8 = 1.0 (quoted subset), c2 = 8/10, jaccard = 8/10 —
    // the asymmetry containment reports and jaccard hides. (High-J pair
    // so LSH candidacy is certain; the recall caveat documented on the
    // operator is precisely about LOW-J subset pairs.)
    pairs.get((1L, 2L)) match {
      case Some((c1, c2, j)) =>
        assert(c1 === 1.0)
        assert(c2 === 0.8)
        assert(j === 0.8)
      case None =>
        fail(s"pair (1,2) missed candidacy: $pairs")
    }
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("winnow candidates recover the low-Jaccard quoted subset LSH misses") {
    // doc 1 is a verbatim quote inside the much longer doc 2: jaccard is
    // only 3/24, far below any LSH banding's reliable collision range,
    // but the shared 29-char substring ≥ k+w−1 = 11 GUARANTEES a shared
    // winnowing fingerprint — candidacy is certain, not probabilistic
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "many prefix words come first here alpha beta gamma delta epsilon " +
        "and then a long unrelated tail continues with more filler words " +
        "until the document ends"),
      (3L, "totally different third document about unrelated matters entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairsWinnow(d, "doc_id", "text",
        n = 3, k = 8, w = 4, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(4))).toMap
    val (c1, j) = pairs((1L, 2L))
    assert(c1 === 1.0)  // fully contained
    assert(j < 0.2)     // ...yet nearly invisible to Jaccard
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("winnow df cap drops boilerplate-only pairs, keeps rare-substring pairs") {
    // docs 1..6 share ONLY a boilerplate header (df=6 > maxDf=2);
    // docs 10/11 share a rare quoted sentence (df=2 ≤ maxDf)
    val boiler = "common header line appears everywhere in this corpus "
    val d = (Seq(
      (10L, boiler + "the rare quoted sentence lives right here"),
      (11L, boiler + "the rare quoted sentence lives right here with a tail")) ++
      (1L to 6L).map(i => (i, boiler + s"unique body number $i")))
      .toDF("doc_id", "text")
    val cand = Dedup.winnowCandidates(d, "doc_id", "text", k = 8, w = 4,
      maxDf = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((10L, 11L)), cand)
    // pairs among 1..6 share nothing rarer than the df-6 header
    assert(!cand.exists { case (a, b) => a <= 6L && b <= 6L }, cand)
  }

  test("contaminatedDocs flags n-gram overlap with the eval set only") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon shared tail here"),
      (2L, "completely unrelated training document content words"),
      (3L, "alpha beta gamma delta epsilon shared tail here too")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words then alpha beta gamma delta epsilon shared tail here"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminatedDocs(train, eval, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 3 share 5-grams with eval; doc 2 is clean
    assert(got.keySet === Set(1L, 3L))
    // doc 1's tokens = eval's suffix: all its 4 distinct 5-grams are shared
    assert(got(1L) === 4L)
  }

  test("contaminatedDocsBloom is bit-identical to the exact join, even " +
      "under a high-false-positive filter") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon shared tail here"),
      (2L, "completely unrelated training document content words"),
      (3L, "alpha beta gamma delta epsilon shared tail here too"),
      (4L, "short text")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words then alpha beta gamma delta epsilon shared tail here"))
      .toDF("doc_id", "text")
    val exact = Dedup.contaminatedDocs(train, eval, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // fpp 0.5 + tiny capacity: many false positives MUST ride the exact
    // verification path without changing the result
    val bloom = Dedup.contaminatedDocsBloom(train, eval, "doc_id", "text",
        n = 5, expectedShingles = 4L, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(bloom === exact)
  }

  test("featureHash: tf sums to token count, buckets in range, dim gated") {
    val docs = Seq((1L, "a b c a"), (2L, ""), (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.featureHash(docs, "doc_id", "text", dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (_, b, _) => b >= 0 && b < 16 })
    assert(got.filter(_._1 == 1L).map(_._3).sum == 4L) // 4 tokens
    assert(!got.exists(_._1 == 2L)) // empty doc: no rows
    intercept[IllegalArgumentException] {
      TextAnalysis.featureHash(docs, "doc_id", "text", dim = 7)
    }
  }

  test("packSequences: deterministic shards, contiguous offsets, long docs span") {
    val d = (1L to 40L).map(i => (i, 600L + i)).toDF("doc_id", "n_len")
    val packed = Sampling.packSequences(d, "doc_id", "n_len",
      seqLen = 1000, numShards = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(packed.length === 40)
    // offsets are within the pack, shards within range
    assert(packed.forall { case (_, sh, p, off) =>
      sh >= 0 && sh < 3 && p >= 0 && off >= 0 && off < 1000 })
    // per shard: starts are strictly increasing pack positions — replaying
    // the cumsum from the emitted (pack_id, pack_offset) must reconstruct
    // each shard's total length exactly
    val byShard = packed.groupBy(_._2)
    val lens = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byShard.foreach { case (_, rows) =>
      val starts = rows.map { case (id, _, p, off) => (p * 1000 + off, lens(id)) }
        .sortBy(_._1)
      starts.sliding(2).foreach {
        case Array((s1, l1), (s2, _)) => assert(s2 === s1 + l1)
        case _ => ()
      }
    }
    // deterministic: same input → identical assignment
    val again = Sampling.packSequences(d, "doc_id", "n_len", 1000, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq === packed.sortBy(_._1).toSeq)
  }

  test("keepCanonical keeps the best doc per cluster; singletons survive") {
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (9L, 7L))
      .toDF("doc_id", "n_chars")
    // cluster {1,2,3} (canonical 1); doc 9 is a singleton
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("id", "canonical_id")
    val got = Dedup.keepCanonical(docs, "doc_id", "n_chars", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // longest wins; the 50-char tie resolves to the smaller id (2)
    assert(got === Set((1L, 2L, 3L), (9L, 9L, 1L)))
  }

  test("dupClusters: transitive chains collapse to the min id") {
    import spark.implicits._
    // chain 1-2-3 (never directly 1-3) + isolated pair 9-10
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("id1", "id2")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L, 10L -> 9L))
  }

  test("dupClustersStar: long chain collapses in O(log n) rounds") {
    import spark.implicits._
    // a 64-node chain has diameter 63 — min-label propagation would need
    // ~63 shuffle rounds; star contraction must finish inside its default
    // 25-round budget (expected ~log2(64))
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.dupClustersStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64)
    assert(got.values.forall(_ === 0L))
  }

  test("dupClustersStar matches dupClusters on a mixed component graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 10L), (7L, 7L), (5L, 4L))
      .toDF("id1", "id2")
    val star = Dedup.dupClustersStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star(3L) === 1L && star(10L) === 9L && star(4L) === 4L && star(7L) === 7L)
  }

  test("dupClusters: distributed propagation matches the union-find fast path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = ((0 until 120).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      (200L until 220L).map(i => (i, i + 1))) // diameter-20 chain
      .toDF("id1", "id2")
    val fast = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.dupClusters(pairs, maxIter = 40, localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
    assert(fast(220L) === 200L)
  }

  test("dupClusters: the distributed path converges a 2000-hop path " +
    "inside the default 20-round cap (the round-7 sf1 geo regression)") {
    import spark.implicits._
    // the old relax loop moved labels ONE hop per round — a diameter-2000
    // path would exit the 20-round cap unconverged and silently
    // under-merge (exactly what the sf1 sweep caught on the box-spanning
    // DBSCAN component); the star-contraction path must converge in
    // O(log n) rounds and fails loud otherwise
    val path = (0L until 2000L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.dupClusters(path, localEdgeThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 2001)
    assert(got.values.forall(_ === 0L))
  }

  test("dupClusters: null ids fall back to the distributed path, no crash") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(9L)))
      .toDF("id1", "id2")
    val got = Dedup.dupClusters(pairs).collect()
      .filter(r => !r.isNullAt(0))
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(got(2L) === 1L) // the non-null component still resolves
  }

  test("dupClusters: int ids keep their type through the fast path") {
    import spark.implicits._
    val pairs = Seq((1, 2), (2, 3)).toDF("id1", "id2")
    val out = Dedup.dupClusters(pairs)
    assert(out.schema.fields.map(_.dataType).toSeq ===
      Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))
    val got = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got === Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("simhash: identical docs equal; near-dups close; unrelated far") {
    val h1 = SimHash.compute(docs.filter(col("doc_id") === 1).head().getString(1))
    val h2 = SimHash.compute(docs.filter(col("doc_id") === 2).head().getString(1))
    val h3 = SimHash.compute(docs.filter(col("doc_id") === 3).head().getString(1))
    val h4 = SimHash.compute(docs.filter(col("doc_id") === 4).head().getString(1))
    assert(h1 === h2)
    assert(java.lang.Long.bitCount(h1 ^ h3) < java.lang.Long.bitCount(h1 ^ h4))
    // expression and direct computation agree
    val viaExpr = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .filter(col("doc_id") === 1).head()
    val w0 = h1 & 0xffffL
    assert(viaExpr.getAs[Long]("w0") === w0)
  }

  test("repeatedSpans: maximal shared runs at exact offsets; df cap prunes") {
    // doc 1: tokens 0..19 = a0..a9 x0..x4 a0..a4 (span repeated inside)
    // doc 2: y0 y1 a0..a9 z0..z4 — shares the 10-token run a0..a9 at
    //        (start1=0, start2=2); the trailing a0..a4 of doc 1 is only 5
    //        tokens, below minTokens
    val run = (0 to 9).map(i => s"a$i").mkString(" ")
    val d1 = run + " x0 x1 x2 x3 x4 " + (0 to 4).map(i => s"a$i").mkString(" ")
    val d2 = "y0 y1 " + run + " z0 z1 z2 z3 z4"
    val d3 = "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11"
    val docs2 = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = graft.llm.Spans.repeatedSpans(docs2, "doc_id", "text",
        k = 3, maxDf = 10L, minTokens = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // ONE maximal span — not its sub-grams — at the exact offsets
    assert(spans === Set((1L, 2L, 0L, 2L, 10L)), s"spans=$spans")
    // the doc-1-internal repeat (a0..a4 vs its own prefix) is within-doc:
    // cross-doc only by contract, and 5 < minTokens anyway — and the
    // sub-minTokens shared tail (1,2) at start1=15 must not leak: check
    // with a lower bar that it WOULD appear, proving the filter is live
    val loose = graft.llm.Spans.repeatedSpans(docs2, "doc_id", "text",
        k = 3, maxDf = 10L, minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(loose.contains((1L, 2L, 15L, 2L, 5L)), s"loose=$loose")
    // df cap: with maxDf < 2 impossible (require), with the run planted in
    // MANY docs the grams exceed maxDf=2 and the span disappears
    val crowd = (10L to 14L).map(i => (i, run)).toDF("doc_id", "text")
    val capped = graft.llm.Spans.repeatedSpans(
        docs2.unionByName(crowd), "doc_id", "text",
        k = 3, maxDf = 2L, minTokens = 6)
      .collect()
    assert(capped.isEmpty, s"capped=${capped.mkString(",")}")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // near 1
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))) // opposite of 1
    .toDF("vec_id", "embedding")

  test("randomProjection applies exactly the md5-nibble sign matrix") {
    // unit basis vector e_1 → out_j = s(1, j) · 1.0 exactly (1.0 is an
    // exact fixed-point value), so the result IS the sign matrix row
    def sign(seed: String, i: Int, j: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed|$i|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (Character.digit(hex.charAt(0), 16) % 2) * 2 - 1
    }
    val got = Similarity.randomProjection(
        Seq((7L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", outDim = 6)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(got.size === 6)
    (1 to 6).foreach { j =>
      assert(got(j.toLong) === sign("rp", 1, j).toDouble, s"j=$j")
    }
    // opposite vectors project to opposite sketches (linearity on exact
    // fixed-point inputs)
    val pm = Similarity.randomProjection(vecs, "vec_id", "embedding", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (1 to 6).foreach { j =>
      assert(pm((4L, j.toLong)) === -pm((1L, j.toLong)), s"j=$j")
    }
  }

  test("cosine pairs: near above threshold, orthogonal/opposite below") {
    val p = Similarity.cosinePairs(vecs, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p === Set((1L, 2L)))
  }

  test("top-k neighbors ranked by cosine with deterministic tiebreak") {
    val top = Similarity.topKNeighbors(vecs, "vec_id", "embedding", k = 1)
      .filter(col("id") === 1).head()
    assert(top.getAs[Long]("neighbor_id") === 2L)
    assert(top.getAs[Int]("rank") === 1)
  }

  test("top-k neighbors: INT ids coerce (builder-inserted casts), no " +
      "executor ClassCastException") {
    // an int32 parquet id column is the common real-world shape; the
    // aggregate's update() unboxes Long, so without the builder's Cast
    // this crashed an executor opaquely
    val intIds = Seq((1, Array(1.0f, 0.0f)), (2, Array(0.9f, 0.1f)),
      (3, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.topKNeighbors(intIds, "vec_id", "embedding",
      k = 1).filter(col("id") === 1).head()
    assert(top.getAs[Long]("neighbor_id") === 2L)
  }

  test("empty embedding corpus: annPairs and PQ return empty, never " +
      "crash deriving the dimension; planes<=0 fails loud") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.annPairs(empty, "vec_id", "embedding", planes = 4,
      minCos = 0.5).count() === 0L)
    assert(Similarity.pqAdcTopK(empty, "vec_id", "embedding", m = 8,
      ksub = 16, queryIds = Seq(1L), k = 5).count() === 0L)
    intercept[IllegalArgumentException] {
      Similarity.annPairs(vecs, "vec_id", "embedding", planes = 0,
        minCos = 0.5)
    }
  }

  test("mrlOverlap: a query with zero candidates emits overlap 0.0 " +
      "(the oracle's LEFT-JOIN shape), not a dropped row") {
    // corpus = one query vector + only zero-norm others → no candidates
    val vs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.mrlOverlap(vs, "vec_id", "embedding",
      prefixDim = 1, k = 2, queryPred = col("qid") === 1L).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("id") === 1L)
    assert(r.head.getAs[Double]("overlap") === 0.0)
  }

  test("htmlToText: scripts/comments/tags drop, entities unescape in " +
      "the safe order, whitespace collapses") {
    import graft.llm.TextAnalysis
    val html = Seq(
      "<html><script>\nif (a<b) {}\n</script><style>p{}</style>" +
        "<body><p>A &amp;lt; B</p><!-- hidden\nnote --> C&nbsp;&amp; D" +
        "</body></html>").toDF("h")
    val got = html.select(TextAnalysis.htmlToText(col("h")).as("t"))
      .head().getString(0)
    // &amp;lt; must become the literal text "&lt;", never a live "<"
    assert(got === "A &lt; B C & D")
  }

  test("textRank: the connecting word outranks the repeating word") {
    import graft.llm.TextAnalysis
    // 'hub' co-occurs with every topic word; 'spam' only repeats inside
    // one context — centrality must beat frequency
    val docs = Seq(
      "hub alpha", "hub beta", "hub gamma", "hub delta",
      "spam spam spam spam spam epsilon").toDF("text")
    val r = TextAnalysis.textRank(docs, "text", iters = 3, k = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1))
    assert(r.head._1 === "hub")
    val m = r.toMap
    assert(m("hub") > m("spam"))
    // self-loops are dropped: a doc of one repeated word adds no edge
    assert(m.keySet ===
      Set("hub", "alpha", "beta", "gamma", "delta", "spam", "epsilon"))
  }

  test("zipIndex: injective positive ids, one per key, for any " +
    "partitioning") {
    import graft.llm.TextAnalysis
    val dom = (1 to 97).map(i => f"k$i%03d").toDF("w")
    for (reparted <- Seq(dom, dom.repartition(7), dom.repartition(1))) {
      val got = TextAnalysis.zipIndex(reparted.distinct(), "w").collect()
      assert(got.length === 97)
      val ids = got.map(_.getAs[Long]("id"))
      assert(ids.distinct.length === 97, "ids must be injective")
      assert(ids.forall(_ >= 1L))
      assert(got.map(_.getAs[String]("w")).distinct.length === 97)
    }
    // single partition degenerates to exactly 1..n (pid 0 contributes 0)
    val one = TextAnalysis.zipIndex(dom.repartition(1), "w").collect()
    assert(one.map(_.getAs[Long]("id")).sorted.toSeq === (1L to 97L))
  }

  test("chi2Select: textbook 2x2 contingency, full-margin terms excluded") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "the apple", "en"), (2L, "the apple", "en"),
      (3L, "the banana", "fr"), (4L, "the banana", "fr"),
      (5L, "the apple banana", "en")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.chi2Select(docs, "doc_id", "text",
      col("lang") === "en", k = 10).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getDouble(3)))
    // 'the' is in every doc (empty absent margin) → no row
    assert(!r.map(_._1).contains("the"))
    val m = r.toMap
    // apple: N=5 p=3, df=3 n11=3 → chi2 = 5·(3·2)²/(3·2·3·2) = 5
    assert(m("apple") === ((3L, 3L, 5.0)))
    // banana: df=3 n11=1 n10=2 n01=2 n00=0 → 5·16/36 = 2.22222222 (8dp)
    assert(m("banana") === ((3L, 1L, 2.22222222)))
    // rank: highest chi2 first
    assert(r.head._1 === "apple")
  }

  test("hardNegatives: only different-label same-cell candidates; " +
      "numCells=1 is the brute-force different-label top-k") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.99f, 0.01f), "a"),
      (3L, Array(0.98f, 0.02f), "b"), (4L, Array(0.9f, 0.1f), "b"),
      (5L, Array(0.0f, 1.0f), "a")).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      k = 1, numCells = 1).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("neg_id")).toMap
    val labels = Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b", 5L -> "a")
    r.foreach { case (id, neg) =>
      assert(labels(id) !== labels(neg), s"$id mined same-label $neg") }
    // brute-force: 1's hardest different-label neighbor is 3 (cos .98+)
    assert(r(1L) === 3L)
    assert(r(3L) === 2L) // b's nearest a is 2 (0.99 direction)
    // 5 (orthogonal "a") still mines its best b, and ks cap the output
    assert(r.size === 5)
    val k2 = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      k = 2, numCells = 1).collect()
    assert(k2.count(_.getAs[Long]("id") == 1L) === 2)
  }

  test("ANN pairs are a subset of brute-force pairs at the same threshold") {
    val brute = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annPairs(vecs, "vec_id", "embedding", planes = 4, minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(brute))
    // identical-direction vectors always share every sign bucket
    assert(ann.contains((1L, 2L)) === brute.contains((1L, 2L)))
  }

  test("zero-norm vectors don't crash; their pairs drop out as null cosine") {
    import spark.implicits._
    val withZero = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)), (3L, Array(1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(withZero, "vec_id", "embedding", minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 3L))) // zero-norm vec 2 never appears
    val top = Similarity.topKNeighbors(withZero, "vec_id", "embedding", k = 2)
      .filter(col("id") === 1).collect()
    assert(top.head.getAs[Long]("neighbor_id") === 3L)
  }

  test("PQ codes: per-subspace nearest codebook entry, exact integer d2") {
    // ids 0/1 ARE the codebook (ksub = 2); dim 4, m = 2 → dsub = 2
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.2f, 0.8f)),  // both subspaces nearest entry 0
      (3L, Array(0.1f, 0.9f, 0.9f, 0.2f)))  // both subspaces nearest entry 1
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(df, "vec_id", "embedding", m = 2, ksub = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(codes.size === 8)
    // codebook vectors code to themselves with zero distance
    assert(codes((0L, 0L)) === ((0L, 0L)) && codes((0L, 1L)) === ((0L, 0L)))
    assert(codes((1L, 0L)) === ((1L, 0L)) && codes((1L, 1L)) === ((1L, 0L)))
    assert(codes((2L, 0L))._1 === 0L && codes((2L, 1L))._1 === 0L)
    assert(codes((3L, 0L))._1 === 1L && codes((3L, 1L))._1 === 1L)
    assert(codes((2L, 0L))._2 > 0L)
    // deterministic under repartitioning
    val again = Similarity.pqCodes(df.repartition(3), "vec_id", "embedding", 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(again === codes)
  }

  test("PQ ADC top-k: LUT distances rank by codes, ties to smaller id, no self") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.2f, 0.8f)),
      (3L, Array(0.1f, 0.9f, 0.9f, 0.2f)))  // same codes as id 1
      .toDF("vec_id", "embedding")
    val got = Similarity.pqAdcTopK(df, "vec_id", "embedding", m = 2, ksub = 2,
        queryIds = Seq(2L), k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 3L)) // near codes first; 1<3 tie
    assert(got(1)._3 === got(2)._3)                 // ids 1,3 share codes → same ADC
    assert(!got.map(_._1).contains(2L))             // self excluded
    assert(got.map(_._2).toSeq === Seq(1, 2, 3))
  }

  test("IVF-PQ: candidates confined to the query's cell, ranked by ADC") {
    // 6 vectors, 2 cells (centroids = ids 0, 1); dim 4, m = 2, ksub = 2
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),   // centroid/codebook 0
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),   // centroid/codebook 1
      (2L, Array(0.9f, 0.1f, 0.2f, 0.8f)),   // cell 0 (query)
      (3L, Array(0.8f, 0.2f, 0.1f, 0.9f)),   // cell 0
      (4L, Array(0.1f, 0.9f, 0.8f, 0.2f)),   // cell 1
      (5L, Array(0.2f, 0.8f, 0.9f, 0.1f)))   // cell 1
      .toDF("vec_id", "embedding")
    val got = Similarity.pqIvfTopK(df, "vec_id", "embedding", numCells = 2,
        m = 2, ksub = 2, queryIds = Seq(2L), k = 5)
      .orderBy("rank").collect().map(r => r.getLong(1))
    // only cell-0 residents are candidates: ids 0 and 3; never 1/4/5
    assert(got.toSet === Set(0L, 3L))
    // ADC distances agree with the flat-PQ path restricted to the cell
    val flat = Similarity.pqAdcTopK(df, "vec_id", "embedding", m = 2,
        ksub = 2, queryIds = Seq(2L), k = 5)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val ivf = Similarity.pqIvfTopK(df, "vec_id", "embedding", 2, 2, 2,
        Seq(2L), 5).collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(ivf === flat.view.filterKeys(Set(0L, 3L)).toMap)
  }

  test("label centroids: exact fixed-point means per (label, dim)") {
    val df = Seq(
      (0, Array(1.0f, 3.0f)), (0, Array(3.0f, 5.0f)), // label 0: mean (2, 4)
      (1, Array(-1.5f, 0.5f)))                        // label 1: itself
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got((0, 1L)) === ((2L, 2.0)))
    assert(got((0, 2L)) === ((2L, 4.0)))
    assert(got((1, 1L)) === ((1L, -1.5)))
    assert(got((1, 2L)) === ((1L, 0.5)))
  }

  test("nearest-centroid assignment routes vectors to their prototype") {
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(0.9f, 0.1f)),
      (3L, 1, Array(0.0f, 1.0f)), (4L, 1, Array(0.1f, 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(df, "label", "embedding")
    val got = Similarity.nearestCentroids(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("kmeans: separated clusters converge to their groups; labels = seed ids") {
    // seeds are the two lowest ids (1 and 2) — both in group A, but after
    // an update round the centroids split across the two true groups
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.05f)),
      (3L, Array(0.9f, 0.1f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L))
    assert(got.values.toSet.subsetOf(Set(1L, 2L)))    // labels are seed ids
    assert(got(10L) === got(11L))                     // B co-clustered
    assert(got(1L) === got(3L))                       // A co-clustered
    assert(got(1L) !== got(10L))                      // groups separated
  }

  test("hyperplanes are deterministic across calls (no RNG state)") {
    assert(Similarity.hyperplanes(4, 16).map(_.toSeq) ===
      Similarity.hyperplanes(4, 16).map(_.toSeq))
  }

  test("int8 quantization: codes in [-127,127], reconstruction within scale/2") {
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding").collect()
    val orig = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    q.foreach { r =>
      val id = r.getLong(0)
      val codes = r.getSeq[Long](1)
      val scale = r.getDouble(2)
      assert(codes.forall(c => c >= -127 && c <= 127))
      codes.zip(orig(id)).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-12)
      }
    }
  }

  test("quantized cosine tracks exact cosine; zero vectors drop out") {
    val withZero = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val qp = Similarity.quantizedCosPairs(withZero, "vec_id", "embedding", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(qp.keySet === Set((1L, 2L))) // zero-norm vec 3 never appears
    val exact = Similarity.cosinePairs(withZero, "vec_id", "embedding", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // int8 over 4 dims: quantized score within ~1/127-per-component error
    assert(math.abs(qp((1L, 2L)) - exact((1L, 2L))) < 0.02)
  }

  test("mrlOverlap: prefix = full dim gives overlap 1; orthogonal prefix drops it") {
    import org.apache.spark.sql.functions.col
    // 6 vectors in 4 dims; query 0
    val vs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0.8f, 0.2f, 0f, 0f)), (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0.9f, 0.1f, 0f)), (5L, Array(0.5f, 0.5f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.mrlOverlap(vs, "vec_id", "embedding",
      prefixDim = 4, k = 3, queryPred = col("qid") === 0).collect().head
    assert(full.getAs[Double]("overlap") === 1.0)
    val pre = Similarity.mrlOverlap(vs, "vec_id", "embedding",
      prefixDim = 1, k = 3, queryPred = col("qid") === 0).collect().head
    // dim-1 ranking ties all x>0 vectors at cos 1 (id tie-break) —
    // overlap stays well-defined and ≤ 1
    assert(pre.getAs[Double]("overlap") <= 1.0)
    assert(pre.getAs[Double]("overlap") >= 1.0 / 3.0)
  }

  test("canonicalizeUrl: ports, params, fragments, case — each rule isolated") {
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      "HTTPS://Host.COM:443/KeepCase/Path?b=2&a=1&utm_x=1#f",
      "http://host.com:8080/p",
      "https://host.com:8443/p?gclid=g",
      "http://HOST.com:80/",
      "https://host.com").map(Tuple1(_)).toDF("url")
    val got = graft.llm.TextAnalysis.canonicalizeUrl(urls, "url")
      .collect().map(_.getAs[String]("canon_url")).toSeq
    assert(got === Seq(
      "https://host.com/KeepCase/Path?a=1&b=2",
      "http://host.com:8080/p",
      "https://host.com:8443/p",
      "http://host.com/",
      "https://host.com/"))
    // a '?' INSIDE the fragment is fragment text, not a query (the
    // SPA-route review finding): both forms share one canonical key
    val spa = Seq("https://host.com/p#/route?a=1", "https://host.com/p")
      .map(Tuple1(_)).toDF("url")
    val canon = graft.llm.TextAnalysis.canonicalizeUrl(spa, "url")
      .collect().map(_.getAs[String]("canon_url")).toSeq
    assert(canon === Seq("https://host.com/p", "https://host.com/p"))
  }

  test("heapsLaw: linear vocab growth fits beta = 1; constant vocab " +
    "fits beta = 0") {
    import org.apache.spark.sql.functions.col
    // 16 docs, each contributing 4 NEW distinct tokens: V(n) = n → β = 1
    val lin = (0 until 16).map(i =>
      (i.toLong, (0 until 4).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val b1 = graft.llm.TextAnalysis.heapsLaw(lin, "doc_id", "text", 8)
      .head()
    assert(math.abs(b1.getAs[Double]("beta") - 1.0) < 1e-6)
    // every doc repeats the SAME 4 tokens: V constant → β = 0
    val const = (0 until 16).map(i => (i.toLong, "a b c d"))
      .toDF("doc_id", "text")
    val b0 = graft.llm.TextAnalysis.heapsLaw(const, "doc_id", "text", 8)
      .head()
    assert(math.abs(b0.getAs[Double]("beta")) < 1e-6)
  }

  test("sentenceChunks: sentences never split; chunk ids follow the " +
    "words-before budget") {
    import org.apache.spark.sql.functions.col
    // 4 sentences of 3 words each, maxWords = 5: words-before =
    // (0,3,6,9) → chunks (0,0,1,1)
    val doc = Seq((1L, "one two three. four five six. " +
      "seven eight nine. ten eleven twelve.")).toDF("doc_id", "text")
    val rows = graft.llm.TextAnalysis.sentenceChunks(doc, "doc_id",
      "text", maxWords = 5).orderBy("chunk").collect()
    assert(rows.map(r => (r.getAs[Long]("chunk"),
      r.getAs[Long]("n_sentences"), r.getAs[Long]("n_words"))).toSeq ===
      Seq((0L, 2L, 6L), (1L, 2L, 6L)))
  }
}

class GopherRulesSpec extends SparkSpec {
  import spark.implicits._

  test("gopher rules gate on every dimension; empty docs are absent") {
    val good = ("word " * 15 + "the of and the " + "words " * 14).trim // 33 words
    val docs = Seq(
      (1L, good),                            // passes every rule
      (2L, "the of and tiny"),               // too few words
      (3L, good.replace("word", "####w")),   // symbol ratio too high
      (4L, ("123 " * 20 + "the of and").trim), // alpha fraction too low
      (5L, good.replace("the", "xxe").replace("of", "xf").replace("and", "nnd")),
      (6L, ""))                              // empty → absent
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(6), r.getLong(5)))).toMap
    assert(!got.contains(6L))
    assert(got(1L)._2 === true)
    assert(got(2L)._2 === false && got(2L)._1 === 4L)
    assert(got(3L)._2 === false)
    assert(got(4L)._2 === false)
    assert(got(5L)._2 === false && got(5L)._3 === 0L) // no stopwords left
  }

  test("oovRate counts tokens under the frequency-thresholded vocab") {
    val docs = Seq(
      (1L, "cat cat cat dog"),   // cat in vocab (3 ≥ 3); dog not (1)
      (2L, "cat rare rare"),     // rare has count 2 < 3
      (3L, "")) // zero tokens → absent
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.oovRate(docs, "doc_id", "text", minCount = 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      1L -> ((4L, 1L, 0.25)),
      2L -> ((3L, 2L, 2.0 / 3.0))))
  }

  test("gopher ratios are exact integer-count divisions") {
    val got = graft.llm.TextAnalysis.gopherRules(
        Seq((9L, "ab# cdef 12 the")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(got.getLong(1) === 4L)
    assert(got.getDouble(2) === (3 + 4 + 2 + 3) / 4.0)  // mean word length
    assert(got.getDouble(3) === 1 / 4.0)                // one '#' word
    assert(got.getDouble(4) === 3 / 4.0)                // '12' has no letter
    assert(got.getLong(5) === 1L)                       // 'the'
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("chunkTokens: overlapping windows, short/empty-doc edges") {
    val docs = Seq(
      (1L, "a b c d e f g"),  // 7 toks, size 4 stride 2 → 3 chunks
      (2L, "x y"),            // shorter than one window → 1 chunk
      (3L, "   ")             // token-less → no rows
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "doc_id", "text", size = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, "a b c d", 4L),
      (1L, 1L, "c d e f", 4L),
      (1L, 2L, "e f g", 3L),
      (2L, 0L, "x y", 2L)))
  }

  test("unigramLogProb: common-token docs outscore rare-token docs; invariant") {
    val docs = Seq(
      (1L, "the the the the cat"),      // mostly the corpus' dominant token
      (2L, "zyx qwv jkl pnm cat"),      // singletons throughout
      (3L, "the cat the cat the cat")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("avg_logprob"))).toMap
    assert(out(1L)._1 === 5L)
    assert(out(1L)._2 > out(2L)._2) // common tokens → higher mean log-prob
    assert(out(3L)._2 > out(2L)._2)
    assert(out.values.forall(_._2 < 0.0))
    val again = TextAnalysis.unigramLogProb(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("avg_logprob"))).toMap
    assert(again === out)
  }

  test("bigramLogProb: analytic pin; word order matters; invariant") {
    // One doc "a b a b": bigrams (a b)x2, (b a)x1; h(a)=2, h(b)=1, V=2.
    // lp(a b) = round(ln 3/4, 8) = -0.28768207; lp(b a) = -0.40546511.
    // grid mean: (2*28768207 + 40546511 -> a=98082925, n=3)
    //   (2a+n) div 2n = 196165853 div 6 = 32694308 -> -0.32694308.
    val one = TextAnalysis.bigramLogProb(
        Seq((1L, "a b a b")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(one.toSeq === Seq((1L, 3L, -0.32694308)))
    // Same unigram multiset, shuffled order: scores below the corpus'
    // dominant phrasing — the signal a unigram LM cannot see.
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "mat the on sat cat the"),
      (5L, "x")).toDF("doc_id", "text") // single token: no bigrams, absent
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(!out.contains(5L))
    assert(out(4L) < out(1L))
    val again = TextAnalysis
      .bigramLogProb(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(again === out)
  }

  test("knBigramLogProb: analytic pin; discount favors open contexts; invariant") {
    // One doc "a b a b": lm {(a b):2, (b a):1}; ch(a)=2 n1f(a)=1,
    // ch(b)=1 n1f(b)=1; n1b(a)=n1b(b)=1; B=2.
    // p(a b) = (2-.75)/2 + (.75·1/2)·(1/2) = 0.8125 → ln = -0.20763936
    // p(b a) = (1-.75)/1 + (.75·1/1)·(1/2) = 0.625  → ln = -0.47000363
    // grid: a = 2·20763936 + 47000363 = 88528235, n = 3 →
    //   (2a+n) div 2n = 177056473 div 6 = 29509412 → -0.29509412.
    val one = TextAnalysis.knBigramLogProb(
        Seq((1L, "a b a b")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(one.toSeq === Seq((1L, 3L, -0.29509412)))
    // same ordering signal as bigramLogProb, same invariance contract
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the"),
      (4L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.knBigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(!out.contains(4L))
    assert(out(3L) < out(1L))
    val again = TextAnalysis
      .knBigramLogProb(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(again === out)
  }

  test("vocabCoverage: integer-exact crossings on a known distribution") {
    // counts: aa=6, bb=3, cc=1 (total 10). Prefix shares: 60%, 90%, 100%.
    val docs = Seq((1L, (Seq.fill(6)("aa") ++ Seq.fill(3)("bb") :+ "cc")
      .mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", Seq(50, 60, 90, 91, 100))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 50% needs aa (60 >= 50); 60% exactly met by aa; 90% by aa+bb;
    // 91% forces the full vocab; 100% likewise
    assert(got === Map(50 -> 1L, 60 -> 1L, 90 -> 2L, 91 -> 3L, 100 -> 3L))
  }

  test("readability: analytic FK grade; punctuation-less text counts one sentence") {
    // "the cat sat. the dog ran." -> 2 sentences, 6 words, 6 syllables
    // grade = 0.39*3 + 11.8*1 - 15.59 = -2.62
    val docs = Seq(
      (1L, "the cat sat. the dog ran."),
      (2L, "incomprehensibilities everywhere"), // no [.!?] -> 1 sentence
      (3L, "...")).toDF("doc_id", "text")      // punctuation only: no words
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1L) === ((2L, 6L, 6L, Some(-2.62))))
    // incomprehensibilities: vowel groups i,o,e,e,i,i,i,ie = 8;
    // everywhere: e,e,y,e,e = 5 (y is a vowel here) → 13 total
    assert(got(2L) === ((1L, 2L, 13L, Some(0.39 * 2 + 11.8 * 6.5 - 15.59))))
    assert(got(3L)._4.isEmpty) // word-less doc: NULL grade, no ANSI error
  }

  test("leakage-safe split: near-dup cluster members land in the same split") {
    // clusters {1,2,3} (chained) and {10,11}; 20 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = (Seq(1L, 2L, 3L, 10L, 11L) ++ (100L to 119L)).toDF("doc_id")
    val withRep = docs
      .join(graft.llm.Dedup.dupClusters(pairs)
        .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("canonical_id"), col("doc_id")))
      .select("doc_id", "cluster_id")
    val got = graft.llm.Sampling.assignSplit(withRep, "cluster_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "cluster_id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = got.groupBy(_._2)
    assert(byCluster(1L).map(_._1).toSet === Set(1L, 2L, 3L))
    assert(byCluster(10L).map(_._1).toSet === Set(10L, 11L))
    // the leakage guarantee: one split per cluster
    byCluster.values.foreach(ms => assert(ms.map(_._3).distinct.length === 1))
    // and the split key is the cluster rep, so member split == rep split
    val repSplit = got.filter(r => r._1 == r._2).map(r => r._2 -> r._3).toMap
    got.foreach { case (_, c, s) => assert(repSplit(c) === s) }
  }

  test("zipfFit: exact power law recovers slope -1; topN caps the ranks") {
    // counts 12/6/4/3 = 12/rank for ranks 1..4 → ln y = ln 12 − ln rank:
    // slope exactly −1, intercept ln 12, up to the 8dp grid
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    val one = TextAnalysis.zipfFit(
        Seq(("g", text)).toDF("src", "text"), "text", "src", topN = 100)
      .collect().head
    assert(one.getAs[Long]("n_ranks") === 4L)
    assert(math.abs(one.getAs[Double]("zipf_slope") + 1.0) < 1e-6)
    assert(math.abs(one.getAs[Double]("intercept") - math.log(12.0)) < 1e-6)
    // topN = 2 fits only the head
    val capped = TextAnalysis.zipfFit(
        Seq(("g", text)).toDF("src", "text"), "text", "src", topN = 2)
      .collect().head
    assert(capped.getAs[Long]("n_ranks") === 2L)
    // a single-rank group cannot be fit: den = 0 → NULL slope
    val flat = TextAnalysis.zipfFit(
        Seq(("g", "xx xx xx")).toDF("src", "text"), "text", "src", 100)
      .collect().head
    assert(flat.getAs[Long]("n_ranks") === 1L)
    assert(flat.isNullAt(flat.fieldIndex("zipf_slope")))
  }

  test("NaiveBayes.trainScore: an id with two labels is one document with one prediction") {
    val docs = Seq(
      (1L, "buy spam buy offer", "s"),
      (2L, "meeting agenda notes", "h"),
      (3L, "notes meeting review", "h"),
      (3L, "spam offer now buy", "s")).toDF("doc_id", "text", "source")
    val got = graft.llm.NaiveBayes
      .trainScore(docs, "doc_id", "text", "source")
      .where(col("doc_id") === 3L).collect()
    // both input rows come back, scored once over their pooled tokens,
    // so at most one of the two labels can be predicted correctly
    assert(got.map(_.getString(1)).sorted.toSeq === Seq("h", "s"))
    assert(got.map(r => (r.getString(2), r.getDouble(3))).distinct.length === 1)
  }

  test("NaiveBayes.trainScore recovers separable labels; ties break to smallest label") {
    val docs = Seq(
      (1L, "buy spam buy offer", "s"),
      (2L, "spam offer now buy", "s"),
      (3L, "meeting agenda notes", "h"),
      (4L, "notes meeting review", "h")).toDF("doc_id", "text", "source")
    val got = graft.llm.NaiveBayes
      .trainScore(docs, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(1L -> "s", 2L -> "s", 3L -> "h", 4L -> "h"))
    // perfectly symmetric corpus: every (token,label) count identical →
    // equal scores, prediction = lexicographically smallest label
    val sym = Seq(
      (1L, "tok", "a"), (2L, "tok", "b")).toDF("doc_id", "text", "source")
    val tied = graft.llm.NaiveBayes
      .trainScore(sym, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tied === Map(1L -> "a", 2L -> "a"))
    // partition invariance (integer-grid argmax)
    val again = graft.llm.NaiveBayes
      .trainScore(docs.repartition(5), "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again === got)
    // token-less docs are NOT dropped: they take the prior argmax
    // (review-found contract violation — the inner join lost them)
    val withEmpty = docs.unionByName(
      Seq((5L, "...", "h")).toDF("doc_id", "text", "source"))
    val e = graft.llm.NaiveBayes
      .trainScore(withEmpty, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(e.contains(5L))
    // priors: h has 3 docs of 5, s has 2 → argmax prior = "h"
    assert(e(5L) === "h")
  }

  test("stripBoilerplate: frequent lines removed, order and dup lines kept") {
    val docs = Seq(
      (1L, "HEADER\nbody one\nbody one\nFOOTER"),   // dup body line preserved
      (2L, "HEADER\nunique two\nFOOTER"),
      (3L, "HEADER\nFOOTER"),                       // all-boilerplate doc
      (4L, "HEADER\nzz last\nmid\nFOOTER")).toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "body one\nbody one")
    assert(got(2L) === "unique two")
    assert(got(3L) === "")                          // survives, empty
    assert(got(4L) === "zz last\nmid")              // original order, not sorted
  }

  test("stripBoilerplate treats regex-metachar separators literally") {
    val docs = Seq(
      (1L, "NAV|body one|NAV"), (2L, "NAV|body two|NAV"),
      (3L, "NAV|body three|NAV")).toDF("doc_id", "text")
    val got = TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
        minDocs = 3, sep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // '|' as a raw regex would split between every character and strip
    // frequent single letters; literal splitting keeps bodies intact
    assert(got(1L) === "body one")
    assert(got(2L) === "body two")
  }

  test("winnowing: shared substring >= k+w-1 shares a fingerprint; length edges") {
    val k = 8; val w = 4
    val common = "identical stretch of text here" // 30 chars > k+w-1 = 11
    val d = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"another beginning $common tail"),
      (3L, "completely unrelated content xyz"),
      (4L, "short"),                    // < k ⇒ no fingerprints
      (5L, "exactly9c")).toDF("doc_id", "text") // k ≤ len < k+w−1 ⇒ 1 fp
    val fp = TextAnalysis.winnow(d, "doc_id", "text", k, w).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)   // guarantee
    assert((byDoc(3L) intersect byDoc(1L)).isEmpty)
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).size === 1)
    // fingerprints are distinct per doc
    assert(fp.distinct.length === fp.length)
  }

  test("native winnow kernel matches the declarative spec (unicode + edges + params)") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "héllo wörld — ünïcode 多字节文本 and ascii mixed in"),
      (3L, "aaaaaaaaaaaaaaaaaaaa"),          // degenerate: all grams equal
      (4L, "short"), (5L, ""), (6L, "exactly9c")).toDF("doc_id", "text")
    for ((k, w) <- Seq((8, 4), (3, 1), (1, 5), (5, 50))) {
      val native = TextAnalysis.winnow(d, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val decl = TextAnalysis.winnowDeclarative(d, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(native === decl, s"k=$k w=$w")
    }
  }

  test("langId picks the stopword-dominant language, 'und' when none") {
    val d = Seq(
      (1L, "the cat is on the mat and it was fine"),
      (2L, "le chat est dans la maison et les oiseaux"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "fr")
    assert(out(3L) === "und")
  }

  test("char-trigram langId catches morphology the word lexicon misses") {
    val d = Seq(
      (1L, "the cats establish the establishment"), // 'the' trigrams dominate
      (2L, "des oiseaux magnifiques dans les montagnes"),
      (3L, "qqq zzz")).toDF("doc_id", "text")
    val out = TextAnalysis.langIdNgram(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "fr")
  }

  test("token counts: whitespace vs BPE-ish") {
    val d = Seq((1L, "Hello, world! 42 times")).toDF("doc_id", "text")
    val r = d.select(
      TextAnalysis.wsTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeIshTokenCount(col("text")).as("bpe")).head()
    assert(r.getAs[Int]("ws") === 4)
    // Hello , world ! 4 2 times → 7
    assert(r.getAs[Int]("bpe") === 7)
  }

  test("rolling fingerprint is order-sensitive and deterministic") {
    val d = Seq((1L, "abc"), (2L, "acb"), (3L, "abc")).toDF("doc_id", "text")
    val f = d.select(col("doc_id"),
      TextAnalysis.rollingFingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) === f(3L))
    assert(f(1L) !== f(2L))
    // h("abc") = ((97*31 + 98)*31 + 99) with h0 = 0*31+97
    assert(f(1L) === ((97L * 31 + 98) * 31 + 99) % 1000000007L)
  }

  test("quality features: ratios bounded, zero-token doc safe") {
    val d = Seq((1L, "good clean text with the usual words"),
      (2L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.qualityFeatures(d, "doc_id", "text").collect()
    val r1 = rows.find(_.getLong(0) == 1).get
    assert(r1.getAs[Double]("punct_ratio") === 0.0)
    assert(r1.getAs[Double]("stopword_ratio") > 0.0)
    val r2 = rows.find(_.getLong(0) == 2).get
    assert(!r2.getAs[Double]("quality_score").isNaN)
  }

  test("PII redaction: email, phone shapes, bare id runs; clean text untouched") {
    val d = Seq(
      (1L, "mail a.b+c@sub.example.org now"),
      (2L, "call +33 6 12 34 56 78 or (555) 123-4567 today"),
      (3L, "ref 123456789 and short 12345 stays"),
      (4L, "nothing to redact here")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "mail <EMAIL> now")
    assert(got(2L) === "call <PHONE> or <PHONE> today")
    assert(got(3L) === "ref <ID> and short 12345 stays")
    assert(got(4L) === "nothing to redact here")
  }

  test("repetition ratio: dominant token share; zero-token docs absent") {
    val d = Seq(
      (1L, "spam spam spam ham"),
      (2L, "all words differ here"),
      (3L, "...")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRatio(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 4L, 0.75)))
    assert(got(2L) === ((1L, 4L, 0.25)))
    assert(!got.contains(3L)) // no tokens -> no row
  }

  test("length band keeps the inner percentile band per language") {
    val docs = (1 to 20).map(i => (i.toLong, "x" * i, "en")) ++
      Seq((100L, "y" * 3, "fr"), (101L, "y" * 4, "fr"), (102L, "y" * 5, "fr"))
    val got = TextAnalysis.lengthBand(docs.toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", lo = 0.10, hi = 0.90)
      .select("doc_id").as[Long].collect().toSet
    // en: percent_rank = (i-1)/19 -> keep ranks in [0.10, 0.90] = ids 3..18
    assert(got.filter(_ < 100L) === (3L to 18L).toSet)
    // fr: ranks 0, 0.5, 1.0 -> only the middle survives
    assert(got.filter(_ >= 100L) === Set(101L))
  }

  test("jsDivergence: analytic values — 0 for identical, ln 2 for disjoint") {
    val same = Seq((1L, "alpha beta gamma", "a"), (2L, "alpha beta gamma", "b"))
      .toDF("doc_id", "text", "src")
    val r1 = TextAnalysis.jsDivergence(same, "text", "src", "a", "b")
      .select("jsd").collect().head.getDouble(0)
    assert(r1 === 0.0)
    val disjoint = Seq((1L, "alpha beta", "a"), (2L, "gamma delta", "b"))
      .toDF("doc_id", "text", "src")
    val r2 = TextAnalysis.jsDivergence(disjoint, "text", "src", "a", "b")
      .select("jsd").collect().head.getDouble(0)
    assert(math.abs(r2 - math.log(2.0)) < 1e-7, s"jsd=$r2")
  }

  test("jsDivergence: an absent/token-less group yields null jsd, not NaN") {
    // group 'b' never appears: n2 = 0 would make every denominator
    // c1*n2 + c2*n1 = 0 -> 0/0 = NaN without the degenerate guard
    val oneSided = Seq((1L, "alpha beta gamma", "a"))
      .toDF("doc_id", "text", "src")
    val row = TextAnalysis.jsDivergence(oneSided, "text", "src", "a", "b")
      .collect().head
    assert(row.getAs[Long]("n2") === 0L)
    assert(row.isNullAt(row.fieldIndex("jsd")), s"jsd=${row}")
  }

  test("tfidfCosinePairs: identical docs hit cos 1, df cap prunes, disjoint absent") {
    val docs = Seq(
      (1L, "zebra quokka lemur"),
      (2L, "zebra quokka lemur"),          // identical to 1 → cos = 1
      (3L, "zebra iguana puffin"),         // shares 'zebra' with 1, 2
      (4L, "walrus narwhal dugong"),       // disjoint → no pair
      (5L, "common common words"),
      (6L, "common words here")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis
      .tfidfCosinePairs(docs, "doc_id", "text", maxDf = 10L, minCos = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-8)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    // df cap: with maxDf=2 the df-3 term 'zebra' drops, so (1,3) loses its
    // only shared term while the identical pair still scores 1
    val capped = TextAnalysis
      .tfidfCosinePairs(docs, "doc_id", "text", maxDf = 2L, minCos = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((1L, 3L)))
    assert(capped.contains((1L, 2L)))
  }

  test("tfidfCosinePairs: term granularity n switches unigram/trigram modes") {
    // small-vocabulary corpus: every unigram is common (df = 3 of 4 docs),
    // but shared PHRASES separate the near-duplicates — the registered
    // query's trigram rationale, exercised in both modes
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the sleepy dog"),
      (3L, "dog the over quick lazy fox brown jumps the"),
      (4L, "zebra quokka lemur")
    ).toDF("doc_id", "text")
    // unigram mode: docs 1 and 3 are permutations — identical unigram
    // vectors, cos = 1 even though the word ORDER totally differs
    val uni = TextAnalysis
      .tfidfCosinePairs(docs, "doc_id", "text", maxDf = 10L, minCos = 0.0, n = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(uni((1L, 3L)) - 1.0) < 1e-8, s"uni=$uni")
    // trigram mode: permutation shares no 3-gram, but the one-word edit
    // (1,2) keeps most phrases — order sensitivity is the point of n=3
    val tri = TextAnalysis
      .tfidfCosinePairs(docs, "doc_id", "text", maxDf = 10L, minCos = 0.0, n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(!tri.contains((1L, 3L)), s"tri=$tri")
    assert(tri((1L, 2L)) > 0.3, s"tri=$tri")
  }

  test("tfidfCosinePairs: an index-emptying df cap fails loudly, not silently") {
    val docs = Seq(
      (1L, "same words everywhere"), (2L, "same words everywhere"),
      (3L, "same words everywhere")).toDF("doc_id", "text")
    // every unigram has df = 3 > maxDf = 1 → capped index is EMPTY; the
    // guard in the broadcast stats row must raise, not return zero pairs
    val ex = intercept[Exception] {
      TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text",
        maxDf = 1L, minCos = 0.0, n = 1).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(_.getMessage).toSeq
    assert(chain(ex).exists(m => m != null && m.contains("empties")),
      chain(ex).mkString(" | "))
    // an empty CORPUS stays a clean empty result (nothing to warn about)
    val none = TextAnalysis.tfidfCosinePairs(
      docs.filter(col("doc_id") < 0), "doc_id", "text",
      maxDf = 1L, minCos = 0.0, n = 1)
    assert(none.count() === 0)
  }
}

class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("dsirWeights reproduces the hashed target/source log-ratio exactly") {
    val docs = Seq(
      (1L, "aa bb aa", true), (2L, "cc dd", false), (3L, "aa cc", false))
      .toDF("doc_id", "text", "is_tgt")
    // replicate the bucket map + LM + 8dp-ln arithmetic in plain Scala
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ds|$tok".getBytes("UTF-8"))
      ((h(0).toInt & 0xff) % 64).toLong
    }
    val toks = Seq((1L, "aa", true), (1L, "bb", true), (1L, "aa", true),
      (2L, "cc", false), (2L, "dd", false), (3L, "aa", false), (3L, "cc", false))
      .map { case (d, t, tgt) => (d, bucket(t), tgt) }
    val sc = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tc = toks.filter(_._3).groupBy(_._2).view.mapValues(_.size.toLong)
      .toMap.withDefaultValue(0L)
    val (s8, t8) = (toks.size.toLong, toks.count(_._3).toLong)
    def ln8(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def lr(b: Long): Long =
      ((ln8((tc(b) + 1.0) / (t8 + 64.0)) - ln8((sc(b) + 1.0) / (s8 + 64.0)))
        * BigDecimal(100000000L)).toLongExact
    val expect = toks.groupBy(_._1).view.mapValues { ts =>
      (ts.size.toLong, ts.map(t => lr(t._2)).sum.toDouble / 1e8)
    }.toMap
    val got = graft.llm.TextAnalysis.dsirWeights(
        docs, "doc_id", "text", isTarget = col("is_tgt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expect)
    // the target doc's tokens are (mostly) target-distribution tokens:
    // its weight must exceed the disjoint-vocabulary doc's
    assert(got(1L)._2 > got(2L)._2)
    // deterministic under repartitioning
    val again = graft.llm.TextAnalysis.dsirWeights(
        docs.repartition(5), "doc_id", "text", col("is_tgt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(again === got)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary payload plumbing: attach → mapPartitions feature extraction") {
    val d = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
    val recs = Multimodal.attachPayload(d, "doc_id", "text", "audio")
      .as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(recs).collect()
      .map(f => f.id -> f).toMap
    assert(feats(1L).n_bytes === 5L)
    assert(feats(1L).kind === "audio")
    assert(feats(1L).feature.length === 4)
    assert(feats(1L).feature(0) === 'h'.toInt / 255.0)
    assert(feats(2L).n_bytes === 0L)
    assert(feats(2L).checksum === 0L)
  }

  test("imageio decode: synthetic PNG round-trip recovers dims and fill color") {
    for (id <- Seq(0L, 1L, 7L, 123L, 100000L)) {
      val m = Multimodal.decodeImage(
        Multimodal.MediaRecord(id, "image/png", Multimodal.syntheticPng(id)))
      assert(m.width === (8 + id % 5).toInt, s"id=$id")
      assert(m.height === (8 + id % 3).toInt, s"id=$id")
      assert(m.mean_r === (37 * id % 256).toDouble, s"id=$id")
      assert(m.mean_g === (59 * id % 256).toDouble, s"id=$id")
      assert(m.mean_b === (83 * id % 256).toDouble, s"id=$id")
    }
  }

  test("imageio decode: non-solid image means average over all pixels") {
    // 2×1 PNG: black + white pixel → every channel mean is 127.5
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000)
    img.setRGB(1, 0, 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val m = Multimodal.decodeImage(
      Multimodal.MediaRecord(5L, "image/png", out.toByteArray))
    assert((m.width, m.height) === (2, 1))
    assert(m.mean_r === 127.5 && m.mean_g === 127.5 && m.mean_b === 127.5)
    // garbage bytes → clear error, not a null deref
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(
        Multimodal.MediaRecord(6L, "image/png", Array[Byte](1, 2, 3)))
    }
  }

  test("imageFeatures decodes a Dataset of PNGs distributively") {
    val metas = Multimodal.imageFeatures(
        spark.range(0, 50).as[Long].repartition(4)
          .map(id => Multimodal.MediaRecord(id, "image/png",
            Multimodal.syntheticPng(id))))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size === 50)
    assert(metas(13L).width === (8 + 13 % 5) && metas(13L).mean_g === (59 * 13 % 256).toDouble)
  }

  test("imageHistogram decodes a Dataset of PNGs distributively; bins " +
    "are complete (zeros emitted) and sum to width*height") {
    val hist = Multimodal.imageHistogram(
        spark.range(0, 50).as[Long].repartition(4)
          .map(id => Multimodal.MediaRecord(id, "image/png",
            Multimodal.syntheticGradientPng(id))), bins = 16)
      .collect()
    assert(hist.length === 50 * 16) // every bin of every image, zeros too
    val perId = hist.groupBy(_.id)
    assert(perId.forall { case (_, es) =>
      es.map(_.bin).sorted.toSeq == (0 until 16) &&
        es.map(_.n_px).sum == 256L
    })
    // solid-fill image: ALL pixels land in one bin
    val solid = Multimodal.decodeImageHist(
      Multimodal.MediaRecord(3L, "image/png", Multimodal.syntheticPng(3L)),
      bins = 16)
    assert(solid.count(_.n_px > 0) === 1)
  }

  test("imagePhash: decoded aHash equals the direct pixel-formula hash") {
    // reference aHash computed straight from the generator formula,
    // no decode involved — the Spark path must round-trip to this exactly
    def refPhash(id: Long): (Long, Long, Long, Long) = {
      val g = id / 7; val o = id % 7
      val a = 1 + (7 * g) % 11; val b = 1 + (5 * g) % 13; val c = (3 * g) % 5
      def v(x: Int, y: Int): Long = (a * x + b * y + c * x * y + 37 * g + o) % 256
      val tot = (for (y <- 0 until 16; x <- 0 until 16) yield v(x, y)).sum
      var bits = 0L
      for (by <- 0 until 8; bx <- 0 until 8) {
        val bs = v(2 * bx, 2 * by) + v(2 * bx + 1, 2 * by) +
          v(2 * bx, 2 * by + 1) + v(2 * bx + 1, 2 * by + 1)
        if (64L * bs > tot) bits |= 1L << (by * 8 + bx)
      }
      (bits & 0xffffL, (bits >>> 16) & 0xffffL,
        (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
    }
    val got = Multimodal.imagePhash(
        spark.range(0, 60).as[Long].repartition(4)
          .map(id => Multimodal.MediaRecord(id, "image/png",
            Multimodal.syntheticGradientPng(id))))
      .collect().map(p => p.id -> (p.w0, p.w1, p.w2, p.w3)).toMap
    assert(got.size === 60)
    for (id <- 0L until 60L) assert(got(id) === refPhash(id), s"id=$id")
    // the hash is non-degenerate: distinct patterns hash apart
    assert(got.values.toSet.size > 5)
  }

  test("wordBandNearDups over pHash equals brute-force Hamming <= 3") {
    val fp = Multimodal.imagePhash(
        spark.range(0, 40).as[Long]
          .map(id => Multimodal.MediaRecord(id, "image/png",
            Multimodal.syntheticGradientPng(id))))
      .toDF().withColumnRenamed("id", "doc_id")
    val got = Dedup.wordBandNearDups(fp, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = fp.collect().map(r => r.getLong(0) ->
      (r.getLong(1) | (r.getLong(2) << 16) | (r.getLong(3) << 32) |
        (r.getLong(4) << 48))).toMap
    val want = (for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      h = java.lang.Long.bitCount(hs(i) ^ hs(j))
      if h <= 3
    } yield (i, j, h.toLong)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the generator actually plants near pairs
  }

  test("wav decode: synthetic RIFF/PCM round-trip recovers header + exact stats") {
    for (id <- Seq(0L, 1L, 7L, 123L, 100000L)) {
      val m = Multimodal.decodeWav(
        Multimodal.MediaRecord(id, "audio/wav", Multimodal.syntheticWav(id)))
      assert(m.sample_rate === (8000 + (id % 4) * 2000).toInt, s"id=$id")
      assert(m.channels === 1 && m.bits === 16, s"id=$id")
      val n = (16 + id % 17).toInt
      assert(m.n_samples === n.toLong, s"id=$id")
      val samples = (0 until n).map(i => (id * 31 + i * 97L) % 65536L - 32768L)
      assert(m.peak === samples.map(math.abs).max.toInt, s"id=$id")
      assert(m.mean_abs === samples.map(math.abs).sum.toDouble / n, s"id=$id")
    }
  }

  test("wav decode: skips unknown chunks, rejects non-RIFF and non-PCM") {
    // splice a LIST chunk (with odd size → pad byte) between fmt and data
    val base = Multimodal.syntheticWav(3L)
    val bb = java.nio.ByteBuffer.allocate(base.length + 8 + 3 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(base, 0, 36) // RIFF header + fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(3).put(Array[Byte](9, 9, 9, 0))
    bb.put(base, 36, base.length - 36) // data chunk
    val m = Multimodal.decodeWav(
      Multimodal.MediaRecord(3L, "audio/wav", bb.array()))
    assert(m.n_samples === (16 + 3 % 17).toLong && m.bits === 16)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(
        Multimodal.MediaRecord(4L, "audio/wav", Array.fill[Byte](64)(7)))
    }
    // non-PCM format tag in an otherwise valid layout
    val bad = Multimodal.syntheticWav(4L).clone()
    bad(20) = 3 // fmt audioFormat = 3 (IEEE float)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(Multimodal.MediaRecord(4L, "audio/wav", bad))
    }
  }

  test("audioFeatures decodes a Dataset of WAVs distributively") {
    val metas = Multimodal.audioFeatures(
        spark.range(0, 50).as[Long].repartition(4)
          .map(id => Multimodal.MediaRecord(id, "audio/wav",
            Multimodal.syntheticWav(id))))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size === 50)
    assert(metas(13L).sample_rate === 10000 && metas(13L).n_samples === (16 + 13 % 17).toLong)
  }

  test("mp4 parse: synthetic box round-trip recovers brand and mvhd fields") {
    for (id <- Seq(0L, 1L, 7L, 123L, 100000L)) {
      val m = Multimodal.decodeMp4(
        Multimodal.MediaRecord(id, "video/mp4", Multimodal.syntheticMp4(id)))
      assert(m.brand === "isom", s"id=$id")
      assert(m.timescale === 1000 + (id % 5) * 500, s"id=$id")
      assert(m.duration === 2000 + (id % 977) * 3, s"id=$id")
      assert(m.duration_ms === m.duration * 1000 / m.timescale, s"id=$id")
    }
  }

  test("mp4 parse: mvhd version 1 layout, truncated boxes rejected") {
    // hand-build ftyp + moov/mvhd(v1): 64-bit creation/modification/duration
    val mvhdSize = 120
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + mvhdSize)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("mp42".getBytes("US-ASCII")).putInt(0)
    bb.putInt(8 + mvhdSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
      .putInt(0x01000000)       // version 1
      .putLong(0L).putLong(0L)  // creation, modification (64-bit)
      .putInt(48000).putLong(96000L)
    val m = Multimodal.decodeMp4(
      Multimodal.MediaRecord(1L, "video/mp4", bb.array()))
    assert(m.brand === "mp42" && m.timescale === 48000L)
    assert(m.duration === 96000L && m.duration_ms === 2000L)
    intercept[IllegalArgumentException] {
      Multimodal.decodeMp4(Multimodal.MediaRecord(2L, "video/mp4",
        Multimodal.syntheticMp4(2L).take(40))) // truncated moov
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeMp4(Multimodal.MediaRecord(3L, "video/mp4",
        Array[Byte](1, 2, 3))) // not a box structure at all
    }
  }

  test("mp3 walk: synthetic CBR round-trip recovers bitrate/rate/frames/duration") {
    val bitrates = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val rates = Array(44100, 48000, 32000)
    // ids chosen to hit: ID3v2 present/absent, ID3v1 present/absent,
    // padding-bit both phases, all three sample rates
    for (id <- Seq(0L, 1L, 5L, 7L, 10L, 123L, 100000L)) {
      val m = Multimodal.decodeMp3(
        Multimodal.MediaRecord(id, "audio/mpeg", Multimodal.syntheticMp3(id)))
      assert(m.version === "MPEG1" && m.layer === 3, s"id=$id")
      assert(m.bitrate_kbps === bitrates((id % 14).toInt), s"id=$id")
      assert(m.sample_rate === rates((id % 3).toInt), s"id=$id")
      assert(m.frames === 4 + id % 7, s"id=$id")
      assert(m.duration_ms ===
        math.floorDiv(m.frames * 1152L * 1000L, m.sample_rate), s"id=$id")
    }
  }

  test("mp3 walk: ID3v2 footer honored; VBR, lost sync and truncation rejected") {
    // footer flag doubles the tag trailer: body 0 + footer 10
    val frames = Multimodal.syntheticMp3(1L) // odd id → no ID3v2, no ID3v1
    val withFooter = java.nio.ByteBuffer.allocate(20 + frames.length)
    withFooter.put("ID3".getBytes("US-ASCII")).put(4.toByte).put(0.toByte)
      .put(0x10.toByte) // footer present
      .put(new Array[Byte](4)) // syncsafe size 0
      .put(new Array[Byte](10)) // the footer itself
      .put(frames)
    val m = Multimodal.decodeMp3(
      Multimodal.MediaRecord(1L, "audio/mpeg", withFooter.array()))
    assert(m.frames === 4 + 1 % 7)
    // VBR: flip the second frame's bitrate index → rejected (CBR contract)
    val vbr = Multimodal.syntheticMp3(1L).clone()
    // frame 0 starts at 0 (no ID3); its length = 144*40000/48000 + 1 (pad: id+0 odd)
    val f0len = 144 * 40000 / 48000 + 1
    vbr(f0len + 2) = ((3 << 4) | (1 << 2)).toByte // bitrate idx 2→3
    intercept[IllegalArgumentException] {
      Multimodal.decodeMp3(Multimodal.MediaRecord(1L, "audio/mpeg", vbr))
    }
    intercept[IllegalArgumentException] { // garbage: no sync at byte 0
      Multimodal.decodeMp3(Multimodal.MediaRecord(2L, "audio/mpeg",
        Array.fill[Byte](64)(7)))
    }
    intercept[IllegalArgumentException] { // truncated final frame
      Multimodal.decodeMp3(Multimodal.MediaRecord(3L, "audio/mpeg",
        Multimodal.syntheticMp3(1L).dropRight(5)))
    }
  }

  test("mp3 walk: Xing/VBRI streams skip the metadata frame, allow " +
      "per-frame bitrate, cross-check the header frame count") {
    val bitrates = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val rates = Array(44100, 48000, 32000)
    // even ids → Xing at the mono side-info offset, odd ids → VBRI
    for (id <- (0L to 8L) ++ Seq(100L, 999L)) {
      val m = Multimodal.decodeMp3(
        Multimodal.MediaRecord(id, "audio/mpeg", Multimodal.syntheticMp3Vbr(id)))
      val rate = rates((id % 3).toInt)
      val n = 4 + id % 7
      assert(m.vbr && m.frames === n && m.sample_rate === rate, s"id=$id")
      // exact floored average over the independent per-frame lengths
      val bytes = (0L until n).map { f =>
        144L * (bitrates(((id + f) % 14).toInt) * 1000) / rate + (id + f) % 2
      }.sum
      assert(m.bitrate_kbps === (bytes * 8 * rate / (n * 1152L * 1000L)).toInt,
        s"id=$id")
      assert(m.duration_ms === math.floorDiv(n * 1152L * 1000L, rate), s"id=$id")
    }
    // CBR streams still report vbr = false
    assert(!Multimodal.decodeMp3(Multimodal.MediaRecord(1L, "audio/mpeg",
      Multimodal.syntheticMp3(1L))).vbr)
    // a wrong frame-count field is rejected (the cross-check the header
    // exists for). Xing frames field sits at 21+8 (id 0: no ID3)
    val bad = Multimodal.syntheticMp3Vbr(0L).clone()
    bad(21 + 11) = (bad(21 + 11) + 1).toByte
    intercept[IllegalArgumentException] {
      Multimodal.decodeMp3(Multimodal.MediaRecord(0L, "audio/mpeg", bad)) }
    // a Xing header whose flags omit the frame count is rejected too
    val noFrames = Multimodal.syntheticMp3Vbr(0L).clone()
    noFrames(21 + 7) = 0 // flags low byte: clear the frames bit
    intercept[IllegalArgumentException] {
      Multimodal.decodeMp3(Multimodal.MediaRecord(0L, "audio/mpeg", noFrames)) }
  }

  test("mp3Meta decodes a Dataset distributively") {
    val metas = Multimodal.mp3Meta(
        spark.range(0, 50).as[Long].repartition(4)
          .map(id => Multimodal.MediaRecord(id, "audio/mpeg",
            Multimodal.syntheticMp3(id))))
      .collect().map(m => m.id -> m).toMap
    assert(metas.size === 50)
    assert(metas(13L).sample_rate === 48000 && metas(13L).frames === 4 + 13 % 7)
  }
}
