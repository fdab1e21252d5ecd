package graft.llm

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, decoded per-partition into feature rows.
  *
  * Round 10 upgraded the codec from a byte-arithmetic stub to a REAL
  * public byte format: binary P6 PPM (the netpbm portable pixmap — magic
  * `P6`, whitespace-separated ASCII decimal width/height/maxval with
  * `#`-comment support, one whitespace byte, then `w·h·3` raw RGB bytes).
  * PPM is the zero-dependency choice: the header is self-describing, the
  * pixel plane is raw, and the full spec fits in the parser below — so the
  * decode step genuinely parses bytes it did not produce, while the
  * surrounding plumbing keeps the properties a media pipeline needs at
  * 100 TB:
  *  - payloads travel as BinaryType columns (columnar, never stringified);
  *  - every stage runs via `mapPartitions`/`flatMap` over a typed Dataset —
  *    one iterator pass per partition, zero driver involvement; swapping
  *    the PPM parser for a JNI/codec call changes nothing else;
  *  - stage outputs are typed rows (or new payloads) that drop straight
  *    back into declarative SQL, and payload→payload stages (resize) emit
  *    VALID PPM so the stages compose in any order.
  *
  * The test corpus has no real media column, so `encodePpm` synthesizes a
  * deterministic image per document (dimensions and pixels derived from
  * the text bytes) — which keeps the whole pipeline oracle-checkable: the
  * DuckDB side regenerates the same image in SQL and replays the decode
  * arithmetic exactly. A real corpus would land its payloads in the same
  * (doc_id, payload) shape and skip the encoder.
  *
  * Malformed payloads THROW with the doc id (fail-fast): the encoder
  * guarantees validity here; a production ingest would route bad payloads
  * to a quarantine leg first (the Envelope.decodeFlagged pattern), keeping
  * the decoder's contract strict.
  */
object Multimodal {

  final case class BlobRow(doc_id: Long, payload: Array[Byte])

  /** Typed metadata the decoder emits per image: payload size, header
    * dimensions, and the exact pixel-plane byte sum. */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, width: Long, height: Long, sum_bytes: Long)

  /** Per-channel feature vector (the embedding-extractor stand-in):
    * exact per-channel sums + pixel-plane extrema; mean_px is the exact
    * sum over one division, so it is aggregation-order independent and
    * SQL-replayable. */
  final case class PixelFeatures(
      doc_id: Long, n_px: Long, r_sum: Long, g_sum: Long, b_sum: Long,
      px_min: Long, px_max: Long, mean_px: Double)

  /** One sampled scanline of an image (the video-frame analog: one row
    * in, N frame rows out). */
  final case class FrameRow(doc_id: Long, frame_idx: Long, frame_sum: Long)

  // ------------------------------------------------------------- encoder

  /** Deterministic P6 payload per document: width = 1 + first byte % 16,
    * height = 1 + last byte % 16, pixel byte k = text byte (k mod len) —
    * i.e. the text bytes tile the pixel plane cyclically. Empty/null text
    * encodes the 1×1 image whose pixels are '0' (0x30). The derivation is
    * pure SQL over the corpus, which is what lets the DuckDB oracle verify
    * the REAL parser end-to-end (encode in SQL, decode in Spark, compare). */
  def encodePpm(spark: SparkSession, docs: DataFrame): Dataset[BlobRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes =
          if (text == null) Array.empty[Byte]
          else text.getBytes(StandardCharsets.UTF_8)
        val len = bytes.length
        val w = 1 + (if (len == 0) 0 else bytes(0) & 0xff) % 16
        val h = 1 + (if (len == 0) 0 else bytes(len - 1) & 0xff) % 16
        val header = s"P6\n$w $h\n255\n".getBytes(StandardCharsets.US_ASCII)
        val out = new Array[Byte](header.length + w * h * 3)
        System.arraycopy(header, 0, out, 0, header.length)
        var k = 0
        while (k < w * h * 3) {
          out(header.length + k) = if (len == 0) '0'.toByte else bytes(k % len)
          k += 1
        }
        BlobRow(id, out)
      })
  }

  // -------------------------------------------------------------- parser

  /** Parsed view of a P6 payload: dimensions + the pixel-plane offset
    * into the payload array (pixels are payload(offset) onward). */
  private final case class Ppm(width: Int, height: Int, offset: Int)

  private def isPpmWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t'

  /** The real netpbm P6 header parse — magic, whitespace/comment
    * skipping, three ASCII decimal fields, the single post-maxval
    * whitespace byte, and an exact pixel-plane length check. Accepts any
    * spec-valid P6 with maxval < 256 (one byte per sample), not just the
    * encoder's output; rejects everything else loudly. */
  private def parsePpm(p: Array[Byte], docId: Long): Ppm = {
    val ppm = parsePpmAt(p, 0, docId)
    if (p.length - ppm.offset != ppm.width * ppm.height * 3)
      throw new IllegalArgumentException(s"doc $docId: invalid P6 PPM — " +
        s"raster is ${p.length - ppm.offset} bytes, header says " +
        s"${ppm.width * ppm.height * 3}")
    ppm
  }

  /** P6 parse at a byte offset — the container form (a video frame is a
    * complete embedded P6): identical header walk, but the raster-length
    * check is "enough bytes REMAIN" (the frame's own header says where
    * it ends) rather than "consumes the whole array". */
  private def parsePpmAt(p: Array[Byte], start: Int, docId: Long): Ppm = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"doc $docId: invalid P6 PPM — $why")
    if (p.length < start + 2 || p(start) != 'P' || p(start + 1) != '6')
      fail("bad magic")
    var i = start + 2
    def skipWs(): Unit = {
      var going = true
      while (going && i < p.length) {
        if (isPpmWs(p(i))) i += 1
        else if (p(i) == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else going = false
      }
    }
    def readInt(name: String): Int = {
      skipWs()
      if (i >= p.length || p(i) < '0' || p(i) > '9') fail(s"expected $name")
      var v = 0
      while (i < p.length && p(i) >= '0' && p(i) <= '9') {
        v = v * 10 + (p(i) - '0')
        if (v > (1 << 24)) fail(s"$name out of range")
        i += 1
      }
      v
    }
    val w = readInt("width")
    val h = readInt("height")
    val maxval = readInt("maxval")
    if (w <= 0 || h <= 0) fail(s"non-positive dimensions ${w}x$h")
    if (maxval <= 0 || maxval > 255) fail(s"unsupported maxval $maxval")
    // exactly ONE whitespace byte separates the header from the raster
    if (i >= p.length || !isPpmWs(p(i))) fail("missing raster separator")
    i += 1
    if (p.length - i < w * h * 3)
      fail(s"raster is ${p.length - i} bytes, header says ${w * h * 3}")
    Ppm(w, h, i)
  }

  // -------------------------------------------------------------- stages

  /** DECODE stage: parse the header, checksum the pixel plane. */
  def decodeFeatures(spark: SparkSession, blobs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      var sum = 0L
      var i = img.offset
      while (i < b.payload.length) { sum += (b.payload(i) & 0xff); i += 1 }
      MediaFeatures(b.doc_id, b.payload.length.toLong,
        img.width.toLong, img.height.toLong, sum)
    })
  }

  /** FEATURE-EXTRACT stage: per-channel sums + extrema over the parsed
    * pixel plane (swap for a model call; the mapPartitions plumbing,
    * schema, and zero driver involvement are the contract). */
  def featureExtract(spark: SparkSession, blobs: DataFrame): Dataset[PixelFeatures] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val sums = new Array[Long](3)
      var mn = 255L
      var mx = 0L
      var i = img.offset
      var c = 0
      while (i < b.payload.length) {
        val v = (b.payload(i) & 0xff).toLong
        sums(c) += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
        c += 1
        if (c == 3) c = 0
      }
      val nPx = img.width.toLong * img.height
      PixelFeatures(b.doc_id, nPx, sums(0), sums(1), sums(2), mn, mx,
        (sums(0) + sums(1) + sums(2)).toDouble / (3.0 * nPx))
    })
  }

  /** RESIZE stage: true 2-D nearest-neighbor downsample by `factor` —
    * output pixel (x, y) = input pixel (x·factor, y·factor), output dims
    * ⌈w/factor⌉ × ⌈h/factor⌉ — re-encoded as a VALID P6 payload, so
    * downstream stages (decode, feature-extract, frame-sample) compose on
    * the output unchanged. */
  def resize(spark: SparkSession, blobs: DataFrame, factor: Int = 2): Dataset[BlobRow] = {
    import spark.implicits._
    require(factor >= 1, s"resize factor must be >= 1: $factor")
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val w2 = (img.width + factor - 1) / factor
      val h2 = (img.height + factor - 1) / factor
      val header = s"P6\n$w2 $h2\n255\n".getBytes(StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + w2 * h2 * 3)
      System.arraycopy(header, 0, out, 0, header.length)
      var y = 0
      var j = header.length
      while (y < h2) {
        var x = 0
        while (x < w2) {
          val src = img.offset + ((y * factor) * img.width + x * factor) * 3
          out(j) = b.payload(src)
          out(j + 1) = b.payload(src + 1)
          out(j + 2) = b.payload(src + 2)
          j += 3
          x += 1
        }
        y += 1
      }
      BlobRow(b.doc_id, out)
    })
  }

  /** FRAME-SAMPLE stage: emit every `stride`-th scanline of each image as
    * one checksum row — the table-generating (1→N) shape of video frame
    * extraction, as a typed flatMap. frame_idx is the SOURCE row index, so
    * sampled output is identifiable against the original. */
  def frameSample(spark: SparkSession, blobs: DataFrame,
                  stride: Int = 1): Dataset[FrameRow] = {
    require(stride >= 1, s"frameSample: stride ($stride) must be >= 1")
    import spark.implicits._
    blobs.as[BlobRow].flatMap { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val rowBytes = img.width * 3
      (0 until img.height by stride).iterator.map { y =>
        var sum = 0L
        var j = img.offset + y * rowBytes
        val end = j + rowBytes
        while (j < end) { sum += (b.payload(j) & 0xff); j += 1 }
        FrameRow(b.doc_id, y.toLong, sum)
      }
    }
  }

  // ------------------------------------------------------------- video

  /** Typed features the video decoder emits per container: frame count,
    * shared frame geometry, container size, and exact integer raster
    * stats — Σ of every frame's raster bytes plus the min/max per-frame
    * raster sum (all LONG — aggregation-order free). */
  final case class VideoFeatures(
      doc_id: Long, n_frames: Long, width: Long, height: Long,
      n_bytes: Long, px_sum: Long, frame_sum_min: Long, frame_sum_max: Long)

  /** One frame's 64-bit dHash (the video signature table's row — the
    * image ImageSig with a frame axis). */
  final case class VideoFrameSig(doc_id: Long, frame_idx: Int, dhash: Long)

  /** Deterministic multi-frame VIDEO container per document — the third
    * modality's `encodePpm`/`encodeWav` trick, so the DuckDB oracle can
    * regenerate payloads in SQL and replay the real parser end-to-end.
    * Container: ASCII header `GV1\n<F>\n`, then F complete embedded P6
    * frames (each independently spec-valid, parsed by the REAL P6
    * walk). F = 2 + first byte % 3 (2–4 frames), geometry shared with
    * the image encoder (w = 1 + first % 16, h = 1 + last % 16), and
    * frame f's raster byte k = text byte (k + 7·f) mod len — a
    * temporal PAN: consecutive frames are shifted tilings, the way real
    * consecutive video frames are near-identical content under motion.
    * Empty/null text → two 1×1 '0' frames. */
  def encodeVideo(spark: SparkSession, docs: DataFrame): Dataset[BlobRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes =
          if (text == null) Array.empty[Byte]
          else text.getBytes(StandardCharsets.UTF_8)
        val len = bytes.length
        val first = if (len == 0) 0 else bytes(0) & 0xff
        val w = 1 + first % 16
        val h = 1 + (if (len == 0) 0 else bytes(len - 1) & 0xff) % 16
        val nf = 2 + first % 3
        val fHdr = s"P6\n$w $h\n255\n".getBytes(StandardCharsets.US_ASCII)
        val vHdr = s"GV1\n$nf\n".getBytes(StandardCharsets.US_ASCII)
        val raster = w * h * 3
        val out = new Array[Byte](vHdr.length + nf * (fHdr.length + raster))
        System.arraycopy(vHdr, 0, out, 0, vHdr.length)
        var off = vHdr.length
        var f = 0
        while (f < nf) {
          System.arraycopy(fHdr, 0, out, off, fHdr.length)
          off += fHdr.length
          var k = 0
          while (k < raster) {
            out(off + k) =
              if (len == 0) '0'.toByte else bytes((k + 7 * f) % len)
            k += 1
          }
          off += raster
          f += 1
        }
        BlobRow(id, out)
      })
  }

  /** The real GV1 container walk: magic, ASCII frame count, then F
    * embedded P6 parses (each frame's own header says where it ends).
    * Returns each frame's parsed view in payload order. */
  private def parseVideo(p: Array[Byte], docId: Long): Seq[Ppm] = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"doc $docId: invalid GV1 video — $why")
    if (p.length < 4 || p(0) != 'G' || p(1) != 'V' || p(2) != '1'
        || p(3) != '\n') fail("bad magic")
    var i = 4
    if (i >= p.length || p(i) < '0' || p(i) > '9') fail("expected frame count")
    var nf = 0
    while (i < p.length && p(i) >= '0' && p(i) <= '9') {
      nf = nf * 10 + (p(i) - '0')
      if (nf > 4096) fail("frame count out of range")
      i += 1
    }
    if (i >= p.length || p(i) != '\n') fail("missing frame-count terminator")
    i += 1
    if (nf < 1) fail("empty video")
    val frames = (0 until nf).map { _ =>
      val ppm = parsePpmAt(p, i, docId)
      i = ppm.offset + ppm.width * ppm.height * 3
      ppm
    }
    if (i != p.length)
      fail(s"${p.length - i} trailing bytes after frame $nf")
    frames
  }

  /** L132 — video DECODE + features through the real container walk:
    * frame count, shared geometry, and exact integer raster statistics.
    * Same mapPartitions codec-boundary contract as the image/audio
    * stages (typed Dataset, payloads columnar, zero driver involvement;
    * swap the stats loop for a model call and nothing else changes). */
  def videoFeatures(spark: SparkSession, blobs: DataFrame)
      : Dataset[VideoFeatures] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val frames = parseVideo(b.payload, b.doc_id)
      var px = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      frames.foreach { fr =>
        var s = 0L
        var j = fr.offset
        val end = fr.offset + fr.width * fr.height * 3
        while (j < end) { s += (b.payload(j) & 0xff); j += 1 }
        px += s
        if (s < mn) mn = s
        if (s > mx) mx = s
      }
      VideoFeatures(b.doc_id, frames.length.toLong,
        frames.head.width.toLong, frames.head.height.toLong,
        b.payload.length.toLong, px, mn, mx)
    })
  }

  /** Per-frame dHash signatures — the video near-dup plane's signature
    * table: (doc_id, frame_idx, dhash), one 64-bit gradient-sign hash
    * per frame through the SAME grid machinery as the image plane (a
    * container frame hashes identically to the same raster standalone,
    * pinned in LlmSpec). Computed inside the codec mapPartitions
    * boundary — payloads never leave the scan stage. */
  def videoFrameHashes(spark: SparkSession, blobs: DataFrame)
      : Dataset[VideoFrameSig] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.flatMap { b =>
      parseVideo(b.payload, b.doc_id).iterator.zipWithIndex.map {
        case (fr, idx) => VideoFrameSig(b.doc_id, idx, gridHash(b.payload, fr)._2)
      }
    })
  }

  /** L133 — VIDEO near-duplicate pairs: the l122/l127 discipline with a
    * FRAME axis — re-encoded or re-posted clips whose per-frame content
    * matches. Candidates band each frame's hash within its OWN
    * (frame_idx, band) bucket (aligned frames only — the pigeonhole
    * recall argument applies per frame), the hot-band guard caps bucket
    * occupancy per (frame_idx, band), verification is per-aligned-frame
    * XOR+popcount ≤ maxHamming, and a PAIR of videos is a near-dup when
    * ≥ minFrames aligned frames verify. Output per pair: the count of
    * close frames and the exact summed Hamming over them (the audit
    * column). At 100 TB: exchanges carry (doc_id, frame_idx, dhash,
    * band) longs only; per-frame banding multiplies rows by the BOUNDED
    * frame-sample count, not by payload size. */
  def videoNearDups(spark: SparkSession, docs: DataFrame,
                    maxHamming: Int = 2, maxBandOcc: Int = 500,
                    minFrames: Int = 2): DataFrame =
    videoNearDupsFromSigs(
      videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF()
        .localCheckpoint(),
      maxHamming, maxBandOcc, minFrames)

  /** Frame-aligned banding of a (doc_id, frame_idx, dhash) table at
    * `bandBits` bits per band. */
  private def videoBandedSigs(sig: DataFrame, bandBits: Int): DataFrame = {
    require(Seq(8, 16, 32).contains(bandBits), s"bandBits: $bandBits")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    sig.select(col("doc_id"), col("frame_idx"), col("dhash"),
      posexplode(array((0 until nBands).map(bi =>
        shiftright(col("dhash"), bandBits * bi).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** The sig-level pair core over a (doc_id, frame_idx, dhash) table —
    * shared by the pair query, the apply and the sweep (ONE codec pass
    * each). */
  private[graft] def videoNearDupsFromSigs(sig: DataFrame, maxHamming: Int,
                                           maxBandOcc: Int,
                                           minFrames: Int,
                                           bandBits: Int = 8): DataFrame = {
    require(maxHamming < 64 / bandBits,
      s"banding at $bandBits bits is lossy beyond Hamming " +
        s"${64 / bandBits - 1} (requested $maxHamming)")
    val bands = videoBandedSigs(sig, bandBits)
    val hot = bands.groupBy(col("frame_idx"), col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBandOcc)
      .select(col("frame_idx"), col("band_idx"), col("band_val"))
    val live = bands.join(broadcast(hot),
      Seq("frame_idx", "band_idx", "band_val"), "left_anti")
    val framePairs = live.as("x").join(live.as("y"),
        col("x.frame_idx") === col("y.frame_idx")
          && col("x.band_idx") === col("y.band_idx")
          && col("x.band_val") === col("y.band_val")
          && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
        <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.frame_idx").as("frame_idx"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
    framePairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_close_frames"),
        sum(col("hamming")).as("sum_hamming"))
      .filter(col("n_close_frames") >= minFrames)
  }

  /** GROUPED-KEY frame-ALIGNED pair core — the l146 lever on the
    * aligned plane (round 19, completing the switch's coverage: every
    * scheduled sig-level candidate generator consults it): bucket key
    * = (frame_idx, table_id, tkey), so the per-frame pigeonhole
    * guarantee carries verbatim (≤ 4 per-frame errors leave an
    * untouched group pair whose table matches at that frame); same
    * per-frame hot guard, verify and ≥ minFrames fold as the banded
    * form; byte-equal to it within the shared lossless radius
    * (LlmSpec pin). */
  private[graft] def videoNearDupsGroupedFromSigs(sig: DataFrame,
                                                  maxHamming: Int,
                                                  maxTableOcc: Int,
                                                  minFrames: Int)
      : DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming): 5 errors can touch 5 of the 6 groups, leaving " +
        "no untouched pair")
    val keyed = sigGroupKeyed(sig.select(col("doc_id"), col("frame_idx"),
      col("dhash")))
    val hot = keyed.groupBy(col("frame_idx"), col("table_id"), col("tkey"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxTableOcc)
      .select(col("frame_idx"), col("table_id"), col("tkey"))
    val live = keyed.join(broadcast(hot),
      Seq("frame_idx", "table_id", "tkey"), "left_anti")
    val framePairs = live.as("x").join(live.as("y"),
        col("x.frame_idx") === col("y.frame_idx")
          && col("x.table_id") === col("y.table_id")
          && col("x.tkey") === col("y.tkey")
          && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
        <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.frame_idx").as("frame_idx"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
    framePairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_close_frames"),
        sum(col("hamming")).as("sum_hamming"))
      .filter(col("n_close_frames") >= minFrames)
  }

  /** Scheduled candidate path for the frame-ALIGNED plane: band width
    * from the CLIP count (per-(frame, band) occupancy grows with
    * clips) while the ladder holds; grouped keys past its end. The
    * dispatcher twin of `frameOffsetPairsScheduled`. */
  private[graft] def videoAlignedPairsScheduled(sig: DataFrame,
                                                maxHamming: Int,
                                                maxBucketOcc: Int,
                                                minFrames: Int,
                                                targetOcc: Long = 64L,
                                                guardTargetRecall:
                                                  Option[Double] = None)
      : DataFrame = {
    // calibrated cap (round-19 directive #1): priced by the shared
    // frame-plane sweep core in ALIGNED mode — per-(frame, key)
    // buckets, zero displacement, the l133/l134 fold
    val cap = guardTargetRecall.map(r =>
      frameGuardCapCalibrated(sig, maxHamming, minFrames, maxOffset = 0,
        aligned = true, targetRecall = r, targetOcc = targetOcc))
      .getOrElse(maxBucketOcc)
    val nClips = sig.select(col("doc_id")).distinct().count()
    if (KnobSchedule.dhashUseGroupedKeys(nClips, maxHamming, targetOcc))
      videoNearDupsGroupedFromSigs(sig, maxHamming, cap, minFrames)
    else
      videoNearDupsFromSigs(sig, maxHamming, cap, minFrames,
        KnobSchedule.dhashBandBits(nClips, maxHamming, targetOcc))
  }

  /** Exact-SEQUENCE pre-collapse (the l125/l128 discipline on the frame
    * plane): videos whose complete ordered per-frame hash vector is
    * identical are exact re-posts — collapse each group to its min-id
    * representative by vector EQUALITY, so a viral clip's million
    * copies enter any downstream closure as ONE node and are immune to
    * every hot-band guard. The vector is ≤ the bounded frame count — a
    * bounded group key, not the O(multiplicity) row the member-table
    * discipline bans. Returns the representatives' signature rows.
    *
    * repartition BEFORE the vector fold: the collect_list partial-agg
    * buffer is BinaryType, and pre-partitioning on doc_id makes the
    * aggregation run complete-in-stage, so the one exchange carries
    * raw (doc_id, frame_idx, dhash) longs (PlanSpec binary sweep) —
    * map-side combine buys nothing on <= frame-count groups anyway. */
  private[graft] def videoSeqReps(sig: DataFrame): DataFrame = {
    val reps = sig.repartition(col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("dhash"))))
        .as("sv"))
      .groupBy(col("sv")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    sig.join(reps, Seq("doc_id"), "left_semi")
  }

  /** VIDEO dedup APPLY — the l125/l128 shape on the frame-sequence
    * plane: near-dup pairs (≥ minFrames aligned close frames) →
    * connected components → keep each cluster's minimum doc_id →
    * anti-join; output the surviving (doc_id, n_frames). Exact re-posts
    * are byte-identical per frame, so every aligned frame verifies at
    * Hamming 0 and the pair passes any minFrames ≤ frame count. */
  def videoDedupApply(spark: SparkSession, docs: DataFrame,
                      maxHamming: Int = 2, maxBandOcc: Int = 500,
                      minFrames: Int = 2): DataFrame = {
    val sig = videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val repSig = videoSeqReps(sig).localCheckpoint()
    val pairs = videoNearDupsFromSigs(repSig, maxHamming, maxBandOcc,
        minFrames)
      .select(col("doc_a"), col("doc_b"))
    val losers = Dedup.nearDupClustersAuto(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    repSig.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** PRODUCTION video dedup apply — band width SCHEDULED from the
    * collapsed representative count via `KnobSchedule.dhashBandBits`
    * (the per-frame bucket collision algebra is the same n²/2^bits as
    * the single-signature planes: each (frame, band) bucket's
    * occupancy grows with the CLIP count), switching to the l146
    * grouped keys past the ladder's end (`videoAlignedPairsScheduled`,
    * round 19); blob-level, byte-equal to `videoDedupApply` wherever
    * the schedule resolves to 8 bits, and across the switch within the
    * shared lossless radius (LlmSpec). */
  def videoDedupApplyAuto(spark: SparkSession, blobs: DataFrame,
                          maxHamming: Int = 2, maxBandOcc: Int = 500,
                          minFrames: Int = 2,
                          targetOcc: Long = 64L,
                          guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = videoFrameHashes(spark, blobs).toDF().localCheckpoint()
    val repSig = videoSeqReps(sig).localCheckpoint()
    val pairs = videoAlignedPairsScheduled(repSig, maxHamming, maxBandOcc,
        minFrames, targetOcc, guardTargetRecall)
      .select(col("doc_a"), col("doc_b"))
    val losers = Dedup.nearDupClustersAuto(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    repSig.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** VIDEO band-width/guard sweep — the l126/l131 knob-pricing table on
    * the frame plane: per (band_bits, max_band_occ) config, hot
    * (frame, band) buckets and verified PAIR count (≥ minFrames aligned
    * close frames) next to the widest-lossless unguarded truth leg;
    * recall = the fraction of true pairs the guard sacrifices at that
    * width. One synth+hash pass shared by every leg. */
  def videoBandSweep(spark: SparkSession, docs: DataFrame,
                     maxHamming: Int = 2, minFrames: Int = 2,
                     configs: Seq[(Int, Int)] =
                       Seq((8, 500), (16, 500), (16, 1 << 30))): DataFrame = {
    val widest = Seq(8, 16, 32).filter(b => 64 / b > maxHamming).max
    val (tBits, tCap) = configs.last
    require(tBits == widest && tCap >= (1 << 30),
      s"configs.last must be the unguarded truth leg ($widest bits, " +
        s"cap >= 2^30); got ($tBits, $tCap)")
    val sig = videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val legs = configs.map { case (bits, cap) =>
      val nHot = videoBandedSigs(sig, bits)
        .groupBy(col("frame_idx"), col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > cap)
        .agg(count(lit(1)).as("n_hot_buckets"))
      val nPairs = videoNearDupsFromSigs(sig, maxHamming, cap, minFrames,
          bits)
        .agg(count(lit(1)).as("n_pairs"))
      nHot.crossJoin(nPairs)
        .select(lit(bits).cast(LongType).as("band_bits"),
          lit(cap).cast(LongType).as("max_band_occ"),
          col("n_hot_buckets"), col("n_pairs"))
    }
    val all = legs.reduce(_ unionByName _)
    val truth = all.filter(col("band_bits") === tBits
        && col("max_band_occ") === tCap)
      .select(col("n_pairs").as("n_truth"))
    all.crossJoin(broadcast(truth))
      .select(col("band_bits"), col("max_band_occ"),
        col("n_hot_buckets"), col("n_pairs"), col("n_truth"),
        when(col("n_truth") === 0, lit(Double.NaN))
          .otherwise(col("n_pairs").cast(DoubleType)
            / col("n_truth").cast(DoubleType)).as("recall"))
  }

  /** L136 — OFFSET-tolerant video near-dup pairs: the trimmed-re-edit
    * class l133's frame-ALIGNED key is conservative about (a clip
    * re-posted with its intro cut is the same content shifted by a few
    * frames — no aligned frame matches, so the aligned pair table is
    * blind to it). Candidates join on the hash bands alone — frame-BLIND
    * banding — and keep matches whose frame displacement sits within
    * ±maxOffset; the verdict is per (pair, frame_offset): the count of
    * close frames at that displacement and the exact summed Hamming. A
    * trim by o frames surfaces as a full-overlap row at offset −o (or
    * +o, by id order). At 100 TB: the frame-blind bucket's occupancy
    * grows by the BOUNDED frame-sample count (never payload size) and
    * the hot-bucket guard caps it; candidate volume multiplies by the
    * (2·maxOffset+1) displacement window — a knob, not a data size. */
  def videoOffsetNearDups(spark: SparkSession, docs: DataFrame,
                          maxHamming: Int = 2, maxBandOcc: Int = 500,
                          minFrames: Int = 1, maxOffset: Int = 1): DataFrame =
    videoOffsetNearDupsFromBlobs(spark,
      encodeVideo(spark, docs).toDF(), maxHamming, maxBandOcc, minFrames,
      maxOffset)

  /** Blob-level form of `videoOffsetNearDups` — what a real media lake
    * calls (the payloads already exist). */
  def videoOffsetNearDupsFromBlobs(spark: SparkSession, blobs: DataFrame,
                                   maxHamming: Int = 2, maxBandOcc: Int = 500,
                                   minFrames: Int = 1, maxOffset: Int = 1)
      : DataFrame =
    videoOffsetNearDupsFromSigs(
      videoFrameHashes(spark, blobs).toDF().localCheckpoint(),
      maxHamming, maxBandOcc, minFrames, maxOffset)

  /** The sig-level offset-pair core: frame-BLIND banding (bucket key =
    * (band_idx, band_val) — a probe can meet ANY frame of a candidate
    * clip), hot-bucket guard over the frame-blind occupancy, displacement
    * window filter, per-frame Hamming verify, then the per-(pair, offset)
    * fold. */
  private[graft] def videoOffsetNearDupsFromSigs(sig: DataFrame,
                                                 maxHamming: Int,
                                                 maxBandOcc: Int,
                                                 minFrames: Int,
                                                 maxOffset: Int,
                                                 bandBits: Int = 8)
      : DataFrame = {
    require(maxHamming < 64 / bandBits,
      s"banding at $bandBits bits is lossy beyond Hamming " +
        s"${64 / bandBits - 1} (requested $maxHamming)")
    frameOffsetPairsFromKeyed(
      videoBandedSigs(sig, bandBits)
        .withColumnRenamed("band_idx", "bkt_id")
        .withColumnRenamed("band_val", "bkt_key"),
      maxHamming, maxBandOcc, minFrames, maxOffset)
  }

  /** GROUPED-KEY offset-pair core — the l146 Manku paired-group lever
    * on the frame-blind plane (round-18 directive #1): frame-blind
    * buckets collide on CLIPS × FRAMES rows, so this plane hits the
    * band ladder's occupancy wall FIRST; past it, the 15 paired-group
    * tables' 21–22-bit keys shrink buckets 32–64× at a lossless radius
    * of 4 (≤ 4 per-frame errors touch ≤ 4 of the 6 groups — some pair
    * of groups is untouched and its table matches exactly, per frame
    * pair). Same guard/displacement/verify/fold shape as the banded
    * form; byte-equal to it within the shared lossless radius
    * (LlmSpec pin). */
  private[graft] def videoOffsetNearDupsGroupedFromSigs(sig: DataFrame,
                                                        maxHamming: Int,
                                                        maxTableOcc: Int,
                                                        minFrames: Int,
                                                        maxOffset: Int)
      : DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming): 5 errors can touch 5 of the 6 groups, leaving " +
        "no untouched pair")
    frameOffsetPairsFromKeyed(
      sigGroupKeyed(sig.select(col("doc_id"), col("frame_idx"),
          col("dhash")))
        .withColumnRenamed("table_id", "bkt_id")
        .withColumnRenamed("tkey", "bkt_key"),
      maxHamming, maxTableOcc, minFrames, maxOffset)
  }

  /** The keyed offset-pair machinery shared by the banded and grouped
    * frontends: hot-bucket guard over the frame-blind (bkt_id, bkt_key)
    * occupancy, displacement-window candidate join, per-frame Hamming
    * verify, per-(pair, offset) fold. */
  private def frameOffsetPairsFromKeyed(keyed: DataFrame, maxHamming: Int,
                                        maxBucketOcc: Int, minFrames: Int,
                                        maxOffset: Int): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0: $maxOffset")
    val hot = keyed.groupBy(col("bkt_id"), col("bkt_key"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBucketOcc)
      .select(col("bkt_id"), col("bkt_key"))
    val live = keyed.join(broadcast(hot),
      Seq("bkt_id", "bkt_key"), "left_anti")
    val disp = col("y.frame_idx") - col("x.frame_idx")
    val framePairs = live.as("x").join(live.as("y"),
        col("x.bkt_id") === col("y.bkt_id")
          && col("x.bkt_key") === col("y.bkt_key")
          && col("x.doc_id") < col("y.doc_id")
          && disp.between(-maxOffset, maxOffset))
      .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
        <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        disp.cast(LongType).as("frame_offset"),
        col("x.frame_idx").as("frame_idx"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
    framePairs.groupBy(col("doc_a"), col("doc_b"), col("frame_offset"))
      .agg(count(lit(1)).as("n_close_frames"),
        sum(col("hamming")).as("sum_hamming"))
      .filter(col("n_close_frames") >= minFrames)
  }

  /** Scheduled candidate path for every frame-blind offset core: band
    * width from the sig-ROW count while the ladder holds; past its end
    * (`KnobSchedule.dhashUseGroupedKeys` — widest lossless width still
    * over target occupancy) candidate generation switches to the l146
    * paired-group keys (round-18 directive #1). The frame-blind planes
    * hit the occupancy wall FIRST of all the perceptual planes: their
    * collision unit is clips × frames rows, so at a bounded frame
    * sample they cross the ~4.2M-row threshold at ~64× fewer CLIPS
    * than the single-signature planes. `maxBucketOcc` caps whichever
    * bucket family is active (band buckets or paired-group tables). */
  private[graft] def frameOffsetPairsScheduled(sig: DataFrame,
                                               maxHamming: Int,
                                               maxBucketOcc: Int,
                                               minFrames: Int,
                                               maxOffset: Int,
                                               targetOcc: Long = 64L,
                                               guardTargetRecall:
                                                 Option[Double] = None)
      : DataFrame = {
    // calibrated cap (round-19 directive #1): priced by the frame-plane
    // sweep in the production offset currency — this is the plane whose
    // constant cap 500 measurably cost recall in the round-19 receipts
    val cap = guardTargetRecall.map(r =>
      frameGuardCapCalibrated(sig, maxHamming, minFrames, maxOffset,
        aligned = false, targetRecall = r, targetOcc = targetOcc))
      .getOrElse(maxBucketOcc)
    val n = sig.count()
    if (KnobSchedule.dhashUseGroupedKeys(n, maxHamming, targetOcc))
      videoOffsetNearDupsGroupedFromSigs(sig, maxHamming, cap,
        minFrames, maxOffset)
    else
      videoOffsetNearDupsFromSigs(sig, maxHamming, cap, minFrames,
        maxOffset, KnobSchedule.dhashBandBits(n, maxHamming, targetOcc))
  }

  /** PRODUCTION offset-pair twin — band width SCHEDULED from the sig
    * ROW count (doc × frame): the frame-BLIND bucket's occupancy grows
    * with clips × frames, not clips alone, so the schedule's collision
    * unit is the signature row (`dhashBandBits`'s n²/2^bits algebra,
    * same 64-bit geometry); past the ladder's end candidate generation
    * switches to the l146 paired-group keys
    * (`frameOffsetPairsScheduled`). Byte-equal to the fixed form
    * wherever the schedule resolves to 8 bits (LlmSpec). */
  def videoOffsetNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                              maxHamming: Int = 2, maxBandOcc: Int = 500,
                              minFrames: Int = 1, maxOffset: Int = 1,
                              guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = videoFrameHashes(spark, blobs).toDF().localCheckpoint()
    frameOffsetPairsScheduled(sig, maxHamming, maxBandOcc, minFrames,
      maxOffset, guardTargetRecall = guardTargetRecall)
  }

  /** L138 — OFFSET-tolerant VIDEO dedup APPLY: the l134 shape over the
    * l136 pair semantics — the deduplicated store a video lake actually
    * wants, where a trimmed re-edit collapses into its source's cluster
    * instead of surviving as a "new" clip. Exact-SEQUENCE pre-collapse
    * (identical ordered frame-hash vectors are full-overlap offset-0
    * matches — one min-id rep per vector, found by EQUALITY so the
    * frame-blind hot-bucket guard can never sever an exact-re-post
    * clique) → offset pairs among reps (≥ minFrames close frames at a
    * SINGLE displacement — one coherent temporal shift, not scattered
    * coincidences) → connected-components transitive closure → keep
    * each cluster's minimum doc_id → anti-join; output the surviving
    * (doc_id, n_frames). */
  def videoOffsetDedupApply(spark: SparkSession, docs: DataFrame,
                            maxHamming: Int = 2, maxBandOcc: Int = 500,
                            minFrames: Int = 2, maxOffset: Int = 1)
      : DataFrame =
    videoOffsetDedupApplyFromBlobs(spark, encodeVideo(spark, docs).toDF(),
      maxHamming, maxBandOcc, minFrames, maxOffset, bandBits = Some(8))

  /** PRODUCTION offset-apply twin — band width SCHEDULED from the
    * collapsed representatives' SIG-ROW count (the frame-blind collision
    * unit, as in `videoOffsetNearDupsAuto`); byte-equal to the fixed
    * form wherever the schedule resolves to 8 bits (LlmSpec). */
  def videoOffsetDedupApplyAuto(spark: SparkSession, blobs: DataFrame,
                                maxHamming: Int = 2, maxBandOcc: Int = 500,
                                minFrames: Int = 2, maxOffset: Int = 1,
                                guardTargetRecall: Option[Double] = None)
      : DataFrame =
    videoOffsetDedupApplyFromBlobs(spark, blobs, maxHamming, maxBandOcc,
      minFrames, maxOffset, bandBits = None,
      guardTargetRecall = guardTargetRecall)

  // bandBits follows the sigDedupApply convention everywhere: None =
  // scheduled from the collapsed reps' sig-row count (incl. the l146
  // grouped-key switch past the ladder's end), Some(b) = fixed b.
  private def videoOffsetDedupApplyFromBlobs(spark: SparkSession,
                                             blobs: DataFrame,
                                             maxHamming: Int,
                                             maxBandOcc: Int,
                                             minFrames: Int, maxOffset: Int,
                                             bandBits: Option[Int],
                                             guardTargetRecall:
                                               Option[Double] = None)
      : DataFrame = {
    val sig = videoFrameHashes(spark, blobs).toDF().localCheckpoint()
    val repSig = videoSeqReps(sig).localCheckpoint()
    val pairs = (bandBits match {
      case Some(b) => videoOffsetNearDupsFromSigs(repSig, maxHamming,
        maxBandOcc, minFrames, maxOffset, b)
      case None => frameOffsetPairsScheduled(repSig, maxHamming, maxBandOcc,
        minFrames, maxOffset, guardTargetRecall = guardTargetRecall)
    }).select(col("doc_a"), col("doc_b")).distinct()
    val losers = Dedup.nearDupClustersAuto(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    repSig.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------- audio window fingerprints

  /** One audio WINDOW's 64-bit fingerprint row: the l127 gradient-sign
    * machinery applied to a fixed ABSOLUTE window of 65 samples (one
    * envelope slot per sample) instead of the whole clip's relative
    * 65-chunk envelope. Fixed windows are what make TRIMS detectable:
    * the clip-level envelope re-chunks relative to clip length, so any
    * trim scrambles every chunk — window w of a clip trimmed by exactly
    * one window IS window w+1 of the source, bit for bit. */
  final case class AudioWindowSig(doc_id: Long, win_idx: Int, dhash: Long)

  /** Per-window audio fingerprints at the codec boundary: window w
    * covers samples [65w, 65w+65); hash bit b = (|s[65w+b]| >
    * |s[65w+b+1]|) — gain-SIGN-invariant like l127 (|·| of a uniformly
    * scaled signal scales, signs of differences hold). Clips shorter
    * than one window emit NO rows (documented: sub-window clips carry
    * no fingerprint); a partial tail window is dropped — trims are
    * detected at window granularity. */
  def audioWindowHashes(spark: SparkSession, blobs: DataFrame)
      : Dataset[AudioWindowSig] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.flatMap { b =>
      val wav = parseWav(b.payload, b.doc_id)
      val nWin = wav.nSamples / 65
      (0 until nWin).iterator.map { w =>
        var dh = 0L
        var bix = 0
        while (bix < 64) {
          val a = math.abs(s16le(b.payload, wav.offset + 2 * (65 * w + bix))
            .toLong)
          val c = math.abs(s16le(b.payload,
            wav.offset + 2 * (65 * w + bix + 1)).toLong)
          if (a > c) dh |= 1L << bix
          bix += 1
        }
        AudioWindowSig(b.doc_id, w, dh)
      }
    })
  }

  /** The window-sig table in the frame-sig column shape the shared
    * frame-plane cores consume. */
  private def audioWindowFrameSigs(spark: SparkSession, blobs: DataFrame)
      : DataFrame =
    audioWindowHashes(spark, blobs).toDF()
      .select(col("doc_id"), col("win_idx").as("frame_idx"), col("dhash"))

  /** L143 — OFFSET-tolerant AUDIO near-dup pairs over the window
    * fingerprints: the l136 displacement-window semantics on the audio
    * plane — a clip re-uploaded with its head cut (at window
    * granularity) pairs with its source at the trim's displacement,
    * which the clip-level l127 hash is blind to (the relative envelope
    * re-chunks). The shared frame-plane offset core does the work; the
    * verdict is per (pair, win_offset): close-window count + exact
    * summed Hamming. */
  def audioOffsetNearDups(spark: SparkSession, docs: DataFrame,
                          maxHamming: Int = 2, maxBandOcc: Int = 500,
                          minWindows: Int = 1, maxOffset: Int = 1)
      : DataFrame =
    audioOffsetNearDupsFromBlobs(spark, encodeWav(spark, docs).toDF(),
      maxHamming, maxBandOcc, minWindows, maxOffset)

  /** Blob-level form of `audioOffsetNearDups`. */
  def audioOffsetNearDupsFromBlobs(spark: SparkSession, blobs: DataFrame,
                                   maxHamming: Int = 2,
                                   maxBandOcc: Int = 500,
                                   minWindows: Int = 1, maxOffset: Int = 1)
      : DataFrame =
    videoOffsetNearDupsFromSigs(
      audioWindowFrameSigs(spark, blobs).localCheckpoint(),
      maxHamming, maxBandOcc, minWindows, maxOffset)
      .withColumnRenamed("frame_offset", "win_offset")
      .withColumnRenamed("n_close_frames", "n_close_windows")

  /** PRODUCTION twin — band width scheduled from the window-sig ROW
    * count (the frame-blind collision unit, as in
    * `videoOffsetNearDupsAuto`), switching to the l146 paired-group
    * keys past the ladder's end (`frameOffsetPairsScheduled`). */
  def audioOffsetNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                              maxHamming: Int = 2, maxBandOcc: Int = 500,
                              minWindows: Int = 1, maxOffset: Int = 1,
                              guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = audioWindowFrameSigs(spark, blobs).localCheckpoint()
    frameOffsetPairsScheduled(sig, maxHamming, maxBandOcc, minWindows,
      maxOffset, guardTargetRecall = guardTargetRecall)
      .withColumnRenamed("frame_offset", "win_offset")
      .withColumnRenamed("n_close_frames", "n_close_windows")
  }

  /** L144 — AUDIO head-trim, payload→payload (the audio twin of l137's
    * video head-trim, the crop augmentation, and the l143 fixtures'
    * generator): drop the first `nSamples` samples (clamped to keep at
    * least one — the encoder's own empty-text convention), re-emit a
    * canonical 44-byte-header PCM16 mono WAV. A zero-sample input
    * (spec-valid per `parseWav`: dataLen = 0) passes through as a
    * zero-sample canonical WAV — there is nothing to trim, and the
    * unclamped arithmetic would otherwise read 2 bytes BEFORE the data
    * chunk (the size field) as a phantom sample. */
  def audioTrimHeadContainer(spark: SparkSession, blobs: DataFrame,
                             nSamples: Int = 65): Dataset[BlobRow] = {
    require(nSamples >= 0, s"audioTrimHeadContainer: nSamples ($nSamples)" +
      " must be >= 0")
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val wav = parseWav(b.payload, b.doc_id)
      val t = math.max(0, math.min(nSamples, wav.nSamples - 1))
      val n = wav.nSamples - t
      val dataSize = 2 * n
      val out = new Array[Byte](44 + dataSize)
      def le32(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte
        out(off + 1) = ((v >> 8) & 0xff).toByte
        out(off + 2) = ((v >> 16) & 0xff).toByte
        out(off + 3) = ((v >> 24) & 0xff).toByte
      }
      def le16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte
        out(off + 1) = ((v >> 8) & 0xff).toByte
      }
      def tag(off: Int, s: String): Unit = {
        val bs = s.getBytes(StandardCharsets.US_ASCII)
        System.arraycopy(bs, 0, out, off, 4)
      }
      tag(0, "RIFF"); le32(4, 36 + dataSize); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16)
      le16(20, 1); le16(22, 1)
      le32(24, wav.sampleRate); le32(28, wav.sampleRate * 2)
      le16(32, 2); le16(34, 16)
      tag(36, "data"); le32(40, dataSize)
      System.arraycopy(b.payload, wav.offset + 2 * t, out, 44, dataSize)
      BlobRow(b.doc_id, out)
    })
  }

  /** L145 — OFFSET-tolerant AUDIO dedup APPLY over the window
    * fingerprints: exact window-VECTOR pre-collapse (clips with the
    * same ordered fingerprint vector are indistinguishable at window
    * granularity — one min-id rep, guard-immune) → offset pairs among
    * reps (≥ minWindows close windows at a SINGLE displacement) → CC →
    * keep-min → anti-join. Clips shorter than one window carry no
    * fingerprint and are ALWAYS kept (n_windows = 0) — never silently
    * dropped. */
  def audioOffsetDedupApply(spark: SparkSession, docs: DataFrame,
                            maxHamming: Int = 2, maxBandOcc: Int = 500,
                            minWindows: Int = 1, maxOffset: Int = 1)
      : DataFrame =
    audioOffsetDedupApplyFromBlobs(spark, encodeWav(spark, docs).toDF(),
      maxHamming, maxBandOcc, minWindows, maxOffset, bandBits = Some(8))

  /** PRODUCTION twin — scheduled band width from the collapsed reps'
    * window-row count. */
  def audioOffsetDedupApplyAuto(spark: SparkSession, blobs: DataFrame,
                                maxHamming: Int = 2, maxBandOcc: Int = 500,
                                minWindows: Int = 1, maxOffset: Int = 1,
                                guardTargetRecall: Option[Double] = None)
      : DataFrame =
    audioOffsetDedupApplyFromBlobs(spark, blobs, maxHamming, maxBandOcc,
      minWindows, maxOffset, bandBits = None,
      guardTargetRecall = guardTargetRecall)

  // bandBits: the sigDedupApply convention — None = scheduled (incl.
  // the l146 grouped-key switch), Some(b) = fixed b (same as the video
  // offset apply above).
  private def audioOffsetDedupApplyFromBlobs(spark: SparkSession,
                                             blobs: DataFrame,
                                             maxHamming: Int,
                                             maxBandOcc: Int,
                                             minWindows: Int,
                                             maxOffset: Int,
                                             bandBits: Option[Int],
                                             guardTargetRecall:
                                               Option[Double] = None)
      : DataFrame = {
    val allDocs = blobs.select(col("doc_id")).distinct().localCheckpoint()
    val sig = audioWindowFrameSigs(spark, blobs).localCheckpoint()
    val repSig = videoSeqReps(sig).localCheckpoint()
    val pairs = (bandBits match {
      case Some(b) => videoOffsetNearDupsFromSigs(repSig, maxHamming,
        maxBandOcc, minWindows, maxOffset, b)
      case None => frameOffsetPairsScheduled(repSig, maxHamming, maxBandOcc,
        minWindows, maxOffset, guardTargetRecall = guardTargetRecall)
    }).select(col("doc_a"), col("doc_b")).distinct()
    val ccLosers = Dedup.nearDupClustersAuto(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    // collapsed non-reps are losers too (their rep carries the cluster);
    // sub-window clips have no sig rows and never appear in either set
    val collapsedLosers = sig.select(col("doc_id")).distinct()
      .join(repSig.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    val losers = ccLosers.unionByName(collapsedLosers).distinct()
    val counts = sig.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    allDocs.join(losers, Seq("doc_id"), "left_anti")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"))
  }

  /** L147 — video OFFSET-WINDOW sweep: the l126-family knob-pricing
    * table for the DISPLACEMENT window (the offset planes' own knob,
    * completing their ladder: pairs l136 → apply l138 → streaming S43 →
    * this): per maxOffset config, the per-(pair, offset) verdict-row
    * count and the DISTINCT pair count next to the widest-window truth
    * leg; recall = the fraction of widest-window pairs a narrower
    * window reaches. Candidate volume grows linearly in
    * (2·maxOffset+1) — this table is what prices that knob before a
    * deploy fixes it. One synth+hash pass shared by every leg. */
  def videoOffsetSweep(spark: SparkSession, docs: DataFrame,
                       maxHamming: Int = 2, maxBandOcc: Int = 500,
                       minFrames: Int = 1,
                       offsets: Seq[Int] = Seq(0, 1, 2)): DataFrame =
    frameSigOffsetSweep(
      videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF()
        .localCheckpoint(),
      maxHamming, maxBandOcc, minFrames, offsets)

  /** L148 — audio offset-window sweep: l147's twin on the window-
    * fingerprint plane, through the same modality-neutral core. */
  def audioOffsetSweep(spark: SparkSession, docs: DataFrame,
                       maxHamming: Int = 2, maxBandOcc: Int = 500,
                       minWindows: Int = 1,
                       offsets: Seq[Int] = Seq(0, 1, 2)): DataFrame =
    frameSigOffsetSweep(
      audioWindowFrameSigs(spark,
        encodeWav(spark, docs).toDF()).localCheckpoint(),
      maxHamming, maxBandOcc, minWindows, offsets)

  /** The modality-neutral offset-window sweep core: ONE pair pass at
    * the maximal window serves every leg (the l98/l120 shared-pass
    * discipline — round-18 review finding #1: per-leg passes waste
    * (|offsets|−1)/|offsets| of the candidate-join work, linearly in a
    * wide production ladder). Sound because the displacement window is
    * a pure FILTER on the per-(pair, offset) row table: candidate
    * generation is frame-blind (bucket keys ignore frame_idx), the hot
    * guard is occupancy-only, and the ≥ minFrames fold is per
    * displacement — so rows(o) ≡ rows(o_max) WHERE |offset| ≤ o, row
    * for row. Per config, two aggregates over the one checkpointed row
    * table, assembled by broadcast 1-row crossJoins (the l28/l126
    * shape). `offsets` must be strictly ascending — the LAST config is
    * the truth leg the recall column divides by (pair sets are monotone
    * in the window, so the denominator is a superset by construction). */
  private[graft] def frameSigOffsetSweep(sig: DataFrame, maxHamming: Int,
                                         maxBandOcc: Int, minFrames: Int,
                                         offsets: Seq[Int]): DataFrame = {
    require(offsets.nonEmpty && offsets == offsets.sorted
        && offsets.distinct == offsets,
      s"offsets must be strictly ascending (the last is the truth leg): " +
        s"$offsets")
    val maxRows = videoOffsetNearDupsFromSigs(sig, maxHamming, maxBandOcc,
      minFrames, offsets.last).localCheckpoint()
    val legs = offsets.map { o =>
      val rows = maxRows.filter(abs(col("frame_offset")) <= o)
      val nRows = rows.agg(count(lit(1)).as("n_offset_rows"))
      val nPairs = rows.select(col("doc_a"), col("doc_b")).distinct()
        .agg(count(lit(1)).as("n_pairs"))
      nRows.crossJoin(broadcast(nPairs))
        .select(lit(o.toLong).as("max_offset"),
          col("n_offset_rows"), col("n_pairs"))
    }
    val all = legs.reduce(_ unionByName _)
    val truth = all.filter(col("max_offset") === offsets.last.toLong)
      .select(col("n_pairs").as("n_truth"))
    all.crossJoin(broadcast(truth))
      .select(col("max_offset"), col("n_offset_rows"), col("n_pairs"),
        col("n_truth"),
        when(col("n_truth") === 0, lit(Double.NaN))
          .otherwise(col("n_pairs").cast(DoubleType)
            / col("n_truth").cast(DoubleType)).as("recall"))
  }

  /** L137 — TEMPORAL frame-sample, payload→payload (the video twin of
    * `resize`/`resample`/`frameSample`, completing the transform family
    * across every payload modality): keep frames `from`, `from+stride`,
    * `from+2·stride`, … of each GV1 container and re-emit a spec-valid
    * GV1 container (canonical headers, raster bytes copied verbatim) —
    * the standard vision-LM pre-training move (train on every k-th
    * frame). `from = 1, stride = 1` is a head-trim — the fixture
    * generator for the l136 offset detector. Same mapPartitions
    * codec-boundary contract as every media stage: payloads never cross
    * an exchange, the output feeds any downstream decode unchanged. */
  def videoFrameSampleContainer(spark: SparkSession, blobs: DataFrame,
                                stride: Int = 2, from: Int = 0)
      : Dataset[BlobRow] = {
    require(stride >= 1, s"videoFrameSampleContainer: stride ($stride) " +
      "must be >= 1")
    require(from >= 0, s"videoFrameSampleContainer: from ($from) " +
      "must be >= 0")
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val frames = parseVideo(b.payload, b.doc_id)
      val kept = frames.zipWithIndex.collect {
        case (fr, idx) if idx >= from && (idx - from) % stride == 0 => fr
      }
      if (kept.isEmpty)
        throw new IllegalArgumentException(s"doc ${b.doc_id}: frame sample " +
          s"(from=$from, stride=$stride) keeps none of ${frames.length} " +
          "frames")
      val vHdr = s"GV1\n${kept.length}\n".getBytes(StandardCharsets.US_ASCII)
      val parts = kept.map { fr =>
        val hdr = s"P6\n${fr.width} ${fr.height}\n255\n"
          .getBytes(StandardCharsets.US_ASCII)
        (hdr, fr.offset, fr.width * fr.height * 3)
      }
      val out = new Array[Byte](vHdr.length
        + parts.map(p => p._1.length + p._3).sum)
      System.arraycopy(vHdr, 0, out, 0, vHdr.length)
      var off = vHdr.length
      parts.foreach { case (hdr, rOff, rLen) =>
        System.arraycopy(hdr, 0, out, off, hdr.length)
        off += hdr.length
        System.arraycopy(b.payload, rOff, out, off, rLen)
        off += rLen
      }
      BlobRow(b.doc_id, out)
    })
  }

  // ------------------------------------------------------------- audio

  /** Typed features the audio decoder emits per payload: container size,
    * header sample rate, sample count, and exact integer sample stats
    * (sum, min, max, Σs² energy — all LONG, aggregation-order free);
    * mean_amp is the exact sum over one division. */
  final case class AudioFeatures(
      doc_id: Long, n_bytes: Long, sample_rate: Long, n_samples: Long,
      sum_s: Long, min_s: Long, max_s: Long, energy: Long, mean_amp: Double)

  /** Deterministic 16-bit PCM mono WAV payload per document — the audio
    * twin of `encodePpm`, and the same oracle trick: the derivation is
    * pure byte arithmetic over the text (n = 1 + (first·31 + last) % 200
    * samples at 8 kHz; sample k = signed16(text[k % len] << 8 |
    * text[(k+5) % len]); empty/null text → one zero sample), so the
    * DuckDB side regenerates the same samples in SQL and replays the
    * decode exactly. The container is a REAL RIFF/WAVE file — canonical
    * 44-byte header (PCM fmt chunk + data chunk), playable by any audio
    * tool. */
  def encodeWav(spark: SparkSession, docs: DataFrame): Dataset[BlobRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes =
          if (text == null) Array.empty[Byte]
          else text.getBytes(StandardCharsets.UTF_8)
        val len = bytes.length
        val n =
          if (len == 0) 1
          else 1 + ((bytes(0) & 0xff) * 31 + (bytes(len - 1) & 0xff)) % 200
        val sampleRate = 8000
        val dataSize = 2 * n
        val out = new Array[Byte](44 + dataSize)
        def le32(off: Int, v: Int): Unit = {
          out(off) = (v & 0xff).toByte
          out(off + 1) = ((v >> 8) & 0xff).toByte
          out(off + 2) = ((v >> 16) & 0xff).toByte
          out(off + 3) = ((v >> 24) & 0xff).toByte
        }
        def le16(off: Int, v: Int): Unit = {
          out(off) = (v & 0xff).toByte
          out(off + 1) = ((v >> 8) & 0xff).toByte
        }
        def tag(off: Int, s: String): Unit = {
          val b = s.getBytes(StandardCharsets.US_ASCII)
          System.arraycopy(b, 0, out, off, 4)
        }
        tag(0, "RIFF"); le32(4, 36 + dataSize); tag(8, "WAVE")
        tag(12, "fmt "); le32(16, 16)
        le16(20, 1) // PCM
        le16(22, 1) // mono
        le32(24, sampleRate)
        le32(28, sampleRate * 2) // byte rate
        le16(32, 2)  // block align
        le16(34, 16) // bits per sample
        tag(36, "data"); le32(40, dataSize)
        var k = 0
        while (k < n) {
          val s =
            if (len == 0) 0
            else {
              val u = ((bytes(k % len) & 0xff) << 8) | (bytes((k + 5) % len) & 0xff)
              if (u >= 32768) u - 65536 else u
            }
          le16(44 + 2 * k, s & 0xffff)
          k += 1
        }
        BlobRow(id, out)
      })
  }

  /** Parsed view of a PCM16 mono WAV: sample rate + the sample-plane
    * offset/count into the payload. */
  private final case class Wav(sampleRate: Int, offset: Int, nSamples: Int)

  /** The real RIFF/WAVE walk — magic + riff-size check, chunk iteration
    * with even-padding (unknown chunks like LIST/fact are SKIPPED, so any
    * spec-valid PCM16-mono file parses, not just the encoder's canonical
    * layout), fmt validation (PCM, mono, 16-bit), data chunk location.
    * Rejects everything else loudly with the doc id (the parsePpm
    * fail-fast contract). */
  private def parseWav(p: Array[Byte], docId: Long): Wav = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"doc $docId: invalid WAV — $why")
    def u32(off: Int): Long =
      if (off + 4 > p.length) fail(s"truncated at $off")
      else (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def u16(off: Int): Int =
      if (off + 2 > p.length) fail(s"truncated at $off")
      else (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    def tagAt(off: Int, s: String): Boolean =
      off + 4 <= p.length && (0 until 4).forall(i => p(off + i) == s.charAt(i))
    if (!tagAt(0, "RIFF")) fail("bad RIFF magic")
    if (u32(4) != p.length - 8) fail(s"riff size ${u32(4)} vs ${p.length - 8}")
    if (!tagAt(8, "WAVE")) fail("bad WAVE form type")
    var i = 12
    var sampleRate = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= p.length) {
      val size = u32(i + 4).toInt
      if (tagAt(i, "fmt ")) {
        if (size < 16) fail(s"fmt chunk too small ($size)")
        if (u16(i + 8) != 1) fail(s"not PCM (format ${u16(i + 8)})")
        if (u16(i + 10) != 1) fail(s"not mono (${u16(i + 10)} channels)")
        if (u16(i + 22) != 16) fail(s"not 16-bit (${u16(i + 22)})")
        sampleRate = u32(i + 12).toInt
      } else if (tagAt(i, "data")) {
        dataOff = i + 8
        dataLen = size
      }
      i += 8 + size + (size & 1) // chunks are even-padded
    }
    if (sampleRate <= 0) fail("no fmt chunk")
    if (dataOff < 0) fail("no data chunk")
    if (dataOff + dataLen > p.length) fail("data chunk overruns payload")
    if (dataLen % 2 != 0) fail(s"odd PCM16 data size $dataLen")
    Wav(sampleRate, dataOff, dataLen / 2)
  }

  /** Signed 16-bit little-endian sample at `off`. */
  private def s16le(p: Array[Byte], off: Int): Int = {
    val u = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    if (u >= 32768) u - 65536 else u
  }

  /** AUDIO DECODE + FEATURE stage: parse the container, compute exact
    * integer sample statistics (the embedding/transcription-model
    * stand-in — swap the stats loop for a model call and nothing else
    * changes). Same mapPartitions codec-boundary contract as the image
    * stages. */
  def audioFeatures(spark: SparkSession, blobs: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val wav = parseWav(b.payload, b.doc_id)
      var sum = 0L
      var energy = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var k = 0
      while (k < wav.nSamples) {
        val s = s16le(b.payload, wav.offset + 2 * k).toLong
        sum += s
        energy += s * s
        if (s < mn) mn = s
        if (s > mx) mx = s
        k += 1
      }
      AudioFeatures(b.doc_id, b.payload.length.toLong, wav.sampleRate.toLong,
        wav.nSamples.toLong, sum, mn, mx, energy,
        sum.toDouble / wav.nSamples.toDouble)
    })
  }

  /** RESAMPLE stage (the audio twin of `resize`): decimate by `factor` —
    * output sample j = input sample j·factor, ⌈n/factor⌉ samples at
    * sampleRate/factor — re-encoded as a VALID canonical WAV, so
    * `audioFeatures` composes on the output unchanged (tested). */
  def resample(spark: SparkSession, blobs: DataFrame, factor: Int = 2): Dataset[BlobRow] = {
    import spark.implicits._
    require(factor >= 1, s"resample factor must be >= 1: $factor")
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val wav = parseWav(b.payload, b.doc_id)
      val n2 = (wav.nSamples + factor - 1) / factor
      val rate2 = math.max(1, wav.sampleRate / factor)
      val dataSize = 2 * n2
      val out = new Array[Byte](44 + dataSize)
      def le32(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte
        out(off + 1) = ((v >> 8) & 0xff).toByte
        out(off + 2) = ((v >> 16) & 0xff).toByte
        out(off + 3) = ((v >> 24) & 0xff).toByte
      }
      def le16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte
        out(off + 1) = ((v >> 8) & 0xff).toByte
      }
      def tag(off: Int, s: String): Unit = {
        val bb = s.getBytes(StandardCharsets.US_ASCII)
        System.arraycopy(bb, 0, out, off, 4)
      }
      tag(0, "RIFF"); le32(4, 36 + dataSize); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
      le32(24, rate2); le32(28, rate2 * 2); le16(32, 2); le16(34, 16)
      tag(36, "data"); le32(40, dataSize)
      var j = 0
      while (j < n2) {
        val src = wav.offset + 2 * (j * factor)
        out(44 + 2 * j) = b.payload(src)
        out(44 + 2 * j + 1) = b.payload(src + 1)
        j += 1
      }
      BlobRow(b.doc_id, out)
    })
  }

  // ---------------------------------------------------- image near-dup

  /** Per-image perceptual signature: the 64-bit difference hash plus the
    * 9×8 grayscale grid it was read from (the grid is the exact ground
    * truth the hash approximates — kept for the estimator-audit column). */
  final case class ImageSig(doc_id: Long, dhash: Long, grid: Array[Int])

  /** 64-bit dHash (difference hash) at the codec boundary — the standard
    * perceptual image fingerprint: resample the decoded raster to a 9×8
    * grayscale grid (nearest-neighbor source pixel sx = ⌊gx·w/9⌋,
    * sy = ⌊gy·h/8⌋ — the `resize` stage's index arithmetic, so the
    * SQL oracle replays it; gray = r+g+b, an exact integer luminance
    * proxy: dHash compares adjacent cells, so any monotone channel
    * combination gives the same bits), then bit (gy·8+gx) is set iff
    * grid(gy,gx) > grid(gy,gx+1) — 8 horizontal gradient signs per row.
    * Gradient signs survive re-encoding, uniform brightness shifts and
    * (approximately) resizing — exactly the duplicate classes byte/text
    * dedup cannot see. Hamming distance between hashes is the duplicate
    * score. The hash computes INSIDE the blob's mapPartitions scan stage
    * (the l93 codec-boundary discipline): the payload never crosses an
    * exchange — 8 bytes of hash + 72 ints of grid do. */
  def dHash(spark: SparkSession, blobs: DataFrame): Dataset[ImageSig] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val (grid, dh) = gridHash(b.payload, img)
      ImageSig(b.doc_id, dh, grid)
    })
  }

  /** The 9×8 nearest-neighbor gray grid + horizontal gradient-sign hash
    * of one parsed raster (shared by the single-image dHash and the
    * per-frame video hash — the raster's location in the payload comes
    * from the parse, so a container frame hashes identically to the
    * same raster as a standalone P6). */
  private def gridHash(p: Array[Byte], img: Ppm): (Array[Int], Long) = {
    val grid = new Array[Int](72)
    var gy = 0
    while (gy < 8) {
      val sy = gy * img.height / 8
      var gx = 0
      while (gx < 9) {
        val sx = gx * img.width / 9
        val base = img.offset + (sy * img.width + sx) * 3
        grid(gy * 9 + gx) = (p(base) & 0xff) +
          (p(base + 1) & 0xff) + (p(base + 2) & 0xff)
        gx += 1
      }
      gy += 1
    }
    var dh = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (grid(by * 9 + bx) > grid(by * 9 + bx + 1))
          dh |= 1L << (by * 8 + bx)
        bx += 1
      }
      by += 1
    }
    (grid, dh)
  }

  /** The mirrored-orientation dHash of one parsed raster: the SAME 9×8
    * grid machinery sampling the horizontally flipped image — source
    * column w−1−⌊gx·w/9⌋ instead of ⌊gx·w/9⌋. Mirror is an exact
    * involution at the hash level: gridHash(flip(p)) ≡ mirrorGridHash(p)
    * and mirrorGridHash(flip(p)) ≡ gridHash(p), bit for bit — so
    * min(h, hm) is exactly flip-invariant (no resampling error, because
    * the flipped image's grid IS the original image sampled at mirrored
    * columns). */
  private def mirrorGridHash(p: Array[Byte], img: Ppm): Long = {
    val grid = new Array[Int](72)
    var gy = 0
    while (gy < 8) {
      val sy = gy * img.height / 8
      var gx = 0
      while (gx < 9) {
        val sx = img.width - 1 - gx * img.width / 9
        val base = img.offset + (sy * img.width + sx) * 3
        grid(gy * 9 + gx) = (p(base) & 0xff) +
          (p(base + 1) & 0xff) + (p(base + 2) & 0xff)
        gx += 1
      }
      gy += 1
    }
    var dh = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (grid(by * 9 + bx) > grid(by * 9 + bx + 1))
          dh |= 1L << (by * 8 + bx)
        bx += 1
      }
      by += 1
    }
    dh
  }

  /** Flip-canonical signature row: the signed-min of the two orientation
    * hashes, plus which orientation won (the audit bit). */
  final case class FlipSig(doc_id: Long, dhash: Long, flip: Boolean)

  /** Flip-CANONICAL dHash at the codec boundary: both orientation hashes
    * compute in one raster pass; the signature is their signed MIN (any
    * deterministic canonical choice works — min matches the oracle's
    * `CASE WHEN m < d`). A mirrored re-post canonicalizes to the SAME
    * signature as its source exactly. */
  def dHashFlipInvariant(spark: SparkSession, blobs: DataFrame)
      : Dataset[FlipSig] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val h = gridHash(b.payload, img)._2
      val hm = mirrorGridHash(b.payload, img)
      if (hm < h) FlipSig(b.doc_id, hm, flip = true)
      else FlipSig(b.doc_id, h, flip = false)
    })
  }

  /** L139 — HORIZONTAL FLIP, payload→payload (the classic vision-
    * training augmentation, and the evasion transform l140 exists to
    * catch): re-emit each P6 with every pixel row reversed (channels
    * kept in order), canonical header. An exact involution —
    * flip(flip(x)) is byte-identical to x (LlmSpec). Same mapPartitions
    * codec-boundary contract as every media stage. */
  def flipHorizontal(spark: SparkSession, blobs: DataFrame)
      : Dataset[BlobRow] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val img = parsePpm(b.payload, b.doc_id)
      val hdr = s"P6\n${img.width} ${img.height}\n255\n"
        .getBytes(StandardCharsets.US_ASCII)
      val out = new Array[Byte](hdr.length + img.width * img.height * 3)
      System.arraycopy(hdr, 0, out, 0, hdr.length)
      var y = 0
      while (y < img.height) {
        var x = 0
        while (x < img.width) {
          val src = img.offset + (y * img.width + (img.width - 1 - x)) * 3
          val dst = hdr.length + (y * img.width + x) * 3
          out(dst) = b.payload(src)
          out(dst + 1) = b.payload(src + 1)
          out(dst + 2) = b.payload(src + 2)
          x += 1
        }
        y += 1
      }
      BlobRow(b.doc_id, out)
    })
  }

  /** L140 — FLIP-INVARIANT image near-dup pairs: the duplicate class
    * plain dHash is blind to (a horizontally mirrored re-post — the
    * cheapest deliberate-evasion re-upload, and what a flip-augmented
    * training set contains by construction). Signature = the flip-
    * canonical min of the two orientation hashes (computed in ONE
    * raster pass — no second decode), then the standard banding / hot-
    * band guard / Hamming verify on the canonical signature; each pair
    * carries both sides' orientation bits (flip_a ≠ flip_b ⇒ the match
    * crossed orientations — the mirrored-re-post audit). */
  def imageFlipInvariantNearDups(spark: SparkSession, docs: DataFrame,
                                 maxHamming: Int = 2,
                                 maxBandOcc: Int = 500): DataFrame =
    imageFlipInvariantNearDupsFromBlobs(spark,
      encodePpm(spark, docs).toDF(), maxHamming, maxBandOcc)

  /** Blob-level form of `imageFlipInvariantNearDups`. */
  def imageFlipInvariantNearDupsFromBlobs(spark: SparkSession,
                                          blobs: DataFrame,
                                          maxHamming: Int = 2,
                                          maxBandOcc: Int = 500)
      : DataFrame =
    flipInvariantPairsFromSigs(
      dHashFlipInvariant(spark, blobs).toDF().localCheckpoint(),
      maxHamming, maxBandOcc, 8)

  /** PRODUCTION twin — band width scheduled from the signature count
    * (`dhashBandBits`; the canonical signature is one 64-bit hash per
    * image, the same collision algebra as l122), switching to the l146
    * grouped keys past the ladder's end (`sigPairsScheduled`,
    * round 19). */
  def imageFlipInvariantNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                                     maxHamming: Int = 2,
                                     maxBandOcc: Int = 500,
                                     targetOcc: Long = 64L,
                                     guardTargetRecall: Option[Double] =
                                       None): DataFrame = {
    val sig = dHashFlipInvariant(spark, blobs).toDF().localCheckpoint()
    flipAuditJoin(sig,
      sigPairsScheduled(sig, maxHamming, maxBandOcc, targetOcc,
        guardTargetRecall))
  }

  private def flipInvariantPairsFromSigs(sig: DataFrame, maxHamming: Int,
                                         maxBandOcc: Int,
                                         bandBits: Int): DataFrame =
    flipAuditJoin(sig,
      imagePairCandidates(sig, maxHamming, maxBandOcc, bandBits))

  /** Join the orientation bits back onto an id-only verified candidate
    * table — the flip plane's `gridAuditJoin` analogue, shared by both
    * candidate families. */
  private def flipAuditJoin(sig: DataFrame, cand: DataFrame): DataFrame = {
    val f = sig.select(col("doc_id"), col("flip"))
    cand
      .join(f.select(col("doc_id").as("doc_a"), col("flip").as("flip_a")),
        "doc_a")
      .join(f.select(col("doc_id").as("doc_b"), col("flip").as("flip_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("flip_a"), col("flip_b"))
  }

  /** L141 — FLIP-INVARIANT image dedup APPLY: the l125 shape over the
    * flip-canonical signature — the deduplicated store where a mirrored
    * re-post collapses into its source's cluster instead of surviving
    * (the plain l125 apply keeps it). Same modality-neutral core:
    * exact-hash pre-collapse (a mirrored exact re-post canonicalizes to
    * the SAME hash, so the whole orientation-crossing clique collapses
    * by EQUALITY, guard-immune) → banded rep pairs → CC → keep-min →
    * anti-join; output the surviving (doc_id, dhash) with dhash the
    * canonical signature. */
  def imageFlipInvariantDedupApply(spark: SparkSession, docs: DataFrame,
                                   maxHamming: Int = 2,
                                   maxBandOcc: Int = 500): DataFrame =
    sigDedupApply(
      dHashFlipInvariant(spark, encodePpm(spark, docs).toDF()).toDF(),
      maxHamming, maxBandOcc, bandBits = Some(8))

  /** PRODUCTION flip-invariant apply — scheduled band width from the
    * collapsed rep count (the `imageDedupApplyAuto` twin on the
    * canonical-signature plane). Blob-level. */
  def imageFlipInvariantDedupApplyAuto(spark: SparkSession,
                                       blobs: DataFrame,
                                       maxHamming: Int = 2,
                                       maxBandOcc: Int = 500,
                                       guardTargetRecall: Option[Double] =
                                         None): DataFrame =
    sigDedupApply(dHashFlipInvariant(spark, blobs).toDF(),
      maxHamming, maxBandOcc, bandBits = None,
      guardTargetRecall = guardTargetRecall)

  /** L142 — FLIP-INVARIANT band-width/guard SWEEP: the l126 knob-pricing
    * table on the canonical-signature plane (the guard/width trade is a
    * property of the SIGNATURE DISTRIBUTION, and canonicalization
    * changes that distribution — min-folding two orientation hashes —
    * so the flip plane earns its own measured table rather than
    * borrowing l122's). Shared `sigBandSweep` core, one synth+hash pass
    * for every leg. */
  def imageFlipBandSweep(spark: SparkSession, docs: DataFrame,
                         maxHamming: Int = 2,
                         configs: Seq[(Int, Int)] =
                           Seq((8, 500), (16, 500), (16, 1 << 30)))
      : DataFrame =
    sigBandSweep(
      dHashFlipInvariant(spark, encodePpm(spark, docs).toDF()).toDF(),
      maxHamming, configs)

  /** The 64-bit signature split into 6 bit-groups (widths
    * 11,11,11,11,10,10 at offsets 0,11,22,33,44,54) for the
    * paired-group candidate keys below. */
  private[graft] val SigGroups: Seq[(Int, Int)] =
    Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))

  /** The C(6,2) = 15 paired-group key expressions over a `dhash`
    * column: table t's key is group i's bits concatenated with group
    * j's (21–22 bits). Shared by the pair core, the occupancy sweep
    * and the grouped family of `admissionIndex`. */
  private[graft] def sigGroupKeyExprs: Seq[Column] = {
    val tables = for { i <- 0 until 6; j <- (i + 1) until 6 } yield (i, j)
    tables.map { case (i, j) =>
      val (oi, wi) = SigGroups(i)
      val (oj, wj) = SigGroups(j)
      shiftright(col("dhash"), oi).bitwiseAND(lit((1L << wi) - 1))
        .multiply(lit(1L << wj))
        .plus(shiftright(col("dhash"), oj).bitwiseAND(lit((1L << wj) - 1)))
    }
  }

  /** A (doc_id, dhash) signature table exploded to its 15 paired-group
    * key rows (table_id, tkey) — the grouped-key analogue of
    * `bandedSigs`. Extra columns (e.g. frame_idx) ride along. */
  private[graft] def sigGroupKeyed(sig: DataFrame): DataFrame =
    sig.select(sig.columns.map(col) :+
      posexplode(array(sigGroupKeyExprs: _*))
        .as(Seq("table_id", "tkey")): _*)

  /** L146 — Manku-style PAIRED-GROUP candidate keys (Manku, Jain & Das
    * Sarma, WWW'07 §3): the documented lever PAST the band-width
    * ladder's end. Simple banding tops out at 16-bit bands for
    * Hamming ≤ 3 (2×32-bit verifies only radius 1), so bucket
    * occupancy grows as n/2¹⁶ and the hot-bucket guard starts eating
    * recall around n ≈ targetOcc·2¹⁶ (~4M signatures). Keying each of
    * the C(6,2) = 15 tables on the CONCATENATION of a PAIR of bit-
    * groups gives 21–22-bit keys — buckets 32–64× smaller — while the
    * pigeonhole guarantee survives: h ≤ 4 errors touch ≤ 4 of the 6
    * groups, so ≥ 2 groups are untouched and the table keyed on that
    * untouched pair matches exactly. Recall-LOSSLESS for maxHamming ≤ 4
    * at 3.75× the candidate-row volume of 4-band-16-bit — the right
    * trade exactly when occupancy, not row count, is the binding
    * constraint. Pair table byte-equal to l122's banded form within the
    * shared lossless radius (LlmSpec). */
  def imageNearDupsGrouped(spark: SparkSession, docs: DataFrame,
                           maxHamming: Int = 2,
                           maxTableOcc: Int = 500): DataFrame =
    imageNearDupsGroupedFromBlobs(spark, encodePpm(spark, docs).toDF(),
      maxHamming, maxTableOcc)

  /** Blob-level form of `imageNearDupsGrouped`. */
  def imageNearDupsGroupedFromBlobs(spark: SparkSession, blobs: DataFrame,
                                    maxHamming: Int = 2,
                                    maxTableOcc: Int = 500): DataFrame =
    sigPairsGrouped(dHash(spark, blobs).toDF().localCheckpoint(),
      maxHamming, maxTableOcc)

  /** The modality-neutral paired-group pairing core over any
    * (doc_id, dhash) signature table — the same guard/verify shape as
    * `imagePairCandidates`, with (table_id, key) buckets in place of
    * (band_idx, band_val). */
  private[graft] def sigPairsGrouped(sig0: DataFrame, maxHamming: Int,
                                     maxTableOcc: Int): DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming): 5 errors can touch 5 of the 6 groups, leaving " +
        "no untouched pair")
    val keyed = sigGroupKeyed(sig0.select(col("doc_id"), col("dhash")))
    val hot = keyed.groupBy(col("table_id"), col("tkey"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxTableOcc)
      .select(col("table_id"), col("tkey"))
    val live = keyed.join(broadcast(hot), Seq("table_id", "tkey"),
      "left_anti")
    live.as("x").join(live.as("y"),
        col("x.table_id") === col("y.table_id")
          && col("x.tkey") === col("y.tkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
          .cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** L149 — GROUPED-KEY occupancy-guard SWEEP (the l126 knob-pricing
    * discipline on the paired-group tables): per `maxTableOcc` cap,
    * the hot (table_id, tkey) bucket count and the retained verified
    * pair count next to the UNGUARDED truth leg — the measured table
    * behind choosing the grouped path's cap, the one knob l146 shipped
    * with a single receipt instead of a priced sweep (round-18
    * directive #6). recall = n_pairs/n_truth is the fraction of true
    * radius-`maxHamming` pairs the occupancy cap sacrifices. */
  def imageGroupedOccSweep(spark: SparkSession, docs: DataFrame,
                           maxHamming: Int = 2,
                           caps: Seq[Int] = Seq(50, 500, 1 << 30))
      : DataFrame =
    sigGroupedOccSweep(dHash(spark, encodePpm(spark, docs).toDF()).toDF(),
      maxHamming, caps)

  /** The modality-neutral grouped-occupancy sweep core: ONE hash pass
    * and ONE unguarded candidate join serve every leg (the l98 shared-
    * pass discipline) — each verified candidate row keeps the
    * (table_id, tkey) bucket it was found in plus that bucket's
    * occupancy, so leg `cap`'s pair set is "pairs with SOME candidate
    * row in a bucket of occupancy ≤ cap": exactly `sigPairsGrouped`'s
    * live-bucket semantics, as a filter instead of a join. The
    * unguarded join's hot-bucket candidate volume is the TRUTH leg's
    * inherent cost (l126 pays the same for its cap-2³⁰ leg) — this is
    * an audit query, not the production path. `caps` must be strictly
    * ascending with the unguarded sentinel (≥ 2³⁰) last: guarded pair
    * sets are subsets of the truth leg's, so the recall denominator is
    * sound by construction. */
  private[graft] def sigGroupedOccSweep(sig0: DataFrame, maxHamming: Int,
                                        caps: Seq[Int]): DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming)")
    require(caps.nonEmpty && caps == caps.sorted && caps.distinct == caps
        && caps.last >= (1 << 30),
      s"caps must be strictly ascending with the unguarded truth leg " +
        s"(>= 2^30) last: $caps")
    val keyed = sigGroupKeyed(sig0.select(col("doc_id"), col("dhash")))
      .localCheckpoint()
    val occ = keyed.groupBy(col("table_id"), col("tkey"))
      .agg(count(lit(1)).as("occ")).localCheckpoint()
    // one-pass leg fold (round 21 — the frameOffsetOccSweepKeyed
    // discipline): leg `cap` contains a pair iff SOME of its candidate
    // rows sits in a bucket of occupancy <= cap, i.e. iff the pair's
    // min-over-buckets occupancy is <= cap — so one groupBy computes
    // min_occ per pair and a single-row conditional aggregate emits every
    // leg's count, replacing the checkpointed candidate table and the
    // per-leg distinct+count passes (2 exchanges per cap).
    val pairMin = keyed.as("x").join(keyed.as("y"),
        col("x.table_id") === col("y.table_id")
          && col("x.tkey") === col("y.tkey")
          && col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
        <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.table_id").as("table_id"), col("x.tkey").as("tkey"))
      .join(occ, Seq("table_id", "tkey"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("occ")).as("min_occ"))
    val npAggs = caps.zipWithIndex.map { case (cap, i) =>
      sum(when(col("min_occ") <= cap, 1L).otherwise(0L)).as(s"np_$i")
    }
    val npRow = pairMin.agg(npAggs.head, npAggs.tail: _*)
    val hotAggs = caps.zipWithIndex.map { case (cap, i) =>
      sum(when(col("occ") > cap, 1L).otherwise(0L)).as(s"nh_$i")
    }
    val hotRow = occ.agg(hotAggs.head, hotAggs.tail: _*)
    hotRow.crossJoin(broadcast(npRow))
      .select(explode(array(caps.zipWithIndex.map { case (cap, i) =>
        struct(lit(cap.toLong).as("max_table_occ"),
          coalesce(col(s"nh_$i"), lit(0L)).as("n_hot_tables"),
          coalesce(col(s"np_$i"), lit(0L)).as("n_pairs"),
          coalesce(col(s"np_${caps.size - 1}"), lit(0L)).as("n_truth"))
      }: _*)).as("leg"))
      .select(col("leg.max_table_occ").as("max_table_occ"),
        col("leg.n_hot_tables").as("n_hot_tables"),
        col("leg.n_pairs").as("n_pairs"), col("leg.n_truth").as("n_truth"),
        when(col("leg.n_truth") === 0, lit(Double.NaN))
          .otherwise(col("leg.n_pairs").cast(DoubleType)
            / col("leg.n_truth").cast(DoubleType)).as("recall"))
  }

  /** L150 — FRAME-plane GROUPED-KEY occupancy-guard SWEEP: the l149
    * knob-pricing table over the frame-BLIND offset tables, the plane
    * that crosses the grouped threshold FIRST (its collision unit is
    * clips × frames sig rows) and showed the largest residual guard
    * loss in the round-19 receipts (frame-plane probe retained
    * 2,896/5,000 admissions at the production cap 500) — yet until now
    * only the image plane had a declared cap-pricing query (round-19
    * directive #2). Per `maxTableOcc` cap over the 15 paired-group
    * (table_id, tkey) buckets of the per-frame signatures: hot-bucket
    * count and retained OFFSET-PAIR count (l136's production currency —
    * (doc_a, doc_b, frame_offset) verdicts with ≥ minFrames close
    * frames at one displacement) next to the unguarded truth leg. */
  def videoOffsetGroupedOccSweep(spark: SparkSession, docs: DataFrame,
                                 maxHamming: Int = 2, minFrames: Int = 1,
                                 maxOffset: Int = 1,
                                 caps: Seq[Int] = Seq(50, 500, 1 << 30))
      : DataFrame =
    frameOffsetGroupedOccSweep(
      videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF(),
      maxHamming, minFrames, maxOffset, caps)

  /** The sig-level grouped form of the frame-plane sweep (shared with
    * the audio-window plane — the sig tables are shape-identical). */
  private[graft] def frameOffsetGroupedOccSweep(sig: DataFrame,
                                                maxHamming: Int,
                                                minFrames: Int,
                                                maxOffset: Int,
                                                caps: Seq[Int]): DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming)")
    frameOffsetOccSweepKeyed(
      sigGroupKeyed(sig.select(col("doc_id"), col("frame_idx"),
          col("dhash")))
        .withColumnRenamed("table_id", "bkt_id")
        .withColumnRenamed("tkey", "bkt_key"),
      maxHamming, minFrames, maxOffset, caps,
      "max_table_occ", "n_hot_tables")
  }

  /** L151 — frame-ALIGNED grouped occupancy sweep: the l149/l150
    * knob-pricing discipline on the l133/l134 candidate family —
    * per-cap hot (frame_idx, table_id, tkey) buckets over the aligned
    * grouped keys and retained PAIR count in the aligned production
    * currency ((doc_a, doc_b) verdicts with ≥ minFrames aligned close
    * frames) next to the unguarded truth leg. Completes declared
    * grouped-sweep symmetry across the perceptual planes: image l149,
    * frame-blind offset l150, aligned this, audio windows l152 — one
    * shared core, four declared oracles. */
  def videoAlignedGroupedOccSweep(spark: SparkSession, docs: DataFrame,
                                  maxHamming: Int = 2, minFrames: Int = 2,
                                  caps: Seq[Int] = Seq(50, 500, 1 << 30))
      : DataFrame =
    frameAlignedGroupedOccSweep(
      videoFrameHashes(spark, encodeVideo(spark, docs).toDF()).toDF(),
      maxHamming, minFrames, caps)

  /** Sig-level aligned form — the zero-displacement, per-frame-bucket
    * special case of the shared keyed core (bkt_id = struct(frame_idx,
    * table_id), so occupancy counts per aligned frame exactly as
    * `videoNearDupsGroupedFromSigs` guards it). */
  private[graft] def frameAlignedGroupedOccSweep(sig: DataFrame,
                                                 maxHamming: Int,
                                                 minFrames: Int,
                                                 caps: Seq[Int]): DataFrame = {
    require(maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming)")
    frameOffsetOccSweepKeyed(
      sigGroupKeyed(sig.select(col("doc_id"), col("frame_idx"),
          col("dhash")))
        .select(col("doc_id"), col("frame_idx"), col("dhash"),
          struct(col("frame_idx"), col("table_id")).as("bkt_id"),
          col("tkey").as("bkt_key")),
      maxHamming, minFrames, maxOffset = 0, caps,
      "max_table_occ", "n_hot_tables")
  }

  /** L152 — AUDIO-window grouped occupancy sweep: l150 verbatim on the
    * 65-sample window fingerprints (the sig tables are shape-identical
    * by design — the same shared core and the same guard the S45
    * admission and l143/l145 applies consult). */
  def audioOffsetGroupedOccSweep(spark: SparkSession, docs: DataFrame,
                                 maxHamming: Int = 2, minWindows: Int = 1,
                                 maxOffset: Int = 1,
                                 caps: Seq[Int] = Seq(50, 500, 1 << 30))
      : DataFrame =
    frameOffsetGroupedOccSweep(
      audioWindowFrameSigs(spark, encodeWav(spark, docs).toDF()),
      maxHamming, minWindows, maxOffset, caps)

  /** The keyed frame-plane sweep core shared by the grouped and banded
    * families AND (via zero-offset struct buckets) the frame-ALIGNED
    * plane: ONE unguarded displacement-window candidate join serves
    * every leg (the l98/l149 shared-pass discipline) — each verified
    * frame-pair row keeps its (bkt_id, bkt_key) bucket and that
    * bucket's occupancy, so leg `cap`'s pair set is "frame pairs with
    * SOME candidate row in a bucket of occupancy ≤ cap" — exactly
    * `frameOffsetPairsFromKeyed`'s live-bucket semantics as a filter —
    * folded to the production (doc_a, doc_b, frame_offset) verdicts
    * with the ≥ minFrames gate per leg. Guarded legs are subsets of
    * the truth leg BEFORE the fold, so every folded group's close-frame
    * count is ≤ the truth's and the recall denominator is sound. */
  private def frameOffsetOccSweepKeyed(keyed0: DataFrame, maxHamming: Int,
                                       minFrames: Int, maxOffset: Int,
                                       caps: Seq[Int], capName: String,
                                       hotName: String): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0: $maxOffset")
    // minFrames = 0 would change semantics under the folded form: a group
    // whose every frame row fails the cap satisfies ncf >= 0 here, where
    // the old filter-then-groupBy form dropped it (round-21 ADVICE).
    require(minFrames >= 1, s"minFrames must be >= 1: $minFrames")
    require(caps.nonEmpty && caps == caps.sorted && caps.distinct == caps
        && caps.last >= (1 << 30),
      s"caps must be strictly ascending with the unguarded truth leg " +
        s"(>= 2^30) last: $caps")
    val keyed = keyed0.localCheckpoint()
    val occ = keyed.groupBy(col("bkt_id"), col("bkt_key"))
      .agg(count(lit(1)).as("occ")).localCheckpoint()
    val disp = col("y.frame_idx") - col("x.frame_idx")
    // EVERY leg folds in ONE pass over the unguarded candidate join
    // (round 21): leg `cap`'s membership test — "SOME candidate row of
    // this frame pair sits in a bucket of occupancy <= cap" — is
    // min-over-buckets(occ) <= cap, so one groupBy computes each frame
    // pair's min_occ, one more folds the per-leg conditional close-frame
    // counts, and a single-row aggregate emits all legs' pair counts.
    // The previous form materialized the candidate table (localCheckpoint
    // — the truth join's full output held on heap) and re-scanned it
    // |caps| times through distinct+fold+count (2 exchanges per leg);
    // this consumes the join output exactly once, unmaterialized.
    val pairMin = keyed.as("x").join(keyed.as("y"),
        col("x.bkt_id") === col("y.bkt_id")
          && col("x.bkt_key") === col("y.bkt_key")
          && col("x.doc_id") < col("y.doc_id")
          && disp.between(-maxOffset, maxOffset))
      .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
        <= maxHamming)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        disp.cast(LongType).as("frame_offset"),
        col("x.frame_idx").as("frame_idx"),
        col("x.bkt_id").as("bkt_id"), col("x.bkt_key").as("bkt_key"))
      .join(occ, Seq("bkt_id", "bkt_key"))
      .groupBy(col("doc_a"), col("doc_b"), col("frame_offset"),
        col("frame_idx"))
      .agg(min(col("occ")).as("min_occ"))
    def ncf(i: Int) = s"ncf_$i"
    val foldedAggs = caps.zipWithIndex.map { case (cap, i) =>
      sum(when(col("min_occ") <= cap, 1L).otherwise(0L)).as(ncf(i))
    }
    val folded = pairMin
      .groupBy(col("doc_a"), col("doc_b"), col("frame_offset"))
      .agg(foldedAggs.head, foldedAggs.tail: _*)
    val npAggs = caps.indices.map { i =>
      sum(when(col(ncf(i)) >= minFrames, 1L).otherwise(0L)).as(s"np_$i")
    }
    val npRow = folded.agg(npAggs.head, npAggs.tail: _*)
    val hotAggs = caps.zipWithIndex.map { case (cap, i) =>
      sum(when(col("occ") > cap, 1L).otherwise(0L)).as(s"nh_$i")
    }
    val hotRow = occ.agg(hotAggs.head, hotAggs.tail: _*)
    // assemble the per-cap rows from the two 1-row aggregates (coalesce:
    // an empty sweep input aggregates to NULLs, which must read as 0 —
    // the previous per-leg count(*) form's semantics)
    hotRow.crossJoin(broadcast(npRow))
      .select(explode(array(caps.zipWithIndex.map { case (cap, i) =>
        struct(lit(cap.toLong).as(capName),
          coalesce(col(s"nh_$i"), lit(0L)).as(hotName),
          coalesce(col(s"np_$i"), lit(0L)).as("n_pairs"),
          coalesce(col(s"np_${caps.size - 1}"), lit(0L)).as("n_truth"))
      }: _*)).as("leg"))
      .select(col(s"leg.$capName").as(capName),
        col(s"leg.$hotName").as(hotName),
        col("leg.n_pairs").as("n_pairs"), col("leg.n_truth").as("n_truth"),
        when(col("leg.n_truth") === 0, lit(Double.NaN))
          .otherwise(col("leg.n_pairs").cast(DoubleType)
            / col("leg.n_truth").cast(DoubleType)).as("recall"))
  }

  /** CALIBRATED occupancy-guard cap for a single-signature plane (the
    * round-19 top directive — the guard cap was the last constant
    * knob): run the matching occupancy sweep at an ascending `caps`
    * ladder — the l146 paired-group tables past the band ladder's end,
    * banded buckets at the SCHEDULED width inside it, with the
    * widest-lossless unguarded truth leg either way — and pick the
    * smallest cap whose measured recall meets `targetRecall`
    * (`KnobSchedule.sigGuardCapForRecall`, the bm25DfCapForRecall
    * closure on the perceptual planes). Audit-priced: the sweep pays
    * one unguarded candidate join (the truth leg — the same cost the
    * declared sweeps l126/l149 pay), so call at build/rebuild/
    * compaction cadence, never per batch; the cap then serves until
    * the corpus's signature distribution shifts. */
  def sigGuardCapCalibrated(sig0: DataFrame, maxHamming: Int = 2,
                            targetRecall: Double = 0.95,
                            caps: Seq[Int] =
                              Seq(50, 100, 200, 500, 1000, 1 << 30),
                            targetOcc: Long = 64L): Int = {
    val sig = sig0.select(col("doc_id"), col("dhash"))
    val n = sig.count()
    if (KnobSchedule.dhashUseGroupedKeys(n, maxHamming, targetOcc))
      KnobSchedule.sigGuardCapForRecall(
        sigGroupedOccSweep(sig, maxHamming, caps), targetRecall,
        "max_table_occ")
    else {
      val bits = KnobSchedule.dhashBandBits(n, maxHamming, targetOcc)
      val widest = Seq(8, 16, 32).filter(b => 64 / b > maxHamming).max
      // guarded legs at the SCHEDULED width (the cap being priced is the
      // one production runs at), truth unguarded at the widest lossless
      // width — both widths find every true pair when unguarded
      // (pigeonhole), so the subset/denominator argument holds across
      // the width mix exactly as in sigBandSweep's contract
      val configs = caps.init.map(c => (bits, c)) :+ ((widest, caps.last))
      KnobSchedule.sigGuardCapForRecall(
        sigBandSweep(sig, maxHamming, configs), targetRecall,
        "max_band_occ")
    }
  }

  /** `sigGuardCapCalibrated`'s twin for the FRAME planes — aligned and
    * offset candidate families both (the aligned plane is the
    * zero-offset, frame-keyed-bucket special case of the shared sweep
    * core): prices the cap in the production currency — retained
    * (doc_a, doc_b[, frame_offset]) verdicts at ≥ minFrames close
    * frames — against the unguarded truth leg, on whichever key family
    * the schedule selects at this sig-row count. `aligned = true`
    * buckets per (frame_idx, key) with displacement 0 (l133/l134's
    * semantics); `false` buckets frame-blind with ±maxOffset (l136/
    * l138's). Same audit cadence contract as the single-sig form. */
  def frameGuardCapCalibrated(sig: DataFrame, maxHamming: Int = 2,
                              minFrames: Int = 1, maxOffset: Int = 1,
                              aligned: Boolean = false,
                              targetRecall: Double = 0.95,
                              caps: Seq[Int] =
                                Seq(50, 100, 200, 500, 1000, 1 << 30),
                              targetOcc: Long = 64L): Int = {
    val s = sig.select(col("doc_id"), col("frame_idx"), col("dhash"))
    // the schedule's collision unit: sig ROWS for the frame-blind
    // buckets (clips × frames), CLIPS for the aligned per-frame buckets
    // — the same units the scheduled dispatchers count
    val n = if (aligned) s.select(col("doc_id")).distinct().count()
            else s.count()
    val off = if (aligned) 0 else maxOffset
    if (KnobSchedule.dhashUseGroupedKeys(n, maxHamming, targetOcc)) {
      require(maxHamming <= 4, s"grouped keys lossy past 4: $maxHamming")
      val keyed = sigGroupKeyed(s)
      val k =
        if (aligned) keyed
          .select(col("doc_id"), col("frame_idx"), col("dhash"),
            struct(col("frame_idx"), col("table_id")).as("bkt_id"),
            col("tkey").as("bkt_key"))
        else keyed.withColumnRenamed("table_id", "bkt_id")
          .withColumnRenamed("tkey", "bkt_key")
      KnobSchedule.sigGuardCapForRecall(
        frameOffsetOccSweepKeyed(k, maxHamming, minFrames, off, caps,
          "max_table_occ", "n_hot_tables"),
        targetRecall, "max_table_occ")
    } else {
      val bits = KnobSchedule.dhashBandBits(n, maxHamming, targetOcc)
      val banded = videoBandedSigs(s, bits)
      val k =
        if (aligned) banded
          .select(col("doc_id"), col("frame_idx"), col("dhash"),
            struct(col("frame_idx"), col("band_idx")).as("bkt_id"),
            col("band_val").as("bkt_key"))
        else banded.withColumnRenamed("band_idx", "bkt_id")
          .withColumnRenamed("band_val", "bkt_key")
      KnobSchedule.sigGuardCapForRecall(
        frameOffsetOccSweepKeyed(k, maxHamming, minFrames, off, caps,
          "max_band_occ", "n_hot_buckets"),
        targetRecall, "max_band_occ")
    }
  }

  /** L122 — IMAGE near-duplicate pairs: the one duplicate class the
    * text/embedding dedup planes are blind to (a re-encoded, resized or
    * brightness-shifted image re-post). dHash per image at the codec
    * boundary, then the l04 byte-banding discipline on the 64-bit
    * signature: 8 bands of 8 bits, candidates = pairs agreeing on ANY
    * band (a pair within Hamming 7 MUST agree on some band — pigeonhole
    * — so banding is recall-lossless for maxHamming < 8), verified by
    * XOR + popcount ≤ maxHamming. Each surviving pair carries the exact
    * 9×8-grid L1 distance next to its Hamming (the l43/l91
    * estimator-audit column: the ground truth the hash approximates,
    * dimension-independent because the grid is) — the correlation is
    * what a pipeline reads before trusting the hash at a new corpus.
    *
    * Scale shape: the corpus-sized exchanges carry (doc_id, dhash,
    * band) longs — the blob never leaves its scan stage (PlanSpec
    * binary sweep) and the grid rides only the candidate-pair joins.
    * Hot-band guard (the l02 maxDocFreq / l112 maxHashFreq discipline):
    * a band value shared by a large fraction of the corpus (tiny/flat
    * images all hash near 0) would stream occ²/2 candidate pairs while
    * carrying no discriminative signal; buckets with occupancy >
    * maxBandOcc are excluded from candidate generation (pairs agreeing
    * ONLY on hot bands are the documented recall trade — LlmSpec pins
    * the planted-dup recall). The guard table is ≤ 8·256 rows —
    * knob-table sized, broadcast. */
  def imageNearDups(spark: SparkSession, docs: DataFrame,
                    maxHamming: Int = 2, maxBandOcc: Int = 500): DataFrame =
    imageNearDupsFromBlobs(spark, encodePpm(spark, docs).toDF(),
      maxHamming, maxBandOcc)

  /** The blob-level form of `imageNearDups` — what a real media lake
    * calls (its payloads exist; the declared query's encoder is the
    * corpus stand-in), and the surface LlmSpec's planted-duplicate
    * recall receipts drive directly. */
  def imageNearDupsFromBlobs(spark: SparkSession, blobs: DataFrame,
                             maxHamming: Int = 2,
                             maxBandOcc: Int = 500): DataFrame = {
    val sig = dHash(spark, blobs).toDF().localCheckpoint()
    imageNearDupsFromSigs(sig, maxHamming, maxBandOcc)
  }

  /** The sig-level pairing core — banding, hot-band guard, Hamming
    * verify, grid-L1 audit column — parameterized by band WIDTH:
    * `bandBits` ∈ {8, 16, 32} bits per band (64/bandBits bands).
    * Pigeonhole: banding is recall-LOSSLESS for maxHamming <
    * 64/bandBits, so wider bands trade the verifiable-Hamming radius
    * for a 2^bandBits-times larger bucket space — the knob
    * `KnobSchedule.dhashBandBits` schedules from corpus size (random
    * band-collision volume is n²/2^bandBits; at a fixed width it is
    * quadratic growth in disguise, the l118 fixed-k argument on the
    * perceptual plane). */
  private[graft] def imageNearDupsFromSigs(sig: DataFrame, maxHamming: Int,
                                           maxBandOcc: Int,
                                           bandBits: Int = 8): DataFrame =
    gridAuditJoin(sig,
      imagePairCandidates(sig, maxHamming, maxBandOcc, bandBits))

  /** Join the exact grid-L1 audit column back onto an id-only verified
    * candidate table — shared by the banded and grouped candidate
    * families (the pair operators' OUTPUT is candidate-family-blind by
    * construction). */
  private def gridAuditJoin(sig: DataFrame, cand: DataFrame): DataFrame = {
    val g = sig.select(col("doc_id"), col("grid"))
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grid").as("ga")),
        "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grid").as("gb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        aggregate(
          zip_with(col("ga"), col("gb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("grid_l1"))
  }

  /** Scheduled candidate generation for the single-signature planes:
    * band width from the signature count while the ladder holds; past
    * its end (`dhashUseGroupedKeys`) the l146 paired-group keys.
    * Id-only verified (doc_a, doc_b, hamming) — callers join their
    * audit columns back (`gridAuditJoin`/`flipAuditJoin`). */
  private def sigPairsScheduled(sig: DataFrame, maxHamming: Int,
                                maxBucketOcc: Int,
                                targetOcc: Long,
                                guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    // guardTargetRecall closes the last constant knob (round-19
    // directive #1): Some(r) derives the guard cap from the measured
    // occupancy sweep at target recall r instead of trusting the
    // caller's maxBucketOcc constant — audit-priced, so production
    // callers calibrate at build/compaction cadence
    val cap = guardTargetRecall.map(r =>
      sigGuardCapCalibrated(sig, maxHamming, r, targetOcc = targetOcc))
      .getOrElse(maxBucketOcc)
    val n = sig.count()
    if (KnobSchedule.dhashUseGroupedKeys(n, maxHamming, targetOcc))
      sigPairsGrouped(sig.select(col("doc_id"), col("dhash")), maxHamming,
        cap)
    else
      imagePairCandidates(sig, maxHamming, cap,
        KnobSchedule.dhashBandBits(n, maxHamming, targetOcc))
  }

  /** The exploded band table of a signature set at `bandBits` bits per
    * band (64/bandBits bands). */
  private def bandedSigs(sig: DataFrame, bandBits: Int): DataFrame = {
    require(Seq(8, 16, 32).contains(bandBits), s"bandBits: $bandBits")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    sig.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until nBands).map(bi =>
        shiftright(col("dhash"), bandBits * bi).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** Banded + guarded + Hamming-verified candidate pairs
    * (doc_a, doc_b, hamming) — the id-only core of the pairing, shared
    * by the full operator (which joins the grid audit back) and the
    * l126 sweep (which only counts). */
  private[graft] def imagePairCandidates(sig: DataFrame, maxHamming: Int,
                                         maxBandOcc: Int,
                                         bandBits: Int): DataFrame = {
    require(maxHamming < 64 / bandBits,
      s"banding at $bandBits bits is lossy beyond Hamming " +
        s"${64 / bandBits - 1} (requested $maxHamming)")
    val bands = bandedSigs(sig, bandBits)
    val hot = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBandOcc)
      .select(col("band_idx"), col("band_val"))
    val live = bands.join(broadcast(hot), Seq("band_idx", "band_val"),
      "left_anti")
    live.as("x").join(live.as("y"),
        col("x.band_idx") === col("y.band_idx")
          && col("x.band_val") === col("y.band_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
          .cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** L126 — band-width/guard SWEEP (the l82/l87/l98/l121 knob-pricing
    * discipline on the perceptual plane): for each (band_bits,
    * max_band_occ) config, the hot-bucket count and the verified pair
    * count next to the TRUTH leg — the widest lossless width with the
    * guard off, whose pair set every guarded config's is a subset of
    * (same Hamming filter; banding lossless at both widths for
    * maxHamming < 64/bits). recall = n_pairs/n_truth is exactly the
    * fraction of true near-dup pairs the guard sacrifices at that
    * width — the table read before fixing `dhashBandBits`'s schedule
    * (BASELINE.md's `imagedup` receipt at 10×: fixed 8-bit keeps 0.4%
    * of true pairs; scheduled 16-bit keeps 100%).
    *
    * Scale: ONE decode+hash pass shared by all legs (the sig table is
    * checkpointed); each leg is a banded candidate join + two 1-row
    * aggregates; the assembled table is |configs| rows of longs —
    * every cross-leg join is a broadcast 1-row crossJoin (the l28
    * shape). */
  def imageBandSweep(spark: SparkSession, docs: DataFrame,
                     maxHamming: Int = 2,
                     configs: Seq[(Int, Int)] =
                       Seq((8, 500), (16, 500), (16, 1 << 30))): DataFrame =
    sigBandSweep(dHash(spark, encodePpm(spark, docs).toDF()).toDF(),
      maxHamming, configs)

  /** AUDIO band-width/guard sweep — l126's twin on the audio plane:
    * the same 64-bit signature geometry through the same shared sweep
    * core, and the measured table behind trusting `dhashBandBits`'s
    * transfer to the gradient-sign signatures (l131). */
  def audioBandSweep(spark: SparkSession, docs: DataFrame,
                     maxHamming: Int = 2,
                     configs: Seq[(Int, Int)] =
                       Seq((8, 500), (16, 500), (16, 1 << 30))): DataFrame =
    sigBandSweep(audioHash(spark, encodeWav(spark, docs).toDF()).toDF(),
      maxHamming, configs)

  /** The modality-neutral band-sweep core over a (doc_id, dhash)
    * signature table (shared by image l126 / audio l131). */
  private[graft] def sigBandSweep(sig0: DataFrame, maxHamming: Int,
                                  configs: Seq[(Int, Int)]): DataFrame = {
    // configs.last IS the truth leg the recall column divides by — a
    // caller passing a guarded or narrower-than-widest last config
    // would silently get recalls against a lossy denominator (possibly
    // > 1.0). Fail loudly instead: the last config must be the widest
    // admissible lossless width at maxHamming with the guard
    // effectively off (cap ≥ 2^30 — the "unguarded" sentinel the
    // default carries; any real occupancy guard sits orders below).
    val widest = Seq(8, 16, 32).filter(b => 64 / b > maxHamming).max
    val (tBits, tCap) = configs.last
    require(tBits == widest && tCap >= (1 << 30),
      s"configs.last must be the unguarded truth leg ($widest bits, " +
        s"cap >= 2^30); got ($tBits, $tCap)")
    val sig = sig0.select(col("doc_id"), col("dhash")).localCheckpoint()
    val legs = configs.map { case (bits, cap) =>
      val nHot = bandedSigs(sig, bits)
        .groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > cap)
        .agg(count(lit(1)).as("n_hot_buckets"))
      val nPairs = imagePairCandidates(sig, maxHamming, cap, bits)
        .agg(count(lit(1)).as("n_pairs"))
      nHot.crossJoin(nPairs)
        .select(lit(bits).cast(LongType).as("band_bits"),
          lit(cap).cast(LongType).as("max_band_occ"),
          col("n_hot_buckets"), col("n_pairs"))
    }
    val all = legs.reduce(_ unionByName _)
    val truth = all.filter(col("band_bits") === tBits
        && col("max_band_occ") === tCap)
      .select(col("n_pairs").as("n_truth"))
    all.crossJoin(broadcast(truth))
      .select(col("band_bits"), col("max_band_occ"),
        col("n_hot_buckets"), col("n_pairs"), col("n_truth"),
        // a pair-free corpus has n_truth = 0 AND n_pairs = 0 on every
        // guarded leg (subsets of truth) — IEEE 0/0 = NaN, which is what
        // the oracle's DuckDB double division yields; Spark's ANSI mode
        // would THROW instead, so spell the vacuous case out
        when(col("n_truth") === 0, lit(Double.NaN))
          .otherwise(col("n_pairs").cast(DoubleType)
            / col("n_truth").cast(DoubleType)).as("recall"))
  }

  /** PRODUCTION image near-dup pairing — band width SCHEDULED from the
    * corpus size (`KnobSchedule.dhashBandBits`): the declared l122 pins
    * 8-bit bands for the oracle; at corpus sizes where 8-bit buckets
    * exceed the occupancy target this widens to 16-bit bands (4 bands —
    * still recall-lossless for Hamming ≤ 3 ⊇ the default verify radius),
    * keeping random-collision candidate volume n²/2^bits bounded instead
    * of quadratic; past the ladder's end (round 19) candidate
    * generation switches to the l146 paired-group keys
    * (`sigPairsScheduled` — every scheduled sig-level candidate
    * generator now consults the same switch, pairs and applies alike).
    * Byte-equal to the fixed form wherever the schedule resolves to
    * 8 bits, and across the switch within the shared lossless radius
    * (LlmSpec). `targetOcc` is the schedule's occupancy target (the
    * threshold is targetOcc·2¹⁶ signatures). */
  def imageNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                        maxHamming: Int = 2, maxBandOcc: Int = 500,
                        targetOcc: Long = 64L,
                        guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = dHash(spark, blobs).toDF().localCheckpoint()
    gridAuditJoin(sig,
      sigPairsScheduled(sig, maxHamming, maxBandOcc, targetOcc,
        guardTargetRecall))
  }

  /** L125 — image dedup APPLY ("give me the duplicate-free image
    * store"): l122's verified pairs → connected-components clustering
    * (transitive closure — a re-post chain A~B~C is one duplicate set
    * even when A, C sit just past the pairwise radius) → keep each
    * cluster's minimum doc_id → anti-join the losers. Returns the
    * surviving (doc_id, dhash) — the image twin of l30's dedupApply,
    * completing the perceptual plane: hash (dHash) → pairs (l122) →
    * admission (S39) → apply (this).
    *
    * Scale shape: pair generation is l122's banded story; the CC runs
    * on the PAIR table (auto-selected propagation/star-contraction —
    * the l16 machinery, id-only edges); losers are cluster members
    * minus one per cluster — tiny against the corpus, so the final
    * anti-join broadcasts; the hash table (8-byte signatures) is the
    * only corpus-sized output. */
  def imageDedupApply(spark: SparkSession, docs: DataFrame,
                      maxHamming: Int = 2, maxBandOcc: Int = 500)
      : DataFrame =
    sigDedupApply(dHash(spark, encodePpm(spark, docs).toDF()).toDF(),
      maxHamming, maxBandOcc, bandBits = Some(8))

  /** PRODUCTION image dedup apply — band width SCHEDULED from the
    * collapsed signature count (`KnobSchedule.dhashBandBits`), the Auto
    * twin l125's fixed 8-bit form lacked (round-17 ADVICE): the l126
    * receipt shows fixed 8-bit bands under the hot-band guard keep
    * ~0.4% of true near-dup pairs at 10× — the exact-hash pre-collapse
    * rescues Hamming-0 cliques, but Hamming 1–2 recall needs the
    * scheduled width. Blob-level (the real media-lake surface);
    * byte-equal to `imageDedupApply` wherever the schedule resolves
    * to 8 bits (LlmSpec). */
  def imageDedupApplyAuto(spark: SparkSession, blobs: DataFrame,
                          maxHamming: Int = 2, maxBandOcc: Int = 500,
                          guardTargetRecall: Option[Double] = None)
      : DataFrame =
    sigDedupApply(dHash(spark, blobs).toDF(), maxHamming, maxBandOcc,
      bandBits = None, guardTargetRecall = guardTargetRecall)

  /** The modality-neutral sig-level dedup-apply core (shared by the
    * image l125/auto and audio l128/auto forms — the signature tables
    * are shape-identical by design): exact-hash PRE-COLLAPSE (the
    * round-17 collapseExactDups discipline on the perceptual plane —
    * identical signatures are Hamming-0 cliques, so collapsing each
    * hash value to its min-id representative (a) removes the clique's
    * quadratic edge volume from the CC: a viral re-post of multiplicity
    * 10⁶ enters the graph as ONE node instead of 5·10¹¹ edges
    * (measured at sf0.1 images: 89,765 → ~49k edges), and (b) makes
    * exact duplicates immune to the hot-band guard: they are found by
    * hash EQUALITY in the groupBy, not by banding — without the
    * collapse, a flat-payload clique whose every band bucket is hot
    * would never cluster at all; keep-min-id semantics are preserved
    * exactly since each group's rep is its minimum id, so the expanded
    * cluster's minimum IS the minimum over reps) → banded rep pairs →
    * connected components (the l16 machinery) → keep each cluster's
    * minimum id → broadcast anti-join the losers. `bandBits = None`
    * schedules the band width from the COLLAPSED rep count (the rows
    * the pair pass actually pays for); `Some(8)` pins the declared
    * l125/l128 oracle form. */
  private[graft] def sigDedupApply(sig0: DataFrame, maxHamming: Int,
                                   maxBandOcc: Int,
                                   bandBits: Option[Int],
                                   targetOcc: Long = 64L,
                                   guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = sig0.select(col("doc_id"), col("dhash")).localCheckpoint()
    val reps = sig.groupBy(col("dhash")).agg(min(col("doc_id")).as("doc_id"))
    val repSig = sig.join(reps, Seq("dhash", "doc_id"), "left_semi")
      .localCheckpoint()
    // calibrated guard cap (scheduled mode only — the declared fixed-
    // width forms pin the oracle's constant): priced on the COLLAPSED
    // reps, the rows the pair pass actually guards
    val cap = guardTargetRecall.filter(_ => bandBits.isEmpty).map(r =>
      sigGuardCapCalibrated(repSig, maxHamming, r, targetOcc = targetOcc))
      .getOrElse(maxBandOcc)
    // scheduled path: band width from the collapsed rep count; past the
    // ladder's end (widest lossless width still over target occupancy —
    // ~4.2M reps at radius ≤ 3 and the default targetOcc) candidate
    // generation switches to the l146 paired-group keys, whose buckets
    // are 32–64× smaller at the same lossless radius
    // (KnobSchedule.dhashUseGroupedKeys; BASELINE.md's imagedup lowcap
    // receipt). `targetOcc` is the schedule's occupancy target — the
    // threshold is targetOcc·2¹⁶ reps, so receipts/specs cross the
    // switch at equivalent pressure by lowering it rather than
    // synthesizing millions of signatures.
    val nReps = if (bandBits.isEmpty) repSig.count() else 0L
    val pairs = (if (bandBits.isEmpty
        && KnobSchedule.dhashUseGroupedKeys(nReps, maxHamming, targetOcc))
      sigPairsGrouped(repSig, maxHamming, cap)
    else
      imagePairCandidates(repSig, maxHamming, cap,
        bandBits.getOrElse(
          KnobSchedule.dhashBandBits(nReps, maxHamming, targetOcc))))
      .select(col("doc_a"), col("doc_b"))
    val losers = Dedup.nearDupClustersAuto(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    repSig.join(losers, Seq("doc_id"), "left_anti")
  }

  /** L128 — audio dedup APPLY: the l125 shape verbatim on the audio
    * plane (the one plane asymmetry left after round 17 — images
    * shipped pairs→apply→sweep→streaming, audio stopped at l127
    * pairs): l127's gradient-sign signatures → exact-hash pre-collapse
    * → banded rep pairs → transitive closure → keep each cluster's
    * minimum doc_id → anti-join. Returns the surviving (doc_id, dhash)
    * — the deduplicated audio store, not just the verdict table. Same
    * 64-bit signature geometry as dHash, so `KnobSchedule.dhashBandBits`
    * transfers unchanged (the Auto twin below). */
  def audioDedupApply(spark: SparkSession, docs: DataFrame,
                      maxHamming: Int = 2, maxBandOcc: Int = 500)
      : DataFrame =
    sigDedupApply(audioHash(spark, encodeWav(spark, docs).toDF()).toDF(),
      maxHamming, maxBandOcc, bandBits = Some(8))

  /** PRODUCTION audio dedup apply — scheduled band width (the
    * `imageDedupApplyAuto` twin; `dhashBandBits` transfers because the
    * audio signature is the same 64-bit gradient-sign geometry).
    * Blob-level: a real audio lake's payloads exist. */
  def audioDedupApplyAuto(spark: SparkSession, blobs: DataFrame,
                          maxHamming: Int = 2, maxBandOcc: Int = 500,
                          guardTargetRecall: Option[Double] = None)
      : DataFrame =
    sigDedupApply(audioHash(spark, blobs).toDF(), maxHamming, maxBandOcc,
      bandBits = None, guardTargetRecall = guardTargetRecall)

  /** How an arriving clip's close frames must line up with ONE other
    * clip's for the streaming admission to drop it. `Aligned`: frame f
    * meets frame f only (S42; a signature table with no `frame_idx`
    * column is the one-frame case — the image, flipped-image and audio
    * clip planes S39/S41/S44 at minFrames 1). `Offset`: frames meet
    * frame-BLIND and count at a SINGLE displacement within ±maxOffset
    * (l136's pair semantics — S43 on video frames, S45 on audio
    * windows renamed to `frame_idx`), so a head-trimmed re-edit drops
    * where the aligned probe keeps it. */
  sealed trait FrameMatch { def minFrames: Int }
  object FrameMatch {
    final case class Aligned(minFrames: Int = 1) extends FrameMatch
    final case class Offset(minFrames: Int = 1, maxOffset: Int = 1)
        extends FrameMatch {
      require(maxOffset >= 0, s"maxOffset must be >= 0: $maxOffset")
    }
  }

  /** The carried probe INDEX of a streaming admission loop (S39, S41–S45
    * — the l52 `bandIndex` discipline on the perceptual planes): every
    * SEEN signature row (dropped included — a rejected clip still
    * rejects later re-posts, exactly as every earlier doc pairs in the
    * fused pair tables), keyed for the probe. The key family is decided
    * here, at (re)build cadence, by the end-of-ladder switch
    * (`KnobSchedule.dhashUseGroupedKeys` on the row count): 8-bit bands
    * (8 rows per signature, `band_idx`/`band_val`, 2048 buckets) while
    * the ladder holds, the l146 paired-group keys past its end (15 rows
    * per signature, `table_id`/`tkey`, buckets 32–64× smaller, lossless
    * to Hamming 4). Probes and compaction read the family back from the
    * index's columns — the format IS the recorded switch decision, never
    * re-derived from a corpus count the index may predate. `sig` is any
    * extractor's output (`dHash`, `dHashFlipInvariant`, `audioHash`,
    * `videoFrameHashes`, `audioWindowHashes` with `win_idx` renamed to
    * `frame_idx`); only doc_id, frame_idx (when present) and dhash are
    * kept. */
  def admissionIndex(sig: DataFrame, maxHamming: Int = 2): DataFrame = {
    val s = sigRows(sig).localCheckpoint()
    admissionKeyed(s, KnobSchedule.dhashUseGroupedKeys(s.count(), maxHamming))
  }

  /** Streaming near-dup ADMISSION against the carried index — one
    * operator for every modality and key family. The arriving batch's
    * signatures are keyed in the index's family and probed against the
    * index (minus the `hotBuckets` exclusion from
    * `compactAdmissionIndex`) and against the batch's own earlier
    * (smaller doc_id) members; candidates are Hamming-verified per
    * frame, folded per (doc, other[, displacement]) to a close-frame
    * count, and a batch member is a duplicate when that count reaches
    * `frames.minFrames` against ONE other clip. Verdicts per distinct
    * batch doc_id: `dup_corpus` (an index partner), else `dup_batch` (an
    * earlier batch member), else `kept`; ids with no signature rows (an
    * audio clip shorter than one window) get no row and add no state.
    * With batches arriving in ascending doc_id order, kept/dropped
    * equals the fused pair table of the drained corpus (StreamingSpec);
    * out-of-order arrival degrades conservatively — the later arrival is
    * the one dropped (l52's policy).
    *
    * Per-batch cost: the batch's own keying plus one bucket-keyed
    * probe of the persisted index — nothing corpus-sized is re-derived,
    * and the index is never re-paired against itself. The hot-bucket
    * guard is a corpus property, so it is applied at compaction cadence,
    * not per batch. Returns (verdicts, batchIndexRows); the caller
    * appends batchIndexRows to the index by union (NOT idempotent under
    * re-delivery: the S22 exactly-once foreachBatch discipline
    * applies). */
  def admitNearDups(batchSig: DataFrame, index: DataFrame,
                    maxHamming: Int = 2,
                    frames: FrameMatch = FrameMatch.Aligned(),
                    hotBuckets: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val grouped = index.columns.contains("table_id")
    require(!grouped || maxHamming <= 4,
      s"paired-group keys are lossy beyond Hamming 4 (requested " +
        s"$maxHamming): 5 errors can touch 5 of the 6 groups, leaving " +
        "no untouched pair")
    val sig = sigRows(batchSig).localCheckpoint()
    val hasFrames = sig.columns.contains("frame_idx")
    val disp = col("y.frame_idx") - col("x.frame_idx")
    val (window, offCols) = frames match {
      case FrameMatch.Offset(_, maxOffset) =>
        require(hasFrames, "an Offset probe needs a frame_idx column")
        (disp.between(-maxOffset, maxOffset), Seq(disp.as("off")))
      case FrameMatch.Aligned(_) => (lit(true), Nil)
    }
    val frameCols = if (hasFrames) Seq(col("x.frame_idx").as("fi")) else Nil
    val keys = bucketCols(index, frames)
    val b = admissionKeyed(sig, grouped)
    val probed = hotBuckets.fold(index)(hot =>
      index.join(broadcast(hot), keys, "left_anti"))
    def dupIds(other: DataFrame, earlier: Column): DataFrame =
      b.as("x").join(other.as("y"),
          keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
            && earlier && window)
        .filter(bit_count(col("x.dhash").bitwiseXOR(col("y.dhash")))
          <= maxHamming)
        .select(Seq(col("x.doc_id").as("doc_id"),
          col("y.doc_id").as("other_id")) ++ offCols ++ frameCols: _*)
        .distinct()
        .groupBy(Seq(col("doc_id"), col("other_id"))
          ++ offCols.map(_ => col("off")): _*)
        .agg(count(lit(1)).as("n_close"))
        .filter(col("n_close") >= frames.minFrames)
        .select(col("doc_id")).distinct()
    val vsIndex = dupIds(probed, lit(true)).withColumn("dup_c", lit(true))
    val vsBatch = dupIds(b, col("y.doc_id") < col("x.doc_id"))
      .withColumn("dup_b", lit(true))
    val verdicts = sig.select(col("doc_id")).distinct()
      .join(vsIndex, Seq("doc_id"), "left")
      .join(vsBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_c"), lit("dup_corpus"))
          .when(col("dup_b"), lit("dup_batch"))
          .otherwise(lit("kept")).as("verdict"))
    (verdicts, b)
  }

  /** Index COMPACTION at the caller's cadence (`KnobSchedule
    * .compactionDue`), in the index's own key family: (a) exact
    * collapse — one min-id representative per distinct signature VALUE
    * (per distinct ordered frame-hash vector, `videoSeqReps`, when the
    * index carries frames). Verdict-lossless: identical signatures sit
    * at identical Hamming from any probe, so a viral re-post of
    * multiplicity 10⁶ shrinks to one rep and still rejects its next
    * copy. (b) The hot-bucket exclusion — buckets (per `frames`, the
    * key `admitNearDups` probes on) whose COLLAPSED occupancy exceeds
    * `maxBucketOcc`: degenerate signatures (flat/tiny payloads hashing
    * near 0) that would make every probe scan linearly in state. A
    * near-dup reachable only through hot buckets is then kept — the
    * fused operators' documented recall trade; an exact copy still
    * drops through any cold bucket of its rep. Each hot row stands for
    * > maxBucketOcc reps, so the table is broadcast-sized. Returns
    * (compactedIndex, hotBuckets); swap both in together. */
  def compactAdmissionIndex(index: DataFrame,
                            frames: FrameMatch = FrameMatch.Aligned(),
                            maxBucketOcc: Int = 500)
      : (DataFrame, DataFrame) = {
    val grouped = index.columns.contains("table_id")
    // one row per signature: every row's keys start at position 0
    val sig = sigRows(index.filter(
      col(if (grouped) "table_id" else "band_idx") === 0))
    val reps = if (sig.columns.contains("frame_idx")) videoSeqReps(sig)
      else sig.join(sig.groupBy(col("dhash")).agg(min(col("doc_id"))
        .as("doc_id")), Seq("dhash", "doc_id"), "left_semi")
    val keyed = admissionKeyed(reps, grouped)
    val keys = bucketCols(index, frames).map(col)
    val hot = keyed.groupBy(keys: _*).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBucketOcc)
      .select(keys: _*)
    (keyed, hot)
  }

  /** A signature table cut to the admission columns. */
  private def sigRows(sig: DataFrame): DataFrame =
    sig.select(Seq("doc_id", "frame_idx", "dhash")
      .filter(sig.columns.contains).map(col): _*)

  /** Signature rows exploded to their bucket keys — 8-bit bands or the
    * l146 paired groups (`sigGroupKeyed`); frame_idx rides along. */
  private def admissionKeyed(sig: DataFrame, grouped: Boolean): DataFrame =
    if (grouped) sigGroupKeyed(sig)
    else sig.select(sig.columns.map(col) :+
      posexplode(array((0 until 8).map(bi =>
        shiftright(col("dhash"), 8 * bi).bitwiseAND(lit(255L))): _*))
        .as(Seq("band_idx", "band_val")): _*)

  /** The bucket an index row sits in for the probe and its guard: the
    * family's key, plus frame_idx when frames must align. */
  private def bucketCols(index: DataFrame, frames: FrameMatch): Seq[String] = {
    val family =
      if (index.columns.contains("table_id")) Seq("table_id", "tkey")
      else Seq("band_idx", "band_val")
    frames match {
      case FrameMatch.Aligned(_) if index.columns.contains("frame_idx") =>
        "frame_idx" +: family
      case _ => family
    }
  }

  // ----------------------------------------------------- audio near-dup

  /** Per-audio perceptual signature — the WAV twin of `ImageSig`, shaped
    * identically (doc_id, 64-bit gradient hash, the exact envelope it
    * was read from) so the SAME banding/guard/verify core pairs both
    * modalities. */
  final case class AudioSig(doc_id: Long, dhash: Long, grid: Array[Long])

  /** 64-bit audio gradient hash at the codec boundary — the dHash idea
    * on the energy envelope: split the sample stream into 65 equal
    * chunks (boundaries ⌊i·n/65⌋ — the resize/dHash index arithmetic),
    * envelope(i) = Σ|s| over chunk i (EXACT long — no fp), bit i set
    * iff envelope(i) > envelope(i+1): 64 loudness-gradient signs.
    * Gradient signs survive uniform gain changes exactly (envelope
    * scales by the gain; the duplicate class a re-mastered/volume-
    * normalized re-upload produces) and re-containering trivially (the
    * parser reads the sample plane wherever the chunks sit). Chunks
    * shorter than the stream (n < 65) leave empty chunks at envelope 0
    * — tiny clips hash degenerate, exactly the flat-image analogue the
    * hot-band guard absorbs. */
  def audioHash(spark: SparkSession, blobs: DataFrame): Dataset[AudioSig] = {
    import spark.implicits._
    blobs.as[BlobRow].mapPartitions(_.map { b =>
      val wav = parseWav(b.payload, b.doc_id)
      val env = new Array[Long](65)
      var i = 0
      while (i < 65) {
        var k = i * wav.nSamples / 65
        val end = (i + 1) * wav.nSamples / 65
        var sum = 0L
        while (k < end) {
          sum += math.abs(s16le(b.payload, wav.offset + 2 * k).toLong)
          k += 1
        }
        env(i) = sum
        i += 1
      }
      var dh = 0L
      var bix = 0
      while (bix < 64) {
        if (env(bix) > env(bix + 1)) dh |= 1L << bix
        bix += 1
      }
      AudioSig(b.doc_id, dh, env)
    })
  }

  /** L127 — AUDIO near-duplicate pairs: the l122 machinery verbatim on
    * the audio plane (the signature tables are shape-identical, so the
    * banding/guard/Hamming/L1 core is literally shared): per verified
    * pair, the Hamming distance between gradient hashes and the exact
    * envelope-L1 distance (the l91-style audit column — the ground
    * truth the hash approximates, duration-independent because the
    * envelope is). Completes dedup across every modality the engine
    * decodes: text (l03), embeddings (l14/l118), images (l122), audio
    * (this). */
  def audioNearDups(spark: SparkSession, docs: DataFrame,
                    maxHamming: Int = 2, maxBandOcc: Int = 500): DataFrame = {
    val sig = audioHash(spark, encodeWav(spark, docs).toDF()).toDF()
      .localCheckpoint()
    imageNearDupsFromSigs(sig, maxHamming, maxBandOcc)
  }

  /** PRODUCTION audio near-dup pairing — band width scheduled from the
    * clip count (`imageNearDupsAuto`'s twin; same 64-bit signature
    * geometry, so `dhashBandBits` transfers — the l131 sweep is the
    * measured receipt), switching to the l146 grouped keys past the
    * ladder's end (`sigPairsScheduled`, round 19). Blob-level: a real
    * audio lake's payloads exist. */
  def audioNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                        maxHamming: Int = 2, maxBandOcc: Int = 500,
                        targetOcc: Long = 64L,
                        guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = audioHash(spark, blobs).toDF().localCheckpoint()
    gridAuditJoin(sig,
      sigPairsScheduled(sig, maxHamming, maxBandOcc, targetOcc,
        guardTargetRecall))
  }

  /** PRODUCTION video near-dup pairing — band width scheduled from the
    * CLIP count (per-(frame, band) bucket occupancy grows with clips;
    * the l135 sweep is the measured receipt), switching to the l146
    * grouped keys past the ladder's end
    * (`videoAlignedPairsScheduled`, round 19). Blob-level. */
  def videoNearDupsAuto(spark: SparkSession, blobs: DataFrame,
                        maxHamming: Int = 2, maxBandOcc: Int = 500,
                        minFrames: Int = 2,
                        targetOcc: Long = 64L,
                        guardTargetRecall: Option[Double] = None)
      : DataFrame = {
    val sig = videoFrameHashes(spark, blobs).toDF().localCheckpoint()
    videoAlignedPairsScheduled(sig, maxHamming, maxBandOcc, minFrames,
      targetOcc, guardTargetRecall)
  }

  /** Per-source MEDIA STORAGE audit — the capacity-planning table of a
    * multimodal lake: per source, blob count, total payload bytes, total
    * pixels, the exact payload checksum (corruption tripwire for a
    * landed batch — re-run it and a flipped byte shows), and mean bytes
    * per blob. The numbers come from DECODING the real binary payloads
    * (the l11 parser), not from trusting stored metadata — which is the
    * point of the audit.
    *
    * Scale: decode is the mapPartitions codec boundary (the documented
    * exception to the no-RDD-logic rule — per-blob imperative parsing);
    * everything after is relational — one id-keyed join against an
    * (id, source) projection and a map-side-partial agg to |sources|
    * rows; the mean is one division of exact longs. */
  def mediaStorageAudit(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    mediaAuditCells(spark, docs)
      .withColumn("mean_bytes_per_blob",
        col("total_bytes").cast(DoubleType)
          / col("n_blobs").cast(DoubleType))
  }

  /** The SUMMABLE per-source cell table behind `mediaStorageAudit` — the
    * persistable artifact a streaming ingest loop carries (S23): every
    * column is a count or an exact sum, so batches merge by per-source
    * addition and the derived view (the mean) recomputes from the carried
    * table at read time. */
  def mediaAuditCells(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    decodeFeatures(spark, encodePpm(spark, docs).toDF()).toDF()
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("width") * col("height")).as("total_pixels"),
        sum(col("sum_bytes")).as("payload_checksum"))
  }

  /** Associative MERGE of two media-audit cell tables: exact sums add per
    * source (associative and commutative — any fold order over any batch
    * split equals the drained corpus's table). Touches ≤ 2·|sources| rows
    * — cell-table work, no blob is re-decoded. Like the S22 coverage
    * counts, sums are NOT idempotent under re-delivery: the loop relies
    * on foreachBatch's batchId-transactional write for exactly-once
    * folding. */
  def mergeMediaAuditCells(a: org.apache.spark.sql.DataFrame,
                           b: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    a.unionByName(b)
      .groupBy(col("source"))
      .agg(sum(col("n_blobs")).as("n_blobs"),
        sum(col("total_bytes")).as("total_bytes"),
        sum(col("total_pixels")).as("total_pixels"),
        sum(col("payload_checksum")).as("payload_checksum"))
  }
}
