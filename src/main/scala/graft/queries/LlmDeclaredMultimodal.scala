package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.llm._

/** Declared queries — multimodal binary-payload family (llm/Multimodal.scala operators).
  *
  * Mechanical split of the single LlmDeclared registry (round 13,
  * VERDICT directive #8) — every member moved verbatim; `LlmDeclared.all`
  * preserves the original declaration order, so bench sequence and
  * artifacts stay comparable round-over-round.
  */
private[queries] trait LlmDeclaredMultimodal extends LlmDeclaredBase {

  // ------------------------------------------------- multimodal + sketches

  /** The DuckDB twin of `Multimodal.encodePpm`'s derivation: per doc, the
    * P6 dimensions (w, h), text length, and header string. Pixel-plane
    * byte k is then `ppmPx` below — the text bytes tiling the raster
    * cyclically ('0' = 48 for empty text). The corpus is printable ASCII
    * (verified), so ascii(substr) = byte and md5-of-string = md5-of-bytes. */
  protected val ppmCte =
    """ppm AS (
      SELECT doc_id, text, length(text) AS len,
        1 + CASE WHEN length(text) = 0 THEN 0
              ELSE ascii(substr(text, 1, 1)) END % 16 AS w,
        1 + CASE WHEN length(text) = 0 THEN 0
              ELSE ascii(substr(text, length(text), 1)) END % 16 AS h
      FROM documents)"""


  /** Pixel-plane byte at 0-based index `k` (SQL fragment). */
  protected def ppmPx(k: String) =
    s"""CASE WHEN len = 0 THEN 48
        ELSE ascii(substr(text, CAST(($k) % len + 1 AS INTEGER), 1)) END"""


  /** P6 header string for dimensions (`w`, `h`) (SQL fragment). */
  protected def ppmHdr(w: String, h: String) =
    s"""'P6' || chr(10) || CAST($w AS VARCHAR) || ' ' || CAST($h AS VARCHAR)
        || chr(10) || '255' || chr(10)"""


  /** L11 — multimodal decode: deterministic P6 PPM payloads through the
    * REAL netpbm parser (`Multimodal.parsePpm` — magic, comments, ASCII
    * decimal fields), features = header dims + exact pixel checksum. The
    * oracle regenerates the same image in SQL and replays the decode. */
  protected val l11 = DeclaredQuery(
    "l11_multimodal_decode",
    (s, dir) =>
      Multimodal.decodeFeatures(s,
        Multimodal.encodePpm(s, t(s, dir, "documents")).toDF())
        .toDF().orderBy(col("doc_id")),
    Some(s"""WITH $ppmCte
      SELECT doc_id,
        CAST(length(${ppmHdr("w", "h")}) + w*h*3 AS BIGINT) AS n_bytes,
        CAST(w AS BIGINT) AS width,
        CAST(h AS BIGINT) AS height,
        CAST(list_reduce(list_transform(range(0, w*h*3),
          k -> ${ppmPx("k")}), (x, y) -> x + y) AS BIGINT) AS sum_bytes
      FROM ppm ORDER BY doc_id"""))


  /** L20 — multimodal frame sampling: every scanline of each image as one
    * checksum row — the 1→N table-generating decode shape (video frame
    * extraction), as a typed flatMap over parsed P6 payloads. */
  protected val l20 = DeclaredQuery(
    "l20_frame_sample",
    (s, dir) =>
      Multimodal.frameSample(s,
        Multimodal.encodePpm(s, t(s, dir, "documents")).toDF())
        .toDF().orderBy(col("doc_id"), col("frame_idx")),
    Some(s"""WITH $ppmCte,
      f AS (SELECT doc_id, text, len, w, unnest(range(h)) AS frame_idx FROM ppm)
      SELECT doc_id, frame_idx,
        CAST(list_reduce(list_transform(range(0, w*3),
          x -> ${ppmPx("frame_idx * w * 3 + x")}), (a, b) -> a + b)
          AS BIGINT) AS frame_sum
      FROM f ORDER BY doc_id, frame_idx"""))


  /** L41 — multimodal FEATURE-EXTRACT: per-CHANNEL pixel statistics over
    * the parsed P6 raster (the embedding-extractor stand-in; same
    * mapPartitions plumbing as l11's decode). mean_px = exact long sum /
    * one division, so it is aggregation-order independent. */
  protected val l41 = DeclaredQuery(
    "l41_multimodal_features",
    (s, dir) =>
      Multimodal.featureExtract(s,
        Multimodal.encodePpm(s, t(s, dir, "documents")).toDF())
        .toDF().orderBy(col("doc_id")),
    Some(s"""WITH $ppmCte,
      px AS (SELECT doc_id, w, h,
        list_transform(range(0, w*h*3), k -> ${ppmPx("k")}) AS bs,
        list_reduce(list_transform(range(0, w*h),
          i -> ${ppmPx("3*i")}), (x, y) -> x + y) AS r_sum,
        list_reduce(list_transform(range(0, w*h),
          i -> ${ppmPx("3*i + 1")}), (x, y) -> x + y) AS g_sum,
        list_reduce(list_transform(range(0, w*h),
          i -> ${ppmPx("3*i + 2")}), (x, y) -> x + y) AS b_sum
        FROM ppm)
      SELECT doc_id,
        CAST(w*h AS BIGINT) AS n_px,
        CAST(r_sum AS BIGINT) AS r_sum,
        CAST(g_sum AS BIGINT) AS g_sum,
        CAST(b_sum AS BIGINT) AS b_sum,
        CAST(list_min(bs) AS BIGINT) AS px_min,
        CAST(list_max(bs) AS BIGINT) AS px_max,
        CAST(r_sum + g_sum + b_sum AS DOUBLE) / (3 * w * h) AS mean_px
      FROM px ORDER BY doc_id"""))


  /** L42 — multimodal RESIZE: true 2-D nearest-neighbor ÷2 downsample on
    * the parsed raster, re-encoded as VALID P6 (payload → payload),
    * audited by before/after sizes and the resized digest. The corpus is
    * printable ASCII (verified) and the P6 header is ASCII, so DuckDB's
    * md5-of-string hashes the same bytes Spark's md5-of-binary does. */
  protected val l42 = DeclaredQuery(
    "l42_multimodal_resize",
    (s, dir) => {
      val blobs = Multimodal.encodePpm(s, t(s, dir, "documents")).toDF()
      val orig = blobs.select(col("doc_id"),
        length(col("payload")).cast(LongType).as("orig_bytes"))
      Multimodal.resize(s, blobs, factor = 2).toDF()
        .select(col("doc_id"),
          length(col("payload")).cast(LongType).as("resized_bytes"),
          md5(col("payload")).as("resized_md5"))
        .join(orig, "doc_id")
        .select(col("doc_id"), col("orig_bytes"), col("resized_bytes"),
          col("resized_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $ppmCte,
      d AS (SELECT doc_id, text, len, w, h,
              (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM ppm)
      SELECT doc_id,
        CAST(length(${ppmHdr("w", "h")}) + w*h*3 AS BIGINT) AS orig_bytes,
        CAST(length(${ppmHdr("w2", "h2")}) + w2*h2*3 AS BIGINT) AS resized_bytes,
        md5(${ppmHdr("w2", "h2")} ||
          array_to_string(list_transform(range(0, w2*h2*3), k ->
            CASE WHEN len = 0 THEN '0' ELSE substr(text,
              CAST((((k // (w2*3)) * 2 * w + ((k % (w2*3)) // 3) * 2) * 3
                + k % 3) % len + 1 AS INTEGER), 1) END), '')) AS resized_md5
      FROM d ORDER BY doc_id"""))


  /** L93 — per-source media STORAGE audit: blob counts, payload bytes,
    * pixels, exact checksum and mean bytes per blob, computed by decoding
    * the real binary payloads (l11's parser) — the capacity-planning +
    * corruption-tripwire table of a multimodal lake. Oracle: the ppm CTE
    * regenerates every payload in SQL, then the same per-source sums. */
  protected val l93 = DeclaredQuery(
    "l93_media_storage_audit",
    (s, dir) => Multimodal.mediaStorageAudit(s, t(s, dir, "documents"))
      .orderBy(col("source")),
    Some(s"""WITH $ppmCte,
      feats AS (SELECT doc_id,
          CAST(length(${ppmHdr("w", "h")}) + w*h*3 AS BIGINT) AS n_bytes,
          CAST(w*h AS BIGINT) AS n_px,
          CAST(list_reduce(list_transform(range(0, w*h*3),
            k -> ${ppmPx("k")}), (x, y) -> x + y) AS BIGINT) AS sum_bytes
        FROM ppm)
      SELECT d.source,
        CAST(COUNT(*) AS BIGINT) AS n_blobs,
        CAST(SUM(f.n_bytes) AS BIGINT) AS total_bytes,
        CAST(SUM(f.n_px) AS BIGINT) AS total_pixels,
        CAST(SUM(f.sum_bytes) AS BIGINT) AS payload_checksum,
        CAST(SUM(f.n_bytes) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_bytes_per_blob
      FROM feats f JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY d.source"""))

  /** L122 — IMAGE near-duplicate pairs via 64-bit dHash: the duplicate
    * class every text/embedding dedup operator is blind to (re-encoded /
    * resized / brightness-shifted image re-posts). The hash computes at
    * the codec boundary (gradient signs over a 9×8 nearest-neighbor
    * grayscale grid of the parsed P6 raster); candidates come from the
    * l04 byte-banding discipline on the signature (8×8-bit bands,
    * recall-lossless for Hamming < 8 by pigeonhole) behind a hot-band
    * occupancy guard; each verified pair carries the exact grid-L1
    * distance (the l91 estimator-audit column). The oracle regenerates
    * the image in SQL (the l11 trick), replays grid/hash/banding/guard/
    * popcount bit-identically — integer arithmetic end to end. */
  /** Shared DuckDB CTE chain replaying the dHash pipeline — the P6
    * regeneration, the 9×8 grayscale grid (source pixel sx = ⌊gx·w/9⌋,
    * sy = ⌊gy·h/8⌋, gray = 3-channel byte sum via ppmPx), the 64-bit
    * difference hash (the b = 63 term spelled MIN_BIGINT: 1<<63
    * overflows DuckDB's checked shift; the two's-complement value is
    * what Spark's `1L << 63` produces), the 8×8-bit banding, the
    * hot-band occupancy guard, and the verified candidate pairs. Used
    * by l122 (pairs) and l125 (apply). Tables are MATERIALIZED per the
    * round-17 oracle-authoring rule (CTE inlining re-opens the parquet
    * per reference). */
  /** The shared decode→grid→hash prefix (ppm, g, dh). */
  private def dHashBaseCtes: String = {
    val grayCell = "(" + (0 until 3).map(c =>
      ppmPx(s"((((i//9)*h//8)*w + ((i%9)*w//9))*3 + $c)")).mkString(" + ") + ")"
    val bitTerm =
      """CASE WHEN grid[CAST((b//8)*9 + (b%8) + 1 AS INTEGER)] >
                grid[CAST((b//8)*9 + (b%8) + 2 AS INTEGER)]
           THEN CASE WHEN b = 63
                THEN CAST(-9223372036854775807 AS BIGINT) - 1
                ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
           ELSE CAST(0 AS BIGINT) END"""
    s"""$ppmCte,
      g AS (SELECT doc_id,
          list_transform(range(72), i -> $grayCell) AS grid FROM ppm),
      dh AS MATERIALIZED (SELECT doc_id, grid,
          list_reduce(list_transform(range(64), b -> $bitTerm),
            (x, y) -> x + y) AS dhash FROM g)"""
  }

  /** One banding→guard→verify leg at `bandBits` bits per band; CTE
    * names suffixed with `sfx` so sweep legs coexist in one WITH;
    * `src` is the signature table the leg bands (dh, or the rep table
    * for l125's collapsed graph). */
  private def bandLegCtes(sfx: String, bandBits: Int, maxHamming: Int,
                          maxBandOcc: Long, src: String = "dh"): String = {
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    s"""bands$sfx AS MATERIALIZED (SELECT doc_id, dhash, band_idx,
          (dhash >> CAST($bandBits*band_idx AS INTEGER)) & $mask AS band_val
        FROM (SELECT doc_id, dhash, unnest(range($nBands)) AS band_idx
          FROM $src)),
      hot$sfx AS (SELECT band_idx, band_val FROM bands$sfx
        GROUP BY band_idx, band_val HAVING count(*) > $maxBandOcc),
      live$sfx AS (SELECT b.* FROM bands$sfx b WHERE NOT EXISTS
        (SELECT 1 FROM hot$sfx h WHERE h.band_idx = b.band_idx
          AND h.band_val = b.band_val)),
      cand$sfx AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a,
          y.doc_id AS doc_b,
          CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
        FROM live$sfx x JOIN live$sfx y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.dhash, y.dhash)) <= $maxHamming)"""
  }

  private def dHashCtes(maxHamming: Int, maxBandOcc: Int): String =
    s"""$dHashBaseCtes,
      ${bandLegCtes("", 8, maxHamming, maxBandOcc)}"""

  protected val l122 = DeclaredQuery(
    "l122_image_near_dups",
    (s, dir) => Multimodal.imageNearDups(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH ${dHashCtes(2, 500)}
      SELECT c.doc_a, c.doc_b, c.hamming,
        CAST(list_reduce(list_transform(range(72),
          i -> abs(ga.grid[CAST(i + 1 AS INTEGER)]
                 - gb.grid[CAST(i + 1 AS INTEGER)])),
          (x, y) -> x + y) AS BIGINT) AS grid_l1
      FROM cand c
      JOIN dh ga ON ga.doc_id = c.doc_a
      JOIN dh gb ON gb.doc_id = c.doc_b
      ORDER BY doc_a, doc_b"""))

  /** L125 — image dedup APPLY: exact-hash pre-collapse (identical
    * signatures are Hamming-0 cliques — one representative per hash
    * value, found by EQUALITY so the hot-band guard cannot sever an
    * exact-duplicate clique, and a viral re-post enters the CC as one
    * node), then banded pairs among representatives → transitive
    * closure (a re-post chain is ONE duplicate set) → keep each
    * cluster's minimum doc_id → anti-join; output the surviving
    * (doc_id, dhash). Spark side: the auto-selected CC machinery
    * (propagation with star-contraction fallback — l16's); oracle:
    * recursive-CTE transitive closure — two very different algorithms
    * that must agree exactly (the l16 precedent, on the perceptual
    * plane). */
  protected val l125 = DeclaredQuery(
    "l125_image_dedup_apply",
    (s, dir) => Multimodal.imageDedupApply(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $dHashBaseCtes,
      rep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id, dhash
        FROM dh GROUP BY dhash),
      ${bandLegCtes("", 8, 2, 500, src = "rep")},
      edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
                UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
      SELECT r.doc_id, r.dhash FROM rep r
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = r.doc_id)
      ORDER BY r.doc_id"""))

  /** L126 — dHash band-width/guard SWEEP (the l82/l87/l98/l121
    * knob-pricing discipline on the perceptual plane): per (band_bits,
    * max_band_occ) config, hot buckets and verified pairs next to the
    * widest-lossless unguarded TRUTH leg; recall = the fraction of true
    * radius-2 pairs the guard sacrifices at that width — the table read
    * before fixing `KnobSchedule.dhashBandBits` (BASELINE.md's `imagedup`
    * receipt: 0.4% survives fixed 8-bit at 10×, 100% at scheduled
    * 16-bit). One decode+hash pass shared by every leg. */
  protected val l126 = {
    val configs = Seq((8, 500L), (16, 500L), (16, (1 << 30).toLong))
    val legs = configs.zipWithIndex.map { case ((bits, cap), i) =>
      bandLegCtes(s"_$i", bits, 2, cap)
    }.mkString(",\n      ")
    val rows = configs.zipWithIndex.map { case ((bits, cap), i) =>
      s"""SELECT CAST($bits AS BIGINT) AS band_bits,
          CAST($cap AS BIGINT) AS max_band_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM hot_$i) AS n_hot_buckets,
          (SELECT CAST(count(*) AS BIGINT) FROM cand_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l126_image_band_sweep",
      (s, dir) => Multimodal.imageBandSweep(s, t(s, dir, "documents"))
        .orderBy(col("band_bits"), col("max_band_occ")),
      Some(s"""WITH $dHashBaseCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
        FROM cand_${configs.length - 1})
      SELECT band_bits, max_band_occ, n_hot_buckets, n_pairs,
        tr.n_truth,
        CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) AS recall
      FROM legs CROSS JOIN tr
      ORDER BY band_bits, max_band_occ"""))
  }

  /** L131 — AUDIO band-width/guard SWEEP: l126's twin on the audio
    * plane, completing full ladder symmetry (pairs → apply → sweep →
    * streaming on BOTH perceptual planes): per (band_bits,
    * max_band_occ) config over the gradient-sign signatures, hot
    * buckets and verified pairs next to the widest-lossless unguarded
    * truth leg — the measured table behind `dhashBandBits`'s transfer
    * to audio (same 64-bit signature geometry, so the n²/2^bits
    * collision algebra is modality-blind; this is the receipt, not the
    * assumption). One synth+hash pass shared by every leg through the
    * shared `sigBandSweep` core. */
  protected val l131 = {
    val configs = Seq((8, 500L), (16, 500L), (16, (1 << 30).toLong))
    val legs = configs.zipWithIndex.map { case ((bits, cap), i) =>
      bandLegCtes(s"_$i", bits, 2, cap)
    }.mkString(",\n      ")
    val rows = configs.zipWithIndex.map { case ((bits, cap), i) =>
      s"""SELECT CAST($bits AS BIGINT) AS band_bits,
          CAST($cap AS BIGINT) AS max_band_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM hot_$i) AS n_hot_buckets,
          (SELECT CAST(count(*) AS BIGINT) FROM cand_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l131_audio_band_sweep",
      (s, dir) => Multimodal.audioBandSweep(s, t(s, dir, "documents"))
        .orderBy(col("band_bits"), col("max_band_occ")),
      Some(s"""WITH $audioSigCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
        FROM cand_${configs.length - 1})
      SELECT band_bits, max_band_occ, n_hot_buckets, n_pairs,
        tr.n_truth,
        CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) AS recall
      FROM legs CROSS JOIN tr
      ORDER BY band_bits, max_band_occ"""))
  }

  /** Shared video-oracle CTE chain: per-document container parameters
    * (geometry + frame count — `encodeVideo`'s derivation) and the
    * per-(doc, frame) expansion. Frame f's raster byte k is text byte
    * (k + 7·f) mod len — `ppmPx` with the +7f shift replays it. */
  private def videoBaseCtes: String =
    s"""vb AS (SELECT doc_id, text, len,
        1 + first % 16 AS w, 1 + lastc % 16 AS h, 2 + first % 3 AS nf
      FROM (SELECT doc_id, text, length(COALESCE(text, '')) AS len,
          CASE WHEN length(COALESCE(text, '')) = 0 THEN 0
            ELSE ascii(substr(text, 1, 1)) END AS first,
          CASE WHEN length(COALESCE(text, '')) = 0 THEN 0
            ELSE ascii(substr(text, length(text), 1)) END AS lastc
        FROM documents) vb0),
      vfr AS (SELECT doc_id, text, len, w, h, nf,
        unnest(range(nf)) AS f FROM vb)"""

  /** Per-(doc, frame) dHash CTEs over the video base — the image
    * dHashBaseCtes grid/bit machinery with the frame's +7f pan shift. */
  private def videoSigCtes: String = {
    val grayCell = "(" + (0 until 3).map(c =>
      ppmPx(s"((((i//9)*h//8)*w + ((i%9)*w//9))*3 + $c + 7*f)"))
      .mkString(" + ") + ")"
    val bitTerm =
      """CASE WHEN grid[CAST((b//8)*9 + (b%8) + 1 AS INTEGER)] >
                grid[CAST((b//8)*9 + (b%8) + 2 AS INTEGER)]
           THEN CASE WHEN b = 63
                THEN CAST(-9223372036854775807 AS BIGINT) - 1
                ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
           ELSE CAST(0 AS BIGINT) END"""
    s"""$videoBaseCtes,
      vg AS (SELECT doc_id, f,
          list_transform(range(72), i -> $grayCell) AS grid FROM vfr),
      vdh AS MATERIALIZED (SELECT doc_id, f,
          list_reduce(list_transform(range(64), b -> $bitTerm),
            (x, y) -> x + y) AS dhash FROM vg)"""
  }

  /** The banded frame-aligned candidate pairs (the bandLegCtes shape
    * with the frame axis in every key); `src` is the per-frame sig
    * table (vdh, or l134's collapsed-rep restriction); `sfx`/`bits`
    * let l135's sweep legs coexist in one WITH. */
  private def videoCandCtes(maxHamming: Int, maxBandOcc: Long,
                            src: String = "vdh", sfx: String = "",
                            bits: Int = 8): String = {
    val nBands = 64 / bits
    val mask = (1L << bits) - 1
    s"""vbands$sfx AS MATERIALIZED (SELECT doc_id, f, dhash, band_idx,
          (dhash >> CAST($bits*band_idx AS INTEGER)) & $mask AS band_val
        FROM (SELECT doc_id, f, dhash, unnest(range($nBands)) AS band_idx
          FROM $src)),
      vhot$sfx AS (SELECT f, band_idx, band_val FROM vbands$sfx
        GROUP BY f, band_idx, band_val HAVING count(*) > $maxBandOcc),
      vlive$sfx AS (SELECT b.* FROM vbands$sfx b WHERE NOT EXISTS
        (SELECT 1 FROM vhot$sfx h WHERE h.f = b.f
          AND h.band_idx = b.band_idx AND h.band_val = b.band_val)),
      vcand$sfx AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a,
          y.doc_id AS doc_b, x.f AS f,
          CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
        FROM vlive$sfx x JOIN vlive$sfx y
          ON x.f = y.f AND x.band_idx = y.band_idx
          AND x.band_val = y.band_val AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.dhash, y.dhash)) <= $maxHamming)"""
  }

  /** L132 — multimodal VIDEO decode + features: deterministic GV1
    * multi-frame containers (2–4 complete embedded P6 frames; frame f
    * is the text tiling panned by 7·f bytes — consecutive frames are
    * near-identical content under motion, the way real video is)
    * through the REAL container walk (`Multimodal.parseVideo` — magic,
    * ASCII frame count, then one spec-valid P6 parse per frame).
    * Completes decode across all four payload modalities the engine
    * synthesizes (image l11, audio l115, video this, text everywhere).
    * All stats exact LONGs; the oracle regenerates the container
    * arithmetic in SQL and replays the decode bit-identically. */
  protected val l132 = DeclaredQuery(
    "l132_video_decode",
    (s, dir) => Multimodal.videoFeatures(s,
        Multimodal.encodeVideo(s, t(s, dir, "documents")).toDF()).toDF()
      .orderBy(col("doc_id")),
    Some(s"""WITH $videoBaseCtes,
      vsum AS (SELECT doc_id, f,
          CAST(list_reduce(list_transform(range(w*h*3),
            k -> ${ppmPx("k + 7*f")}), (x, y) -> x + y) AS BIGINT) AS fsum
        FROM vfr),
      agg AS (SELECT doc_id, CAST(SUM(fsum) AS BIGINT) AS px_sum,
          CAST(MIN(fsum) AS BIGINT) AS frame_sum_min,
          CAST(MAX(fsum) AS BIGINT) AS frame_sum_max
        FROM vsum GROUP BY doc_id)
      SELECT vb.doc_id, CAST(nf AS BIGINT) AS n_frames,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(6 + nf * (3 + length(CAST(w AS VARCHAR)) + 1
          + length(CAST(h AS VARCHAR)) + 1 + 4 + w*h*3) AS BIGINT)
          AS n_bytes,
        agg.px_sum, agg.frame_sum_min, agg.frame_sum_max
      FROM vb JOIN agg USING (doc_id)
      ORDER BY vb.doc_id"""))

  /** L133 — VIDEO near-duplicate pairs: the l122/l127 discipline with a
    * FRAME axis (re-encoded/re-posted clips): per-frame dHash through
    * the shared grid machinery, candidates banded within their OWN
    * (frame, band) bucket — the pigeonhole recall argument applies per
    * aligned frame — hot-band guard per (frame, band), per-frame
    * Hamming verify, and a PAIR verdict when ≥ minFrames aligned frames
    * verify, carrying the exact summed Hamming as the audit column. */
  protected val l133 = DeclaredQuery(
    "l133_video_near_dups",
    (s, dir) => Multimodal.videoNearDups(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minFrames = 2)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $videoSigCtes,
      ${videoCandCtes(2, 500)}
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_close_frames,
        CAST(SUM(hamming) AS BIGINT) AS sum_hamming
      FROM vcand GROUP BY doc_a, doc_b
      HAVING COUNT(*) >= 2
      ORDER BY doc_a, doc_b"""))

  /** L134 — VIDEO dedup APPLY: the l125/l128 shape on the frame-
    * sequence plane — l133's pair verdicts → connected-components
    * transitive closure → keep each cluster's minimum doc_id →
    * anti-join; output the surviving (doc_id, n_frames). Completes the
    * dedup-apply family across every payload modality (text l30,
    * embeddings l118, image l125, audio l128, video this). Oracle:
    * recursive-CTE closure over the video candidate chain (the
    * l125/l128 precedent — two very different CC algorithms agreeing
    * exactly). */
  protected val l134 = DeclaredQuery(
    "l134_video_dedup_apply",
    (s, dir) => Multimodal.videoDedupApply(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minFrames = 2)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $videoSigCtes,
      vvec AS (SELECT doc_id, list(dhash ORDER BY f) AS sv
        FROM vdh GROUP BY doc_id),
      vrep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id
        FROM vvec GROUP BY sv),
      vdhr AS MATERIALIZED (SELECT d.* FROM vdh d
        JOIN vrep USING (doc_id)),
      ${videoCandCtes(2, 500, src = "vdhr")},
      vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM vcand
        GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM vpairs
                UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
      SELECT vb.doc_id, CAST(vb.nf AS BIGINT) AS n_frames FROM vb
      JOIN vrep USING (doc_id)
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = vb.doc_id)
      ORDER BY vb.doc_id"""))

  /** L135 — VIDEO band-width/guard SWEEP: the l126/l131 knob-pricing
    * table on the frame plane, completing FULL ladder symmetry across
    * all three perceptual planes (pairs → apply → sweep → streaming,
    * image AND audio AND video): per (band_bits, max_band_occ) config
    * over the frame-aligned banding, hot (frame, band) buckets and
    * verified PAIR counts (≥ minFrames aligned close frames) next to
    * the widest-lossless unguarded truth leg. One synth+hash pass
    * shared by every leg. */
  protected val l135 = {
    val configs = Seq((8, 500L), (16, 500L), (16, (1 << 30).toLong))
    val legs = configs.zipWithIndex.map { case ((bits, cap), i) =>
      videoCandCtes(2, cap, src = "vdh", sfx = s"_$i", bits = bits)
    }.mkString(",\n      ")
    val rows = configs.zipWithIndex.map { case ((bits, cap), i) =>
      s"""SELECT CAST($bits AS BIGINT) AS band_bits,
          CAST($cap AS BIGINT) AS max_band_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM vhot_$i) AS n_hot_buckets,
          (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT doc_a FROM vcand_$i GROUP BY doc_a, doc_b
            HAVING COUNT(*) >= 2) p$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l135_video_band_sweep",
      (s, dir) => Multimodal.videoBandSweep(s, t(s, dir, "documents"))
        .orderBy(col("band_bits"), col("max_band_occ")),
      Some(s"""WITH $videoSigCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
        FROM (SELECT doc_a FROM vcand_${configs.length - 1}
          GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2) tp)
      SELECT band_bits, max_band_occ, n_hot_buckets, n_pairs,
        tr.n_truth,
        CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) AS recall
      FROM legs CROSS JOIN tr
      ORDER BY band_bits, max_band_occ"""))
  }

  /** L136 — OFFSET-tolerant video near-dup pairs (the trimmed-re-edit
    * class): l133's frame-ALIGNED candidate key is blind to a clip
    * re-posted with its intro cut — no aligned frame matches. Candidates
    * here join on the hash bands alone (frame-BLIND banding; the
    * hot-bucket guard counts the frame-blind occupancy, which grows by
    * the bounded frame count), keep matches whose frame displacement is
    * within ±maxOffset, and verdict per (pair, frame_offset): close-frame
    * count + exact summed Hamming. A head-trim by o frames surfaces as a
    * full-overlap row at displacement o. */
  protected val l136 = DeclaredQuery(
    "l136_video_offset_near_dups",
    (s, dir) => Multimodal.videoOffsetNearDups(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minFrames = 1, maxOffset = 1)
      .orderBy(col("doc_a"), col("doc_b"), col("frame_offset")),
    Some(s"""WITH $videoSigCtes,
      ${videoOffsetCandCtes(2, 500, 1)}
      SELECT doc_a, doc_b, CAST(frame_offset AS BIGINT) AS frame_offset,
        CAST(COUNT(*) AS BIGINT) AS n_close_frames,
        CAST(SUM(hamming) AS BIGINT) AS sum_hamming
      FROM ocand GROUP BY doc_a, doc_b, frame_offset
      ORDER BY doc_a, doc_b, frame_offset"""))

  /** The frame-BLIND banded offset-candidate pairs (l136's chain,
    * parameterized like `videoCandCtes`): bucket key = (band_idx,
    * band_val) alone, displacement window ±maxOffset, per-frame Hamming
    * verify. `src` is the per-frame sig table (vdh, or l138's
    * collapsed-rep restriction). */
  private def videoOffsetCandCtes(maxHamming: Int, maxBandOcc: Long,
                                  maxOffset: Int,
                                  src: String = "vdh",
                                  sfx: String = ""): String =
    s"""obands$sfx AS MATERIALIZED (SELECT doc_id, f, dhash, band_idx,
          (dhash >> CAST(8*band_idx AS INTEGER)) & 255 AS band_val
        FROM (SELECT doc_id, f, dhash, unnest(range(8)) AS band_idx
          FROM $src)),
      ohot$sfx AS (SELECT band_idx, band_val FROM obands$sfx
        GROUP BY band_idx, band_val HAVING count(*) > $maxBandOcc),
      olive$sfx AS (SELECT b.* FROM obands$sfx b WHERE NOT EXISTS
        (SELECT 1 FROM ohot$sfx h WHERE h.band_idx = b.band_idx
          AND h.band_val = b.band_val)),
      ocand$sfx AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a,
          y.doc_id AS doc_b, y.f - x.f AS frame_offset, x.f AS f,
          CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
        FROM olive$sfx x JOIN olive$sfx y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.doc_id < y.doc_id
          AND y.f - x.f BETWEEN -$maxOffset AND $maxOffset
        WHERE bit_count(xor(x.dhash, y.dhash)) <= $maxHamming)"""

  /** One offset-sweep leg row (SQL fragment): the per-(pair, offset)
    * verdict-row count and the distinct pair count over `ocand$sfx`. */
  private def offsetSweepLegRow(o: Int, sfx: String,
                                minFrames: Int): String =
    s"""SELECT CAST($o AS BIGINT) AS max_offset,
        (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT doc_a, doc_b, frame_offset FROM ocand$sfx
          GROUP BY doc_a, doc_b, frame_offset
          HAVING COUNT(*) >= $minFrames) r$sfx) AS n_offset_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT doc_a, doc_b FROM ocand$sfx
            GROUP BY doc_a, doc_b, frame_offset
            HAVING COUNT(*) >= $minFrames) q$sfx) p$sfx) AS n_pairs"""

  /** L147 — video OFFSET-WINDOW sweep: the knob-pricing table for the
    * displacement window itself (the offset planes' own knob), per
    * maxOffset config the verdict-row and distinct-pair counts next to
    * the widest-window truth leg; wider windows find supersets, so
    * recall is a pure ratio of exact counts. */
  protected val l147 = {
    val offsets = Seq(0, 1, 2)
    val legs = offsets.zipWithIndex.map { case (o, i) =>
      videoOffsetCandCtes(2, 500, o, sfx = s"_$i")
    }.mkString(",\n      ")
    val rows = offsets.zipWithIndex.map { case (o, i) =>
      offsetSweepLegRow(o, s"_$i", 1)
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l147_video_offset_sweep",
      (s, dir) => Multimodal.videoOffsetSweep(s, t(s, dir, "documents"),
        maxHamming = 2, maxBandOcc = 500, minFrames = 1,
        offsets = Seq(0, 1, 2))
        .orderBy(col("max_offset")),
      Some(s"""WITH $videoSigCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_offset = ${offsets.last})
      SELECT max_offset, n_offset_rows, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_offset"""))
  }

  /** L148 — audio offset-window sweep: l147's twin on the window-
    * fingerprint plane, same shared core and leg CTEs over the audio
    * window signature chain. */
  protected val l148 = {
    val offsets = Seq(0, 1, 2)
    val legs = offsets.zipWithIndex.map { case (o, i) =>
      videoOffsetCandCtes(2, 500, o, sfx = s"_$i")
    }.mkString(",\n      ")
    val rows = offsets.zipWithIndex.map { case (o, i) =>
      offsetSweepLegRow(o, s"_$i", 1)
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l148_audio_offset_sweep",
      (s, dir) => Multimodal.audioOffsetSweep(s, t(s, dir, "documents"),
        maxHamming = 2, maxBandOcc = 500, minWindows = 1,
        offsets = Seq(0, 1, 2))
        .orderBy(col("max_offset")),
      Some(s"""WITH $audioWindowSigCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_offset = ${offsets.last})
      SELECT max_offset, n_offset_rows, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_offset"""))
  }

  /** L138 — OFFSET-tolerant VIDEO dedup APPLY: the l134 shape over the
    * l136 pair semantics — a trimmed re-edit collapses into its
    * source's cluster instead of surviving as a "new" clip. Exact-
    * SEQUENCE pre-collapse → offset pairs among reps (≥ minFrames close
    * frames at a SINGLE displacement — one coherent temporal shift) →
    * recursive-CTE transitive closure vs the engine's auto-selected CC
    * machinery (the l134 precedent, fourth instance) → keep each
    * cluster's min doc_id → anti-join. */
  protected val l138 = DeclaredQuery(
    "l138_video_offset_dedup_apply",
    (s, dir) => Multimodal.videoOffsetDedupApply(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minFrames = 2, maxOffset = 1)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $videoSigCtes,
      vvec AS (SELECT doc_id, list(dhash ORDER BY f) AS sv
        FROM vdh GROUP BY doc_id),
      vrep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id
        FROM vvec GROUP BY sv),
      vdhr AS MATERIALIZED (SELECT d.* FROM vdh d
        JOIN vrep USING (doc_id)),
      ${videoOffsetCandCtes(2, 500, 1, src = "vdhr")},
      vpairs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM (
        SELECT doc_a, doc_b FROM ocand
        GROUP BY doc_a, doc_b, frame_offset HAVING COUNT(*) >= 2) p),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM vpairs
                UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
      SELECT vb.doc_id, CAST(vb.nf AS BIGINT) AS n_frames FROM vb
      JOIN vrep USING (doc_id)
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = vb.doc_id)
      ORDER BY vb.doc_id"""))

  /** L137 — TEMPORAL frame-sample, payload→payload (the video twin of
    * l42's resize / l115's resample / l20's scanline sample — the
    * transform family now spans every payload modality): keep every
    * stride-th frame of each GV1 container, re-emit a spec-valid GV1
    * container, and decode THAT through the full l132 feature walk — the
    * standard vision-LM pre-training move (train on every k-th frame),
    * receipted by re-decoding the transformed payload with the real
    * parser. Oracle: l132's container arithmetic restricted to the kept
    * frames (f ≡ 0 mod 2), with the byte size recomputed for the
    * re-emitted canonical container. */
  protected val l137 = DeclaredQuery(
    "l137_video_frame_sample",
    (s, dir) => Multimodal.videoFeatures(s,
        Multimodal.videoFrameSampleContainer(s,
          Multimodal.encodeVideo(s, t(s, dir, "documents")).toDF(),
          stride = 2).toDF()).toDF()
      .orderBy(col("doc_id")),
    Some(s"""WITH $videoBaseCtes,
      vks AS (SELECT doc_id, (nf + 1) // 2 AS nfs FROM vb),
      vsum AS (SELECT doc_id, f,
          CAST(list_reduce(list_transform(range(w*h*3),
            k -> ${ppmPx("k + 7*f")}), (x, y) -> x + y) AS BIGINT) AS fsum
        FROM vfr WHERE f % 2 = 0),
      agg AS (SELECT doc_id, CAST(SUM(fsum) AS BIGINT) AS px_sum,
          CAST(MIN(fsum) AS BIGINT) AS frame_sum_min,
          CAST(MAX(fsum) AS BIGINT) AS frame_sum_max
        FROM vsum GROUP BY doc_id)
      SELECT vb.doc_id, CAST(vks.nfs AS BIGINT) AS n_frames,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(4 + length(CAST(vks.nfs AS VARCHAR)) + 1
          + vks.nfs * (3 + length(CAST(w AS VARCHAR)) + 1
          + length(CAST(h AS VARCHAR)) + 1 + 4 + w*h*3) AS BIGINT)
          AS n_bytes,
        agg.px_sum, agg.frame_sum_min, agg.frame_sum_max
      FROM vb JOIN vks USING (doc_id) JOIN agg USING (doc_id)
      ORDER BY vb.doc_id"""))

  /** L139 — HORIZONTAL FLIP, payload→payload: the classic vision-
    * training augmentation (and the cheapest deliberate-evasion
    * re-upload — the class l140 catches): every pixel row reversed,
    * channels in order, canonical header; audited like l42 by sizes +
    * the md5 of the re-emitted payload (the corpus is printable ASCII,
    * so DuckDB's md5-of-string hashes the same bytes). */
  protected val l139 = DeclaredQuery(
    "l139_image_flip",
    (s, dir) => {
      val blobs = Multimodal.encodePpm(s, t(s, dir, "documents")).toDF()
      val orig = blobs.select(col("doc_id"),
        length(col("payload")).cast(LongType).as("orig_bytes"))
      Multimodal.flipHorizontal(s, blobs).toDF()
        .select(col("doc_id"),
          length(col("payload")).cast(LongType).as("flipped_bytes"),
          md5(col("payload")).as("flipped_md5"))
        .join(orig, "doc_id")
        .select(col("doc_id"), col("orig_bytes"), col("flipped_bytes"),
          col("flipped_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $ppmCte
      SELECT doc_id,
        CAST(length(${ppmHdr("w", "h")}) + w*h*3 AS BIGINT) AS orig_bytes,
        CAST(length(${ppmHdr("w", "h")}) + w*h*3 AS BIGINT)
          AS flipped_bytes,
        md5(${ppmHdr("w", "h")} ||
          array_to_string(list_transform(range(0, w*h*3), k ->
            CASE WHEN len = 0 THEN '0' ELSE substr(text,
              CAST((((k // (w*3)) * w + (w - 1 - (k % (w*3)) // 3)) * 3
                + k % 3) % len + 1 AS INTEGER), 1) END), '')) AS flipped_md5
      FROM ppm ORDER BY doc_id"""))

  /** L146 — Manku-style PAIRED-GROUP candidate keys (WWW'07 §3): the
    * lever PAST the band-width ladder's end. 16-bit bands (the widest
    * lossless width for Hamming ≤ 3) give 2¹⁶ buckets, so occupancy
    * grows as n/2¹⁶ and the guard starts eating recall around
    * targetOcc·2¹⁶ ≈ 4M signatures; keying each of the C(6,2) = 15
    * tables on a PAIR of bit-groups gives 21–22-bit keys — buckets
    * 32–64× smaller — and stays recall-lossless for Hamming ≤ 4 (≤ 4
    * errors touch ≤ 4 of 6 groups; some pair is untouched). Pair table
    * byte-equal to l122's banded form within the shared lossless
    * radius (LlmSpec pin). */
  /** The 15 paired-group key legs over a (doc_id, dhash) CTE `src` —
    * the SQL replay of `Multimodal.SigGroups`/`sigGroupKeyed`, shared
    * by l146 and l149 so the two oracles can never disagree on the
    * grouping. */
  private def groupedKeyCtes(src: String = "dh",
                             extra: String = ""): String = {
    val groups = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10),
      (54, 10))
    val tables = for { i <- 0 until 6; j <- (i + 1) until 6 } yield (i, j)
    val keyLegs = tables.zipWithIndex.map { case ((i, j), t) =>
      val (oi, wi) = groups(i)
      val (oj, wj) = groups(j)
      s"""SELECT doc_id$extra, dhash, $t AS table_id,
          ((dhash >> $oi) & ${(1L << wi) - 1}) * ${1L << wj}
            + ((dhash >> $oj) & ${(1L << wj) - 1}) AS tkey
        FROM $src"""
    }.mkString("\n        UNION ALL ")
    s"""keyed AS MATERIALIZED (
        $keyLegs)"""
  }

  protected val l146 =
    DeclaredQuery(
      "l146_image_near_dups_grouped",
      (s, dir) => Multimodal.imageNearDupsGrouped(s, t(s, dir, "documents"),
        maxHamming = 2, maxTableOcc = 500)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $dHashBaseCtes,
      ${groupedKeyCtes()},
      khot AS (SELECT table_id, tkey FROM keyed
        GROUP BY table_id, tkey HAVING count(*) > 500),
      klive AS (SELECT k.* FROM keyed k WHERE NOT EXISTS
        (SELECT 1 FROM khot h WHERE h.table_id = k.table_id
          AND h.tkey = k.tkey))
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
      FROM klive x JOIN klive y
        ON x.table_id = y.table_id AND x.tkey = y.tkey
        AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.dhash, y.dhash)) <= 2
      ORDER BY doc_a, doc_b"""))

  /** L149 — GROUPED-KEY occupancy-guard SWEEP: the l126 knob-pricing
    * discipline on the l146 paired-group tables — per maxTableOcc cap,
    * hot (table_id, tkey) buckets and retained verified pairs next to
    * the unguarded TRUTH leg, making the grouped path's one knob
    * choosable from a measured table instead of a single receipt
    * (round-18 directive #6). One hash pass and one unguarded
    * candidate join serve every leg: each candidate row carries its
    * bucket's occupancy, so leg `cap` is a filter, not a re-join. */
  protected val l149 = {
    val caps = Seq(50L, 500L, (1 << 30).toLong)
    val rows = caps.zipWithIndex.map { case (cap, i) =>
      s"""SELECT CAST($cap AS BIGINT) AS max_table_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM kocc
            WHERE occ > $cap) AS n_hot_tables,
          (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT c.doc_a, c.doc_b FROM ucand c
            JOIN kocc o ON c.table_id = o.table_id AND c.tkey = o.tkey
            WHERE o.occ <= $cap) p_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l149_grouped_occ_sweep",
      (s, dir) => Multimodal.imageGroupedOccSweep(s,
        t(s, dir, "documents"), maxHamming = 2,
        caps = Seq(50, 500, 1 << 30))
        .orderBy(col("max_table_occ")),
      Some(s"""WITH $dHashBaseCtes,
      ${groupedKeyCtes()},
      kocc AS MATERIALIZED (SELECT table_id, tkey, count(*) AS occ
        FROM keyed GROUP BY table_id, tkey),
      ucand AS MATERIALIZED (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          x.table_id, x.tkey
        FROM keyed x JOIN keyed y
          ON x.table_id = y.table_id AND x.tkey = y.tkey
          AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.dhash, y.dhash)) <= 2),
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_table_occ = ${caps.last})
      SELECT max_table_occ, n_hot_tables, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_table_occ"""))
  }

  /** L150 — FRAME-plane GROUPED-KEY occupancy-guard SWEEP: l149's
    * knob-pricing discipline over the frame-BLIND offset tables
    * (round-19 directive #2) — the plane that crosses the grouped
    * threshold FIRST (collision unit = clips × frames sig rows) and
    * showed the largest residual guard loss in the round-19 receipts,
    * yet had no declared cap-pricing query of its own. Per cap: hot
    * (table_id, tkey) buckets over the per-frame grouped keys and the
    * retained OFFSET-PAIR count in l136's production currency —
    * (doc_a, doc_b, frame_offset) verdicts with ≥ minFrames close
    * frames at one displacement — next to the unguarded truth leg.
    * One hash pass + ONE unguarded displacement-window candidate join
    * serve every leg (each candidate row carries its bucket's
    * occupancy; a leg is a filter, not a re-join). */
  protected val l150 = {
    val caps = Seq(50L, 500L, (1 << 30).toLong)
    val rows = caps.zipWithIndex.map { case (cap, i) =>
      s"""SELECT CAST($cap AS BIGINT) AS max_table_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM gocc
            WHERE occ > $cap) AS n_hot_tables,
          (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT doc_a, doc_b, frame_offset FROM (
              SELECT DISTINCT c.doc_a, c.doc_b, c.frame_offset, c.fidx
              FROM gucand c JOIN gocc o
                ON c.table_id = o.table_id AND c.tkey = o.tkey
              WHERE o.occ <= $cap) d_$i
            GROUP BY doc_a, doc_b, frame_offset
            HAVING count(*) >= 1) p_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l150_video_offset_grouped_occ_sweep",
      (s, dir) => Multimodal.videoOffsetGroupedOccSweep(s,
        t(s, dir, "documents"), maxHamming = 2, minFrames = 1,
        maxOffset = 1, caps = Seq(50, 500, 1 << 30))
        .orderBy(col("max_table_occ")),
      Some(s"""WITH $videoSigCtes,
      ${groupedKeyCtes(src = "vdh", extra = ", f")},
      gocc AS MATERIALIZED (SELECT table_id, tkey, count(*) AS occ
        FROM keyed GROUP BY table_id, tkey),
      gucand AS MATERIALIZED (SELECT x.doc_id AS doc_a,
          y.doc_id AS doc_b, CAST(y.f - x.f AS BIGINT) AS frame_offset,
          x.f AS fidx, x.table_id, x.tkey
        FROM keyed x JOIN keyed y
          ON x.table_id = y.table_id AND x.tkey = y.tkey
          AND x.doc_id < y.doc_id
          AND y.f - x.f BETWEEN -1 AND 1
        WHERE bit_count(xor(x.dhash, y.dhash)) <= 2),
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_table_occ = ${caps.last})
      SELECT max_table_occ, n_hot_tables, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_table_occ"""))
  }

  /** L151 — frame-ALIGNED grouped occupancy sweep: the l149/l150
    * discipline on the l133/l134 candidate family — per cap, hot
    * (frame_idx, table_id, tkey) buckets over the aligned grouped keys
    * and retained PAIR counts in the aligned production currency
    * ((doc_a, doc_b) with ≥ minFrames aligned close frames) next to
    * the unguarded truth leg. Completes declared grouped-sweep
    * symmetry: image l149, frame-blind l150, aligned this, audio
    * windows l152 — one shared Spark core, four oracles. */
  protected val l151 = {
    val caps = Seq(50L, 500L, (1 << 30).toLong)
    val rows = caps.zipWithIndex.map { case (cap, i) =>
      s"""SELECT CAST($cap AS BIGINT) AS max_table_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM kocc
            WHERE occ > $cap) AS n_hot_tables,
          (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT doc_a, doc_b FROM (
              SELECT DISTINCT c.doc_a, c.doc_b, c.fidx
              FROM ucand c JOIN kocc o
                ON c.fidx = o.f AND c.table_id = o.table_id
                AND c.tkey = o.tkey
              WHERE o.occ <= $cap) d_$i
            GROUP BY doc_a, doc_b
            HAVING count(*) >= 2) p_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l151_video_aligned_grouped_occ_sweep",
      (s, dir) => Multimodal.videoAlignedGroupedOccSweep(s,
        t(s, dir, "documents"), maxHamming = 2, minFrames = 2,
        caps = Seq(50, 500, 1 << 30))
        .orderBy(col("max_table_occ")),
      Some(s"""WITH $videoSigCtes,
      ${groupedKeyCtes(src = "vdh", extra = ", f")},
      kocc AS MATERIALIZED (SELECT f, table_id, tkey, count(*) AS occ
        FROM keyed GROUP BY f, table_id, tkey),
      ucand AS MATERIALIZED (SELECT x.doc_id AS doc_a,
          y.doc_id AS doc_b, x.f AS fidx, x.table_id, x.tkey
        FROM keyed x JOIN keyed y
          ON x.f = y.f AND x.table_id = y.table_id AND x.tkey = y.tkey
          AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.dhash, y.dhash)) <= 2),
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_table_occ = ${caps.last})
      SELECT max_table_occ, n_hot_tables, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_table_occ"""))
  }

  /** L152 — AUDIO-window grouped occupancy sweep: l150 verbatim on the
    * 65-sample window fingerprints — same shared core, same leg shape,
    * the audio sig CTE chain in place of the video one. */
  protected val l152 = {
    val caps = Seq(50L, 500L, (1 << 30).toLong)
    val rows = caps.zipWithIndex.map { case (cap, i) =>
      s"""SELECT CAST($cap AS BIGINT) AS max_table_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM gocc
            WHERE occ > $cap) AS n_hot_tables,
          (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT doc_a, doc_b, frame_offset FROM (
              SELECT DISTINCT c.doc_a, c.doc_b, c.frame_offset, c.fidx
              FROM gucand c JOIN gocc o
                ON c.table_id = o.table_id AND c.tkey = o.tkey
              WHERE o.occ <= $cap) d_$i
            GROUP BY doc_a, doc_b, frame_offset
            HAVING count(*) >= 1) p_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l152_audio_offset_grouped_occ_sweep",
      (s, dir) => Multimodal.audioOffsetGroupedOccSweep(s,
        t(s, dir, "documents"), maxHamming = 2, minWindows = 1,
        maxOffset = 1, caps = Seq(50, 500, 1 << 30))
        .orderBy(col("max_table_occ")),
      Some(s"""WITH $audioWindowSigCtes,
      ${groupedKeyCtes(src = "vdh", extra = ", f")},
      gocc AS MATERIALIZED (SELECT table_id, tkey, count(*) AS occ
        FROM keyed GROUP BY table_id, tkey),
      gucand AS MATERIALIZED (SELECT x.doc_id AS doc_a,
          y.doc_id AS doc_b, CAST(y.f - x.f AS BIGINT) AS frame_offset,
          x.f AS fidx, x.table_id, x.tkey
        FROM keyed x JOIN keyed y
          ON x.table_id = y.table_id AND x.tkey = y.tkey
          AND x.doc_id < y.doc_id
          AND y.f - x.f BETWEEN -1 AND 1
        WHERE bit_count(xor(x.dhash, y.dhash)) <= 2),
      legs AS (
        $rows),
      tr AS (SELECT n_pairs AS n_truth FROM legs
        WHERE max_table_occ = ${caps.last})
      SELECT max_table_occ, n_hot_tables, n_pairs, tr.n_truth,
        CASE WHEN tr.n_truth = 0 THEN CAST('NaN' AS DOUBLE)
          ELSE CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) END
          AS recall
      FROM legs CROSS JOIN tr
      ORDER BY max_table_occ"""))
  }

  /** The flip-canonical signature CTE chain: the dHash base plus the
    * MIRRORED-orientation grid/hash (source column w−1−⌊gx·w/9⌋ — the
    * flipped image's grid IS the original sampled at mirrored columns,
    * so canonicalization is exact, no resampling error) and the signed-
    * min canonical signature with its orientation bit. */
  private def flipSigCtes: String = {
    val grayCellM = "(" + (0 until 3).map(c =>
      ppmPx(s"((((i//9)*h//8)*w + (w - 1 - (i%9)*w//9))*3 + $c)"))
      .mkString(" + ") + ")"
    val bitTerm =
      """CASE WHEN grid[CAST((b//8)*9 + (b%8) + 1 AS INTEGER)] >
                grid[CAST((b//8)*9 + (b%8) + 2 AS INTEGER)]
           THEN CASE WHEN b = 63
                THEN CAST(-9223372036854775807 AS BIGINT) - 1
                ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
           ELSE CAST(0 AS BIGINT) END"""
    s"""$dHashBaseCtes,
      gm AS (SELECT doc_id,
          list_transform(range(72), i -> $grayCellM) AS grid FROM ppm),
      dhm AS (SELECT doc_id,
          list_reduce(list_transform(range(64), b -> $bitTerm),
            (x, y) -> x + y) AS mhash FROM gm),
      fsig AS MATERIALIZED (SELECT d.doc_id,
          CASE WHEN m.mhash < d.dhash THEN m.mhash ELSE d.dhash END
            AS dhash,
          (m.mhash < d.dhash) AS flip
        FROM dh d JOIN dhm m USING (doc_id))"""
  }

  /** L140 — FLIP-INVARIANT image near-dup pairs: the duplicate class
    * plain dHash (l122) is blind to — a horizontally mirrored re-post.
    * Signature = signed-min of the two orientation hashes (one raster
    * pass), then the standard banding/guard/Hamming core on the
    * canonical signature; each pair carries both orientation bits
    * (flip_a ≠ flip_b ⇒ the match crossed orientations). */
  protected val l140 = DeclaredQuery(
    "l140_image_flip_invariant_near_dups",
    (s, dir) => Multimodal.imageFlipInvariantNearDups(s,
      t(s, dir, "documents"), maxHamming = 2, maxBandOcc = 500)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $flipSigCtes,
      ${bandLegCtes("", 8, 2, 500, src = "fsig")}
      SELECT c.doc_a, c.doc_b, c.hamming,
        fa.flip AS flip_a, fb.flip AS flip_b
      FROM cand c
      JOIN fsig fa ON fa.doc_id = c.doc_a
      JOIN fsig fb ON fb.doc_id = c.doc_b
      ORDER BY doc_a, doc_b"""))

  /** L141 — FLIP-INVARIANT image dedup APPLY: the l125 recursive-closure
    * shape over the flip-canonical signature — a mirrored re-post
    * collapses into its source's cluster (the plain l125 apply keeps
    * it); exact-hash pre-collapse by canonical-hash EQUALITY (an
    * orientation-crossing exact-re-post clique collapses whole,
    * guard-immune) → banded rep pairs → transitive closure → keep-min →
    * anti-join. */
  protected val l141 = DeclaredQuery(
    "l141_image_flip_dedup_apply",
    (s, dir) => Multimodal.imageFlipInvariantDedupApply(s,
      t(s, dir, "documents"), maxHamming = 2, maxBandOcc = 500)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $flipSigCtes,
      rep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id, dhash
        FROM fsig GROUP BY dhash),
      ${bandLegCtes("", 8, 2, 500, src = "rep")},
      edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
                UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
      SELECT r.doc_id, r.dhash FROM rep r
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = r.doc_id)
      ORDER BY r.doc_id"""))

  /** L142 — FLIP-INVARIANT band-width/guard SWEEP: the l126 knob-pricing
    * table on the canonical-signature plane — the guard/width trade is
    * a property of the signature DISTRIBUTION, and min-folding two
    * orientation hashes changes it, so the flip plane earns its own
    * measured table. */
  protected val l142 = {
    val configs = Seq((8, 500L), (16, 500L), (16, (1 << 30).toLong))
    val legs = configs.zipWithIndex.map { case ((bits, cap), i) =>
      bandLegCtes(s"_$i", bits, 2, cap, src = "fsig")
    }.mkString(",\n      ")
    val rows = configs.zipWithIndex.map { case ((bits, cap), i) =>
      s"""SELECT CAST($bits AS BIGINT) AS band_bits,
          CAST($cap AS BIGINT) AS max_band_occ,
          (SELECT CAST(count(*) AS BIGINT) FROM hot_$i) AS n_hot_buckets,
          (SELECT CAST(count(*) AS BIGINT) FROM cand_$i) AS n_pairs"""
    }.mkString("\n        UNION ALL ")
    DeclaredQuery(
      "l142_image_flip_band_sweep",
      (s, dir) => Multimodal.imageFlipBandSweep(s, t(s, dir, "documents"))
        .orderBy(col("band_bits"), col("max_band_occ")),
      Some(s"""WITH $flipSigCtes,
      $legs,
      legs AS (
        $rows),
      tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
        FROM cand_${configs.length - 1})
      SELECT band_bits, max_band_occ, n_hot_buckets, n_pairs,
        tr.n_truth,
        CAST(n_pairs AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) AS recall
      FROM legs CROSS JOIN tr
      ORDER BY band_bits, max_band_occ"""))
  }

  /** The deterministic WAV sample value for index `k` (SQL fragment) —
    * signed16(text[k % len] << 8 | text[(k+5) % len]), replaying
    * Multimodal.encodeWav's derivation. Text is ASCII in the fixture, so
    * ascii(substr(..)) IS the byte. */
  protected def wavSample(k: String) =
    s"""CASE WHEN len = 0 THEN 0 ELSE
        CASE WHEN ascii(substr(text, CAST(($k) % len + 1 AS INTEGER), 1)) * 256
              + ascii(substr(text, CAST((($k) + 5) % len + 1 AS INTEGER), 1)) >= 32768
        THEN ascii(substr(text, CAST(($k) % len + 1 AS INTEGER), 1)) * 256
           + ascii(substr(text, CAST((($k) + 5) % len + 1 AS INTEGER), 1)) - 65536
        ELSE ascii(substr(text, CAST(($k) % len + 1 AS INTEGER), 1)) * 256
           + ascii(substr(text, CAST((($k) + 5) % len + 1 AS INTEGER), 1)) END END"""

  /** L127 — AUDIO near-duplicate pairs: the l122 machinery on the audio
    * plane — 64 loudness-gradient signs over a 65-chunk exact-integer
    * energy envelope (Σ|s| per chunk, gain-invariant by construction),
    * the same 8×8-bit banding + hot-band guard + Hamming verify, and
    * the exact envelope-L1 audit column. Completes dedup across every
    * modality the engine decodes. The oracle regenerates the samples
    * (the l115 trick) and replays envelope/hash/banding bit-identically
    * — all BIGINT arithmetic. */
  protected val l127 = DeclaredQuery(
    "l127_audio_near_dups",
    (s, dir) => Multimodal.audioNearDups(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500)
      .withColumnRenamed("grid_l1", "env_l1")
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $audioSigCtes,
      ${bandLegCtes("", 8, 2, 500)}
      SELECT c.doc_a, c.doc_b, c.hamming,
        CAST(list_reduce(list_transform(range(65),
          i -> abs(ga.grid[CAST(i + 1 AS INTEGER)]
                 - gb.grid[CAST(i + 1 AS INTEGER)])),
          (x, y) -> x + y) AS BIGINT) AS env_l1
      FROM cand c
      JOIN dh ga ON ga.doc_id = c.doc_a
      JOIN dh gb ON gb.doc_id = c.doc_b
      ORDER BY doc_a, doc_b"""))

  /** The shared audio signature CTE chain (t/wav/smp/env/dh) — the WAV
    * regeneration, the 65-chunk exact-integer energy envelope, and the
    * 64-bit gradient-sign hash, replaying `Multimodal.audioHash`
    * bit-identically (all BIGINT arithmetic). Used by l127 (pairs) and
    * l128 (apply). */
  private def audioSigCtes: String = {
    val envBit =
      """CASE WHEN grid[CAST(b + 1 AS INTEGER)] >
                grid[CAST(b + 2 AS INTEGER)]
           THEN CASE WHEN b = 63
                THEN CAST(-9223372036854775807 AS BIGINT) - 1
                ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
           ELSE CAST(0 AS BIGINT) END"""
    s"""t AS (SELECT doc_id, text,
               length(COALESCE(text, '')) AS len FROM documents),
      wav AS (SELECT doc_id, text, len,
          CASE WHEN len = 0 THEN 1
               ELSE 1 + (ascii(substr(text, 1, 1)) * 31
                 + ascii(substr(text, len, 1))) % 200 END AS n
        FROM t),
      smp AS MATERIALIZED (SELECT doc_id, n,
          list_transform(range(0, n),
            k -> CAST(${wavSample("k")} AS BIGINT)) AS ss
        FROM wav),
      env AS (SELECT doc_id, list_transform(range(65), i ->
          CASE WHEN (i+1)*n//65 > i*n//65 THEN
            list_reduce(list_transform(range(i*n//65, (i+1)*n//65),
              k -> abs(ss[CAST(k + 1 AS INTEGER)])), (x, y) -> x + y)
          ELSE CAST(0 AS BIGINT) END) AS grid
        FROM smp),
      dh AS MATERIALIZED (SELECT doc_id, grid,
          list_reduce(list_transform(range(64), b -> $envBit),
            (x, y) -> x + y) AS dhash FROM env)"""
  }

  /** L128 — audio dedup APPLY (the l125 shape on the audio plane,
    * closing the ladder asymmetry round 17 left: images shipped
    * pairs→apply→sweep→streaming, audio stopped at l127 pairs):
    * exact-hash pre-collapse (one min-id representative per distinct
    * gradient-sign signature — a re-mastered viral clip enters the CC
    * as one node, immune to the hot-band guard), banded rep pairs,
    * transitive closure, keep each cluster's minimum doc_id, anti-join
    * the losers; output the surviving (doc_id, dhash). Spark side runs
    * the auto-selected CC machinery; the oracle runs a recursive-CTE
    * closure — two very different algorithms that must agree exactly
    * (the l125 precedent). */
  protected val l128 = DeclaredQuery(
    "l128_audio_dedup_apply",
    (s, dir) => Multimodal.audioDedupApply(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $audioSigCtes,
      rep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id, dhash
        FROM dh GROUP BY dhash),
      ${bandLegCtes("", 8, 2, 500, src = "rep")},
      edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
                UNION SELECT doc_b, doc_a FROM cand),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
      SELECT r.doc_id, r.dhash FROM rep r
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = r.doc_id)
      ORDER BY r.doc_id"""))

  /** The audio WINDOW-fingerprint CTE chain: sample regeneration (the
    * l115 trick), one row per FULL 65-sample absolute window, and the
    * per-window gradient-sign hash (bit b = |s[65f+b]| > |s[65f+b+1]|).
    * The final CTE is named `vdh` with columns (doc_id, f, dhash) so
    * the shared frame-plane candidate CTEs consume it unchanged. */
  private def audioWindowSigCtes: String = {
    val winBit =
      """CASE WHEN abs(ss[CAST(65*f + b + 1 AS INTEGER)]) >
                abs(ss[CAST(65*f + b + 2 AS INTEGER)])
           THEN CASE WHEN b = 63
                THEN CAST(-9223372036854775807 AS BIGINT) - 1
                ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END
           ELSE CAST(0 AS BIGINT) END"""
    s"""t AS (SELECT doc_id, text,
               length(COALESCE(text, '')) AS len FROM documents),
      wav AS (SELECT doc_id, text, len,
          CASE WHEN len = 0 THEN 1
               ELSE 1 + (ascii(substr(text, 1, 1)) * 31
                 + ascii(substr(text, len, 1))) % 200 END AS n
        FROM t),
      smp AS MATERIALIZED (SELECT doc_id, n,
          list_transform(range(0, n),
            k -> CAST(${wavSample("k")} AS BIGINT)) AS ss
        FROM wav),
      awin AS (SELECT doc_id, n, ss, unnest(range(n // 65)) AS f
        FROM smp),
      vdh AS MATERIALIZED (SELECT doc_id, f,
          list_reduce(list_transform(range(64), b -> $winBit),
            (x, y) -> x + y) AS dhash
        FROM awin)"""
  }

  /** L143 — OFFSET-tolerant AUDIO near-dup pairs over absolute 65-sample
    * window fingerprints: a head-trimmed re-upload (at window
    * granularity) pairs with its source at the trim's displacement —
    * the clip-level l127 envelope is blind to it (relative chunking
    * scrambles under any trim). The shared frame-plane offset core;
    * verdict per (pair, win_offset). */
  protected val l143 = DeclaredQuery(
    "l143_audio_offset_near_dups",
    (s, dir) => Multimodal.audioOffsetNearDups(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minWindows = 1, maxOffset = 1)
      .orderBy(col("doc_a"), col("doc_b"), col("win_offset")),
    Some(s"""WITH $audioWindowSigCtes,
      ${videoOffsetCandCtes(2, 500, 1)}
      SELECT doc_a, doc_b, CAST(frame_offset AS BIGINT) AS win_offset,
        CAST(COUNT(*) AS BIGINT) AS n_close_windows,
        CAST(SUM(hamming) AS BIGINT) AS sum_hamming
      FROM ocand GROUP BY doc_a, doc_b, frame_offset
      ORDER BY doc_a, doc_b, win_offset"""))

  /** L144 — AUDIO head-trim, payload→payload (the audio crop
    * augmentation and the l143 fixtures' generator): drop the first 65
    * samples (clamped to keep at least one), re-emit a canonical WAV,
    * and decode THAT through the full l115 feature walk — the real
    * parser receipts the re-emit. */
  protected val l144 = DeclaredQuery(
    "l144_audio_trim",
    (s, dir) => Multimodal.audioFeatures(s,
        Multimodal.audioTrimHeadContainer(s,
          Multimodal.encodeWav(s, t(s, dir, "documents")).toDF(),
          nSamples = 65).toDF()).toDF()
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text,
               length(COALESCE(text, '')) AS len FROM documents),
      wav AS (SELECT doc_id, text, len,
          CASE WHEN len = 0 THEN 1
               ELSE 1 + (ascii(substr(text, 1, 1)) * 31
                 + ascii(substr(text, len, 1))) % 200 END AS n
        FROM t),
      trm AS (SELECT doc_id, text, len, n,
          CASE WHEN n - 1 < 65 THEN n - 1 ELSE 65 END AS tr FROM wav),
      smp AS (SELECT doc_id, n - tr AS n2,
          list_transform(range(0, n - tr),
            k -> CAST(${wavSample("k + tr")} AS BIGINT)) AS ss
        FROM trm)
      SELECT doc_id,
        CAST(44 + 2 * n2 AS BIGINT) AS n_bytes,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST(n2 AS BIGINT) AS n_samples,
        CAST(list_reduce(ss, (x, y) -> x + y) AS BIGINT) AS sum_s,
        CAST(list_min(ss) AS BIGINT) AS min_s,
        CAST(list_max(ss) AS BIGINT) AS max_s,
        CAST(list_reduce(list_transform(ss, x -> x * x),
          (x, y) -> x + y) AS BIGINT) AS energy,
        CAST(list_reduce(ss, (x, y) -> x + y) AS DOUBLE)
          / CAST(n2 AS DOUBLE) AS mean_amp
      FROM smp ORDER BY doc_id"""))

  /** L145 — OFFSET-tolerant AUDIO dedup APPLY: exact window-vector
    * pre-collapse → offset pairs among reps → recursive-CTE closure →
    * keep-min → anti-join; sub-window clips (no fingerprint) are ALWAYS
    * kept with n_windows = 0 — never silently dropped. */
  protected val l145 = DeclaredQuery(
    "l145_audio_offset_dedup_apply",
    (s, dir) => Multimodal.audioOffsetDedupApply(s, t(s, dir, "documents"),
      maxHamming = 2, maxBandOcc = 500, minWindows = 1, maxOffset = 1)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $audioWindowSigCtes,
      vvec AS (SELECT doc_id, list(dhash ORDER BY f) AS sv
        FROM vdh GROUP BY doc_id),
      vrep AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id
        FROM vvec GROUP BY sv),
      vdhr AS MATERIALIZED (SELECT d.* FROM vdh d
        JOIN vrep USING (doc_id)),
      ${videoOffsetCandCtes(2, 500, 1, src = "vdhr")},
      vpairs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM (
        SELECT doc_a, doc_b FROM ocand
        GROUP BY doc_a, doc_b, frame_offset HAVING COUNT(*) >= 1) p),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM vpairs
                UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id
              FROM reach GROUP BY a),
      ccl AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
      coll AS (SELECT DISTINCT v.doc_id FROM vdh v WHERE NOT EXISTS
        (SELECT 1 FROM vrep r WHERE r.doc_id = v.doc_id)),
      losers AS (SELECT doc_id FROM ccl
                 UNION SELECT doc_id FROM coll)
      SELECT w.doc_id, CAST(w.n // 65 AS BIGINT) AS n_windows FROM wav w
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = w.doc_id)
      ORDER BY w.doc_id"""))

  /** L115 — multimodal AUDIO decode: deterministic 16-bit PCM mono WAV
    * payloads (real RIFF/WAVE container, canonical 44-byte header)
    * through the REAL chunk-walking parser (`Multimodal.parseWav` —
    * magic + riff-size check, even-padded chunk iteration that skips
    * LIST/fact chunks, PCM/mono/16-bit fmt validation); features =
    * container size + header sample rate + exact integer sample stats
    * (sum, min, max, Σs² energy) + the one-division mean. Completes the
    * multimodal plane across modalities: image decode/features/resize/
    * frame-sample (l11/l41/l42/l20) + audio decode/features/resample.
    * The oracle regenerates the same samples in SQL (the l11 trick) and
    * replays the stats exactly — all LONG arithmetic, order-free. */
  protected val l115 = DeclaredQuery(
    "l115_audio_decode",
    (s, dir) =>
      Multimodal.audioFeatures(s,
        Multimodal.encodeWav(s, t(s, dir, "documents")).toDF())
        .toDF().orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text,
               length(COALESCE(text, '')) AS len FROM documents),
      wav AS (SELECT doc_id, text, len,
          CASE WHEN len = 0 THEN 1
               ELSE 1 + (ascii(substr(text, 1, 1)) * 31
                 + ascii(substr(text, len, 1))) % 200 END AS n
        FROM t),
      smp AS (SELECT doc_id, n,
          -- BIGINT elements: the energy fold (x*x sums) overflows INT32
          list_transform(range(0, n),
            k -> CAST(${wavSample("k")} AS BIGINT)) AS ss
        FROM wav)
      SELECT doc_id,
        CAST(44 + 2 * n AS BIGINT) AS n_bytes,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST(n AS BIGINT) AS n_samples,
        CAST(list_reduce(ss, (x, y) -> x + y) AS BIGINT) AS sum_s,
        CAST(list_min(ss) AS BIGINT) AS min_s,
        CAST(list_max(ss) AS BIGINT) AS max_s,
        CAST(list_reduce(list_transform(ss, x -> x * x),
          (x, y) -> x + y) AS BIGINT) AS energy,
        CAST(list_reduce(ss, (x, y) -> x + y) AS DOUBLE)
          / CAST(n AS DOUBLE) AS mean_amp
      FROM smp ORDER BY doc_id"""))
}
