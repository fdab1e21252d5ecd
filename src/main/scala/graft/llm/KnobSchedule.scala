package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The corpus-size → index-knob schedule for the embedding operators.
  *
  * Why this exists: scaling an LSH/IVF corpus at FIXED knobs is mistuning,
  * not scaling — expected bucket occupancy is n/2^planes (resp. n/nCells),
  * so candidate pairs per bucket grow quadratically in n until the knobs
  * grow with it. The standard discipline (BASELINE.md's scale-up notes)
  * is to hold occupancy constant: planes ≈ log2(n / targetOccupancy),
  * nCells ≈ √n. This object makes that schedule executable instead of a
  * documentation convention, and pairs each closed-form pick with the
  * measured audit that validates it (Similarity.lshRecallAudit's shape —
  * the l44 operator — and the IVF cell-rank quantile below).
  *
  * LSH recall model (hyperplane LSH, Charikar SimHash): a pair at cosine
  * s collides on one hyperplane with probability q₁(s) = 1 − θ/π,
  * θ = arccos(s); on a `planes`-bit table with probability q₁^planes; in
  * at least one of `tables` independent tables with probability
  * 1 − (1 − q₁^planes)^tables. Solving for tables gives the schedule:
  * the SIZE knob (planes) comes from occupancy, the RECALL knob (tables)
  * from inverting the collision model at the design similarity — the
  * lowest similarity the pipeline must still catch (the dedup/decontam
  * threshold, e.g. 0.3 for l39/l40).
  *
  * IVF has no comparably clean closed form (recall at nProbe depends on
  * how the data clusters), so its probe knob is MEASURED, not modeled:
  * for a query sample's true near-neighbor pairs (exact cosine ≥ minSim),
  * compute the rank of each neighbor's cell in its query's
  * centroid-similarity ordering; the smallest nProbe covering a
  * `targetRecall` fraction of true pairs is that distribution's quantile.
  * One bounded audit job — the sample is small by contract (it is
  * broadcast), the pair set is the sample's near-neighbors, and the only
  * driver-side materialization is that bounded rank list (the same
  * driver-as-planner pattern as fitCentroids' loop control).
  */
object KnobSchedule {

  /** Per-hyperplane collision probability for a pair at cosine `s`. */
  def planeCollisionProb(s: Double): Double = {
    val c = math.max(-1.0, math.min(1.0, s))
    1.0 - math.acos(c) / math.Pi
  }

  /** Planes per table so expected bucket occupancy n/2^planes stays at
    * `targetOccupancy`: the SIZE leg of the schedule. Occupancy is the
    * per-bucket candidate-work bound — holding it constant is what keeps
    * the bucket-join's output linear in n as the corpus grows. */
  def lshPlanes(corpusSize: Long, targetOccupancy: Long = 64L): Int = {
    require(corpusSize > 0 && targetOccupancy > 0)
    math.max(1, math.ceil(
      math.log(corpusSize.toDouble / targetOccupancy) / math.log(2.0)).toInt)
  }

  /** Tables to reach `targetRecall` for a pair at `designSim` given
    * `planes`: the RECALL leg, from inverting 1 − (1 − q₁^p)^T ≥ R.
    * Recall at designSim is the floor — every pair MORE similar than the
    * design point collides with higher probability. */
  def lshTables(planes: Int, targetRecall: Double,
                designSim: Double, maxTables: Int = 64): Int = {
    require(targetRecall > 0 && targetRecall < 1, s"recall in (0,1): $targetRecall")
    val qTable = math.pow(planeCollisionProb(designSim), planes.toDouble)
    if (qTable >= 1.0) 1
    else math.min(maxTables, math.max(1,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-qTable)).toInt))
  }

  /** The LSH schedule: (planes, tables) for a corpus of `corpusSize`
    * vectors, recall target `targetRecall` at similarity `designSim`. */
  def lshKnobs(corpusSize: Long, targetRecall: Double, designSim: Double,
               targetOccupancy: Long = 64L): (Int, Int) = {
    val p = lshPlanes(corpusSize, targetOccupancy)
    (p, lshTables(p, targetRecall, designSim))
  }

  /** IVF cell count: √n keeps per-cell occupancy AND the broadcast
    * centroid table both at √n — the standard balance point (assignment
    * cost n·nCells vs probe cost nProbe·n/nCells). */
  def ivfCells(corpusSize: Long, minCells: Int = 4): Int =
    math.max(minCells, math.round(math.sqrt(corpusSize.toDouble)).toInt)

  /** dHash band WIDTH (bits per band) for the l122 image near-dup
    * banding — the perceptual plane's corpus-size knob. Random band
    * collisions cost n²/2^bits candidate pairs, so a FIXED width is
    * quadratic growth in disguise (the l118 fixed-k argument); widening
    * trades the recall-lossless Hamming radius (pigeonhole: 64/bits
    * bands verify radius 64/bits − 1) for a 2^bits-times larger bucket
    * space. Schedule: the narrowest width ∈ {8, 16, 32} whose expected
    * uniform bucket occupancy n/2^bits stays ≤ targetOcc, capped at the
    * widths whose band count still covers maxHamming losslessly. At
    * radius 2 the admissible widths are 8 and 16 (32-bit = 2 bands
    * verifies only radius 1), so past ~2^22 images the honest next
    * lever is Manku-style grouped keys, not wider bands — shipped as
    * l146 and switched by `dhashUseGroupedKeys` below. */
  def dhashBandBits(corpusSize: Long, maxHamming: Int = 2,
                    targetOcc: Long = 64L): Int = {
    val admissible = Seq(8, 16, 32).filter(b => 64 / b > maxHamming)
    require(admissible.nonEmpty, s"no lossless band width at $maxHamming")
    admissible.find(b => corpusSize.toDouble / math.pow(2.0, b) <= targetOcc)
      .getOrElse(admissible.max)
  }

  /** The band ladder's END-OF-LADDER switch (round 18, l146): true when
    * the widest admissible lossless band width still leaves expected
    * uniform occupancy above targetOcc — i.e. widening can no longer
    * relieve the buckets, and candidate generation should move to the
    * Manku-style PAIRED-GROUP keys (15 tables of 21–22-bit keys,
    * lossless for Hamming ≤ 4, buckets 32–64× smaller than 16-bit
    * bands). At the defaults this flips past ~64·2¹⁶ ≈ 4.2M signatures
    * for radius ≤ 3. Every scheduled candidate generator on the
    * perceptual planes consults this (round 19): the sig-level applies
    * (`sigDedupApply`) and pair twins (`sigPairsScheduled`), the
    * frame-aligned and frame-blind offset paths
    * (`videoAlignedPairsScheduled`/`frameOffsetPairsScheduled` — the
    * frame-blind planes cross FIRST, their collision unit being
    * clips × frames rows), and the streaming admission index
    * (`Multimodal.admissionIndex`, whose family every probe and
    * compaction reads back). Measured receipts (BASELINE.md): the
    * `imagedup` lowcap legs (61× pair retention
    * under the same occupancy pressure) and the `offsetgrouped` legs
    * (banded-8 index already losing 61% of exact-dup admissions at the
    * production cap on a 44k-sig state; grouped losing none). */
  def dhashUseGroupedKeys(corpusSize: Long, maxHamming: Int = 2,
                          targetOcc: Long = 64L): Boolean = {
    val admissible = Seq(8, 16, 32).filter(b => 64 / b > maxHamming)
    require(admissible.nonEmpty, s"no lossless band width at $maxHamming")
    maxHamming <= 4 &&
      corpusSize.toDouble / math.pow(2.0, admissible.max) > targetOcc
  }

  /** MEASURED probe knob: the `targetRecall`-quantile of the cell-rank
    * distribution of true near-neighbors (exact cosine ≥ `minSim`) over
    * the `vec_id % sampleMod == 0` query sample — the smallest nProbe for
    * which a `targetRecall` fraction of true pairs has the neighbor's
    * cell among the query's nProbe nearest centroids. Same centroid
    * convention as annTopKIvf (first-nCells by default; pass the trained
    * ones for l37's path). */
  def ivfProbeForRecall(vectors: DataFrame, nCells: Int,
                        targetRecall: Double, minSim: Double = 0.3,
                        dim: Int = 64, sampleMod: Long = 20,
                        centroids: Option[DataFrame] = None): Int = {
    import Similarity.{dot, norm2, cosine}
    require(targetRecall > 0 && targetRecall <= 1)
    val cents = broadcast(centroids.getOrElse(
      vectors.orderBy(col("vec_id")).limit(nCells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))))
    val q = broadcast(vectors.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(norm2(col("embedding"))).as("qn")))
    val truth = q
      .join(vectors.select(col("vec_id").as("nid"), col("embedding").as("ce"),
          sqrt(norm2(col("embedding"))).as("cn")),
        col("qid") =!= col("nid"))
      .filter(dot(col("qe"), col("ce")) / (col("qn") * col("cn")) >= minSim)
      .select(col("qid"), col("qe"), col("nid"), col("ce"))
    // One fan-out over the centroids computes, per true pair, BOTH the
    // neighbor's argmax cell and the query's similarity at that same cell
    // (max_by with the same ordering struct picks the same row).
    val ord = struct(cosine(col("ce"), col("cent")), -col("cent_id"))
    val assigned = truth.crossJoin(cents)
      .groupBy(col("qid"), col("nid"))
      .agg(first(col("qe")).as("qe"),
        max_by(col("cent_id"), ord).as("cell"),
        max_by(cosine(col("qe"), col("cent")), ord).as("q_at_cell"))
    // rank of the neighbor's cell in the query's (cos desc, cent_id asc)
    // centroid ordering — exactly annTopKIvf's probe ordering
    val ranks = assigned.crossJoin(cents)
      .groupBy(col("qid"), col("nid"))
      .agg((sum(when(
        cosine(col("qe"), col("cent")) > col("q_at_cell")
          || (cosine(col("qe"), col("cent")) === col("q_at_cell")
            && col("cent_id") < col("cell")), 1L).otherwise(0L)) + 1L)
        .as("cell_rank"))
      .select(col("cell_rank"))
      // bounded by |sample| × its near-neighbor count — an audit set, not
      // the corpus (the fitCentroids driver-as-planner pattern)
      .collect().map(_.getLong(0)).sorted
    require(ranks.nonEmpty,
      s"no true pairs at minSim=$minSim — nothing to calibrate against")
    val idx = math.min(ranks.length - 1,
      math.max(0, math.ceil(targetRecall * ranks.length).toInt - 1))
    math.min(nCells, ranks(idx).toInt)
  }

  /** The IVF schedule: (nCells, nProbe) — nCells closed-form, nProbe
    * measured against the corpus via the cell-rank audit. */
  def ivfKnobs(vectors: DataFrame, corpusSize: Long, targetRecall: Double,
               minSim: Double = 0.3, dim: Int = 64,
               sampleMod: Long = 20): (Int, Int) = {
    val cells = ivfCells(corpusSize)
    (cells, ivfProbeForRecall(vectors, cells, targetRecall, minSim, dim, sampleMod))
  }

  /** IVF-PQ (l119) knob COUPLING: cells from the corpus-size schedule,
    * and the ADC shortlist scaled WITH the probe count — shortM =
    * shortPerProbe·nProbe. The measured failure mode this encodes
    * (fixture-corpus recall@3 ladder, LlmSpec/BASELINE round 16): at a
    * FIXED shortM=20, recall reads 0.44/0.67/0.72/0.69 at nProbe
    * 2/4/6/8 — the 8-probe DIP is shortlist starvation (more probed
    * cells push more ADC-approximate candidates into the same fixed
    * shortlist, displacing true neighbors); coupling shortM = 5·nProbe
    * restores monotonicity — 0.667/0.747/0.773 at (4,20)/(6,30)/(8,40),
    * 0.960 at the (16,80) full-scan limit (the residual loss there is
    * pure PQ quantization, the l98 axis). Per-query serve cost stays
    * linear in nProbe on both terms: probed-cell scan ∝ nProbe·(n/k),
    * rerank ∝ shortM ∝ nProbe. */
  def ivfPqKnobs(corpusSize: Long, nProbe: Int = 4,
                 shortPerProbe: Int = 5): (Int, Int, Int) =
    (ivfCells(corpusSize), nProbe, shortPerProbe * nProbe)

  /** MEASURED BM25 term-pruning knob (the l101/S27 serving config): the
    * smallest `dfCapPermille` whose capped top-k keeps ≥ `targetRecall`
    * of the UNCAPPED top-k pairs on a query sample — the WAND/impact-
    * ordering analogue's aggressiveness, data-derived the way nProbe is
    * (a Zipf-flat corpus tolerates a tight cap, a skewed one does not).
    *
    * One scoring pass serves EVERY candidate cap (the l64/l88/l98
    * shared-pass discipline): each (q, doc) pair's per-cap scores are
    * conditional sums over the SAME weighted-postings join — a term
    * admitted at cap c is admitted at every larger cap, so the sweep is
    * |caps| conditional aggregates in one hash-agg, never |caps| joins.
    * Self-hits (a query document retrieving itself when queries are
    * drawn from the corpus) are excluded from the calibration — they
    * survive any cap and would inflate recall. The per-cap recall table
    * is |caps| rows (driver-as-planner, the ivfProbeForRecall pattern).
    * cap = 1000 (no pruning) is always the truth leg and the fallback
    * when no candidate cap reaches the target. */
  def bm25DfCapForRecall(corpus: DataFrame, queries: DataFrame,
                         targetRecall: Double,
                         caps: Seq[Int] = Seq(5, 10, 20, 50, 100, 200, 500),
                         k: Int = 5): Int = {
    require(targetRecall > 0 && targetRecall <= 1)
    val candidateCaps = caps.filter(c => c >= 1 && c < 1000).distinct.sorted
    require(candidateCaps.nonEmpty, "need at least one cap < 1000")
    val allCaps = candidateCaps :+ 1000
    val (postings, stats) = Retrieval.bm25Model(corpus)
    val qterms = queries
      .select(col("q_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val contrib = broadcast(qterms)
      .join(Retrieval.weightedPostings(postings, stats), Seq("tok"))
      .filter(col("q_id") =!= col("doc_id"))
    val capSums = allCaps.map(c =>
      sum(when(col("df") * 1000 <= col("n_docs") * c, col("term_score")))
        .as(s"s$c"))
    val perCap = contrib.groupBy(col("q_id"), col("doc_id"))
      .agg(capSums.head, capSums.tail: _*)
    val long = perCap.select(col("q_id"), col("doc_id"),
        explode(array(allCaps.map(c =>
          struct(lit(c).as("cap"), col(s"s$c").as("score"))): _*)).as("e"))
      .select(col("q_id"), col("doc_id"), col("e.cap").as("cap"),
        col("e.score").as("score"))
      .filter(col("score").isNotNull)
    val w = Window.partitionBy(col("cap"), col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val top = long.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("cap"), col("q_id"), col("doc_id"))
      .localCheckpoint() // truth leg + per-cap hit join both read it
    val truth = top.filter(col("cap") === 1000)
      .select(col("q_id"), col("doc_id"))
    val nTruth = truth.count()
    require(nTruth > 0, "no truth pairs — nothing to calibrate against")
    val hits = top.filter(col("cap") =!= 1000)
      .join(truth, Seq("q_id", "doc_id"))
      .groupBy(col("cap")).agg(count(lit(1)).as("hit"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    candidateCaps
      .find(c => hits.getOrElse(c, 0L).toDouble / nTruth >= targetRecall)
      .getOrElse(1000)
  }

  /** MEASURED occupancy-guard cap (the round-19 directive closing the
    * last constant knob): read a guard SWEEP table — the l126/l131/l135
    * banded, l142 flip, or l149/l150 grouped shape, all of which carry
    * an ascending cap column and a `recall` column against their own
    * unguarded truth leg — and pick the SMALLEST cap whose measured
    * recall meets `targetRecall`. The bm25DfCapForRecall closure on the
    * perceptual planes: the sweep is the measurement, this is the
    * decision. The unguarded sentinel (cap ≥ 2³⁰, recall 1.0 by
    * construction) is always present as the last row, so "no candidate
    * cap reaches the target" degrades to guard-off rather than to a
    * silent recall loss — the same shape as bm25's cap-1000 fallback.
    * A NaN recall row (n_truth = 0: a pair-free corpus) satisfies any
    * target — there are no pairs to lose, so the smallest cap wins.
    *
    * For the BANDED sweeps pass `capCol = "max_band_occ"` and filter to
    * ONE band width first (the l126 shape varies both axes; this
    * closure prices the cap at a fixed width — the duplicate-cap
    * `require` below trips loudly if a multi-width table slips in).
    * Driver-as-planner: the sweep is |caps| rows by construction. */
  def sigGuardCapForRecall(sweep: DataFrame, targetRecall: Double,
                           capCol: String = "max_table_occ"): Int = {
    require(targetRecall > 0 && targetRecall <= 1,
      s"recall in (0,1]: $targetRecall")
    val rows = sweep
      .select(col(capCol).cast(LongType), col("recall").cast(DoubleType))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty sweep — nothing to choose from")
    require(rows.map(_._1).distinct.length == rows.length,
      s"duplicate caps in sweep (filter to one band width first): " +
        rows.map(_._1).mkString(","))
    require(rows.last._1 >= (1L << 30),
      s"sweep lacks the unguarded sentinel leg (cap >= 2^30): " +
        s"last cap = ${rows.last._1}")
    rows.find { case (_, rec) => rec.isNaN || rec >= targetRecall }
      .map(_._1.toInt).getOrElse(rows.last._1.toInt)
  }

  /** COMPACTION-CADENCE predicate for the S39–S45 admission loops (the
    * round-19 directive's second constant): TRUE when the carried raw
    * state has expanded past `maxExpansion` × its collapsed-rep size —
    * the point where the probe's state-side scan pays more than the
    * compaction that would shrink it. Caller contract: `rawRows` is the
    * carried state's current row count (tracked incrementally — each
    * batch appends its admitted rows, no extra action needed);
    * `repRows` is the state's row count as of the LAST compaction (its
    * output size; before any compaction, the honest stand-in is the
    * current collapsed estimate or simply 0 to force the first pass).
    * Probe joins scan the RAW state, so expansion factor E costs on
    * the state side — the corrected round-20 `sigcompact` receipt in
    * BASELINE.md measured a 32.5× viral pile costing 2.7× probe wall, with
    * the predicate firing on exactly that state — while compaction itself
    * is one pass over the state plus a groupBy, wasted when nothing has
    * collapsed. maxExpansion = 2 bounds probe overscan at 2× and makes
    * total compaction work amortize to O(state) per doubling (the
    * dynamic-array argument). `minRows` floors the trigger: below it
    * the probe is cheap regardless and compacting every batch would
    * dominate the loop's wall with fixed overheads. */
  def compactionDue(rawRows: Long, repRows: Long,
                    maxExpansion: Double = 2.0,
                    minRows: Long = 10000L): Boolean = {
    require(rawRows >= 0 && repRows >= 0, s"row counts: $rawRows/$repRows")
    require(maxExpansion >= 1.0, s"maxExpansion >= 1: $maxExpansion")
    rawRows >= minRows &&
      rawRows.toDouble > maxExpansion * math.max(1L, repRows).toDouble
  }
}
