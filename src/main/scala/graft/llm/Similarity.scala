package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` corpus (vec_id, embedding:
  * array<float>, label).
  *
  * Two paths, same contract:
  *  - bruteForceTopK — the exact baseline: broadcast the (small) query set,
  *    one pass over all candidate vectors, per-query top-k. Cost is
  *    O(|Q| · N · d) with NO shuffle of the candidate table beyond the
  *    final (qid, k) ranking; correct at any N but linear in N.
  *  - annTopK — the scale path: random-hyperplane LSH. Every vector gets a
  *    small bucket id from the sign pattern of `planes` fixed hyperplanes;
  *    only same-bucket pairs are compared. Candidate work per task is
  *    bounded by bucket occupancy (N / 2^planes expected), the classic
  *    recall-for-throughput trade (recall measured in LlmSpec).
  *
  * All dot products run through `aggregate`/`zip_with` higher-order
  * functions on DOUBLE — a strict left-to-right fold, so results are
  * bit-identical to DuckDB's `list_reduce` fold in the oracle (fp addition
  * is order-sensitive; both engines fold sequentially over the same values).
  * Hyperplane components are md5-derived so the oracle can regenerate them.
  */
object Similarity {

  /** Σ x_i² — native fused loop (plans.FloatVectorDot via GraftExtensions). */
  def norm2(e: Column): Column = dot(e, e)

  /** Σ a_i·b_i (double fold) — the codegen'd FloatVectorDot expression.
    * Bit-identical to dotHof (same products, same fold order), without the
    * per-row intermediate array the HOF chain allocates. */
  def dot(a: Column, b: Column): Column = call_function("fvec_dot", a, b)

  /** The HOF formulation — kept as the semantic reference the native
    * expression is equality-tested against (ExpressionSpec). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** cos(a,b) = dot / (|a|·|b|) — written exactly as the oracle computes it
    * (same operation order ⇒ same doubles). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Exact top-k cosine neighbors for each query vector (`queries` must be
    * small — it is broadcast). Output: (qid, rank, nid, sim). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val c = candidates.select(col("vec_id").as("nid"), col("embedding").as("ce"))
    val sims = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ce")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Embedding DIMENSION-health audit — per-dimension activation
    * statistics over the whole corpus: count, integer-snapped sum,
    * min/max, and exact zero count. The readouts an embedding pipeline
    * checks before trusting a model dump: DEAD dimensions (n_zero = n —
    * wasted index width), scale-outlier dimensions (|min/max| off the
    * family — un-normalized dumps that break cosine-free dot-product
    * shortcuts), and mean drift between snapshots.
    *
    * Exactness: each float widens to double (IEEE-exact) and snaps to the
    * 10⁻⁶ grid with the l25 half-up formula ⌊x·10⁶ + 0.5⌋; per-dim totals
    * are LONG sums — order-free, cross-engine exact (a raw double sum
    * would hang the oracle on aggregation order). Scale shape: the
    * posexplode emits N·dim rows but map-side partial aggregation reduces
    * each partition to its ≤dim cells before the exchange — the shuffle
    * is dim-sized, not corpus-sized. */
  def dimStats(vectors: DataFrame): DataFrame =
    vectors
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast(LongType).as("dim"),
        col("v").cast(DoubleType).as("v"))
      .withColumn("q", floor(col("v") * lit(1000000.0) + lit(0.5)))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sum_e6"),
        min(col("q")).as("min_e6"),
        max(col("q")).as("max_e6"),
        sum((col("v") === 0.0).cast(LongType)).as("n_zero"))

  /** HARD-NEGATIVE mining — the contrastive-training triplet constructor
    * (FaceNet, Schroff et al. CVPR 2015; the SimCLR/DPR negative-selection
    * step): for each sampled query vector, the top-k most-similar vectors
    * carrying a DIFFERENT label (the hardest negatives), next to the
    * query's best same-label similarity (its easiest positive) and the
    * margin. `violates` marks negatives that outscore the best positive —
    * the pairs a metric-learning loss actually moves.
    *
    * Exact-truth form (the l05/l44 discipline: its job is the audit/mining
    * table, so it pays the full |Q|·|corpus| sequential-fold pass; the
    * production path at 100 TB is the LSH/IVF/PQ candidate machinery with
    * the label filter applied in the rerank). The query sample rides the
    * shared md5 split bucket; one similarity pass feeds both the negative
    * window and the positive max via localCheckpoint (the shared-subtree
    * rule). Queries whose label has no other member keep NULL
    * pos_sim/margin/violates (left join). */
  def hardNegatives(vectors: DataFrame, k: Int = 3,
                    samplePct: Int = 20): DataFrame = {
    val q = broadcast(vectors
      .filter(graft.llm.TextOps.splitBucket(col("vec_id")) < samplePct)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel")))
    val c = vectors.select(col("vec_id").as("nid"),
      col("embedding").as("ce"), col("label").as("nlabel"))
    val sims = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        cosine(col("qe"), col("ce")).as("sim"))
      .localCheckpoint()
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val neg = sims.filter(col("nlabel") =!= col("qlabel"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
    val pos = sims.filter(col("nlabel") === col("qlabel"))
      .groupBy(col("qid")).agg(max(col("sim")).as("pos_sim"))
    neg.join(pos, Seq("qid"), "left")
      .select(col("qid"), col("rnk"), col("nid"), col("nlabel"),
        col("sim").as("neg_sim"), col("pos_sim"),
        (col("sim") - col("pos_sim")).as("margin"),
        (col("sim") > col("pos_sim")).cast(LongType).as("violates"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): the first
    * 8 md5 hex chars of "plane:dim" scaled — reproducible from SQL in any
    * engine with md5. */
  def planeComponent(plane: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
  }

  /** Hyperplanes `planeOffset until planeOffset+planes` as literal
    * double-array columns (the offset gives independent plane families to
    * multi-table LSH while table 0 keeps the 0..planes-1 indices the
    * single-table oracle regenerates). */
  def planeLiterals(planes: Int, dim: Int, planeOffset: Int = 0): Seq[Column] =
    (0 until planes).map(h =>
      array((0 until dim).map(d => lit(planeComponent(planeOffset + h, d))): _*))

  /** LSH bucket id: bit h = sign of dot(embedding, plane_{offset+h}). */
  def bucketExpr(e: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    planeLiterals(planes, dim, planeOffset).zipWithIndex.map { case (p, h) =>
      when(dot(e, p) >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k via hyperplane LSH: compare each query only against vectors
    * sharing a bucket in at least one of `tables` independent hash tables.
    * Output: (qid, rank, nid, sim) — rank within surviving candidates;
    * queries colliding with no other vector yield no rows.
    *
    * Recall knobs (the standard LSH trade): more `planes` → smaller buckets
    * → less work, lower recall; more `tables` → union of candidate sets →
    * higher recall, `tables`× bucket work. Single-table 8-plane is the
    * cheap profile (and the one the DuckDB oracle regenerates); 8 tables ×
    * 4 planes is the recall profile measured in LlmSpec. */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int = 3,
              planes: Int = 8, dim: Int = 64, tables: Int = 1): DataFrame = {
    def withBuckets(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
        posexplode(array((0 until tables).map(t =>
          bucketExpr(col("embedding"), planes, dim, t * planes)): _*))
          .as(Seq("tbl", "bkt")))
    val cand = broadcast(withBuckets(queries, "qid"))
      .join(withBuckets(candidates, "nid"), Seq("tbl", "bkt"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .distinct()
    val sims = cand
      .join(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))), "qid")
      .join(candidates.select(col("vec_id").as("nid"), col("embedding").as("ce")), "nid")
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ce")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** ANN top-k via an IVF (inverted-file) index: a coarse quantizer of
    * `nCells` centroid vectors partitions the corpus into cells (each
    * vector assigned to its nearest centroid by cosine); a query probes the
    * `nProbe` cells nearest to IT and exact-reranks only their members.
    *
    * The centroids here are the first `nCells` corpus vectors — a
    * deterministic stand-in for the k-means step (which is a fitting
    * concern, not a query-plan concern: swap in trained centroids and
    * nothing else changes). Scale shape: assignment is a broadcast of
    * `nCells` centroids + one corpus pass; the probe join touches
    * ~nProbe/nCells of the corpus per query instead of all of it.
    * Output: (qid, rank, nid, sim). */
  def annTopKIvf(queries: DataFrame, candidates: DataFrame, k: Int = 3,
                 nCells: Int = 16, nProbe: Int = 2,
                 centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(
      candidates.orderBy(col("vec_id")).limit(nCells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent")))
    ivfServeTopK(queries, cents, ivfIndex(candidates, cents), k, nProbe)
  }

  /** Pack a (cent_id, cent) centroid table into ONE
    * array<struct<cent_id, cent>> row sorted by cent_id — the broadcast
    * shape the per-row argmin/argmax rewrites consume (round 22). A
    * knob-table-sized 1-row aggregate; its crossJoin is the allowlisted
    * broadcast 1-row shape. */
  private def packCents(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cent_id"), col("cent"))))
      .as("cents_arr"))

  /** The winning (cosine, -cent_id) struct over a packed centroid array —
    * per-row argmax as ONE narrow expression: `best.nc` is the negated
    * assigned cell, `best.s` the winning cosine (= cent_sim). Identical
    * ordering to the previous max_by(cent_id, struct(cosine, -cent_id))
    * aggregation (struct comparison is lexicographic either way, cosine
    * computed by the same fvec_dot fold), but with no ×k row expansion,
    * no hash aggregate, and — the 100 TB point — no corpus-payload
    * exchange: the old groupBy(vec_id) form re-shuffled the embedding
    * column just to re-pair it with its own argmax (round 22).
    *
    * Execution: STATICALLY UNROLLED `greatest` over `kHint` slots —
    * whole-stage-codegen'd end to end (a transform/array_max HOF form
    * measured ~4× the task time: interpreted per-element eval with a
    * struct allocation per candidate). Slots past the actual centroid
    * count are NULL (element_at out-of-range) and `greatest` skips
    * nulls; a centroid table WIDER than kHint takes the HOF branch —
    * same ordering, never taken on the declared paths, which pass their
    * nCells/k knob as the hint. */
  private def bestCentStruct(e: Column, centsArr: Column,
                             kHint: Int): Column = {
    require(kHint >= 2, s"kHint must be >= 2: $kHint")
    def entry(c: Column): Column =
      struct(cosine(e, c.getField("cent")).as("s"),
        (-c.getField("cent_id")).as("nc"))
    // try_element_at, NOT element_at: slots past the actual width must
    // read NULL — under ANSI mode (Spark 4 default) element_at THROWS on
    // an out-of-range index before the null guard can run (caught by the
    // narrow-codebook LlmSpec test, round 22)
    val unrolled = greatest((1 to kHint).map { j =>
      val c = try_element_at(centsArr, lit(j))
      when(c.isNull, lit(null)).otherwise(entry(c))
    }: _*)
    when(size(centsArr) <= kHint, unrolled)
      .otherwise(array_max(transform(centsArr, entry(_))))
  }

  /** The IVF INDEX — per-vector cell assignment against a fixed centroid
    * table: the corpus-side precompute an IVF store persists (alongside
    * the centroids themselves) so serving never re-assigns the corpus.
    * One narrow pass over the corpus against the packed broadcast
    * centroids (bestCentStruct — ties break toward the smaller cent_id,
    * identical to the previous max_by and to a rank-window's ORDER BY).
    * Output: (nid, ce, cell). */
  def ivfIndex(candidates: DataFrame, cents: DataFrame,
               kHint: Int = 16): DataFrame =
    candidates.select(col("vec_id").as("nid"), col("embedding").as("ce"))
      .crossJoin(broadcast(packCents(cents)))
      .select(col("nid"), col("ce"),
        (-bestCentStruct(col("ce"), col("cents_arr"), kHint)
          .getField("nc")).as("cell"))

  /** IVF SERVING — score a query table against a PERSISTED model
    * (centroids + ivfIndex assignment), the l37/l87 production split: an
    * arriving query batch pays its own nProbe cell ranking plus the exact
    * rerank of ~nProbe/nCells of the corpus, never a re-fit or corpus
    * re-assignment. Pure function of (queries, model) with per-query
    * independence — the streaming serve (S33) wraps exactly this under
    * foreachBatch, completing the serving family next to PQ (S26), BM25
    * (S27), and hybrid (S29). Output: (qid, rank, nid, sim). */
  def ivfServeTopK(queries: DataFrame, cents: DataFrame, index: DataFrame,
                   k: Int = 3, nProbe: Int = 2): DataFrame = {
    // Query probes keep the rank window: top-nProbe is a genuine per-query
    // ranking, and the query side is small by contract (it is broadcast).
    val probes = {
      val w = Window.partitionBy(col("qid")).orderBy(
        cosine(col("qe"), col("cent")).desc, col("cent_id"))
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nProbe)
        .select(col("qid"), col("qe"), col("cent_id").as("cell"))
    }
    // No distinct here (contrast annTopK): each nid lives in exactly ONE
    // cell and probes has distinct (qid, cell) rows, so the join cannot
    // produce a duplicate (qid, nid) — a distinct would be a full extra
    // shuffle of the sims table for nothing.
    // NO repartition pin here (contrast pqAdcScores/ivfPqServeTopK): this
    // index carries the float embeddings themselves, so a pinned exchange
    // would shuffle corpus payload — at 100 TB the index is scan-
    // partitioned already and the pin would move the heavy bytes for
    // nothing. The PQ paths pin because their probe input is 8-byte code
    // rows.
    val sims = broadcast(probes).join(index, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ce")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** The IVF fitting step: spherical k-means (Lloyd's) as iterative
    * DataFrame jobs — assign every vector to its max-cosine centroid
    * (broadcast of k centroids, one corpus pass), recompute each centroid
    * as the element-wise mean of its members (posexplode → per-(cell, dim)
    * mean → re-assemble), repeat. Deterministic: first-k init, cosine ties
    * broken by cent_id. `localCheckpoint` truncates lineage per round.
    * Returns (cent_id, cent: array<double>) ready for annTopKIvf's
    * `centroids` parameter.
    *
    * `quantum = Some(q)` switches the per-dimension mean from `avg` (a
    * double fold whose result depends on shuffle/merge order) to the
    * labelCentroids discipline — snap each coordinate to 1/q resolution
    * (round(x·q) as int64), sum exactly in longs, divide once. Order-
    * independent AND cross-engine exact, so a SQL oracle replaying the
    * same Lloyd iterations lands on bit-identical centroids and hence
    * identical cell assignments. Use it whenever the fit feeds an
    * oracle-checked query (l37); `None` keeps the cheaper plain mean. */
  def fitCentroids(vectors: DataFrame, k: Int = 16, iters: Int = 5,
                   quantum: Option[Long] = None): DataFrame = {
    var cents = vectors.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), _.cast(DoubleType)).as("cent"))
      // lazy: the next consumer (iteration 1's broadcast) materializes it
      // — an eager checkpoint paid one separate job per call (round 21)
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      // Per-row packed argmax (bestCentStruct) instead of the previous
      // crossJoin × k + groupBy(vec_id) max_by: the aggregation form
      // re-shuffled the full corpus (embedding payload included) once PER
      // LLOYD ITERATION just to re-pair each vector with its argmax; the
      // narrow form assigns in-stage with no exchange (round 22).
      val assigned = vectors.select(col("embedding"))
        .crossJoin(broadcast(packCents(cents)))
        .select((-bestCentStruct(col("embedding"), col("cents_arr"), k)
            .getField("nc")).as("cent_id"),
          col("embedding"))
      val perDim = assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
      val means = quantum match {
        case Some(q) => perDim
          .agg(count(lit(1)).as("n"),
            sum(round(col("v").cast(DoubleType) * q).cast(LongType)).as("sq"))
          .select(col("cent_id"), col("pos"),
            (col("sq") / (col("n") * q)).as("m"))
        case None => perDim.agg(avg(col("v")).as("m"))
      }
      val fresh = means
        .groupBy(col("cent_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cent_id"),
          transform(col("ps"), x => x.getField("m")).as("cent"))
      // keep-previous rule for EMPTY clusters: a centroid that wins zero
      // vectors this iteration (possible when duplicate init vectors or a
      // dominant centroid starve it) would otherwise vanish from the
      // groupBy output and silently shrink k — keep its previous position
      // instead, so the quantizer stays k-wide. Mirrored in l37's SQL
      // oracle (ivfFitIter's LEFT JOIN + COALESCE).
      cents = cents.select(col("cent_id"), col("cent").as("prev"))
        .join(fresh.select(col("cent_id"), col("cent").as("next")),
          Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("next"), col("prev")).as("cent"))
        // lazy: the next iteration's broadcast (or the caller's first
        // action) materializes each round — one job per FIT instead of
        // one per iteration (round 21; the propagateRounds discipline)
        .localCheckpoint(eager = false)
    }
    cents
  }

  /** SemDeDup — SEMANTIC deduplication scoped by a trained coarse
    * quantizer (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding corpus (fitCentroids' quantized spherical Lloyd's — the
    * l37 fit, oracle-replayable), then inside each cluster mark as
    * duplicates the vectors with cosine ≥ tau to an EARLIER vector in the
    * cluster's keep order. The keep order is ascending centroid
    * similarity (ties by vec_id) — the paper's policy of retaining the
    * most ATYPICAL member of each duplicate set (the released
    * implementation's upper-triangle max-sim test over exactly this
    * ordering: drop i iff max_{j earlier} sim(i,j) ≥ τ — NOT iterative
    * greedy, so the verdict is a pure pairwise predicate and replays in
    * SQL). Output per vector: (vec_id, cell, cent_sim, n_dup_earlier,
    * dropped), the curation table LLM39's LSH-bucketed CC form lacks a
    * cluster-scoped, representative-principled twin of.
    *
    * Scale shape — the paper's own point: clustering is what makes
    * web-scale pairwise feasible. Pair generation is strictly
    * within-cell (corpus²/k work at uniform occupancy, never all-pairs);
    * the centroid table broadcasts twice (assignment + cent_sim); the
    * verdict collapses to an id-keyed count before the output join.
    * This fixed-k form is the oracle-replayable declared shape (l118
    * pins k=16 so DuckDB can replay the fit); production runs
    * `semDedupAuto`, which schedules k = ivfCells(n) = √n and CODES the
    * hot-cell recursion instead of documenting it. */
  def semDedup(vectors: DataFrame, nCells: Int = 16, iters: Int = 3,
               tau: Double = 0.35): DataFrame = {
    val cents = fitCentroids(vectors, nCells, iters, quantum = Some(1000000L))
    // one assignment pass; carries (vector, cell, cent_sim) to BOTH pair
    // sides — localCheckpoint so the Lloyd lineage + assignment argmax
    // doesn't re-run per consumer (the vocabCoverage shared-subtree rule)
    val cs = cellAssignments(vectors, cents, nCells).localCheckpoint()
    semDedupVerdict(cs, cs, tau, withinBatch = true)
  }

  /** Refined-cell id layout for the scheduled/guarded SemDeDup: every
    * cell id is composite — cold cells map to cell·STRIDE, a hot cell's
    * s-th subcell to cell·STRIDE + s + 1 — so refined and unrefined ids
    * can never collide (s + 1 < STRIDE). */
  private val SubcellStride = 1L << 20

  /** SemDeDup at the 100 TB discipline (round-13 directive #4): the
    * paper's k-means scoping with k SCHEDULED from corpus size —
    * nCells = KnobSchedule.ivfCells(n) = √n, the occupancy balance point
    * (within-cell pair volume n²/k is quadratic growth in disguise at
    * any FIXED k; at k = √n per-vector pair work is √n and the centroid
    * broadcast is √n rows) — plus the hot-cell guard as CODE: k-means
    * occupancy is data-dependent, and one pathological cell re-creates
    * the all-pairs blow-up the clustering exists to prevent. Any cell
    * with occupancy > hotFactor·(n/nCells) gets ONE level of
    * hierarchical recursion — a within-cell spherical-k-means sub-fit
    * (ceil(occ/targetOcc) subcells, ALL hot cells fitted in one set of
    * grouped Lloyd jobs keyed by (cell, sub_id), never a per-cell loop)
    * — and the verdict runs on the refined cells. The guard's trade is
    * the hierarchical-SemDeDup one: pairs straddling two subcells of the
    * same hot cell are no longer compared (the paper's single-level
    * clustering makes the identical trade at cell granularity).
    * cent_sim and the keep order are relative to the REFINED cell's
    * centroid, the policy applied at the finer scope.
    *
    * Output schema = semDedup's; `cell` is the composite refined id
    * (see SubcellStride). The `semdedup` scale receipt in BASELINE.md is
    * the evidence: under the schedule, per-vector within-cell pair volume
    * grows ~√R at R× corpus (vs R× at fixed k) and the guard caps
    * max-cell occupancy near target. */
  def semDedupAuto(vectors: DataFrame, tau: Double = 0.35, iters: Int = 3,
                   hotFactor: Double = 4.0): DataFrame = {
    val n = vectors.count()
    val nCells = KnobSchedule.ivfCells(n)
    val cents = fitCentroids(vectors, nCells, iters, quantum = Some(1000000L))
    val cs0 = cellAssignments(vectors, cents, nCells).localCheckpoint()
    // exact-duplicate pre-collapse (round-16 directive #2): byte-identical
    // vectors were refineHotCellsDeep's documented irreducible limit (no
    // geometry to sub-fit — their occ² pair cost survived maxDepth).
    // Collapsing them to one representative BEFORE the guard removes the
    // limit outright: the pile enters the occupancy math as ONE row, so
    // the guard usually never needs to fire on it, and the pair pass
    // touches each distinct value once. The fit above still sees every
    // copy (the paper's centroid weighting — and what keeps this path
    // byte-equal to the uncollapsed verdict, pinned in LlmSpec); nCells
    // stays scheduled from the full corpus for the same reason, while
    // the guard's occupancy target is measured against the COLLAPSED
    // row count — the rows the pair pass actually pays for.
    val (reps, meta) = collapseExactDups(cs0)
    val nReps = reps.count()
    val cs = refineHotCellsDeep(reps, nReps, nCells, hotFactor, iters)
    semDedupVerdictCollapsed(cs, meta, tau)
  }

  /** Fixed-k semDedup THROUGH the exact-duplicate collapse — the
    * LlmSpec equality surface: same fit, same assignment as `semDedup`,
    * but the pair pass runs on one representative per distinct embedding
    * value and verdicts expand back. Byte-equal to `semDedup` on any
    * corpus (planted exact-dup piles included) by the expansion argument
    * on `semDedupVerdictCollapsed`. */
  def semDedupCollapsed(vectors: DataFrame, nCells: Int = 16,
                        iters: Int = 3, tau: Double = 0.35): DataFrame = {
    val cents = fitCentroids(vectors, nCells, iters, quantum = Some(1000000L))
    val cs = cellAssignments(vectors, cents, nCells).localCheckpoint()
    val (reps, meta) = collapseExactDups(cs)
    semDedupVerdictCollapsed(reps, meta, tau)
  }

  /** Collapse byte-identical embedding vectors of an assignment table
    * (nid, ce, cell, cent_sim) to one representative per distinct value:
    * the group key is (cell, digest) where digest = (xxhash64, md5 of
    * the JSON encoding) of the float array — 160 bits, so a cross-value
    * collision is not a practical event, and the grouping exchange
    * carries digests, never a widened array key. Identical vectors land
    * in the same cell with the same cent_sim (assignment is a pure
    * function of the value), so the representative keeps the group's
    * (cell, cent_sim) and the group's keep-order anchor is its MIN nid.
    * Returns (reps, meta): reps is an assignment table over
    * representatives (feeds refine/pair passes unchanged); meta is the
    * MEMBER table (rep_id, mult, m_id, rk) — one narrow row per
    * original vector, rk = the member's 0-based keep-order rank within
    * its group (nid ascending; the rk = 0 row is the representative
    * itself). A member table instead of a per-group collected array is
    * the point (round-17 VERDICT #4): at the motivating scale — one
    * value duplicated 10⁶–10⁸ times — `collect_list` makes ONE row of
    * 8–800 MB, while this keeps every row O(1); the rank comes from a
    * window PARTITIONED by the dup group (sort-and-stream work,
    * spillable), never a group-wide buffer. */
  private[graft] def collapseExactDups(cs: DataFrame)
      : (DataFrame, DataFrame) = {
    val keyed = cs.withColumn("dg",
      struct(xxhash64(col("ce")), md5(to_json(col("ce")))))
    val groups = keyed
      .groupBy(col("cell"), col("dg"))
      .agg(min(col("nid")).as("nid"),
        first(col("ce")).as("ce"),
        first(col("cent_sim")).as("cent_sim"))
      .localCheckpoint()
    val wGrp = Window.partitionBy(col("cell"), col("dg"))
    val members = keyed
      .select(col("cell"), col("dg"), col("nid"))
      .select(
        min(col("nid")).over(wGrp).as("rep_id"),
        count(lit(1)).over(wGrp).as("mult"),
        col("nid").as("m_id"),
        (row_number().over(wGrp.orderBy(col("nid"))) - 1)
          .cast(LongType).as("rk"))
    (groups.select(col("nid"), col("ce"), col("cell"), col("cent_sim")),
      members)
  }

  /** The upper-triangle verdict over COLLAPSED representatives, expanded
    * back to per-member rows — byte-equal to `semDedupVerdict(cs, cs,
    * tau, withinBatch = true)` on the uncollapsed table. The expansion
    * argument, member by member:
    *  - CROSS groups: a group A of mult m earlier than entity B in keep
    *    order contributes m identical pairs (every copy has the same
    *    cosine to B), so the weighted pair pass sums a_mult instead of
    *    counting rows. "Earlier" is uniform across A's members iff no
    *    OTHER value ties B's (cell, cent_sim) — the tie VALVE below
    *    explodes every (cell, cent_sim) key carrying >1 distinct digest
    *    back to singletons, after which ties resolve by nid exactly as
    *    the uncollapsed predicate does (same-value members never tie
    *    cross-entity: they are one group by construction).
    *  - WITHIN a group: member at keep-order rank i (0-based, the
    *    member table's rk) has exactly i earlier same-value members, each a
    *    duplicate iff cosine(ce, ce) ≥ τ — computed once per group as
    *    self_dup (the uncollapsed filter evaluates the same expression
    *    on the same values), so n_dup_earlier = c_cross + i·self_dup
    *    and dropped = (n_dup_earlier > 0), the uncollapsed left-join
    *    IS-NOT-NULL in closed form. */
  private[graft] def semDedupVerdictCollapsed(reps: DataFrame,
                                              meta: DataFrame,
                                              tau: Double): DataFrame = {
    val grp = meta.filter(col("rk") === 0)
      .select(col("rep_id"), col("mult"))
    val ent0 = reps.join(grp, col("nid") === col("rep_id"))
      .select(col("nid"), col("ce"), col("cell"), col("cent_sim"),
        col("mult"))
    // the tie valve (≤ a handful of rows on real data — fp cent_sim
    // equality across DIFFERENT values is a contrived event, but the
    // byte-equality contract is unconditional). ent0 holds ONE row per
    // distinct-value group, so >1 rows on a (cell, cent_sim) key IS
    // >1 distinct digests — no digest column needed.
    val tieKeys = ent0.groupBy(col("cell"), col("cent_sim"))
      .agg(count(lit(1)).as("ndg"))
      .filter(col("ndg") > 1)
      .select(col("cell"), col("cent_sim"))
    val safe = ent0.join(tieKeys, Seq("cell", "cent_sim"), "left_anti")
    val exploded = ent0.join(tieKeys, Seq("cell", "cent_sim"), "left_semi")
      .select(col("nid").as("tie_rep"), col("ce"), col("cell"),
        col("cent_sim"))
      .join(meta.select(col("rep_id"), col("m_id")),
        col("tie_rep") === col("rep_id"))
      .select(col("m_id").as("nid"), col("ce"), col("cell"),
        col("cent_sim"), lit(1L).as("mult"))
    val entities = safe.unionByName(exploded).localCheckpoint()
    // per-entity member rows (ent_id, vec_id, rk) for the final
    // expansion — a keyed join on the member table, never a collected
    // array (no O(multiplicity) row anywhere in this pass)
    val safeMembers = safe.select(col("nid").as("ent_id"))
      .join(meta, col("ent_id") === col("rep_id"))
      .select(col("ent_id"), col("m_id").as("vec_id"), col("rk"))
    val explMembers = exploded.select(col("nid").as("ent_id"),
      col("nid").as("vec_id"), lit(0L).as("rk"))
    val entMembers = safeMembers.unionByName(explMembers)
    val a = entities.select(col("cell"), col("nid").as("a_id"),
      col("ce").as("ae"), col("cent_sim").as("a_cs"),
      col("mult").as("a_mult"))
    val b = entities.select(col("cell"), col("nid").as("b_id"),
      col("ce").as("be"), col("cent_sim").as("b_cs"))
    val cross = a.join(b, Seq("cell"))
      .filter(col("a_cs") < col("b_cs") ||
        (col("a_cs") === col("b_cs") && col("a_id") < col("b_id")))
      .filter(cosine(col("ae"), col("be")) >= tau)
      .groupBy(col("b_id")).agg(sum(col("a_mult")).as("c_cross"))
    entities.join(cross, col("nid") === col("b_id"), "left")
      .select(col("nid").as("ent_id"), col("cell"), col("cent_sim"),
        coalesce(col("c_cross"), lit(0L)).as("c_cross"),
        (cosine(col("ce"), col("ce")) >= tau).as("self_dup"))
      .join(entMembers, Seq("ent_id"))
      .withColumn("n_dup_earlier", col("c_cross") +
        when(col("self_dup"), col("rk").cast(LongType)).otherwise(0L))
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        col("n_dup_earlier"),
        (col("n_dup_earlier") > 0).cast(LongType).as("dropped"))
  }

  /** The guard ITERATED to convergence (bounded depth): one
    * `refineHotCells` level splits a hot cell into ceil(occ/target)
    * subcells, but a NEAR-DUPLICATE pile can defeat a single level —
    * with pile members differing only in small orthogonal noise
    * components, the cosine argmax against ksub near-identical
    * subcentroids concentrates every member whose noise dimension
    * matches no centroid onto one subcell (measured: a planted 25%
    * pile split 6739 → 6668 max occupancy in one level — 1% relief).
    * Each further level inits on the surviving pile's OWN first
    * members, peeling another ksub noise-groups, so iterating drains
    * the pile geometrically. Levels run only while some cell exceeds
    * hotFactor × target (one occupancy count per level — knob-table
    * cost); `maxDepth` bounds a truly unsplittable pile (byte-identical
    * vectors have no geometry to separate — but since round 17 those
    * never reach this guard from `semDedupAuto`: `collapseExactDups`
    * removes them upstream, one representative per distinct value, so
    * maxDepth remains only as a backstop for adversarial
    * near-identical-but-not-byte-equal geometry). Cells are
    * DENSE-RELABELED (rank among distinct ids) at each level so
    * composite ids never overflow the SubcellStride layout at depth. */
  private[graft] def refineHotCellsDeep(cs0: DataFrame, n: Long,
                                        nCells: Int, hotFactor: Double,
                                        iters: Int,
                                        maxDepth: Int = 5): DataFrame = {
    val targetOcc = math.max(1L, n / nCells)
    var cs = cs0
    var depth = 0
    var anyHot = true
    while (depth < maxDepth && anyHot) {
      anyHot = !cs.groupBy(col("cell")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") > lit(hotFactor) * targetOcc).isEmpty
      if (anyHot) {
        // dense relabel: composite ids from the previous level collapse
        // back to small ranks before the next level multiplies by STRIDE.
        // The rank is the 1-based position in ONE sorted row of the
        // distinct cells, broadcast — a global-order window would pull
        // every cell into a single partition.
        val sorted = cs.select(col("cell")).distinct()
          .agg(sort_array(collect_list(col("cell"))).as("cells"))
        val rel = cs.crossJoin(broadcast(sorted))
          .select(col("nid"), col("ce"),
            array_position(col("cells"), col("cell")).as("cell"),
            col("cent_sim"))
        cs = refineHotCells(rel, n, nCells, hotFactor, iters)
          .localCheckpoint()
      }
      depth += 1
    }
    cs
  }

  /** The hot-cell guard: split every cell whose occupancy exceeds
    * hotFactor × (n/nCells) into ceil(occ/targetOcc) subcells by a
    * within-cell spherical-k-means sub-fit (first-k-by-nid init,
    * quantized means, keep-previous — the fitCentroids discipline keyed
    * by (cell, sub_id) so ALL hot cells train in one set of DataFrame
    * jobs). Cold cells pass through relabeled to the composite id space.
    * Input/output: (nid, ce, cell, cent_sim) — an assignment table. */
  private[graft] def refineHotCells(cs: DataFrame, n: Long, nCells: Int,
                                    hotFactor: Double,
                                    iters: Int): DataFrame = {
    val targetOcc = math.max(1L, n / nCells)
    // ≤ nCells rows — the knob-table size class (collect-free: broadcast)
    val hot = cs.groupBy(col("cell")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > lit(hotFactor) * targetOcc)
      .select(col("cell"),
        ceil(col("occ").cast(DoubleType) / targetOcc).cast(IntegerType)
          .as("ksub"))
    val cold = cs.join(broadcast(hot.select(col("cell"))),
        Seq("cell"), "left_anti")
      .select(col("nid"), col("ce"),
        (col("cell") * SubcellStride).as("cell"), col("cent_sim"))
    if (hot.isEmpty) return cold
    val members = cs.join(broadcast(hot), Seq("cell"))
      .select(col("cell"), col("nid"), col("ce")).localCheckpoint()
    // init: the first ksub members by nid of each hot cell (row_number
    // over a per-cell window — hot cells are few and bounded, and this
    // runs once, not per iteration)
    val wInit = Window.partitionBy(col("cell")).orderBy(col("nid"))
    var sub = members
      .join(broadcast(hot), Seq("cell"))
      .withColumn("rn", row_number().over(wInit))
      .filter(col("rn") <= col("ksub"))
      .select(col("cell"), col("nid").as("sub_id"),
        transform(col("ce"), _.cast(DoubleType)).as("scent"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // grouped Lloyd round: the same max_by argmax / quantized-mean /
      // keep-previous discipline as fitCentroids, keyed by (cell, sub_id)
      val assigned = members
        .join(broadcast(sub), Seq("cell"))
        .groupBy(col("cell"), col("nid"))
        .agg(max_by(col("sub_id"),
            struct(cosine(col("ce"), col("scent")), -col("sub_id")))
          .as("sub_id"),
          first(col("ce")).as("ce"))
      val means = assigned
        .select(col("cell"), col("sub_id"),
          posexplode(col("ce")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("sub_id"), col("pos"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("v").cast(DoubleType) * 1000000L).cast(LongType))
            .as("sq"))
        .select(col("cell"), col("sub_id"), col("pos"),
          (col("sq") / (col("cnt") * 1000000L)).as("m"))
      val fresh = means
        .groupBy(col("cell"), col("sub_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cell"), col("sub_id"),
          transform(col("ps"), x => x.getField("m")).as("scent"))
      sub = sub.select(col("cell"), col("sub_id"), col("scent").as("prev"))
        .join(fresh.select(col("cell"), col("sub_id"),
          col("scent").as("next")), Seq("cell", "sub_id"), "left")
        .select(col("cell"), col("sub_id"),
          coalesce(col("next"), col("prev")).as("scent"))
        .localCheckpoint()
    }
    // dense subcell rank (stable 0..ksub-1 within cell) for the composite
    // id; final argmax assignment + cent_sim against the REFINED centroid
    val wRank = Window.partitionBy(col("cell")).orderBy(col("sub_id"))
    val subRank = sub.withColumn("srank",
      row_number().over(wRank).cast(LongType) - 1L)
    val refined = members
      .join(broadcast(sub), Seq("cell"))
      .groupBy(col("cell"), col("nid"))
      .agg(max_by(col("sub_id"),
          struct(cosine(col("ce"), col("scent")), -col("sub_id")))
        .as("sub_id"),
        first(col("ce")).as("ce"))
      .join(broadcast(subRank), Seq("cell", "sub_id"))
      .select(col("nid"), col("ce"),
        (col("cell") * SubcellStride + col("srank") + 1L).as("cell"),
        cosine(col("ce"), col("scent")).as("cent_sim"))
    cold.unionByName(refined)
  }

  /** The SemDeDup assignment table (nid, ce, cell, cent_sim) — semDedup's
    * per-vector state, and the carried state of the streaming admission
    * (S37): ALL seen vectors persist (a dropped vector still rejects
    * later arrivals — the fused predicate counts every earlier member,
    * kept or not, so carrying only survivors would silently admit what
    * the batch operator drops). */
  def cellAssignments(vectors: DataFrame, cents: DataFrame,
                      kHint: Int = 16): DataFrame = {
    // one narrow pass: the packed argmax struct carries BOTH the winning
    // cell and its cosine, so the previous re-join with the centroid
    // table (recomputing the same cosine for the same pair) is gone
    // (round 22)
    vectors.select(col("vec_id").as("nid"), col("embedding").as("ce"))
      .crossJoin(broadcast(packCents(cents)))
      .withColumn("best", bestCentStruct(col("ce"), col("cents_arr"), kHint))
      .select(col("nid"), col("ce"),
        (-col("best").getField("nc")).as("cell"),
        col("best").getField("s").as("cent_sim"))
  }

  /** The upper-triangle duplicate verdict of `batch` against `earlierPool`
    * (+ optionally its own earlier-in-keep-order members): per batch
    * vector (vec_id, cell, cent_sim, n_dup_earlier, dropped). When
    * earlierPool is a PERSISTED state, every pool member rejects
    * unconditionally (it arrived earlier by definition); the keep-order
    * predicate applies only within the batch. */
  private[graft] def semDedupVerdict(batch: DataFrame, earlierPool: DataFrame,
                                     tau: Double, withinBatch: Boolean): DataFrame = {
    val b = batch.select(col("cell"), col("nid").as("b_id"),
      col("ce").as("be"), col("cent_sim").as("b_cs"))
    val a = earlierPool.select(col("cell"), col("nid").as("a_id"),
      col("ce").as("ae"), col("cent_sim").as("a_cs"))
    val orderPred =
      if (withinBatch)
        col("a_cs") < col("b_cs") ||
          (col("a_cs") === col("b_cs") && col("a_id") < col("b_id"))
      else lit(true)
    val dupEarlier = a.join(b, Seq("cell"))
      .filter(orderPred)
      .filter(cosine(col("ae"), col("be")) >= tau)
      .groupBy(col("b_id")).agg(count(lit(1)).as("n_dup_earlier"))
    batch.join(dupEarlier, col("nid") === col("b_id"), "left")
      .select(col("nid").as("vec_id"), col("cell"), col("cent_sim"),
        coalesce(col("n_dup_earlier"), lit(0L)).as("n_dup_earlier"),
        (col("b_id").isNotNull).cast(LongType).as("dropped"))
  }

  /** Streaming SemDeDup ADMISSION (S37) — the l52/S34 arrival-order
    * discipline on the semantic plane: the trained centroids and the
    * assignment table of every SEEN vector persist; an arriving batch
    * pays its own assignment pass, is verdicted against the state pool
    * (every state member rejects — it arrived earlier) PLUS its own
    * earlier-in-keep-order members, and its assignments append to state
    * by disjoint union. With batches arriving in the canonical keep
    * order (ascending cent_sim, ties by nid), per-batch verdicts equal
    * the fused semDedup of the drained corpus ROW-FOR-ROW (tested in
    * StreamingSpec); out-of-order arrival degrades conservatively — the
    * later arrival is the one dropped (l52's documented policy). Returns
    * (verdicts, batchAssignments) — the caller appends the assignments
    * (ALL of them, dropped included) to its state. */
  def semDedupIncrement(batch: DataFrame, state: DataFrame, cents: DataFrame,
                        tau: Double = 0.35): (DataFrame, DataFrame) = {
    val bs = cellAssignments(batch, cents).localCheckpoint()
    val vsState = semDedupVerdict(bs, state, tau, withinBatch = false)
    val vsBatch = semDedupVerdict(bs, bs, tau, withinBatch = true)
    val merged = vsState.select(col("vec_id"), col("cell"), col("cent_sim"),
        col("n_dup_earlier").as("n_state"), col("dropped").as("d_state"))
      .join(vsBatch.select(col("vec_id"),
        col("n_dup_earlier").as("n_batch"), col("dropped").as("d_batch")),
        Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        (col("n_state") + col("n_batch")).as("n_dup_earlier"),
        greatest(col("d_state"), col("d_batch")).as("dropped"))
    (merged, bs)
  }

  /** SemDeDup τ-SENSITIVITY sweep — the "choose τ" table the paper
    * publishes (Abbas et al. 2023 §4 sweep τ against retained fraction):
    * for each candidate threshold, how many vectors the within-cluster
    * verdict would drop and keep. The l64/l88/l98 shared-pass
    * discipline applied to l118's pair table: ONE within-cell pair pass
    * computes each vector's MAX cosine to any EARLIER member of its
    * cell's keep order (max is order-independent — no fp-association
    * hazard), and every τ row is a conditional sum over that per-vector
    * scalar — the ladder costs one extra |corpus|×|ladder| explode, not
    * |ladder| pair passes. A vector drops at τ iff max_early_sim ≥ τ,
    * so n_dropped is non-increasing in τ (pinned in LlmSpec) and
    * the τ = 0.35 row equals l118's dropped count by construction. */
  def semDedupTauSweep(vectors: DataFrame,
                       taus: Seq[Double] = Seq(0.2, 0.35, 0.5, 0.65, 0.8),
                       nCells: Int = 16, iters: Int = 3): DataFrame = {
    val cents = fitCentroids(vectors, nCells, iters, quantum = Some(1000000L))
    val cs = cellAssignments(vectors, cents, nCells).localCheckpoint()
    val a = cs.select(col("cell"), col("nid").as("a_id"),
      col("ce").as("ae"), col("cent_sim").as("a_cs"))
    val b = cs.select(col("cell"), col("nid").as("b_id"),
      col("ce").as("be"), col("cent_sim").as("b_cs"))
    val maxEarly = a.join(b, Seq("cell"))
      .filter(col("a_cs") < col("b_cs") ||
        (col("a_cs") === col("b_cs") && col("a_id") < col("b_id")))
      .groupBy(col("b_id"))
      .agg(max(cosine(col("ae"), col("be"))).as("mes"))
    cs.select(col("nid"))
      .join(maxEarly, col("nid") === col("b_id"), "left")
      .select(col("nid"),
        explode(array(taus.map(lit): _*)).as("tau"), col("mes"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("mes") >= col("tau"), 1L).otherwise(0L))
          .as("n_dropped"))
      .select(col("tau"), col("n_vecs"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"),
        (col("n_dropped").cast(DoubleType) / col("n_vecs"))
          .as("drop_rate"))
  }

  /** Per-label embedding centroid, quantized for cross-engine exactness:
    * each coordinate is snapped to 1/quantum resolution (round(x·quantum)
    * as int64), summed exactly in longs, and divided once — so the result
    * is independent of partitioning/merge order, unlike a double `avg`
    * (fp addition is not associative). Emits one (label, pos) row per
    * centroid coordinate.
    *
    * Scale: posexplode fans each vector into `dim` (label,pos,q) longs;
    * map-side partial sums collapse that to (labels × dim) rows per task
    * before the shuffle — the class-prototype pass of a classifier/
    * nearest-centroid pipeline at any corpus size. */
  def labelCentroids(vectors: DataFrame, quantum: Long = 1000000L): DataFrame =
    vectors
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos").cast(LongType).as("pos"),
        round(col("x").cast(DoubleType) * quantum).cast(LongType).as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sq"))
      .select(col("label"), col("pos"), col("n_vecs"),
        (col("sq") / (col("n_vecs") * quantum)).as("centroid"))

  /** Centroid-similarity OUTLIER audit — the mislabeled/noisy-vector
    * filter of an embedding-curation pipeline: every vector scores its
    * cosine against its OWN label's centroid (labelCentroids' exact
    * quantized mean, so the prototype is partition-order-independent and
    * cross-engine identical), and vectors below `minSim` flag as
    * outliers — the rows a curator inspects or drops before
    * nearest-centroid classification or contrastive training.
    *
    * Scale: the centroid table is (labels × dim) — broadcast back as
    * per-label arrays assembled by an order-pinned sort (array_sort on
    * (pos, centroid) structs, deterministic on any layout); the scoring
    * pass is one projection over the corpus (fvec_dot, codegen'd), so
    * embeddings never cross a shuffle — the output exchange carries id,
    * label, and two scalars. */
  def centroidOutliers(vectors: DataFrame, minSim: Double = 0.0): DataFrame = {
    val cents = labelCentroids(vectors)
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("centroid")))),
        x => x.getField("centroid")).as("cent"))
    vectors.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        cosine(col("embedding"), col("cent")).as("cent_sim"))
      .withColumn("is_outlier", col("cent_sim") < minSim)
  }

  /** Centroid-similarity OUTLIER RANKS — the embedding-plane form of the
    * l71 exact-quantile primitive: every vector's exact global rank and
    * decile under its centroid-cosine score (ties broken by vec_id),
    * with NO global sort — decile 0 IS the "drop the bottom decile"
    * set an embedding-quality filter removes, chosen by budget rather
    * than l60's fixed threshold. Bucket key floor(cent_sim·128) is a
    * monotone prefix of the (score, id) total order over cos ∈ [−1, 1]
    * (≤257 grid cells, negative buckets included — the prefix table
    * stays a broadcast aggregate); scoring inherits l60's
    * no-array-shuffle story, ranking inherits l71's. */
  def outlierRanks(vectors: DataFrame): DataFrame =
    TextAnalysis.exactRanks(
        centroidOutliers(vectors).withColumnRenamed("vec_id", "doc_id"),
        col("cent_sim"), 256, 128.0)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("score", "cent_sim")
      .withColumnRenamed("rank", "sim_rank")

  /** Per-vector int8 scalar QUANTIZATION — the compression step of any
    * embedding store/ANN index at scale (4× smaller vectors, SIMD-friendly
    * integer distance kernels): scale = max|x|/127, code_i = ⌊x_i/scale +
    * 0.5⌋ ∈ [-127, 127], reported with the reconstruction squared error.
    *
    * One codegen'd projection, no shuffle, no UDF — the whole reduction is
    * the native `int8_quant_stats` expression (plans.Int8QuantStats via
    * GraftExtensions): two fused loops over the raw float array instead of
    * the eight interpreted HOF array walks the previous formulation split
    * across four non-codegen Project nodes. Cross-engine exactness:
    * max over doubles is order-insensitive; the codes use an explicit
    * ⌊x/s + 0.5⌋ (identical rounding formula in any engine, unlike
    * round()'s dialect-defined tie rule); the error is a sequential
    * left fold (see the cosine note in the Scaladoc above). Emits
    * per-vector summary stats rather than the code array so the oracle
    * comparison is scalar-typed. All-zero vectors quantize to all-zero
    * codes (scale 0 guard). */
  def quantizeInt8(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"),
        call_function("int8_quant_stats", col("embedding")).as("s"))
      .select(col("vec_id"), col("s.n_dims"), col("s.scale"),
        col("s.code_min"), col("s.code_max"), col("s.code_sum"),
        col("s.recon_err"))

  /** L48 — int8-quantized ANN with exact RERANK: the memory-bandwidth
    * scale pattern every production embedding store runs (quantize once;
    * scan the 4×-smaller integer codes for a coarse top-`m` shortlist;
    * exact-rerank only the shortlist to top-`k`). The approximate score is
    * `scale_q · scale_c · Σ code_qᵢ·code_cᵢ` — an INTEGER dot (exact in
    * any engine) times two doubles, so the shortlist (and therefore the
    * output) is deterministic and oracle-checkable; codes use l25's
    * portable ⌊x/s + 0.5⌋ rounding and scale-0 guard.
    *
    * Scale shape: quantization is one projection over the corpus; the
    * coarse pass is the same broadcast-queries × corpus scan as
    * bruteForceTopK but arithmetically on small integers (in a real store
    * the codes column is byte-packed — 4× less scan bandwidth, SIMD int
    * kernels; the plumbing here keeps array<long> for cross-engine
    * comparability). The exact pass touches only m rows per query. The
    * rerank's recall cost (a true neighbor missing the int8 shortlist) is
    * measured against bruteForceTopK in LlmSpec. */
  def int8RerankTopK(vecs: DataFrame, k: Int = 3, m: Int = 10,
                     queryMod: Int = 20): DataFrame = {
    // quantize + precompute the norm ONCE per vector (l44's discipline —
    // a per-pair norm recomputation would pay the full float fold on every
    // candidate and waste the int8 bandwidth win)
    val qz = vecs
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), _.cast(DoubleType)).as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))) / 127.0)
      .withColumn("codes", transform(col("e"), x =>
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(x / col("scale") + 0.5).cast(LongType))))
      .withColumn("nrm", sqrt(norm2(col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("scale"), col("codes"),
        col("nrm"))
    // Coarse pass carries ONLY (codes, scale, norm) — the float embedding
    // must not ride through the |Q|×|corpus| rank exchange, or the int8
    // bandwidth win is spent shuffling the very floats it exists to avoid.
    val queriesCoarse = broadcast(qz.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"),
        col("scale").as("qs"), col("codes").as("qc"), col("nrm").as("qn")))
    val candsCoarse = qz.select(col("vec_id").as("nid"),
      col("scale").as("cs"), col("codes").as("cc"), col("nrm").as("cn"))
    val approx = queriesCoarse.join(candsCoarse, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qs") * col("cs") *
          aggregate(zip_with(col("qc"), col("cc"), (a, b) => a * b),
            lit(0L), (s, v) => s + v).cast(DoubleType) /
          (col("qn") * col("cn"))).as("approx_sim"))
    // Two-phase top-m via the bounded_top_m aggregate (plans.BoundedTopM):
    // a `row_number().over(Window.partitionBy(qid))` here would shuffle
    // |Q|×N rows onto |Q| keys where EVERY key receives the whole corpus —
    // a by-construction straggler at scale (one key, not a skewed
    // distribution, so AQE cannot split it). The aggregate instead folds
    // each map task's slice into a ≤m-entry heap per qid (map-side partial
    // aggregation), so the exchange carries |Q|·P serialized heaps instead
    // of |Q|×N score rows, and the final merge per qid touches P·m entries.
    val shortlist = approx
      .groupBy(col("qid"))
      .agg(call_function("bounded_top_m",
        col("approx_sim"), col("nid"), lit(m)).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("nid"), col("e.score").as("approx_sim"))
    // fetch embeddings for the |Q|·m survivors only: broadcast the tiny
    // shortlist against the corpus (equality join), broadcast the query
    // embeddings alongside
    val qEmb = broadcast(qz.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")))
    val cEmb = qz.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    broadcast(shortlist).join(cEmb, "nid").join(qEmb, "qid")
      .select(col("qid"), col("nid"), col("approx_sim"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"),
        col("nid"), col("sim"), col("approx_sim"))
  }

  /** L48b — the BYTE-PACKED form of int8RerankTopK: identical semantics
    * (same codes, same integer dot, same bounded_top_m shortlist, same
    * exact re-rank — result-identical rows, shared oracle), but the coarse
    * pass carries codes as a `binary` column (`int8_pack`) and computes the
    * integer dot over raw byte arrays (`int8_packed_dot`).
    *
    * This completes the memory-bandwidth story the operator is named for:
    * `array<long>` stores 8 B + offset metadata per code — the coarse scan
    * read MORE bytes than the float embeddings it replaced; packed it reads
    * 1 B per code (8× less scan/broadcast traffic at any scale) and the
    * kernel is one tight byte loop with no per-element null/offset checks.
    * The only payloads crossing the rank exchange are (qid, nid, double) —
    * and the broadcast side carries binary codes, never long arrays
    * (PlanSpec pins binary-only payloads for this plan). */
  def int8RerankTopKPacked(vecs: DataFrame, k: Int = 3, m: Int = 10,
                           queryMod: Int = 20): DataFrame = {
    // fused quantize+pack (Int8QuantPack): one codegen'd pass computes the
    // scale and the byte-packed codes — no intermediate double/long arrays,
    // no interpreted transform() lambdas in the scan (the l25/Int8QuantStats
    // fusion argument, applied to the coarse-pass representation)
    val qz = vecs
      .select(col("vec_id"), col("embedding"),
        call_function("int8_quant_pack", col("embedding")).as("qp"))
      .withColumn("nrm", sqrt(norm2(col("embedding"))))
      .select(col("vec_id"), col("embedding"),
        col("qp.scale").as("scale"), col("qp.codes").as("codes_bin"),
        col("nrm"))
    val queriesCoarse = broadcast(qz.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"),
        col("scale").as("qs"), col("codes_bin").as("qc"), col("nrm").as("qn")))
    val candsCoarse = qz.select(col("vec_id").as("nid"),
      col("scale").as("cs"), col("codes_bin").as("cc"), col("nrm").as("cn"))
    val approx = queriesCoarse.join(candsCoarse, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qs") * col("cs") *
          call_function("int8_packed_dot", col("qc"), col("cc"))
            .cast(DoubleType) /
          (col("qn") * col("cn"))).as("approx_sim"))
    val shortlist = approx
      .groupBy(col("qid"))
      .agg(call_function("bounded_top_m",
        col("approx_sim"), col("nid"), lit(m)).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("nid"), col("e.score").as("approx_sim"))
    val qEmb = broadcast(qz.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")))
    val cEmb = qz.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    broadcast(shortlist).join(cEmb, "nid").join(qEmb, "qid")
      .select(col("qid"), col("nid"), col("approx_sim"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"),
        col("nid"), col("sim"), col("approx_sim"))
  }

  /** Σ (a_i − b_i)² over two double arrays of STATICALLY-KNOWN length —
    * unrolled to a GetArrayItem/Add chain so the PQ fit's hot argmin pass
    * (m·N·ks distance evaluations) stays inside whole-stage codegen; a
    * zip_with/aggregate HOF here ejects the stage and allocates an
    * intermediate array per evaluation (measured 2.5 s → see BASELINE.md
    * l95 note). Bit-identical to the sequential fold both engines run:
    * the left-associated term sum equals the seed-0.0 left fold (x+0.0=x
    * for the non-negative squares), which is DuckDB's list_reduce. */
  private def l2dist(a: Column, b: Column, n: Int): Column =
    (0 until n).map { i =>
      val d = element_at(a, i + 1) - element_at(b, i + 1)
      d * d
    }.reduce(_ + _)

  /** Σ a_i·b_i over double arrays of statically-known length — the
    * unrolled twin of l2dist for the ADC lookup-table terms (same
    * codegen and bit-identity argument). */
  private def dotN(a: Column, b: Column, n: Int): Column =
    (0 until n).map(i => element_at(a, i + 1) * element_at(b, i + 1))
      .reduce(_ + _)

  /** Per-sub packed codebook: (sub, ca = array<struct<cent_id[, idx],
    * cent>> sorted by cent_id) — the broadcast shape of the per-row
    * sub-space argmin (round 22; packCents keyed by sub). `withIdx`
    * carries the dense code index through for the encode path. */
  private def packCentsBySub(cents: DataFrame,
                             withIdx: Boolean = false): DataFrame = {
    val entry =
      if (withIdx) struct(col("cent_id"), col("idx"), col("cent"))
      else struct(col("cent_id"), col("cent"))
    cents.groupBy(col("sub"))
      .agg(sort_array(collect_list(entry)).as("ca"))
  }

  /** The whole codebook as ONE row: cba = array<struct<sub, ca>> sorted
    * by sub (every sub present by pqFit's construction, so position
    * sub+1 addresses it) — the broadcast shape of the single-pass
    * encode/LUT rewrites (round 22). */
  private def packCodebook(cents: DataFrame,
                           withIdx: Boolean = false): DataFrame =
    packCentsBySub(cents, withIdx)
      .agg(sort_array(collect_list(struct(col("sub"), col("ca"))))
        .as("cba"))

  /** The winning (l2dist, cent_id[, idx]) struct over a per-sub packed
    * codebook — the argmin twin of bestCentStruct: ties (dist, cent_id)
    * ascending, identical to the previous min_by aggregations (idx, when
    * carried, rides third and never decides — cent_id is unique).
    * STATICALLY UNROLLED `least` over `ksHint` slots (the bestCentStruct
    * codegen argument; null slots past the trained min(ks, n) width are
    * skipped, a wider codebook takes the HOF branch — never on the
    * declared paths, which pass their ks knob). */
  private def bestSubCentStruct(sv: Column, ca: Column, subDim: Int,
                                ksHint: Int,
                                withIdx: Boolean = false): Column = {
    require(ksHint >= 2, s"ksHint must be >= 2: $ksHint")
    def entry(c: Column): Column =
      if (withIdx)
        struct(l2dist(sv, c.getField("cent"), subDim).as("d"),
          c.getField("cent_id").as("c"), c.getField("idx").as("i"))
      else
        struct(l2dist(sv, c.getField("cent"), subDim).as("d"),
          c.getField("cent_id").as("c"))
    // try_element_at for the same ANSI reason as bestCentStruct: the
    // trained width is min(ks, n) and can sit below ksHint
    val unrolled = least((1 to ksHint).map { j =>
      val c = try_element_at(ca, lit(j))
      when(c.isNull, lit(null)).otherwise(entry(c))
    }: _*)
    when(size(ca) <= ksHint, unrolled)
      .otherwise(array_min(transform(ca, entry(_))))
  }

  /** The sub-s0 DOUBLE sub-vector of `embedding` as a STATIC CreateArray
    * of element casts — same values as subVectors' slice-then-cast, but
    * codegen end to end (SimplifyExtractValueOps folds the downstream
    * element_at(array(...), i) back to the cast itself). */
  private def svStatic(embedding: Column, s0: Int, subDim: Int): Column =
    array((0 until subDim).map(i =>
      element_at(embedding, s0 * subDim + i + 1).cast(DoubleType)): _*)

  /** The sub-s DOUBLE sub-vector with a COLUMN sub index (the LUT path,
    * where the per-query table is tiny and the HOF cost irrelevant). */
  private def svSlice(embedding: Column, s: Column, subDim: Int): Column =
    transform(slice(embedding, s.cast(IntegerType) * subDim + 1,
      lit(subDim)), _.cast(DoubleType))

  /** Explode a float-embedding corpus into per-subspace DOUBLE sub-vectors:
    * one (vec_id, sub, sv) row per subspace, sv = dims [sub·d/m, (sub+1)·d/m).
    * The decomposition step shared by pqFit / pqEncode / the ADC LUT. */
  private def subVectors(vectors: DataFrame, m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    vectors
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub").cast(LongType).as("sub"),
        transform(
          slice(col("embedding"), col("sub") * subDim + 1, lit(subDim)),
          _.cast(DoubleType)).as("sv"))
  }

  /** PRODUCT-QUANTIZATION codebook fit (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * d-dim space into `m` orthogonal subspaces of d/m dims and run an
    * independent k-means (`ks` codewords) in each — the cross product of
    * the m small codebooks spans ks^m effective cells at m·ks·d/m stored
    * doubles, the compression that scalar quantization (l25/l48) cannot
    * reach.
    *
    * All m sub-fits run as ONE set of DataFrame jobs keyed by (sub,
    * cent_id) — iters × (broadcast-assign + per-(sub,cent,dim) quantized
    * mean), never m separate Lloyd loops: the corpus-sized work is m·N
    * sub-vector rows totalling exactly the corpus's bytes, independent of
    * m. Determinism is the l37 discipline end-to-end: first-ks init, L2
    * argmin with (dist, cent_id) tie order, per-dimension means snapped to
    * 1/quantum (integer sums, one division — aggregation-order-independent
    * and SQL-replayable), keep-previous rule for starved codewords, and a
    * dense `idx` (rank of cent_id within sub) so codes are stable 0..ks-1
    * bytes.
    *
    * Returns (sub, cent_id, idx, cent: array<double>). */
  def pqFit(vectors: DataFrame, m: Int = 16, ks: Int = 16, iters: Int = 2,
            dim: Int = 64, quantum: Long = 1000000L): DataFrame = {
    // materialize the m·N sub-vector rows once: every Lloyd iteration's
    // assignment re-consumes them, and without the barrier each blocking
    // action re-reads the parquet and re-slices (the commonWithSizes
    // materialization argument)
    val sv = subVectors(vectors, m, dim).localCheckpoint(eager = false)
    var cents = subVectors(
        vectors.orderBy(col("vec_id")).limit(ks), m, dim)
      .select(col("sub"), col("vec_id").as("cent_id"), col("sv").as("cent"))
      // both lazy (round 21): iteration 1's assignment join materializes
      // them inside its own job — eager checkpoints paid two extra jobs
      .localCheckpoint(eager = false)
    val subDim = dim / m
    for (_ <- 1 to iters) {
      // Per-row packed argmin (no ×ks row expansion, no corpus exchange —
      // the bestCentStruct rewrite keyed by sub; ties (dist, cent_id)
      // ascending, identical to the previous min_by), then the
      // per-(sub, cent_id) quantized means as subDim STATIC sum columns:
      // the posexplode → groupBy(sub, cent_id, pos) → re-collect chain
      // paid two extra shuffles per iteration for the same integer sums
      // (round 22).
      val assigned = sv.join(broadcast(packCentsBySub(cents)), Seq("sub"))
        .select(col("sub"),
          bestSubCentStruct(col("sv"), col("ca"), subDim, ks)
            .getField("c").as("cent_id"),
          col("sv"))
      val dimSums = (0 until subDim).map(i =>
        sum(round(element_at(col("sv"), i + 1) * quantum).cast(LongType))
          .as(s"sq_$i"))
      val fresh = assigned
        .groupBy(col("sub"), col("cent_id"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .select(col("sub"), col("cent_id"),
          array((0 until subDim).map(i =>
            col(s"sq_$i") / (col("n") * quantum)): _*).as("cent"))
      // keep-previous rule for codewords that win zero sub-vectors this
      // iteration (mirrors fitCentroids; replayed by the oracle's
      // LEFT JOIN + COALESCE)
      cents = cents.select(col("sub"), col("cent_id"), col("cent").as("prev"))
        .join(fresh.select(col("sub"), col("cent_id"), col("cent").as("next")),
          Seq("sub", "cent_id"), "left")
        .select(col("sub"), col("cent_id"),
          coalesce(col("next"), col("prev")).as("cent"))
        // lazy: one job per fit, not per iteration (round 21)
        .localCheckpoint(eager = false)
    }
    val wIdx = Window.partitionBy(col("sub")).orderBy(col("cent_id"))
    cents.withColumn("idx", row_number().over(wIdx).cast(LongType) - 1)
      .select(col("sub"), col("cent_id"), col("idx"), col("cent"))
  }

  /** PQ ENCODE: each vector → m codebook indices (the m-byte code a PQ
    * store persists — 8 B/vector here vs 256 B of floats, 32×). One
    * broadcast-assign pass over the m·N sub-vector rows, codes assembled
    * in sub order by the sort_array discipline (layout-independent). */
  def pqEncode(vectors: DataFrame, codebook: DataFrame, m: Int = 16,
               dim: Int = 64, ksHint: Int = 16): DataFrame =
    pqEncodeExt(vectors, codebook, m, dim, ksHint, Seq.empty)

  /** pqEncode with pass-through columns (cell, norm — the ivfPqFit index
    * assembly): ONE narrow pass per vector against the packed broadcast
    * codebook — the previous form exploded ×m, joined, and paid TWO
    * corpus exchanges (the argmin groupBy and the code re-assembly
    * collect); carrying extra columns through a narrow map also kills
    * the id-joins that re-attached them afterwards (round 22). Argmin
    * ties are (l2dist, cent_id) ascending — identical to the previous
    * min_by — and codes order by sub exactly as the sort_array form. */
  private[graft] def pqEncodeExt(vectors: DataFrame, codebook: DataFrame,
                                 m: Int, dim: Int, ksHint: Int,
                                 extra: Seq[Column]): DataFrame = {
    val subDim = dim / m
    // m STATIC argmin slots (position s0+1 of the sub-sorted cba IS sub
    // s0 — pqFit emits every sub), each a codegen'd least over ksHint
    // codewords: no HOF in the corpus-sized pass
    val codes = array((0 until m).map { s0 =>
      val ca = element_at(col("cba"), s0 + 1).getField("ca")
      bestSubCentStruct(svStatic(col("embedding"), s0, subDim), ca,
        subDim, ksHint, withIdx = true).getField("i")
    }: _*).as("codes")
    vectors.crossJoin(broadcast(packCodebook(codebook, withIdx = true)))
      .select(col("vec_id") +: codes +: extra: _*)
  }

  /** L95 — PQ-ADC ANN with exact rerank: the product-quantization twin of
    * l48's scalar-int8 path and the third point of the quantized-ANN
    * family (scalar l48/l48b → sub-vector PQ). Fit m=16 codebooks of
    * ks=16 codewords (pqFit), encode the corpus to m 4-bit codes —
    * m·log₂(ks) = 8 BYTES per vector (pqEncode), then score
    * query→candidate WITHOUT touching candidate floats: the
    * Asymmetric Distance Computation of Jégou et al. — per query,
    * precompute the m×k' lookup table lut[s·k'+j] = ⟨q_sub(s), cent(s,j)⟩
    * where k' = min(ks, n) is the TRAINED codebook width (pqFit seeds
    * one codeword per corpus row when n < ks, so the ADC stride derives
    * from size(lut)/m, never the nominal ks — the round-19 narrow-
    * codebook fix), then the coarse scan reads each candidate's m codes
    * and sums m table lookups.
    *
    * Scale shape: the corpus-sized pass touches ONLY the 8-bytes-of-
    * information code rows (32× less scan bandwidth than floats; 8× less
    * than int8 codes — carried as array<long> here for cross-engine
    * comparability, the l48-vs-l48b representation argument applies); the
    * ADC sum is a statically-unrolled chain of m array lookups + adds
    * (GetArrayItem/Add — whole-stage-codegen'd, no HOF lambda, no loop);
    * the shortlist collapses map-side through the same `bounded_top_m`
    * heap aggregate as l48 (no |Q|-key straggler window), and only the
    * |Q|·shortM survivors ever load float embeddings for the exact rerank.
    *
    * Determinism/oracle: codebooks are bit-replayable (pqFit's quantized
    * means), LUT terms are sequential-fold dots, and the ADC total is a
    * left-associated m-term sum — DuckDB replays it as
    * list_reduce(list(term ORDER BY sub)). Ties everywhere break by nid.
    * Recall vs bruteForceTopK is pinned in LlmSpec (the measured price of
    * 32× bandwidth; rerank recovers exact order within the shortlist). */
  /** The PQ/ADC coarse-scoring pass shared by `pqRerankTopK` and
    * `pqShortlistSweep`: fit, encode, build per-query LUTs, score every
    * (query, candidate) pair → (qid, nid, approx_sim). See pqRerankTopK's
    * scaladoc for the plan-shape and determinism story — this is a pure
    * code factoring, the subtree is identical. */
  private def pqApproxScores(vecs: DataFrame, queryMod: Int, m: Int,
                             ks: Int, iters: Int, dim: Int): DataFrame = {
    val cb = pqFit(vecs, m, ks, iters, dim).localCheckpoint(eager = false)
    // ONE narrow encode pass carries the corpus norm through (pqEncodeExt)
    // — the previous codes ⋈ norms id-join re-paired two projections of
    // the same scan (round 22)
    val cands = pqCands(vecs, cb, m, dim, ks)
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
    pqAdcScores(queries, cands, cb, m, dim)
  }

  /** The fused-path candidate table (nid, codes, cn): encode + norm in
    * one narrow pass over the corpus scan. */
  private def pqCands(vecs: DataFrame, cb: DataFrame, m: Int,
                      dim: Int, ksHint: Int): DataFrame =
    pqEncodeExt(vecs, cb, m, dim, ksHint,
      Seq(sqrt(norm2(col("embedding"))).as("cn")))
      .select(col("vec_id").as("nid"), col("codes"), col("cn"))

  /** The per-query ADC lookup table + query norm (qid, lut, qn) as ONE
    * narrow map against the packed broadcast codebook: flatten over
    * (sub asc, cent_id asc) — exactly the previous
    * sort_array(struct(sub, idx, term)) order, because idx IS the rank
    * of cent_id within its sub; dotN = the same left-associated term sum
    * the oracle's list_reduce replays. The previous form exploded ×m,
    * joined, re-collected (two exchanges) and re-joined the query norms
    * (a third) — all gone (round 22). */
  private def pqLut(queries: DataFrame, cb: DataFrame, m: Int,
                    dim: Int): DataFrame = {
    val subDim = dim / m
    val lutExpr = flatten(transform(col("cba"), e =>
      transform(e.getField("ca"), c =>
        dotN(svSlice(col("embedding"), e.getField("sub"), subDim),
          c.getField("cent"), subDim))))
    queries.crossJoin(broadcast(packCodebook(cb)))
      .select(col("vec_id").as("qid"), lutExpr.as("lut"),
        sqrt(norm2(col("embedding"))).as("qn"))
  }

  /** The ADC scoring core against an already-ENCODED corpus — the piece
    * pqApproxScores (fused fit+encode+score, the l95 declared shape) and
    * pqServeTopK (persisted codebook/codes, the production serving shape)
    * share. `cands` is (nid, codes, cn) for the encoded rows. The
    * codebook width is read off `cb` itself (stride = size(lut)/m), so
    * no nominal-ks parameter exists to disagree with the trained
    * min(ks, n) width. */
  private[graft] def pqAdcScores(queries: DataFrame, cands: DataFrame,
                                 cb: DataFrame,
                                 m: Int, dim: Int): DataFrame = {
    val lut = pqLut(queries, cb, m, dim)
    // coarse ADC scan: candidate side carries (nid, m codes, norm) only —
    // floats never enter this join; the sum unrolls to m static lookups.
    // The LUT stride is size(lut)/m, NOT the nominal ks: pqFit seeds
    // min(ks, n) codewords per sub (a corpus smaller than ks trains a
    // narrower codebook), and a fixed-ks stride would address past the
    // table exactly then. Exact division (the LUT has stride·m entries
    // by construction), identical to ks whenever the codebook is full.
    val adc = (0 until m).map { s0 =>
      element_at(col("lut"),
        (lit(s0) * (size(col("lut")) / lit(m))
          + element_at(col("codes"), lit(s0 + 1)) + 1)
          .cast(IntegerType))
    }.reduce(_ + _)
    // The code table feeding the |Q|-way broadcast probe pins its own
    // parallelism (the bm25Model REPARTITION discipline): the expansion
    // downstream is |Q|× the code rows, which AQE — sizing partitions by
    // the EXCHANGE's bytes — cannot see at any scale; with the narrow
    // encode the input would otherwise inherit the scan's partitioning
    // (ONE partition at bench scale). Index-sized rows (8 information
    // bytes per vector), never floats.
    val shufflePartitions =
      cands.sparkSession.sessionState.conf.numShufflePartitions
    broadcast(lut)
      .join(cands.repartition(shufflePartitions, col("nid")),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (adc / (col("qn") * col("cn"))).as("approx_sim"))
  }

  /** PQ SERVING — the l95 chain with the MODEL passed in instead of fit
    * in-line: score a query table against a persisted codebook + encoded
    * corpus (the state a production ANN store carries; refresh = retrain
    * offline and swap, the S19/S24 discipline), ADC-shortlist, exact
    * rerank. For queries drawn from the corpus itself this returns
    * row-identical results to pqRerankTopK (tested) — it IS that
    * operator's tail, factored at the model boundary so arriving query
    * batches (S26) pay codes-scan + |Q_batch|-sized work only, never a
    * refit. Output: (qid, rank, nid, sim, approx_sim). `ks` is NOMINAL
    * only (kept for call-site symmetry with the fit path): the ADC
    * stride is read off the passed codebook itself — size(lut)/m =
    * the trained min(ks, n) width. */
  def pqServeTopK(queries: DataFrame, corpus: DataFrame, cb: DataFrame,
                  codes: DataFrame, k: Int = 3, shortM: Int = 20,
                  m: Int = 16, ks: Int = 16, dim: Int = 64): DataFrame = {
    // persisted-model path: the codes table is external, so the corpus
    // norm attaches by id-join here; the fused path (pqRerankTopK)
    // carries it through the narrow encode instead
    val cNrm = corpus.select(col("vec_id"),
      sqrt(norm2(col("embedding"))).as("nrm"))
    val cands = codes.join(cNrm, "vec_id")
      .select(col("vec_id").as("nid"), col("codes"), col("nrm").as("cn"))
    pqServeCands(queries, corpus, cb, cands, k, shortM, m, dim)
  }

  /** pqServeTopK against a prebuilt (nid, codes, cn) candidate table —
    * the shared tail of the persisted (pqServeTopK) and fused
    * (pqRerankTopK) paths. Query/corpus norms project in the SAME select
    * as their embeddings (identical doubles — the same sqrt(norm2)
    * expression): the previous per-side id-joins re-paired two
    * projections of the same table (round 22). */
  private def pqServeCands(queries: DataFrame, corpus: DataFrame,
                           cb: DataFrame, cands: DataFrame, k: Int,
                           shortM: Int, m: Int, dim: Int): DataFrame = {
    val approx = pqAdcScores(queries, cands, cb, m, dim)
    val shortlist = approx
      .groupBy(col("qid"))
      .agg(call_function("bounded_top_m",
        col("approx_sim"), col("nid"), lit(shortM)).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("nid"), col("e.score").as("approx_sim"))
    // exact rerank of the |Q|·shortM survivors (the l48 tail)
    val qEmb = broadcast(queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(norm2(col("embedding"))).as("qn")))
    val cEmb = corpus.select(col("vec_id").as("nid"),
      col("embedding").as("ce"), sqrt(norm2(col("embedding"))).as("cn"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    broadcast(shortlist).join(cEmb, "nid").join(qEmb, "qid")
      .select(col("qid"), col("nid"), col("approx_sim"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"),
        col("nid"), col("sim"), col("approx_sim"))
  }

  def pqRerankTopK(vecs: DataFrame, k: Int = 3, shortM: Int = 20,
                   queryMod: Int = 20, m: Int = 16, ks: Int = 16,
                   iters: Int = 2, dim: Int = 64): DataFrame = {
    val cb = pqFit(vecs, m, ks, iters, dim).localCheckpoint(eager = false)
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
    pqServeCands(queries, vecs, cb, pqCands(vecs, cb, m, dim, ks),
      k, shortM, m, dim)
  }

  /** vector − centroid, element-wise, as a statically-unrolled double
    * array (no zip_with lambda — the l2dist/dotN codegen argument; the
    * oracle replays it as list_apply over list_zip, the same per-element
    * CAST-then-subtract). */
  private def residualArr(ce: Column, cent: Column, dim: Int): Column =
    array((0 until dim).map(i =>
      element_at(ce, i + 1).cast(DoubleType) - element_at(cent, i + 1)): _*)

  /** IVF-PQ composed index — the FAISS IVFADC deployment shape (Jégou,
    * Douze, Schmid, TPAMI 2011 §V: "IVFADC: coarse quantizer + PQ
    * encoding of residuals"), the one standard 100 TB vector-lake index
    * the suite's separate IVF (l37) and PQ (l95) halves couldn't express
    * composed: coarse-quantize the corpus into nCells trained cells
    * (fitCentroids — the l37/l118 fit), then product-quantize each
    * vector's RESIDUAL r(x) = x − c(x) with ONE codebook shared across
    * cells (pqFit over the residual corpus — the paper's choice: per-cell
    * codebooks multiply memory by nCells for marginal gain).
    *
    * The serving identity: dot(q, x) ≈ dot(q, c(x)) + Σ_s ⟨q_s, r̂_s(x)⟩
    * — the first term is per-(query, probed cell) (nProbe scalars per
    * query), the second is the SAME per-query ADC lookup table l95
    * builds, because the codebook is cell-independent. So a probe scan
    * touches only (cell, m code bytes, norm) per candidate: IVF's
    * nProbe/nCells scan fraction × PQ's 32× bandwidth compression,
    * composed.
    *
    * Returns (cents, rcb, index): the coarse centroids, the residual
    * codebook (sub, cent_id, idx, cent), and the serving index
    * (nid, cell, codes, nrm) — norms are of the ORIGINAL vectors (cosine
    * needs |x|; the residual is only a dot-product decomposition). */
  def ivfPqFit(vectors: DataFrame, nCells: Int = 16, coarseIters: Int = 3,
               m: Int = 16, ks: Int = 16, pqIters: Int = 2, dim: Int = 64)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = fitCentroids(vectors, nCells, coarseIters,
      quantum = Some(1000000L)).localCheckpoint(eager = false)
    // (vec_id, residual, cell, nrm) — one corpus assignment pass (narrow
    // ivfIndex + broadcast centroid attach), residuals AND the ORIGINAL
    // vector's norm in the same select (|x| is needed by serving; the
    // residual is only a dot-product decomposition — the previous form
    // re-derived it from the vectors table and re-attached it by id-join
    // at index assembly, round 22); the barrier stops fit-lineage
    // re-runs across the two consumers
    val resid = ivfIndex(vectors, cents)
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("nid").as("vec_id"),
        residualArr(col("ce"), col("cent"), dim).as("embedding"),
        col("cell"), sqrt(norm2(col("ce"))).as("nrm"))
      .localCheckpoint(eager = false)
    val rcb = pqFit(resid.select(col("vec_id"), col("embedding")),
      m, ks, pqIters, dim).localCheckpoint(eager = false)
    // index assembly is the narrow encode with (cell, nrm) carried
    // through — no id-joins (round 22)
    val index = pqEncodeExt(resid, rcb, m, dim, ks,
      Seq(col("cell"), col("nrm")))
      .select(col("vec_id").as("nid"), col("cell"), col("codes"),
        col("nrm"))
    (cents, rcb, index)
  }

  /** L119 serving — IVF-PQ/ADC with exact rerank against a PERSISTED
    * model (cents + residual codebook + coded index — the state a
    * production IVFADC store carries; refresh = retrain offline and
    * swap): per query, rank cells by centroid cosine and probe the top
    * nProbe (the l17/l37 window on the by-contract-small query side),
    * build the per-query residual-codebook LUT once (|Q|·m·ks rows,
    * corpus-independent), then scan ONLY probed cells' code rows —
    * approx_sim = (⟨q, c⟩ + Σ_s lut[s, code_s]) / (|q|·|x|) — shortlist
    * through the map-side `bounded_top_m` heap, and exact-rerank the
    * |Q|·shortM survivors (the only rows that ever load floats).
    *
    * Scale shape: corpus-sized work is the probed-cell code scan —
    * nProbe/nCells of the corpus at 8 information bytes per row; every
    * per-query structure (probes, LUT, shortlist) broadcasts. No
    * duplicate (qid, nid) is possible: each nid lives in exactly one
    * cell and probes are distinct per (qid, cell) (the ivfServeTopK
    * argument). Determinism: coarse dot + left-associated ADC sum are
    * sequential folds, ties break by nid — the oracle replays the whole
    * chain. Output: (qid, rank, nid, sim, approx_sim). */
  def ivfPqServeTopK(queries: DataFrame, corpus: DataFrame,
                     cents: DataFrame, rcb: DataFrame, index: DataFrame,
                     k: Int = 3, nProbe: Int = 2, shortM: Int = 20,
                     m: Int = 16, ks: Int = 16, dim: Int = 64): DataFrame = {
    val wP = Window.partitionBy(col("qid")).orderBy(
      cosine(col("qe"), col("cent")).desc, col("cent_id"))
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cent_id").as("cell"),
        dot(col("qe"), col("cent")).as("qcd"))
    // per-query ADC LUT + query norm against the residual codebook in ONE
    // narrow map (pqLut — position sub·ks + idx addresses it; the
    // previous explode ×m → join → re-collect → norm re-join chain paid
    // three exchanges on the query side, round 22)
    val lut = pqLut(queries, rcb, m, dim)
    val probeSide = broadcast(probes.join(lut, "qid"))
    val adc = (0 until m).map { s0 =>
      element_at(col("lut"),
        (lit(s0) * (size(col("lut")) / lit(m))
          + element_at(col("codes"), lit(s0 + 1)) + 1)
          .cast(IntegerType))
    }.reduce(_ + _)
    // the code-row index feeding the broadcast probe pins its own
    // parallelism (the bm25Model/pqAdcScores REPARTITION discipline: the
    // probed-cell expansion downstream is invisible to AQE's byte-sized
    // coalescing at any scale; with the narrow index assembly the input
    // would otherwise inherit the scan's partitioning). Index-sized rows.
    val shufflePartitions =
      index.sparkSession.sessionState.conf.numShufflePartitions
    val approx = probeSide
      .join(index.repartition(shufflePartitions, col("nid")), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        ((col("qcd") + adc) / (col("qn") * col("nrm"))).as("approx_sim"))
    val shortlist = approx.groupBy(col("qid"))
      .agg(call_function("bounded_top_m",
        col("approx_sim"), col("nid"), lit(shortM)).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e.id").as("nid"),
        col("e.score").as("approx_sim"))
    // exact rerank of the |Q|·shortM survivors (the l48/l95 tail).
    // Norms project in the SAME select as the embedding (identical
    // doubles — the same sqrt(norm2) expression): a corpus ⋈ corpus
    // self-join here would shuffle the float arrays on vec_id for no
    // information (round-18; the l119 PlanSpec payload pin holds the
    // corpus floats out of every exchange).
    val qEmb = broadcast(queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(norm2(col("embedding"))).as("qn")))
    val cEmb = corpus.select(col("vec_id").as("nid"),
      col("embedding").as("ce"), sqrt(norm2(col("embedding"))).as("cn"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    broadcast(shortlist).join(cEmb, "nid").join(qEmb, "qid")
      .select(col("qid"), col("nid"), col("approx_sim"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast(LongType).as("rank"),
        col("nid"), col("sim"), col("approx_sim"))
  }

  /** L121 — IVF-PQ COUPLED-KNOB recall sweep: the l87/l98 discipline on
    * the composed index, pricing the (nProbe, shortM) ladder that
    * `KnobSchedule.ivfPqKnobs` encodes — for each coupled config, the
    * fraction of brute-force top-k pairs the probed-cell ADC shortlist
    * of that config captures (shortlist recall IS end-to-end recall: the
    * exact rerank recovers exact order within the shortlist). The ladder
    * varies BOTH knobs, so unlike l98's single shared ranking, each
    * config ranks its OWN candidate set (cells ranked ≤ its nProbe) —
    * the honest audit cost is |configs| rank passes over ONE shared ADC
    * scan at maxProbe cells (fit, probes, LUT, and the probed-cell code
    * scan all run once; the explode multiplies only (qid, nid, rank,
    * sim) id-rows, never codes or floats).
    *
    * Output per config: (n_probe, short_m, n_queries, n_truth, n_hit,
    * recall). Determinism: the shared approx pass is l119's (sequential
    * folds, nid ties); per-config ranks are total-ordered windows; the
    * one division is exact-operand double division. */
  def ivfPqProbeSweep(vecs: DataFrame,
                      configs: Seq[(Int, Int)] = Seq((2, 10), (4, 20), (8, 40)),
                      k: Int = 3, queryMod: Int = 20, nCells: Int = 16,
                      coarseIters: Int = 3, m: Int = 16, ks: Int = 16,
                      pqIters: Int = 2, dim: Int = 64): DataFrame = {
    val maxProbe = configs.map(_._1).max
    val (cents, rcb, index) =
      ivfPqFit(vecs, nCells, coarseIters, m, ks, pqIters, dim)
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
    val wP = Window.partitionBy(col("qid")).orderBy(
      cosine(col("qe"), col("cent")).desc, col("cent_id"))
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("cell_rank", row_number().over(wP))
      .filter(col("cell_rank") <= maxProbe)
      .select(col("qid"), col("cent_id").as("cell"), col("cell_rank"),
        dot(col("qe"), col("cent")).as("qcd"))
    val qn = queries.select(col("vec_id").as("qid"),
      sqrt(norm2(col("embedding"))).as("qn"))
    val lut = subVectors(queries, m, dim)
      .join(broadcast(rcb), Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("idx"),
        dotN(col("sv"), col("cent"), dim / m).as("term"))
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(
        struct(col("sub"), col("idx"), col("term")))).as("ps"))
      .select(col("qid"),
        transform(col("ps"), x => x.getField("term")).as("lut"))
    val probeSide = broadcast(probes.join(lut, "qid").join(qn, "qid"))
    val adc = (0 until m).map { s0 =>
      element_at(col("lut"),
        (lit(s0) * (size(col("lut")) / lit(m))
          + element_at(col("codes"), lit(s0 + 1)) + 1)
          .cast(IntegerType))
    }.reduce(_ + _)
    val approx = probeSide.join(index, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("cell_rank"),
        ((col("qcd") + adc) / (col("qn") * col("nrm"))).as("approx_sim"))
      .localCheckpoint(eager = false) // one shared ADC pass feeds every config rank (lazy: its first consumer materializes it)
    val cfgCol = explode(array(configs.map { case (np, sm) =>
      struct(lit(np.toLong).as("n_probe"), lit(sm.toLong).as("short_m"))
    }: _*))
    val wR = Window.partitionBy(col("n_probe"), col("short_m"), col("qid"))
      .orderBy(col("approx_sim").desc, col("nid"))
    val short = approx.select(col("qid"), col("nid"), col("cell_rank"),
        col("approx_sim"), cfgCol.as("cfg"))
      .select(col("qid"), col("nid"), col("cell_rank"), col("approx_sim"),
        col("cfg.n_probe").as("n_probe"), col("cfg.short_m").as("short_m"))
      .filter(col("cell_rank") <= col("n_probe"))
      .withColumn("srn", row_number().over(wR))
      .filter(col("srn") <= col("short_m"))
      .select(col("n_probe"), col("short_m"), col("qid"), col("nid"))
    // truth × config grid (the l98 membership-test shape), hit = the
    // pair appears in that config's shortlist
    val grid = bruteForceTopK(queries, vecs, k)
      .select(col("qid"), col("nid"), cfgCol.as("cfg"))
      .select(col("qid"), col("nid"),
        col("cfg.n_probe").as("n_probe"), col("cfg.short_m").as("short_m"))
    grid.join(short.withColumn("hit", lit(1L)),
        Seq("n_probe", "short_m", "qid", "nid"), "left")
      .groupBy(col("n_probe"), col("short_m"))
      .agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("n_probe"), col("short_m"), col("n_queries"),
        col("n_truth"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_truth").cast(DoubleType))
          .as("recall"))
  }

  /** L119 — the fused fit+serve form (the declared-query shape, queries
    * drawn from the corpus by the l95 sampling rule). */
  def ivfPqRerankTopK(vecs: DataFrame, k: Int = 3, nProbe: Int = 2,
                      shortM: Int = 20, queryMod: Int = 20,
                      nCells: Int = 16, coarseIters: Int = 3, m: Int = 16,
                      ks: Int = 16, pqIters: Int = 2,
                      dim: Int = 64): DataFrame = {
    val (cents, rcb, index) =
      ivfPqFit(vecs, nCells, coarseIters, m, ks, pqIters, dim)
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
    ivfPqServeTopK(queries, vecs, cents, rcb, index,
      k, nProbe, shortM, m, ks, dim)
  }

  /** PQ SHORTLIST-SIZE recall sweep — the l95 serving knob priced the way
    * l87 prices IVF's nProbe: for each candidate shortM, the fraction of
    * the TRUE top-k (brute-force cosine on the sampled query set) that the
    * ADC shortlist of that size captures. Since the exact rerank recovers
    * exact order WITHIN the shortlist, shortlist recall IS end-to-end
    * recall@k — this table is read before fixing shortM in production.
    *
    * Scale: ONE shared ADC pass at max(shortMs) serves every config (the
    * l87/l88 shared-pass discipline) — the per-pair coarse scan happens
    * once, `bounded_top_m` keeps max(shortMs) candidates map-side, and the
    * per-config membership test is a ≤|Q|·k-row explode + hash-agg. Truth
    * is |Q|·N exact cosines — the audit's inherent cost (l44's job),
    * query-sampled by queryMod exactly like the coarse pass.
    *
    * Determinism: approx ranks come from bounded_top_m's total
    * (score desc, id asc) order; truth ranks from bruteForceTopK's
    * (sim desc, nid) — both replayed verbatim by the oracle's
    * row_numbers; counts and the one recall division are exact. */
  def pqShortlistSweep(vecs: DataFrame, shortMs: Seq[Int] = Seq(5, 10, 20),
                       k: Int = 3, queryMod: Int = 20, m: Int = 16,
                       ks: Int = 16, iters: Int = 2,
                       dim: Int = 64): DataFrame = {
    val maxM = shortMs.max
    val approx = pqApproxScores(vecs, queryMod, m, ks, iters, dim)
    val ranked = approx.groupBy(col("qid"))
      .agg(call_function("bounded_top_m",
        col("approx_sim"), col("nid"), lit(maxM)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("nid"),
        (col("pos") + 1).cast(LongType).as("approx_rank"))
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
    val truth = bruteForceTopK(queries, vecs, k)
      .select(col("qid"), col("nid"))
    truth.join(ranked, Seq("qid", "nid"), "left")
      .select(col("qid"), col("approx_rank"),
        explode(array(shortMs.sorted.map(x => lit(x.toLong)): _*))
          .as("short_m"))
      .groupBy(col("short_m"))
      .agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        sum(when(col("approx_rank") <= col("short_m"), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("short_m"), col("n_queries"), col("n_truth"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_truth").cast(DoubleType))
          .as("recall"))
  }

  /** PQ CODEBOOK-health audit — the "is my codebook still fit for this
    * corpus" table read before trusting l95's serving path: per
    * (sub, cent_id), how many sub-vectors the codeword wins and its total
    * squared reconstruction error, with DEAD codewords (zero assignments)
    * kept at n_assigned = 0 — dead codewords and fat error cells are the
    * retrain signals (codebook capacity vs corpus drift).
    *
    * Exactness: assignment replays pqEncode's argmin exactly (min over
    * (dist, cent_id) structs); the per-assignment error is snapped to the
    * 10⁻⁶ integer grid (floor(d·10⁶ + 0.5) — pqFit's quantum, the same
    * half-up formula as l25) so the per-cell totals are LONG sums: exact,
    * aggregation-order-free, bit-identical cross-engine. No corpus-sized
    * ordered fold — the snap is what makes an exact error SUM scalable
    * where a double fold would need an order.
    *
    * Scale: one broadcast-assign pass over the m·N sub-vector rows (the
    * fit/encode shape), then an m·ks-row agg and an m·ks-row left join.
    */
  def pqCodebookAudit(vecs: DataFrame, m: Int = 16, ks: Int = 16,
                      iters: Int = 2, dim: Int = 64): DataFrame = {
    val cb = pqFit(vecs, m, ks, iters, dim).localCheckpoint(eager = false)
    val asg = subVectors(vecs, m, dim)
      .join(broadcast(cb), Seq("sub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(l2dist(col("sv"), col("cent"), dim / m).as("d"),
        col("cent_id").as("cent_id"))).as("best"))
      .select(col("sub"), col("best.cent_id").as("cent_id"),
        floor(col("best.d") * 1000000.0 + 0.5).cast(LongType).as("err_e6"))
    val stats = asg.groupBy(col("sub"), col("cent_id"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("err_e6")).as("err_e6_sum"))
    cb.select(col("sub"), col("cent_id"))
      .join(stats, Seq("sub", "cent_id"), "left")
      .select(col("sub").cast(LongType).as("sub"),
        col("cent_id").cast(LongType).as("cent_id"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        coalesce(col("err_e6_sum"), lit(0L)).as("err_e6_sum"))
  }

  /** The HOF formulation of quantizeInt8 — kept as the semantic reference
    * the native expression is equality-tested against (ExpressionSpec),
    * the same twin pattern as dot/dotHof. */
  def quantizeInt8Hof(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"),
        transform(col("embedding"), _.cast(DoubleType)).as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))) / 127.0)
      .withColumn("codes", transform(col("e"), x =>
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(x / col("scale") + 0.5).cast(LongType))))
      .select(col("vec_id"),
        size(col("e")).cast(LongType).as("n_dims"),
        col("scale"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        aggregate(
          zip_with(col("e"), col("codes"), (x, c) => {
            val d = x - c.cast(DoubleType) * col("scale")
            d * d
          }),
          lit(0.0), (a, v) => a + v).as("recon_err"))

  /** Embedding-cosine near-duplicate pairs: all pairs in the SAME LSH
    * bucket with cosine >= minSim (the embedding analog of minhashNearDups
    * — bucket-bounded, never all-pairs). */
  def cosineNearDups(vectors: DataFrame, minSim: Double = 0.9,
                     planes: Int = 8, dim: Int = 64): DataFrame = {
    val v = vectors.select(col("vec_id"), col("embedding"),
      bucketExpr(col("embedding"), planes, dim).as("bkt"))
    v.as("x").join(v.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(col("x.embedding"), col("y.embedding")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space analog of
    * Dedup.decontaminate (l24): train-split vectors whose embedding is
    * within cosine `minSim` of ANY eval-split vector leak the benchmark
    * in paraphrased form, which n-gram decontamination cannot see. The
    * split is the same content- and layout-independent md5(id) bucketing
    * as stableSplit, derivable per row with no join.
    *
    * Scale shape: candidate pairs come from the SAME hyperplane-LSH
    * bucket-equality join as cosineNearDups — the corpus is never
    * all-paired against the eval set; per-bucket work is bounded by
    * occupancy, and the eval side is ~10% of the corpus by construction.
    * Output: (vec_id, n_eval_hits, max_sim) per contaminated train vector. */
  def semanticDecontaminate(vectors: DataFrame, minSim: Double = 0.3,
                            planes: Int = 8, dim: Int = 64,
                            trainPct: Int = 80, evalFromPct: Int = 90): DataFrame = {
    // the split cuts are PARAMETERS (same signature discipline as
    // Dedup.decontaminate): a pipeline running stableSplit(trainPct=70)
    // must be able to screen the same 70/15/15 membership here — hardcoded
    // cuts would silently skip train buckets 70–79 and ignore eval buckets
    // 85–89, the exact divergence TextOps.splitBucket's doc warns about
    val bucket = TextOps.splitBucket(col("vec_id"))
    val v = vectors.select(col("vec_id"), col("embedding"),
      bucketExpr(col("embedding"), planes, dim).as("bkt"), bucket.as("split"))
    val train = v.filter(col("split") < trainPct)
      .select(col("vec_id"), col("embedding").as("te"), col("bkt"))
    val eval_ = v.filter(col("split") >= evalFromPct)
      .select(col("vec_id").as("eid"), col("embedding").as("ee"), col("bkt"))
    train.join(eval_, Seq("bkt"))
      .select(col("vec_id"), col("eid"), cosine(col("te"), col("ee")).as("sim"))
      .filter(col("sim") >= minSim)
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("eid")).as("n_eval_hits"), max(col("sim")).as("max_sim"))
  }

  /** LSH RECALL AUDIT — the embedding twin of Dedup.minhashEstimateAudit
    * (l43): measure, inside the engine, what fraction of the TRUE
    * near-neighbor pairs (cosine >= minSim, exact) each hyperplane-LSH
    * configuration would have surfaced as same-bucket candidates. This is
    * the number that justifies l39/l40's bucket-equality shape at their
    * thresholds — recall is a property of (planes, tables, threshold,
    * data), not of the algorithm in the abstract, so a pipeline tuning
    * those knobs needs it measured on ITS corpus.
    *
    * Ground truth is sampled-query exact: every vector with vec_id ≡ 0
    * (mod sampleMod) is paired against the whole corpus (directed, qid ≠
    * nid) and kept where exact cosine >= minSim. The sample side is small
    * by construction and broadcast; the corpus is scanned once — the same
    * shape as bruteForceTopK, never all-pairs. Each config's "found" flag
    * is computed INLINE on the surviving truth rows (both embeddings are
    * already on the row, so bucket agreement needs no second join).
    *
    * Output: one row per config — (planes, tables, n_truth, n_found,
    * recall), recall = n_found / n_truth. Configs: planes ∈ {4,8} ×
    * tables ∈ {1,8}; table t uses plane family t·planes, exactly as
    * annTopK does. */
  def lshRecallAudit(vectors: DataFrame, minSim: Double = 0.3,
                     dim: Int = 64, sampleMod: Long = 20): DataFrame =
    lshRecallAuditConfigs(vectors,
      Seq((4, 1), (4, 8), (8, 1), (8, 8)), minSim, dim, sampleMod)

  /** The audit for ARBITRARY (planes, tables) configs — what
    * KnobSchedule's chosen knobs are validated against (the l44 declared
    * query is the fixed 4-config instance above). One truth computation,
    * one aggregate; every config's found-flag is an inline expression on
    * the surviving truth rows. */
  def lshRecallAuditConfigs(vectors: DataFrame, configs: Seq[(Int, Int)],
                            minSim: Double = 0.3, dim: Int = 64,
                            sampleMod: Long = 20): DataFrame = {
    require(configs.nonEmpty)
    // Norms are a per-VECTOR quantity: compute them once per side BEFORE
    // the pair join (sample×corpus pairs would otherwise re-fold both
    // norms per pair — at |Q|·N pairs that triples the dot-product work).
    // sqrt(norm2) here is the identical double the post-join fold would
    // produce, so the sim threshold stays bit-compatible with the oracle.
    val q = broadcast(vectors.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(norm2(col("embedding"))).as("qn")))
    val truth = q
      .join(vectors.select(col("vec_id").as("nid"), col("embedding").as("ce"),
          sqrt(norm2(col("embedding"))).as("cn")),
        col("qid") =!= col("nid"))
      .filter(dot(col("qe"), col("ce")) / (col("qn") * col("cn")) >= minSim)
    def found(planes: Int, tables: Int): Column =
      (0 until tables).map(t =>
          bucketExpr(col("qe"), planes, dim, t * planes) ===
            bucketExpr(col("ce"), planes, dim, t * planes))
        .reduce(_ || _).cast(LongType)
    val aggs = count(lit(1)).as("n_truth") +:
      configs.zipWithIndex.map { case ((p, t), i) => sum(found(p, t)).as(s"f_$i") }
    val stackArgs = configs.zipWithIndex
      .map { case ((p, t), i) => s"${p}L, ${t}L, f_$i" }
      .mkString(s"stack(${configs.length}, ", ", ", ")")
    truth
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_truth"),
        expr(stackArgs).as(Seq("planes", "tables", "n_found")))
      .select(col("planes"), col("tables"), col("n_truth"), col("n_found"),
        (col("n_found").cast(DoubleType) / col("n_truth")).as("recall"))
  }

  /** SEMANTIC dedup applied end-to-end — the embedding-space twin of
    * Dedup.dedupApply: LSH-bucketed cosine near-dup pairs → connected
    * components → keep each cluster's canonical (minimum) vec_id. Survivors
    * only; the loser set is tiny by construction (near-dup fraction of the
    * corpus), so the final subtraction is a broadcast anti-join and the
    * corpus is never shuffled.
    *
    * The clustering step is AUTO-SELECTED (Dedup.nearDupClustersAuto):
    * semantic near-dup graphs CAN chain (A≈B≈C with cos(A,C) < threshold —
    * paraphrase ladders), where star contraction's O(log n) wins; but most
    * corpora produce dense low-diameter clumps where propagation's one
    * shuffle per round is cheaper. The probe (propagation capped at a few
    * rounds, star fallback on non-convergence) takes whichever the actual
    * graph rewards. Output: (vec_id, label) survivors. */
  def embeddingDedupApply(vectors: DataFrame, minSim: Double = 0.3,
                          planes: Int = 8, dim: Int = 64): DataFrame = {
    val pairs = cosineNearDups(vectors, minSim, planes, dim)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val losers = graft.llm.Dedup.nearDupClustersAuto(pairs)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    vectors.join(broadcast(losers), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** k-NN graph HUBNESS audit (Radovanović et al., JMLR 2010) — the
    * in-degree distribution of the top-k neighbor graph over an
    * md5-sampled query set: per in-degree value, how many corpus vectors
    * are retrieved that often, plus the corpus fraction (in-degree 0 =
    * vectors NO sampled query retrieves). High-dimensional embedding
    * spaces concentrate retrieval onto a few "hub" vectors — a heavy
    * right tail here warns that ANN-driven dedup/retrieval (l39, l48)
    * will over-visit hubs and starve the antihub mass, the bias check run
    * before trusting nearest-neighbor machinery on a new embedding model.
    *
    * Scale: the query sample is `samplePct` of the corpus by the
    * content/layout-independent md5(vec_id) bucket (TextOps.splitBucket's
    * discipline — the same sample on any engine), so the edge list is
    * audit-sized: bruteForceTopK's broadcast-queries single corpus pass
    * here; at 100 TB feed the same audit from l48's packed-rerank edges —
    * it consumes any (qid, nid) edge list. After the edges everything is
    * id-arithmetic: one count per nid, a ≤k·|Q|-bounded histogram agg,
    * and the zero bin from two broadcast 1-row counts. */
  def hubnessAudit(vectors: DataFrame, samplePct: Int = 20,
                   k: Int = 5): DataFrame = {
    val queries = vectors
      .filter(graft.llm.TextOps.splitBucket(col("vec_id")) < samplePct)
    val edges = bruteForceTopK(queries, vectors, k)
    val deg = edges.groupBy(col("nid"))
      .agg(count(lit(1)).as("in_degree"))
    val hist = deg.groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vecs"))
    val nCorpus = vectors.agg(count(lit(1)).as("n_corpus"))
    val nHit = deg.agg(count(lit(1)).as("n_hit"))
    val zero = nCorpus.crossJoin(broadcast(nHit))
      .select(lit(0L).as("in_degree"),
        (col("n_corpus") - col("n_hit")).as("n_vecs"))
    hist.unionByName(zero)
      .filter(col("n_vecs") > 0)
      .crossJoin(broadcast(nCorpus))
      .select(col("in_degree"), col("n_vecs"),
        (col("n_vecs").cast(DoubleType)
          / col("n_corpus").cast(DoubleType)).as("frac_vecs"))
  }

  /** Embedding-space COVERAGE audit — occupancy of the 2^planes SimHash
    * cells (the l06 hyperplane buckets used as a fixed, model-independent
    * grid over the embedding space): per occupied cell its population,
    * corpus fraction, and skew vs uniform (n_vecs·2^planes/N — 1.0 means
    * the cell holds exactly its uniform share), with the occupied-cell
    * count and occupancy fraction riding on every row. The diversity
    * readout run before trusting a crawl snapshot: a corpus whose mass
    * sits in a few cells is clustered/redundant (cap it with
    * `diversitySample`); near-uniform occupancy says the embedding space
    * is actually covered. Also the before/after receipt for any
    * diversity-driven downsampling.
    *
    * Scale: bucket id is a pure codegen projection (planes·dim literal
    * dot products — no shuffle, no index); ONE corpus-sized aggregation
    * to <= 2^planes cells; summary stats are a broadcast 1-row aggregate
    * over those cells. Every ratio is one division of exact longs. */
  def embeddingCoverage(vectors: DataFrame, planes: Int = 8,
                        dim: Int = 64): DataFrame = {
    val nCells = 1L << planes
    val cells = coverageCellTable(vectors, planes, dim)
    val tot = broadcast(cells.agg(
      sum(col("n_vecs")).as("n_corpus"),
      count(lit(1)).as("n_cells_occupied")))
    cells.crossJoin(tot)
      .select(col("bkt"), col("n_vecs"),
        (col("n_vecs").cast(DoubleType)
          / col("n_corpus").cast(DoubleType)).as("frac_vecs"),
        (col("n_vecs").cast(DoubleType) * nCells
          / col("n_corpus").cast(DoubleType)).as("skew_vs_uniform"),
        col("n_cells_occupied"),
        (col("n_cells_occupied").cast(DoubleType) / nCells)
          .as("occupancy_frac"))
  }

  /** The raw (bkt, n_vecs) CELL TABLE behind `embeddingCoverage` — the
    * persistable artifact a monitoring loop carries (S22): build it per
    * crawl batch, keep it, and fold batches with `mergeCoverageCells`.
    * The summary view (fractions, skew, occupancy) derives from the
    * carried table at read time; the corpus is never re-scanned. */
  def coverageCellTable(vectors: DataFrame, planes: Int = 8,
                        dim: Int = 64): DataFrame =
    vectors
      .select(bucketExpr(col("embedding"), planes, dim).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("n_vecs"))

  /** Associative MERGE of two coverage cell tables: counts add per cell
    * (plain sum — trivially associative and commutative, so any fold
    * order over any batch split yields the drained corpus's cell table).
    * Touches ≤ 2·2^planes rows — cell-table work, no corpus. Unlike the
    * sketch/keep-table merges (which `distinct` into idempotence), COUNTS
    * double on re-delivery: the S22 loop relies on foreachBatch's
    * batchId-transactional write for exactly-once folding, the standard
    * streaming-aggregation discipline. */
  def mergeCoverageCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("bkt")).agg(sum(col("n_vecs")).as("n_vecs"))

  /** Cell-capped DIVERSITY sample — keep at most `cap` vectors per SimHash
    * cell, chosen content-independently (ascending md5 of the vec_id, ties
    * by id): the de-clustering downsample applied when `embeddingCoverage`
    * shows a few cells hoarding the corpus (crawl dumps repeat topics; a
    * topic is a dense region; capping per cell flattens topical redundancy
    * while leaving sparse regions — the rare data — untouched). The md5
    * draw makes the kept set a uniform sample WITHIN each cell, and
    * deterministic: re-runs keep the same vectors.
    *
    * Scale: the per-cell top-cap is `bounded_top_m` (plans.BoundedTopM) on
    * the negated md5 hash — map-side <= cap-entry heaps per cell, the
    * exchange carries cells·P serialized heaps, never a per-cell window
    * sort of the corpus (a dense cell is exactly where row_number's
    * single-key sort would straggle). Output: (bkt, vec_id) kept rows. */
  def diversitySample(vectors: DataFrame, cap: Int = 4, planes: Int = 8,
                      dim: Int = 64): DataFrame =
    vectors
      .select(bucketExpr(col("embedding"), planes, dim).as("bkt"),
        col("vec_id"),
        graft.llm.TextOps.md5Int32(col("vec_id").cast(StringType)).as("h"))
      .groupBy(col("bkt"))
      .agg(call_function("bounded_top_m",
        negate(col("h").cast(DoubleType)), col("vec_id"), lit(cap)).as("tm"))
      .select(col("bkt"), explode(col("tm")).as("e"))
      .select(col("bkt"), col("e.id").as("vec_id"))

  /** IVF PROBE-COUNT recall sweep — measured recall@k of the IVF index at
    * every nProbe in `probes` against the exact brute-force ground truth
    * over an md5-sampled query set: the l82/l44 audit family's missing
    * member (l44 ranks LSH configs, l82 ranks MinHash band tilings; this
    * ranks the IVF probe knob — the recall-vs-cost dial an ANN deployment
    * actually turns at serving time). Because a query's probed cells at
    * smaller nProbe are a PREFIX of its cells at larger nProbe, hit counts
    * are provably monotone in nProbe (a truth pair can only be displaced
    * by another truth pair) — asserted in LlmSpec.
    *
    * Scale: the probe-independent work is shared across ALL configs — one
    * corpus assignment pass (annTopKIvf's max_by hash-agg shape), ONE
    * cosine pass over the maximal probe set, and ONE window sort that
    * computes every config's rank simultaneously: rank-within-config-p =
    * a running sum of the `prn <= p` indicator under the global
    * (sim desc, nid) order, so |probes| running sums over the SAME window
    * spec collapse into one Window node and one sort. Only the rows in
    * some config's top-k (≤ |probes|·k per query) materialize — the
    * first cut checkpointed the full |Q|·probe-cells sims table and paid
    * a materialization tax (measured at 10× embeddings: 30.2 s vs this
    * form's 23.3 s). Measured honestly (the `sweepshare` receipt), the
    * audit is TRUTH-DOMINATED: the exact leg is 9.9 s of the 23.3, and
    * the shared probe side lands ≈ the sum of separate per-config IVF runs
    * (13.4 vs 13.6 s — the single multi-rank window trades the saved
    * re-scans for a wider per-row aggregate). What the sweep durably buys
    * is ONE query instead of |probes|+1 (single truth evaluation, single
    * corpus assignment, single scan lineage) and a plan whose cost is
    * bounded by the pMax config alone as probes multiply. The truth leg
    * is the broadcast-queries exact pass (its cost IS the ground-truth
    * job, the l44 rule). Counts are broadcast 1-row aggregates; recall
    * divides exact longs once. */
  def ivfProbeSweep(vectors: DataFrame, k: Int = 3, nCells: Int = 16,
                    probes: Seq[Int] = Seq(1, 2, 4),
                    samplePct: Int = 20): DataFrame = {
    val queries = vectors
      .filter(graft.llm.TextOps.splitBucket(col("vec_id")) < samplePct)
    val truth = bruteForceTopK(queries, vectors, k)
      .select(col("qid"), col("nid")).localCheckpoint()
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    val pMax = probes.max
    val cents = vectors.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
    // the packed per-row argmax (ivfIndex/bestCentStruct): the previous
    // crossJoin × nCells + groupBy(nid) max_by re-shuffled the corpus
    // (embedding payload included) just to re-pair each vector with its
    // own argmax — the round-22 ivfIndex rewrite, which this sweep's
    // local copy had not picked up
    val assigned = ivfIndex(vectors, cents, nCells)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(cosine(col("qe"), col("cent")).desc, col("cent_id"))
    val probed = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= pMax)
      .select(col("qid"), col("qe"), col("cent_id").as("cell"), col("prn"))
    val simsAll = broadcast(probed).join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("prn"),
        cosine(col("qe"), col("ce")).as("sim"))
    // every config's rank in one window pass: same partition/order/frame
    // for all |probes| running sums ⇒ one Window node, one sort
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = simsAll.select(
      Seq(col("qid"), col("nid"), col("prn")) ++
        probes.map(p => sum(when(col("prn") <= p, 1L).otherwise(0L))
          .over(wRank).as(s"r$p")): _*)
    // keep only rows in SOME config's top-k — ≤ |probes|·k per query
    val qual = ranked
      .filter(probes.map(p => col("prn") <= p && col(s"r$p") <= k)
        .reduce(_ || _))
    // Fused per-config tail (round 22): ONE truth left-join (truth pairs
    // are unique, so it cannot fan a row out) + ONE aggregate computing
    // every config's retrieved/hit counts as conditional sums, exploded
    // into the per-config rows off the 1-row result — the per-config form
    // paid |probes| semi-joins and 2·|probes| count branches (plus the
    // eager qual checkpoint those multiple consumers demanded; single
    // consumer now, so the materialization job is gone too). Sums
    // coalesce to 0 so an empty qualifying set reads exactly as the old
    // count aggregates did.
    val qualT = qual
      .join(truth.withColumn("t", lit(1)), Seq("qid", "nid"), "left")
    val sums = probes.flatMap { p =>
      val got = col("prn") <= p && col(s"r$p") <= k
      Seq(sum(when(got, 1L).otherwise(0L)).as(s"ret_$p"),
        sum(when(got && col("t").isNotNull, 1L).otherwise(0L)).as(s"hit_$p"))
    }
    qualT.agg(sums.head, sums.tail: _*)
      .select(explode(array(probes.map(p =>
        struct(lit(p.toLong).as("nprobe"),
          coalesce(col(s"ret_$p"), lit(0L)).as("n_retrieved"),
          coalesce(col(s"hit_$p"), lit(0L)).as("n_hits"))): _*)).as("e"))
      .select(col("e.nprobe").as("nprobe"),
        col("e.n_retrieved").as("n_retrieved"),
        col("e.n_hits").as("n_hits"))
      .crossJoin(nTruth)
      .select(col("nprobe"), col("n_retrieved"), col("n_hits"),
        col("n_truth"),
        (col("n_hits").cast(DoubleType) / col("n_truth").cast(DoubleType))
          .as("recall"))
  }

  /** Associative MERGE of two diversity-sample keep tables (the S21
    * streaming-maintenance primitive, `mergeSourceSketches`' argument on
    * the cell axis): the per-cell bottom-cap under the total order
    * (md5(vec_id), vec_id) of A ∪ B equals the bottom-cap of
    * bottom-cap(A) ∪ bottom-cap(B) — any globally-kept vector is kept on
    * its own side (at most cap−1 cell-mates sit below it there). So a
    * crawl loop samples each arriving batch alone and folds it into the
    * carried keep table in any order; the maintained state equals the
    * from-scratch sample of everything seen. The md5 key re-derives from
    * vec_id (content-independent), so the state table stays two columns;
    * `distinct` makes re-delivered rows a no-op (at-least-once safe).
    * Touches ≤ 2·cells·cap rows — keep-table work, no corpus. */
  def mergeDiversitySamples(a: DataFrame, b: DataFrame,
                            cap: Int = 4): DataFrame =
    a.unionByName(b)
      .distinct()
      .select(col("bkt"), col("vec_id"),
        graft.llm.TextOps.md5Int32(col("vec_id").cast(StringType)).as("h"))
      .groupBy(col("bkt"))
      .agg(call_function("bounded_top_m",
        negate(col("h").cast(DoubleType)), col("vec_id"), lit(cap)).as("tm"))
      .select(col("bkt"), explode(col("tm")).as("e"))
      .select(col("bkt"), col("e.id").as("vec_id"))
}
