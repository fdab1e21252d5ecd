package graft

import graft.llm.{Dedup, TextAnalysis, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LLM curation pipeline wired END-TO-END — the lineage a trainer
  * actually runs, not the per-operator slices the oracle checks:
  *
  *   corpus → funnel admit (l32) → keep-best dedup apply (l53)
  *          → graded decontamination threshold (l54)
  *          → leakage-safe split (l58) → pack (l19/l61)
  *          → mixture order (l62)
  *
  * Mirrors PipelineSpec (the CDC plane's end-to-end test): each stage is
  * materialized to parquet exactly the way a bronze→silver→gold lake
  * pipeline would run it at 100 TB — stage boundaries are STORAGE, so each
  * stage's internal plan keeps its per-operator payload discipline (pinned
  * in PlanSpec) and the composition adds no new shuffle shapes. The spec
  * asserts the cross-stage facts no single-operator oracle can see:
  * monotone survivor counts, count reconciliation against the l32 funnel
  * report, decontamination dropping exactly the over-threshold train docs,
  * zero near-dup pairs straddling the split boundary, pack-token
  * conservation, and the final schedule being a permutation of the train
  * split.
  */
class LlmPipelineSpec extends SparkSpec {

  test("end-to-end curation: funnel -> keep-best dedup -> decontaminate -> " +
    "leakage-safe split -> pack -> mixture order") {
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_llm_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {

    val docs = Tables.load(spark, sf001, "documents")
    val n0 = docs.count()

    // stage 1 — funnel admission (l32's gates as a filter). Cross-check:
    // the admitted count must equal the funnel REPORT's final-gate n_out
    // (the two derive from one predicate set; if they ever diverge, either
    // the report or the filter drifted).
    val admitted = stage(TextAnalysis.curationAdmit(docs), "admitted")
    val n1 = admitted.count()
    val funnelC4 = TextAnalysis.curationFunnel(docs)
      .filter(col("stage") === 4).select("n_out").collect()(0).getLong(0)
    assert(n1 === funnelC4)
    assert(n1 <= n0 && n1 > 0)

    // stage 2 — quality-aware dedup apply (l53): keep each near-dup
    // cluster's longest member. Survivors come back as ids (digest
    // discipline); the stage output re-attaches text by doc_id — the
    // id list is the SMALL side by construction (≤ corpus ids, no text),
    // broadcastable at any scale where the survivor fraction is sane.
    val survivorIds = Dedup.dedupApplyKeepBest(
      admitted, size(TextOps.tokens(col("text"))).cast("long"),
      n = 3, minJ = 0.5).select("doc_id")
    val deduped = stage(
      admitted.join(broadcast(survivorIds), Seq("doc_id"), "left_semi"),
      "deduped")
    val n2 = deduped.count()
    assert(n2 <= n1 && n2 > 0)

    // stage 3 — graded decontamination (l54): score every train-bucket doc
    // by the fraction of its shingles hit by the eval buckets, drop those
    // at/above the policy threshold. Non-train docs are untouched (they ARE
    // the eval side).
    val thr = 0.2
    val frac = Dedup.contaminationFraction(deduped, n = 3)
    val dropIds = frac.filter(col("contamination") >= thr).select("doc_id")
    val decon = stage(
      deduped.join(broadcast(dropIds), Seq("doc_id"), "left_anti"), "decon")
    val n3 = decon.count()
    assert(n3 === n2 - dropIds.count())
    // every dropped doc really was a train-bucket doc (l54 only scores
    // those), and every surviving train doc is under the threshold —
    // removing train docs cannot change other docs' fractions (the eval
    // side is untouched), so the pre-drop scores remain valid post-drop.
    val survivingTrainOver = frac.filter(col("contamination") >= thr)
      .join(decon.select("doc_id"), Seq("doc_id"), "left_semi").count()
    assert(survivingTrainOver === 0)

    // stage 4 — leakage-safe split (l58) over the decontaminated corpus,
    // pairs at a LOWER threshold than the dedup apply (0.3 vs 0.5): dedup
    // removed the ≥0.5 clusters, so leakage control guards the weaker
    // near-dups dedup deliberately kept. Every doc lands in exactly one
    // split, and NO surviving pair straddles a split boundary — the
    // invariant the operator exists for.
    val pairs = Dedup.jaccardPairs(decon, n = 3, minJ = 0.3)
    val split = stage(Dedup.leakageSafeSplit(decon, pairs), "split")
    assert(split.count() === n3)
    assert(split.select("doc_id").distinct().count() === n3)
    assert(split.select("split").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("train", "val", "test")))
    val straddles = pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddles === 0)
    // non-vacuity: the corpus must still CONTAIN near-dup pairs after the
    // 0.5-dedup, else the straddle assertion tested nothing. The driver
    // corpus plants both exact near-dups (~0.99, removed above) and a
    // noise floor; the 0.3 band survives on the pre-dedup set — guard on
    // the pre-dedup corpus, where pairs provably exist.
    assert(Dedup.jaccardPairs(admitted, n = 3, minJ = 0.5).count() > 0,
      "fixture drift: no near-dup pairs at the dedup threshold — " +
        "the dedup stage and straddle check would be vacuous")

    // stage 5 — sequence packing (l19/l61) over the train split only.
    // Token conservation: the packs must account for every train token
    // exactly once (no doc dropped, none double-packed).
    val trainDocs = stage(
      decon.join(split.filter(col("split") === "train").select("doc_id"),
        Seq("doc_id"), "left_semi"), "train")
    val nTrain = trainDocs.count()
    assert(nTrain > 0)
    val packs = TextAnalysis.packEfficiency(trainDocs)
    val packed = packs.agg(
      sum("n_docs").cast("long"), sum("pack_tokens").cast("long"))
      .collect()(0)
    val trainTokens = trainDocs
      .agg(sum(coalesce(size(TextOps.tokens(col("text"))).cast("long"),
        lit(0L)))).collect()(0).getLong(0)
    assert(packed.getLong(0) === nTrain)
    assert(packed.getLong(1) === trainTokens)

    // stage 6 — mixture order (l62): the final training schedule is a
    // PERMUTATION of the train split — every admitted doc scheduled
    // exactly once, ranks dense 1..k within each source.
    val order = TextAnalysis.mixtureOrder(trainDocs)
    assert(order.count() === nTrain)
    assert(order.select("doc_id").except(trainDocs.select("doc_id")).isEmpty)
    assert(trainDocs.select("doc_id").except(order.select("doc_id")).isEmpty)
    val badRanks = order.groupBy(col("source"))
      .agg(count(lit(1)).as("k"), max(col("rank_in_source")).as("mx"),
        countDistinct(col("rank_in_source")).as("dr"))
      .filter(col("mx") =!= col("k") || col("dr") =!= col("k")).count()
    assert(badRanks === 0)

    // stage 7 — budget planning over the train split (l69/l70/l73): the
    // audits a pipeline runs before committing GPU-hours. Stage 2 removed
    // every near-dup loser, so among the surviving canonicals NO pair can
    // remain at the same threshold — the effective-token audit must
    // certify zero duplicated tokens downstream (and exercises the
    // empty-pair-graph path of the cluster machinery); the epoch plan
    // budgets on exactly the train per-source token totals and spends the
    // whole budget; the quality-token tradeoff accounts for every train
    // token exactly once (same conservation rule as the packs).
    val trainPairs = Dedup.jaccardPairs(trainDocs, n = 3, minJ = 0.5)
      .localCheckpoint()
    assert(trainPairs.isEmpty,
      "near-dup pairs survived the dedup stage")
    val audit = Dedup.effectiveTokens(trainDocs, trainPairs)
    assert(audit.filter(col("n_tokens_kept") =!= col("n_tokens") ||
      col("n_docs_kept") =!= col("n_docs")).isEmpty,
      "effective-token audit found duplication after dedup")
    val planBudget = 100000L
    val plan = TextAnalysis.epochPlan(trainDocs, totalBudget = planBudget)
      .localCheckpoint()
    assert(math.abs(plan.agg(sum(col("alloc_tokens"))).first().getDouble(0)
      - planBudget.toDouble) < 1e-6)
    val perSrcTokens = trainDocs.groupBy(col("source"))
      .agg(sum(coalesce(size(TextOps.tokens(col("text"))).cast("long"),
        lit(0L))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.collect().foreach { r =>
      assert(r.getLong(1) === perSrcTokens(r.getString(0)),
        s"epoch plan token total drifted for ${r.getString(0)}")
    }
    val pareto = TextAnalysis.qualityTokenTradeoff(trainDocs)
    assert(pareto.agg(sum(col("n_tokens"))).first().getLong(0)
      === trainTokens)

    // the funnel report is the pipeline's own audit trail: its stage-1
    // input count must equal the corpus size (report and lineage agree on
    // what entered the pipe).
    val funnelN0 = TextAnalysis.curationFunnel(docs)
      .filter(col("stage") === 1).select("n_in").collect()(0).getLong(0)
    assert(funnelN0 === n0)
    } finally {
      // The six parquet stages are per-run scratch — delete them so
      // repeated local runs don't accumulate temp directories.
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end embedding curation: coverage audit -> outlier filter -> " +
    "semantic dedup -> diversity sample -> post-audit -> retrieval sanity") {
    // The EMBEDDING-plane twin of the text pipeline above — the lineage an
    // embedding store runs before serving ANN/dedup from a crawl snapshot:
    //
    //   vectors → coverage audit (l84, the BEFORE receipt)
    //           → drop the worst centroid-similarity decile (l76's
    //             budgeted outlier set)
    //           → semantic dedup apply (l39)
    //           → cell-capped diversity sample (l85)
    //           → coverage audit (the AFTER receipt) → brute-force top-k
    //             sanity over the final set
    //
    // Stage boundaries are parquet (the lake discipline); the spec asserts
    // the cross-stage facts no single-operator oracle sees: monotone
    // survivor counts, the outlier drop being EXACTLY the decile-0 set,
    // dedup idempotence (zero surviving near-dup pairs), the cap holding
    // per cell on the final set, and retrieval returning only survivors.
    import graft.llm.Similarity
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_emb_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {
      val vecs = Tables.load(spark, sf001, "embeddings")
      val n0 = vecs.count()

      // stage 1 — coverage BEFORE: the audit artifact a curation run files
      val covBefore = stage(Similarity.embeddingCoverage(vecs), "cov_before")
      assert(covBefore.agg(sum(col("n_vecs"))).first().getLong(0) === n0)

      // stage 2 — drop the worst centroid-similarity decile (l76's
      // budgeted outlier policy). Cross-check: the drop count must equal
      // the rank table's decile-0 population exactly.
      val ranks = Similarity.outlierRanks(vecs).localCheckpoint()
      val keepIds = ranks.filter(col("decile") >= 1).select(col("vec_id"))
      val s2 = stage(
        vecs.join(keepIds, Seq("vec_id"), "left_semi"), "s2_inliers")
      val n2 = s2.count()
      val decile0 = ranks.filter(col("decile") === 0).count()
      assert(n2 === n0 - decile0 && decile0 > 0)

      // stage 3 — semantic dedup apply (l39): survivors only. Idempotence:
      // every near-dup pair connected two same-cluster vectors and only
      // the canonical member survives, so the survivor set must contain
      // ZERO pairs at the same threshold.
      val survivorIds = Similarity.embeddingDedupApply(s2, minSim = 0.3)
        .select(col("vec_id"))
      val s3 = stage(s2.join(survivorIds, Seq("vec_id"), "left_semi"),
        "s3_deduped")
      val n3 = s3.count()
      assert(n3 <= n2 && n3 > 0)
      assert(Similarity.cosineNearDups(s3, minSim = 0.3).isEmpty,
        "semantic dedup must be idempotent on its own survivors")

      // stage 4 — cell-capped diversity sample (l85)
      val cap = 4
      val kept = stage(Similarity.diversitySample(s3, cap = cap), "s4_kept")
      val n4 = kept.count()
      assert(n4 <= n3)
      val s4 = stage(s3.join(kept.select(col("vec_id")),
        Seq("vec_id"), "left_semi"), "s4_vectors")

      // stage 5 — coverage AFTER: every cell holds at most cap vectors
      // and no new cell appeared (the sample only removes)
      val covAfter = stage(Similarity.embeddingCoverage(s4), "cov_after")
      assert(covAfter.agg(sum(col("n_vecs"))).first().getLong(0) === n4)
      assert(covAfter.filter(col("n_vecs") > cap).isEmpty)
      assert(covAfter.select(col("bkt"))
        .exceptAll(covBefore.select(col("bkt"))).isEmpty)

      // stage 6 — retrieval sanity on the final store: exact top-k over
      // the survivors returns k rows per query and only survivors
      val k = 3
      val queries = s4.orderBy(col("vec_id")).limit(4)
      val hits = Similarity.bruteForceTopK(queries, s4, k).localCheckpoint()
      assert(hits.count() === 4L * k)
      assert(hits.select(col("nid").as("vec_id"))
        .exceptAll(s4.select(col("vec_id"))).isEmpty)
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end curation v2: scheduled SemDeDup -> IVF-PQ serving " +
    "index -> DSIR selection — the production-knob pieces composed") {
    // The round-16/17 operators wired as ONE lineage, every knob at its
    // PRODUCTION schedule rather than the fixed oracle form: semDedupAuto
    // (√n cells, exact-dup collapse, iterated hot-cell guard) curates the
    // vector store; ivfPqFit at scheduled coarse cells + the coupled
    // (nProbe, shortM) ladder builds and serves the persisted ANN index
    // over the SURVIVORS; DSIR selects training docs from the id-aligned
    // deduped text corpus. Stage boundaries are parquet (the lake
    // discipline). The spec asserts the cross-stage facts no
    // per-operator test sees: verdict/survivor reconciliation, the index
    // coding every survivor exactly once, serving returning only
    // survivors with exact-rerank sims equal to recomputed cosines, and
    // the DSIR head drawn entirely from deduped train docs.
    import graft.llm.{KnobSchedule, Similarity, TextAnalysis, TextOps}
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_v2_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {
      val vecs = Tables.load(spark, sf001, "embeddings")
      val docs = Tables.load(spark, sf001, "documents")
      val n0 = vecs.count()

      // stage 1 — scheduled semantic dedup. Internal consistency: the
      // verdict table covers every vector exactly once, and dropped ⟺
      // at least one earlier duplicate.
      val verdicts = stage(Similarity.semDedupAuto(vecs, tau = 0.35),
        "sd_verdicts")
      assert(verdicts.count() === n0)
      assert(verdicts.select("vec_id").distinct().count() === n0)
      assert(verdicts.filter(
        (col("dropped") === 1) =!= (col("n_dup_earlier") > 0)).isEmpty)
      val keep = verdicts.filter(col("dropped") === 0).select(col("vec_id"))
      val survivors = stage(vecs.join(keep, Seq("vec_id"), "left_semi"),
        "sd_survivors")
      val n1 = survivors.count()
      assert(n1 > 0 && n1 < n0, s"dedup did nothing or everything: $n1/$n0")

      // stage 2 — the persisted IVF-PQ serving index over survivors at
      // the SCHEDULED knobs (√n coarse cells, shortM = 5·nProbe)
      val (nCells, nProbe, shortM) = KnobSchedule.ivfPqKnobs(n1)
      val (c0, r0, i0) = Similarity.ivfPqFit(survivors, nCells = nCells)
      val cents = stage(c0, "cents")
      val rcb = stage(r0, "rcb")
      val index = stage(i0, "index")
      assert(index.count() === n1, "index must code every survivor once")
      assert(index.select("nid").exceptAll(
        survivors.select("vec_id")).isEmpty)
      // serve a fixed query log from the persisted model; k rows per
      // query, hits are survivors only, and the exact-rerank sim IS the
      // recomputed cosine of the returned pair (self-consistency of the
      // serving tail against the store)
      val k = 3
      val queries = survivors.filter(col("vec_id") % 5 === 0)
        .localCheckpoint()
      val served = Similarity.ivfPqServeTopK(queries, survivors,
        cents, rcb, index, k = k, nProbe = nProbe, shortM = shortM)
        .localCheckpoint()
      val nQ = queries.count()
      val perQ = served.groupBy(col("qid")).agg(count(lit(1)).as("c"))
      assert(perQ.filter(col("c") =!= k).isEmpty)
      assert(served.select(col("qid")).distinct().count() === nQ)
      // set containment (except, not exceptAll): the same neighbor
      // legitimately serves many queries
      assert(served.select(col("nid").as("vec_id"))
        .except(survivors.select("vec_id")).isEmpty)
      val recomputed = served
        .join(survivors.select(col("vec_id").as("nid"),
          col("embedding").as("ne")), Seq("nid"))
        .join(queries.select(col("vec_id").as("qid"),
          col("embedding").as("qe")), Seq("qid"))
        .filter(abs(Similarity.cosine(col("qe"), col("ne")) - col("sim"))
          > 1e-12)
      assert(recomputed.isEmpty, "served sim drifted from the store")

      // stage 3 — DSIR selection over the id-aligned DEDUPED text corpus
      // (vec_id ≡ doc_id across the driver tables): the selection head
      // must be drawn entirely from deduped TRAIN docs with dense ranks.
      val docsKept = stage(docs.join(
        keep.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi"), "docs_kept")
      val sel = TextAnalysis.dsirSelect(docsKept, k = 20).localCheckpoint()
      assert(sel.count() === 20)
      assert(sel.select("doc_id").exceptAll(
        docsKept.filter(TextOps.splitBucket(col("doc_id")) < 80)
          .select("doc_id")).isEmpty,
        "DSIR selected a dropped or non-train doc")
      val ranks = sel.select(col("rank")).collect().map(_.getLong(0)).sorted
      assert(ranks.toSeq === (1L to 20L))
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end retrieval: build+persist index -> serve -> hybrid " +
    "fusion -> agreement/retrievability reconcile against the leg tables") {
    // The round-12 retrieval plane wired as one lineage: the index is
    // built once and PERSISTED (the model boundary every serve shares),
    // then every downstream table — the BM25 serve, the dense leg, the
    // RRF fusion, the l106/l109 agreements, the l113 retrievability —
    // derives from the same persisted state, and the spec asserts the
    // cross-table facts no single oracle sees: fused results containing
    // only leg-sourced docs with correctly-copied leg ranks, agreement
    // intersections consistent with the raw top-k tables, and hit-count
    // conservation between retrievability and the legs.
    import graft.llm.{Retrieval, Similarity, TextOps}
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_retr_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {
      val docs = Tables.load(spark, sf001, "documents")
      val vecs = Tables.load(spark, sf001, "embeddings")
      val train = docs.filter(TextOps.splitBucket(col("doc_id")) < 80)

      // stage 1 — build + persist the sparse index and the dense store
      val (p0, s0) = Retrieval.bm25Model(train)
      val postings = stage(p0, "postings")
      val stats = stage(s0, "stats")
      val trainV = stage(
        vecs.filter(TextOps.splitBucket(col("vec_id")) < 80), "train_vecs")

      // stage 2 — serve both legs from the persisted state for the
      // id-aligned hybrid query set
      val queries = stage(
        docs.filter(TextOps.splitBucket(col("doc_id")) >= 80)
          .select(col("doc_id").as("q_id"), col("text"))
          .join(vecs.filter(TextOps.splitBucket(col("vec_id")) >= 80)
            .select(col("vec_id").as("q_id"), col("embedding")), Seq("q_id")),
        "queries")
      val sparseTop = stage(
        Retrieval.bm25Serve(queries.select(col("q_id"), col("text")),
          postings, stats, k = 5), "sparse_top")
      val denseTop = stage(
        Similarity.bruteForceTopK(
          queries.select(col("q_id").as("vec_id"), col("embedding")),
          trainV, k = 5)
          .select(col("qid").as("q_id"), col("nid").as("doc_id"),
            col("rank")), "dense_top")

      // stage 3 — RRF fusion from the persisted legs; every fused row
      // traces to a leg and carries that leg's rank verbatim
      val fused = stage(Retrieval.rrfFuse(
        sparseTop.select(col("q_id"), col("doc_id"), col("rank")),
        denseTop, k = 5), "fused")
      assert(fused.filter(col("sparse_rank").isNull &&
        col("dense_rank").isNull).isEmpty)
      assert(fused.filter(col("sparse_rank").isNotNull)
        .select(col("q_id"), col("doc_id"), col("sparse_rank").as("rank"))
        .exceptAll(sparseTop.select(col("q_id"), col("doc_id"), col("rank")))
        .isEmpty)
      assert(fused.filter(col("dense_rank").isNotNull)
        .select(col("q_id"), col("doc_id"), col("dense_rank").as("rank"))
        .exceptAll(denseTop.select(col("q_id"), col("doc_id"), col("rank")))
        .isEmpty)
      // the serving core produces the same fusion end-to-end
      val servedFused = Retrieval.hybridServe(queries, postings, stats,
        trainV, k = 5)
      assert(servedFused.exceptAll(fused).isEmpty &&
        fused.exceptAll(servedFused).isEmpty)

      // stage 4 — the l109 agreement reconciles against the raw legs:
      // n_common equals the materialized intersection per query
      val agree = Retrieval.hybridAgreement(docs, vecs, k = 5)
        .localCheckpoint()
      val inter = sparseTop.select(col("q_id"), col("doc_id"))
        .join(denseTop.select(col("q_id"), col("doc_id")),
          Seq("q_id", "doc_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      agree.collect().foreach { r =>
        assert(r.getLong(3) === inter.getOrElse(r.getLong(0), 0L),
          s"q ${r.getLong(0)} n_common")
      }

      // stage 5 — retrievability conserves the legs' hit mass over the
      // SAME persisted tables (dense counts restricted to the hybrid
      // query set equal the dense leg's rows)
      val retr = Retrieval.retrievability(docs, vecs, k = 5)
        .localCheckpoint()
      assert(retr.agg(sum(col("n_dense_hits"))).first().getLong(0)
        === denseTop.count())
      // sparse counts cover ALL eval doc queries, a superset of the
      // hybrid set — bounded below by the hybrid sparse leg's rows
      val sparseSum = retr.agg(sum(col("n_sparse_hits"))).first().getLong(0)
      assert(sparseSum >= sparseTop.count())
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end curation v4: the TRANSFORMED re-post classes — a " +
    "flipped image, a trimmed audio clip, a trimmed video — are kept by " +
    "every v3 stage and dropped by the flip/offset applies composed in " +
    "their place") {
    // The media-lake reality v3 cannot see: a re-post that exists ONLY
    // as a transformed payload (mirrored image, head-trimmed clip) has
    // no text row and is invisible to exact/aligned signatures. Stage
    // the blob stores with planted transformed re-posts, witness the
    // v3 applies keep every one (the gap), then run the v4 applies —
    // flip-invariant image (l141), offset-tolerant audio (l145) and
    // video (l138) — and assert each folds its planted re-post into the
    // source's cluster while the source survives; the curated id set
    // then flows through the v2/v3 embedding stages unchanged.
    import graft.llm.{KnobSchedule, Multimodal, Similarity}
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_v4_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    def ids(df: DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      val base = Tables.load(spark, sf001, "documents")
      val vecs = Tables.load(spark, sf001, "embeddings")
      // sources must be detectable after their transform: >= 2 audio
      // windows (the trim drops one) and >= 3 video frames (the trim
      // leaves >= 2 aligned-at-offset frames for minFrames = 2)
      val wavAll = stage(Multimodal.encodeWav(spark, base).toDF(), "wav")
      val vidAll = stage(Multimodal.encodeVideo(spark, base).toDF(), "vid")
      val ppmAll = stage(Multimodal.encodePpm(spark, base).toDF(), "ppm")
      val audOk = Multimodal.audioWindowHashes(spark, wavAll).toDF()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
        .filter(col("nw") >= 2).select("doc_id")
      val vidOk = Multimodal.videoFeatures(spark, vidAll).toDF()
        .filter(col("n_frames") >= 3).select("doc_id")
      val candIds = audOk.join(vidOk, Seq("doc_id"), "left_semi")
        .orderBy(col("doc_id")).limit(20)
        .collect().map(_.getLong(0)).toSeq
      def rePost(src: DataFrame, of: Seq[Long]): DataFrame =
        src.filter(col("doc_id").isin(of: _*))
          .select((col("doc_id") + lit(20000000L)).as("doc_id"),
            col("payload"))
      // the planted TRANSFORMED re-posts, generated by the production
      // transforms themselves (l139 flip, l144 audio trim, l137 video
      // head-trim)
      val ppmStore = stage(ppmAll.unionByName(
        Multimodal.flipHorizontal(spark,
          rePost(ppmAll, candIds)).toDF()), "ppm_s")
      val wavStore = stage(wavAll.unionByName(
        Multimodal.audioTrimHeadContainer(spark, rePost(wavAll, candIds),
          nSamples = 65).toDF()), "wav_s")
      val vidStore = stage(vidAll.unionByName(
        Multimodal.videoFrameSampleContainer(spark, rePost(vidAll, candIds),
          stride = 1, from = 1).toDF()), "vid_s")

      // THE GAP, and the source screen in one pass: run the v3 applies
      // over the candidate-planted stores; a candidate qualifies when
      // every one of its transformed re-posts SURVIVES them (a
      // coincidental near-match — e.g. a near-symmetric image whose
      // mirror sits within Hamming 2, or a degenerate alternating
      // envelope — disqualifies it, exactly because for that payload
      // the v3 plane is NOT blind)
      val v3Img = ids(Multimodal.imageDedupApplyAuto(spark, ppmStore))
      val v3Aud = ids(Multimodal.audioDedupApplyAuto(spark, wavStore))
      val v3Vid = ids(Multimodal.videoDedupApplyAuto(spark, vidStore))
      val srcIds = candIds.filter { id =>
        val p = id + 20000000L
        v3Img.contains(p) && v3Aud.contains(p) && v3Vid.contains(p)
      }.take(3)
      assert(srcIds.size === 3,
        s"fixture corpus yielded no 3 v3-blind sources from $candIds")
      val planted = srcIds.map(_ + 20000000L).toSet

      // THE FIX: the v4 applies drop each planted re-post, keep sources
      val imgKept = stage(
        Multimodal.imageFlipInvariantDedupApplyAuto(spark, ppmStore),
        "img_kept")
      val audKept = stage(
        Multimodal.audioOffsetDedupApplyAuto(spark, wavStore), "aud_kept")
      val vidKept = stage(
        Multimodal.videoOffsetDedupApplyAuto(spark, vidStore), "vid_kept")
      for ((kept, tag) <- Seq((imgKept, "flip-invariant image"),
        (audKept, "offset audio"), (vidKept, "offset video"))) {
        val k = ids(kept)
        assert(planted.forall(!k.contains(_)),
          s"$tag apply kept a planted transformed re-post")
        assert(srcIds.forall(k.contains),
          s"$tag apply dropped a re-post's SOURCE (keep-min violated)")
      }

      // curated docs = the base corpus surviving ALL v4 perceptual
      // stages; the planted ids are payload-only and never reach the
      // text plane
      val curated = stage(base
        .join(imgKept.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(audKept.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(vidKept.select("doc_id"), Seq("doc_id"), "left_semi"),
        "curated")
      val nCur = curated.count()
      assert(nCur > 0 && nCur <= base.count())
      assert(srcIds.forall(ids(curated).contains))

      // the v2/v3 embedding stages run on the curated set unchanged
      val curVecs = stage(vecs.join(
        curated.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"), "cur_vecs")
      val keep = Similarity.semDedupAuto(curVecs, tau = 0.35)
        .filter(col("dropped") === 0).select("vec_id")
      val survivors = stage(curVecs.join(keep, Seq("vec_id"), "left_semi"),
        "survivors")
      val nS = survivors.count()
      assert(nS > 0 && nS <= nCur)
      val (nCells, nProbe, shortM) = KnobSchedule.ivfPqKnobs(nS)
      val (c0, r0, i0) = Similarity.ivfPqFit(survivors, nCells = nCells)
      val index = stage(i0, "index")
      assert(index.count() === nS, "index must code every survivor once")
      val served = Similarity.ivfPqServeTopK(
        survivors.filter(col("vec_id") % 7 === 0).localCheckpoint(),
        survivors, stage(c0, "cents"), stage(r0, "rcb"), index,
        k = 3, nProbe = nProbe, shortM = shortM)
      assert(served.select(col("nid").as("vec_id"))
        .except(survivors.select("vec_id")).isEmpty,
        "served a vector curation had dropped")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end curation v5: the l146 grouped-keys switch exercised " +
    "in composition — the grouped-era image apply curates the SAME " +
    "store, drops the planted re-posts, and feeds the embedding stages " +
    "unchanged") {
    // Round-18 directive #5. The switch (KnobSchedule.dhashUseGroupedKeys)
    // flips candidate generation inside sigDedupApply's scheduled path
    // past the band ladder's end; this proves the flip is SAFE composed:
    // the curated store is byte-identical across the switch (both
    // candidate families are recall-lossless at radius 2 with the guard
    // dormant at this corpus), so a pipeline crossing the threshold
    // mid-life changes its plan, never its data. The grouped era is
    // forced via targetOcc = 0 (threshold = targetOcc·2^16 reps — the
    // spec-scale analogue of crossing 4.2M reps; the rep-count crossing
    // itself is pinned in LlmSpec's switch test and priced in the
    // offsetgrouped/pipeline receipts in BASELINE.md).
    import graft.llm.{KnobSchedule, Multimodal, Similarity}
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_v5_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {
      val base = Tables.load(spark, sf001, "documents")
      val vecs = Tables.load(spark, sf001, "embeddings")
      // planted EXACT re-posts (same payload bytes, higher ids) — the
      // v3 fixture class: both eras must fold them via the shared
      // exact-hash pre-collapse, which is candidate-family-independent
      val ppmAll = stage(Multimodal.encodePpm(spark, base).toDF(), "ppm")
      val rePosts = ppmAll.orderBy(col("doc_id")).limit(10)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("payload"))
      val ppmStore = stage(ppmAll.unionByName(rePosts), "ppm_s")
      val keptBanded = stage(
        Multimodal.imageDedupApplyAuto(spark, ppmStore), "kept_b")
      val sig = Multimodal.dHash(spark, ppmStore).toDF()
        .select(col("doc_id"), col("dhash")).localCheckpoint()
      // the honest era at this corpus is banded; targetOcc = 0 is past
      // the ladder's end
      assert(!KnobSchedule.dhashUseGroupedKeys(sig.count(), 2))
      assert(KnobSchedule.dhashUseGroupedKeys(sig.count(), 2,
        targetOcc = 0L))
      val keptGrouped = stage(Multimodal.sigDedupApply(sig, 2, 500,
        bandBits = None, targetOcc = 0L), "kept_g")
      // byte-equality of the curated store across the switch
      def rows(df: DataFrame) = df.select(col("doc_id"), col("dhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(rows(keptGrouped) === rows(keptBanded))
      // the planted exact re-posts fell, their sources survived
      val keptIds = rows(keptGrouped).map(_._1).toSet
      assert(!keptIds.exists(_ >= 20000000L))
      assert(rePosts.select((col("doc_id") - 20000000L).as("doc_id"))
        .collect().map(_.getLong(0)).forall(keptIds.contains))
      // the grouped-era store feeds the embedding stages unchanged —
      // the v4 tail on the v5 curated set
      val curated = stage(base.join(keptGrouped.select("doc_id"),
        Seq("doc_id"), "left_semi"), "curated")
      val curVecs = stage(vecs.join(
        curated.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"), "cur_vecs")
      val keep = Similarity.semDedupAuto(curVecs, tau = 0.35)
        .filter(col("dropped") === 0).select("vec_id")
      val survivors = stage(curVecs.join(keep, Seq("vec_id"), "left_semi"),
        "survivors")
      val nS = survivors.count()
      assert(nS > 0 && nS <= curVecs.count())
      val (nCells, nProbe, shortM) = KnobSchedule.ivfPqKnobs(nS)
      val (c0, r0, i0) = Similarity.ivfPqFit(survivors, nCells = nCells)
      val index = stage(i0, "index")
      assert(index.count() === nS, "index must code every survivor once")
      val served = Similarity.ivfPqServeTopK(
        survivors.filter(col("vec_id") % 7 === 0).localCheckpoint(),
        survivors, stage(c0, "cents"), stage(r0, "rcb"), index,
        k = 3, nProbe = nProbe, shortM = shortM)
      assert(served.select(col("nid").as("vec_id"))
        .except(survivors.select("vec_id")).isEmpty,
        "served a vector curation had dropped")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("end-to-end curation v3: image dedup apply -> audio dedup apply -> " +
    "scheduled SemDeDup -> IVF-PQ index -> DSIR — the perceptual planes " +
    "composed with the embedding/text stages") {
    // Round-17 stretch directive: the media-lake lineage. A crawled
    // multimodal corpus dedups each perceptual plane FIRST (the cheap
    // signature passes drop re-posts before anything embedding-priced
    // runs), then the surviving id set flows through the v2 embedding
    // stages. Planted exact re-posts (same payload bytes, higher ids)
    // must fall to BOTH perceptual applies via the exact-hash
    // pre-collapse, their originals must survive, and every downstream
    // stage must operate on the curated id set only. All knobs at
    // production schedule (imageDedupApplyAuto / audioDedupApplyAuto /
    // semDedupAuto / ivfPqKnobs); stage boundaries are parquet.
    import graft.llm.{KnobSchedule, Multimodal, Similarity, TextAnalysis,
      TextOps}
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_v3_e2e")
    val tmp = tmpPath.toString
    def stage(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    try {
      val base = Tables.load(spark, sf001, "documents")
      val vecs = Tables.load(spark, sf001, "embeddings")
      // plant 4 exact re-posts: identical text ⇒ identical PPM and WAV
      // payloads ⇒ identical dHash / gradient-sign signatures
      val srcIds = base.select(col("doc_id")).orderBy(col("doc_id"))
        .limit(4).collect().map(_.getLong(0)).toSeq
      val rePosts = base.filter(col("doc_id").isin(srcIds: _*))
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
      val docs = stage(base.unionByName(rePosts), "docs_with_reposts")
      val plantedIds = srcIds.map(_ + 10000000L).toSet

      // stage 1 — IMAGE dedup apply at the scheduled band width over the
      // encoded blob store
      val imgKept = stage(Multimodal.imageDedupApplyAuto(spark,
        Multimodal.encodePpm(spark, docs).toDF()), "img_kept")
      // stage 2 — AUDIO dedup apply, same shared core, audio signatures
      val audKept = stage(Multimodal.audioDedupApplyAuto(spark,
        Multimodal.encodeWav(spark, docs).toDF()), "aud_kept")
      // stage 2b — VIDEO dedup apply (frame-aligned, exact-sequence
      // pre-collapse): the third perceptual plane in the same lineage
      val vidKept = stage(Multimodal.videoDedupApplyAuto(spark,
        Multimodal.encodeVideo(spark, docs).toDF()), "vid_kept")
      for ((kept, tag) <- Seq((imgKept, "image"), (audKept, "audio"),
        (vidKept, "video"))) {
        val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
        assert(plantedIds.forall(!keptIds.contains(_)),
          s"$tag apply kept a planted exact re-post")
        assert(srcIds.forall(keptIds.contains),
          s"$tag apply dropped a re-post's ORIGINAL (keep-min violated)")
      }

      // curated = docs surviving ALL perceptual planes (id-set
      // intersection — signatures only, no payload re-decode)
      val curated = stage(docs
        .join(imgKept.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(audKept.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(vidKept.select("doc_id"), Seq("doc_id"), "left_semi"),
        "curated")
      val nCur = curated.count()
      assert(nCur > 0 && nCur <= base.count())
      assert(curated.filter(col("doc_id").isin(
        plantedIds.toSeq: _*)).isEmpty)

      // stage 3 — scheduled semantic dedup over the CURATED vector store
      // (vec_id ≡ doc_id across the driver tables)
      val curVecs = stage(vecs.join(
        curated.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi"), "cur_vecs")
      val verdicts = Similarity.semDedupAuto(curVecs, tau = 0.35)
      val keep = verdicts.filter(col("dropped") === 0).select("vec_id")
      val survivors = stage(curVecs.join(keep, Seq("vec_id"), "left_semi"),
        "survivors")
      val nS = survivors.count()
      assert(nS > 0 && nS <= nCur)

      // stage 4 — the serving index over the fully-curated survivors,
      // knobs scheduled from the honest post-curation cardinality
      val (nCells, nProbe, shortM) = KnobSchedule.ivfPqKnobs(nS)
      val (c0, r0, i0) = Similarity.ivfPqFit(survivors, nCells = nCells)
      val index = stage(i0, "index")
      assert(index.count() === nS, "index must code every survivor once")
      val served = Similarity.ivfPqServeTopK(
        survivors.filter(col("vec_id") % 7 === 0).localCheckpoint(),
        survivors, stage(c0, "cents"), stage(r0, "rcb"), index,
        k = 3, nProbe = nProbe, shortM = shortM)
      assert(served.select(col("nid").as("vec_id"))
        .except(survivors.select("vec_id")).isEmpty,
        "served a vector curation had dropped")

      // stage 5 — DSIR selection sees only curated+deduped train docs
      val docsKept = stage(curated.join(
        keep.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi"), "docs_kept")
      val sel = TextAnalysis.dsirSelect(docsKept, k = 20).localCheckpoint()
      assert(sel.count() === 20)
      assert(sel.select("doc_id").exceptAll(
        docsKept.filter(TextOps.splitBucket(col("doc_id")) < 80)
          .select("doc_id")).isEmpty,
        "DSIR selected a doc some curation stage had dropped")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(tmpPath).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
