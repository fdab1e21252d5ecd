package graft

import graft.queries.Declared
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Physical-plan assertions — the 100 TB story is only real if the plans
  * show it: filters reaching the parquet scan, fixed-cardinality dims
  * broadcast, no cartesian products, partial aggregation before shuffles.
  */
class PlanSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    Declared.all.find(_.name == name).get.build(spark, sf001)

  /** Final (AQE-resolved) physical plan text after execution. NOTE: the
    * action must run on THIS DataFrame's own QueryExecution (collect), not a
    * write — DataFrameWriter plans a separate QueryExecution, leaving this
    * one isFinalPlan=false with no resolved stages. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("d02: shipdate filter is pushed to the parquet scan") {
    val plan = q("d02_pricing_summary").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan.take(2000))
  }

  test("d03: IN/BETWEEN/IsNotNull predicates push down") {
    val plan = q("d03_predicates").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("In(o_orderstatus"))
    // The PushedFilters metadata string truncates at 100 chars
    // (spark.sql.maxMetadataStringLength), so the custkey filter is
    // asserted via the scan's DataFilters/Filter text instead.
    assert(plan.contains("isnotnull(o_custkey"))
  }

  test("d02: projection is pruned to the referenced columns") {
    val plan = q("d02_pricing_summary").queryExecution.executedPlan.toString
    // ReadSchema must not include unreferenced lineitem columns.
    assert(!plan.contains("l_comment") && !plan.contains("l_partkey"),
      "scan reads unreferenced columns")
  }

  test("d05: fixed-cardinality dims (region, nation) are broadcast") {
    val plan = executedPlan(q("d05_multiway_join"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
  }

  test("d13: region join is broadcast, not shuffled") {
    val plan = executedPlan(q("d13_rollup"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("d09: bucketed interval self-join has no cartesian/nested-loop") {
    val plan = executedPlan(q("d09_range_self_join"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("d02: aggregation is two-phase (map-side partial before shuffle)") {
    val plan = q("d02_pricing_summary").queryExecution.executedPlan.toString
    // partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1000))
  }

  test("d18: global top-k runs as TakeOrderedAndProject, not a full sort") {
    val plan = q("d18_topk").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1000))
  }

  test("l03: LSH candidate generation is equality-join only (no cartesian)") {
    val plan = executedPlan(lq("l03_minhash_lsh"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l02: inverted-index jaccard join has no cartesian") {
    val plan = executedPlan(lq("l02_jaccard_pairs"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l05: brute-force cosine broadcasts the query side, never the corpus") {
    // qid =!= nid is a non-equi condition -> nested-loop is expected, but it
    // must be the BROADCAST variant with the 8-row query side as build side.
    val plan = executedPlan(lq("l05_cosine_topk"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("l06: multi-table ANN joins buckets by equality") {
    val plan = executedPlan(lq("l06_ann_lsh"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("l37: trained-IVF probe never cartesians; cells join by equality") {
    // The fit's crossJoins are all broadcast of <=16 centroids (asserted by
    // absence of CartesianProduct across the WHOLE query, fit included —
    // the k-means iterations execute eagerly inside build).
    val plan = executedPlan(lq("l37_ann_ivf_trained"))
    assert(!plan.contains("CartesianProduct"))
    // Corpus cell assignment is the per-row packed argmax against the
    // ONE-ROW broadcast centroid array (round 22: bestCentStruct — no
    // aggregate, no corpus exchange; the previous max_by hash aggregate
    // re-shuffled the embedding payload to re-pair each vector with its
    // own argmax), and never a per-vector rank window.
    assert(!plan.contains("max_by"))
    assert(plan.contains("collect_list"), plan.take(800))
    assert(!plan.contains("windowspecdefinition(nid"))
  }

  test("l46: dup-shingle profile joins digests by equality; text never shuffled") {
    val plan = executedPlan(lq("l46_dup_shingle_profile"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // every Exchange key is a digest or doc_id — the raw shingle string
    // column must be projected away before any exchange
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("s#")), exchanges.mkString("\n"))
  }

  test("l48: no embedding array crosses a shuffle — coarse rank moves scores, " +
    "embeddings join back by broadcast") {
    import org.apache.spark.sql.types.ArrayType
    val df = lq("l48_int8_rerank")
    df.collect()
    // embeddings AND codes stay out of every exchange: the coarse top-m
    // moves serialized ≤m-entry heaps, the fetch joins broadcast, the
    // final sort moves scalars (shared walker — one traversal definition
    // for every payload pin in this suite)
    val shuffles = walkShuffles(df.queryExecution.executedPlan)
    assert(shuffles.nonEmpty) // the rerank window must really be there
    shuffles.foreach { attrs =>
      val arrays = attrs.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"array columns ${arrays.map(_.name)} cross a shuffle in l48")
    }
    // Two-phase coarse top-m: the |Q|×N scores fold into bounded heaps
    // BEFORE the exchange (partial_bounded_top_m on the map side), so the
    // shortlist exchange carries |Q|·P heap buffers — never the corpus.
    // The only Window left is the |Q|·m-row exact rerank.
    // AQE's toString carries BOTH the final and the initial plan — count
    // nodes in the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_bounded_top_m"), plan.take(1500))
    assert(plan.contains("bounded_top_m"))
    // count real WindowExec nodes (WindowGroupLimit is the rank-pushdown
    // helper Spark inserts UNDER the rerank window — it bounds that
    // window's input and is expected)
    val windowCount = plan.linesIterator
      .map(_.replaceFirst("^[-+:* ()0-9]*", ""))
      .count(l => l.startsWith("Window") && !l.startsWith("WindowGroupLimit"))
    assert(windowCount == 1,
      s"expected exactly one Window (the bounded rerank), got $windowCount\n" +
        plan.take(1500))
  }

  test("l48b: packed rerank ships NO array columns anywhere — codes are " +
    "binary end to end, shuffles move scalars/heaps only") {
    import org.apache.spark.sql.types.ArrayType
    val df = lq("l48b_int8_rerank_packed")
    df.collect()
    // Stricter than l48's pin: the packed plan bans arrays not just from
    // shuffles but from every BROADCAST side too (l48 broadcasts long-array
    // codes; l48b's entire point is that the broadcast carries 1-byte-per-
    // code binary). The coarse subtree must carry codes as BinaryType.
    val shuffles = walkShuffles(df.queryExecution.executedPlan)
    assert(shuffles.nonEmpty)
    shuffles.foreach { attrs =>
      val arrays = attrs.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"array columns ${arrays.map(_.name)} cross a shuffle in l48b")
    }
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("int8_quant_pack"), plan.take(1500))
    assert(plan.contains("int8_packed_dot"), plan.take(1500))
    assert(plan.contains("partial_bounded_top_m"), plan.take(1500))
  }

  test("l50/l51: exchanges are keyed on digests or doc ids — never on raw " +
    "span/bigram text") {
    for (q <- Seq("l50_span_dedup", "l51_bigram_fluency")) {
      val plan = executedPlan(lq(q))
      assert(!plan.contains("CartesianProduct"), q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), q)
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, q)
      // l50's reconstruction join keys its one text-carrying exchange on
      // doc_id (the documented rewrite-join cost); no exchange may be
      // KEYED on a raw text/token/span column in either operator
      assert(!exchanges.exists(l =>
        l.contains("text#") || l.contains("toks#") || l.contains("span#")),
        s"$q:\n" + exchanges.mkString("\n"))
    }
  }

  /** Output attribute names of every shuffle exchange's CHILD — the rows
    * that actually cross the wire. `treeString` prints only partitioning
    * KEYS on Exchange lines (payload columns never appear), so a
    * text-grep over the plan string can assert key discipline but is
    * structurally unable to catch a text column riding a shuffle as
    * PAYLOAD. This walks the executed tree instead — descending into AQE
    * query stages, which are leaves to a plain collect — and returns the
    * real payload schema of each shuffle. */
  /** One executed tree's shuffle payloads as ATTRIBUTES (name + type) —
    * shared by the name-ban and ArrayType-ban checks. */
  private def walkShuffles(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan)
        : Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
      val here = p match {
        case s: ShuffleExchangeLike => Seq(s.child.output.toSeq)
        case _ => Nil
      }
      val next: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ next.flatMap(walk)
    }
    walk(root)
  }

  /** Shuffle payloads across EVERY QueryExecution the operator runs —
    * not just the final one. Iterative operators (CC loops) and
    * checkpoint-based compositions (jaccardPairs, nearDupClustersAuto)
    * materialize their dominant subtrees in SEPARATE executions at
    * DataFrame-BUILD time, so a walker that only sees the final plan
    * inspects the cheap post-checkpoint tail and misses the shuffles
    * that matter at 100 TB. A QueryExecutionListener captures them all;
    * the listener bus is async, so capture is polled to quiescence. */
  private def allShufflePayloads(build: => DataFrame)
      : Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured =
      scala.collection.mutable.Buffer[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build // build-time checkpoints/loops fire executions here
      df.collect()   // the final execution
      // the listener bus delivers asynchronously: wait until the captured
      // set is stable (no new executions for 500 ms, 15 s deadline)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = -1
      var stable = 0
      while (stable < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = captured.synchronized(captured.size)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      captured.synchronized(captured.toVector).flatMap(walkShuffles)
    } finally spark.listenerManager.unregister(listener)
  }

  private def assertNoShufflePayload(build: => DataFrame, banned: Set[String],
                                     label: String): Unit = {
    val payloads = allShufflePayloads(build)
    assert(payloads.nonEmpty, s"$label: expected at least one shuffle")
    payloads.foreach { attrs =>
      val names = attrs.map(_.name)
      assert(!names.exists(banned.contains),
        s"$label: shuffle payload carries ${names.filter(banned.contains)}" +
          s" in (${names.mkString(", ")})")
    }
  }

  test("l67: importance weights shuffle ints only — the bigram string " +
    "dies inside the scan projection, before any exchange") {
    // the operator's scale claim: nothing wider than (doc_id, bucket,
    // count) crosses an exchange — the exploded bigram string (bg) must
    // be consumed by the bucket hash in the same projection that made it
    assertNoShufflePayload(lq("l67_importance_weights"),
      Set("text", "toks", "bg"), "l67")
  }

  test("l97: quality-drift audit shuffles ids/scores/ranks only — the " +
    "text dies in the scan that scores it") {
    // the operator's scale claim: stop_ratio computes in the scan, so
    // every exchange after it carries (doc_id, score, rank, source)-width
    // rows — never the document text or its token array
    assertNoShufflePayload(lq("l97_source_quality_drift"),
      Set("text", "toks"), "l97")
  }

  test("l52: incremental dedup shuffles band hashes and doc ids only — " +
    "no text crosses an exchange, no pair self-join anywhere") {
    val plan = executedPlan(lq("l52_incremental_dedup"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the S11 digest discipline: every shuffle PAYLOAD is band keys /
    // doc ids / verdict scalars — never text, tokens, shingles, or the
    // per-doc hashed-shingle array (hs must be pruned before banding's
    // exchanges); arrays of any kind are banned outright below
    assertNoShufflePayload(lq("l52_incremental_dedup"),
      Set("text", "toks", "s", "shs", "hs"), "l52")
    import org.apache.spark.sql.types.ArrayType
    allShufflePayloads(lq("l52_incremental_dedup")).foreach { attrs =>
      val arrays = attrs.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"l52: array columns ${arrays.map(_.name)} cross a shuffle")
    }
    // the within-batch leg is a window MIN over band buckets, not a
    // bands-with-bands self-join: the plan joins only batch-vs-index and
    // verdicts-vs-batch, so SortMergeJoin/ShuffledHashJoin on band keys
    // appears at most once (the index probe when AQE doesn't broadcast it)
    val bandKeyJoins = plan.linesIterator.count(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        && l.contains("band_hash"))
    assert(bandKeyJoins <= 1, plan.take(1500))
  }

  test("l53: keep-best apply scores in the scan — no text crosses an " +
    "exchange, membership joins stay equality-keyed") {
    // The scale claim in dedupApplyKeepBest's doc: the corpus reaches the
    // membership join as (doc_id, q) longs and the anti-join as (doc_id,
    // digest) — the round-10 review found the earlier semi-join-prune
    // form writing (doc_id, text) to shuffle, which this payload check
    // now catches. The by-name build runs under the capture listener, so
    // the CC loop's and pair generation's checkpointed executions are
    // inspected too, not just the post-checkpoint tail.
    val plan = executedPlan(lq("l53_dedup_keep_best"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assertNoShufflePayload(lq("l53_dedup_keep_best"),
      Set("text", "toks"), "l53")
  }

  test("l30: dedup apply anti-joins the pre-digested corpus — no text " +
    "crosses an exchange (checkpointed pair-gen executions included)") {
    val plan = executedPlan(lq("l30_dedup_apply"))
    assert(!plan.contains("CartesianProduct"))
    assertNoShufflePayload(lq("l30_dedup_apply"),
      Set("text", "toks"), "l30")
  }

  test("digest-discipline sweep: no dedup/fingerprint/overlap operator " +
    "ships text or raw tokens in any shuffle payload") {
    // Fleet-wide form of the l30/l52–l55 payload pins, held to the
    // physical tree, not prose. Two tiers: EVERY listed operator must
    // keep document-scale payloads (text, token arrays) out of all
    // shuffles; the operators whose SURVEY rows claim "digests before
    // the shuffle" additionally may not ship raw shingle/span atoms.
    // l02/l27/l33's inverted-index/probe exchanges legitimately carry
    // shingle ATOMS (bounded ~n-word strings, the oracle-checked exact
    // set-overlap identity — never documents), so they sit in tier 1.
    // Excluded entirely by design: l45 (shard shuffle IS a text
    // repartition), l50 and l114 (their rewrite joins carry the token
    // payload keyed on doc_id — the one documented text-carrying
    // exchange of any apply operator; at local scale AQE broadcasts the
    // removal/kept table and toks stays in-stage, but the scale
    // fallback is a legitimate doc_id-clustered shuffle), and any query
    // whose OUTPUT contains text (the declared orderBy's range exchange
    // then legitimately carries it).
    val docPayload = Set("text", "toks", "w", "tok")
    val atomPayload = docPayload ++ Set("s", "shs", "span", "sh", "feat")
    // l16 sits in tier 1 because the capture listener (round-10 upgrade)
    // sees its CHECKPOINTED pair-generation executions too: the inverted
    // index inside jaccardPairs ships shingle atoms by design; l16's own
    // claim — the propagation loop shuffles labels only — is covered by
    // the doc-payload ban across every captured execution.
    // l56's corpus shuffle carries word atoms (the vocab hash-agg — the
    // BPE trainer's single corpus-sized exchange by design): tier 1.
    // l58 embeds jaccardPairs (shingle atoms in the inverted index),
    // l59's one corpus exchange carries bigram atoms (the cell hash-agg),
    // and l63's carries word atoms (the l56 shape) — tier 1 holds all
    // three to the document-payload ban everywhere. l61's shuffles carry
    // only ids/counts (token counting happens in the scan): tier 2.
    // l68/l69 embed jaccardPairs (shingle atoms in the inverted index by
    // design); their own downstream exchanges carry only sources, ids and
    // counts — tier 1 holds them to the document-payload ban everywhere.
    val tier1 = Seq("l02_jaccard_pairs", "l16_dedup_clusters",
      "l27_containment_pairs", "l33_bloom_decontaminate",
      "l56_bpe_pair_counts", "l58_leakage_safe_split", "l59_oov_rate",
      "l63_vocab_drift",
      "l68_neardup_source_matrix", "l69_effective_tokens",
      "l75_containment_dedup",
      // l82: the exact-truth leg is the inverted index (shingle atoms by
      // design); the signature/band exchanges carry ints and band hashes
      "l82_band_config_sweep",
      // l86: embeds jaccardPairs (shingle atoms in the inverted index);
      // everything after the CC labels is id/count arithmetic
      "l86_cluster_cohesion",
      // l91: candidate generation is digest-only (byte-banded signature
      // self-join); the exact verification joins shingle atoms by design
      // (the l43 shape)
      "l91_simhash_estimate_audit",
      // l92: embeds containmentPairs (shingle atoms in the inverted
      // index); labeling joins move ids and short source strings only
      "l92_source_containment_matrix",
      // l123/l124/l129/l130 (round-18): the unigram family's one
      // corpus-sized exchange is the distinct-word hash-agg (word atoms
      // — the l56 shape); the lattice groupBy shuffles (word, j, k,
      // piece, p) span atoms (pieces are ≤4-char substrings), and every
      // trainer round is vocab-table work — text dies in the words()
      // scan stage and must never reappear on any exchange
      "l123_unigram_round1", "l124_tokenizer_fertility",
      "l129_unigram_train", "l130_tokenizer_fertility_trained")
    // l71/l72: quality scoring happens in the scan — every exchange
    // carries only (id, score, bucket, count) scalars. l70 is not
    // listed for the same reason l57 isn't: its Σ√ fold's weight column
    // is literally named `w`, colliding with the banned token-array name.
    val tier2 = Seq(
      "l01_exact_dedup", "l03_minhash_lsh", "l04_simhash_pairs",
      "l10_fingerprints", "l24_decontaminate",
      "l46_dup_shingle_profile", "l49_source_overlap",
      "l51_bigram_fluency", "l61_pack_efficiency",
      "l71_quality_ranks", "l72_signal_agreement",
      "l73_quality_token_tradeoff",
      // l77: shingles die into md5 digests in the scan projection; the
      // two corpus-sized exchanges carry (digest, decile) ints only
      // l78: sketch legs shuffle (source, 52-bit hash) and serialized
      // bounded_top_m heaps; the exact leg is l49's digest story
      // l80: l49's digest machinery with the per-row split label as key
      // l81: text dies into md5 at the scan; exchanges carry
      // (digest, decile, count) only
      "l77_novelty_curve", "l78_source_sketch_audit",
      "l80_split_leakage_matrix", "l81_dup_trend",
      // l83: shingles die into md5 at the scan; postings/weights exchanges
      // carry digests, ids and integer weights only
      "l83_weighted_jaccard_pairs",
      // l102: the whole winnowing selection happens inside the row (the
      // positional hash array never leaves its projection); the only
      // exchanges are the per-doc audit rows and the declared orderBy
      // l103: rule booleans are scan projections; the per-source agg
      // exchange carries (source, counters) only
      "l102_winnow", "l103_gopher_rules",
      // l117: features die into pmod(md5) bucket ids in the scan stage —
      // every exchange carries (doc_id, is_target, b, partial count)
      // ints; the banned `feat` name would surface on a regression that
      // shuffles the exploded feature strings before hashing
      "l117_dsir_select")
    tier1.foreach { q => assertNoShufflePayload(lq(q), docPayload, q) }
    tier2.foreach { q => assertNoShufflePayload(lq(q), atomPayload, q) }
    // l116 (round-16): the digest gram key is now the declared shape —
    // the (doc_id, n, gram) hash-agg keys on (xxhash64, char length)
    // LONGS, so the gram string itself joins the ban list: its only
    // legal life is inside the scan-stage projection that hashes it.
    assertNoShufflePayload(lq("l116_repetition_rules"),
      atomPayload + "gram", "l116")
  }

  test("embedding-plane sweep: no array column crosses a shuffle in the " +
    "bucketed/broadcast ANN operators") {
    // l48's ArrayType payload pin, generalized: the embedding operators
    // whose scale story is "broadcast the small side / join buckets by
    // equality, arrays stay in the scan" are held to it by schema — any
    // ArrayType in a shuffle payload (embeddings, code arrays, kept-index
    // arrays) fails. Not listed: l39 (candidate pairs join embeddings
    // back for the cosine verify — array movement is that plan's
    // documented cost), l17/l37 (IVF assignment passes each corpus
    // embedding through ONE exchange by design — the max_by partial
    // carries it to its cell — and the probe window moves the
    // by-contract-small query side's arrays), l48 (has its own
    // stricter pin), l60 (the centroid ASSEMBLY exchange carries
    // labels × dim bounded struct arrays by design — its own pin below
    // bans the corpus `embedding` column instead), l118 (SemDeDup's
    // within-cell pair join moves each cell's embedding arrays through
    // the cell-keyed exchange BY DESIGN — the paper's corpus²/k cost
    // center, bounded by the KnobSchedule-derived cell occupancy; its
    // own test below pins the join to cell EQUALITY instead).
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("l05_cosine_topk", "l06_ann_lsh", "l14_cosine_near_dups",
      "l40_semantic_decontaminate", "l44_lsh_recall_audit",
      // l79: edges come from the broadcast-queries pass (the l05 shape);
      // every post-edge exchange is id/count arithmetic
      "l79_hubness_audit",
      // l84/l85: bucket ids are scan projections; the cell aggregations
      // exchange (bkt, counts) / serialized bounded_top_m heaps — the
      // embedding array never leaves the scan
      "l84_embedding_coverage", "l85_diversity_sample",
      // l104: the l05 broadcast-queries shape; the checkpointed sims
      // table carries only (ids, labels, sim) — every post-checkpoint
      // exchange (negative window, positive max) is array-free
      "l104_hard_negatives",
      // l108: the posexplode flattens embeddings INSIDE the scan stage;
      // the per-dim agg exchange carries (dim, partial counters) only
      "l108_embedding_dim_stats",
      // l109/l110: the dense leg is the l05 broadcast-queries shape;
      // every post-leg exchange (agreement joins / RRF fusion window)
      // moves (q_id, doc_id, rank) ids only
      "l109_hybrid_retrieval_agreement", "l110_hybrid_rrf_fusion",
      // l113: the dense leg again; the hit-count and spine joins move
      // (doc_id, counts) only
      "l113_retrievability")) {
      allShufflePayloads(lq(q)).foreach { attrs =>
        val arrays = attrs.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"$q: array columns ${arrays.map(_.name)} cross a shuffle")
      }
    }
  }

  test("multimodal sweep: blob payloads stay inside the codec stage — no " +
    "binary column crosses a shuffle in any media operator") {
    // The codec boundary contract (SURVEY multimodal rows): decode /
    // feature-extract / resize / resample run as mapPartitions over the
    // blob INSIDE its scan stage; everything that crosses an exchange
    // afterwards is ids + typed metadata + exact integer stats. A binary
    // column in a shuffle payload means a blob-sized repartition — the
    // one thing a 100 TB media lake cannot afford per operator.
    import org.apache.spark.sql.types.BinaryType
    for (q <- Seq("l11_multimodal_decode", "l20_frame_sample",
      "l41_multimodal_features", "l42_multimodal_resize",
      "l93_media_storage_audit", "l115_audio_decode",
      // l122: the dHash computes inside the blob scan stage; exchanges
      // carry (doc_id, dhash, band) longs and the 72-int audit grid only
      // l125/l126: same codec boundary — CC edges and sweep counts are
      // id/long work
      "l122_image_near_dups", "l125_image_dedup_apply",
      "l126_image_band_sweep", "l127_audio_near_dups",
      // l128/l131: audio apply + sweep — the shared sig-level cores;
      // everything past the audioHash scan is (doc_id, dhash, band)
      // long work
      "l128_audio_dedup_apply", "l131_audio_band_sweep",
      // l132-l135: the video plane — per-frame hashes computed inside
      // the container's codec mapPartitions; every exchange carries
      // (doc_id, frame_idx, dhash, band) longs or feature scalars
      "l132_video_decode", "l133_video_near_dups",
      "l134_video_dedup_apply", "l135_video_band_sweep",
      // l136/l137: the offset detector's frame-blind banding and the
      // temporal frame-sample's payload→payload re-emit — the sampled
      // container flows codec-stage-to-codec-stage; every exchange
      // carries (doc_id, frame_idx, dhash, band) longs or feature rows
      "l136_video_offset_near_dups", "l137_video_frame_sample",
      "l138_video_offset_dedup_apply",
      // l139/l140: the flip plane — the flip transform re-emits inside
      // the codec stage; the flip-canonical signature is computed in
      // the same raster pass, so exchanges carry (doc_id, dhash, band,
      // flip) scalars only
      "l139_image_flip", "l140_image_flip_invariant_near_dups",
      "l141_image_flip_dedup_apply", "l142_image_flip_band_sweep",
      // l143-l145: the audio window-fingerprint plane — window hashes
      // compute inside the WAV mapPartitions scan; the trim re-emits
      // at the codec boundary; exchanges carry window-sig longs only
      "l143_audio_offset_near_dups", "l144_audio_trim",
      "l145_audio_offset_dedup_apply",
      // l146: paired-group keys — hashes at the codec boundary,
      // exchanges carry (doc_id, dhash, table_id, tkey) longs only
      "l146_image_near_dups_grouped",
      // l147/l148: offset-window sweeps — three shared-sig legs of
      // long-count aggregates
      "l147_video_offset_sweep", "l148_audio_offset_sweep",
      // l149: grouped-key occupancy sweep — one candidate pass over
      // (doc_id, dhash, table_id, tkey) longs, per-cap count legs
      "l149_grouped_occ_sweep",
      // l150-l152: the same sweep shape on the frame-blind offset,
      // frame-aligned, and audio-window grouped tables — hashes at the
      // codec boundary, exchanges carry (doc_id, frame_idx, dhash,
      // table_id, tkey) longs only
      "l150_video_offset_grouped_occ_sweep",
      "l151_video_aligned_grouped_occ_sweep",
      "l152_audio_offset_grouped_occ_sweep")) {
      val payloads = allShufflePayloads(lq(q))
      assert(payloads.nonEmpty, s"$q: expected at least one shuffle")
      payloads.foreach { attrs =>
        val bins = attrs.filter(_.dataType == BinaryType)
        assert(bins.isEmpty,
          s"$q: binary columns ${bins.map(_.name)} cross a shuffle")
      }
    }
  }

  test("l119: every codes-carrying exchange is float-free — the ADC " +
    "index/scan moves quantized bytes + norms, never the embeddings " +
    "(the 8-information-bytes-per-row scale claim, held by schema)") {
    // Round-17 ADVICE: the cell-equality pin below proves the scan join
    // keeps its key, but nothing yet asserted WHAT the code-scan/index
    // exchanges carry. The claim that makes IVF-PQ an index at 100 TB is
    // that corpus-sized exchanges move (nid, cell, codes, nrm) — if a
    // float embedding array ever rides next to `codes`, the index costs
    // floats again and the compression was theater.
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // At sf0.001 the index-build joins all auto-broadcast and no codes
    // row ever crosses a shuffle — which is exactly what would NOT
    // happen at 100 TB. Force the at-scale shape by disabling
    // auto-broadcast (explicit broadcast() hints — the probe/LUT/query
    // structures that broadcast BY DESIGN — are unaffected).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val payloads =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        allShufflePayloads(lq("l119_ivfpq_ann"))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(payloads.nonEmpty)
    // What the walk actually shows (and this pin freezes): `codes`
    // never crosses an exchange AT ALL — pqEncode's vec_id-keyed agg
    // leaves the coded index hash-partitioned on vec_id and the
    // index-build join REUSES that partitioning — and the corpus float
    // columns (ce / embedding) ride no shuffle either: floats stream
    // scan→project into the rerank join whose other side broadcasts.
    // The only float arrays on any wire are the by-contract-small query
    // side's (qe, cent — the probe window). A regression that (a)
    // re-shuffles codes next to a float array or (b) puts the corpus
    // embedding on an exchange fails here by name/type.
    payloads.filter(_.exists(a => a.name == "codes" || a.name == "cc"))
      .foreach { attrs =>
        val floats = attrs.filter(_.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
        assert(floats.isEmpty,
          s"codes exchange carries float arrays ${floats.map(_.name)} in " +
            s"(${attrs.map(_.name).mkString(", ")})")
      }
    payloads.foreach { attrs =>
      val corpusFloats = attrs.map(_.name).filter(Set("ce", "embedding"))
      assert(corpusFloats.isEmpty,
        s"corpus embedding crosses a shuffle as $corpusFloats in " +
          s"(${attrs.map(_.name).mkString(", ")})")
    }
  }

  test("unigram seedVocab: top-V selection runs as TakeOrderedAndProject " +
    "— never a single-task global row_number window (the l59/d18 " +
    "discipline)") {
    // Round-17 VERDICT #5: the candidate-piece table is vocab-domain
    // sized, but the old global Window.orderBy put ALL of it through one
    // task's sort. The fix is partial top-V per partition merged on the
    // driver; this pin keeps it that way.
    import graft.llm.UnigramLm
    val docs = Tables.load(spark, sf001, "documents")
    val plan = executedPlan(UnigramLm.seedVocab(docs))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("l118: SemDeDup pair generation joins cells by EQUALITY — the " +
    "within-cell exchange is the paper's cost center, never a cartesian") {
    // The within-cell pair join legitimately moves embedding arrays on
    // the cell key (hence l118's exemption from the embedding-plane
    // array sweep above); what must hold is that the join stays
    // cell-equality-keyed — a CartesianProduct OR a BroadcastNestedLoopJoin
    // here means the cell scoping was lost and the plan is all-pairs
    // comparisons (Spark plans a BNLJ when an equality key is lost and
    // one side is small — exactly the regression scenario, and the
    // broadcast makes it no less quadratic; round-15 ADVICE).
    val plan = executedPlan(lq("l118_semdedup"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l120: tau-sweep pair pass joins cells by EQUALITY — one shared " +
    "pair pass, never an all-pairs shape") {
    // l118's cell-equality contract carried to the sweep: the per-vector
    // max-earlier-sim pass is the SAME within-cell join, and the ladder
    // is an explode over its per-vector scalar — no shape in the final
    // plan may be cartesian/BNLJ.
    val plan = executedPlan(lq("l120_semdedup_tau_sweep"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l119: IVF-PQ code scan joins probes×index by cell EQUALITY — a " +
    "positive hash-join pin the allowlisted probe BNLJ cannot mask") {
    // Round-16 verdict: `!contains("CartesianProduct")` alone had a hole
    // — l119's plan legitimately contains a BNLJ (the probe window's
    // broadcast centroid crossJoin, covered by the crossJoin allowlist
    // test below), so a regression that turned the (probeSide × index)
    // code scan itself into a BNLJ would have passed. Assert POSITIVELY
    // that the scan join survives as a hash/sort-merge join KEYED ON
    // `cell`, and negative-test the matcher on a deliberately
    // key-dropped twin of the same join shape.
    val plan = executedPlan(lq("l119_ivfpq_ann"))
    assert(!plan.contains("CartesianProduct"))
    val cellKeyed =
      ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) " +
        "\\[cell#\\d+L?\\], \\[cell#\\d+L?\\]").r
    assert(cellKeyed.findFirstIn(plan).isDefined,
      "no hash/SMJ join keyed on cell in:\n" + plan.take(3000))
    // The negative twin: the same two-sided join with the equality key
    // replaced by a non-equi sandwich (cell <= cell && cell >= cell) —
    // semantically identical, but Spark can only plan a nested loop.
    // The matcher must NOT fire on it, proving the pin actually fails
    // when the cell key is dropped.
    import spark.implicits._
    val probes = Seq((1L, 10L), (2L, 11L)).toDF("cell", "qid")
    val index = Seq((1L, 20L), (2L, 21L)).toDF("cell", "nid")
    val dropped = probes.as("p").join(index.as("i"),
      col("p.cell") <= col("i.cell") && col("p.cell") >= col("i.cell"))
    val planDropped = executedPlan(dropped)
    assert(planDropped.contains("BroadcastNestedLoopJoin") ||
      planDropped.contains("CartesianProduct"), planDropped.take(1500))
    assert(cellKeyed.findFirstIn(planDropped).isEmpty,
      "matcher fired on the key-dropped twin:\n" + planDropped.take(1500))
  }

  test("l122: the image band-candidate join is hash-keyed on " +
    "(band_idx, band_val) — the l119 positive-pin discipline on the " +
    "perceptual plane") {
    // The cartesian/BNLJ-absence sweep alone can't tell a band-keyed
    // join from any other equality join; assert positively that a
    // hash/SMJ join keyed on the band columns exists, so dropping the
    // band key can never pass silently.
    val plan = executedPlan(lq("l122_image_near_dups"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val bandKeyed =
      ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) " +
        "\\[band_idx#\\d+, band_val#\\d+L?\\], " +
        "\\[band_idx#\\d+, band_val#\\d+L?\\]").r
    assert(bandKeyed.findFirstIn(plan).isDefined,
      "no hash/SMJ join keyed on (band_idx, band_val) in:\n" +
        plan.take(3000))
  }

  test("l54: contamination fraction joins on shingle digests — no raw " +
    "shingle or text column crosses an exchange") {
    // The l46 digest discipline: shingles md5-hash at the scan, so the
    // eval-set join's worst case (shuffle instead of broadcast) carries
    // 32-char digests (`sd`), and the per-doc fold's exchange carries
    // partial counts only. Payload-checked: a revert to the raw-shingle
    // join would surface `s` in a shuffle payload the moment the eval
    // side stops broadcasting — and never slips a text column through
    // any exchange that does exist.
    val plan = executedPlan(lq("l54_contamination_frac"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assertNoShufflePayload(lq("l54_contamination_frac"),
      Set("text", "toks", "s"), "l54")
  }

  test("l55: token-budget window is salted — the corpus exchange keys on " +
    "(source, bkt), and text never crosses an exchange") {
    // The scale claim in tokenBudgetSample's doc: the corpus-sized window
    // runs over (source, bkt), not source alone — a per-source window
    // would be l48's old skewed-rank exchange (each source key's reducer
    // receiving and sorting its whole corpus slice in one task).
    val plan = executedPlan(lq("l55_token_budget_sample"))
    assert(!plan.contains("CartesianProduct"))
    // The key claim, tied to the WINDOW NODE itself (an exchange-line
    // grep would pass vacuously — the (source, bkt) bucket-count
    // aggregation produces such an exchange even if the window
    // regressed): every window ORDERED BY the md5 key h — the
    // corpus-sized one — must partition on (source, bkt); a window on
    // source alone ordered by h is the single-key-straggler regression.
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.exists(l =>
      "\\], \\[source#\\d+, bkt#\\d+\\], \\[h#\\d+ ASC".r.findFirstIn(l).isDefined),
      windows.mkString("\n"))
    assert(!windows.exists(l =>
      "\\], \\[source#\\d+\\], \\[h#\\d+ ASC".r.findFirstIn(l).isDefined),
      "a corpus window partitions on source alone:\n" + windows.mkString("\n"))
    // the payload claim needs the real schemas: text stays out of every
    // shuffle (the windowed rows carry doc_id/source/n_tokens/h/bkt)
    assertNoShufflePayload(lq("l55_token_budget_sample"),
      Set("text", "toks"), "l55")
  }

  test("l56: BPE statistics run exactly two hash exchanges — the word agg " +
    "(the one corpus-sized shuffle) and the pair-space agg, both partial") {
    val df = lq("l56_bpe_pair_counts")
    val plan = executedPlan(df)
    val hashExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 2, plan.take(1500))
    // two-phase aggregation on both: partial+final HashAggregate pairs
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(1500))
  }

  test("l43: estimator audit joins bands by equality only (no cartesian)") {
    val plan = executedPlan(lq("l43_minhash_estimate_audit"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l44: recall audit broadcasts the query sample, never a cartesian") {
    // Exact ground truth is sampled-queries × corpus: legal ONLY as a
    // broadcast nested loop (sample side tiny by construction) — a
    // non-broadcast cartesian here would mean the sample filter was lost.
    val plan = executedPlan(lq("l44_lsh_recall_audit"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("l39: embedding dedup buckets by equality and broadcasts the losers") {
    val plan = executedPlan(lq("l39_embedding_dedup"))
    assert(!plan.contains("CartesianProduct"))
    // the final subtraction is a broadcast LeftAnti, not a shuffled one
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(1200))
  }

  test("l40: semantic decontamination joins buckets by equality only") {
    val plan = executedPlan(lq("l40_semantic_decontaminate"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("l99: the canary readout carries no join hint — a broadcast of the " +
    "preserved side of a left outer join is one Spark ignores") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    val canaries = Seq((1L, "__a__"), (2L, "__b__")).toDF("canary_id", "phrase")
    val cells = Seq((1L, "__a__", "web", 3L, 7L))
      .toDF("canary_id", "phrase", "source", "n_docs", "first_doc")
    val plan = graft.llm.TextAnalysis.canaryReport(cells, canaries)
      .queryExecution.analyzed
    assert(plan.collectFirst { case h: ResolvedHint => h }.isEmpty,
      plan.treeString)
  }

  test("global plan discipline: no CartesianProduct in ANY declared query; " +
    "BroadcastNestedLoopJoin only where a tiny side is broadcast by design") {
    // Every name here broadcasts a provably-small side into a non-equi or
    // unconditioned join: d10 explicit cross join of bounded dims, d36
    // 1-row scalar subquery, l05/l44 broadcast query samples, l17/l37
    // broadcast centroid tables, l21/l28/l31 broadcast 1-row corpus
    // totals/thresholds. Anything OUTSIDE this list sprouting a BNLJ (or
    // anything at all sprouting a cartesian) is a 100 TB regression, not a
    // style issue: both shapes are O(n·m) the moment neither side is tiny.
    val bnljByDesign = Set(
      "d10_cross_join", "d36_scalar_subquery", "l05_cosine_topk",
      "l17_ann_ivf", "l21_tfidf_topk", "l28_domain_mix", "l31_boilerplate",
      "l37_ann_ivf_trained", "l44_lsh_recall_audit", "l48_int8_rerank",
      // l48b: same broadcast-queries non-equi coarse join as l48, with
      // the broadcast side byte-packed (strictly smaller than l48's)
      "l48b_int8_rerank_packed",
      // l57's Σ√tokens is a broadcast 1-row total, the l28 shape;
      // l63's corpus total and per-word-share grids are the same
      // broadcast tiny-side crossJoins (1 row and |vocabulary| rows)
      "l57_temperature_sample", "l63_vocab_drift",
      // l67: broadcast 1-row (N_t, N_s) totals crossJoin (the l28 shape)
      "l67_importance_weights",
      // l67b: the model's broadcast totals row rides the same l28-shape
      // crossJoins (B-row model itself joins by bucket equality);
      // l70: broadcast 1-row Σ√tokens total (the l57 shape);
      // l71/l72: broadcast 1-row n_total crossJoin for the decile
      "l67b_importance_incremental", "l70_epoch_plan",
      "l71_quality_ranks", "l72_signal_agreement",
      "l73_quality_token_tradeoff", "l74_unique_token_epoch_plan",
      "l76_outlier_ranks",
      // l78: the pair expansion is a non-equi self-join of the
      // |sources|×k SKETCH table (tiny by construction — that is the
      // sketch's whole point); the corpus-sized legs are equality-keyed
      // l79: broadcast-queries non-equi edge join (the l05 shape) plus
      // two broadcast 1-row count crossJoins for the zero bin
      "l78_source_sketch_audit", "l79_hubness_audit",
      // l82: per-config counts + truth count are broadcast 1-row
      // crossJoins (the l28 shape); candidates/bands join by equality
      // l83: broadcast 1-row N_docs total onto the postings table
      // l84: broadcast 1-row (n_corpus, n_cells) summary onto ≤256 cells
      "l82_band_config_sweep", "l83_weighted_jaccard_pairs",
      "l84_embedding_coverage",
      // l87: broadcast nCells-centroid crossJoins (the l17 shape), the
      // broadcast-queries brute-force truth leg (the l05 shape), and
      // broadcast 1-row count crossJoins per config
      // l88: broadcast 1-row n_train total per config row
      "l87_ivf_probe_sweep", "l88_decon_ngram_sweep",
      // l94: broadcast 1-row Σw^α total per alpha leg (the l70 shape)
      "l94_temperature_sweep",
      // l95: the PQ coarse pass is the l48 broadcast-queries non-equi
      // scan with the broadcast side a |Q|-row LUT table (m·ks doubles
      // per query); the codebook fit joins subspaces by equality
      "l95_pq_ann",
      // l119: the probe window is the l17/l37 broadcast-centroid
      // crossJoin (queries × nCells); the ADC scan itself joins probed
      // cells by EQUALITY (its own pin above) and the rerank broadcasts
      // the |Q|·shortM shortlist
      "l119_ivfpq_ann",
      // l121: l119's probe crossJoin plus the broadcast-queries
      // brute-force truth leg (the l05/l98 audit shape)
      "l121_ivfpq_probe_sweep",
      // l97: broadcast 1-row n_total crossJoin (the l71 decile shape)
      "l97_source_quality_drift",
      // l98: the shared PQ coarse pass (the l95 shape) plus the
      // broadcast-queries brute-force truth leg (the l05 shape)
      "l98_pq_shortlist_sweep",
      // l99: the canary list broadcasts against the scan-side Contains
      // probe (non-equi by nature), and the zero-reporting left join
      // re-broadcasts the same tiny list
      "l99_canary_tripwire",
      // l101: broadcast 1-row (n_docs, sum_dl) corpus-stats crossJoin
      // onto the query⋈postings candidates (the l83 postings shape)
      "l101_bm25_topk",
      // l104: broadcast-queries non-equi similarity join (the l05 shape)
      "l104_hard_negatives",
      // l106: embeds l101's broadcast 1-row stats crossJoin
      "l106_retrieval_decon_agreement",
      // l107: broadcast 1-row (v_total, mass_total) crossJoins onto the
      // frequency grid and the 10-row decile table (the l28 shape)
      "l107_vocab_coverage",
      // l109/l110: embed l101's broadcast 1-row stats crossJoin (sparse
      // leg) and the l05 broadcast-queries non-equi similarity join
      // (dense leg)
      "l109_hybrid_retrieval_agreement",
      "l110_hybrid_rrf_fusion",
      // l113: same two embedded shapes (l101 stats crossJoin + l05
      // non-equi dense leg)
      "l113_retrievability",
      // l117: broadcast 1-row (t_t, t_r) corpus-totals crossJoin onto the
      // bucket-count table (the l28/l67 shape — dsirModelFromDb's
      // IdentityBroadcastMode 1-row aggregate)
      "l117_dsir_select",
      // l123/l124: the unigram lattice's broadcast 1-row t_mass total
      // crossJoin onto the vocab-sized span table (the l28/l117 shape);
      // every corpus-sized exchange is the one distinct-word hash-agg
      "l123_unigram_round1", "l124_tokenizer_fertility",
      // l126: per-leg 1-row count crossJoins + the broadcast 1-row
      // truth-count join (the l82/l87 sweep shape); candidate legs join
      // bands by equality
      "l126_image_band_sweep",
      // l129/l130: the trainer's broadcast 1-row t_mass totals — one per
      // EM round's lattice, the M-step loss pass, and the final
      // renormalization (the l123 shape, once per round); every
      // corpus-sized exchange is still the one distinct-word hash-agg
      "l129_unigram_train", "l130_tokenizer_fertility_trained",
      // l131/l135: the l126 sweep shape on the audio / per-frame video
      // signature tables
      "l131_audio_band_sweep", "l135_video_band_sweep",
      // l142: the same sweep shape on the flip-canonical signature
      "l142_image_flip_band_sweep",
      // l147/l148: the offset-window sweeps — per-leg 1-row count
      // crossJoins + the broadcast 1-row truth join (the l126 shape)
      "l147_video_offset_sweep", "l148_audio_offset_sweep",
      // l149: the grouped-key occupancy sweep — same per-leg 1-row
      // count crossJoins + broadcast 1-row truth join
      "l149_grouped_occ_sweep",
      // l150-l152: the frame-plane / aligned / audio-window grouped
      // occupancy sweeps — same per-leg 1-row count crossJoins +
      // broadcast 1-row truth join
      "l150_video_offset_grouped_occ_sweep",
      "l151_video_aligned_grouped_occ_sweep",
      "l152_audio_offset_grouped_occ_sweep")
    SparkEntry.allDeclared.foreach { dq =>
      val plan = SparkEntry.queries(dq.name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${dq.name}: plan grew a CartesianProduct")
      if (!bnljByDesign(dq.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${dq.name}: plan grew a BroadcastNestedLoopJoin outside the allowlist")
    }
  }

  test("l09: token counting uses the native expression, not size(split)") {
    // Guards the S9 lesson (README table): the builtin split chain is
    // 12.7x the native byte scan; a regression to split() here would be
    // invisible to the correctness gate.
    val plan = lq("l09_token_counts").queryExecution.executedPlan.toString
    assert(plan.contains("ws_token_count"), plan.take(800))
  }

  private def lq(name: String): DataFrame =
    graft.queries.LlmDeclared.all.find(_.name == name).get.build(spark, sf001)

  test("bucketed tables co-locate the join: no Exchange on either side") {
    // The bucketing lever SURVEY §2/§4 names for repeated big-big joins at
    // 100 TB: both sides pre-bucketed on the join key -> the sort-merge
    // join reads buckets directly, zero shuffle.
    val spark2 = spark
    import spark2.implicits._
    val left = (0 until 1000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_left")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_right")
    // force the big-big join shape (tiny test tables would broadcast,
    // which sidesteps the bucketing question entirely)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1200)}")
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      assert(joined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("l60: centroid outliers broadcast the prototype table — the " +
    "corpus embedding column never crosses a shuffle") {
    // The scale claim in centroidOutliers' doc: scoring is a projection
    // over the corpus against BROADCAST per-label centroid arrays. If
    // the broadcast hint is ever lost, the label join becomes a shuffled
    // join carrying the embedding array corpus-wide — banned here by
    // attribute name across every captured execution.
    val plan = executedPlan(lq("l60_centroid_outliers"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assertNoShufflePayload(lq("l60_centroid_outliers"),
      Set("embedding"), "l60")
  }

  test("l62: mixture-order rank window is salted — the corpus exchange " +
    "keys on (source, bkt), and text never crosses an exchange") {
    // Same claim as l55's pin, for the rank form: the within-bucket
    // row_number runs over (source, bkt), never source alone — a
    // per-source rank window would put each source's whole corpus slice
    // in one reducer task.
    val plan = executedPlan(lq("l62_mixture_order"))
    assert(!plan.contains("CartesianProduct"))
    // Tied to the WINDOW NODE (same reasoning as l55's pin): the
    // row_number window ordered by h must partition on (source, bkt);
    // the bounded prefix window ([source], ordered by bkt) is exempt
    // because its input is the 16-rows-per-source aggregate.
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.exists(l =>
      "\\], \\[source#\\d+, bkt#\\d+\\], \\[h#\\d+ ASC".r.findFirstIn(l).isDefined),
      windows.mkString("\n"))
    assert(!windows.exists(l =>
      "\\], \\[source#\\d+\\], \\[h#\\d+ ASC".r.findFirstIn(l).isDefined),
      "a corpus window partitions on source alone:\n" + windows.mkString("\n"))
    assertNoShufflePayload(lq("l62_mixture_order"),
      Set("text", "toks"), "l62")
  }

  test("l71: exact ranks never globally sort the corpus — the rank window " +
    "partitions on the score-grid bucket, not empty") {
    // The operator's whole claim: rank = broadcast bucket prefix +
    // within-bucket row_number, so NO corpus-wide single-partition sort
    // exists. The only rangepartitioning exchange allowed is the declared
    // output orderBy(doc_id); the rank window itself must partition on
    // [bkt]. An unpartitioned corpus window (partition spec []) is the
    // regression this pin exists to catch.
    val plan = executedPlan(lq("l71_quality_ranks"))
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.exists(l =>
      "\\], \\[bkt#\\d+\\], \\[score#\\d+ ASC".r.findFirstIn(l).isDefined),
      "rank window must partition on [bkt]:\n" + windows.mkString("\n"))
    assert(!windows.exists(_.contains("], [], [")),
      "an unpartitioned (global) window appeared:\n" + windows.mkString("\n"))
    // exactly one range exchange: the declared output ordering, keyed on
    // doc_id — none keyed on the score (a global score sort)
    val ranges = plan.linesIterator
      .filter(_.contains("rangepartitioning(")).toSeq
    assert(ranges.forall(_.contains("doc_id")),
      "a range exchange not keyed on doc_id (global score sort?):\n" +
        ranges.mkString("\n"))
  }

  test("d41: salted agg shuffles on (user_id, salt) first, key alone second") {
    val plan = executedPlan(q("d41_salted_agg"))
    assert("hashpartitioning\\(user_id#\\d+L?, __graft_salt#\\d+".r
      .findFirstIn(plan).isDefined,
      s"partial agg must partition on (key, salt):\n${plan.take(1500)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan.take(1000))
  }

  test("d42: salted join keys include the salt column") {
    val plan = executedPlan(q("d42_salted_join"))
    assert(plan.contains("salt#"),
      s"join must carry the salt key:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d31: cross-sell anti-join broadcasts the held set") {
    val plan = executedPlan(q("d31_p5_crosssell"))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(1000))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("d32: as-of join is a single window pass, not a self-join") {
    val df = q("d32_asof_join")
    val plan = executedPlan(df)
    assert(!plan.contains("Join"), plan.take(1000))
    assert(plan.contains("Window"), plan.take(1000))
    // the event-kind filter reaches the scan
    assert(df.queryExecution.executedPlan.toString.contains("In(event_type"),
      "kind filter not pushed")
  }

  test("d33: explicit-values pivot is one aggregation path (no distinct job)") {
    val plan = executedPlan(q("d33_pivot"))
    assert(plan.contains("pivotfirst"), plan.take(1200))
    assert(!plan.contains("Join"))
  }

  test("d36: the global aggregate broadcasts (1-row build side)") {
    val plan = executedPlan(q("d36_scalar_subquery"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("l23: centroid aggregation is two-phase (partials before shuffle)") {
    val df = lq("l23_label_centroids")
    df.collect()
    val plan = executedPlan(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1200))
    assert(!plan.contains("Join"))
  }

  test("mortonKey: exact bit interleave on known values") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 1L), (3L, 1L), (2L, 2L), (65535L, 0L))
      .toDF("x", "y")
      .select(graft.plans.Layout.mortonKey(col("x"), col("y")))
      .collect().map(_.getLong(0))
    // interleave: x bits at even positions, y bits at odd.
    assert(got.toSeq === Seq(0L, 3L, 7L, 12L, 0x55555555L))
  }

  test("clusterByZ: range-partitions on the z-key, sorts within partitions") {
    val ev = Tables.load(spark, sf001, "events")
    val out = graft.plans.Layout.clusterByZ(
      ev, col("user_id"), col("event_id"), numFiles = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.take(1200))
    assert(plan.contains("Sort"), plan.take(1200))
    // layout device column does not leak into the output schema
    assert(!out.columns.contains("__z"))
  }

  test("l31: hot-shingle set broadcasts; corpus is never shuffled for it") {
    val df = lq("l31_boilerplate")
    df.collect()
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("l33: Bloom probe is broadcast hash semi-joins, never a shuffle of train") {
    val df = lq("l33_bloom_decontaminate")
    df.collect()
    val plan = executedPlan(df)
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size >= 2,
      plan.take(2000))
  }

  test("l34: CMS counter tables broadcast to the top-k probe") {
    val df = lq("l34_cms_heavy_hitters")
    df.collect()
    val plan = executedPlan(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("d43: lead and row_number share one Window pass, one key exchange") {
    val df = q("d43_scd2_history")
    df.collect()
    val plan = executedPlan(df)
    assert("Window".r.findAllIn(plan).size === 1, plan.take(1500))
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size === 1,
      plan.take(1500))
  }

  test("d45: snapshot diff reduces both sides to digests before the full-outer join") {
    val df = q("d45_snapshot_diff")
    df.collect()
    val plan = executedPlan(df)
    assert(plan.contains("FullOuter"), plan.take(1500))
    // the payload digest is computed in the projections feeding the join
    // (one md5 per side), so the join's inputs carry (key, digest) only —
    // the raw payload stays below each side's snapshot subtree
    assert("md5".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("d47: retention matrix computes with zero joins (window cohort)") {
    val df = q("d47_retention_cohorts")
    df.collect()
    val plan = executedPlan(df)
    assert(!plan.contains("Join"), plan.take(1500))
    assert(plan.contains("Window"), plan.take(1500))
  }

  test("whole-stage codegen covers the d02 hot path") {
    // Codegen spans exist only in the AQE-resolved final plan; they print
    // as `*(n) HashAggregate` markers in the tree string.
    val plan = executedPlan(q("d02_pricing_summary"))
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  // ---------------------------------------------------------------------
  // Streaming state-payload sweep (round-11 directive #6): the batch
  // payload pins above assert that no document-scale column crosses a
  // batch exchange; this is the same discipline held against the STATE
  // STORE. For every stateful operator in each stream's micro-batch plan
  // (dedupe, state-store save/restore, flatMapGroupsWithState), the rows
  // flowing INTO it — key + buffer, i.e. what the state store persists and
  // every micro-batch re-reads — must be digests/longs/bounded atoms only:
  // no text, no token/char/embedding arrays. A text column in streaming
  // state is worse than one in a batch shuffle — it is paid on every
  // trigger for the state's whole lifetime.
  // ---------------------------------------------------------------------

  /** Run one micro-batch of `df` against a memory sink and return, for each
    * stateful operator in the executed micro-batch plan, the attributes its
    * state can persist: for dedupe operators that is the KEY only (the row
    * passes through to the sink but the store keeps just key+timestamp —
    * S11 deliberately dedupes full doc rows on a digest key); for
    * aggregation saves/restores and flatMapGroupsWithState it is the rows
    * the operator consumes (key + buffer / the grouped input). */
  private def statefulInputs(df: DataFrame, mode: String)
      : Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
    import org.apache.spark.sql.execution.streaming.operators.stateful.{
      BaseStreamingDeduplicateExec, StatefulOperator}
    val name = s"state_pin_${statePinSeq.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      q.processAllAvailable()
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val nodes = plan.collect {
        case d: BaseStreamingDeduplicateExec => d.keyExpressions
        case p if p.isInstanceOf[StatefulOperator] => p.children.flatMap(_.output)
      }
      assert(nodes.nonEmpty, "expected at least one stateful operator")
      nodes
    } finally q.stop()
  }
  private val statePinSeq = new java.util.concurrent.atomic.AtomicLong()

  test("streaming state-payload sweep: S11-S18 stateful operators persist " +
    "digests/longs/bounded atoms only - no text, token, or embedding arrays") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def doc(id: Long, text: String) = StreamOps.StreamDoc(id, text, t0)

    // `h` (md5 hex), band/bucket longs, count buffers, and ≤2-word atom
    // keys (S17's char pairs, S18's source) are legitimate state; document
    // payloads and ANY array type (tokens, char splits, embeddings) are not.
    val banned = Set("text", "toks", "embedding", "word", "cs", "b")
    def check(label: String, df: DataFrame, mode: String): Unit =
      statefulInputs(df, mode).foreach { attrs =>
        val bad = attrs.filter(a => banned.contains(a.name) ||
          a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(bad.isEmpty, s"$label: state payload carries " +
          bad.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ") +
          s" in (${attrs.map(_.name).mkString(", ")})")
      }

    val corpus = Seq("a b c d e f g h" -> 1L).map(_.swap).toDF("doc_id", "text")

    val in11 = MemoryStream[StreamOps.StreamDoc]
    in11.addData(doc(1, "alpha beta gamma"), doc(2, "alpha beta gamma"))
    check("S11", StreamOps.dedupDocuments(in11.toDF()), "append")

    val in12 = MemoryStream[StreamOps.StreamDoc]
    in12.addData(doc(1, "a b c d e f"), doc(2, "p q r s t u"))
    check("S12", StreamOps.nearDupDocuments(in12.toDF()), "append")

    val in13 = MemoryStream[StreamOps.StreamDoc]
    in13.addData(doc(1, "alpha beta alpha"))
    check("S13", StreamOps.cmsCounterStream(in13.toDF(), m = 64, d = 2),
      "complete")

    val in14 = MemoryStream[StreamOps.StreamVec]
    in14.addData(StreamOps.StreamVec(1L,
      Array(0.9f, -0.2f, 0.4f, 0.1f, -0.7f, 0.3f, -0.1f, 0.6f), t0))
    check("S14", StreamOps.semanticDedupVectors(in14.toDF(),
      planes = 4, dim = 8, tables = 2), "append")

    val in15 = MemoryStream[StreamOps.StreamDoc]
    in15.addData(doc(1, "the quick brown fox jumps over the lazy dog"))
    check("S15", StreamOps.admitDocuments(in15.toDF(),
      graft.llm.Dedup.bandIndex(corpus)), "append")

    val in16 = MemoryStream[StreamOps.StreamSrcDoc]
    in16.addData(StreamOps.StreamSrcDoc(1L, "one two three", "web", t0))
    check("S16", StreamOps.budgetAdmit(in16.toDF(), budget = 100L), "append")

    val in17 = MemoryStream[StreamOps.StreamDoc]
    in17.addData(doc(1, "low lower lowest"))
    check("S17", StreamOps.bpePairCountStream(in17.toDF()), "complete")

    val in18 = MemoryStream[StreamOps.StreamDoc]
    in18.addData(doc(1, "alpha beta gamma delta"))
    val vocab = Seq("alpha beta").toDF("b")
    check("S18", StreamOps.oovRateStream(
      in18.toDF().withColumn("source", org.apache.spark.sql.functions.lit("web")),
      vocab), "complete")
  }
}
