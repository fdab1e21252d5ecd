package graft

import graft.llm._
import org.apache.spark.sql.functions._

/** LLM-pipeline operator semantics on hand-built micro-fixtures (exact
  * expected rows) plus corpus-level invariants the oracle can't express
  * (LSH recall vs the exact baseline, sketch error bounds, multimodal
  * plumbing shape).
  */
class LlmSpec extends SparkSpec {

  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ------------------------------------------------------------ exact dedup

  test("exactDupGroups: copies collapse to min doc_id with correct counts") {
    val d = docsDf(1L -> "a b c", 2L -> "a b c", 3L -> "x y z", 4L -> "a b c")
    val got = Dedup.exactDupGroups(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(got.toSeq === Seq((3L, 1L), (1L, 3L)))
  }

  // ---------------------------------------------------- dup-shingle profile

  test("dupShingleProfile: hand-computed duplicated-shingle fractions") {
    // doc1 shingles: {a b c, b c d, c d e}; doc2: {a b c, b c d, c d x};
    // doc3: {p q r}. Shared across docs: {a b c, b c d}.
    val d = docsDf(1L -> "a b c d e", 2L -> "a b c d x", 3L -> "p q r")
    val got = Dedup.dupShingleProfile(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, 2L, 2.0 / 3.0),
      (2L, 3L, 2L, 2.0 / 3.0),
      (3L, 1L, 0L, 0.0)))
  }

  test("dupShingleProfile: docs shorter than n shingles are absent; " +
    "identical docs are fully duplicated") {
    val d = docsDf(1L -> "a b", 2L -> "x y z w", 3L -> "x y z w")
    val got = Dedup.dupShingleProfile(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    // doc1 has no 3-gram; docs 2/3 share every shingle
    assert(got.toSeq === Seq((2L, 1.0), (3L, 1.0)))
  }

  // ----------------------------------------------------- parameter guards

  test("parameter guards: bands must divide k; chunk stride in [1, window]; " +
    "frame stride >= 1; SumSquares skips non-finite") {
    val d = docsDf(1L -> "a b c d e f g h")
    intercept[IllegalArgumentException](
      Dedup.minhashNearDups(d, k = 16, bands = 32).collect())
    intercept[IllegalArgumentException](
      Dedup.minhashNearDups(d, k = 16, bands = 3).collect())
    intercept[IllegalArgumentException](TextAnalysis.chunk(d, stride = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.chunk(d, window = 8, stride = 9))
    intercept[IllegalArgumentException](
      Multimodal.frameSample(spark, Multimodal.encodePpm(spark, d).toDF(), 0))
    // one NaN/Inf row must not abort the aggregation — skipped like null
    val vals = Seq(Some(2.0), Some(Double.NaN), None,
      Some(Double.PositiveInfinity), Some(3.0)).toDF("v")
    val got = vals.agg(org.apache.spark.sql.functions.udaf(Sketches.SumSquares)
      .apply(col("v"))).collect()(0).getDouble(0)
    assert(got === 13.0)
  }

  // ------------------------------------------------------- source overlap

  test("sourceOverlap: hand-computed containments; zero-overlap pairs absent") {
    // srcA shingles (distinct, both docs): {a b c, b c d, c d e}
    // srcB shingles: {a b c, b c d, c d x}  -> common with A = 2
    // srcC shingles: {p q r}                -> no overlap with anyone
    val d = Seq(
      (1L, "a b c d e", "srcA"), (2L, "a b c d", "srcA"),
      (3L, "a b c d x", "srcB"), (4L, "p q r", "srcC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      ("srcA", "srcB", 2L, 2.0 / 3.0, 2.0 / 3.0, 0.5)))
  }

  test("sourceOverlap: identical sources have containment and jaccard 1.0; " +
    "matrix is over unordered pairs (src_a < src_b)") {
    val d = Seq(
      (1L, "x y z w", "s1"), (2L, "x y z w", "s2"), (3L, "x y z w", "s0"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(5))).sorted
    assert(got.toSeq === Seq(
      ("s0", "s1", 1.0), ("s0", "s2", 1.0), ("s1", "s2", 1.0)))
  }

  // ---------------------------------------------------------------- jaccard

  test("jaccardPairs: hand-computed 3-gram jaccard") {
    // doc1 shingles: {a b c, b c d, c d e}; doc2: {a b c, b c d, c d x}
    // common=2, union=4 -> j=0.5
    val d = docsDf(1L -> "a b c d e", 2L -> "a b c d x")
    val got = Dedup.jaccardPairs(d, n = 3, minJ = 0.4).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 1L && got(0).getLong(1) === 2L)
    assert(got(0).getDouble(2) === 0.5)
  }

  test("jaccardPairs hot-shingle guard preserves the planted near-dup pairs") {
    val docs = Tables.load(spark, sf001, "documents")
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.jaccardPairs(docs, 3, 0.5, maxDocFreq = Some(100L))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dropping corpus-wide boilerplate shingles must not lose true near-dups
    assert(guarded === exact)
  }

  test("jaccardPairs: disjoint docs produce no pair") {
    val d = docsDf(1L -> "a b c d", 2L -> "p q r s")
    assert(Dedup.jaccardPairs(d, 3, 0.0).count() === 0)
  }

  // ------------------------------------------------------------ minhash-lsh

  test("minhash signature of identical texts is identical; near-dups collide on a band") {
    val d = docsDf(1L -> "a b c d e f g h", 2L -> "a b c d e f g h")
    val sig = Dedup.minhashSignatures(d).collect()
    assert(sig.length === 2)
    val Array(s1, s2) = sig.sortBy(_.getLong(0))
    (1 to 16).foreach(i => assert(s1.getLong(i) === s2.getLong(i)))
  }

  test("shardShuffle: layout-independent total order, dense per-shard positions") {
    val docs = Tables.load(spark, sf001, "documents").select(col("doc_id"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val a = asMap(TextAnalysis.shardShuffle(docs))
    // identical under any physical layout — the reproducibility contract
    val b = asMap(TextAnalysis.shardShuffle(docs.repartition(7)))
    assert(a === b)
    assert(a.size === docs.count())
    // positions are dense 1..|shard| within every shard
    val byShard = a.values.groupBy(_._1)
    byShard.foreach { case (_, members) =>
      assert(members.map(_._2).toSeq.sorted === (1L to members.size).toSeq)
    }
    // a different seed is a different epoch order (not the same permutation)
    val c = asMap(TextAnalysis.shardShuffle(docs, seed = "epoch2"))
    assert(c !== a)
  }

  test("bandSignatures (per-row projection) == minhashSignatures+lshBands on the corpus") {
    // The streaming S12 path computes signatures as array_min HOF folds
    // over each row's own shingle array; the batch path aggregates an
    // exploded shingle table. Same md5-derived hashes, same affine
    // transforms, so every (doc_id, band_idx, band_hash) row must be
    // IDENTICAL — this is the equivalence that lets S12 claim it is the
    // incremental form of l03.
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val perRow = rows(Dedup.bandSignatures(docs, carry = Nil))
    val agg = rows(Dedup.lshBands(Dedup.minhashSignatures(docs)))
    assert(perRow === agg)
    assert(perRow.nonEmpty)
    // a doc with fewer than n tokens has no shingle: absent from BOTH forms
    val tiny = Seq((1L, "only two")).toDF("doc_id", "text")
    assert(Dedup.bandSignatures(tiny, carry = Nil).count() === 0)
    assert(Dedup.minhashSignatures(tiny).count() === 0)
  }

  test("minhashNearDups finds exactly the jaccardPairs >= threshold on the corpus") {
    // LSH candidates are a superset heuristic, but after exact verification
    // at j>=0.5 the result must be a SUBSET of the exact baseline; on the
    // driver corpus (planted near-dups at j~0.99, noise < 0.1) it is equal.
    val docs = Tables.load(spark, sf001, "documents")
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, 3, 16, 4, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact, s"LSH recall/precision mismatch: ${lsh.size} vs ${exact.size}")
  }

  test("minhashEstimateAudit: exact dups estimate 1.0; est/exact columns agree") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val dup = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val audit = Dedup.minhashEstimateAudit(docs.unionByName(dup)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // every planted exact dup is a candidate with ĵ = J = 1, err = 0
    val planted = audit.filter { case ((a, b), _) => b == a + 10000L }
    assert(planted.size === 500)
    planted.values.foreach { case (nm, est, exact, err) =>
      assert(nm === 16L && est === 1.0 && exact === 1.0 && err === 0.0)
    }
    // arithmetic contract on every audited pair
    audit.values.foreach { case (nm, est, exact, err) =>
      assert(est === nm.toDouble / 16)
      assert(err === est - exact)
      assert(exact >= 0.0 && exact <= 1.0)
    }
  }

  test("nearDupClusters: chained pairs form one component under the min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star contraction == min-label propagation on the real pair graph") {
    val docs = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val dup = docs.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val pairs = Dedup.jaccardPairs(docs.unionByName(dup), n = 3, minJ = 0.5)
      .localCheckpoint()
    def label(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prop = label(Dedup.nearDupClusters(pairs))
    val star = label(Dedup.nearDupClustersStar(pairs))
    assert(star === prop)
    assert(star.nonEmpty)
  }

  test("star contraction converges logarithmically on a path graph") {
    // A 300-node chain has diameter 299: min-label propagation would need
    // 299 blocking rounds (its maxIters=30 require fires), while star
    // contraction must finish inside ~log2(300) + c rounds — maxIters=12
    // here IS the assertion (the method requires convergence within it).
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClustersStar(path, maxIters = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 300)
    assert(got.forall(_._2 === 0L), "every chain node must label to the min")
    intercept[IllegalArgumentException](Dedup.nearDupClusters(path, maxIters = 8))
  }

  test("auto CC == star == propagation on clump, path, and mixed graphs") {
    def label(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // clump: dense low-diameter components — the probe converges and the
    // propagation path is taken
    val clump = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("doc_a", "doc_b")
    assert(label(Dedup.nearDupClustersAuto(clump))
      === label(Dedup.nearDupClustersStar(clump)))
    // path: diameter 49 defeats a 4-round probe — the star fallback must
    // kick in and still produce the exact labels
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val gotPath = label(Dedup.nearDupClustersAuto(path))
    assert(gotPath.size === 50 && gotPath.values.forall(_ === 0L))
    // mixed: a clump AND a chain in one edge list — whichever algorithm the
    // probe lands on must label both correctly
    val mixed = clump.unionByName(
      (100L until 130L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"))
    val gotMixed = label(Dedup.nearDupClustersAuto(mixed))
    assert(gotMixed === label(Dedup.nearDupClustersStar(mixed)))
    assert((100L to 130L).forall(gotMixed(_) === 100L))
    assert(gotMixed(3L) === 1L && gotMixed(12L) === 10L)
  }

  test("star contraction handles singletons, self-pairs and reversed edges") {
    val pairs = Seq((5L, 5L), (2L, 1L), (3L, 2L), (9L, 9L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClustersStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 9L -> 9L))
  }

  test("redactPii masks emails/phones/ids and reports counts on the original") {
    val d = docsDf(
      1L -> "mail me at a.b+x@test.org or 555-123-4567 acct 123456789 ok",
      2L -> "no pii here just words",
      3L -> "two mails p@q.io r@s.co one run 9876543210123")
    val got = TextAnalysis.redactPii(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((1L, 1L, 1L)))
    assert(got(2L) === ((0L, 0L, 0L)))
    assert(got(3L) === ((2L, 0L, 1L)))
    // redaction really removes the spans: digest equals the hand-redacted twin
    val masked = TextAnalysis.redactPii(d).filter(col("doc_id") === 1L)
      .select("redacted_md5").collect()(0).getString(0)
    val want = docsDf(1L -> "mail me at <EMAIL> or <PHONE> acct <ID> ok")
      .select(md5(col("text"))).collect()(0).getString(0)
    assert(masked === want)
  }

  test("stableSplit: deterministic assignment with ~80/10/10 proportions") {
    val docs = Tables.load(spark, sf001, "documents")
    val a = TextAnalysis.stableSplit(docs).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val b = TextAnalysis.stableSplit(docs.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(a === b, "split must be independent of partition layout")
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 500.0).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9)
    assert(frac("val") > 0.04 && frac("test") > 0.04)
  }

  // ---------------------------------------------------------------- simhash

  test("simhash: identical docs have hamming 0, disjoint docs differ") {
    val d = docsDf(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "p q r s t u")
    val sig = Dedup.simhash(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    val pairs = Dedup.simhashNearDups(d, maxHamming = 0)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  // ------------------------------------------------------------- similarity

  test("cosine: hand-computed on unit axes") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val sims = Similarity.bruteForceTopK(df.filter(col("vec_id") === 1), df, k = 2)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(math.abs(sims(3L) - 1.0 / math.sqrt(2)) < 1e-15)
    assert(sims(2L) === 0.0)
  }

  test("multi-table ANN recall vs brute force on the fixture corpus") {
    val em = Tables.load(spark, sf001, "embeddings")
    val q = em.filter(col("vec_id") < 32)
    val exact = Similarity.bruteForceTopK(q, em, k = 1)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The recall profile: 8 tables × 4 planes. Measured top-1 recall on
    // this corpus: 0.84 (vs 0.09 single-table 8-plane — the standard LSH
    // planes/tables trade, see Similarity.annTopK). Asserted with margin.
    val ann = Similarity.annTopK(q, em, k = 1, planes = 4, tables = 8)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall collapsed: $recall")
  }

  test("int8RerankTopK: shortlist recall — top-1 agrees with exact brute " +
    "force on nearly every query; reranked sims are the exact cosines") {
    val em = Tables.load(spark, sf001, "embeddings")
    val got = Similarity.int8RerankTopK(em, k = 1, m = 10, queryMod = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val q = em.filter(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(q, em, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty && got.keySet === exact.keySet)
    // int8 coarse scores keep the true top-1 inside a 10-wide shortlist
    // for nearly all queries (quantization noise ~1/254 per dim)
    val agree = exact.count { case (qid, (nid, _)) => got(qid)._1 == nid }
    assert(agree.toDouble / exact.size >= 0.9,
      s"int8 rerank top-1 agreement collapsed: $agree/${exact.size}")
    // where it agrees, the reranked similarity IS the exact cosine
    exact.foreach { case (qid, (nid, sim)) =>
      if (got(qid)._1 == nid) assert(got(qid)._2 === sim)
    }
  }

  test("pqFit/pqEncode: m×ks codebook with dense per-sub idx; every code " +
    "row is m entries in [0, ks)") {
    val em = Tables.load(spark, sf001, "embeddings")
    val cb = Similarity.pqFit(em, m = 16, ks = 16, iters = 2, dim = 64)
    val rows = cb.collect()
    assert(rows.length === 256) // 16 subs × 16 codewords
    val bySub = rows.groupBy(_.getLong(0))
    assert(bySub.keySet === (0L until 16L).toSet)
    bySub.values.foreach { g =>
      assert(g.map(_.getLong(2)).sorted.toSeq === (0L until 16L).toSeq)
      g.foreach(r => assert(r.getSeq[Double](3).length === 4))
    }
    val codes = Similarity.pqEncode(em, cb, m = 16, dim = 64).collect()
    assert(codes.length === em.count())
    codes.foreach { r =>
      val cs = r.getSeq[Long](1)
      assert(cs.length === 16 && cs.forall(c => c >= 0 && c < 16))
    }
  }

  test("ivfPqRerankTopK: recall@3 vs brute force holds; reranked sims are " +
    "exact cosines; serve over persisted model equals the fused form") {
    val em = Tables.load(spark, sf001, "embeddings")
    val got = Similarity.ivfPqRerankTopK(em, k = 3, nProbe = 4, shortM = 20,
      queryMod = 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = em.filter(col("vec_id") % 20 === 0)
    val truth = Similarity.bruteForceTopK(q, em, k = 3)
    val truthPairs = pairs(truth)
    val gotRows = got.collect()
    assert(gotRows.nonEmpty)
    // composed recall@3: IVF probe loss (nProbe/16 cells) × PQ shortlist
    // loss — measured 0.44/0.67/0.72/0.69 at nProbe 2/4/6/8 on the
    // fixture corpus (the 8-probe dip: more probed cells let more
    // ADC-approximate candidates displace true neighbors from the fixed
    // shortM shortlist). The declared knob nProbe=4 pins ≥ 0.6; the
    // 2-probe floor pins the probe ladder's monotone leg.
    val recall = truthPairs.count(pairs(got).contains).toDouble / truthPairs.size
    assert(recall >= 0.6, s"IVF-PQ recall@3 collapsed: $recall")
    val got2 = Similarity.ivfPqRerankTopK(em, k = 3, nProbe = 2,
      shortM = 20, queryMod = 20)
    val recall2 = truthPairs.count(pairs(got2).contains).toDouble / truthPairs.size
    assert(recall2 >= 0.3 && recall2 <= recall,
      s"probe-ladder leg broke: nProbe2=$recall2 vs nProbe4=$recall")
    // the KnobSchedule.ivfPqKnobs COUPLING (shortM = 5·nProbe) restores
    // monotonicity past the fixed-shortlist dip: (8, 40) must beat (4, 20)
    // — measured 0.773 vs 0.667 (vs 0.693 at the starved (8, 20))
    val (_, np8, sm8) = graft.llm.KnobSchedule.ivfPqKnobs(em.count(), nProbe = 8)
    val got8 = Similarity.ivfPqRerankTopK(em, k = 3, nProbe = np8,
      shortM = sm8, queryMod = 20)
    val recall8 = truthPairs.count(pairs(got8).contains).toDouble / truthPairs.size
    assert(recall8 >= recall,
      s"coupled-knob ladder broke: (8,$sm8)=$recall8 < (4,20)=$recall")
    // where the composed index finds a true neighbor, the reranked sim
    // is the exact cosine (bit-equal — the rerank loads real floats)
    val truthSim = truth.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    gotRows.foreach { r =>
      truthSim.get((r.getLong(0), r.getLong(2)))
        .foreach(s => assert(r.getDouble(3) === s))
    }
    // model-boundary factoring: serve(persisted fit) == fused, row-identical
    val (cents, rcb, index) = Similarity.ivfPqFit(em)
    val served = Similarity.ivfPqServeTopK(q, em, cents, rcb, index,
      k = 3, nProbe = 4, shortM = 20)
    def full(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("qid"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(full(served) === full(got))
  }

  test("ivfPq serving on a corpus SMALLER than ks: pqFit trains a narrow " +
    "codebook (min(ks, n) codewords per sub) and the ADC stride follows " +
    "the LUT's actual width, never the nominal ks") {
    // Regression (round 19, found by the pipeline scale receipt): a
    // curated survivor set of n < 16 trains 16 sub-codebooks of n
    // codewords each; the ADC position arithmetic at a fixed ks stride
    // then addresses past the |lut| = m·n table and the serve THROWS
    // (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). The stride must be
    // size(lut)/m — identical to ks whenever the codebook is full.
    val em = Tables.load(spark, sf001, "embeddings")
      .orderBy(col("vec_id")).limit(9).localCheckpoint()
    val (cents, rcb, index) = Similarity.ivfPqFit(em, nCells = 4)
    assert(rcb.groupBy(col("sub")).count()
      .agg(max(col("count"))).first().getLong(0) === 9L)
    val served = Similarity.ivfPqServeTopK(em, em, cents, rcb, index,
      k = 3, nProbe = 4, shortM = 20)
    val rows = served.collect()
    assert(rows.nonEmpty && rows.length <= 9 * 3)
    // reranked sims are exact cosines — the rerank loads real floats,
    // so a mis-strided (but in-bounds) ADC could not hide here
    val ids = em.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    rows.foreach { r =>
      val (q, n, s) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val (a, b) = (ids(q), ids(n))
      val dot = a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val cos = dot / (math.sqrt(a.foldLeft(0.0)((s2, v) => s2 + v * v))
        * math.sqrt(b.foldLeft(0.0)((s2, v) => s2 + v * v)))
      assert(math.abs(s - cos) < 1e-9, s"($q,$n): $s vs $cos")
    }
  }

  test("ivfPqProbeSweep: recall non-decreasing along the coupled ladder; " +
    "truth sized |Q|*k per config") {
    val em = Tables.load(spark, sf001, "embeddings")
    val rows = Similarity.ivfPqProbeSweep(em).orderBy(col("n_probe"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows.map(r => (r._1, r._2)).toSeq === Seq((2L, 10L), (4L, 20L), (8L, 40L)))
    // truth = exactly k per sampled query, identical across configs
    assert(rows.forall(r => r._4 === r._3 * 3))
    // the coupling's point: wider probes + proportionally wider shortlist
    // never lose recall (the fixed-shortM dip is the broken alternative)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._6 <= hi._6, s"coupled ladder dipped: $lo -> $hi") }
  }

  test("pqRerankTopK: ADC approx_sim equals the decoded-reconstruction " +
    "cosine; reranked sims are exact cosines; top-1 recall holds") {
    val em = Tables.load(spark, sf001, "embeddings")
    val (m, ks, subDim) = (16, 16, 4)
    val got = Similarity.pqRerankTopK(em, k = 1, shortM = 20, queryMod = 20,
        m = m, ks = ks)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val q = em.filter(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(q, em, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty && got.keySet === exact.keySet)
    // the 8-bytes-of-code shortlist keeps the true top-1 for most queries
    // — measured 23/25 at (m=16, ks=16, shortM=20) on the fixture corpus,
    // pinned at 0.8 as the price of 32× coarse-scan compression (the
    // m=8/ks=8 config read 4/25 — the config sweep that chose these knobs)
    val agree = exact.count { case (qid, (nid, _)) => got(qid)._1 == nid }
    assert(agree.toDouble / exact.size >= 0.8,
      s"PQ rerank top-1 agreement collapsed: $agree/${exact.size}")
    // where it agrees, the reranked similarity IS the exact cosine
    exact.foreach { case (qid, (nid, sim)) =>
      if (got(qid)._1 == nid) assert(got(qid)._2 === sim)
    }
    // ADC lookup-sum == cosine of query against the DECODED reconstruction
    // (per-sub assigned codewords), up to fp re-association (the ADC sums
    // per-sub subtotals; a flat 64-dim fold associates differently)
    val cbDf = Similarity.pqFit(em, m = m, ks = ks, iters = 2, dim = 64)
      .localCheckpoint()
    val cb = cbDf.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getSeq[Double](3)).toMap
    val codes = Similarity.pqEncode(em, cbDf, m = m, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs = em.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def nrm(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    got.foreach { case (qid, (nid, _, approxSim)) =>
      val qv = vecs(qid)
      val recon = (0 until m).flatMap(s => cb((s.toLong, codes(nid)(s))))
      val dp = (0 until m).map { s =>
        (0 until subDim).map(i =>
          qv(s * subDim + i).toDouble * recon(s * subDim + i)).sum
      }.sum
      val want = dp / (nrm(qv) * nrm(vecs(nid)))
      assert(math.abs(approxSim - want) < 1e-9,
        s"ADC mismatch for ($qid,$nid): $approxSim vs $want")
    }
  }

  test("modalityAgreement: hand-built corpus with one both-modality pair, " +
    "one text-only pair, one semantic-only pair") {
    val docs = docsDf(
      1L -> "a b c d e", 2L -> "a b c d e", // text dup (1,2)
      3L -> "x y z w v", 5L -> "x y z w v", // text dup (3,5)
      4L -> "p q r s t", 6L -> "m n o k l")
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val vecs = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0)), // sem dup (1,2)
      (3L, v(0, 1, 0, 0)), (5L, v(0, 0, 1, 0)),
      (4L, v(0, 0, 0, 1)), (6L, v(0, 0, 0, 1))  // sem dup (4,6)
    ).toDF("vec_id", "embedding")
    val got = Dedup.modalityAgreement(docs, vecs, n = 3, minJ = 0.5,
        minSim = 0.5, planes = 8, dim = 4)
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (false, true, 1L, 2L),   // (4,6): embeddings identical, texts differ
      (true, false, 1L, 2L),   // (3,5): texts identical, embeddings orthogonal
      (true, true, 1L, 2L)))   // (1,2): identical in both planes
  }

  test("sourceQualityDrift: fully separated sources read AUC 1 and 0; " +
    "ties split to 0.5") {
    // srcA: all-stopword text (stop_ratio 1.0), srcB: none (0.0) — every
    // A-doc outranks every B-doc, so AUC_A = 1, AUC_B = 0
    val sep = Seq(
      (1L, "the a of", "A"), (2L, "and to in", "A"),
      (3L, "xx yy zz", "B"), (4L, "qq ww ee", "B")
    ).toDF("doc_id", "text", "source")
    val gotSep = TextAnalysis.sourceQualityDrift(sep).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // B docs tie at 0.0: ranks {1,2} → avg 1.5 → ar2 = 3 each; A docs tie
    // at 1.0: ranks {3,4} → avg 3.5 → ar2 = 7 each
    assert(gotSep("A") === ((2L, 14L, 8L, 1.0)))
    assert(gotSep("B") === ((2L, 6L, 0L, 0.0)))
    // identical text across sources: complete tie → AUC exactly 0.5
    val tied = Seq(
      (1L, "the xx", "A"), (2L, "the xx", "B"), (3L, "the xx", "B")
    ).toDF("doc_id", "text", "source")
    val gotTied = TextAnalysis.sourceQualityDrift(tied).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(gotTied("A") === 0.5)
    assert(gotTied("B") === 0.5)
  }

  test("sourceQualityDrift: brute-force tie-averaged rank-sum parity on " +
    "the fixture corpus") {
    val docs = Tables.load(spark, sf001, "documents")
    val got = TextAnalysis.sourceQualityDrift(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // straight-line reference: collect scores, tie-averaged ranks ×2 in
    // plain Scala, then per-source sums — the textbook Mann–Whitney
    val scored = TextAnalysis.quality(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("stop_ratio"))
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val ranked = scored.sortBy(x => (x._3, x._1)).zipWithIndex
      .map { case ((id, src, s), i) => (id, src, s, i + 1L) }
    val ar2 = ranked.groupBy(_._3).toSeq.flatMap { case (_, grp) =>
      val mn = grp.map(_._4).min
      val c = grp.size
      grp.toSeq.map(g => (g._2, 2 * mn + c - 1))
    }
    val nTotal = ranked.length.toLong
    ar2.groupBy(_._1).foreach { case (src, xs) =>
      val n = xs.size.toLong
      val rs2 = xs.map(_._2).sum
      val u2 = rs2 - n * (n + 1)
      val auc = u2.toDouble / (2.0 * n * (nTotal - n))
      assert(got(src) === ((n, rs2, u2, auc)), s"drift mismatch for $src")
    }
  }

  test("pqShortlistSweep: recall monotone in shortM, truth sized |Q|·k, " +
    "single-config runs equal the shared-pass rows") {
    val em = Tables.load(spark, sf001, "embeddings")
    val rows = Similarity.pqShortlistSweep(em, Seq(5, 10, 20), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(5L, 10L, 20L))
    rows.foreach { case (_, nQ, nT, nH, rec) =>
      assert(nT === nQ * 3, "every fixture query has >= k candidates")
      assert(nH <= nT)
      assert(rec === nH.toDouble / nT)
    }
    // recall never decreases as the shortlist grows (supersets capture
    // supersets) and the 20-wide shortlist finds most of the true top-3
    assert(rows.sliding(2).forall { case Array(a, b) => b._5 >= a._5 })
    assert(rows.last._5 >= 0.5, s"recall@shortM=20 collapsed: ${rows.last._5}")
    // shared-pass consistency: each single-config sweep reproduces its row
    Seq(5, 10, 20).foreach { sm =>
      val solo = Similarity.pqShortlistSweep(em, Seq(sm), k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).head
      assert(solo === rows.find(_._1 == sm).get,
        s"single-config run diverged at shortM=$sm")
    }
  }

  test("canaryScan: present canaries count docs/sources with first id; " +
    "absent canaries report zero; null text never matches") {
    val docs = Seq(
      (1L, "hello world secret-xyz", "s0"),
      (2L, "plain text", "s1"),
      (3L, "another secret-xyz here", "s1"),
      (4L, null.asInstanceOf[String], "s2")
    ).toDF("doc_id", "text", "source")
    val canaries = Seq((1L, "secret-xyz"), (2L, "unused-canary"))
      .toDF("canary_id", "phrase")
    val got = TextAnalysis.canaryScan(docs, canaries).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "secret-xyz", 2L, 2L, Some(1L)),
      (2L, "unused-canary", 0L, 0L, None)))
  }

  test("pqCodebookAudit: every sub-vector assigned exactly once, dead " +
    "codewords present at zero, errors consistent with the encode") {
    val em = Tables.load(spark, sf001, "embeddings")
    val (m, ks) = (16, 16)
    val n = em.count()
    val rows = Similarity.pqCodebookAudit(em, m = m, ks = ks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // full m×ks grid, dead codewords included
    assert(rows.length === m * ks)
    // conservation: every (vector, sub) pair assigned to exactly one cell
    assert(rows.map(_._3).sum === m * n)
    rows.foreach { case (_, _, nA, err) =>
      assert(err >= 0L)
      if (nA == 0) assert(err === 0L, "dead codeword must carry zero error")
    }
    // cross-check assignment counts against pqEncode's codes: the audit's
    // per-(sub, cent_id) counts must equal the code histogram
    val cb = Similarity.pqFit(em, m = m, ks = ks, iters = 2, dim = 64)
      .localCheckpoint()
    val idxToCent = cb.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val hist = Similarity.pqEncode(em, cb, m = m, dim = 64).collect()
      .flatMap(r => r.getSeq[Long](1).zipWithIndex.map { case (idx, s) =>
        (s.toLong, idxToCent((s.toLong, idx))) })
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case (sub, cent, nA, _) =>
      assert(hist.getOrElse((sub, cent), 0L) === nA,
        s"assignment count mismatch at ($sub, $cent)")
    }
  }

  test("IVF ANN: probing more cells monotonically improves top-1 recall") {
    val em = Tables.load(spark, sf001, "embeddings")
    val q = em.filter(col("vec_id") < 32)
    val exact = Similarity.bruteForceTopK(q, em, k = 1)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int): Double = {
      val got = Similarity.annTopKIvf(q, em, k = 1, nCells = 16, nProbe = nProbe)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 >= r2, s"recall must not degrade with more probes: $r2 vs $r8")
    assert(r8 > 0.2, s"8/16-cell probe recall collapsed: $r8")
  }

  test("fitCentroids: k-means iterations improve cluster cohesion") {
    val em = Tables.load(spark, sf001, "embeddings")
    // mean best-cosine of every vector to its nearest centroid = cohesion
    def cohesion(cents: org.apache.spark.sql.DataFrame): Double =
      em.crossJoin(broadcast(cents))
        .groupBy(col("vec_id"))
        .agg(max(Similarity.cosine(col("embedding"), col("cent"))).as("best"))
        .agg(avg("best")).collect()(0).getDouble(0)
    val init = Similarity.fitCentroids(em, k = 8, iters = 0)
    val fitted = Similarity.fitCentroids(em, k = 8, iters = 4)
    val (c0, c4) = (cohesion(init), cohesion(fitted))
    assert(c4 > c0, s"k-means must improve cohesion: $c0 -> $c4")
    // fitted centroids drop into the IVF query path unchanged
    val r = Similarity.annTopKIvf(em.filter(col("vec_id") < 4), em,
      k = 2, nCells = 8, nProbe = 2, centroids = Some(fitted))
    assert(r.count() > 0)
  }

  test("fitCentroids quantized mean tracks avg and is repartition-invariant") {
    val em = Tables.load(spark, sf001, "embeddings")
    def flat(cents: org.apache.spark.sql.DataFrame): Map[(Long, Int), Double] =
      cents.select(col("cent_id"), posexplode(col("cent")).as(Seq("pos", "v")))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val plain = flat(Similarity.fitCentroids(em, k = 8, iters = 2))
    val quant = flat(Similarity.fitCentroids(em, k = 8, iters = 2,
      quantum = Some(1000000L)))
    // Same cells, and coordinates within the 1e-6 snap resolution (the two
    // fits can only diverge if quantization flips an assignment, which at
    // this corpus's cosine margins it must not).
    assert(plain.keySet === quant.keySet)
    plain.foreach { case (k, v) =>
      assert(math.abs(v - quant(k)) < 1e-4, s"coord $k: $v vs ${quant(k)}")
    }
    // Order-independence: a different input partitioning must give
    // bit-identical quantized centroids (plain avg would not guarantee it).
    val reshuffled = flat(Similarity.fitCentroids(em.repartition(7), k = 8,
      iters = 2, quantum = Some(1000000L)))
    assert(quant === reshuffled)
  }

  test("trained-IVF probe (l37 shape) returns full ranked top-k per query") {
    val em = Tables.load(spark, sf001, "embeddings")
    val cents = Similarity.fitCentroids(em, k = 16, iters = 3,
      quantum = Some(1000000L))
    val r = Similarity.annTopKIvf(em.filter(col("vec_id") < 8), em, k = 3,
        centroids = Some(cents))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(3)))
    val byQ = r.groupBy(_._1)
    assert(byQ.keySet === (0L until 8L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)))
      val sims = rows.sortBy(_._2).map(_._3)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"sims not ranked: ${sims.mkString(",")}")
    }
  }

  test("cosineNearDups only reports same-bucket pairs above threshold") {
    val em = Tables.load(spark, sf001, "embeddings")
    val nd = Similarity.cosineNearDups(em, minSim = 0.5)
    nd.collect().foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  // ---------------------------------------------------------- text analysis

  test("langId predicts en for English-stopword-dense text") {
    val d = docsDf(1L -> "the cat of the house and the dog", 2L -> "el la de los en y")
    val got = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
  }

  test("quality metrics: hand-computed") {
    val d = docsDf(1L -> "ab cd!")
    val r = TextAnalysis.quality(d).collect()(0)
    assert(r.getLong(1) === 2L) // n_tok
    assert(r.getDouble(2) === 2.5) // (6-1)/2 chars per token
    assert(r.getDouble(3) === 1.0 / 6.0) // one '!' of 6 chars
    assert(r.getDouble(4) === 0.0)
  }

  test("tokenCounts: regex tokenizer splits punctuation, ws tokenizer does not") {
    val d = docsDf(1L -> "ab1 cd!")
    val r = TextAnalysis.tokenCounts(d).collect()(0)
    assert(r.getLong(1) === 2L) // ws: [ab1, cd!]
    assert(r.getLong(2) === 4L) // re: [ab, 1, cd, !]
  }

  test("lengthPercentiles: hand-computed quartiles with continuous interpolation") {
    // lang en: n_chars {10, 20, 30, 40} -> rank q*(n-1) over 3 gaps:
    //   p25 = 10 + 0.75*10 = 17.5; p50 = 25.0; p75 = 32.5
    // lang fr: single value -> all quartiles = 7
    val d = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L), (4L, "en", 40L),
      (5L, "fr", 7L)).toDF("doc_id", "lang", "n_chars")
    val got = TextAnalysis.lengthPercentiles(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).sortBy(_._1)
    assert(got.toSeq === Seq(
      ("en", 4L, 10L, 17.5, 25.0, 32.5, 40L),
      ("fr", 1L, 7L, 7.0, 7.0, 7.0, 7L)))
  }

  test("lengthPercentiles: percentile_approx (the unbounded-cardinality " +
    "scale path) stays within 5% of the exact quartiles on the corpus") {
    val docs = Tables.load(spark, sf001, "documents")
    val exact = TextAnalysis.lengthPercentiles(docs)
    val approx = docs.groupBy(col("lang")).agg(
      percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("ap50"))
    val joined = exact.join(approx, "lang").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val p50 = r.getAs[Double]("p50_chars")
      val ap50 = r.getAs[Long]("ap50").toDouble
      assert(math.abs(ap50 - p50) <= 0.05 * p50 + 1.0,
        s"lang ${r.getAs[String]("lang")}: approx $ap50 vs exact $p50")
    }
  }

  test("fingerprints: identical docs share fp; sampling keeps ~1/8 of shingles") {
    val docs = Tables.load(spark, sf001, "documents")
    val fp = TextAnalysis.fingerprints(docs)
    val total = TextOps.docShingles(docs, 3).count()
    val sel = fp.agg(sum("n_sel")).collect()(0).getLong(0)
    val frac = sel.toDouble / total
    assert(frac > 0.08 && frac < 0.17, s"mod-8 sampling fraction off: $frac")
    // the planted exact-near-dup structure: distinct docs, no shared fp for
    // docs with different shingle sets is NOT asserted (near-dups may
    // legitimately collide) — but a doc equals itself:
    val d2 = docsDf(1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i j")
    val fps = TextAnalysis.fingerprints(d2).collect().map(_.getString(2))
    assert(fps.length === 2 && fps(0) === fps(1))
  }

  test("cleanText: normalization is idempotent and audit lengths are exact") {
    val d = docsDf(1L -> "He!!o,  World 42 ")
    val r = TextAnalysis.cleanText(d).collect()(0)
    // "he o world 42" after strip+collapse+trim
    assert(r.getLong(2) === 17L)
    assert(r.getLong(3) === "he o world 42".length.toLong)
    // idempotence: cleaning already-clean text is identity
    val clean = docsDf(2L -> "he o world 42")
    val r2 = TextAnalysis.cleanText(clean).collect()(0)
    assert(r2.getLong(2) === r2.getLong(3))
  }

  test("sequencePack: packs respect the running token budget") {
    val docs = Tables.load(spark, sf001, "documents")
    val packed = TextAnalysis.sequencePack(docs, budgetTokens = 500L)
    // every pack's token total stays under budget + one doc's overflow
    val perPack = packed.groupBy("pack_id")
      .agg(sum("n_tok").as("t"), max("n_tok").as("mx")).collect()
    perPack.foreach { r =>
      assert(r.getLong(1) <= 500L + r.getLong(2),
        s"pack ${r.getLong(0)} exceeds budget+overflow: ${r.getLong(1)}")
    }
    // packs are contiguous in doc_id order
    val ids = packed.orderBy("doc_id").select("pack_id").collect().map(_.getLong(0))
    assert(ids.sameElements(ids.sorted))
  }

  // -------------------------------------------------------- corpus curation

  test("decontaminate: every train doc sharing a shingle with a test doc is flagged") {
    // all docs share the same text, so contamination = (train x test) complete
    val ids = (0L until 50L)
    val d = docsDf(ids.map(i => i -> "w0 w1 w2 w3"): _*)
    val split = TextAnalysis.stableSplit(d.withColumn("lang", lit("en")))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val train = ids.filter(split(_) == "train").toSet
    val nTest = ids.count(split(_) == "test")
    assert(nTest > 0, "fixture must land at least one doc in the test split")
    val got = Dedup.decontaminate(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet === train)
    // "w0 w1 w2 w3" has two 3-gram shingles, both shared with every test doc
    got.foreach { case (_, nEval, nSh) =>
      assert(nEval === nTest.toLong && nSh === 2L)
    }
  }

  test("contaminationFraction: fractions match a straight-line reference, " +
    "clean train docs get a zero row") {
    // rotating texts over a 31-token alphabet: the fixed md5 split then
    // yields all four fractions {0, 1/3, 2/3, 1} across the train docs
    val ids = (0L until 60L)
    val d = docsDf(ids.map(i =>
      i -> (0 until 5).map(k => s"t${(i + k) % 31}").mkString(" ")): _*)
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    def shingles(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = ids.map(i => i -> (0 until 5).map(k => s"t${(i + k) % 31}")
      .mkString(" ")).toMap
    val evalSh = ids.filter(bucket(_) >= 90).flatMap(i => shingles(texts(i))).toSet
    assert(evalSh.nonEmpty, "fixture must land docs in the eval split")
    val expected = ids.filter(bucket(_) < 80).map { i =>
      val sh = shingles(texts(i))
      val hit = sh.count(evalSh.contains)
      (i, sh.size.toLong, hit.toLong, hit.toDouble / sh.size)
    }.toSet
    val got = Dedup.contaminationFraction(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === expected)
    // the graded form must score CLEAN docs too (decontaminate omits them),
    // and the fixture exercises partial fractions, not just 0/1
    assert(got.exists(_._4 == 0.0) && got.exists(f => f._4 > 0 && f._4 < 1))
  }

  test("tokenBudgetSample: kept set matches a global-order cumsum reference, " +
    "independent of partition layout, one-doc overshoot at tiny budgets; " +
    "null text counts zero, null source is its own group") {
    // degenerate rows exercise the review-hardened paths: null text
    // (coalesced to 0 tokens — kept, consumes no budget), empty text
    // (ONE whitespace token, split semantics), and null source (a real
    // group under the null-safe prefix join, like the oracle's
    // PARTITION BY and S16's groupByKey)
    val rows = (0L until 42L).map { i =>
      val toks = (0 until (3 + (i % 5).toInt)).map(k => s"w$k").mkString(" ")
      (i, toks, s"src${i % 3}")
    } ++ Seq(
      (100L, null.asInstanceOf[String], "src0"),
      (101L, "", "src1"),
      (102L, "x y z", null.asInstanceOf[String]),
      (103L, "p q", null.asInstanceOf[String]))
    val d = rows.toDF("doc_id", "text", "source")
    def md5hex(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def nTok(t: String): Long =
      if (t == null) 0L else t.split(" ", -1).length.toLong
    def reference(budget: Long): Set[Long] =
      rows.groupBy(_._3).values.flatMap { grp =>
        val ordered = grp.sortBy(r => md5hex(r._1))
        val cums = ordered.scanLeft(0L)((acc, r) => acc + nTok(r._2)).init
        ordered.zip(cums).collect { case (r, before) if before < budget => r._1 }
      }.toSet
    for (budget <- Seq(1L, 40L, 10000L)) {
      val got = TextAnalysis.tokenBudgetSample(d, budget).collect()
        .map(_.getLong(0)).toSet
      assert(got === reference(budget), s"budget=$budget")
      assert(got.exists(_ >= 102L), s"budget=$budget: null-source docs lost")
      val got13 = TextAnalysis.tokenBudgetSample(d.repartition(13), budget)
        .collect().map(_.getLong(0)).toSet
      assert(got13 === got, s"budget=$budget layout")
    }
    // budget=1: exactly the first doc per group (3 named sources + the
    // null-source group) crosses the line
    assert(TextAnalysis.tokenBudgetSample(d, 1L).collect().length === 4)
    // huge budget: everything admitted, nulls included
    assert(TextAnalysis.tokenBudgetSample(d, 10000L).collect().length === 46)
  }

  test("temperatureBudgetSample: kept set matches a straight-line " +
    "sqrt-share reference; small sources get proportionally more of " +
    "their docs; layout-independent") {
    val rows = (0L until 60L).map { i =>
      // src0 is ~6x the tokens of src2: temperature must damp it
      val srcIdx = if (i < 36) 0 else if (i < 54) 1 else 2
      val toks = (0 until (4 + (i % 3).toInt)).map(k => s"w$k").mkString(" ")
      (i, toks, s"src$srcIdx")
    } ++ Seq( // null source: its own budget group (folded FIRST — the
      //        sort_array/NULLS FIRST order both engines now share)
      (100L, "n1 n2 n3 n4", null.asInstanceOf[String]),
      (101L, "n5 n6", null.asInstanceOf[String]))
    val d = rows.toDF("doc_id", "text", "source")
    def md5hex(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val grouped = rows.groupBy(_._3)
    val srcTokens = grouped.view.mapValues(
      _.map(_._2.split(" ").length.toLong).sum).toMap
    val ws = srcTokens.view.mapValues(t => math.sqrt(t.toDouble)).toMap
    // sequential fold in sorted source order (null FIRST), 0.0-seeded —
    // the operator's exact arithmetic
    val tw = ws.toSeq.sortWith { (a, b) =>
      if (a._1 == null) b._1 != null
      else b._1 != null && a._1 < b._1
    }.foldLeft(0.0)(_ + _._2)
    val total = 120L
    def referenceKept: Set[Long] = grouped.flatMap { case (src, grp) =>
      val budget = total.toDouble * ws(src) / tw
      val ordered = grp.sortBy(r => md5hex(r._1))
      val before = ordered.scanLeft(0L)(_ + _._2.split(" ").length).init
      ordered.zip(before).collect { case (r, b) if b < budget => r._1 }
    }.toSet
    val got = TextAnalysis.temperatureBudgetSample(d, total).collect()
      .map(_.getLong(0)).toSet
    assert(got === referenceKept && got.nonEmpty)
    assert(got === TextAnalysis.temperatureBudgetSample(d.repartition(13), total)
      .collect().map(_.getLong(0)).toSet)
    // the rebalancing direction: the smallest source keeps a LARGER
    // fraction of its own docs than the biggest source
    val srcOf = rows.map(r => r._1 -> r._3).toMap
    def frac(src: String) =
      got.count(id => srcOf(id) == src).toDouble / rows.count(_._3 == src)
    assert(frac("src2") > frac("src0"))
    // the null-source group got its own budget: at least one of its docs
    // is admitted (before=0 is always under a positive budget)
    assert(got.exists(_ >= 100L))
  }

  /** Straight-line reference BPE trainer (shared by both BPE tests):
    * returns the ordered merge list AND the final per-word
    * symbolization, so tests can assert exact equality of both. */
  private def refBpeTrain(ws: Map[String, Long], k: Int)
      : (Seq[(String, String)], Map[String, Vector[String]]) = {
    var vocab: Map[String, (Vector[String], Long)] =
      ws.map { case (w, f) => w -> (w.split("").toVector, f) }
    val merges = scala.collection.mutable.Buffer[(String, String)]()
    var continue = true
    while (merges.size < k && continue) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      vocab.values.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) += f
          case _ =>
        }
      }
      val viable = counts.filter(_._2 >= 2)
      if (viable.isEmpty) continue = false
      else {
        val (l, r) = viable.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
        merges += ((l, r))
        vocab = vocab.map { case (w, (syms, f)) =>
          w -> (syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r)
              acc.init :+ (l + r)
            else acc :+ x
          }, f)
        }
      }
    }
    (merges.toSeq, vocab.view.mapValues(_._1).toMap)
  }

  test("bpe: pair counts, merge training, and the final symbolization " +
    "match a straight-line reference on the classic fixture; " +
    "layout-independent") {
    import graft.llm.Bpe
    // Sennrich's canonical example shape: suffix 'est' should win merges
    val words = Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val text = words.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .mkString(" ")
    val d = docsDf(1L -> text)

    val (expectedMerges, expectedVocab) = refBpeTrain(words.toMap, 5)
    val (gotMerges, finalVocab) = Bpe.train(d, 5)
    assert(gotMerges === expectedMerges)
    // first merge must be the 'es' of newest+widest (9 occurrences)
    assert(gotMerges.head === ("e", "s"))
    // pair counts of round 1 match the reference counter exactly
    val gotCounts = Bpe.pairCounts(Bpe.wordSymbols(d)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gotCounts(("e", "s")) === 9L)
    assert(gotCounts(("l", "o")) === 7L)
    // training is partition-layout independent
    val (gotMerges13, _) = Bpe.train(d.repartition(13), 5)
    assert(gotMerges13 === expectedMerges)
    // the final symbolization equals the reference fold EXACTLY, per word
    val gotVocab = finalVocab.select(col("word"), col("syms")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(gotVocab === expectedVocab)
  }

  test("bpe: training matches the reference on random corpora and stops " +
    "when no pair repeats") {
    import graft.llm.Bpe
    val rng = new scala.util.Random(41)
    val vocabWords = Vector("aba", "bab", "abab", "ba", "a", "bb", "aab")
    val corpus = (0 until 120).map(_ => vocabWords(rng.nextInt(vocabWords.size)))
    val freqs = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d = docsDf(1L -> corpus.mkString(" "))
    // deep merge budget: the trainer must follow the reference to the
    // point where no pair repeats, then stop early on both sides
    val (expected, refVocab) = refBpeTrain(freqs, 40)
    val (got, _) = Bpe.train(d, 40)
    assert(got === expected)
    assert(got.size < 40, "fixture should exhaust repeating pairs early")

    // encode with the trained merges: per-word symbol counts equal the
    // reference symbolization, and fewer merges can only mean MORE
    // tokens; checkpointEvery=2 exercises the chunked depth-bounded fold
    val expTokens = corpus.map(w => refVocab(w).size.toLong).sum
    val encoded = Bpe.encode(d, got, checkpointEvery = 2).collect().head
    assert(encoded.getLong(1) === expTokens)
    assert(encoded.getLong(2) === corpus.size.toLong)
    val fewer = Bpe.encode(d, got.take(1)).collect().head
    assert(fewer.getLong(1) >= encoded.getLong(1))
  }

  test("quantizeInt8: hand-computed codes, zero-vector guard") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.0f, 0.254f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getLong(1) === 4L)                       // n_dims
    assert(r1.getDouble(2) === 1.0 / 127.0)            // scale
    assert(r1.getLong(3) === -63L)                     // code_min: floor(-63.5+0.5)
    assert(r1.getLong(4) === 127L)                     // code_max
    assert(r1.getLong(5) === (127L - 63L + 0L + 32L))  // code_sum
    assert(r1.getDouble(6) >= 0.0 && r1.getDouble(6) < 1e-4) // recon_err small
    val r2 = got(2L)
    assert(r2.getDouble(2) === 0.0 && r2.getLong(5) === 0L && r2.getDouble(6) === 0.0)
  }

  test("stratifiedSample: rate edges and partition-layout independence") {
    val docs = Tables.load(spark, sf001, "documents")
    assert(TextAnalysis.stratifiedSample(docs, Map(), defaultRate = 1000)
      .count() === 500L)
    assert(TextAnalysis.stratifiedSample(docs, Map(), defaultRate = 0)
      .count() === 0L)
    val noEn = TextAnalysis.stratifiedSample(docs, Map("en" -> 0))
    assert(noEn.filter(col("lang") === "en").count() === 0L)
    val a = TextAnalysis.stratifiedSample(docs, Map("en" -> 150, "zh" -> 500))
      .collect().map(_.getLong(0)).sorted
    val b = TextAnalysis.stratifiedSample(docs.repartition(13), Map("en" -> 150, "zh" -> 500))
      .collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "sample must be independent of partition layout")
  }

  test("containmentPairs: short doc fully inside long doc scores 1.0 one way") {
    // doc1 shingles {a b c, b c d} both inside doc2's {a b c, b c d, c d e, d e f}
    val d = docsDf(1L -> "a b c d", 2L -> "a b c d e f")
    val got = Dedup.containmentPairs(d, n = 3, minC = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0))) // reverse direction is 0.5, cut
    val both = Dedup.containmentPairs(d, n = 3, minC = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(both.toSeq === Seq((1L, 2L, 1.0), (2L, 1L, 0.5)))
  }

  test("containmentPairs hot-shingle guard preserves the planted containments") {
    val docs = Tables.load(spark, sf001, "documents")
    val exact = Dedup.containmentPairs(docs, 3, 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.containmentPairs(docs, 3, 0.6, maxDocFreq = Some(100L))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dropping corpus-wide boilerplate shingles must not lose true containments
    assert(guarded === exact)
  }

  test("containmentPairs guard drops a hot shingle from the denominators") {
    // "x y z" is in all 4 docs (df=4 > 2). With the guard, docs 1/2 share
    // only their remaining shingles; containment is computed over the
    // discriminative sets: doc1 keeps {a b c, b c x(?)...} — hand-check:
    // doc1 "a b c x y z": shingles {a b c, b c x, c x y, x y z}
    // doc2 "a b c p x y z": {a b c, b c p, c p x, p x y, x y z}
    // doc3 "q r s x y z":   {q r s, r s x, s x y, x y z}
    // doc4 "t u v x y z":   {t u v, u v x, v x y, x y z}
    // df(x y z)=4 dropped; common(1,2)={a b c}=1; na(doc1)=3 -> c=1/3, cut
    // at 0.4; unguarded common(1,2)={a b c, x y z}=2, na=4 -> c=0.5 kept.
    val d = docsDf(1L -> "a b c x y z", 2L -> "a b c p x y z",
      3L -> "q r s x y z", 4L -> "t u v x y z")
    val unguarded = Dedup.containmentPairs(d, 3, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((1L, 2L)))
    val guarded = Dedup.containmentPairs(d, 3, 0.4, maxDocFreq = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!guarded.contains((1L, 2L)))
    // docs 3/4 shared ONLY the hot shingle: no pair either way
    assert(!guarded.exists(p => p == (3L, 4L) || p == (4L, 3L)))
  }

  test("domainMix: uniform-target weights from exact token counts") {
    val d = Seq(
      (1L, "t1 t2", "srcA"), (2L, "t3 t4", "srcA"),
      (3L, (1 to 12).map(i => s"u$i").mkString(" "), "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.domainMix(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("srcA") === ((2L, 4L, 16.0 / (2 * 4))))
    assert(got("srcB") === ((1L, 12L, 16.0 / (2 * 12))))
  }

  // ----------------------------------------------- span dedup + bigram fluency

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("spanDedupApply: first corpus occurrence wins, later repeats strip, " +
    "rewritten doc digest is exact; remainder tokens are outside the span stream") {
    val d = docsDf(1L -> "a b c d a b", 2L -> "c d x", 3L -> "p q")
    val got = Dedup.spanDedupApply(d, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: spans [a b][c d][a b] — the second "a b" is a repeat of its
    // own doc's span 0 (within-doc repeats strip too)
    assert(got(1L) === ((3L, 2L, md5hex("a b c d"))))
    // doc 2: its only span "c d" first occurred at (doc 1, idx 1) -> all
    // stripped; the "x" remainder is not a span (n_spans counts full spans)
    assert(got(2L) === ((1L, 0L, md5hex(""))))
    // doc 3: unique span survives
    assert(got(3L) === ((1L, 1L, md5hex("p q"))))
  }

  test("spanDedupApply: survivor set is partition-layout independent") {
    val base = Tables.load(spark, sf001, "documents")
    val a = Dedup.spanDedupApply(base.repartition(1), k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val b = Dedup.spanDedupApply(base.repartition(13), k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("substringDedupApply: misaligned variable-length repeat removed " +
    "exactly where fixed-grid spanDedupApply misses it") {
    // doc 2 embeds doc 1's tokens a5..a14 (10 tokens) at offset 3 — a
    // misaligned repeat: l50's non-overlapping 8-token grid sees no equal
    // span, the winnow-anchored extension recovers the exact run.
    val aToks = (1 to 20).map(i => s"a$i")
    val run = aToks.slice(4, 14) // a5..a14
    val bToks = Seq("b1", "b2", "b3") ++ run ++ Seq("b4", "b5", "b6")
    val d = docsDf(1L -> aToks.mkString(" "), 2L -> bToks.mkString(" "))
    val got = TextAnalysis.substringDedupApply(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((20L, 0L, md5hex(aToks.mkString(" ")))))
    assert(got(2L) === ((16L, 10L, md5hex("b1 b2 b3 b4 b5 b6"))))
    // the fixed grid misses it entirely
    val l50 = Dedup.spanDedupApply(d, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(l50(2L) === ((2L, 2L))) // both grid spans unique -> all kept
  }

  test("substringDedupApply: full duplicate guts the later doc; " +
    "grid-aligned spans are a strict subset of the substring removal") {
    val toks = (1 to 16).map(i => s"t$i")
    val d = docsDf(1L -> toks.mkString(" "), 2L -> toks.mkString(" "))
    val got = TextAnalysis.substringDedupApply(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((16L, 0L, md5hex(toks.mkString(" ")))))
    assert(got(2L) === ((16L, 16L, md5hex(""))))
    // composition vs l50 on the aligned case: every cross-doc grid span
    // l50 strips is >= minTok tokens of cross-doc repeat, so l114 strips
    // at least that mass (here: both of doc 2's spans, i.e. everything)
    val l50 = Dedup.spanDedupApply(d, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (nSpans, nKept) = l50(2L)
    assert(got(2L)._2 >= 8L * (nSpans - nKept))
  }

  test("substringDedupApply: minTok threshold — an 8-token run strips, " +
    "a 7-token run survives") {
    val aToks = (1 to 20).map(i => s"a$i")
    val b = Seq("c1", "c2") ++ aToks.take(8) ++ Seq("c3", "c4", "c5", "c6")
    val c = Seq("d1", "d2") ++ aToks.take(7) ++ Seq("d3", "d4", "d5", "d6", "d7")
    val d = docsDf(1L -> aToks.mkString(" "), 2L -> b.mkString(" "),
      3L -> c.mkString(" "))
    val got = TextAnalysis.substringDedupApply(d, minTok = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._1 === 0L)
    assert(got(2L) === ((8L, md5hex("c1 c2 c3 c4 c5 c6"))))
    // doc 3's shared run is 7 tokens — below threshold on BOTH pairs
    assert(got(3L) === ((0L, md5hex(c.mkString(" ")))))
  }

  test("substringDedupApply: partition-layout independent on the corpus") {
    val base = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val a = TextAnalysis.substringDedupApply(base.repartition(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val b = TextAnalysis.substringDedupApply(base.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(a === b)
    assert(a.nonEmpty)
    // sanity: removals never exceed the doc, untouched docs keep their text
    assert(a.forall { case (_, nTok, nRem, _) => nRem >= 0L && nRem <= nTok })
  }

  test("bigramFluency: exact corpus-frequency arithmetic, zero-bigram docs kept") {
    val d = docsDf(1L -> "a b a b", 2L -> "a b", 3L -> "z")
    val got = TextAnalysis.bigramFluency(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // corpus counts: c("a b") = 3 (two in doc 1, one in doc 2), c("b a") = 1
    assert(got(1L) === ((3L, 7.0 / 3.0, 1.0 / 3.0))) // bigrams ab, ba, ab
    assert(got(2L) === ((1L, 3.0, 0.0)))
    assert(got(3L) === ((0L, 0.0, 0.0)))
  }

  // ------------------------------------------------------- incremental dedup

  test("incrementalDedup: corpus collision beats batch collision, first " +
    "batch occurrence wins, shingle-less docs are kept") {
    val corpus = docsDf(100L -> "a b c d e f g h")
    val batch = docsDf(
      1L -> "a b c d e f g h", // = corpus doc        -> dup_corpus
      2L -> "p q r s t u v w", // unique              -> kept
      3L -> "p q r s t u v w", // = batch doc 2 (<id) -> dup_batch
      4L -> "zz yy",           // no 3-shingle        -> kept (no evidence)
      5L -> "a b c d e f g h") // hits corpus AND doc 1 -> dup_corpus wins
    val got = Dedup.incrementalDedup(batch, Dedup.bandIndex(corpus))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "dup_corpus", 2L -> "kept", 3L -> "dup_batch",
      4L -> "kept", 5L -> "dup_corpus"))
  }

  test("incrementalDedup: extending the index with the admitted docs makes " +
    "re-admission of the same batch all dup_corpus (idempotent loop)") {
    val corpus = docsDf(100L -> "a b c d e f g h")
    val batch = docsDf(
      1L -> "a b c d e f g h", 2L -> "p q r s t u v w",
      3L -> "p q r s t u v w", 4L -> "zz yy")
    val idx = Dedup.bandIndex(corpus)
    val v1 = Dedup.incrementalDedup(batch, idx)
    val admitted = batch.join(
      v1.filter(col("verdict") === "kept"), Seq("doc_id"), "left_semi")
    val v2 = Dedup.incrementalDedup(batch, Dedup.extendIndex(idx, admitted))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc with bands now collides with the corpus (its own admitted
    // twin or the original); the shingle-less doc can never be indexed
    assert(v2 === Map(
      1L -> "dup_corpus", 2L -> "dup_corpus", 3L -> "dup_corpus",
      4L -> "kept"))
  }

  test("incrementalDedup: verdicts are partition-layout independent and " +
    "all three classes are exercised on the declared fixture") {
    val docs = Tables.load(spark, sf001, "documents")
    val src0 = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val batch = src0.unionByName(
      src0.withColumn("doc_id", col("doc_id") + 1000000L))
    val corpus = docs.filter(col("source") =!= "src0")
    def run(parts: Int) = Dedup.incrementalDedup(
        batch.repartition(parts), Dedup.bandIndex(corpus.repartition(parts)))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(1)
    assert(a === run(13))
    val byVerdict = a.groupBy(_._2)
    assert(Set("dup_corpus", "dup_batch", "kept").subsetOf(byVerdict.keySet),
      byVerdict.keySet.toString)
  }

  test("dedupApplyKeepBest: longest cluster member survives, ties fall to " +
    "min doc_id, singletons untouched, vs dedupApply's min-id policy") {
    val d = docsDf(
      1L -> "w1 w2 w3 w4 w5",          // near-dup of 2 (J = 3/4), shorter
      2L -> "w1 w2 w3 w4 w5 w6",       // longest in its cluster -> kept
      3L -> "x y z",                   // singleton (too short to pair)
      4L -> "p q r s",                 // exact dup of 5, equal length ->
      5L -> "p q r s")                 //   tie broken by min id: 4 kept
    val score = size(split(col("text"), " ")).cast("long")
    val best = Dedup.dedupApplyKeepBest(d, score, n = 3, minJ = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(best === Set(2L, 3L, 4L))
    // the min-id policy would have kept doc 1 instead of the longer doc 2
    val minId = Dedup.dedupApply(d, n = 3, minJ = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(minId === Set(1L, 3L, 4L))
  }

  test("dedupApplyKeepBest: survivor set is partition-layout independent") {
    val base = Tables.load(spark, sf001, "documents")
    val score = size(split(col("text"), " ")).cast("long")
    def run(parts: Int) = Dedup.dedupApplyKeepBest(
        base.repartition(parts), score).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(1)
    assert(a === run(13))
    assert(a.nonEmpty)
  }

  // ------------------------------------------------------------ knob schedule

  test("KnobSchedule closed forms: occupancy-constant planes, recall-model " +
    "tables, both monotone the right way") {
    import graft.llm.KnobSchedule._
    // planes: n/2^p <= occupancy, and one fewer plane would overflow it
    for ((n, occ) <- Seq((500L, 64L), (5000L, 64L), (5000000L, 64L), (500L, 8L))) {
      val p = lshPlanes(n, occ)
      assert(n.toDouble / math.pow(2, p) <= occ, s"n=$n occ=$occ p=$p")
      assert(p == 1 || n.toDouble / math.pow(2, p - 1) > occ, s"minimal p: $p")
    }
    // 10x corpus at constant occupancy costs ~log2(10) ~ 3-4 extra planes
    assert(lshPlanes(5000L) - lshPlanes(500L) >= 3)
    // tables grow with target recall and with planes (smaller buckets need
    // more tables), shrink with design similarity
    assert(lshTables(3, 0.95, 0.3) > lshTables(3, 0.5, 0.3))
    assert(lshTables(6, 0.9, 0.3) > lshTables(3, 0.9, 0.3))
    assert(lshTables(3, 0.9, 0.8) < lshTables(3, 0.9, 0.3))
    // model floor: the recall model at the design point holds for the pick
    val (p, t) = lshKnobs(500L, 0.9, 0.3)
    val q1 = planeCollisionProb(0.3)
    assert(1.0 - math.pow(1.0 - math.pow(q1, p), t) >= 0.9)
    // ivf cells follow sqrt(n)
    assert(ivfCells(500L) === 22 && ivfCells(5000000L) === 2236)
  }

  test("KnobSchedule LSH knobs hit the recall target on the corpus " +
    "(measured via the l44 audit, not just the model)") {
    import graft.llm.KnobSchedule._
    val em = Tables.load(spark, sf001, "embeddings")
    val (p, t) = lshKnobs(500L, targetRecall = 0.9, designSim = 0.3)
    val row = Similarity.lshRecallAuditConfigs(em, Seq((p, t))).collect()(0)
    val recall = row.getDouble(4)
    info(f"chosen ($p planes, $t tables): measured recall $recall%.3f over ${row.getLong(2)} true pairs")
    assert(recall >= 0.9,
      s"scheduled knobs ($p, $t) measured recall $recall < target 0.9")
  }

  test("KnobSchedule IVF probe knob: measured cell-rank quantile covers " +
    "the recall target end-to-end") {
    import graft.llm.KnobSchedule._
    val em = Tables.load(spark, sf001, "embeddings")
    val (cells, probe) = ivfKnobs(em, 500L, targetRecall = 0.9)
    info(s"ivf knobs for n=500, recall 0.9: nCells=$cells nProbe=$probe")
    assert(cells === 22 && probe >= 1 && probe <= cells)
    // independent end-to-end check: of the TRUE near-neighbor pairs, the
    // fraction whose neighbor survives annTopKIvf's probe pruning at the
    // chosen knobs meets the target (k wide open so ranking never cuts)
    val q = em.filter(col("vec_id") % 20 === 0)
    val truth = Similarity.bruteForceTopK(q, em, k = 500)
      .filter(col("sim") >= 0.3).select(col("qid"), col("nid"))
    val got = Similarity.annTopKIvf(q, em, k = 500, nCells = cells,
      nProbe = probe).filter(col("sim") >= 0.3).select(col("qid"), col("nid"))
    val nTruth = truth.count()
    val nFound = truth.intersect(got).count()
    info(s"ivf end-to-end: $nFound / $nTruth true pairs survive the probe")
    assert(nTruth > 0)
    assert(nFound.toDouble / nTruth >= 0.9)
    // and a smaller probe budget must measure lower-or-equal coverage
    // (sanity that the knob actually binds)
    val one = Similarity.annTopKIvf(q, em, k = 500, nCells = cells, nProbe = 1)
      .filter(col("sim") >= 0.3).select(col("qid"), col("nid"))
    assert(truth.intersect(one).count() <= nFound)
  }

  test("KnobSchedule BM25 dfCap knob: measured cap meets the recall target " +
    "against l101-exact serving") {
    import graft.llm.{KnobSchedule, Retrieval, TextOps}
    // the l101 split: train split is the index corpus, eval docs are the
    // query sample (disjoint from the index — no self-hit ambiguity)
    val docs = Tables.load(spark, sf001, "documents")
    val bucket = TextOps.splitBucket(col("doc_id"))
    val corpus = docs.filter(bucket < 80)
    val queries = docs.filter(bucket >= 80)
      .select(col("doc_id").as("q_id"), col("text"))
    val cap = KnobSchedule.bm25DfCapForRecall(corpus, queries,
      targetRecall = 0.7)
    info(s"measured dfCapPermille for recall 0.7: $cap")
    assert(cap >= 1 && cap <= 1000)
    // independent end-to-end validation against the exact l101 serve:
    // bm25Serve at the chosen cap retains >= target of the uncapped top-k
    val (postings0, stats0) = Retrieval.bm25Model(corpus)
    val postings = postings0.localCheckpoint()
    val stats = stats0.localCheckpoint()
    def pairs(dfCap: Int) =
      Retrieval.bm25Serve(queries, postings, stats, k = 5, dfCapPermille = dfCap)
        .select(col("q_id"), col("doc_id"))
    val truth = pairs(1000)
    val nTruth = truth.count()
    val nKeep = truth.intersect(pairs(cap)).count()
    info(s"bm25 dfCap end-to-end: $nKeep / $nTruth uncapped pairs survive cap $cap")
    assert(nTruth > 0)
    assert(nKeep.toDouble / nTruth >= 0.7)
    // a stricter target can only loosen (raise) the cap: same recall
    // table, weaker predicate admits earlier caps
    val capStrict = KnobSchedule.bm25DfCapForRecall(corpus, queries,
      targetRecall = 0.99)
    assert(capStrict >= cap)
    // full-recall target: serving at the measured cap reproduces the
    // uncapped pair set on this sample exactly
    val capFull = KnobSchedule.bm25DfCapForRecall(corpus, queries,
      targetRecall = 1.0)
    assert(truth.intersect(pairs(capFull)).count() === nTruth)
    // On the fixture word-salad corpus every term is hot, so the knob
    // honestly refuses to prune (cap = 1000). On a Zipf-shaped corpus —
    // one rare discriminative token per doc over heavy boilerplate — the
    // cap must BIND: rare terms (df = 1/200 docs = 5 permille) carry the
    // top-1, boilerplate (df = 100%) is prunable.
    val hand = (1L to 200L)
      .map(i => (i, s"rare$i common1 common2 common3 common4"))
      .toDF("doc_id", "text")
    val handQ = (1L to 200L by 10)
      .map(i => (i + 1000L, s"rare$i common1"))
      .toDF("q_id", "text")
    val handCap = KnobSchedule.bm25DfCapForRecall(hand, handQ,
      targetRecall = 0.9, k = 1)
    info(s"hand-corpus measured cap: $handCap")
    assert(handCap < 1000)
    // serving at the bound cap keeps the rare-term-driven top-1 exactly
    val (hp0, hs0) = Retrieval.bm25Model(hand)
    val hp = hp0.localCheckpoint(); val hs = hs0.localCheckpoint()
    def handPairs(dfCap: Int) =
      Retrieval.bm25Serve(handQ, hp, hs, k = 1, dfCapPermille = dfCap)
        .select(col("q_id"), col("doc_id"))
    val handTruth = handPairs(1000)
    assert(handTruth.intersect(handPairs(handCap)).count() === handTruth.count())
  }

  // ------------------------------------------------------------- multimodal

  test("audio decode: encodeWav round-trips through the real RIFF parser, " +
    "stats match a straight-line replay") {
    // replay encodeWav's derivation in plain Scala and compare the
    // distributed decode row-for-row (incl. the empty-text zero sample)
    val d = docsDf(1L -> "ab", 2L -> "hello world", 3L -> "")
    def expect(id: Long, text: String) = {
      val bytes = text.getBytes("UTF-8")
      val len = bytes.length
      val n = if (len == 0) 1
        else 1 + ((bytes(0) & 0xff) * 31 + (bytes(len - 1) & 0xff)) % 200
      val ss = (0 until n).map { k =>
        if (len == 0) 0
        else {
          val u = ((bytes(k % len) & 0xff) << 8) | (bytes((k + 5) % len) & 0xff)
          if (u >= 32768) u - 65536 else u
        }
      }
      (id, 44L + 2 * n, 8000L, n.toLong, ss.map(_.toLong).sum,
        ss.min.toLong, ss.max.toLong, ss.map(s => s.toLong * s).sum,
        ss.map(_.toLong).sum.toDouble / n)
    }
    val got = Multimodal.audioFeatures(spark,
        Multimodal.encodeWav(spark, d).toDF())
      .collect().map(f => (f.doc_id, f.n_bytes, f.sample_rate, f.n_samples,
        f.sum_s, f.min_s, f.max_s, f.energy, f.mean_amp)).sortBy(_._1)
    assert(got.toSeq === Seq(expect(1L, "ab"), expect(2L, "hello world"),
      expect(3L, "")))
  }

  test("audio parser: spec-valid foreign chunk layouts parse, corrupt " +
    "containers fail loudly with the doc id") {
    import org.apache.spark.sql.Row
    import Multimodal.BlobRow
    val base = Multimodal.encodeWav(spark, docsDf(7L -> "xy")).collect().head
    // splice a LIST chunk between fmt and data — a layout the encoder
    // never emits but the RIFF spec allows; the chunk walk must skip it
    val p = base.payload
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOab".getBytes("US-ASCII")
    val spliced = new Array[Byte](p.length + extra.length)
    System.arraycopy(p, 0, spliced, 0, 36) // RIFF..fmt chunk end
    System.arraycopy(extra, 0, spliced, 36, extra.length)
    System.arraycopy(p, 36, spliced, 36 + extra.length, p.length - 36)
    // fix the riff size for the added bytes
    val riffSize = spliced.length - 8
    spliced(4) = (riffSize & 0xff).toByte
    spliced(5) = ((riffSize >> 8) & 0xff).toByte
    spliced(6) = ((riffSize >> 16) & 0xff).toByte
    spliced(7) = ((riffSize >> 24) & 0xff).toByte
    val clean = Multimodal.audioFeatures(spark,
      spark.createDataFrame(Seq(BlobRow(7L, base.payload)))).collect().head
    val viaList = Multimodal.audioFeatures(spark,
      spark.createDataFrame(Seq(BlobRow(7L, spliced)))).collect().head
    assert(viaList === clean.copy(n_bytes = clean.n_bytes + extra.length))
    // corrupt magic fails loudly with the doc id
    val bad = base.payload.clone(); bad(0) = 'X'.toByte
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFeatures(spark,
        spark.createDataFrame(Seq(BlobRow(42L, bad)))).collect()
    }
    assert(e.getMessage.contains("doc 42") || Option(e.getCause)
      .exists(_.getMessage.contains("doc 42")))
  }

  test("audio resample composes: features of the decimated payload equal " +
    "a straight-line decimation") {
    val d = docsDf(1L -> "some tokens for a longer waveform here", 2L -> "q")
    val full = Multimodal.audioFeatures(spark,
        Multimodal.encodeWav(spark, d).toDF())
      .collect().map(f => f.doc_id -> f).toMap
    val down = Multimodal.audioFeatures(spark,
        Multimodal.resample(spark,
          Multimodal.encodeWav(spark, d).toDF(), factor = 4).toDF())
      .collect().map(f => f.doc_id -> f).toMap
    d.collect().map(r => (r.getLong(0), r.getString(1))).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val len = bytes.length
      val n = if (len == 0) 1
        else 1 + ((bytes(0) & 0xff) * 31 + (bytes(len - 1) & 0xff)) % 200
      val ss = (0 until n).map { k =>
        if (len == 0) 0
        else {
          val u = ((bytes(k % len) & 0xff) << 8) | (bytes((k + 5) % len) & 0xff)
          if (u >= 32768) u - 65536 else u
        }
      }
      val dec = ss.indices.collect { case k if k % 4 == 0 => ss(k) }
      val f = down(id)
      assert(f.n_samples === dec.length.toLong)
      assert(f.sample_rate === 2000L)
      assert(f.sum_s === dec.map(_.toLong).sum)
      assert(f.energy === dec.map(s => s.toLong * s).sum)
      assert(full(id).n_samples === n.toLong)
    }
  }

  // --------------------------------------------------------- unigram LM

  test("unigram-LM span posteriors: hand-computed forward-backward on 'ab' " +
    "(uniform seed); first-piece posteriors sum to 1") {
    // corpus = one word "ab": seed pieces {a, b, ab} each freq 1, T = 3,
    // p = 1/3 each. Segmentations: [ab] mass p, [a,b] mass p² —
    // posteriors p/(p+p²) = 3/4 and p²/(p+p²) = 1/4.
    val d = docsDf(1L -> "ab")
    val post = UnigramLm.spanPosteriors(d).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Double]("e"))).toMap
    val p = 1.0 / 3.0
    val a2 = (0.0 + 1.0 * p) + (p * p)
    assert(math.abs(post("ab") - ((1.0 * p) * 1.0) / a2) < 1e-15)
    assert(math.abs(post("a") - ((1.0 * p) * p) / a2) < 1e-15)
    assert(math.abs(post("b") - ((p * p) * 1.0) / a2) < 1e-15)
    assert(math.abs(post("ab") - 0.75) < 1e-12)
    assert(math.abs(post("a") + post("ab") - 1.0) < 1e-12)
  }

  test("unigram-LM conservation on the real corpus: per word, the " +
    "first-piece posteriors sum to 1 (the lattice is a proper " +
    "distribution over segmentations)") {
    val docs = Tables.load(spark, sf001, "documents")
    val bad = UnigramLm.spanPosteriors(docs)
      .filter(col("j") === 0)
      .groupBy(col("word")).agg(sum(col("e")).as("mass"))
      .filter(abs(col("mass") - 1.0) > 1e-9)
      .collect()
    assert(bad.isEmpty, s"non-conserving words: ${bad.mkString(", ")}")
  }

  test("unigram-LM Viterbi + fertility comparison: hand-computed corpus — " +
    "whole-word pieces win, fertility table exact") {
    // corpus "ab ab abc": seed freqs a=3 b=3 ab=3 c=1 bc=1 abc=1, T=12.
    // Viterbi(ab): [ab] 1/4 beats [a,b] 1/16; Viterbi(abc): [abc] 1/12
    // beats [ab,c] and [a,bc] at 1/48 — both words segment as ONE piece.
    val d = Seq((1L, "ab ab abc", "en")).toDF("doc_id", "text", "lang")
    val vit = UnigramLm.viterbiPieceCounts(d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vit === Map("ab" -> 1L, "abc" -> 1L))
    // BPE under publishedMerges: no rule applies to ab/abc -> char counts
    val f = UnigramLm.tokenizerFertilityCompare(d).collect()
    assert(f.length === 1)
    val r = f.head
    assert(r.getAs[Long]("n_words") === 3L)
    assert(r.getAs[Long]("n_bpe_tokens") === 7L)      // 2 + 2 + 3
    assert(r.getAs[Long]("n_unigram_tokens") === 3L)  // 1 + 1 + 1
    assert(math.abs(r.getAs[Double]("bpe_fertility") - 7.0 / 3.0) < 1e-15)
    assert(math.abs(r.getAs[Double]("unigram_fertility") - 1.0) < 1e-15)
  }

  test("unigram-LM trainer: loss-ranked prune keeps the piece that best " +
    "explains itself — 'ab' survives, 'abc'/'bc' prune, singles persist") {
    // corpus "ab ab abc", seed multi = {ab, abc, bc}. Round-1 EM gives
    // ab by far the largest expected count AND the largest p/alt odds
    // (its alternative [a,b] is 19× worse); with shrink 1/3 exactly one
    // multi piece may survive — it must be ab, and every single
    // character stays (the coverage floor).
    val d = Seq((1L, "ab ab abc", "en")).toDF("doc_id", "text", "lang")
    val m = UnigramLm.trainRounds(d, rounds = 1, shrinkNum = 1,
      shrinkDen = 3).collect()
    assert(m.map(_.getString(0)).sorted.toSeq === Seq("a", "ab", "b", "c"))
    assert(math.abs(m.map(_.getDouble(2)).sum - 1.0) < 1e-12,
      "probs renormalize over the surviving mass")
    // to-target wrapper: target 4 reaches the same model in one round
    val toTarget = UnigramLm.train(d, targetVocab = 4, shrinkNum = 1,
      shrinkDen = 3).collect()
    assert(toTarget.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq ===
      m.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq)
    // a second round with nothing left to shrink is a fixed point on the
    // piece set (counts re-estimate under the pruned model)
    val m2 = UnigramLm.trainRounds(d, rounds = 2, shrinkNum = 1,
      shrinkDen = 3).collect()
    assert(m2.map(_.getString(0)).sorted.toSeq === Seq("a", "ab", "b", "c"))
    // Kudo's 2 EM sub-iterations per prune round (emIters = 2): sharper
    // posteriors under the re-normalized model, same survivor on this
    // corpus (ab's dominance only grows), singles still floored
    val mE2 = UnigramLm.trainRoundsFromWords(UnigramLm.words(d),
      rounds = 1, shrinkNum = 1, shrinkDen = 3, emIters = 2).collect()
    assert(mE2.map(_.getString(0)).sorted.toSeq === Seq("a", "ab", "b", "c"))
    assert(mE2.forall(_.getLong(1) >= 1L))
  }

  test("unigram-LM trained fertility (l130 core): pruning 'abc' forces " +
    "its word onto [ab, c] — trained tokens 4 vs the seed model's 3") {
    val d = Seq((1L, "ab ab abc", "en")).toDF("doc_id", "text", "lang")
    val f = UnigramLm.tokenizerFertilityCompareTrained(d, rounds = 1,
      shrinkNum = 1, shrinkDen = 3).collect()
    assert(f.length === 1)
    assert(f.head.getAs[Long]("n_unigram_tokens") === 4L) // 1 + 1 + 2
    assert(f.head.getAs[Long]("n_bpe_tokens") === 7L)     // control arm
  }

  test("unigram-LM trainer on the real corpus: per-round multi-piece " +
    "shrink is exactly the scheduled ceil(3/4), singles never leave, " +
    "probabilities renormalize") {
    val docs = Tables.load(spark, sf001, "documents")
    val wf = UnigramLm.words(docs).localCheckpoint()
    def multiCount(m: Array[org.apache.spark.sql.Row]) =
      m.count(_.getString(0).length > 1)
    val seed = UnigramLm.seedVocabFromWords(wf).collect()
    val r1 = UnigramLm.trainRoundsFromWords(wf, rounds = 1).collect()
    val r2 = UnigramLm.trainRoundsFromWords(wf, rounds = 2).collect()
    val m0 = multiCount(seed)
    assert(multiCount(r1) === (3 * m0 + 3) / 4)
    assert(multiCount(r2) === (3 * multiCount(r1) + 3) / 4)
    val singles = seed.map(_.getString(0)).filter(_.length == 1).toSet
    assert(r2.map(_.getString(0)).filter(_.length == 1).toSet === singles)
    assert(math.abs(r2.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // the trained model still segments every corpus word (coverage)
    val nWords = wf.count()
    import org.apache.spark.sql.functions.col
    val covered = UnigramLm.viterbiPieceCountsFromModel(wf,
      UnigramLm.trainRoundsFromWords(wf, rounds = 2))
      .filter(col("n_pieces") >= 1).count()
    assert(covered === nWords)
  }

  // ------------------------------------------------------ image near-dup

  /** A hand-built 36×16 P6 payload whose pixel (x, y) value comes from
    * `px` — 36×16 is grid-aligned (w/9, w2/9, h/8, h2/8 all integral),
    * so the ÷2 nearest-neighbor resize samples EXACTLY the source pixels
    * the 9×8 dHash grid reads: the invariance receipts below are
    * structural, not statistical. */
  private def ppm36x16(id: Long, px: (Int, Int) => Int): Multimodal.BlobRow = {
    val (w, h) = (36, 16)
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      out(header.length + (y * w + x) * 3 + c) = (px(x, y) & 0xff).toByte
    Multimodal.BlobRow(id, out)
  }

  test("dHash recall receipt: resized and brightness-shifted duplicates " +
    "hash identically on grid-aligned images — banding finds every pair") {
    // 40 images with per-image pseudo-random (but smooth-free — the
    // receipt is exact, smoothness not required) pixel fields; for each,
    // a ÷2-resized copy at id+10000 and a +25-brightness copy at
    // id+20000 (values capped ≤ 230 so the shift never clamps: gradient
    // SIGNS are exactly preserved).
    val orig = (0 until 40).map(i => ppm36x16(i.toLong,
      (x, y) => (x * 7 + y * 13 + i * 31 + (x * y * (i + 3)) % 97) % 231))
    val resized = Multimodal.resize(spark,
        orig.toDF().select((col("doc_id") + 10000L).as("doc_id"),
          col("payload")),
        factor = 2)
      .collect().toSeq
    val bright = orig.map(b => Multimodal.BlobRow(b.doc_id + 20000L, {
      val p = b.payload.clone()
      val off = p.length - 36 * 16 * 3
      for (k <- off until p.length) p(k) = ((p(k) & 0xff) + 25).toByte
      p
    }))
    val all = (orig ++ resized ++ bright).toDF()
    val sig = Multimodal.dHash(spark, all).collect()
      .map(s => s.doc_id -> s.dhash).toMap
    for (i <- 0 until 40) {
      assert(sig(i + 10000L) === sig(i.toLong),
        s"resize changed dhash of image $i")
      assert(sig(i + 20000L) === sig(i.toLong),
        s"brightness shift changed dhash of image $i")
    }
    // and the OPERATOR finds them: every planted (orig, transformed)
    // pair appears in the banded candidate output at hamming 0
    val pairs = Multimodal.imageNearDupsFromBlobs(spark, all.toDF(),
        maxHamming = 0, maxBandOcc = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 40) {
      assert(pairs.contains((i.toLong, i + 10000L)), s"missed resize pair $i")
      assert(pairs.contains((i.toLong, i + 20000L)), s"missed bright pair $i")
    }
    // distinct source images must NOT all collide (the fixture is
    // discriminative): most cross-image pairs are absent
    val crossHits = pairs.count { case (a, b) => b - a != 10000L &&
      b - a != 20000L && (b - a) % 10000L != 0L }
    assert(crossHits < 40, s"fixture degenerate: $crossHits cross pairs")
  }

  test("imageNearDups hot-band guard: a flat-image pile pairs only until " +
    "the band occupancy cap; cold-bucket pairs survive") {
    // 30 byte-identical flat images (every band bucket hits occupancy
    // 30) + 2 structured near-identical images in cold buckets. With
    // maxBandOcc = 10 the pile's buckets are ALL hot -> zero pile
    // pairs; the structured pair survives. With the cap lifted the pile
    // pairs appear — the guard, witnessed from both sides.
    val flat = (0 until 30).map(i => ppm36x16(i.toLong, (_, _) => 100))
    val structured = Seq(
      ppm36x16(100L, (x, y) => (x * 11 + y * 29) % 231),
      ppm36x16(101L, (x, y) => (x * 11 + y * 29) % 231))
    val all = (flat ++ structured).toDF()
    val guarded = Multimodal.imageNearDupsFromBlobs(spark, all,
        maxHamming = 0, maxBandOcc = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L)),
      s"guard failed: $guarded")
    val unguarded = Multimodal.imageNearDupsFromBlobs(spark, all,
        maxHamming = 0, maxBandOcc = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((0L, 1L)) && unguarded.contains((100L, 101L)))
    assert(unguarded.size === 30 * 29 / 2 + 1)
  }

  test("dHash band-width schedule: auto equals the fixed 8-bit form where " +
    "the schedule resolves to 8; 16-bit banding is pair-identical within " +
    "its lossless radius; lossy widths are rejected") {
    // knob unit facts: narrowest width whose uniform occupancy meets the
    // target, capped at the lossless radius (64/bits bands verify
    // Hamming ≤ 64/bits − 1)
    assert(KnobSchedule.dhashBandBits(5000L, maxHamming = 2) === 8)
    assert(KnobSchedule.dhashBandBits(1000000L, maxHamming = 2) === 16)
    assert(KnobSchedule.dhashBandBits(10000000000L, maxHamming = 2) === 16)
    assert(KnobSchedule.dhashBandBits(10000000000L, maxHamming = 1) === 32)
    intercept[IllegalArgumentException](
      KnobSchedule.dhashBandBits(100L, maxHamming = 8))
    // corpus: the grid-aligned fixture with planted near-dups
    val orig = (0 until 30).map(i => ppm36x16(i.toLong,
      (x, y) => (x * 11 + y * 17 + i * 37 + (x * y * (i + 5)) % 89) % 225))
    val shifted = orig.map(b => Multimodal.BlobRow(b.doc_id + 1000L, {
      val p = b.payload.clone()
      val off = p.length - 36 * 16 * 3
      for (k <- off until p.length) p(k) = ((p(k) & 0xff) + 20).toByte
      p
    }))
    val all = (orig ++ shifted).toDF()
    val sig = Multimodal.dHash(spark, all).toDF().localCheckpoint()
    def pairsAt(bits: Int) = Multimodal.imageNearDupsFromSigs(sig,
        maxHamming = 2, maxBandOcc = 100000, bandBits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(p => (p._1, p._2)).toSeq
    val p8 = pairsAt(8)
    // both widths are recall-lossless at radius 2 (pigeonhole) and
    // verify with the same Hamming filter — pair tables must be
    // IDENTICAL even though the candidate sets differ
    assert(pairsAt(16) === p8)
    assert(p8.nonEmpty)
    // the scheduled auto form resolves to 8 bits at this corpus size
    // and must be byte-equal to the fixed declared form
    val auto = Multimodal.imageNearDupsAuto(spark, all, maxHamming = 2,
        maxBandOcc = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(p => (p._1, p._2)).toSeq
    assert(auto === p8)
    // 32-bit bands (2 bands) cannot verify radius 2 — rejected loudly
    intercept[IllegalArgumentException](
      Multimodal.imageNearDupsFromSigs(sig, maxHamming = 2,
        maxBandOcc = 100000, bandBits = 32).collect())
  }

  test("imageDedupApply: exact copies collapse to one survivor; " +
    "untouched images pass through") {
    // identical text ⇒ identical payload ⇒ identical dhash — the
    // exact-hash pre-collapse folds 1/2/3 to rep 1; image 9 is isolated.
    val d = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (9L, "completely different words here"))
      .toDF("doc_id", "text")
    val kept = Multimodal.imageDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 100000)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 9L))
  }

  test("imageDedupApply pre-collapse: exact-duplicate cliques dedup even " +
    "when every band bucket is hot — hash equality outruns the guard") {
    // 30 byte-identical flat images make every band bucket they occupy
    // hot at cap 10 — the banded pair path finds NOTHING among them
    // (the hot-band guard test above pins that), yet the apply must
    // still collapse them: exact duplicates are found by hash-equality
    // grouping, not banding. Two identical structured images in cold
    // buckets dedup through the normal banded path. Blob-level surface:
    // drive through the encoder by planting identical texts for the
    // flats, plus two structured twins.
    val d = ((0 until 30).map(i => (i.toLong, "flat flat flat")) ++
      Seq((100L, "rich and varied content the quick brown fox"),
        (101L, "rich and varied content the quick brown fox")))
      .toDF("doc_id", "text")
    val kept = Multimodal.imageDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 10)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 100L),
      s"pre-collapse failed under hot bands: ${kept.toSeq}")
  }

  test("imageNearDups grid_l1 audit column: zero for exact duplicates, " +
    "exact hand-computed L1 for a one-cell perturbation") {
    // image B = image A with ONE dHash-grid-sampled pixel raised by 40:
    // grid cell (gx=2, gy=3) samples source pixel (2*36/9, 3*16/8) =
    // (8, 6); hamming can move by at most the 2 bits that compare that
    // cell, and grid_l1 must read exactly 3*40 = 120 (three channels).
    val a = ppm36x16(1L, (x, y) => (x * 5 + y * 17) % 200)
    val b = ppm36x16(2L, (x, y) =>
      if (x == 8 && y == 6) (8 * 5 + 6 * 17) % 200 + 40 else (x * 5 + y * 17) % 200)
    val c = ppm36x16(3L, (x, y) => (x * 5 + y * 17) % 200) // exact dup of a
    val got = Multimodal.imageNearDupsFromBlobs(spark, Seq(a, b, c).toDF(),
        maxHamming = 4, maxBandOcc = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got((1L, 3L)) === ((0L, 0L)))
    assert(got.contains((1L, 2L)), s"perturbed pair missed: $got")
    assert(got((1L, 2L))._2 === 120L)
  }

  test("audioHash: gain-scaled duplicates hash identically (envelope " +
    "gradient signs are gain-invariant); envelope L1 is exact") {
    // canonical PCM16 WAV with controlled samples
    def wav(id: Long, ss: Seq[Int]): Multimodal.BlobRow = {
      val out = new Array[Byte](44 + 2 * ss.length)
      def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
        out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
      def le16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
        out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
      def tag(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("US-ASCII"), 0, out, off, 4)
      tag(0, "RIFF"); le32(4, 36 + 2 * ss.length); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
      le32(24, 8000); le32(28, 16000); le16(32, 2); le16(34, 16)
      tag(36, "data"); le32(40, 2 * ss.length)
      ss.zipWithIndex.foreach { case (s, k) => le16(44 + 2 * k, s & 0xffff) }
      Multimodal.BlobRow(id, out)
    }
    // 130 samples = 65 chunks of exactly 2; per-image pseudo-random
    // smalls (≤ 900) so a ×8 gain never clips PCM16
    def samples(seed: Int): Seq[Int] =
      (0 until 130).map(k => ((k * 37 + seed * 101 + (k * k * seed) % 61)
        % 900) - 450)
    val orig = (0 until 12).map(i => wav(i.toLong, samples(i)))
    val gained = orig.map(b => wav(b.doc_id + 100L, {
      val ss = samples(b.doc_id.toInt).map(_ * 8)
      ss
    }))
    val all = (orig ++ gained).toDF()
    val sig = Multimodal.audioHash(spark, all).collect()
      .map(s => s.doc_id -> s).toMap
    for (i <- 0 until 12) {
      assert(sig(i + 100L).dhash === sig(i.toLong).dhash,
        s"gain changed hash of clip $i")
      // the envelope itself scales exactly by the gain
      assert(sig(i + 100L).grid.toSeq === sig(i.toLong).grid.map(_ * 8).toSeq)
    }
    // the pairing core finds every planted pair at Hamming 0, and the
    // envelope-L1 audit equals the hand value Σ|8e − e| = 7·Σe
    val pairs = Multimodal.imageNearDupsFromSigs(
      Multimodal.audioHash(spark, all).toDF(), maxHamming = 0,
      maxBandOcc = 100000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    for (i <- 0 until 12) {
      val key = (i.toLong, i + 100L)
      assert(pairs.contains(key), s"missed gain pair $i")
      assert(pairs(key) === 7L * sig(i.toLong).grid.sum)
    }
  }

  test("audioDedupApply: exact copies collapse to one survivor; untouched " +
    "clips pass through (the l125 shape on the audio plane)") {
    // identical text ⇒ identical WAV ⇒ identical gradient-sign hash —
    // the exact-hash pre-collapse folds 1/2/3 to rep 1; clip 9 is
    // isolated.
    val d = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (9L, "completely different words here"))
      .toDF("doc_id", "text")
    val kept = Multimodal.audioDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 100000)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 9L))
  }

  test("audioDedupApply pre-collapse: exact-duplicate cliques dedup even " +
    "when every band bucket is hot — hash equality outruns the guard") {
    // 30 byte-identical clips make every band bucket they occupy hot at
    // cap 10; the apply must still collapse them by hash equality (the
    // imageDedupApply pin, on the shared sig-level core).
    val d = ((0 until 30).map(i => (i.toLong, "flat flat flat")) ++
      Seq((100L, "rich and varied content the quick brown fox"),
        (101L, "rich and varied content the quick brown fox")))
      .toDF("doc_id", "text")
    val kept = Multimodal.audioDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 10)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 100L),
      s"pre-collapse failed under hot bands: ${kept.toSeq}")
  }

  test("dedup-apply Auto twins: scheduled band width resolves to 8 bits at " +
    "small corpora and stays byte-equal to the declared fixed forms " +
    "(image l125 / audio l128)") {
    val d = (0 until 25).map(i =>
        (i.toLong, s"document number $i with its own distinct words " +
          s"${('a' + i % 26).toChar}${('a' + (i * 7) % 26).toChar}")) ++
      Seq((200L, "document number 3 twin"), (201L, "document number 3 twin"))
    val docs = d.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    val imgFixed = ids(Multimodal.imageDedupApply(spark, docs))
    val imgAuto = ids(Multimodal.imageDedupApplyAuto(spark,
      Multimodal.encodePpm(spark, docs).toDF()))
    assert(imgAuto === imgFixed)
    val audFixed = ids(Multimodal.audioDedupApply(spark, docs))
    val audAuto = ids(Multimodal.audioDedupApplyAuto(spark,
      Multimodal.encodeWav(spark, docs).toDF()))
    assert(audAuto === audFixed)
    // the PAIR-level Auto twins too: scheduled-vs-fixed byte-equality
    // on the audio and video planes (the imageNearDupsAuto precedent)
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(pairRows(Multimodal.audioNearDupsAuto(spark,
        Multimodal.encodeWav(spark, docs).toDF())) ===
      pairRows(Multimodal.audioHash(spark,
          Multimodal.encodeWav(spark, docs).toDF()).toDF()
        .transform(s => Multimodal.imageNearDupsFromSigs(s, 2, 500))))
    assert(pairRows(Multimodal.videoNearDupsAuto(spark,
        Multimodal.encodeVideo(spark, docs).toDF())) ===
      pairRows(Multimodal.videoNearDups(spark, docs)))
    // the l136 offset detector's Auto twin: its schedule unit is the
    // SIG ROW count (frame-blind banding — occupancy grows with
    // clips × frames), byte-equal to the fixed declared form at small n
    assert(pairRows(Multimodal.videoOffsetNearDupsAuto(spark,
        Multimodal.encodeVideo(spark, docs).toDF())) ===
      pairRows(Multimodal.videoOffsetNearDups(spark, docs)))
    // ... and the l138 offset APPLY's Auto twin (schedules from the
    // collapsed reps' sig-row count)
    assert(pairRows(Multimodal.videoOffsetDedupApplyAuto(spark,
        Multimodal.encodeVideo(spark, docs).toDF())) ===
      pairRows(Multimodal.videoOffsetDedupApply(spark, docs)))
  }

  test("video offset dedup apply: a head-trimmed re-edit collapses into " +
    "its source's cluster where the frame-aligned l134 apply keeps it " +
    "as a 'new' clip") {
    val base = Seq((1L, "the quick brown fox jumps over"),
      (3L, "a completely different clip text")).toDF("doc_id", "text")
    val enc = Multimodal.encodeVideo(spark, base).toDF().localCheckpoint()
    val blobs = enc.unionByName(
      Multimodal.videoFrameSampleContainer(spark,
          enc.filter(col("doc_id") === 1L), stride = 1, from = 1).toDF()
        .select(lit(2L).as("doc_id"), col("payload"))).localCheckpoint()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    // the aligned apply keeps the trim — no aligned frame matches
    assert(ids(Multimodal.videoDedupApplyAuto(spark, blobs,
      maxHamming = 0, maxBandOcc = 100000)) === Seq(1L, 2L, 3L))
    // the offset apply folds it into clip 1's cluster (3 close frames
    // at displacement -1 ≥ minFrames 2) and keeps the minimum id
    val kept = Multimodal.videoOffsetDedupApplyAuto(spark, blobs,
        maxHamming = 0, maxBandOcc = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(kept.map(_._1).toSeq === Seq(1L, 3L))
    assert(kept.toMap.apply(1L) === 4L)
  }

  test("imageBandSweep rejects a guarded or narrower-than-widest truth " +
    "leg loudly — the recall denominator must be the unguarded widest " +
    "lossless width") {
    val d = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    // guarded last leg: recall would divide by a lossy denominator
    intercept[IllegalArgumentException](
      Multimodal.imageBandSweep(spark, d,
        configs = Seq((8, 500), (16, 500))))
    // unguarded but NARROW last leg: 8-bit is not the widest admissible
    // at radius 2 (16 is)
    intercept[IllegalArgumentException](
      Multimodal.imageBandSweep(spark, d,
        configs = Seq((16, 500), (8, 1 << 30))))
    // the default config still passes the gate (and runs)
    assert(Multimodal.imageBandSweep(spark, d).count() === 3L)
    // the audio twin shares the core: same gate; with a planted exact
    // pair the truth leg's recall is 1.0, and on a pair-free corpus the
    // vacuous recall is IEEE NaN (DuckDB's 0/0), never an ANSI throw
    intercept[IllegalArgumentException](
      Multimodal.audioBandSweep(spark, d,
        configs = Seq((8, 500), (16, 500))))
    val dp = Seq((1L, "same words here"), (2L, "same words here"),
      (3L, "unrelated other clip")).toDF("doc_id", "text")
    val aud = Multimodal.audioBandSweep(spark, dp).collect()
    assert(aud.length === 3)
    val truth = aud.filter(r => r.getLong(0) == 16L && r.getLong(1) > 500L)
    assert(truth.length === 1 && truth.head.getLong(3) >= 1L
      && truth.head.getDouble(5) === 1.0)
    val vac = Multimodal.audioBandSweep(spark, d).collect()
    assert(vac.forall(r => r.getDouble(5).isNaN))
  }

  test("video decode: encodeVideo round-trips through the real GV1 " +
    "container walk — hand-computed frame count, geometry and stats") {
    // "abc": first = 'a' (97) → w = 2, nf = 2 + 97%3 = 3; last = 'c'
    // (99) → h = 4. Each frame's raster is 24 bytes of the text tiling
    // shifted by 7f; a rotation preserves the multiset, so every frame
    // sums to 8·(97+98+99) = 2352. Container = "GV1\n3\n" (6 B) +
    // 3 × ("P6\n2 4\n255\n" (11 B) + 24 B raster) = 111 B.
    val d = Seq((7L, "abc")).toDF("doc_id", "text")
    val f = Multimodal.videoFeatures(spark,
      Multimodal.encodeVideo(spark, d).toDF()).collect().head
    assert(f.n_frames === 3L)
    assert(f.width === 2L && f.height === 4L)
    assert(f.n_bytes === 111L)
    assert(f.px_sum === 3L * 2352L)
    assert(f.frame_sum_min === 2352L && f.frame_sum_max === 2352L)
  }

  test("video frame hashes: frame 0 of the container hashes IDENTICALLY " +
    "to the standalone image encoding — the shared grid machinery, " +
    "receipted structurally") {
    // encodePpm's payload IS frame 0's raster under the same geometry,
    // so the per-frame gridHash must agree bit-for-bit with dHash.
    val docs = Tables.load(spark, sf001, "documents").limit(50)
      .localCheckpoint()
    val img = Multimodal.dHash(spark,
        Multimodal.encodePpm(spark, docs).toDF()).toDF()
      .select(col("doc_id"), col("dhash").as("img_hash"))
    val f0 = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .filter(col("frame_idx") === 0)
      .select(col("doc_id"), col("dhash").as("vid_hash"))
    assert(img.join(f0, Seq("doc_id"))
      .filter(col("img_hash") =!= col("vid_hash")).isEmpty)
    assert(f0.count() === 50L)
  }

  test("video near-dups + dedup apply: exact re-posts match on every " +
    "aligned frame at Hamming 0 and collapse to the minimum id") {
    val d = Seq((1L, "the quick brown fox jumps over"),
      (2L, "the quick brown fox jumps over"),   // exact re-post of 1
      (3L, "a completely different clip text"),
      (9L, "the quick brown fox jumps over"))   // another re-post
      .toDF("doc_id", "text")
    val pairs = Multimodal.videoNearDups(spark, d, maxHamming = 2,
        maxBandOcc = 100000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // 'the...' → first 't' = 116, nf = 2 + 116 % 3 = 4 frames
    assert(pairs.keySet === Set((1L, 2L), (1L, 9L), (2L, 9L)))
    assert(pairs.values.forall { case (nf, sh) => nf === 4L && sh === 0L })
    val kept = Multimodal.videoDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(kept.map(_._1).toSeq === Seq(1L, 3L))
    assert(kept.toMap.apply(1L) === 4L)
    // the exact-SEQUENCE pre-collapse pin (the l125/l128 discipline on
    // the frame plane): 30 byte-identical clips make every (frame,
    // band) bucket they occupy hot at cap 10 — the apply must still
    // collapse them by vector equality, never through banding
    val pile = ((0 until 30).map(i => (i.toLong, "viral clip content")) ++
      Seq((100L, "quiet unrelated other video here")))
      .toDF("doc_id", "text")
    val keptPile = Multimodal.videoDedupApply(spark, pile, maxHamming = 2,
        maxBandOcc = 10)
      .collect().map(_.getLong(0)).sorted
    assert(keptPile.toSeq === Seq(0L, 100L),
      s"pre-collapse failed under hot bands: ${keptPile.toSeq}")
    // the Auto twin resolves to 8 bits at small corpora and stays
    // byte-equal to the fixed declared form
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ids(Multimodal.videoDedupApplyAuto(spark,
        Multimodal.encodeVideo(spark, d).toDF(), maxHamming = 2,
        maxBandOcc = 100000)) ===
      ids(Multimodal.videoDedupApply(spark, d, maxHamming = 2,
        maxBandOcc = 100000)))
    // the sweep shares the truth-leg gate and reads recall 1.0 with a
    // planted exact pair
    intercept[IllegalArgumentException](
      Multimodal.videoBandSweep(spark, d,
        configs = Seq((8, 500), (16, 500))))
    val sw = Multimodal.videoBandSweep(spark, d).collect()
    assert(sw.length === 3)
    val truthLeg = sw.filter(r => r.getLong(0) == 16L && r.getLong(1) > 500L)
    assert(truthLeg.length === 1 && truthLeg.head.getLong(3) >= 1L
      && truthLeg.head.getDouble(5) === 1.0)
  }

  test("video offset near-dups: a head-trimmed re-edit (invisible to the " +
    "frame-ALIGNED l133 key) surfaces as a full-overlap row at its " +
    "displacement, and the temporal frame-sample container round-trips " +
    "through the real GV1 walk") {
    // 'the...' → first 't' = 116 → nf = 4 frames. B = A with frame 0 cut
    // (the production head-trim: videoFrameSampleContainer from=1,
    // stride=1), so B.frame f IS A.frame f+1 byte-for-byte.
    val a = Multimodal.encodeVideo(spark,
      Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text"))
      .toDF().localCheckpoint()
    val b = Multimodal.videoFrameSampleContainer(spark, a,
        stride = 1, from = 1).toDF()
      .select(lit(2L).as("doc_id"), col("payload")).localCheckpoint()
    // composition pin: the trimmed container's per-frame hashes are A's
    // frames 1..3 re-indexed 0..2 — payload→payload transforms compose
    // with the signature plane
    val aH = Multimodal.videoFrameHashes(spark, a).toDF()
      .filter(col("frame_idx") >= 1)
      .select((col("frame_idx") - 1).as("frame_idx"),
        col("dhash").as("a_hash"))
    val bH = Multimodal.videoFrameHashes(spark, b).toDF()
      .select(col("frame_idx"), col("dhash").as("b_hash"))
    assert(aH.join(bH, Seq("frame_idx"))
      .filter(col("a_hash") =!= col("b_hash")).isEmpty)
    assert(bH.count() === 3L)
    // the frame-ALIGNED pair table is blind to the trim at Hamming 0
    // (pans differ frame-for-frame); the offset detector finds the
    // full-overlap row at displacement -1 with summed Hamming 0
    val rows = Multimodal.videoOffsetNearDupsFromBlobs(spark,
        a.unionByName(b), maxHamming = 0, maxBandOcc = 100000,
        minFrames = 1, maxOffset = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(rows.get((1L, 2L, -1L)) === Some((3L, 0L)),
      s"expected the planted trim row at offset -1: $rows")
    assert(!rows.contains((1L, 2L, 0L)),
      s"aligned frames of a trimmed re-edit must NOT match at Hamming 0: " +
        s"$rows")
  }

  test("video frame-sample: stride-2 keeps frames 0 and 2 of 'abc', " +
    "re-emits a spec-valid container, and guards an empty sample loudly") {
    // "abc": nf = 3, w = 2, h = 4; every frame is a rotation of the text
    // tiling so each sums to 2352. Sampled: 2 frames, container = 6 B
    // header + 2 × (11 B frame header + 24 B raster) = 76 B.
    val d = Seq((7L, "abc")).toDF("doc_id", "text")
    val enc = Multimodal.encodeVideo(spark, d).toDF().localCheckpoint()
    val sampled = Multimodal.videoFrameSampleContainer(spark, enc,
      stride = 2).toDF().localCheckpoint()
    val f = Multimodal.videoFeatures(spark, sampled).collect().head
    assert(f.n_frames === 2L)
    assert(f.width === 2L && f.height === 4L)
    assert(f.n_bytes === 76L)
    assert(f.px_sum === 2L * 2352L)
    assert(f.frame_sum_min === 2352L && f.frame_sum_max === 2352L)
    // the kept frames are the ORIGINAL frames 0 and 2, bit-identically
    val orig = Multimodal.videoFrameHashes(spark, enc).toDF()
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val samp = Multimodal.videoFrameHashes(spark, sampled).toDF()
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(samp === Map(0 -> orig(0), 1 -> orig(2)))
    // keeping zero frames is a loud error, not a silent empty container
    val ex = intercept[org.apache.spark.SparkException](
      Multimodal.videoFrameSampleContainer(spark, enc,
        stride = 1, from = 5).toDF().collect())
    assert(ex.getMessage.contains("keeps none")
      || ex.getCause.getMessage.contains("keeps none"))
  }

  test("image flip: the transform is an exact byte-level involution, and " +
    "the flip-canonical signature catches the mirrored re-post plain " +
    "dHash is blind to") {
    val d = Seq((1L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val a = Multimodal.encodePpm(spark, d).toDF().localCheckpoint()
    val mirrored = Multimodal.flipHorizontal(spark, a).toDF()
      .select(lit(2L).as("doc_id"), col("payload")).localCheckpoint()
    // involution: flip(flip(x)) is byte-identical to x
    val back = Multimodal.flipHorizontal(spark,
      Multimodal.flipHorizontal(spark, a).toDF()).toDF()
    assert(back.select(md5(col("payload"))).collect().head.getString(0) ===
      a.select(md5(col("payload"))).collect().head.getString(0))
    // the canonical signature is identical across orientations, with
    // opposite orientation bits (the fixture is asymmetric: h ≠ hm)
    val sa = Multimodal.dHashFlipInvariant(spark, a).collect().head
    val sb = Multimodal.dHashFlipInvariant(spark, mirrored).collect().head
    assert(sa.dhash === sb.dhash)
    assert(sa.flip !== sb.flip)
    val both = a.unionByName(mirrored).localCheckpoint()
    // plain dHash (l122) at Hamming 0 is BLIND to the mirrored re-post
    assert(Multimodal.imageNearDupsFromBlobs(spark, both,
      maxHamming = 0, maxBandOcc = 100000).isEmpty)
    // the flip-invariant pairing finds it at Hamming 0 with crossed
    // orientation bits
    val rows = Multimodal.imageFlipInvariantNearDupsFromBlobs(spark, both,
      maxHamming = 0, maxBandOcc = 100000).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L && rows.head.getLong(1) === 2L)
    assert(rows.head.getLong(2) === 0L)
    assert(rows.head.getBoolean(3) !== rows.head.getBoolean(4))
    // the Auto twin resolves to 8 bits at small n and stays byte-equal
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(rws(Multimodal.imageFlipInvariantNearDupsAuto(spark, both,
        maxHamming = 0, maxBandOcc = 100000)) === rws(
      Multimodal.imageFlipInvariantNearDupsFromBlobs(spark, both,
        maxHamming = 0, maxBandOcc = 100000)))
    // the APPLY: the plain l125 apply keeps the mirrored re-post as a
    // "new" image; the flip-invariant apply folds it into its source's
    // cluster by canonical-hash EQUALITY (the pre-collapse path — no
    // banding needed at Hamming 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(Multimodal.imageDedupApplyAuto(spark, both,
      maxHamming = 0, maxBandOcc = 100000)) === Seq(1L, 2L))
    assert(ids(Multimodal.imageFlipInvariantDedupApplyAuto(spark, both,
      maxHamming = 0, maxBandOcc = 100000)) === Seq(1L))
    // fixed-vs-Auto byte-equality for the declared l141 form
    assert(ids(Multimodal.imageFlipInvariantDedupApply(spark, d,
        maxHamming = 0, maxBandOcc = 100000)) ===
      ids(Multimodal.imageFlipInvariantDedupApplyAuto(spark,
        Multimodal.encodePpm(spark, d).toDF(),
        maxHamming = 0, maxBandOcc = 100000)))
    // the sweep shares the truth-leg gate
    intercept[IllegalArgumentException](
      Multimodal.imageFlipBandSweep(spark, d,
        configs = Seq((8, 500), (16, 500))))
  }

  test("audio window fingerprints: a 65-sample head-trim pairs at its " +
    "window displacement where the clip-level envelope hash is blind, " +
    "and the apply keeps sub-window clips with n_windows 0") {
    // 'a…~' text: n = 1 + (97·31 + 126) % 200 = 134 samples → 2 full
    // windows. The trim (the production l144 op) drops exactly one
    // window: trimmed window 0 IS source window 1, bit for bit.
    val d = Seq((1L, "a quick trim fixture text ~")).toDF("doc_id", "text")
    val a = Multimodal.encodeWav(spark, d).toDF().localCheckpoint()
    val b = Multimodal.audioTrimHeadContainer(spark, a, nSamples = 65)
      .toDF().select(lit(2L).as("doc_id"), col("payload")).localCheckpoint()
    val aW = Multimodal.audioWindowHashes(spark, a).collect()
      .map(s => s.win_idx -> s.dhash).toMap
    val bW = Multimodal.audioWindowHashes(spark, b).collect()
      .map(s => s.win_idx -> s.dhash).toMap
    assert(aW.size === 2 && bW.size === 1)
    assert(bW(0) === aW(1))
    // clip-level l127 hashes differ (the relative envelope re-chunks
    // under the trim) — the clip plane is blind to this pair
    val ch = Multimodal.audioHash(spark, a.unionByName(b)).collect()
      .map(s => s.doc_id -> s.dhash).toMap
    assert(ch(1L) !== ch(2L))
    // the offset detector finds the full-overlap row at displacement -1
    val rows = Multimodal.audioOffsetNearDupsFromBlobs(spark,
        a.unionByName(b), maxHamming = 0, maxBandOcc = 100000,
        minWindows = 1, maxOffset = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(rows.get((1L, 2L, -1L)) === Some((1L, 0L)),
      s"expected the planted trim row at offset -1: $rows")
    // the APPLY folds the trim into its source's cluster and keeps the
    // sub-window clip ('hi!' → n = 58 < 65 → no fingerprint) with
    // n_windows 0 — never silently dropped
    val c = Multimodal.encodeWav(spark,
        Seq((3L, "hi!")).toDF("doc_id", "text")).toDF()
    val kept = Multimodal.audioOffsetDedupApplyAuto(spark,
        a.unionByName(b).unionByName(c), maxHamming = 0,
        maxBandOcc = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(kept.map(_._1).toSeq === Seq(1L, 3L))
    assert(kept.toMap === Map(1L -> 2L, 3L -> 0L))
    // fixed-vs-Auto byte-equality on the declared (doc-level) form
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val docs2 = Seq((1L, "a quick trim fixture text ~"), (3L, "hi!"))
      .toDF("doc_id", "text")
    assert(rws(Multimodal.audioOffsetDedupApply(spark, docs2)) ===
      rws(Multimodal.audioOffsetDedupApplyAuto(spark,
        Multimodal.encodeWav(spark, docs2).toDF())))
    // the trim clamps to keep at least one sample: n = 58 → trim 57,
    // one sample survives and the canonical WAV re-decodes
    val tinyTrim = Multimodal.audioFeatures(spark,
      Multimodal.audioTrimHeadContainer(spark, c, nSamples = 65).toDF())
      .collect().head
    assert(tinyTrim.n_samples === 1L)
  }

  test("paired-group candidate keys: byte-equal to banded pairs within " +
    "the shared lossless radius, and verifying radius 4 where the " +
    "16-bit band ladder ends") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val blobs = Multimodal.encodePpm(spark, docs).toDF().localCheckpoint()
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // both unguarded forms are recall-lossless at Hamming 2, so the
    // pair tables must be IDENTICAL — two different candidate
    // generators agreeing exactly on the real corpus
    assert(rws(Multimodal.imageNearDupsGroupedFromBlobs(spark, blobs,
        maxHamming = 2, maxTableOcc = 1 << 30)) ===
      rws(Multimodal.imagePairCandidates(
        Multimodal.dHash(spark, blobs).toDF(), 2, 1 << 30, 8)))
    // a Hamming-4 pair with one flipped bit in EVERY 16-bit band: the
    // band ladder cannot verify radius 4 at 16 bits (the require) —
    // the paired-group keys can (4 errors touch 4 of 6 groups; the
    // untouched pair's table matches)
    val sig = Seq((1L, 0L),
      (2L, (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)))
      .toDF("doc_id", "dhash")
    intercept[IllegalArgumentException](
      Multimodal.imagePairCandidates(sig, 4, 1 << 30, 16))
    val g = Multimodal.sigPairsGrouped(sig, 4, 1 << 30).collect()
    assert(g.length === 1 && g.head.getLong(0) === 1L
      && g.head.getLong(1) === 2L && g.head.getLong(2) === 4L)
    // beyond the guarantee the core refuses loudly
    intercept[IllegalArgumentException](
      Multimodal.sigPairsGrouped(sig, 5, 1 << 30))
    // the end-of-ladder switch: dormant while widening still relieves
    // occupancy, flips once the widest lossless width is over target
    import graft.llm.KnobSchedule
    assert(!KnobSchedule.dhashUseGroupedKeys(50000L, 2))
    assert(!KnobSchedule.dhashUseGroupedKeys(64L * 65536, 2))
    assert(KnobSchedule.dhashUseGroupedKeys(64L * 65536 + 65536, 2))
    assert(KnobSchedule.dhashUseGroupedKeys(131073L, 2, targetOcc = 1))
    // radius 5 has no grouped guarantee either — never switch
    assert(!KnobSchedule.dhashUseGroupedKeys(1L << 40, 5, targetOcc = 1))
  }

  test("grouped keys on the frame-blind offset plane: byte-equal to the " +
    "banded offset core within the shared radius, verifying radius 4 " +
    "where the band ladder ends (round-18 directive #1a)") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val sig = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // both unguarded candidate generators are recall-lossless at
    // Hamming 2, so the per-(pair, offset) verdict tables must be
    // IDENTICAL on the real corpus — frame counts, summed Hamming, all
    assert(rws(Multimodal.videoOffsetNearDupsGroupedFromSigs(sig,
        maxHamming = 2, maxTableOcc = 1 << 30, minFrames = 1,
        maxOffset = 1)) ===
      rws(Multimodal.videoOffsetNearDupsFromSigs(sig, maxHamming = 2,
        maxBandOcc = 1 << 30, minFrames = 1, maxOffset = 1)))
    // a per-frame Hamming-4 pair with one flipped bit in EVERY 16-bit
    // band, shifted by one frame: the band ladder cannot verify radius
    // 4 (the require); the grouped keys find all three displacement
    // rows (4 errors touch 4 of 6 groups — some pair is untouched)
    val h4 = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)
    val psig = Seq((1L, 0, 0L), (1L, 1, 0L), (2L, 0, h4), (2L, 1, h4))
      .toDF("doc_id", "frame_idx", "dhash")
    intercept[IllegalArgumentException](
      Multimodal.videoOffsetNearDupsFromSigs(psig, 4, 1 << 30, 1, 1,
        bandBits = 16))
    val g = Multimodal.videoOffsetNearDupsGroupedFromSigs(psig, 4,
        1 << 30, 1, 1)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(g.toSeq === Seq((-1L, 1L, 4L), (0L, 2L, 8L), (1L, 1L, 4L)))
    // beyond the pigeonhole guarantee the core refuses loudly
    intercept[IllegalArgumentException](
      Multimodal.videoOffsetNearDupsGroupedFromSigs(psig, 5, 1 << 30, 1, 1))
  }

  test("every scheduled pair twin consults the end-of-ladder switch: the " +
    "grouped era is byte-equal to the banded/fixed form on each plane " +
    "(image, audio, flip-canonical, aligned video, video apply)") {
    // Round 19: sigPairsScheduled / videoAlignedPairsScheduled put the
    // l146 switch behind EVERY scheduled sig-level candidate generator,
    // not just the applies and offset cores. targetOcc = 0 forces the
    // grouped era at spec scale (threshold = targetOcc·2^16); with the
    // occupancy guard dormant at this corpus, both candidate families
    // are recall-lossless at radius 2 and the OUTPUTS — audit columns
    // included — must be identical.
    val docs = Tables.load(spark, sf001, "documents").limit(200)
      .localCheckpoint()
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val ppm = Multimodal.encodePpm(spark, docs).toDF().localCheckpoint()
    assert(rws(Multimodal.imageNearDupsAuto(spark, ppm, targetOcc = 0L)) ===
      rws(Multimodal.imageNearDupsFromBlobs(spark, ppm)))
    assert(rws(Multimodal.imageFlipInvariantNearDupsAuto(spark, ppm,
        targetOcc = 0L)) ===
      rws(Multimodal.imageFlipInvariantNearDupsFromBlobs(spark, ppm)))
    val wav = Multimodal.encodeWav(spark, docs).toDF().localCheckpoint()
    assert(rws(Multimodal.audioNearDupsAuto(spark, wav, targetOcc = 0L)) ===
      rws(Multimodal.audioNearDups(spark, docs)))
    val vid = Multimodal.encodeVideo(spark, docs).toDF().localCheckpoint()
    assert(rws(Multimodal.videoNearDupsAuto(spark, vid, minFrames = 1,
        targetOcc = 0L)) ===
      rws(Multimodal.videoNearDupsFromSigs(
        Multimodal.videoFrameHashes(spark, vid).toDF(), 2, 500, 1)))
    assert(rws(Multimodal.videoDedupApplyAuto(spark, vid, targetOcc = 0L))
      === rws(Multimodal.videoDedupApply(spark, docs)))
    // the aligned grouped core verifies per-frame radius 4 where the
    // 16-bit band ladder refuses — same pigeonhole, aligned key
    val h4 = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)
    val psig = Seq((1L, 0, 0L), (1L, 1, 7L), (2L, 0, h4), (2L, 1, 7L ^ h4))
      .toDF("doc_id", "frame_idx", "dhash")
    intercept[IllegalArgumentException](
      Multimodal.videoNearDupsFromSigs(psig, 4, 1 << 30, 2, bandBits = 16))
    val g = Multimodal.videoNearDupsGroupedFromSigs(psig, 4, 1 << 30, 2)
      .collect()
    assert(g.length === 1 && g.head.getLong(2) === 2L
      && g.head.getLong(3) === 8L)
    intercept[IllegalArgumentException](
      Multimodal.videoNearDupsGroupedFromSigs(psig, 5, 1 << 30, 2))
  }

  test("l149 grouped-key occupancy sweep: per-cap legs equal the guarded " +
    "production core, truth leg reads recall 1.0, and the gates are loud") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val sig = Multimodal.dHash(spark,
        Multimodal.encodePpm(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val sw = Multimodal.sigGroupedOccSweep(sig, maxHamming = 2,
        caps = Seq(1, 500, 1 << 30))
      .collect().sortBy(_.getLong(0))
    assert(sw.length === 3)
    // each leg's retained-pair count IS the guarded sigPairsGrouped's
    // at that cap — the shared-pass filter and the production join
    // agree exactly (live-bucket semantics, two implementations)
    assert(sw(0).getLong(2) ===
      Multimodal.sigPairsGrouped(sig, 2, maxTableOcc = 1).count())
    assert(sw(1).getLong(2) ===
      Multimodal.sigPairsGrouped(sig, 2, maxTableOcc = 500).count())
    assert(sw(2).getLong(2) ===
      Multimodal.sigPairsGrouped(sig, 2, maxTableOcc = 1 << 30).count())
    // caps admit supersets — pair counts nondecreasing; the unguarded
    // truth leg reads recall exactly 1.0 with zero hot tables
    assert(sw.sliding(2).forall(p => p(0).getLong(2) <= p(1).getLong(2)))
    assert(sw.last.getDouble(4) === 1.0 && sw.last.getLong(1) === 0L)
    intercept[IllegalArgumentException](
      Multimodal.sigGroupedOccSweep(sig, 2, Seq(500, 50, 1 << 30)))
    intercept[IllegalArgumentException](
      Multimodal.sigGroupedOccSweep(sig, 2, Seq(50, 500)))
    intercept[IllegalArgumentException](
      Multimodal.sigGroupedOccSweep(sig, 5, Seq(50, 1 << 30)))
  }

  test("l150 frame-plane grouped occupancy sweep: per-cap legs equal the " +
    "guarded production offset core, truth leg reads recall 1.0, gates " +
    "are loud") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val sig = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val sw = Multimodal.frameOffsetGroupedOccSweep(sig, maxHamming = 2,
        minFrames = 1, maxOffset = 1, caps = Seq(2, 500, 1 << 30))
      .collect().sortBy(_.getLong(0))
    assert(sw.length === 3)
    // each leg's retained offset-pair count IS the guarded production
    // core's at that cap — the shared-pass filter and the production
    // hot-bucket anti-join agree exactly (live-bucket semantics, two
    // implementations; the l149 pin pattern on the frame plane)
    def prod(cap: Int) = Multimodal.videoOffsetNearDupsGroupedFromSigs(
      sig, maxHamming = 2, maxTableOcc = cap, minFrames = 1,
      maxOffset = 1).count()
    assert(sw(0).getLong(2) === prod(2))
    assert(sw(1).getLong(2) === prod(500))
    assert(sw(2).getLong(2) === prod(1 << 30))
    assert(sw.sliding(2).forall(p => p(0).getLong(2) <= p(1).getLong(2)))
    assert(sw.last.getDouble(4) === 1.0 && sw.last.getLong(1) === 0L)
    intercept[IllegalArgumentException](
      Multimodal.frameOffsetGroupedOccSweep(sig, 2, 1, 1, Seq(500, 50, 1 << 30)))
    intercept[IllegalArgumentException](
      Multimodal.frameOffsetGroupedOccSweep(sig, 2, 1, 1, Seq(50, 500)))
    intercept[IllegalArgumentException](
      Multimodal.frameOffsetGroupedOccSweep(sig, 5, 1, 1, Seq(50, 1 << 30)))
  }

  test("l151/l152: aligned and audio-window grouped occupancy sweeps " +
    "equal their guarded production cores per cap (sweep symmetry " +
    "across the perceptual planes)") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    // aligned plane: per-cap legs equal videoNearDupsGroupedFromSigs
    val vsig = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val asw = Multimodal.frameAlignedGroupedOccSweep(vsig, maxHamming = 2,
        minFrames = 2, caps = Seq(2, 500, 1 << 30))
      .collect().sortBy(_.getLong(0))
    def aProd(cap: Int) = Multimodal.videoNearDupsGroupedFromSigs(
      vsig, maxHamming = 2, maxTableOcc = cap, minFrames = 2).count()
    assert(asw(0).getLong(2) === aProd(2))
    assert(asw(1).getLong(2) === aProd(500))
    assert(asw(2).getLong(2) === aProd(1 << 30))
    assert(asw.last.getDouble(4) === 1.0 && asw.last.getLong(1) === 0L)
    // audio-window plane: monotone legs, clean truth, and the truth leg
    // equal to the unguarded banded production pairing (both families
    // lossless at radius 2 — two candidate generators, one pair set)
    val ssw = Multimodal.audioOffsetGroupedOccSweep(spark, docs,
        maxHamming = 2, minWindows = 1, maxOffset = 1,
        caps = Seq(2, 500, 1 << 30))
      .collect().sortBy(_.getLong(0))
    assert(ssw.length === 3)
    assert(ssw.sliding(2).forall(p => p(0).getLong(2) <= p(1).getLong(2)))
    assert(ssw.last.getDouble(4) === 1.0 && ssw.last.getLong(1) === 0L)
    // the truth leg equals the unguarded production offset pairing on
    // the same window signatures (count of folded offset-pair rows)
    val aud = Multimodal.audioOffsetNearDups(spark, docs, maxHamming = 2,
      maxBandOcc = 1 << 30, minWindows = 1, maxOffset = 1).count()
    assert(ssw.last.getLong(2) === aud)
  }

  test("sigGuardCapForRecall: picks the smallest cap meeting target from " +
    "a measured sweep, degrades to the unguarded sentinel, and the gates " +
    "are loud") {
    val sentinel = (1L << 30)
    val sweep = Seq(
      (50L, 9L, 70L, 100L, 0.70),
      (200L, 3L, 95L, 100L, 0.95),
      (500L, 1L, 98L, 100L, 0.98),
      (sentinel, 0L, 100L, 100L, 1.0))
      .toDF("max_table_occ", "n_hot_tables", "n_pairs", "n_truth", "recall")
    assert(KnobSchedule.sigGuardCapForRecall(sweep, 0.95) === 200)
    assert(KnobSchedule.sigGuardCapForRecall(sweep, 0.60) === 50)
    assert(KnobSchedule.sigGuardCapForRecall(sweep, 0.98) === 500)
    // no candidate cap reaches 0.99 — degrade to guard-off (the bm25
    // cap-1000 fallback shape), never to a silent recall loss
    assert(KnobSchedule.sigGuardCapForRecall(sweep, 0.99) === sentinel.toInt)
    // a pair-free corpus sweeps NaN recalls: nothing to lose, smallest
    // cap wins
    val vacuous = Seq((50L, 0L, 0L, 0L, Double.NaN),
      (sentinel, 0L, 0L, 0L, Double.NaN))
      .toDF("max_table_occ", "n_hot_tables", "n_pairs", "n_truth", "recall")
    assert(KnobSchedule.sigGuardCapForRecall(vacuous, 0.95) === 50)
    // loud gates: duplicate caps (a multi-width band sweep not filtered
    // to one width), a missing sentinel, an empty sweep
    val dup = sweep.unionByName(sweep)
    intercept[IllegalArgumentException](
      KnobSchedule.sigGuardCapForRecall(dup, 0.95))
    val noSentinel = sweep.filter(col("max_table_occ") < sentinel)
    intercept[IllegalArgumentException](
      KnobSchedule.sigGuardCapForRecall(noSentinel, 0.95))
    intercept[IllegalArgumentException](
      KnobSchedule.sigGuardCapForRecall(sweep.limit(0), 0.95))
    intercept[IllegalArgumentException](
      KnobSchedule.sigGuardCapForRecall(sweep, 0.0))
  }

  test("calibrated guard cap: sigGuardCapCalibrated matches the hand " +
    "choice from the declared sweep in BOTH key families, and the " +
    "calibrated Auto twins are byte-equal to the fixed form at that cap") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val blobs = Multimodal.encodePpm(spark, docs).toDF().localCheckpoint()
    val sig = Multimodal.dHash(spark, blobs).toDF().localCheckpoint()
    val caps = Seq(2, 50, 1 << 30)
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // GROUPED era (targetOcc = 0 forces the switch): the calibrated cap
    // is exactly what the closure picks off the l149 sweep
    val gCap = Multimodal.sigGuardCapCalibrated(sig, maxHamming = 2,
      targetRecall = 0.95, caps = caps, targetOcc = 0L)
    assert(gCap === KnobSchedule.sigGuardCapForRecall(
      Multimodal.sigGroupedOccSweep(sig.select(col("doc_id"),
        col("dhash")), 2, caps), 0.95, "max_table_occ"))
    // BANDED era (default schedule at this n resolves inside the
    // ladder): the calibrated cap comes off the banded sweep at the
    // scheduled width with the widest-lossless unguarded truth leg
    val bCap = Multimodal.sigGuardCapCalibrated(sig, maxHamming = 2,
      targetRecall = 0.95, caps = caps)
    assert(caps.contains(bCap))
    // wiring: the Auto twin with guardTargetRecall IS the Auto twin at
    // the calibrated constant — both eras
    assert(rws(Multimodal.imageNearDupsAuto(spark, blobs, targetOcc = 0L,
        guardTargetRecall = Some(0.95))) ===
      rws(Multimodal.imageNearDupsAuto(spark, blobs, targetOcc = 0L,
        maxBandOcc = gCap)))
    assert(rws(Multimodal.imageNearDupsAuto(spark, blobs,
        guardTargetRecall = Some(0.95))) ===
      rws(Multimodal.imageNearDupsAuto(spark, blobs, maxBandOcc = bCap)))
    // the semantic claim the knob exists for: the calibrated pair table
    // keeps >= target of the unguarded truth pairs
    val nTruth = Multimodal.sigPairsGrouped(sig, 2, 1 << 30).count()
    val nCal = Multimodal.sigPairsGrouped(sig, 2, gCap).count()
    assert(nTruth === 0L || nCal.toDouble / nTruth >= 0.95)
    // frame plane: offset and aligned modes both calibrate off the
    // shared sweep core (grouped era); offset equals the hand choice
    val vsig = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val fCap = Multimodal.frameGuardCapCalibrated(vsig, maxHamming = 2,
      minFrames = 1, maxOffset = 1, aligned = false, targetRecall = 0.95,
      caps = caps, targetOcc = 0L)
    assert(fCap === KnobSchedule.sigGuardCapForRecall(
      Multimodal.frameOffsetGroupedOccSweep(vsig, 2, 1, 1, caps),
      0.95, "max_table_occ"))
    val aCap = Multimodal.frameGuardCapCalibrated(vsig, maxHamming = 2,
      minFrames = 1, maxOffset = 0, aligned = true, targetRecall = 0.95,
      caps = caps, targetOcc = 0L)
    assert(caps.contains(aCap))
    // wiring on the offset Auto: calibrated form IS the fixed form at
    // the cap the calibrator returns (default ladder, banded era)
    val capDef = Multimodal.frameGuardCapCalibrated(vsig, maxHamming = 2,
      minFrames = 1, maxOffset = 1, aligned = false, targetRecall = 0.95)
    val vid = Multimodal.encodeVideo(spark, docs).toDF().localCheckpoint()
    assert(rws(Multimodal.videoOffsetNearDupsAuto(spark, vid,
        minFrames = 1, guardTargetRecall = Some(0.95))) ===
      rws(Multimodal.videoOffsetNearDupsAuto(spark, vid, minFrames = 1,
        maxBandOcc = capDef)))
  }

  test("audioTrimHeadContainer: a zero-sample spec-valid WAV passes " +
    "through as a zero-sample canonical WAV (no phantom sample from the " +
    "size field)") {
    val out = new Array[Byte](44)
    def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    def le16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, off)
    tag(0, "RIFF"); le32(4, 36); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, 8000); le32(28, 16000); le16(32, 2); le16(34, 16)
    tag(36, "data"); le32(40, 0)
    val blobs = Seq((7L, out)).toDF("doc_id", "payload")
    val f = Multimodal.audioFeatures(spark,
      Multimodal.audioTrimHeadContainer(spark, blobs, nSamples = 65).toDF())
      .collect().head
    assert(f.n_samples === 0L && f.n_bytes === 44L && f.sum_s === 0L)
  }

  test("offset-window sweep: pair counts monotone in the window, the " +
    "offset-0 leg equals the frame-aligned pair set, and the ascending-" +
    "offsets gate is loud") {
    val docs = Tables.load(spark, sf001, "documents").limit(300)
      .localCheckpoint()
    val sig = Multimodal.videoFrameHashes(spark,
        Multimodal.encodeVideo(spark, docs).toDF()).toDF()
      .localCheckpoint()
    val sw = Multimodal.frameSigOffsetSweep(sig, maxHamming = 2,
        maxBandOcc = 1 << 30, minFrames = 1, offsets = Seq(0, 1, 2))
      .collect().sortBy(_.getLong(0))
    assert(sw.length === 3)
    // wider windows find supersets — pair counts nondecreasing, the
    // truth leg reads recall exactly 1.0
    assert(sw.sliding(2).forall(p => p(0).getLong(2) <= p(1).getLong(2)))
    assert(sw.last.getDouble(4) === 1.0)
    // the offset-0 unguarded leg IS the frame-aligned pair set (the
    // [0,0] displacement window admits aligned frames only)
    val aligned = Multimodal.videoNearDupsFromSigs(sig, maxHamming = 2,
        maxBandOcc = 1 << 30, minFrames = 1)
      .select(col("doc_a"), col("doc_b")).distinct().count()
    assert(sw.head.getLong(2) === aligned)
    intercept[IllegalArgumentException](
      Multimodal.frameSigOffsetSweep(sig, 2, 1 << 30, 1, Seq(1, 0)))
  }

  test("multimodal decode: encodePpm round-trips through the real P6 parser") {
    // "abc": w = 1 + 'a'%16 = 2, h = 1 + 'c'%16 = 4, header "P6\n2 4\n255\n"
    // (11 B) + 24 raster bytes tiling "abc" cyclically
    val d = docsDf(7L -> "abc")
    val f = Multimodal.decodeFeatures(spark,
      Multimodal.encodePpm(spark, d).toDF()).collect()(0)
    assert(f.width === 2L && f.height === 4L)
    assert(f.n_bytes === 11L + 24L)
    assert(f.sum_bytes === 8L * ('a' + 'b' + 'c')) // 24/3 = 8 full cycles
    // empty text -> the 1x1 '0'-pixel image
    val e = Multimodal.decodeFeatures(spark,
      Multimodal.encodePpm(spark, docsDf(9L -> "")).toDF()).collect()(0)
    assert(e.width === 1L && e.height === 1L && e.sum_bytes === 3L * '0')
  }

  test("P6 parser accepts spec-valid foreign files (comments, CRLF) and " +
    "rejects malformed payloads loudly") {
    import spark.implicits._
    def blobs(payload: Array[Byte]) =
      Seq(Multimodal.BlobRow(1L, payload)).toDS().toDF()
    // a file our encoder never writes: comment lines, CR whitespace, maxval 200
    val foreign = ("P6\n# made elsewhere\n2 1 # dims\n200\r"
      .getBytes("US-ASCII")) ++ Array[Byte](0, 10, 20, 30, 40, 50)
    val f = Multimodal.decodeFeatures(spark, blobs(foreign)).collect()(0)
    assert(f.width === 2L && f.height === 1L)
    assert(f.sum_bytes === (0 + 10 + 20 + 30 + 40 + 50).toLong)
    // malformed: bad magic / truncated raster / zero dims
    for (bad <- Seq(
        "P5\n1 1\n255\n...".getBytes("US-ASCII"),
        "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3),
        "P6\n0 1\n255\n".getBytes("US-ASCII"))) {
      val ex = intercept[org.apache.spark.SparkException](
        Multimodal.decodeFeatures(spark, blobs(bad)).collect())
      assert(ex.getMessage.contains("P6") || ex.getCause != null)
    }
  }

  test("frameSample: one checksum row per scanline, stride sampling") {
    // "abc" image: h = 4 scanlines of w*3 = 6 bytes = 2 full "abc" cycles
    val d = Multimodal.encodePpm(spark, docsDf(5L -> "abc")).toDF()
    val frames = Multimodal.frameSample(spark, d).collect().sortBy(_.frame_idx)
    assert(frames.length === 4)
    assert(frames.map(_.frame_idx).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(frames.forall(_.frame_sum === 2L * ('a' + 'b' + 'c')))
    // stride 2 keeps source rows 0 and 2 (frame_idx is the SOURCE index)
    val strided = Multimodal.frameSample(spark, d, stride = 2).collect()
      .sortBy(_.frame_idx)
    assert(strided.map(_.frame_idx).toSeq === Seq(0L, 2L))
  }

  test("multimodal resize and feature-extract: exact pixel semantics, stages compose") {
    // "abc" image is 2x4; nearest-neighbor /2 keeps pixels (0,0) and (0,2)
    val blobs = Multimodal.encodePpm(spark, docsDf(8L -> "abc")).toDF()
    val r = Multimodal.resize(spark, blobs).collect()(0)
    // output is VALID P6 with halved dims: header "P6\n1 2\n255\n" + 6 bytes
    assert(new String(r.payload.take(11), "US-ASCII") === "P6\n1 2\n255\n")
    assert(r.payload.length === 11 + 6)
    // both kept pixels start at raster offsets divisible by 3 -> "abc" twice
    assert(new String(r.payload.drop(11), "US-ASCII") === "abcabc")
    // per-channel feature stats over the original (8 px, channels tile abc)
    val f = Multimodal.featureExtract(spark, blobs).collect()(0)
    assert(f.n_px === 8L)
    assert(f.r_sum === 8L * 'a' && f.g_sum === 8L * 'b' && f.b_sum === 8L * 'c')
    assert(f.px_min === 'a'.toLong && f.px_max === 'c'.toLong)
    assert(f.mean_px === (8.0 * ('a' + 'b' + 'c')) / 24.0)
    // payload -> payload contract: resize output drops into decode unchanged
    val composed = Multimodal.decodeFeatures(spark,
      Multimodal.resize(spark, blobs).toDF()).collect()(0)
    assert(composed.width === 1L && composed.height === 2L)
    assert(composed.sum_bytes === 2L * ('a' + 'b' + 'c'))
  }

  test("multimodal decode is distributed (partition count preserved, no collect)") {
    val docs = Tables.load(spark, sf001, "documents").repartition(7)
    val ds = Multimodal.decodeFeatures(spark,
      Multimodal.encodePpm(spark, docs).toDF())
    assert(ds.rdd.getNumPartitions === 7)
    assert(ds.count() === 500L)
  }

  // ---------------------------------------------------------------- sketches

  test("approx sketches stay within error bounds of exact twins") {
    val ev = Tables.load(spark, sf001, "events")
    val r = Sketches.profile(ev).collect()
    r.foreach { row =>
      val exact = row.getLong(1).toDouble
      val approx = row.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"HLL error > 10%: $exact vs $approx")
      val p50exact = row.getSeq[Double](3)(1)
      val p50approx = row.getDouble(4)
      assert(math.abs(p50approx - p50exact) / math.max(p50exact.abs, 1e-9) < 0.1,
        s"percentile_approx drift: $p50exact vs $p50approx")
    }
  }

  // ------------------------------------------------------- corpus curation

  test("boilerplateStrip: corpus-frequent shingle flagged, ratio exact") {
    // 6 docs share the shingle "x y z" (df=6); 4 docs are fully unique.
    // permille=300 over 10 docs → hot iff df*1000 > 3000 ⇔ df > 3.
    val d = ((1 to 6).map(i => (i.toLong, s"x y z a$i b$i")) ++
      (7 to 10).map(i => (i.toLong, s"p$i q$i r$i s$i"))).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateStrip(d, n = 3, permille = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    (1 to 6).foreach { i =>
      assert(got(i - 1) === ((i.toLong, 3L, 1L, 1.0 / 3.0)), s"doc $i")
    }
    (7 to 10).foreach { i =>
      assert(got(i - 1) === ((i.toLong, 2L, 0L, 0.0)), s"doc $i")
    }
  }

  test("curationFunnel: each gate drops exactly the crafted failure") {
    val stop3 = "the of and" // 3 stopwords
    val uniq37 = (1 to 37).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // A: passes all — 40 tokens, 3 stopwords (3*20 >= 40), all distinct
      (1L, s"$stop3 $uniq37", 300L),
      // B: fails length
      (2L, s"$stop3 $uniq37", 100L),
      // C: fails tokens (10 tokens)
      (3L, "the a b c d e f g h i", 300L),
      // D: fails repetition (2 distinct trigrams over 38 positions)
      (4L, Seq.fill(20)("a b").mkString(" "), 300L),
      // E: fails stopwords (0 stopwords in 40 tokens)
      (5L, (1 to 40).map(i => s"v$i").mkString(" "), 300L)
    ).toDF("doc_id", "text", "n_chars")
    val got = TextAnalysis.curationFunnel(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, "length", 5L, 4L, 1L),
      (2L, "tokens", 4L, 3L, 1L),
      (3L, "repetition", 3L, 2L, 1L),
      (4L, "stopwords", 2L, 1L, 1L)))
  }

  test("bloomDecontaminate: shared shingle found, clean train doc absent") {
    // md5-bucket split: doc 8 → 93 (eval), docs 1,2 → 60,5 (train).
    // Doc 1 shares exactly the shingle "q w e" with the eval doc; doc 2
    // shares nothing and must not appear.
    val d = Seq(
      (1L, "q w e x y"), (2L, "m n o p q"), (8L, "q w e r t")
    ).toDF("doc_id", "text")
    val got = Dedup.bloomDecontaminate(d, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(_._1 == 1L), got.mkString(","))
    assert(got.length == 1 && got(0)._3 == 1L && got(0)._2 >= 1L)
  }

  test("cmsHeavyHitters: no-collision estimates exact; m=1 degenerates to total") {
    val d = docsDf(1L -> "x x x x y y z", 2L -> "x y")
    // m=1024, 3 distinct tokens → collision-free: est == n
    val got = Sketches.cmsHeavyHitters(d, m = 1024, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._2)
    assert(got.toSeq === Seq(("x", 5L, 5L), ("y", 3L, 3L), ("z", 1L, 1L)))
    // m=1: every token shares the single counter → est = corpus token count
    val one = Sketches.cmsHeavyHitters(d, m = 1, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(one.forall(_._2 == 9L), one.mkString(","))
  }

  test("chunk: window/stride boundaries and digests, hand-computed") {
    val words = (1 to 100).map(i => s"w$i")
    val d = docsDf(1L -> words.mkString(" "))
    val got = TextAnalysis.chunk(d, window = 64, stride = 48)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got.toSeq === Seq(
      (0L, 64L, md5hex(words.slice(0, 64).mkString(" "))),
      (1L, 52L, md5hex(words.slice(48, 100).mkString(" "))),
      (2L, 4L, md5hex(words.slice(96, 100).mkString(" ")))))
  }

  test("perStratumSample: exactly k per stratum, identical under any layout") {
    val docs = Tables.load(spark, sf001, "documents")
    val a = TextAnalysis.perStratumSample(docs, "lang", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = TextAnalysis.perStratumSample(docs.repartition(7), "lang", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a === b, "selection must be partition-layout independent")
    val perStratum = a.groupBy(_._2).map { case (s, rows) => s -> rows.size }
    assert(perStratum.values.forall(_ == 5), perStratum.toString)
  }

  test("cms counters are mergeable: sum of per-half sketches == whole-corpus sketch") {
    // The property that makes CMS work across executors/micro-batches:
    // counter tables built on disjoint slices merge by plain addition into
    // exactly the whole-input table.
    val docs = Tables.load(spark, sf001, "documents").select("doc_id", "text")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    def counters(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy((conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long") % 1024).as("p"))
      .agg(count(lit(1)).as("c"))
    val merged = counters(half1).unionByName(counters(half2))
      .groupBy("p").agg(sum("c").as("c"))
    val whole = counters(docs).withColumn("c", col("c").cast("long"))
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons " +
    "degrade to the l15 assignment; the per-doc split provably leaks") {
    // 60 planted near-dup pairs: (i, i+1000) share identical text, every
    // other doc is unique. Identical text ⇒ jaccard 1.0 ⇒ each pair is a
    // cluster.
    val base = (0L until 120L).map(i =>
      (i, s"w${i} x${i} y${i} z${i} q${i} r${i}"))
    val dups = (0L until 60L).map(i =>
      (i + 1000L, s"w${i} x${i} y${i} z${i} q${i} r${i}"))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, n = 3, minJ = 0.5)
    val got = Dedup.leakageSafeSplit(docs, pairs)
    // every doc labeled exactly once, splits drawn from the 3-way domain
    assert(got.count() === 180L)
    assert(got.select("doc_id").distinct().count() === 180L)
    assert(got.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    // leakage safety: no cluster spans two splits
    val straddling = got.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(straddling === 0L)
    // each planted pair shares one cluster (and therefore one split)
    val pairSplits = got.filter(col("doc_id") < 60L)
      .select(col("doc_id"), col("split").as("s1"))
      .join(got.filter(col("doc_id") >= 1000L)
        .select((col("doc_id") - 1000L).as("doc_id"), col("split").as("s2")),
        "doc_id")
    assert(pairSplits.count() === 60L)
    assert(pairSplits.filter(col("s1") =!= col("s2")).count() === 0L)
    // singletons (cluster_id == doc_id) carry exactly stableSplit's label
    val singles = got.filter(col("cluster_id") === col("doc_id"))
      .join(TextAnalysis.stableSplit(docs.withColumn("lang", lit("en")))
        .select(col("doc_id"), col("split").as("l15")), "doc_id")
    assert(singles.filter(col("split") =!= col("l15")).count() === 0L)
    // and the motivation: the per-doc l15 split DOES straddle planted
    // near-dup pairs (each pair lands same-split with p ≈ 0.66 — 60
    // pairs make at least one straddle a certainty for the fixed md5)
    val l15 = TextAnalysis.stableSplit(docs.withColumn("lang", lit("en")))
    val l15Straddle = l15.filter(col("doc_id") < 60L)
      .select(col("doc_id"), col("split").as("s1"))
      .join(l15.filter(col("doc_id") >= 1000L)
        .select((col("doc_id") - 1000L).as("doc_id"), col("split").as("s2")),
        "doc_id")
      .filter(col("s1") =!= col("s2")).count()
    assert(l15Straddle > 0L)
  }

  test("oovRateAudit: full vocab covers train exactly; totals tie out; " +
    "oov counts shrink monotonically in vocab size") {
    val docs = Tables.load(spark, sf001, "documents")
    val big = TextAnalysis.oovRateAudit(docs, vocabSize = 100000)
    // a vocab larger than the train bigram space covers train completely
    assert(big.filter(col("split") === "train")
      .filter(col("n_oov") =!= 0L).count() === 0L)
    // cell totals sum to the corpus bigram count
    val totalBigrams = docs
      .select(greatest(TextOps.tokenCount(col("text")) - 1, lit(0)).as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(big.agg(sum(col("n_bigrams"))).head().getLong(0) === totalBigrams)
    // rate is the exact integer division
    assert(big.filter(
      col("oov_rate") =!= col("n_oov").cast("double") / col("n_bigrams"))
      .count() === 0L)
    // shrinking the vocab can only grow each cell's OOV count
    val small = TextAnalysis.oovRateAudit(docs, vocabSize = 10)
      .select(col("split"), col("source"), col("n_oov").as("small_oov"))
    val joined = big.join(small, Seq("split", "source"))
    assert(joined.count() === big.count())
    assert(joined.filter(col("small_oov") < col("n_oov")).count() === 0L)
  }

  test("centroidOutliers: hand-computed prototype sims, only the " +
    "anti-aligned vector flags, layout-independent") {
    // label 0: [1,0], [1,0], [-1,0] → centroid [1/3, 0]; sims 1, 1, −1 —
    // only the anti-aligned vector scores below 0. label 1: a single
    // vector IS its centroid → sim 1.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f), 0),
      (4L, Array(0.0f, 2.0f), 1)).toDF("vec_id", "embedding", "label")
    Seq(1, 5).foreach { parts =>
      val got = Similarity.centroidOutliers(vecs.repartition(parts))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3)))
      assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
      assert(got.map(_._2).zip(Seq(1.0, 1.0, -1.0, 1.0))
        .forall { case (a, b) => math.abs(a - b) < 1e-9 }, got.toSeq)
      assert(got.map(_._3).toSeq === Seq(false, false, true, false),
        s"parts=$parts")
    }
  }

  test("packEfficiency: hand-computed fills — straddle pack over 1, " +
    "tail pack under 1") {
    // token counts 3,4,2,1 at budget 5: start offsets 0,3,7,9 → packs
    // 0,0,1,1; pack 0 holds 7 tokens (straddles, fill 1.4), pack 1 holds
    // 3 (fill 0.6)
    val d = docsDf(1L -> "a b c", 2L -> "a b c d", 3L -> "a b", 4L -> "a")
    val got = TextAnalysis.packEfficiency(d, budgetTokens = 5L)
      .orderBy("pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((0L, 2L, 7L, 1.4), (1L, 2L, 3L, 0.6)))
  }

  test("mixtureOrder: salted rank equals the straight-line per-source " +
    "md5 rank; keys are rank/√tokens; layout-independent; null source " +
    "is its own group") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "a b c", "src0"), (2L, "d e", "src0"), (3L, "f", "src0"),
      (4L, "g h i j", null), (5L, "", null))
    val docs = rows.toDF("doc_id", "text", "source")
    // straight-line reference on the driver
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the shared tokenizer counts empty string as ONE (empty) token —
    // the pinned split("", " ") == [""] semantics
    def ntok(t: String) = if (t.isEmpty) 1L else t.split(" ").length.toLong
    val expected = rows.groupBy(_._3).flatMap { case (src, ds) =>
      val w = math.sqrt(ds.map(d => ntok(d._2)).sum.toDouble)
      ds.sortBy(d => md5hex(d._1.toString)).zipWithIndex.map {
        case ((id, _, _), i) => (id, src, (i + 1).toLong, (i + 1).toDouble / w)
      }
    }.toSeq.sortBy(_._1)
    Seq(1, 7).foreach { parts =>
      val got = TextAnalysis.mixtureOrder(docs.repartition(parts))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq === expected, s"parts=$parts")
    }
  }

  test("mixtureOrder: a zero-token (all-null-text) source is dropped " +
    "from the schedule, not a divide-by-zero") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, Option("a b"), "s0"), (2L, Option.empty[String], "dead"),
      (3L, Option.empty[String], "dead"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.mixtureOrder(docs)
      .orderBy("order_key", "source", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    // only the live source is scheduled; no ANSI DIVIDE_BY_ZERO failure
    assert(got.map(_._2).toSeq === Seq("s0"))
    assert(!got.head._3.isInfinite && got.head._3 > 0.0)
  }

  test("vocabDrift: hand-computed chi-square incl. the zero-count cell, " +
    "layout-independent") {
    val spark2 = spark
    import spark2.implicits._
    // src0 = "a a b" (a:2, b:1), src1 = "b b" (b:2); corpus a:2 b:3 of 5.
    // src1's missing 'a' contributes the zero-cell term (0 − p_a)²/p_a.
    val docs = Seq((1L, "a a b", "src0"), (2L, "b b", "src1"))
      .toDF("doc_id", "text", "source")
    val pA = 2.0 / 5.0; val pB = 3.0 / 5.0
    def term(f: Double, p: Double) = (f - p) * (f - p) / p
    val exp0 = term(2.0 / 3.0, pA) + term(1.0 / 3.0, pB)
    val exp1 = term(0.0 / 2.0, pA) + term(2.0 / 2.0, pB)
    Seq(1, 4).foreach { parts =>
      val got = TextAnalysis.vocabDrift(docs.repartition(parts))
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(got.map(g => (g._1, g._2)).toSeq ===
        Seq(("src0", 3L), ("src1", 2L)))
      assert(math.abs(got(0)._3 - exp0) < 1e-15, s"parts=$parts ${got(0)}")
      assert(math.abs(got(1)._3 - exp1) < 1e-15, s"parts=$parts ${got(1)}")
    }
  }

  test("qualityThresholdSweep: nine k/50 thresholds per source, " +
    "hand-computed pass counts") {
    val spark2 = spark
    import spark2.implicits._
    // src0: sr = 0.5 and sr = 0.0 → n_pass = 1 at every threshold
    val docs = Seq((1L, "the a b c", "src0"), (2L, "b c d e", "src0"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityThresholdSweep(docs)
      .orderBy("threshold").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length === 9)
    assert(got.map(_._2).toSeq === (1 to 9).map(_ / 50.0))
    assert(got.forall(r => r._1 == "src0" && r._3 == 2L && r._4 == 1L
      && r._5 == 0.5), got.toSeq)
  }

  test("jaccardThresholdSweep: hand-computed decile buckets and " +
    "cumulative at-or-above counts") {
    // docs 1/3 identical (j = 1.0, bucket 10); each vs doc 2 shares
    // {abc, bcd} of 4 distinct shingles (j = 0.5, bucket 5)
    val d = docsDf(1L -> "a b c d e", 2L -> "a b c d x", 3L -> "a b c d e")
    val got = Dedup.jaccardThresholdSweep(d).orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((5L, 2L, 3L), (10L, 1L, 1L)))
    // the hot-shingle guard passes through: dropping shingles with
    // df > 2 removes {abc, bcd} (df 3), leaving cde/cdx/cde — docs 1/3
    // still fully match (j = 1), doc 2 shares nothing
    val guarded = Dedup.jaccardThresholdSweep(d, maxDocFreq = Some(2L))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(guarded.toSeq === Seq((10L, 1L, 1L)))
  }

  test("clusterSizeProfile: hand-computed histogram; total removals " +
    "equal the dedup apply's savings on the corpus") {
    // 3 identical docs (one size-3 cluster) + 1 singleton
    val d = docsDf(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "a b c d e",
      4L -> "p q r s t")
    val got = Dedup.clusterSizeProfile(d, Dedup.jaccardPairs(d))
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 1L, 1L, 0L), (3L, 1L, 3L, 2L)))
    // the estimator's contract on the real corpus: Σ n_removable ==
    // docs removed by the keep-one apply (same pairs, same clusters)
    val docs = Tables.load(spark, sf001, "documents")
    val profile = Dedup.clusterSizeProfile(docs, Dedup.jaccardPairs(docs))
    val removable = profile.agg(sum("n_removable")).head().getLong(0)
    val total = docs.count()
    val kept = Dedup.dedupApply(docs).count()
    assert(removable === total - kept)
    // and size-1 rows carry the whole corpus minus clustered docs
    assert(profile.agg(sum("n_docs")).head().getLong(0) === total)
  }

  // ------------------------------------------------- importance weights (l67)

  test("importanceWeights: target-alike docs outrank disjoint-vocab docs; " +
    "featureless docs get null importance; n_feat conserves occurrences") {
    // target corpus: two docs sharing a bigram vocabulary; eval docs: one
    // that reuses the target bigrams exactly, one with a disjoint
    // vocabulary. Importance must rank the reuser strictly above the
    // stranger — that ordering IS the operator's contract; with B = 256
    // and four distinct bigrams a collision flipping it would require
    // md5 32-bit prefixes to collide mod 256 across chosen strings.
    val d = Seq(
      (1L, "alpha beta gamma", "t"),
      (2L, "alpha beta delta", "t"),
      (3L, "alpha beta gamma", "e"),
      (4L, "zeta eta theta", "e"),
      (5L, "solo", "e") // one token -> zero bigram features
    ).toDF("doc_id", "text", "source")
    val w = TextAnalysis.importanceWeights(d, col("source") === "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .toMap
    // occurrence conservation: n_feat sums to the corpus bigram count
    assert(w.values.map(_._1).sum ===
      Seq("alpha beta gamma", "alpha beta delta", "alpha beta gamma",
        "zeta eta theta", "solo")
        .map(t => math.max(0, t.split(" ").length - 1)).sum)
    assert(w(5L) === ((0L, None))) // featureless -> null importance
    val imp3 = w(3L)._2.get
    val imp4 = w(4L)._2.get
    assert(imp3 > imp4,
      s"target-alike doc must outrank disjoint-vocab doc: $imp3 vs $imp4")
    // hand-computed exact values (no bucket collisions among the four
    // distinct bigrams, N_t = 4, N_s = 8, B = 256):
    //   doc3: num = 1·(2+1) + 1·(1+1) = 5, den = 1·(3+1) + 1·(2+1) = 7
    //   doc4: num = 1·1 + 1·1 = 2,        den = 1·2 + 1·2 = 4
    //   importance = (num/(N_t+B)) / (den/(N_s+B))
    // — absolute magnitudes sit below 1 here because the add-1 smoothing
    // mass (B = 256 buckets) dwarfs this micro-corpus; the weight is an
    // ORDERING signal, and only the ordering is the contract.
    assert(math.abs(imp3 - (5.0 / 260.0) / (7.0 / 264.0)) < 1e-12)
    assert(math.abs(imp4 - (2.0 / 260.0) / (4.0 / 264.0)) < 1e-12)
  }

  test("importanceModel + importanceScore == fused importanceWeights " +
    "(the incremental split is value-identical to the declared op)") {
    val docs = Tables.load(spark, sf001, "documents")
    val model = TextAnalysis.importanceModel(docs, col("lang") === "en")
    // the model is the FULL bucket domain (scoring joins are total) with
    // constant totals on every row
    assert(model.count() === 256L)
    assert(model.select("nt_tot", "ns_tot").distinct().count() === 1L)
    val composed = TextAnalysis.importanceScore(docs, model)
    val fused = TextAnalysis.importanceWeights(docs, col("lang") === "en")
    // identical integer sums and identical division order -> bit-equal
    // doubles, so exact except() in both directions
    assert(composed.except(fused).isEmpty && fused.except(composed).isEmpty)
  }

  test("importanceWeights: corpus-level sanity at sf0.001 - en docs " +
    "average above non-en when en is the target") {
    val docs = Tables.load(spark, sf001, "documents")
    val w = TextAnalysis.importanceWeights(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val means = w.filter(col("importance").isNotNull)
      .groupBy(col("lang") === "en").agg(avg(col("importance")))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"en mean ${means(true)} must exceed non-en mean ${means(false)}")
  }

  // ------------------------------------------- cross-source near-dup matrix

  /** Shared l68/l69 micro-fixture: near-dup cluster {1, 2} inside srcA,
    * cluster {3, 4} straddling srcA/srcB, doc 5 a srcB singleton; every
    * text is exactly 6 whitespace tokens. */
  private def srcFixture = Seq(
    (1L, "a b c d e f", "srcA"),
    (2L, "a b c d e f", "srcA"),
    (3L, "p q r s t u", "srcA"),
    (4L, "p q r s t u", "srcB"),
    (5L, "v w x y z zz", "srcB"))
    .toDF("doc_id", "text", "source")

  test("nearDupSourceMatrix: pairs land in the right unordered cells") {
    val d = srcFixture
    val got = Dedup.nearDupSourceMatrix(d, Dedup.jaccardPairs(d, n = 3, minJ = 0.5))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // (1,2) is an intra-srcA pair touching 2 docs; (3,4) is the
    // cross-source cell; doc 5 pairs with nothing and appears nowhere
    assert(got === Set(
      ("srcA", "srcA", 1L, 2L),
      ("srcA", "srcB", 1L, 2L)))
  }

  test("nearDupSourceMatrix: cells total the pair graph (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, minJ = 0.5).localCheckpoint()
    val m = Dedup.nearDupSourceMatrix(docs, pairs).localCheckpoint()
    assert(m.agg(sum(col("n_pairs"))).first().getLong(0) === pairs.count())
    assert(m.filter(col("src_a") > col("src_b")).isEmpty)
  }

  // ---------------------------------------------------- excerpt removal

  test("containmentDedupApply: excerpts drop, supersets and exact-dup " +
    "min ids survive") {
    val d = Seq(
      (1L, "a b c d e f g h"), // superset — survives
      (2L, "a b c d e"),       // all 3 shingles inside doc 1 — drops
      (3L, "p q r s"),         // exact-dup pair: min id survives
      (4L, "p q r s"),         // equal sizes, larger id — drops
      (5L, "z1 z2 z3 z4"))     // shares nothing — survives
      .toDF("doc_id", "text")
    val got = Dedup.containmentDedupApply(d, n = 3, minC = 0.9)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // doc 1 survives because containment is ASYMMETRIC: 1-in-2 is only
    // 3/6 = 0.5 — the fullest version of the content is kept
    assert(got === Array(1L, 3L, 5L))
  }

  // ------------------------------------------------- effective-token audit

  test("effectiveTokens: keep-one min-id rule, hand-computed totals") {
    val d = srcFixture
    val got = Dedup.effectiveTokens(d, Dedup.jaccardPairs(d, n = 3, minJ = 0.5))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    // srcA holds docs 1,2,3 — cluster {1,2} keeps 1, doc 3 is cluster
    // {3,4}'s canonical: kept docs {1,3}. srcB holds 4 (loser to 3) and
    // singleton 5: kept {5}.
    assert(got.toSeq === Seq(
      ("srcA", 3L, 18L, 2L, 12L, 6.0 / 18.0),
      ("srcB", 2L, 12L, 1L, 6L, 6.0 / 12.0)))
  }

  test("effectiveTokens: reconciles with clusterSizeProfile (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val pairs = Dedup.jaccardPairs(docs, n = 3, minJ = 0.5).localCheckpoint()
    val et = Dedup.effectiveTokens(docs, pairs).localCheckpoint()
    val removable = Dedup.clusterSizeProfile(docs, pairs)
      .agg(sum(col("n_removable"))).first().getLong(0)
    assert(et.agg(sum(col("n_docs"))).first().getLong(0) === docs.count())
    // docs removed by a keep-one apply == Σ (size-1) over clusters
    val r = et.agg(sum(col("n_docs")), sum(col("n_docs_kept"))).first()
    assert(r.getLong(0) - r.getLong(1) === removable)
  }

  // ------------------------------------------------------------ epoch plan

  test("epochPlan: sqrt allocation, epochs, over-repetition flag") {
    // srcS has 4 tokens, srcL has 16: w = 2 vs 4, tw = 6; budget 60 ->
    // alloc 20/40 -> epochs 5.0/2.5 -> only the SMALL source over-repeats
    // (the sqrt rule upweights small sources into repetition first).
    val d = Seq(
      (1L, "a b c d", "srcS"),
      (2L, "e f g h", "srcL"),
      (3L, "i j k l", "srcL"),
      (4L, "m n o p", "srcL"),
      (5L, "q r s t", "srcL"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.epochPlan(d, totalBudget = 60L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      ("srcL", 16L, 4.0 / 6.0, 40.0, 2.5, false),
      ("srcS", 4L, 2.0 / 6.0, 20.0, 5.0, true)))
  }

  test("epochPlan: weights sum to 1, allocation spends the budget, " +
    "epochs fall as source size grows (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val p = TextAnalysis.epochPlan(docs, totalBudget = 500000L).collect()
    assert(math.abs(p.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    assert(math.abs(p.map(_.getDouble(3)).sum - 500000.0) < 1e-6)
    p.foreach(r => assert(r.getBoolean(5) === (r.getDouble(4) > 4.0)))
    // sqrt damping: strictly more epochs for strictly smaller sources
    val bySize = p.sortBy(_.getLong(1))
    bySize.sliding(2).foreach { case Array(a, b) =>
      if (a.getLong(1) < b.getLong(1))
        assert(a.getDouble(4) > b.getDouble(4))
    }
  }

  // ------------------------------------------------------- exact ranks

  test("qualityRanks: bucket-prefix rank == global sort rank, deciles " +
    "partition the corpus near-evenly (sf0.001)") {
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("stop_ratio"), col("doc_id"))
    val docs = Tables.load(spark, sf001, "documents")
    val got = TextAnalysis.qualityRanks(docs).localCheckpoint()
    val n = got.count()
    // the salted two-level rank must equal the single-sort row_number
    val want = TextAnalysis.quality(docs)
      .filter(col("stop_ratio").isNotNull)
      .select(col("doc_id"),
        row_number().over(W).cast("long").as("want_rank"))
    assert(got.join(want, "doc_id")
      .filter(col("q_rank") =!= col("want_rank")).isEmpty)
    // a permutation of 1..N
    val mm = got.agg(min(col("q_rank")), max(col("q_rank")),
      countDistinct(col("q_rank"))).first()
    assert((mm.getLong(0), mm.getLong(1), mm.getLong(2)) === ((1L, n, n)))
    // floor-rule deciles: sizes differ by at most one
    val sizes = got.groupBy(col("decile")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length === 10 && sizes.max - sizes.min <= 1)
  }

  test("outlierRanks: embedding-plane exact ranks == global sort rank; " +
    "decile 0 holds the worst centroid fit (sf0.001)") {
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("cent_sim"), col("vec_id"))
    val vecs = Tables.load(spark, sf001, "embeddings")
    val got = Similarity.outlierRanks(vecs).localCheckpoint()
    val want = Similarity.centroidOutliers(vecs)
      .select(col("vec_id"),
        row_number().over(W).cast("long").as("want_rank"))
    assert(got.join(want, "vec_id")
      .filter(col("sim_rank") =!= col("want_rank")).isEmpty)
    // decile sizes differ by at most one; the global minimum sits in
    // decile 0 (the budgeted outlier set)
    val sizes = got.groupBy(col("decile")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length === 10 && sizes.max - sizes.min <= 1)
    assert(got.orderBy(col("cent_sim")).limit(1)
      .select(col("decile")).first().getLong(0) === 0L)
  }

  test("signalAgreement: cells total the corpus, deciles in range (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val cells = TextAnalysis.signalAgreement(docs).localCheckpoint()
    val scored = TextAnalysis.quality(docs)
      .filter(col("stop_ratio").isNotNull && col("mean_tok_len").isNotNull)
      .count()
    assert(cells.agg(sum(col("n_docs"))).first().getLong(0) === scored)
    assert(cells.filter(col("stop_decile") < 0 || col("stop_decile") > 9 ||
      col("len_decile") < 0 || col("len_decile") > 9).isEmpty)
  }

  test("epochPlan composed over keep-one survivors budgets on " +
    "effectiveTokens' unique tokens") {
    // the scaladoc'd composition: budget on UNIQUE tokens by feeding the
    // plan the dedup survivors — its n_tokens column must equal
    // effectiveTokens' n_tokens_kept per source
    val d = srcFixture
    val pairs = Dedup.jaccardPairs(d, n = 3, minJ = 0.5).localCheckpoint()
    val et = Dedup.effectiveTokens(d, pairs)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val kept = Dedup.keepOneSurvivors(d, pairs)
    assert(kept.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      === Array(1L, 3L, 5L))
    val plan = TextAnalysis.epochPlan(kept, totalBudget = 60L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plan === Map("srcA" -> 12L, "srcB" -> 6L))
    assert(plan === et.filter(_._2 > 0))
  }

  test("qualityTokenTradeoff: suffix sums and kept fractions (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val rows = TextAnalysis.qualityTokenTradeoff(docs)
      .orderBy(col("decile")).collect()
    assert(rows.length === 10)
    val total = rows.map(_.getLong(2)).sum
    // keeping decile 0 and above keeps every token, fraction exactly 1
    assert(rows.head.getLong(3) === total)
    assert(rows.head.getDouble(4) === 1.0)
    // the cumulative column IS the suffix-sum of per-decile masses
    assert(rows.map(_.getLong(3)).toSeq ===
      rows.map(_.getLong(2)).scanRight(0L)(_ + _).init.toSeq)
    // the top decile keeps exactly its own mass
    assert(rows.last.getLong(3) === rows.last.getLong(2))
  }

  test("noveltyCurve: mass conservation, first-decile novelty, layout " +
    "independence (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val got = Dedup.noveltyCurve(docs).orderBy(col("decile"))
      .localCheckpoint()
    val rows = got.collect()
    // every decile present is in [0, 9]; n_new <= n_seen per row
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
    // Σ n_new = corpus-wide distinct shingles; the last cumulative row
    // equals that total (vocab is fully accounted for)
    val totalDistinct = TextOps.docShingles(docs, 3)
      .select(md5(col("s"))).distinct().count()
    assert(rows.map(_.getLong(2)).sum === totalDistinct)
    assert(rows.last.getLong(4) === totalDistinct)
    // the earliest decile sees only new shingles: frac_new = 1.0 exactly
    assert(rows.head.getLong(2) === rows.head.getLong(1))
    assert(rows.head.getDouble(3) === 1.0)
    // md5-decile assignment is content/layout independent: a repartition
    // changes nothing
    val re = Dedup.noveltyCurve(docs.repartition(7)).orderBy(col("decile"))
    assert(got.exceptAll(re).isEmpty && re.exceptAll(got).isEmpty)
  }

  test("sourceSketchAudit: k >= union makes the estimate exact; sketch " +
    "is the true bottom-k (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    // k larger than any source's shingle inventory: the sketch IS the
    // set, M is the whole union, and the estimator must equal the exact
    // Jaccard bit-for-bit
    val exactK = Dedup.sourceSketchAudit(docs, n = 3, k = 1000000)
    assert(exactK.filter(col("err") =!= 0.0).isEmpty)
    // at k = 128 the sketch per source is exactly the 128 smallest
    // distinct 52-bit hashes (cross-check bounded_top_m against a
    // window-rank formulation)
    val hs = docs
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(TextOps.shinglesFromTokens(col("toks"), 3)).as("s"))
      .select(col("source"),
        conv(substring(md5(col("s")), 1, 13), 16, 10).cast("long").as("h"))
      .distinct()
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    val wantSk = hs.withColumn("rn", row_number().over(W))
      .filter(col("rn") <= 128)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("want"))
    val gotSk = hs.groupBy(col("source"))
      .agg(call_function("bounded_top_m",
        negate(col("h").cast("double")), col("h"), lit(128)).as("tm"))
      .select(col("source"),
        transform(col("tm"), x => x.getField("id")).as("got"))
    assert(gotSk.join(wantSk, "source")
      .filter(col("got") =!= col("want")).isEmpty)
    // the audit table itself: estimates in [0, 1], sketch size <= k
    val audit = Dedup.sourceSketchAudit(docs, n = 3, k = 128)
      .localCheckpoint()
    assert(audit.filter(col("j_est") < 0.0 || col("j_est") > 1.0 ||
      col("n_sketch") > 128).isEmpty)
  }

  test("mergeSourceSketches: sketching halves and merging equals " +
    "sketching the union (sf0.001)") {
    // the associativity the incremental claim rests on: bottom-k of the
    // union of two bottom-k sketches IS the bottom-k of the united sets
    val docs = Tables.load(spark, sf001, "documents")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val k = 16
    val merged = Dedup.mergeSourceSketches(
      Dedup.sourceSketchTable(a, 3, k), Dedup.sourceSketchTable(b, 3, k), k)
    val direct = Dedup.sourceSketchTable(docs, 3, k)
    assert(merged.join(direct.withColumnRenamed("sk", "want"), "source")
      .filter(col("sk") =!= col("want")).isEmpty)
    assert(merged.count() === direct.count())
  }

  test("hubnessAudit: vector and edge mass conservation (sf0.001)") {
    val vecs = Tables.load(spark, sf001, "embeddings")
    val got = Similarity.hubnessAudit(vecs, samplePct = 20, k = 5)
      .localCheckpoint()
    val n = vecs.count()
    val nQueries = vecs
      .filter(TextOps.splitBucket(col("vec_id")) < 20).count()
    // every corpus vector lands in exactly one in-degree bin
    assert(got.agg(sum(col("n_vecs"))).first().getLong(0) === n)
    // each query emits exactly k edges, so Σ degree·count = |Q|·k
    assert(got.agg(sum(col("in_degree") * col("n_vecs"))).first()
      .getLong(0) === nQueries * 5)
    assert(got.filter(col("in_degree") < 0).isEmpty)
  }

  test("splitLeakageMatrix: pairs, bounds, and agreement with the " +
    "decontamination verdict (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val m = Dedup.splitLeakageMatrix(docs).localCheckpoint()
    val rows = m.collect()
    // only the three boundary pairs can appear, in lexicographic order
    val allowed = Set(("test", "train"), ("test", "val"), ("train", "val"))
    assert(rows.forall(r => allowed(r.getString(0) -> r.getString(1))))
    // containments and jaccard are fractions
    assert(m.filter(col("contain_a") < 0 || col("contain_a") > 1 ||
      col("contain_b") < 0 || col("contain_b") > 1 ||
      col("jaccard") < 0 || col("jaccard") > 1).isEmpty)
    // the train<->test cell is non-empty exactly when l24's per-doc
    // decontamination (same split rule, same shingles) finds any
    // contaminated train doc
    val cellNonEmpty = rows.exists(r =>
      r.getString(0) == "test" && r.getString(1) == "train" && r.getLong(2) > 0)
    val l24NonEmpty = Dedup.decontaminate(docs).limit(1).count() > 0
    assert(cellNonEmpty === l24NonEmpty)
  }

  test("dupTrend: mass conservation, exact dup totals on a twinned " +
    "corpus, zero dups on the dup-free corpus (sf0.001)") {
    val d = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    // dup-free corpus: no doc can duplicate an earlier decile
    assert(Dedup.dupTrend(d).filter(col("n_dup_of_earlier") > 0).isEmpty)
    val corpus = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 1000000L))
    val got = Dedup.dupTrend(corpus).orderBy(col("decile"))
      .localCheckpoint()
    val n = corpus.count()
    assert(got.agg(sum(col("n_docs"))).first().getLong(0) === n)
    // every text has exactly two copies; the later one is a dup iff the
    // two copies' md5 deciles differ — count those digests directly
    val dec = floor(TextOps.splitBucket(col("doc_id")).cast("double") / 10.0)
    val wantDups = corpus
      .select(md5(col("text")).as("h"), dec.as("b"))
      .groupBy(col("h")).agg(countDistinct(col("b")).as("nb"))
      .filter(col("nb") === 2).count()
    assert(got.agg(sum(col("n_dup_of_earlier"))).first().getLong(0)
      === wantDups)
    // earliest decile present sees no earlier-decile dups; cum columns
    // are monotone
    assert(got.collect().head.getLong(2) === 0L)
    val cum = got.collect().map(_.getLong(4))
    assert(cum.sameElements(cum.sorted))
  }

  test("bandConfigSweep: exact dup caught by every config; candidate sets " +
    "nest as bands grow (sf0.001)") {
    // an exact duplicate has identical signatures — every band of every
    // config matches, so recall of the (1,2) truth pair is 1.0 per config
    val d = docsDf(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j",
      3L -> "p q r s t u v w x y")
    val micro = Dedup.bandConfigSweep(d, n = 3, k = 16,
      bandConfigs = Seq(2, 4, 8, 16), minJ = 0.5)
      .orderBy(col("bands")).collect()
    assert(micro.length === 4)
    micro.foreach { r =>
      assert(r.getLong(4) === 1L, "n_truth")       // the (1,2) pair
      assert(r.getLong(3) === 1L, "n_hits")
      assert(r.getDouble(5) === 1.0, "recall")
    }
    // hierarchical tiling (2 | 4 | 8 | 16 with k = 16): an r=8 band match
    // implies both r=4 sub-band matches, so candidate sets NEST and the
    // counts are monotone nondecreasing in bands — verified on the corpus
    val corp = Tables.load(spark, sf001, "documents")
    val sweep = Dedup.bandConfigSweep(corp).orderBy(col("bands")).collect()
    val cands = sweep.map(_.getLong(2))
    val hits = sweep.map(_.getLong(3))
    assert(cands.sameElements(cands.sorted), "n_candidates monotone")
    assert(hits.sameElements(hits.sorted), "n_hits monotone")
    assert(sweep.map(_.getLong(4)).distinct.length === 1,
      "n_truth config-independent")
  }

  test("weightedJaccardPairs: hand-computed integer-IDF weighting; " +
    "maxDocFreq drops template shingles from the denominators") {
    // template trigrams df=4 (weight 1); shared distinctive content df=2
    // (weight 2); per-doc unique tails df=1 (weight 4)
    val d = docsDf(
      1L -> "t1 t2 t3 t4 u v w x",
      2L -> "t1 t2 t3 t4 u v w y",
      3L -> "t1 t2 t3 t4",
      4L -> "t1 t2 t3 t4")
    // doc1/doc2: W=12 each, w_common=8 -> jw=8/16=0.5;
    // doc3/doc4: exact dups among themselves -> jw=1
    val got = Dedup.weightedJaccardPairs(d, n = 3, minW = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 8L, 0.5), (3L, 4L, 2L, 1.0)))
    // guard at df<=3 removes the template shingles: the (1,2) overlap
    // drops to 6/14 < 0.5 and docs 3/4 lose every posting -> empty
    assert(Dedup.weightedJaccardPairs(d, n = 3, minW = 0.5,
      maxDocFreq = Some(3L)).isEmpty)
  }

  test("embeddingCoverage: cell masses conserve the corpus; summary " +
    "columns agree with the cell table (sf0.001)") {
    val vecs = Tables.load(spark, sf001, "embeddings")
    val cov = Similarity.embeddingCoverage(vecs).localCheckpoint()
    val rows = cov.collect()
    assert(rows.map(_.getLong(1)).sum === vecs.count())
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 256))
    val occ = rows.head.getLong(4)
    assert(occ === rows.length.toLong, "n_cells_occupied = #rows")
    assert(rows.forall(_.getLong(4) === occ))
    assert(rows.head.getDouble(5) === occ.toDouble / 256)
    // spot-check one cell's population against a direct recount
    val r0 = rows.minBy(_.getLong(0))
    val direct = vecs
      .filter(Similarity.bucketExpr(col("embedding"), 8, 64) === r0.getLong(0))
      .count()
    assert(direct === r0.getLong(1))
  }

  test("diversitySample: equals the window formulation, caps every cell, " +
    "keeps small cells whole (sf0.001)") {
    import org.apache.spark.sql.expressions.Window
    val vecs = Tables.load(spark, sf001, "embeddings")
    val cap = 4
    val got = Similarity.diversitySample(vecs, cap = cap).localCheckpoint()
    // the straggler-prone window formulation is the semantics oracle
    val w = Window.partitionBy(col("bkt"))
      .orderBy(col("h"), col("vec_id"))
    val want = vecs
      .select(Similarity.bucketExpr(col("embedding"), 8, 64).as("bkt"),
        col("vec_id"),
        TextOps.md5Int32(col("vec_id").cast("string")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("bkt"), col("vec_id"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // every cell capped; cells smaller than the cap keep all members
    val perCell = got.groupBy(col("bkt")).agg(count(lit(1)).as("n_kept"))
    assert(perCell.filter(col("n_kept") > cap).isEmpty)
    val small = Similarity.embeddingCoverage(vecs)
      .filter(col("n_vecs") <= cap).select(col("bkt"), col("n_vecs"))
    assert(small.join(perCell, "bkt")
      .filter(col("n_kept") =!= col("n_vecs")).isEmpty)
  }

  test("clusterCohesion: hand-computed densities on a chain vs a clique; " +
    "corpus totals reconcile with the pair table and size profile") {
    import org.apache.spark.sql.functions.{col => c}
    // chain cluster {1,2,3} (edges 1-2, 2-3 only: density 2/3) and
    // clique pair {10,11} (density 1)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterCohesion(pairs).orderBy(c("n_members")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      (2L, 1L, 1L, 1L, 1L, 1L, 1.0),
      (3L, 1L, 2L, 2L, 2L, 3L, 2.0 / 3.0)))
    // corpus: every pair is a within-cluster edge, so Σ n_edges_total =
    // |pairs|; multi-member cluster counts per size must match the size
    // profile's k >= 2 rows; density bounded by (0, 1]
    val docs = Tables.load(spark, sf001, "documents")
    val cp = Dedup.jaccardPairs(docs, n = 3, minJ = 0.5).localCheckpoint()
    val coh = Dedup.clusterCohesion(cp).localCheckpoint()
    assert(coh.agg(sum(c("n_edges_total"))).first().getLong(0) === cp.count())
    assert(coh.filter(c("pooled_density") <= 0 || c("pooled_density") > 1
      || c("n_edges_total") > c("n_edges_possible")).isEmpty)
    val prof = Dedup.clusterSizeProfile(docs, cp)
      .filter(c("cluster_size") >= 2)
      .select(c("cluster_size").as("n_members"), c("n_clusters").as("want"))
    assert(coh.join(prof, "n_members")
      .filter(c("n_clusters") =!= c("want")).isEmpty)
    assert(coh.count() === prof.count())
  }

  test("mergeDiversitySamples: associative fold equals the from-scratch " +
    "sample; re-delivered rows are a no-op (sf0.001)") {
    val vecs = Tables.load(spark, sf001, "embeddings").localCheckpoint()
    val cap = 4
    val whole = Similarity.diversitySample(vecs, cap = cap)
    // arbitrary 3-way split by id arithmetic
    val parts = Seq(
      vecs.filter(col("vec_id") % 3 === 0),
      vecs.filter(col("vec_id") % 3 === 1),
      vecs.filter(col("vec_id") % 3 === 2))
    val folded = parts.map(p => Similarity.diversitySample(p, cap = cap))
      .reduce((a, b) => Similarity.mergeDiversitySamples(a, b, cap))
    assert(folded.exceptAll(whole).isEmpty
      && whole.exceptAll(folded).isEmpty)
    // at-least-once safety: merging a state with itself changes nothing
    val again = Similarity.mergeDiversitySamples(folded, folded, cap)
    assert(again.exceptAll(folded).isEmpty
      && folded.exceptAll(again).isEmpty)
  }

  test("ivfProbeSweep: hits monotone in nprobe; probing every cell " +
    "recovers the brute-force truth exactly (sf0.001)") {
    val vecs = Tables.load(spark, sf001, "embeddings")
    // include p = nCells: probing all 16 cells IS brute force (minus
    // nothing — every vector's cell is probed), so recall must be 1.0
    val sweep = Similarity.ivfProbeSweep(vecs, k = 3, nCells = 16,
      probes = Seq(1, 2, 16)).orderBy(col("nprobe")).collect()
    assert(sweep.length === 3)
    val hits = sweep.map(_.getLong(2))
    assert(hits.sameElements(hits.sorted), "n_hits monotone in nprobe")
    assert(sweep.map(_.getLong(3)).distinct.length === 1, "n_truth constant")
    val full = sweep.last
    assert(full.getLong(2) === full.getLong(3) && full.getDouble(4) === 1.0,
      "probing all cells = brute force")
    assert(sweep.forall(r => r.getDouble(4) >= 0 && r.getDouble(4) <= 1))
  }

  test("deconNgramSweep: contaminated set shrinks as n grows; n_train " +
    "constant (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val sweep = Dedup.deconNgramSweep(docs, ns = Seq(2, 3, 5, 8))
      .orderBy(col("n")).collect()
    assert(sweep.length === 4)
    assert(sweep.map(_.getLong(1)).distinct.length === 1, "n_train constant")
    // any shared n-gram contains shared m-grams for m < n, so the
    // contaminated set at larger n is a subset of the smaller-n set
    val cont = sweep.map(_.getLong(2))
    assert(cont.reverse.sameElements(cont.reverse.sorted),
      "contaminated count non-increasing in n")
    val shared = sweep.map(_.getLong(4))
    assert(cont.head > 0 && shared.head > 0,
      "bigram level must flag something on the fixture corpus")
    sweep.foreach(r => assert(
      r.getDouble(3) === r.getLong(2).toDouble / r.getLong(1).toDouble))
  }

  test("packBudgetSweep: token conservation across budgets; capacity " +
    "arithmetic; packs non-increasing on a doubling schedule (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val sweep = TextAnalysis.packBudgetSweep(docs,
      budgets = Seq(512L, 1024L, 2048L, 4096L))
      .orderBy(col("budget")).collect()
    assert(sweep.length === 4)
    assert(sweep.map(_.getLong(2)).distinct.length === 1,
      "corpus tokens identical across budgets")
    sweep.foreach { r =>
      assert(r.getLong(3) === r.getLong(1) * r.getLong(0), "capacity")
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
    // each budget doubles, so the coarser pack partition refines: the
    // pack count cannot grow
    val packs = sweep.map(_.getLong(1))
    assert(packs.reverse.sameElements(packs.reverse.sorted))
  }

  test("langIdAgreement: cells reconcile with langId row-for-row; label " +
    "totals conserve the corpus (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val m = TextAnalysis.langIdAgreement(docs).localCheckpoint()
    // cell counts must equal a direct (label, prediction) recount from
    // the standalone langId output
    val want = docs.select(col("doc_id"), col("lang"))
      .join(TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang")),
        "doc_id")
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("want"))
    assert(m.join(want, Seq("lang", "pred_lang"), "full")
      .filter(col("n_docs").isNull || col("want").isNull
        || col("n_docs") =!= col("want")).isEmpty)
    // every labeled doc lands in exactly one cell
    assert(m.select(col("lang"), col("n_label")).distinct()
      .agg(sum(col("n_label"))).first().getLong(0) === docs.count())
    // diagonal flag and fraction arithmetic
    m.collect().foreach { r =>
      assert(r.getLong(5) === (if (r.getString(0) == r.getString(1)) 1L else 0L))
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
  }

  test("simhashEstimateAudit: candidates match l04 exactly; j_exact " +
    "agrees with jaccardPairs on the >= 0.5 overlap (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val audit = Dedup.simhashEstimateAudit(docs).localCheckpoint()
    // same candidate set (and hamming) as the declared pair query
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 6)
    assert(audit.select(col("doc_a"), col("doc_b"), col("hamming"))
      .exceptAll(pairs).isEmpty)
    assert(audit.count() === pairs.count())
    // wherever a candidate is also an exact >= 0.5 jaccard pair, the
    // audit's j_exact must equal that query's jaccard bit-for-bit
    val exact = Dedup.jaccardPairs(docs, n = 3, minJ = 0.5)
    assert(audit.join(exact, Seq("doc_a", "doc_b"))
      .filter(col("j_exact") =!= col("jaccard")).isEmpty)
    assert(audit.filter(col("j_exact") < 0 || col("j_exact") > 1).isEmpty)
  }

  test("sourceContainmentMatrix: direction points excerpt -> superset; " +
    "corpus cells conserve the pair count (sf0.001)") {
    // doc1 (srcA) is a verbatim excerpt of doc2 (srcB): containment(1 in
    // 2) = 1.0, the reverse 0.5 — only the A→B cell may appear
    val d = Seq(
      (1L, "a b c d e", "srcA"),
      (2L, "a b c d e f g h", "srcB"),
      (3L, "p q r s t u v", "srcC")).toDF("doc_id", "text", "source")
    val got = Dedup.sourceContainmentMatrix(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(("srcA", "srcB", 1L, 1L)))
    // corpus: every directed containment pair lands in exactly one cell
    val docs = Tables.load(spark, sf001, "documents")
    val m = Dedup.sourceContainmentMatrix(docs).localCheckpoint()
    val nPairs = Dedup.containmentPairs(docs, n = 3, minC = 0.6).count()
    assert(m.agg(sum(col("n_pairs"))).first().getLong(0) === nPairs)
    assert(m.filter(col("n_docs_contained") > col("n_pairs")).isEmpty)
  }

  test("mediaStorageAudit: totals reconcile with per-blob decode; the " +
    "checksum is a corruption tripwire (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val audit = Multimodal.mediaStorageAudit(spark, docs).localCheckpoint()
    assert(audit.agg(sum(col("n_blobs"))).first().getLong(0) === docs.count())
    val feats = Multimodal.decodeFeatures(spark,
      Multimodal.encodePpm(spark, docs).toDF()).toDF()
    val wantBytes = feats.agg(sum(col("n_bytes"))).first().getLong(0)
    val wantSum = feats.agg(sum(col("sum_bytes"))).first().getLong(0)
    assert(audit.agg(sum(col("total_bytes"))).first().getLong(0) === wantBytes)
    assert(audit.agg(sum(col("payload_checksum"))).first().getLong(0) === wantSum)
    audit.collect().foreach(r =>
      assert(r.getDouble(5) === r.getLong(2).toDouble / r.getLong(1).toDouble))
    // tripwire: flipping one PIXEL byte of one payload moves the checksum
    val one = Multimodal.encodePpm(spark, docs.limit(1)).collect().head
    val corrupted = one.payload.clone()
    corrupted(corrupted.length - 1) = (corrupted(corrupted.length - 1) ^ 0x01).toByte
    import spark.implicits._
    val cleanSum = Multimodal.decodeFeatures(spark,
      Seq(one).toDF()).collect().head.sum_bytes
    val corruptSum = Multimodal.decodeFeatures(spark,
      Seq(Multimodal.BlobRow(one.doc_id, corrupted)).toDF()).collect().head.sum_bytes
    assert(cleanSum !== corruptSum)
  }

  test("temperatureSweep: budget conservation per alpha; alpha = 1 is " +
    "proportional; flattening is monotone in alpha (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val budget = 50000L
    val sweep = TextAnalysis.temperatureSweep(docs, budget).localCheckpoint()
    val byAlpha = sweep.collect().groupBy(_.getDouble(0))
    assert(byAlpha.keySet === Set(0.25, 0.5, 1.0))
    byAlpha.foreach { case (a, rows) =>
      assert(math.abs(rows.map(_.getDouble(4)).sum - budget.toDouble) < 1e-6,
        s"alpha=$a allocation must conserve the budget")
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-12,
        s"alpha=$a weights must sum to 1")
    }
    // alpha = 1 is proportional sampling: weight == tokens / total
    val tokTotal = byAlpha(1.0).map(_.getLong(2)).sum.toDouble
    byAlpha(1.0).foreach(r =>
      assert(r.getDouble(3) === r.getLong(2).toDouble / tokTotal))
    // flatter temperature shrinks the dominant source's share
    def maxW(a: Double) = byAlpha(a).map(_.getDouble(3)).max
    assert(maxW(0.25) <= maxW(0.5) && maxW(0.5) <= maxW(1.0))
    // the alpha = 0.5 rows must agree with epochPlan exactly
    val plan = TextAnalysis.epochPlan(docs, budget).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    byAlpha(0.5).foreach(r =>
      assert(r.getDouble(4) === plan(r.getString(1)),
        s"alpha=0.5 must reproduce epochPlan for ${r.getString(1)}"))
    // invalid alpha fails loudly instead of silently using pow
    intercept[IllegalArgumentException] {
      TextAnalysis.temperatureSweep(docs, budget, alphas = Seq(0.3))
    }
  }

  test("SumSquares aggregator: exact decimal, partition-order independent") {
    val vals = Seq(1.11, 2.22, 3.33).map(java.lang.Double.valueOf)
    val expected = vals.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .map(q => q * q).sum.toDouble
    val sumsq = udaf(Sketches.SumSquares)
    Seq(1, 3).foreach { parts =>
      val df = vals.map(_.doubleValue).toDF("value").repartition(parts)
      val got = df.agg(sumsq(col("value"))).collect()(0).getDouble(0)
      assert(got === expected, s"parts=$parts")
    }
  }

  // ------------------------------------------------------- BM25 retrieval

  test("bm25Serve: hand-computed snapped term scores, ranking, and the " +
    "df-cap pruning; query tf saturates at 1") {
    // train: d1 = "apple banana apple" (dl 3), d2 = "banana cherry" (dl 2)
    // N = 2, S = 5. For query term apple (df 1, tf 2 in d1):
    //   num = (2(2−1)+1)·22·5·2 = 660, den = 3·(10·5·2 + 3·5 + 9·2·3) = 1521?
    //   den = (2·1+1)·(100 + 15 + 54) = 3·169 = 507 → ⌊10⁶·660/507⌋ = 1301775
    // cherry (df 1, tf 1 in d2): num = 3·22·5 = 330,
    //   den = 3·(50 + 15 + 36) = 303 → ⌊10⁶·330/303⌋ = 1089108
    val corpus = docsDf(1L -> "apple banana apple", 2L -> "banana cherry")
    val (postings, stats) = Retrieval.bm25Model(corpus)
    val queries = Seq((10L, "apple cherry apple")).toDF("q_id", "text")
    val got = Retrieval.bm25Serve(queries, postings, stats, k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 1301775L, 1L), (2L, 1089108L, 2L)),
      got.toSeq.toString)
    // banana appears in 2/2 docs = 1000‰; a 999‰ cap prunes it but keeps
    // the df-1 terms — with only "banana" as the query nothing scores
    val qB = Seq((11L, "banana")).toDF("q_id", "text")
    assert(Retrieval.bm25Serve(qB, postings, stats, 5, dfCapPermille = 999)
      .count() === 0L)
    assert(Retrieval.bm25Serve(qB, postings, stats, 5).count() === 2L)
  }

  test("bm25TopK: the split discipline — queries are eval docs, results " +
    "are train docs, and every query with a shared term retrieves") {
    val docs = Tables.load(spark, sf001, "documents")
    val bucket = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100).toInt
    }
    val got = Retrieval.bm25TopK(docs, k = 3)
    val qids = got.select("q_id").distinct().collect().map(_.getLong(0))
    val nids = got.select("doc_id").distinct().collect().map(_.getLong(0))
    assert(qids.nonEmpty && qids.forall(bucket(_) >= 80))
    assert(nids.nonEmpty && nids.forall(bucket(_) < 80))
    // per-query ranks are 1..k dense
    got.groupBy("q_id").agg(collect_list("rank").as("rs")).collect()
      .foreach { r =>
        val rs = r.getSeq[Long](1).sorted
        assert(rs === (1L to rs.length).toSeq, s"q=${r.getLong(0)}")
      }
  }

  // ------------------------------------------------------------ winnowing

  test("winnow: equals a from-scratch Scala winnowing of the same hash " +
    "sequence; guarantee holds for a shared (w+n-1)-token run") {
    val shared = "q1 q2 q3 q4 q5 q6" // 6 tokens = w+n-1 at n=3, w=4
    val docs = docsDf(
      1L -> s"a b c d $shared e f g",
      2L -> s"x y $shared z w v u t",
      3L -> "p q r s",       // G = 2 < w: one clamped window
      4L -> "s t")           // no 3-gram: dropped
    // reference: positional hashes via the same md5-int32, winnowed in Scala
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    }
    def winnowRef(text: String, n: Int, w: Int): Seq[Long] = {
      val toks = text.split(" ")
      val hs = toks.sliding(n).filter(_.length == n).map(g => h(g.mkString(" "))).toVector
      if (hs.isEmpty) Seq.empty
      else {
        val weff = math.min(w, hs.length)
        (0 to hs.length - weff).map { j =>
          val sl = hs.slice(j, j + weff)
          val m = sl.min
          j + sl.lastIndexOf(m) // selected position (0-based)
        }.distinct.map(hs(_))
      }
    }
    val got = TextAnalysis.winnow(docs, n = 3, w = 4).orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val selByDoc = Map(
      1L -> winnowRef(s"a b c d $shared e f g", 3, 4),
      2L -> winnowRef(s"x y $shared z w v u t", 3, 4),
      3L -> winnowRef("p q r s", 3, 4))
    got.foreach { r =>
      val ref = selByDoc(r.getLong(0))
      assert(r.getLong(2) === ref.length, s"n_sel doc ${r.getLong(0)}")
      assert(r.getLong(3) === ref.distinct.length,
        s"n_sel_distinct doc ${r.getLong(0)}")
      val fpRef = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        ref.sorted.mkString(","))
      assert(r.getString(5) === fpRef, s"fp mismatch doc ${r.getLong(0)}")
    }
    // the winnowing guarantee: docs 1 and 2 share a 6-token run → their
    // selected fingerprint sets intersect
    assert(selByDoc(1L).toSet.intersect(selByDoc(2L).toSet).nonEmpty)
    // G < w: exactly one selected fingerprint
    assert(got.find(_.getLong(0) == 3L).get.getLong(2) === 1L)
  }

  // ----------------------------------------------------- gopher rule battery

  test("gopherRules: hand-built pass/fail per rule; conjunction counted") {
    val pass = ("the a of and " + Seq.fill(56)("word").mkString(" ")) // 60 words
    val shortDoc = "tiny doc"                  // fails r_wc, r_stop
    val longWords = Seq.fill(60)("abcdefghijkl").mkString(" ") // mwl 12 > 10
    val symmy = ("the a of and " +
      Seq.fill(46)("word").mkString(" ") + " " +
      Seq.fill(10)("#tag").mkString(" "))      // 60 words, 10 symbol words > 10%
    val docs = Seq(
      (1L, pass, "en", "sA"), (2L, shortDoc, "en", "sA"),
      (3L, longWords, "en", "sB"), (4L, symmy, "en", "sB"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.gopherRules(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // sA: pass passes all; shortDoc fails wc (2 words) + stop (0 stopwords)
    //     but passes mwl (3.5), alpha, sym
    assert(got(0) === (("sA", 2L, 1L, 2L, 2L, 1L, 2L, 1L)), got(0).toString)
    // sB: longWords fails mwl (12 > 10) and stop (no stopwords);
    //     symmy fails r_sym only (10/60 > 10%)
    assert(got(1) === (("sB", 2L, 2L, 1L, 2L, 1L, 1L, 0L)), got(1).toString)
  }

  test("repetitionRules: repeated-bigram doc fails every rule; distinct-token" +
    " and single-token docs pass; block-copy doc fails only dup5/dup6") {
    // docA: "x y" * 30 — every n-gram stream is dominated by repeats
    val docA = Seq.fill(30)("x y").mkString(" ")
    // docB: 60 distinct len-3 tokens — every gram count is 1, dup cov 0
    val docB = (1 to 60).map(i => f"t$i%02d").mkString(" ")
    // docC: one token — too short for any n, zero coverage, passes all
    val docC = "hello"
    // docD: a 7-token block repeated around 30 distinct fillers — the
    // duplicated 5/6-grams trip dup rules while every top gram stays
    // under its threshold (total chars 161 sized to clear r_top4)
    val block = (1 to 7).map(i => s"c$i").mkString(" ")
    val docD = block + " " + (1 to 30).map(i => f"z$i%02d").mkString(" ") +
      " " + block
    val docs = Seq(
      (1L, docA, "en", "sA"), (2L, docB, "en", "sA"),
      (3L, docC, "en", "sB"), (4L, docD, "en", "sB"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.repetitionRules(docs).orderBy("source").collect()
      .map(r => (r.getString(0), (1 to 7).map(r.getLong).toSeq))
    assert(got(0) === (("sA", Seq(2L, 1L, 1L, 1L, 1L, 1L, 1L))), got(0).toString)
    assert(got(1) === (("sB", Seq(2L, 2L, 2L, 2L, 1L, 1L, 1L))), got(1).toString)
  }

  test("repetitionRules: digest gram key (the declared 100 TB shape) equals " +
    "the exact raw-string key on the real corpus") {
    // the l116 scale discipline: (xxhash64(gram), char length) replaces
    // the gram string on the corpus-token-sized exchange — same counts,
    // same coverage, same rule verdicts, absent a 64-bit in-doc collision
    val docs = Tables.load(spark, sf001, "documents")
    val digest = TextAnalysis.repetitionRules(docs, digestGrams = true)
      .orderBy("source").collect().toSeq
    val exact = TextAnalysis.repetitionRules(docs, digestGrams = false)
      .orderBy("source").collect().toSeq
    assert(digest === exact)
  }

  test("dsirSelect: the raw doc matching the target distribution outranks " +
    "off-distribution raw docs; model/score factoring agrees with the fused form") {
    // derive target/raw membership from the REAL split rule so the test
    // exercises the lockstep splitBucket discipline
    val sb = spark.range(1, 61)
      .select(col("id"), TextOps.splitBucket(col("id")).as("sb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val targetIds = sb.filter(_._2 >= 80).keys.toSeq.sorted
    val rawIds = sb.filter(_._2 < 80).keys.toSeq.sorted
    assert(targetIds.nonEmpty && rawIds.size >= 2)
    val special = rawIds.head
    val docs = (targetIds.map(i => (i, "alpha beta alpha beta", "en", "tgt")) ++
      rawIds.map { i =>
        if (i == special) (i, "alpha beta alpha beta alpha beta", "en", "raw")
        else (i, "zz ww vv uu", "en", "raw")
      }).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.dsirSelect(docs, k = 5).orderBy("rank").collect()
    assert(got.head.getLong(0) === special, got.map(_.toString).mkString(","))
    // factored model + score reproduces the fused head's score exactly
    val lam = TextAnalysis.dsirModel(docs)
    val train = docs.filter(TextOps.splitBucket(col("doc_id")) < 80)
    val scored = TextAnalysis.dsirScore(train, lam)
      .filter(col("doc_id") === special).collect()
    assert(scored.head.getLong(1) === got.head.getLong(3)) // score column
  }

  // ------------------------------------------------------- hard negatives

  test("semDedup: two hand-built clusters — every duplicate set keeps exactly " +
    "its most atypical member (min centroid-sim), cross-cluster pairs never flag") {
    // vec_ids 1..2 seed the two Lloyd inits on the two cluster anchors;
    // all within-cluster sims ≥ 0.9, cross-cluster sims ≈ 0.59 < 0.9
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.95f, 0.31f), 0), (4L, Array(0.31f, 0.95f), 1),
      (5L, Array(0.99f, 0.141f), 0), (6L, Array(0.141f, 0.99f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semDedup(vecs, nCells = 2, iters = 2, tau = 0.9)
      .orderBy("vec_id").collect()
    assert(got.length === 6)
    assert(got.map(_.getLong(4)).sum === 4L) // 2 kept, 4 dropped
    got.groupBy(_.getLong(1)).foreach { case (_, members) =>
      val kept = members.filter(_.getLong(4) === 0L)
      assert(kept.length === 1)
      // the kept member is the cluster's min centroid-sim (most atypical)
      assert(kept.head.getDouble(2) === members.map(_.getDouble(2)).min)
    }
  }

  test("semDedupTauSweep: drop count non-increasing in tau; the tau=0.35 " +
    "row equals semDedup's dropped count on the real corpus") {
    val em = Tables.load(spark, sf001, "embeddings")
    val rows = Similarity.semDedupTauSweep(em).orderBy(col("tau")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(0.2, 0.35, 0.5, 0.65, 0.8))
    val n = em.count()
    assert(rows.forall(r => r._2 === n && r._3 + r._4 === n))
    // monotone: a higher threshold can only drop fewer
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._3 >= hi._3, s"drop count rose with tau: $lo -> $hi") }
    // the ladder's 0.35 row IS l118's verdict count (shared predicate)
    val dropped035 = Similarity.semDedup(em).agg(sum(col("dropped")))
      .collect()(0).getLong(0)
    assert(rows.find(_._1 == 0.35).get._3 === dropped035)
  }

  test("semDedupAuto: scheduled k with balanced cells equals fixed-k " +
    "semDedup exactly — the dormant guard touches nothing") {
    // 8 well-separated directions × 8 members in 64 dims; ids arranged so
    // the first 8 by vec_id seed one Lloyd init per direction. n = 64 →
    // ivfCells = 8, targetOcc = 8, occupancy 8 per cell — the guard
    // (hotFactor 4 → threshold 32) never fires, and the deep-guard
    // wrapper returns the assignment UNTOUCHED (raw cent ids included),
    // so the auto path must be byte-equal to semDedup(nCells = 8).
    val vecs = (for (j <- 0 until 8; d <- 0 until 8) yield {
      val e = Array.fill(64)(0.0f)
      e(8 * d) = 1.0f
      e(8 * d + j) = if (j == 0) 1.0f else 0.3f
      ((j * 8 + d).toLong, e)
    }).toDF("vec_id", "embedding")
    val fixed = Similarity.semDedup(vecs, nCells = 8, iters = 3, tau = 0.8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    val auto = Similarity.semDedupAuto(vecs, tau = 0.8, iters = 3)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    assert(auto.toSeq === fixed.toSeq)
  }

  test("semDedupCollapsed: byte-equal to semDedup on a planted exact-dup " +
    "pile — the collapse/expansion is a pure plan rewrite") {
    // The round-16 directive-#2 contract: collapsing byte-identical
    // vectors to one representative (with multiplicity) before the pair
    // pass and expanding verdicts back must change NOTHING in the output.
    // Fixture: the 8-direction corpus PLUS a 30-copy exact-dup pile of a
    // fresh direction AND 5 exact copies of an existing vector (so the
    // expansion exercises both a pure pile and copies interleaved with
    // distinct neighbors in the same cell).
    val base = for (j <- 0 until 8; d <- 0 until 8) yield {
      val e = Array.fill(64)(0.0f)
      e(8 * d) = 1.0f
      e(8 * d + j) = if (j == 0) 1.0f else 0.3f
      ((j * 8 + d).toLong, e)
    }
    val pileVec = Array.fill(64)(0.0f)
    pileVec(0) = 1.0f; pileVec(3) = 0.7f
    val pile = (0 until 30).map(i => (2000L + i, pileVec))
    val copies = (0 until 5).map(i => (3000L + i, base(5)._2))
    val vecs = (base ++ pile ++ copies).toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
    val plain = canon(Similarity.semDedup(vecs, nCells = 8, iters = 3,
      tau = 0.8))
    val collapsed = canon(Similarity.semDedupCollapsed(vecs, nCells = 8,
      iters = 3, tau = 0.8))
    assert(collapsed === plain)
    // the pile itself: first copy's verdict is whatever its cell says;
    // every later copy is dropped (sim(x,x) ≥ τ against an earlier copy)
    val pileRows = plain.filter(t => t._1 >= 2000L && t._1 < 3000L)
    assert(pileRows.count(_._5 == 1L) >= 29,
      s"pile copies not dropped: $pileRows")
  }

  test("semDedupVerdictCollapsed tie valve: cent_sim ties across DIFFERENT " +
    "values fall back to singletons — byte-equal where mult-weighting alone " +
    "would mis-order") {
    // Hand-built assignment table forcing the contrived case the valve
    // exists for: in cell 1, value X sits at nids (1, 4, 6) and value Y
    // at nid 3, ALL at the same cent_sim — keep order inside the tie is
    // by nid, so Y at nid 3 is later than X@1 but EARLIER than X@4 and
    // X@6: a collapsed group (anchor nid 1, mult 3) would credit Y with
    // 3 earlier copies instead of 1. cos(X, Y) ≈ 0.98 ≥ τ so the tie
    // actually matters; cell 2 is an untied control.
    val x = Array(1.0f, 0.1f, 0.0f)
    val y = Array(1.0f, 0.0f, 0.1f)
    val z = Array(0.0f, 1.0f, 0.0f)
    val cs = Seq(
      (1L, x, 1L, 0.5), (4L, x, 1L, 0.5), (6L, x, 1L, 0.5),
      (3L, y, 1L, 0.5),
      (10L, z, 2L, 0.9), (11L, z, 2L, 0.9)
    ).toDF("nid", "ce", "cell", "cent_sim")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
    val plain = canon(Similarity.semDedupVerdict(cs, cs, tau = 0.9,
      withinBatch = true))
    val (reps, meta) = Similarity.collapseExactDups(cs)
    val collapsed = canon(Similarity.semDedupVerdictCollapsed(reps, meta,
      tau = 0.9))
    assert(collapsed === plain)
    // the specific row the valve protects: Y (nid 3) has exactly ONE
    // earlier duplicate (X@1), not the group's full multiplicity
    assert(plain.find(_._1 == 3L).get._4 === 1L)
  }

  test("semDedupAuto: exact-dup pile collapses before the guard — the " +
    "assignment entering the pair pass carries one row per value") {
    // the byte-identical pile that used to be refineHotCellsDeep's
    // documented irreducible case: 90 exact copies + 30 scattered
    // distinct vectors. The collapse removes the pile pre-guard, and
    // the expanded output must still carry every input id exactly once
    // with all copies after the first dropped.
    val pileVec = Array.fill(32)(0.0f)
    pileVec(0) = 1.0f
    val rows = (0 until 90).map(i => (i.toLong, pileVec)) ++
      (0 until 30).map { i =>
        val e = Array.fill(32)(0.0f)
        e(1 + (i % 31)) = 1.0f
        (1000L + i, e)
      }
    val vecs = rows.toDF("vec_id", "embedding")
    val got = Similarity.semDedupAuto(vecs, tau = 0.8, iters = 2)
      .orderBy("vec_id").collect()
    assert(got.length === 120)
    assert(got.map(_.getLong(0)).distinct.length === 120)
    val pileVerdicts = got.filter(_.getLong(0) < 90L)
    assert(pileVerdicts.head.getLong(4) === 0L) // keep-order anchor kept
    assert(pileVerdicts.tail.forall(_.getLong(4) == 1L),
      "a later exact copy survived")
    // n_dup_earlier of copy at rank i counts its i earlier copies
    assert(pileVerdicts.map(_.getLong(3)).toSeq ===
      (0 until 90).map(_.toLong))
  }

  test("refineHotCellsDeep: a near-duplicate pile that defeats one guard " +
    "level drains over iterated levels") {
    // the orthogonal-noise pile (the semdedupskew scale-receipt shape): 120
    // near-identical vectors — unit e0 + tiny noise in a rotating
    // dimension — plus 40 scattered. One refine level inits ksub
    // subcentroids on near-identical members and the cosine argmax
    // concentrates non-matching members; iterating peels the pile.
    def pileVec(i: Int): Array[Float] = {
      val e = Array.fill(32)(0.0f)
      e(0) = 1.0f
      e(1 + (i % 31)) = 0.05f + 0.001f * (i % 5)
      e
    }
    def farVec(i: Int): Array[Float] = {
      val e = Array.fill(32)(0.0f)
      e(1 + (i % 31)) = 1.0f
      e
    }
    // 240-member pile over 31 noise groups: one level's ksub =
    // ceil(240/20) = 12 ≪ 31 groups, so the non-matching majority
    // concentrates and stays hot; later levels re-init on the
    // survivors' own members and keep peeling
    val rows = (0 until 240).map(i => (i.toLong, pileVec(i), 1L, 0.9)) ++
      (0 until 40).map(i => (1000L + i, farVec(i), 2L + (i % 4), 0.5))
    val cs = rows.toDF("nid", "ce", "cell", "cent_sim")
    // n=280, nCells=14 → targetOcc=20, hot threshold 80 < 240
    def maxOcc(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(col("cell")).agg(count(lit(1)).as("o"))
        .agg(max(col("o"))).collect()(0).getLong(0)
    val one = Similarity.refineHotCells(cs, n = 280L, nCells = 14,
      hotFactor = 4.0, iters = 2)
    val deep = Similarity.refineHotCellsDeep(cs, n = 280L, nCells = 14,
      hotFactor = 4.0, iters = 2)
    assert(deep.count() === 280L)
    assert(deep.select(col("nid")).distinct().count() === 280L)
    // one level must still be hot on this geometry (else the fixture is
    // too easy to witness iteration); the deep guard must converge under
    // the hot threshold (4 × target = 80)
    val (m1, mD) = (maxOcc(one), maxOcc(deep))
    assert(m1 > 80L, s"one-level fixture too easy: maxOcc $m1")
    assert(mD < m1, s"deep guard did not improve: $mD vs $m1")
    assert(mD <= 80L, s"deep guard left a hot cell: maxOcc $mD")
  }

  test("refineHotCells: a planted hot cell splits into direction-pure " +
    "subcells; cold cells pass through relabeled with cent_sim intact") {
    // assignment table: cell 1 holds 40 members in 4 well-separated
    // directions (10 each, first 4 nids one per direction → sub-fit
    // inits on the anchors); cell 2 holds 4 members. n = 44, nCells = 4
    // → targetOcc = 11; hotFactor 1.0 flags cell 1 (40 > 11), ksub = 4.
    def vec(d: Int, wob: Int): Array[Float] = {
      val e = Array.fill(16)(0.0f)
      e(4 * d) = 1.0f
      e(4 * d + 1 + (wob % 3)) = 0.2f + 0.05f * wob
      e
    }
    val hotRows = for (j <- 0 until 10; d <- 0 until 4)
      yield ((j * 4 + d).toLong, vec(d, j), 1L, 0.5)
    val coldRows = (100L to 103L).map(i =>
      (i, Array.fill(16)(1.0f), 2L, 0.9))
    val cs = (hotRows ++ coldRows).toDF("nid", "ce", "cell", "cent_sim")
    val got = Similarity.refineHotCells(cs, n = 44L, nCells = 4,
      hotFactor = 1.0, iters = 3).collect()
    assert(got.length === 44)
    assert(got.map(_.getLong(0)).distinct.length === 44)
    val stride = 1L << 20
    // cold members: relabeled 2·STRIDE, cent_sim untouched
    val cold = got.filter(_.getLong(0) >= 100L)
    assert(cold.forall(r => r.getLong(2) === 2L * stride
      && r.getDouble(3) === 0.9))
    // hot members land in subcells 1·STRIDE+1 .. 1·STRIDE+4, and the
    // sub-fit separates the 4 planted directions exactly: every subcell
    // is direction-pure with occupancy 10 (< 40 — the guard's point)
    val hotGot = got.filter(_.getLong(0) < 100L)
    val byCell = hotGot.groupBy(_.getLong(2))
    assert(byCell.keys.forall(c =>
      c > 1L * stride && c <= 1L * stride + 4L))
    assert(byCell.values.forall(_.length === 10))
    byCell.values.foreach { ms =>
      assert(ms.map(r => r.getLong(0) % 4).distinct.length === 1) }
  }

  test("hardNegatives: hand-computed triplet — hardest negative outscores " +
    "the best positive (violates), singleton label keeps NULL pos_sim") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),   // query (samplePct = 100 samples all)
      (2L, Array(0.9f, 0.1f), 1),   // hardest negative, sim ≈ 0.9939
      (3L, Array(0.8f, 0.2f), 0),   // best positive, sim ≈ 0.9701
      (4L, Array(0.0f, 1.0f), 2))   // far negative; label-2 singleton
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(vecs, k = 2, samplePct = 100)
    val q1 = got.filter(col("qid") === 1L).orderBy("rnk").collect()
    assert(q1.map(_.getLong(2)).toSeq === Seq(2L, 4L)) // neg ranks by sim
    val top = q1(0)
    assert(math.abs(top.getDouble(4) - 0.9) < 0.1)     // neg_sim ≈ 0.9939
    assert(top.getDouble(5) < top.getDouble(4))        // pos_sim below
    assert(top.getLong(7) === 1L)                      // violates
    assert(q1(1).getLong(7) === 0L)                    // far neg doesn't
    // label-2 singleton query: no same-label other vector → NULL pos cols
    val q4 = got.filter(col("qid") === 4L).orderBy("rnk").collect()
    assert(q4.nonEmpty && q4.forall(r => r.isNullAt(5) && r.isNullAt(6)
      && r.isNullAt(7)))
  }

  // ------------------------------------------- retrieval-decon agreement

  test("deconAgreement: identical eval/train text agrees at rank 1; " +
    "term-disjoint eval doc reports zeroes; n_common bounded") {
    // pick ids by their actual md5 split bucket so the fixture controls
    // membership: trainId < 80, evalIds >= 80
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100).toInt
    }
    val trainIds = (1L to 200L).filter(bucket(_) < 80)
    val evalIds = (1L to 200L).filter(bucket(_) >= 80)
    val tA = trainIds.head; val tB = trainIds(1)
    val qSame = evalIds.head; val qDisjoint = evalIds(1)
    val docs = Seq(
      (tA, "x1 x2 x3 x4 x5 x6"),        // train: the contaminator
      (tB, "y1 y2 y3 y4 y5 y6"),        // train: unrelated
      (qSame, "x1 x2 x3 x4 x5 x6"),     // eval: exact copy of tA
      (qDisjoint, "z1 z2 z3 z4 z5 z6")) // eval: shares nothing
      .toDF("doc_id", "text")
    val got = Retrieval.deconAgreement(docs, k = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === Set(qSame, qDisjoint))
    // the copy: both rankings put tA first → agree, intersection ≥ 1
    val (nb, ne, nc, t1) = got(qSame)
    assert(nb >= 1L && ne === 1L && nc >= 1L && t1 === 1L, got(qSame).toString)
    assert(got(qDisjoint) === ((0L, 0L, 0L, 0L)), got(qDisjoint).toString)
    // corpus-level invariants
    val corpus = Tables.load(spark, sf001, "documents")
    Retrieval.deconAgreement(corpus, k = 5).collect().foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)))
      assert(r.getLong(1) <= 5L && r.getLong(2) <= 5L)
      assert(r.getLong(4) === 0L || r.getLong(4) === 1L)
    }
  }

  // ------------------------------------------------- vocabulary coverage

  test("vocabCoverage: hand-computed interval arithmetic on a 3-token " +
    "vocab; all deciles present; mass conserved") {
    // tf: a=3, b=2, c=1 → V=3, mass=6; ranks a=1, b=2, c=3.
    // decile d holds rank r iff ⌊d·3/10⌋+1 ≤ r ≤ ⌊(d+1)·3/10⌋ →
    // a lands in d3, b in d6, c in d9; every other decile is empty.
    val d = docsDf(1L -> "a a a b b c")
    val got = TextAnalysis.vocabCoverage(d).orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length === 10)
    val expMass = Map(3L -> 3L, 6L -> 2L, 9L -> 1L).withDefaultValue(0L)
    val expCum = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L,
      5L -> 3L, 6L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 6L)
    got.foreach { case (dec, nTok, mass, cum, frac) =>
      assert(mass === expMass(dec), s"decile $dec mass")
      assert(nTok === (if (expMass(dec) > 0) 1L else 0L), s"decile $dec n")
      assert(cum === expCum(dec), s"decile $dec cum")
      assert(math.abs(frac - expCum(dec) / 6.0) < 1e-12, s"decile $dec frac")
    }
  }

  // ------------------------------------------------- embedding dim stats

  test("dimStats: hand-computed snapped sums, zero counts, half-up " +
    "negative rounding") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.5f, -0.25f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.dimStats(vecs).orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // dim0: codes 1000000, 500000; dim1: codes ⌊0·10⁶+.5⌋=0 (and a zero),
    // ⌊−250000+.5⌋ = −250000 (half-up keeps floor semantics on negatives)
    assert(got(0) === ((0L, 2L, 1500000L, 500000L, 1000000L, 0L)), got(0).toString)
    assert(got(1) === ((1L, 2L, -250000L, -250000L, 0L, 1L)), got(1).toString)
  }

  // ----------------------------------------------------- tokenizer fertility

  test("fertility: hand-applied published merges; per-lang aggregation") {
    // "merger": m,e,r,g,e,r →(e,r)→ m,er,g,er →(m,er)→ mer,g,er = 3 syms
    // "stat":   s,t,a,t →(s,t)→ st,a,t →(a,t)→ st,at = 2 syms
    // "lu":     l,u →(l,u)→ lu = 1 sym
    val docs = Seq(
      (1L, "merger stat", "en", "s0"),
      (2L, "lu lu merger", "fr", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Bpe.fertility(docs).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got(0) === (("en", 1L, 2L, 5L, 2.5)), got(0).toString)
    assert(got(1) === (("fr", 1L, 3L, 5L, 5.0 / 3.0)), got(1).toString)
  }

  // -------------------------------------------------- hybrid retrieval

  private def splitBucketOf(id: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    (java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100).toInt
  }

  test("hybridAgreement: id-aligned planted neighbor agrees at rank 1; " +
    "corpus invariants hold over the query universe") {
    val trainIds = (1L to 300L).filter(splitBucketOf(_) < 80)
    val evalIds = (1L to 300L).filter(splitBucketOf(_) >= 80)
    val tA = trainIds.head; val tB = trainIds(1)
    val q = evalIds.head
    // both planes point q at tA: identical text AND identical vector
    val docs = Seq(
      (tA, "x1 x2 x3 x4 x5 x6"),
      (tB, "y1 y2 y3 y4 y5 y6"),
      (q, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val vecs = Seq(
      (tA, Array(1.0f, 0.0f)),
      (tB, Array(0.0f, 1.0f)),
      (q, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Retrieval.hybridAgreement(docs, vecs, k = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === Set(q))
    val (ns, nd, nc, t1) = got(q)
    // sparse surfaces tA (shared terms); dense ranks tA first (cos = 1)
    assert(ns >= 1L && nd === 2L && nc >= 1L && t1 === 1L, got(q).toString)
    // corpus: query universe == eval vec ids; bounds hold everywhere
    val docsC = Tables.load(spark, sf001, "documents")
    val vecsC = Tables.load(spark, sf001, "embeddings")
    val rows = Retrieval.hybridAgreement(docsC, vecsC, k = 5).collect()
    val evalVecIds = vecsC.filter(TextOps.splitBucket(col("vec_id")) >= 80)
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet === evalVecIds)
    rows.foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)))
      assert(r.getLong(1) <= 5L && r.getLong(2) <= 5L)
      assert(r.getLong(4) === 0L || r.getLong(4) === 1L)
    }
  }

  test("rrfFuse: hand-computed fusion; hybridRrfTopK corpus invariants " +
    "and leg-rank consistency") {
    val sparse = Seq((10L, 1L, 1L), (10L, 2L, 2L))
      .toDF("q_id", "doc_id", "rank")
    val dense = Seq((10L, 2L, 1L), (10L, 3L, 2L))
      .toDF("q_id", "doc_id", "rank")
    // RRF_e6: d2 = ⌊1e6/62⌋+⌊1e6/61⌋ = 16129+16393 = 32522;
    //         d1 = 16393 (sparse only); d3 = 16129 (dense only)
    val fused = Retrieval.rrfFuse(sparse, dense, k = 5).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(fused.toSeq === Seq(
      (2L, 32522L, 1L, 2L, 1L),
      (1L, 16393L, 2L, 1L, -1L),
      (3L, 16129L, 3L, -1L, 2L)))
    // corpus form: per-query ranks consecutive from 1, scores
    // non-increasing, every row carries at least one leg rank
    val docsC = Tables.load(spark, sf001, "documents")
    val vecsC = Tables.load(spark, sf001, "embeddings")
    val rows = Retrieval.hybridRrfTopK(docsC, vecsC, k = 5)
      .orderBy("q_id", "rank").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(3)).toSeq
      assert(ranks === (1L to ranks.length).toSeq)
      val scores = rs.sortBy(_.getLong(3)).map(_.getLong(2)).toSeq
      assert(scores === scores.sorted(Ordering[Long].reverse))
    }
    rows.foreach { r => assert(!r.isNullAt(4) || !r.isNullAt(5)) }
  }

  test("hllShingleCardinality: exact counts match a direct distinct; " +
    "register arithmetic replayed in-test; estimate within coarse bounds") {
    val docsC = Tables.load(spark, sf001, "documents")
    val got = Sketches.hllShingleCardinality(docsC).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    // exact leg == direct distinct (source, shingle) count
    val direct = TextOps.docShingles(docsC, 3)
      .join(docsC.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("s")).distinct()
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === direct.keySet)
    got.foreach { case (src, (exact, nZero, zE50, est, err)) =>
      assert(exact === direct(src), s"$src exact")
      assert(nZero >= 0L && nZero <= 64L, s"$src zeros")
      // Z is bounded by the all-empty sketch (64 registers at ρ = 0)
      assert(zE50 > 0L && zE50 <= 64L * (1L << 50), s"$src z")
      assert(math.abs(err - (est - exact.toDouble)) < 1e-6, s"$src err")
      // ±13% is the m=64 standard error; assert a loose 3-sigma envelope
      // on the corpus (thousands of distinct shingles per source)
      assert(est > exact * 0.5 && est < exact * 2.0, s"$src est=$est exact=$exact")
    }
    // streaming maintenance contract: max-merge of per-batch register
    // tables equals from-scratch registers, and is IDEMPOTENT under
    // re-delivery (same batch folded twice changes nothing)
    val docsC2 = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val half = docsC2.filter(col("doc_id") % 2 === 0)
    val other = docsC2.filter(col("doc_id") % 2 =!= 0)
    def regSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val fromScratch = regSet(Sketches.hllShingleRegisters(docsC2))
    val folded = regSet(Sketches.mergeHllRegisters(
      Sketches.mergeHllRegisters(
        Sketches.hllShingleRegisters(half),
        Sketches.hllShingleRegisters(other)),
      Sketches.hllShingleRegisters(half))) // re-delivery of `half`
    assert(folded === fromScratch)

    // replay the register formula for one synthetic shingle set
    val one = docsDf(1L -> "a b c d e").withColumn("source", lit("s"))
    val row = Sketches.hllShingleCardinality(one).collect().head
    // three shingles: "a b c", "b c d", "c d e" — replay md5-int32 → reg/ρ
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
    }
    val regs = Seq("a b c", "b c d", "c d e").map { s =>
      val h = h32(s); val rem = h % (1L << 26)
      val rho = if (rem == 0L) 27L
        else 26L - (63 - java.lang.Long.numberOfLeadingZeros(rem))
      (h / (1L << 26), rho)
    }.groupBy(_._1).map { case (r, vs) => r -> vs.map(_._2).max }
    val expZ = (0 until 64).map(r =>
      math.pow(2.0, 50.0 - regs.getOrElse(r.toLong, 0L)).toLong).sum
    assert(row.getLong(1) === 3L)
    assert(row.getLong(3) === expZ)
  }

  test("winnowMatchPairs: verbatim copy shares every fingerprint at " +
    "containment 1; disjoint docs never pair; guarantee on a planted run") {
    // doc 2 is a verbatim copy of doc 1; doc 3 shares nothing; doc 4
    // embeds doc 1's token run inside fresh context — the winnow
    // guarantee (any common run >= w+n-1 = 6 tokens shares a selected
    // fingerprint) forces the (1,4) pair to surface
    val base = "p1 p2 p3 p4 p5 p6 p7 p8"
    val d = docsDf(
      1L -> base,
      2L -> base,
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8",
      4L -> ("u1 u2 " + base + " u3 u4"))
    val got = TextAnalysis.winnowMatchPairs(d, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val (sh12, na12, nb12, c12) = got((1L, 2L))
    assert(sh12 === na12 && na12 === nb12 && c12 === 1.0)
    assert(got.contains((1L, 4L)), got.keySet.toString) // the guarantee
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
    // corpus invariants: shared <= min(na, nb), containment in (0, 1]
    val rows = TextAnalysis.winnowMatchPairs(
      Tables.load(spark, sf001, "documents")).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("retrievability: hit counts reconcile with the top-k tables; " +
    "spine covers every train doc; dense zeros readable via the flag") {
    val docsC = Tables.load(spark, sf001, "documents")
    val vecsC = Tables.load(spark, sf001, "embeddings")
    val rows = Retrieval.retrievability(docsC, vecsC, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // spine = exactly the train docs
    val trainIds = docsC.filter(TextOps.splitBucket(col("doc_id")) < 80)
      .collect().map(_.getLong(0)).toSet
    assert(rows.keySet === trainIds)
    // conservation: per-doc hit counts sum to the top-k tables' row counts
    val sparseTotal = Retrieval.bm25TopK(docsC, 5).count()
    val denseTotal = Retrieval.denseEvalTopK(vecsC, 5).count()
    assert(rows.values.map(_._1).sum === sparseTotal)
    assert(rows.values.map(_._2).sum === denseTotal)
    // a doc outside the dense index never has dense hits; flag matches
    // vector membership
    val trainVecIds = vecsC.filter(TextOps.splitBucket(col("vec_id")) < 80)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, (_, nd, flag)) =>
      assert(flag === (if (trainVecIds(id)) 1L else 0L), s"doc $id flag")
      if (flag == 0L) assert(nd === 0L, s"doc $id dense hits w/o vector")
    }
    // the dead-weight readout exists: at least one never-retrieved doc
    assert(rows.values.exists(v => v._1 === 0L))
  }
}
