package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. Every operator
  * is a single codegen'd projection (or one groupBy for the fingerprint) —
  * no joins, no explode of the corpus into per-token rows except where a
  * per-token aggregate is the semantics.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic.
    * (A production profile would be learned; the operator shape — scoring a
    * document against K fixed profiles and taking the argmax — is what
    * matters and is identical.) */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "los", "en", "y", "es", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "nicht"),
    "fr" -> Seq("le", "les", "des", "et", "un", "une", "est", "dans"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "不"))

  private def ratioFor(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast(DoubleType) /
      size(toks).cast(DoubleType)

  /** Language ID: per-language stopword hit ratio, argmax with alphabetical
    * tie-break (via a sort over (−score, lang) structs — in-row, no
    * shuffle). Tokens are projected to a bound attribute first so the K
    * profile scans share one materialized array (see
    * TextOps.shinglesFromTokens for why). Output: (doc_id, pred_lang, score). */
  def langId(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val scored = sort_array(array(stopwords.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        struct((-ratioFor(toks, words)).as("neg"), lit(lang).as("lang"))
    }: _*))
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        element_at(scored, 1).getField("lang").as("pred_lang"),
        (-element_at(scored, 1).getField("neg")).as("score"))
  }

  /** Language-ID AGREEMENT audit — the confusion matrix of the n-gram
    * language heuristic (langId) against the corpus's own `lang` label:
    * per (labeled, predicted) cell the doc count, the labeled-language
    * total, the row fraction, and a diagonal flag. The calibration check
    * run before trusting EITHER signal — a strong off-diagonal cell means
    * the heuristic and the crawl metadata disagree systematically (mixed-
    * language sources, mislabeled crawls, or a stopword list gap), and
    * per-language filters (l26/l28's strata) are then built on sand.
    *
    * Scale: prediction is langId's pure projection WITH the label carried
    * — ONE corpus scan, no id-keyed join of two scans; the corpus-sized
    * agg lands on ≤ |langs|² cells; label totals fold the cell table
    * itself (tiny), never the corpus again. Fractions divide exact longs
    * once. */
  def langIdAgreement(docs: DataFrame): DataFrame = {
    val scored = sort_array(array(stopwords.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        struct((-ratioFor(col("toks"), words)).as("neg"), lit(lang).as("lang"))
    }: _*))
    val cells = docs
      .select(col("lang"), TextOps.tokens(col("text")).as("toks"))
      .select(col("lang"), element_at(scored, 1).getField("lang").as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val totals = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_label"))
    cells.join(totals, "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"), col("n_label"),
        (col("n_docs").cast(DoubleType) / col("n_label").cast(DoubleType))
          .as("frac_of_label"),
        when(col("lang") === col("pred_lang"), 1L).otherwise(0L).as("is_match"))
  }

  /** Quality metrics: token count, mean token length, punctuation ratio,
    * stopword ratio — the length/punct/stopword heuristics of corpus
    * filtering, as exact integer-derived doubles. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val letters = length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
    docs.select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
      .select(
      col("doc_id"),
      nTok.as("n_tok"),
      ((length(col("text")) - (nTok - 1)).cast(DoubleType)
        / nTok.cast(DoubleType)).as("mean_tok_len"),
      // EMPTY docs (length 0) carry no punctuation signal: null, not a
      // divide-by-zero — ANSI mode throws on 0/0 and DuckDB's x/0 is
      // NULL, so the guard is both the crash fix (crawls contain empty
      // docs; first hit by the l97 random-corpus property) and the
      // cross-engine-convergent semantics. Fixture corpora contain no
      // empty text, so every oracle is unaffected.
      when(length(col("text")) > 0,
        (length(col("text")) - letters).cast(DoubleType)
          / length(col("text")).cast(DoubleType)).as("punct_ratio"),
      ratioFor(toks, stopwords("en")).as("stop_ratio"))
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens (letter runs,
    * digit runs, single other-chars) — both as one projection. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).cast(LongType).as("ws_tokens"),
      // group 0 = the whole match (the pattern has no capture groups;
      // Spark's default group index is 1 and would throw)
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast(LongType).as("re_tokens"))

  /** Per-language length-distribution audit — the statistics a sequence-
    * packing / context-length-bucketing stage is tuned against: exact
    * quartiles (continuous interpolation) plus min/max of `n_chars` per
    * language.
    *
    * Exactness across engines: the quantile fractions are DYADIC (0.25,
    * 0.5, 0.75), so on integer inputs every interpolated value
    * `lower + g*(higher-lower)` is an exactly-representable double in any
    * evaluation order — Spark's `percentile` and DuckDB's `quantile_cont`
    * (both defined at continuous rank q*(n-1)) return bit-identical
    * doubles. Non-dyadic fractions (0.9, 0.99) would NOT hash-match across
    * engines and are deliberately absent.
    *
    * Scale: Spark's exact `percentile` buffers per-group (value → count)
    * maps, so memory is O(distinct lengths) per language — bounded by the
    * length domain (~1e6), NOT by row count; partial maps merge map-side.
    * That makes exact quartiles affordable at 100 TB here, where a general
    * exact percentile over an unbounded-cardinality column would not be —
    * for those, `percentile_approx` (t-digest-style, constant memory) is
    * the scale path; its error vs this exact form is pinned in LlmSpec. */
  def lengthPercentiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        percentile(col("n_chars"), lit(0.25)).as("p25_chars"),
        percentile(col("n_chars"), lit(0.5)).as("p50_chars"),
        percentile(col("n_chars"), lit(0.75)).as("p75_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Deterministic EXACT-K per-stratum sample — eval-set construction:
    * exactly `k` documents per stratum, chosen by md5 rank (salted with the
    * stratum), so the selection is content-independent, partition-layout
    * independent, and stable across runs/engines — unlike rate-based
    * sampling (stratifiedSample) which fixes the RATE but not the count.
    * One window pass per stratum partition (single shuffle on the stratum;
    * at 100 TB strata are few and large — the rank frame is a top-k heap
    * per partition, not a full sort of the corpus when k is small).
    * Output: (doc_id, stratum, rank 1..k). */
  def perStratumSample(docs: DataFrame, stratumCol: String = "lang",
                       k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(concat_ws(":", col(stratumCol),
        col("doc_id").cast(StringType))), col("doc_id"))
    docs.select(col("doc_id"), col(stratumCol).as("stratum"),
        row_number().over(w).cast(LongType).as("rank"))
      .filter(col("rank") <= k)
  }

  /** Deterministic train/val/test corpus split: bucket = md5(doc_id) mod
    * 100, cut at trainPct / trainPct+valPct. Content-independent and
    * partition-layout-independent, so the SAME document lands in the SAME
    * split on every run, every engine, every cluster — the property a
    * training holdout actually requires (seeded `sample()` has none of
    * these guarantees). */
  def stableSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs.select(
      col("doc_id"), col("lang"),
      TextOps.splitLabel(col("doc_id"), trainPct, valPct).as("split"))

  /** DETERMINISTIC corpus SHUFFLE + SHARDING — the data-ordering step a
    * training run performs after curation and before packing/tokenization:
    * every document gets a stable pseudo-random shuffle key (md5 of
    * seed:doc_id), a shard (key's leading 32 bits mod nShards), and its
    * position within the shard. Content- and layout-independent exactly
    * like stableSplit: the same (seed, corpus) yields the same order on
    * every run, engine, and cluster — the property that makes a training
    * run reproducible and an interrupted tokenization job resumable at a
    * shard boundary. A new seed is a new epoch-order for free.
    *
    * Scale shape: shard assignment is a pure projection; the within-shard
    * position is ONE shuffle on the shard key plus a per-shard sort — the
    * irreducible cost of total ordering, paid as nShards independent sorts
    * instead of the single-task global sort a bare row_number() over the
    * corpus would serialize on. nShards IS the parallelism knob: each
    * shard sorts in one task, so size it to the corpus (the default 8
    * suits the test corpus; a 100 TB run wants thousands — one shard ≈ one
    * output file of a few hundred MB, which also matches how a
    * tokenization job consumes them). Output: (doc_id, shard, pos). */
  def shardShuffle(docs: DataFrame, nShards: Int = 8,
                   seed: String = "graft"): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(concat_ws(":", lit(seed), col("doc_id").cast(StringType))).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    keyed
      .withColumn("shard",
        conv(substring(col("k"), 1, 8), 16, 10).cast(LongType) % nShards)
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast(LongType).as("pos"))
  }

  /** Text cleaning/normalization — the first pass of any training-data
    * pipeline: lowercase, strip non-alphanumerics to spaces, collapse runs,
    * trim. Emits the cleaned text's digest + before/after lengths (the
    * audit columns a cleaning job reports). */
  def cleanText(docs: DataFrame): DataFrame = {
    // ONE regex pass: a maximal run of non-alphanumerics (spaces included)
    // becomes a single space — identical to the two-pass strip-then-collapse
    // form (any mixed punct/space run collapsed to one space either way),
    // at half the regex cost (the corpus is scanned once, not twice).
    val cleaned = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    docs.select(
      col("doc_id"),
      md5(cleaned).as("clean_md5"),
      length(col("text")).cast(LongType).as("raw_len"),
      length(cleaned).cast(LongType).as("clean_len"))
  }

  /** PII patterns shared verbatim between the Spark query and the DuckDB
    * oracle. RE2-safe by construction — character classes and bounded
    * quantifiers only, no lookaround/backrefs — so Java's regex engine
    * (Spark) and RE2 (DuckDB) match identical spans on identical input. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val LongIdRe = "[0-9]{9,}"

  /** PII REDACTION — the compliance pass before any text ships to
    * training: mask emails, phone-shaped numbers, and long digit ids,
    * reporting per-doc match counts as the audit trail. Pure projection
    * (three regexp passes over the row), scale-linear, no shuffle — at
    * 100 TB this pipelines inside the scan like cleanText. Counts are
    * taken on the ORIGINAL text with the same patterns; redaction is
    * ordered email → phone → id so a digit run inside a masked email is
    * never double-redacted. The redacted text crosses engines as md5 (the
    * chunk_md5 discipline) so the oracle compares scalars. */
  def redactPii(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("text"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), LongIdRe, "<ID>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast(LongType).as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast(LongType).as("n_phones"),
      regexp_count(col("text"), lit(LongIdRe)).cast(LongType).as("n_ids"),
      md5(redacted).as("redacted_md5"))
  }

  /** Contiguous sequence packing: assign documents (in doc_id order) to
    * fixed-token-budget packs — pack_id = floor(tokens-before-this-doc /
    * budget), i.e. an exclusive global prefix sum split by budget.
    *
    * Executed as a two-level distributed prefix sum (a naive global-order
    * window moves the whole corpus to ONE task — the classic scan
    * anti-pattern):
    *   1. bucket docs by doc_id range; running sum WITHIN each bucket is a
    *      partitioned window (parallel, bounded by bucket occupancy);
    *   2. per-bucket totals (one row per bucket, corpus/bucketWidth rows)
    *      get their own exclusive prefix sum — a single-partition window
    *      over the tiny totals table only (explicit constant partition
    *      key: this level is ~N/bucketWidth rows by construction; at
    *      extreme scale you add a third level the same way);
    *   3. pack_id = (bucket offset + within-bucket running sum) / budget.
    * Integer arithmetic throughout — bit-identical to the single-window
    * formulation and to the oracle's global-ORDER-BY running sum. */
  def sequencePack(docs: DataFrame, budgetTokens: Long = 2000L,
                   bucketWidth: Long = 4096L): DataFrame =
    sequenceOffsets(docs, bucketWidth)
      .withColumn("pack_id", floor(col("off") / budgetTokens))
      .select(col("doc_id"), col("n_tok"), col("pack_id"))

  /** The BUDGET-INDEPENDENT core of sequencePack: each document's exact
    * token count and its running start offset under the salted two-level
    * prefix sum (within-bucket window + tiny per-bucket offset join).
    * Factored out (round 22) so a budget SWEEP computes the corpus pass
    * once — pack_id is just floor(off / budget), the only place the
    * budget enters. */
  private[graft] def sequenceOffsets(docs: DataFrame,
                                     bucketWidth: Long = 4096L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val nTok = TextOps.tokenCount(col("text")).cast(LongType)
    val base = docs.select(col("doc_id"), nTok.as("n_tok"))
      .withColumn("bkt", floor(col("doc_id") / bucketWidth))
    val wIn = W.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    // pmod(bkt,1) ≡ 0 but is not foldable, so the single-partition intent
    // survives optimization as an explicit partition key (a lit(0) is
    // constant-folded out of the spec, reverting to the global-window warn).
    val wBkt = W.partitionBy(pmod(col("bkt"), lit(1))).orderBy(col("bkt"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bkt")).agg(sum(col("n_tok")).as("bsum"))
      .withColumn("boff", coalesce(sum(col("bsum")).over(wBkt), lit(0L)))
      .select(col("bkt"), col("boff"))
    base
      .withColumn("run", coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .join(broadcast(offsets), "bkt") // one row per bucket — always small
      .select(col("doc_id"), col("n_tok"),
        (col("boff") + col("run")).as("off"))
  }

  /** Within-document REPETITION scoring — the boilerplate/degenerate-text
    * filter of corpus curation (docs dominated by repeated n-grams are
    * low-quality generation targets): rep_ratio = 1 − distinct/total
    * n-gram positions. Single projection, in-row arithmetic, no shuffle;
    * docs shorter than n tokens score 0. */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - (n - 1), lit(0)).cast(LongType)
          .as("n_shingles"),
        size(TextOps.shinglesFromTokens(col("toks"), n)).cast(LongType)
          .as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_distinct").cast(DoubleType)
            / col("n_shingles").cast(DoubleType))
          .otherwise(lit(0.0)))

  /** Deterministic STRATIFIED sampling by hash threshold: keep a document
    * iff md5(lang:doc_id) mod 1000 < rate‰ for its stratum. This is the
    * 100 TB form of stratified sampling — a pure projection+filter (no
    * shuffle, no per-stratum window/count pass), reproducible across runs,
    * engines, and partition layouts, with independent rates per stratum
    * (up-/down-weighting languages or domains when composing a training
    * mix). The hash is salted with the stratum so selection is independent
    * of the md5(doc_id) split buckets of stableSplit.
    *
    * `rates` maps stratum → keep-rate in ‰ (permille); strata absent from
    * the map use `defaultRate`. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultRate: Int = 250): DataFrame = {
    val bucket = TextOps.md5Int32(
      concat(col("lang"), lit(":"), col("doc_id").cast(StringType))) % 1000
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
  }

  /** Domain MIXING weights — the "data recipe" pass of training-corpus
    * assembly: per-source document/token counts plus the resampling weight
    * that would equalize token share across sources (weight > 1 ⇒
    * upsample, < 1 ⇒ downsample). One hash-agg over the corpus + a
    * broadcast of the 1-row totals; exact integer counts with a single
    * final double division so the weights hash identically cross-engine. */
  def domainMix(docs: DataFrame): DataFrame = {
    val per = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast(LongType)).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("tot_tokens").cast(DoubleType)
          / (col("n_sources") * col("n_tokens"))).as("weight"))
  }

  /** TOKEN-BUDGET mixture sampling — the "assemble N tokens per source"
    * step that turns domainMix's recipe into an actual corpus: per source,
    * admit documents in a stable pseudo-random order (md5 of doc_id) until
    * the source's cumulative token count reaches `budget`; the first
    * document to cross the line is kept (bounded overshoot of one doc per
    * source), everything after is dropped.
    *
    * Scale shape — a SALTED prefix sum, not a per-source window: a plain
    * `sum().over(Window.partitionBy(source))` is l48's old skewed-rank
    * exchange in disguise (a handful of source keys, each reducer
    * receiving its source's entire corpus slice and sorting it in one
    * task). Instead the order key's FIRST HEX CHAR salts the window:
    * because the salt is a PREFIX of the md5 order key, bucket-major order
    * IS global order, so global_before = (sum of whole preceding buckets,
    * a 16·|sources|-row aggregate prefix-summed and broadcast back) +
    * (within-bucket before, a window keyed on (source, bkt) — 16× the
    * keys, 1/16 the rows per reducer, deterministic skew relief that
    * widens to 256× by taking two hex chars at larger scale). Token
    * counting is the native ws_token_count; text never crosses any
    * exchange — the windowed rows carry (doc_id, source, n_tokens, h). */
  /** The admission working set shared by the budget samplers: (doc_id,
    * source, n_tokens, h, bkt). Null text counts ZERO tokens (kept,
    * consumes no budget) — the same rule S16's streaming gate applies,
    * so the batch/stream equivalence holds on degenerate rows too. */
  private def budgetWorkingSet(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        coalesce(TextOps.tokenCount(col("text")).cast(LongType), lit(0L))
          .as("n_tokens"),
        md5(col("doc_id").cast(StringType)).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 1))

  /** The salted prefix-sum admission core: keep every row of `d` whose
    * per-source cumulative token count BEFORE it (md5 order) is under
    * that row's `budget` column. `d` must carry (doc_id, source,
    * n_tokens, h, bkt, budget). */
  /** Whole-bucket exclusive prefix table of the salted per-source order
    * machinery: `perBucket` aggregated per (source, bkt) — 16 rows per
    * source, bounded by construction — then prefix-summed per source in
    * bucket order. Shared by the budget samplers (token sums) and the
    * mixture-order rank (counts): the salt-prefix-of-the-order-key
    * argument (bucket-major md5 order IS global md5 order) lives in ONE
    * shape. */
  private def bucketPrefixes(d: DataFrame, perBucket: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    d.groupBy(col("source"), col("bkt"))
      .agg(perBucket.as("bv"))
      .withColumn("before_bkt",
        coalesce(sum(col("bv")).over(
          W.partitionBy(col("source")).orderBy(col("bkt"))
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("source").as("p_source"), col("bkt").as("p_bkt"),
        col("before_bkt"))
  }

  /** NULL-SAFE prefix join back: groupBy keeps a null-source group (as
    * do the oracles' PARTITION BY and S16's groupByKey), so a null-unsafe
    * equality here would silently drop every null-source doc instead of
    * treating them as their own group. Every salted-prefix consumer MUST
    * join through this helper. */
  private def joinPrefixes(d: DataFrame, prefixes: DataFrame): DataFrame =
    d.join(broadcast(prefixes),
      col("source") <=> col("p_source") && col("bkt") <=> col("p_bkt"))

  private def admitUnderBudget(d: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val withinBefore = coalesce(sum(col("n_tokens")).over(
      W.partitionBy(col("source"), col("bkt")).orderBy(col("h"))
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L))
    joinPrefixes(d, bucketPrefixes(d, sum(col("n_tokens"))))
      .withColumn("before", col("before_bkt") + withinBefore)
      .filter(col("before") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  def tokenBudgetSample(docs: DataFrame, budget: Long): DataFrame =
    admitUnderBudget(budgetWorkingSet(docs).withColumn("budget", lit(budget)))

  /** TEMPERATURE-weighted mixture sampling — the full "data recipe"
    * pipeline in one operator: per-source budgets are computed FROM the
    * corpus by the standard temperature rule at α = 1/2
    * (budget_s = totalBudget · √tokens_s / Σ_t √tokens_t — big sources
    * are damped, small sources upweighted, the familiar multilingual/
    * domain rebalancing curve), then l55's salted prefix-sum admission
    * fills each budget in stable md5 order.
    *
    * Why α is FIXED at 1/2: `sqrt` is IEEE-correctly-rounded, so Spark
    * and the DuckDB oracle produce bit-identical weights; a general
    * `pow(x, α)` is not correctly rounded and may differ by 1 ulp
    * between libm implementations — the boundary doc whose `before`
    * lands within that ulp of its budget would then flip verdicts
    * between engines. Σ√tokens folds SEQUENTIALLY in source order
    * (sort_array + aggregate — the cosine discipline), never a plain
    * sum() whose partition-order addition is non-deterministic in
    * floating point. Scale shape: the budget table is |sources| rows
    * (one tiny agg + a 1-row broadcast), everything else is l55. */
  def temperatureBudgetSample(docs: DataFrame, totalBudget: Long): DataFrame = {
    val d = budgetWorkingSet(docs)
    // checkpoint the |sources|-row aggregate so the tot and budgets arms
    // read the materialized tiny table instead of each re-running the
    // corpus-sized token aggregation (exchange reuse is not guaranteed
    // across crossJoin arms); the corpus-sized `d` itself stays
    // unmaterialized — recompute beats persisting a corpus projection,
    // the l46/l55 trade
    val perSource = d.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("st"))
      .select(col("source"),
        sqrt(col("st").cast(DoubleType)).as("w"))
      .localCheckpoint()
    // sort_array places a null-source struct FIRST; the oracle's fold
    // order must say NULLS FIRST explicitly (DuckDB defaults NULLS LAST)
    // or a null-source corpus folds tw in a different order and the
    // boundary doc's verdict can flip by an ulp
    val tot = perSource.agg(
      aggregate(
        transform(sort_array(collect_list(struct(col("source"), col("w")))),
          x => x.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("tw"))
    val budgets = perSource.crossJoin(broadcast(tot))
      .select(col("source").as("b_source"),
        (lit(totalBudget.toDouble) * col("w") / col("tw")).as("budget"))
    admitUnderBudget(
      d.join(broadcast(budgets), col("source") <=> col("b_source"))
        .drop("b_source"))
  }

  /** Corpus vocabulary: per-token occurrence and document frequency. One
    * explode + one hash-agg (map-side partials make the shuffle carry one
    * row per (task, distinct-token), not per occurrence) — the first pass
    * of any tokenizer-training / corpus-statistics job. */
  def vocabulary(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))

  /** Top-k discriminative terms per document by tf·(N/df) — the rational-
    * idf variant of tf-idf (N/df instead of ln(N/df)): the same ranking
    * family, chosen because integer-product-then-one-division is bit-
    * identical across engines while ln() rounding is not guaranteed.
    *
    * Scale: tf is a (doc, token) hash-agg; df is a second agg OVER TF (one
    * row per distinct (doc,token), far smaller than the token stream); the
    * tf⋈df join key is the token — Zipf-skewed, but the df side is
    * vocabulary-sized, so AQE broadcasts it in practice (no forced hint:
    * a web-scale vocabulary can exceed driver memory). */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = W.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.join(dfT, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")) / col("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"))
  }

  /** Document fingerprint via mod-p shingle sampling (winnowing-style):
    * md5-int32 each distinct 3-gram shingle, keep hashes ≡ 0 (mod p), and
    * digest the sorted surviving hex values. Two docs share a fingerprint
    * iff their sampled shingle sets are identical — an 8×-compressed
    * near-exact dedup key. Docs with no surviving shingle are dropped. */
  def fingerprints(docs: DataFrame, n: Int = 3, p: Int = 8): DataFrame =
    TextOps.docShingles(docs, n)
      .withColumn("hx", substring(md5(col("s")), 1, 8))
      // derive the sampling test from the ALREADY-PROJECTED hx digest —
      // md5Int32(s) here would hash every shingle a second time in a
      // separate Filter operator (no cross-operator CSE); hx IS the first
      // 8 hex chars md5Int32 parses
      .filter(conv(col("hx"), 16, 10).cast(LongType) % p === 0)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sel"),
        md5(concat_ws(",", sort_array(collect_list(col("hx"))))).as("fp"))

  /** BOILERPLATE detection by corpus-frequent shingles — the cross-document
    * counterpart of `repetition` (which is within-document): a distinct
    * 3-gram present in more than `permille`‰ of documents is boilerplate
    * (site chrome, license headers, navigation text), and a document
    * dominated by such shingles is template filler. Per doc: distinct
    * shingle count, boilerplate shingle count, and their ratio.
    *
    * The threshold is RELATIVE to corpus size (df > n_docs·permille/1000),
    * so the operator's meaning is scale-invariant — the same ‰ cut at sf0.01
    * and at 100 TB. Scale shape: one shingle pass, one df groupBy (map-side
    * partials), and the hot set is tiny by construction (only corpus-wide
    * boilerplate survives the cut) → broadcast membership join; the corpus
    * itself is never shuffled. */
  def boilerplateStrip(docs: DataFrame, n: Int = 3,
                       permille: Int = 10): DataFrame = {
    val sh = TextOps.docShingles(docs, n).localCheckpoint()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 1000 > col("n_docs") * permille)
      .select(col("s"), lit(1).as("hot"))
    sh.join(broadcast(hot), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("hot")).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast(DoubleType) / col("n_sh").cast(DoubleType))
  }

  /** BIGRAM FLUENCY score — the corpus-statistics quality signal (the
    * CCNet-style LM-perplexity filter's exact-arithmetic stand-in): score
    * each document by how ordinary its token bigrams are in THIS corpus.
    * Per doc: bigram count, mean corpus frequency of its bigrams, and the
    * fraction that are corpus hapax (frequency ≤ `rareMax`) — word salad
    * and boilerplate-free garbage score high rare fractions; fluent text
    * reuses the corpus's common transitions. Integer sums + one division,
    * so every value is order-independent and cross-engine exact (a
    * log-probability formulation would hang the oracle on libm ulp
    * differences between engines).
    *
    * Scale shape: bigrams leave the scan as md5-int32 HASH LONGS (text
    * never shuffles, and the digest key is 8 bytes, not a 32-char hex
    * string — the narrowest possible corpus-sized exchange); one count
    * groupBy on the hash (map-side partials), one hash-keyed join back,
    * one per-doc aggregate; zero-bigram docs are restored by a narrow
    * doc_id left join. The hash sequence is the native codegen
    * `positional_gram_hashes` at n = 2 (the l102 expression — the
    * previous md5-inside-transform lambda ran interpreted and paid the
    * ~50× HOF tax on every bigram of the corpus); the oracle replays the
    * identical int32 grid, so the rare 32-bit collision folds two
    * bigrams into one count bucket IDENTICALLY in both engines. */
  def bigramFluency(docs: DataFrame, rareMax: Long = 1L): DataFrame = {
    val bi = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(call_function("positional_gram_hashes", col("toks"), lit(2)))
          .as("h"))
    val counts = bi.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val perDoc = bi.join(counts, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("c_sum"),
        sum(when(col("c") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("c_sum").cast(DoubleType) / col("n_bigrams"), lit(0.0))
          .as("mean_count"),
        coalesce(col("n_rare").cast(DoubleType) / col("n_bigrams"), lit(0.0))
          .as("rare_frac"))
  }

  /** Train-vocabulary OOV-rate audit — the coverage measurement run after
    * fixing a tokenizer/vocabulary on the train split: the vocabulary is
    * the top-`vocabSize` token bigrams by TRAIN-split frequency (freq
    * desc, bigram asc tiebreak — a deterministic cut), and every
    * (split, source) cell reports what fraction of its bigram occurrences
    * fall outside that vocabulary. val/test OOV rates against a
    * train-derived vocab are the generalization-coverage numbers
    * tokenizer papers table; a source whose test-split OOV spikes is
    * drifting away from the train distribution. Split membership uses
    * the one shared splitBucket expression (TextOps.splitBucket).
    *
    * Scale: ONE corpus pass reduces to (split, source, bigram) occurrence
    * counts — cardinality bounded by splits × sources × the bigram space,
    * not the corpus — and that table (localCheckpointed: both the vocab
    * branch and the rate branch read it) feeds a top-V TakeOrdered
    * (partition-local partial top-V, no full sort) whose result
    * broadcasts back for the membership flag. No corpus-sized shuffle
    * beyond the bigram-atom hash-agg; map-side combine applies on both
    * aggregations. */
  def oovRateAudit(docs: DataFrame, vocabSize: Int = 500,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bg = docs
      .select(TextOps.splitLabel(col("doc_id"), trainPct, valPct).as("split"),
        col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("split"), col("source"),
        explode(TextOps.bigramOccurrences(col("toks"))).as("b"))
    val cellCounts = bg
      .groupBy(col("split"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      // read twice (vocab derivation + rate aggregation); eager — the
      // first reader is the TakeOrdered whose partial top-V would
      // otherwise race the persist
      .localCheckpoint()
    val vocab = cellCounts.filter(col("split") === "train")
      .groupBy(col("b")).agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("b"))
      .limit(vocabSize)
      .select(col("b"), lit(true).as("in_vocab"))
    cellCounts
      .join(broadcast(vocab), Seq("b"), "left")
      .groupBy(col("split"), col("source"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
          .as("n_oov"))
      .select(col("split"), col("source"), col("n_bigrams"), col("n_oov"),
        (col("n_oov").cast(DoubleType) / col("n_bigrams")).as("oov_rate"))
  }

  /** Sequence-pack EFFICIENCY audit — the padding-waste measurement run
    * after l19's packing: per pack, the document count, exact token
    * total, and fill rate against the budget. Under the start-offset
    * assignment a boundary-straddling document attributes all its tokens
    * to the pack its first token lands in, so fill_rate > 1 marks the
    * packs that overflow into the next budget window and fill_rate < 1
    * (the final pack aside) quantifies padding the trainer burns.
    *
    * Scale: inherits sequencePack's salted two-level prefix sum; the
    * audit itself is one hash-agg keyed on pack_id (map-side partials —
    * cardinality = corpus tokens / budget). */
  def packEfficiency(docs: DataFrame, budgetTokens: Long = 2000L): DataFrame =
    sequencePack(docs, budgetTokens)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
      .select(col("pack_id"), col("n_docs"), col("pack_tokens"),
        (col("pack_tokens").cast(DoubleType) / budgetTokens.toDouble)
          .as("fill_rate"))

  /** Pack-BUDGET sweep — the "choose the context length" table: for each
    * candidate token budget, the pack count, corpus token mass (constant —
    * conservation is the cross-row sanity check), total capacity, overall
    * fill rate, and how many packs exceed their budget (a doc longer than
    * the budget overflows its pack under the contiguous l19 rule — the
    * count of those is the "this budget needs chunking first" signal,
    * l35's composition). Complements l61 (per-pack detail at ONE budget)
    * with the cross-budget summary a packing config is chosen from.
    *
    * Scale: each budget leg is sequencePack's story (token counts in the
    * scan via the native expression, salted prefix-sum — no global-window
    * straggler) folded to ≤|packs| rows then ONE summary row; budgets
    * share nothing but the scan, and the output is |budgets| rows. Ratios
    * divide exact longs once. */
  def packBudgetSweep(docs: DataFrame,
                      budgets: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L))
      : DataFrame = {
    // ONE corpus pass for every budget (round 22): the token counts and
    // running start offsets are budget-INDEPENDENT (sequenceOffsets — the
    // factored sequencePack core), so the sweep checkpoints that
    // |docs|-row table once and each budget leg is floor(off / b) + two
    // tiny aggregations over it — the per-leg form re-ran the corpus
    // scan, the token-count expression and the salted prefix sum
    // |budgets| times (guide §1.2 step 1: don't compute things twice).
    val offs = sequenceOffsets(docs).localCheckpoint()
    budgets.map { b =>
      offs.select(floor(col("off") / b).as("pack_id"), col("n_tok"))
        .groupBy(col("pack_id"))
        .agg(sum(col("n_tok")).as("pack_tokens"))
        .agg(count(lit(1)).as("n_packs"),
          sum(col("pack_tokens")).as("corpus_tokens"),
          sum(when(col("pack_tokens") > b, 1L).otherwise(0L))
            .as("n_over_budget_packs"))
        .select(lit(b).as("budget"), col("n_packs"), col("corpus_tokens"),
          (col("n_packs") * b).as("capacity"),
          (col("corpus_tokens").cast(DoubleType)
            / (col("n_packs") * b).cast(DoubleType)).as("fill_rate"),
          col("n_over_budget_packs"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic interleaved mixture ORDER — the epoch-schedule
    * materialization that turns per-source mixture weights into the
    * actual global training order: source s's docs take positions
    * rank_s/w_s (rank = 1.. in stable md5 order within the source,
    * w_s = √(source token count), l57's α = 1/2 curve), and ascending
    * order_key interleaves sources proportionally to their weights —
    * heavier sources appear proportionally more often per unit of
    * schedule. Deterministic on any layout: the rank is a total order
    * (md5 keys), w is IEEE-exact, and one division produces the key.
    *
    * Scale: the per-source rank uses l55's salted prefix-sum shape —
    * bucket counts (16 rows/source) prefix-summed on a broadcast
    * aggregate, within-bucket row_number over (source, bkt) — so no
    * per-source single-key window ever sees the whole corpus; the weight
    * table is a broadcast |sources|-row aggregate. */
  def mixtureOrder(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = budgetWorkingSet(docs)
    val perSource = d.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("st"))
      .select(col("source").as("w_source"),
        sqrt(col("st").cast(DoubleType)).as("w"))
    val withinRank = row_number().over(
      W.partitionBy(col("source"), col("bkt")).orderBy(col("h")))
    // Degenerate-source rule: a source whose every doc has NULL text has
    // zero tokens (budgetWorkingSet's rule), so w = 0 and rank/w would
    // be a DIVIDE_BY_ZERO stage failure under ANSI mode (Spark 4
    // default) — such a source has no trainable content, so it is
    // DROPPED from the schedule by construction (the w > 0 filter below;
    // pinned in LlmSpec). The declared oracle's contract covers only
    // sources with tokens — the fixture plants no dead source.
    joinPrefixes(d, bucketPrefixes(d, count(lit(1))))
      .withColumn("rank_in_source", col("before_bkt") + withinRank)
      .join(broadcast(perSource.filter(col("w") > 0.0)),
        col("source") <=> col("w_source"))
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        (col("rank_in_source").cast(DoubleType) / col("w")).as("order_key"))
  }

  /** Per-source vocabulary DRIFT audit — the chi-square distance of each
    * source's word distribution from the whole-corpus distribution:
    * χ²(s) = Σ_w (obs_w/n_s − p_w)²/p_w over the corpus word domain
    * (zero-count cells included — a source MISSING a corpus-common word
    * is drift too). The per-source drift ranking curation pipelines
    * check before re-weighting or dropping a source; chi-square rather
    * than KL because every term is built from exact integer divisions
    * (one division each) and folded sequentially in word order — log's
    * libm rounding would break cross-engine hashing.
    *
    * Scale: ONE corpus pass reduces to (source, word) counts (map-side
    * partials; cardinality = sources × vocabulary, localCheckpointed —
    * three small derivations read it); everything after is vocab-table
    * work on broadcast grids. */
  def vocabDrift(docs: DataFrame): DataFrame = {
    val sw = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val words = sw.groupBy(col("word")).agg(sum(col("cnt")).as("wc"))
    val tot = words.agg(sum(col("wc")).as("tc"))
    val wordP = words.crossJoin(broadcast(tot))
      .select(col("word"),
        (col("wc").cast(DoubleType) / col("tc").cast(DoubleType)).as("p"))
    val srcTot = sw.groupBy(col("source")).agg(sum(col("cnt")).as("st"))
    val f = col("cnt").cast(DoubleType) / col("st").cast(DoubleType)
    val terms = srcTot.crossJoin(broadcast(wordP))
      .join(sw.select(col("source").as("c_source"), col("word").as("c_word"),
          col("cnt")),
        col("source") <=> col("c_source") && col("word") === col("c_word"),
        "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .select(col("source"), col("st"), col("word"),
        ((f - col("p")) * (f - col("p")) / col("p")).as("term"))
    terms.groupBy(col("source"), col("st"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("word"), col("term")))),
          x => x.getField("term")),
        lit(0.0), (acc, x) => acc + x).as("chi2"))
      .select(col("source"), col("st").as("n_tokens"), col("chi2"))
  }

  /** Quality-threshold SENSITIVITY sweep — the table a curator reads
    * before fixing a quality-filter cutoff: per source, for nine
    * stopword-ratio thresholds (k/50, spanning the corpus's observed
    * 0–0.22 range), the count and fraction of documents that would pass
    * `stop_ratio >= t`. The pass-fraction curve per source shows where
    * each threshold bites and which sources a cutoff would gut — chosen
    * over a quantile table because it answers the operational question
    * ("what survives at t?") directly and stays exact cross-engine
    * (integer counts, one division).
    *
    * Scale: ONE corpus pass computes the ratio in the scan (the same
    * shared `ratioFor` expression l08 uses); the NINE thresholds fold as
    * conditional sums in a single |sources|-key hash-agg (map-side
    * partials — no 9× row expansion), and the unpivot explodes the
    * 9-entry array on the aggregate, not the corpus. */
  def qualityThresholdSweep(docs: DataFrame): DataFrame = {
    val ks = 1 to 9
    val scored = docs
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), ratioFor(col("toks"), stopwords("en")).as("sr"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ks.map(k => sum(when(col("sr") >= lit(k / 50.0), 1L).otherwise(0L))
          .as(s"p$k")): _*)
      .select(col("source"), col("n_docs"),
        explode(array(ks.map(k =>
          struct(lit(k / 50.0).as("threshold"), col(s"p$k").as("n_pass"))): _*))
          .as("t"))
      .select(col("source"), col("t.threshold").as("threshold"),
        col("n_docs"), col("t.n_pass").as("n_pass"),
        (col("t.n_pass").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("pass_frac"))
  }

  /** Document CHUNKING into overlapping token windows — the segmentation
    * pass every embedding/RAG pipeline runs before encoding: windows of
    * `window` tokens starting every `stride` tokens (window − stride
    * overlap keeps context across boundaries). One generator per doc
    * (chunk starts → sliced token windows), zero shuffle; chunk text is
    * emitted as md5 so downstream dedup/storage carries digests, not
    * repeated text. Output: (doc_id, chunk_id, n_chunk_tok, chunk_md5). */
  def chunk(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    // stride = 0 would fail per-row deep in a stage (sequence step 0);
    // stride > window would silently SKIP tokens between chunks,
    // contradicting the overlap contract above — both are caller bugs,
    // surfaced here
    require(stride >= 1 && stride <= window,
      s"chunk: stride ($stride) must be in [1, window ($window)]")
    val toks = col("toks")
    // posexplode the chunk-START sequence, hash as a top-level projection
    // (md5 inside the transform lambda ran interpreted — the HOF trap,
    // SURVEY §2.6; this keeps the hex digest and the whole-stage codegen)
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(toks).cast(LongType).as("n_tok"),
        posexplode(
          sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_id", "st")))
      .select(col("doc_id"), col("n_tok"), col("chunk_id"),
        md5(concat_ws(" ", slice(toks, col("st") + 1, lit(window))))
          .as("chunk_md5"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        least(lit(window.toLong),
          col("n_tok") - col("chunk_id") * stride).as("n_chunk_tok"),
        col("chunk_md5"))
  }

  /** Corpus CURATION FUNNEL — the composed filter chain a training-data
    * pipeline applies before tokenization, reported as one row per gate
    * with survivor counts (the standard "how much did each filter cost me"
    * curation report). Gates, in order, all integer-exact predicates:
    *   1 length:     n_chars in [200, 2000]
    *   2 tokens:     ≥ 40 whitespace tokens
    *   3 repetition: distinct 3-grams ≥ 99% of 3-gram positions
    *                 (the within-doc degenerate-text cut, cross-multiplied
    *                 so no float compare sits on the decision boundary)
    *   4 stopwords:  en-stopword ratio ≥ 5% (salad/non-language cut)
    * Scale: one projection computes all flags, one aggregate computes all
    * cumulative counts — a single pass over the corpus regardless of gate
    * count, never one pass per gate. */
  /** The l32 funnel as an ADMISSION filter: the full document rows that
    * survive all four gates (same integer-exact predicates as
    * `curationFunnel`, which reports the per-gate survivor COUNTS of this
    * exact filter — the two are cross-checked in LlmPipelineSpec). This is
    * the first stage of the composed curation pipeline: downstream stages
    * (dedup apply, decontamination, split, pack, mixture order) consume its
    * output. Scale: one codegen'd projection computes the token array once
    * (bound attribute), one filter — no shuffle, no joins; at 100 TB this
    * runs entirely in the scan stage of whatever consumes it. */
  def curationAdmit(docs: DataFrame): DataFrame = {
    val toks = col("__toks")
    val nTok = size(toks).cast(LongType)
    val ns = nTok - 2
    val nd = size(TextOps.shinglesFromTokens(toks, 3)).cast(LongType)
    val nStop = size(filter(toks, t => t.isInCollection(stopwords("en"))))
      .cast(LongType)
    docs.withColumn("__toks", TextOps.tokens(col("text")))
      .filter(col("n_chars").between(200, 2000) &&
        (nTok >= 40) &&
        (ns <= 0 || nd * 100 >= ns * 99) &&
        (nStop * 20 >= nTok))
      .drop("__toks")
  }

  def curationFunnel(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast(LongType)
    val ns = nTok - 2
    val nd = size(TextOps.shinglesFromTokens(toks, 3)).cast(LongType)
    val nStop = size(filter(toks, t => t.isInCollection(stopwords("en"))))
      .cast(LongType)
    val flagged = docs
      .select(col("n_chars"), TextOps.tokens(col("text")).as("toks"))
      .select(
        col("n_chars").between(200, 2000).as("g1"),
        (nTok >= 40).as("g2"),
        (ns <= 0 || nd * 100 >= ns * 99).as("g3"),
        (nStop * 20 >= nTok).as("g4"))
    val cum = flagged.agg(
      count(lit(1)).as("c0"),
      count(when(col("g1"), 1)).as("c1"),
      count(when(col("g1") && col("g2"), 1)).as("c2"),
      count(when(col("g1") && col("g2") && col("g3"), 1)).as("c3"),
      count(when(col("g1") && col("g2") && col("g3") && col("g4"), 1)).as("c4"))
    cum.selectExpr(
      """stack(4,
           1L, 'length',     c0, c1,
           2L, 'tokens',     c1, c2,
           3L, 'repetition', c2, c3,
           4L, 'stopwords',  c3, c4) AS (stage, gate, n_in, n_out)""")
      .withColumn("dropped", col("n_in") - col("n_out"))
  }

  /** Hashed-n-gram IMPORTANCE weights for domain-matched data selection —
    * the DSIR shape (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): featurize every document into hashed
    * token-bigram buckets, estimate a bucket-probability model of the
    * TARGET domain (`targetPred` rows) and of the corpus background, and
    * score each document by how much more likely its features are under
    * the target model. High-importance documents are the ones that "look
    * like" the target domain; downstream selection is a threshold or
    * top-k over the weight (the l64-style sweep pattern applies).
    *
    * Portability divergence from the paper, deliberate (the l51/l63
    * rule): DSIR's log-likelihood-ratio Σ c_b·log(p_t[b]/p_s[b]) is not
    * reproducible bit-for-bit across engines (log is not correctly
    * rounded across libms), so the weight here is the RATIO of smoothed
    * mean feature likelihoods
    *   importance = [Σ_b c_b·(n_t[b]+1)] / (N_t+B)
    *              ÷ [Σ_b c_b·(n_s[b]+1)] / (N_s+B)
    * — the same "more target-like ⇒ larger" ordering signal, computed
    * from INTEGER sums (exact, order-free) and exactly three correctly-
    * rounded double divisions, so the DuckDB oracle reproduces every
    * bit. Add-1 smoothing keeps unseen buckets finite, exactly as in the
    * paper. Buckets come from md5 (md5Int32 % B — the portable hash).
    *
    * Scale: one exploded (doc_id, bucket) pass over the corpus (ints
    * only — the bigram string dies inside the scan projection); the
    * bucket model is B rows (broadcast), the totals one row (broadcast);
    * the per-doc reduce is an integer-sum groupBy on doc_id. Nothing
    * wider than (doc_id, bucket, count) ever crosses an exchange, and
    * B bounds the model size regardless of corpus vocabulary. Integer
    * headroom: num ≤ doc_len·max(n_t+1) — at 100 TB with B=4096 the
    * per-doc sums stay well under 2^53 (the double-exact range) and
    * under bigint by a wide margin. */
  def importanceWeights(docs: DataFrame, targetPred: Column,
                        nBuckets: Int = 256): DataFrame = {
    val b = lit(nBuckets.toLong)
    // self-scoring fuses model building and scoring over ONE cell table;
    // the split importanceModel/importanceScore pair below is the
    // incremental form (model corpus ≠ scored corpus) and is
    // equivalence-tested against this fused body in LlmSpec
    // occurrences, not distinct features: DSIR's model is a distribution
    // over feature OCCURRENCES, so repeated bigrams weigh repeatedly.
    // ONE corpus pass reduces straight to (doc_id, tgt, bucket, c) cells
    // (the l59 cell-table discipline, localCheckpointed because both the
    // bucket model and the per-doc scorer read it): the expensive part is
    // the tokenize + explode + per-bigram md5, and without the barrier
    // Catalyst would re-run that whole scan once per consumer. The cell
    // table is ints only, bounded by |docs| × min(doc_len, B) rows —
    // far smaller than re-scanning the text corpus at any scale.
    val cells = docs
      .select(col("doc_id"), targetPred.as("tgt"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("tgt"),
        explode(TextOps.bigramOccurrences(col("toks"))).as("bg"))
      .groupBy(col("doc_id"), col("tgt"),
        pmod(TextOps.md5Int32(col("bg")), b).as("bucket"))
      .agg(count(lit(1)).as("c"))
      // lazy: the bucket-model broadcast is the first action over the
      // cells and materializes the checkpoint as a side effect — an eager
      // checkpoint here would pay a separate full-scan job (the CC-loop
      // one-job-per-round discipline)
      .localCheckpoint(eager = false)
    val bucketStats = cells.groupBy(col("bucket")).agg(
      sum(col("c")).as("n_s"),
      sum(when(col("tgt"), col("c")).otherwise(lit(0L))).as("n_t"))
    val totals = bucketStats.agg(
      sum(col("n_s")).as("ns_tot"), sum(col("n_t")).as("nt_tot"))
    val perDoc = cells
      .join(broadcast(bucketStats), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * (col("n_t") + lit(1L))).as("num"),
        sum(col("c") * (col("n_s") + lit(1L))).as("den"),
        sum(col("c")).as("n_feat"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        (coalesce(col("num"), lit(0L)).cast(DoubleType)
          / (col("nt_tot") + b).cast(DoubleType)).as("t_score"),
        (coalesce(col("den"), lit(0L)).cast(DoubleType)
          / (col("ns_tot") + b).cast(DoubleType)).as("s_score"))
      .withColumn("importance",
        when(col("n_feat") > 0, col("t_score") / col("s_score")))
  }

  /** The importance-weight BUCKET MODEL as a standalone, persistable
    * table — the incremental half of l67 (the l52 band-index pattern):
    * build the model ONCE on the reference corpus, persist it, then
    * score every future crawl against it with `importanceScore` — no
    * re-scan of the reference corpus per batch. Exactly B rows
    * (the full bucket domain, zero-filled for buckets the corpus never
    * hit, so scoring joins are total) with the two occurrence totals
    * riding every row: (bucket, n_t, n_s, nt_tot, ns_tot). */
  def importanceModel(docs: DataFrame, targetPred: Column,
                      nBuckets: Int = 256): DataFrame = {
    val b = lit(nBuckets.toLong)
    val stats = docs
      .select(col("doc_id"), targetPred.as("tgt"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("tgt"),
        explode(TextOps.bigramOccurrences(col("toks"))).as("bg"))
      .groupBy(pmod(TextOps.md5Int32(col("bg")), b).as("bucket"))
      .agg(count(lit(1)).as("n_s"),
        count(when(col("tgt"), 1)).as("n_t"))
    val totals = stats.agg(
      coalesce(sum(col("n_s")), lit(0L)).as("ns_tot"),
      coalesce(sum(col("n_t")), lit(0L)).as("nt_tot"))
    docs.sparkSession.range(nBuckets.toLong)
      .select(col("id").as("bucket"))
      .join(stats, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_t"), lit(0L)).as("n_t"),
        coalesce(col("n_s"), lit(0L)).as("n_s"))
      .crossJoin(broadcast(totals))
  }

  /** Score a document batch against a PRE-BUILT `importanceModel` —
    * same output schema and identical values to the fused
    * `importanceWeights` when the model was built on the same corpus
    * (LlmSpec pins the equivalence). Because every document is a single
    * row, the per-doc reduce never spans batches: scoring a stream
    * micro-batch by micro-batch through `foreachBatch` against a static
    * model is EXACT, not approximate — the streaming deployment is this
    * function, unchanged (StreamingSpec runs it under a MemoryStream).
    * The model is B rows and broadcasts; per-batch work is one explode +
    * two int aggs, nothing wider than (doc_id, bucket, count) shuffles. */
  def importanceScore(docs: DataFrame, model: DataFrame,
                      nBuckets: Int = 256): DataFrame = {
    val b = lit(nBuckets.toLong)
    val perDoc = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.bigramOccurrences(col("toks"))).as("bg"))
      .groupBy(col("doc_id"),
        pmod(TextOps.md5Int32(col("bg")), b).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * (col("n_t") + lit(1L))).as("num"),
        sum(col("c") * (col("n_s") + lit(1L))).as("den"),
        sum(col("c")).as("n_feat"),
        // constants per model, carried through the agg so featureful rows
        // need no second totals join (max = the constant, deterministic)
        max(col("nt_tot")).as("nt_tot"), max(col("ns_tot")).as("ns_tot"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(
        model.select(col("nt_tot"), col("ns_tot")).limit(1)
          .withColumnRenamed("nt_tot", "nt_tot0")
          .withColumnRenamed("ns_tot", "ns_tot0")))
      .select(col("doc_id"), col("source"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        (coalesce(col("num"), lit(0L)).cast(DoubleType)
          / (coalesce(col("nt_tot"), col("nt_tot0")) + b).cast(DoubleType))
          .as("t_score"),
        (coalesce(col("den"), lit(0L)).cast(DoubleType)
          / (coalesce(col("ns_tot"), col("ns_tot0")) + b).cast(DoubleType))
          .as("s_score"))
      .withColumn("importance",
        when(col("n_feat") > 0, col("t_score") / col("s_score")))
  }

  /** Repetition-aware EPOCH planning (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given a total training token
    * budget, allocate it across sources by the α = 1/2 temperature rule
    * (l57's weights) and report, per source, how many EPOCHS of that
    * source the allocation implies — alloc_s / tokens_s. The paper's
    * finding is that value decays past ~4 epochs, so `over_repeated`
    * flags every source whose allocation would cycle it more than
    * `maxEpochs` times: the signal to either cap that source (and
    * re-spread the surplus) or go get more data. Raw whitespace tokens
    * feed the plan; pair with effectiveTokens to budget on UNIQUE tokens
    * instead when dedup savings are material.
    *
    * Cross-engine exactness: weights are sqrt (IEEE correctly rounded,
    * the l57 α = 1/2 rule), Σ√ folds sequentially in source order, and
    * every derived column is a left-assoc chain of single multiplications
    * and divisions on identical operands — the oracle spells the same
    * chain, so every double matches bit-for-bit. Scale: one corpus-pass
    * hash-agg to |sources| rows; everything after is tiny-table work on
    * a broadcast 1-row total. A zero-token source has no trainable
    * content and is dropped (the l62 degenerate-source rule). */
  def epochPlan(docs: DataFrame, totalBudget: Long,
                maxEpochs: Double = 4.0): DataFrame = {
    val perSource = docs.groupBy(col("source"))
      .agg(sum(coalesce(TextOps.tokenCount(col("text")).cast(LongType),
        lit(0L))).as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        sqrt(col("n_tokens").cast(DoubleType)).as("w"))
      .localCheckpoint()
    val tot = perSource.agg(
      aggregate(
        transform(sort_array(collect_list(struct(col("source"), col("w")))),
          x => x.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("tw"))
    val alloc = lit(totalBudget.toDouble) * col("w") / col("tw")
    val epochs = alloc / col("n_tokens").cast(DoubleType)
    perSource.filter(col("n_tokens") > 0)
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (col("w") / col("tw")).as("mix_weight"),
        alloc.as("alloc_tokens"),
        epochs.as("epochs"),
        (epochs > lit(maxEpochs)).as("over_repeated"))
  }

  /** Mixture-TEMPERATURE sweep — epochPlan's budget allocation at every
    * α in the SQRT-EXACT family {0.25, 0.5, 1.0}: per (α, source) the
    * mixture weight tokens^α / Σ tokens^α, allocated tokens, implied
    * epochs, and the over-repetition flag — the "choose the mixture
    * temperature" table (α = 1 is proportional sampling, α → 0 flattens
    * toward uniform; the spread between the α rows shows which sources
    * a flatter temperature over-repeats, the LLM70 data-constrained
    * argument made comparative). α is restricted to powers expressible
    * as sqrt CHAINS because sqrt is correctly rounded (IEEE) while
    * pow(x, α) is not — sqrt∘sqrt is bit-identical cross-engine, a
    * general pow is not; any other α throws rather than silently
    * breaking the oracle contract.
    *
    * Scale: ONE corpus pass builds the per-source token totals
    * (checkpointed — every α reads the |sources|-row table); each α's
    * Σw is the l70 sequential fold over the sorted tiny table on a
    * broadcast 1-row total. Output |alphas|·|sources| rows. */
  def temperatureSweep(docs: DataFrame, totalBudget: Long,
                       alphas: Seq[Double] = Seq(0.25, 0.5, 1.0),
                       maxEpochs: Double = 4.0): DataFrame = {
    val perSource = docs.groupBy(col("source"))
      .agg(sum(coalesce(TextOps.tokenCount(col("text")).cast(LongType),
        lit(0L))).as("n_tokens"))
      .localCheckpoint()
    alphas.map { a =>
      val nd = col("n_tokens").cast(DoubleType)
      val w = a match {
        case 1.0 => nd
        case 0.5 => sqrt(nd)
        case 0.25 => sqrt(sqrt(nd))
        case other => throw new IllegalArgumentException(
          s"temperatureSweep: alpha $other is outside the sqrt-exact " +
            "family {0.25, 0.5, 1.0} (general pow is not bit-stable " +
            "cross-engine)")
      }
      val ps = perSource.select(col("source"), col("n_tokens"), w.as("w"))
      val tot = ps.agg(
        aggregate(
          transform(sort_array(collect_list(struct(col("source"), col("w")))),
            x => x.getField("w")),
          lit(0.0), (acc, x) => acc + x).as("tw"))
      val alloc = lit(totalBudget.toDouble) * col("w") / col("tw")
      val epochs = alloc / col("n_tokens").cast(DoubleType)
      ps.filter(col("n_tokens") > 0)
        .crossJoin(broadcast(tot))
        .select(lit(a).as("alpha"), col("source"), col("n_tokens"),
          (col("w") / col("tw")).as("mix_weight"),
          alloc.as("alloc_tokens"),
          epochs.as("epochs"),
          (epochs > lit(maxEpochs)).as("over_repeated"))
    }.reduce(_ unionByName _)
  }

  /** Exact global rank (1-based, total order (score, doc_id)) WITHOUT a
    * global sort — the l55 salt argument applied to a score axis: a
    * fixed-width monotone quantization of the score is a PREFIX of the
    * order key, so bucket-major (bucket, score, doc_id) order IS global
    * (score, doc_id) order; bucket counts prefix-sum on a broadcast
    * ≤`nBuckets`-row aggregate and a within-bucket row_number finishes
    * the rank. No window ever sees more than one bucket's rows (skew is
    * bounded by the score distribution over the fixed grid — production
    * would plant sampled quantile boundaries instead of a fixed width;
    * the fixed grid is what makes the oracle bit-reproducible). The
    * decile is integer arithmetic on (rank, n_total) — one
    * correctly-rounded division + floor, identical cross-engine.
    * Null-scored docs (null text) carry no rankable signal and are
    * dropped. */
  private[graft] def exactRanks(d: DataFrame, score: Column, nBuckets: Int,
                                scale: Double): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val b = d.select(col("doc_id"), score.as("score"))
      .filter(col("score").isNotNull)
      .withColumn("bkt",
        least(floor(col("score") * scale).cast(IntegerType),
          lit(nBuckets - 1)))
    val prefixes = b.groupBy(col("bkt"))
      .agg(count(lit(1)).as("bv"))
      .withColumn("before_bkt",
        coalesce(sum(col("bv")).over(
          W.partitionBy(pmod(col("bkt"), lit(1))).orderBy(col("bkt"))
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt").as("p_bkt"), col("before_bkt"))
    val nTotal = b.agg(count(lit(1)).as("n_total"))
    val within = row_number().over(
      W.partitionBy(col("bkt")).orderBy(col("score"), col("doc_id")))
    b.join(broadcast(prefixes), col("bkt") === col("p_bkt"))
      .withColumn("rank", col("before_bkt") + within)
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"), col("score"), col("rank"),
        floor(((col("rank") - 1) * 10).cast(DoubleType)
          / col("n_total").cast(DoubleType)).cast(LongType).as("decile"))
  }

  /** Per-document exact QUALITY RANK + decile of the l08 stopword ratio —
    * the exact-quantile primitive threshold tuning needs ("drop the
    * bottom decile") computed scalably: see exactRanks for why no global
    * sort happens. stop_ratio ∈ [0, 1], so a 256-cell fixed grid
    * (floor(ratio·256), top cell absorbing ratio = 1) is the monotone
    * bucket key. */
  def qualityRanks(docs: DataFrame): DataFrame =
    exactRanks(quality(docs), col("stop_ratio"), 256, 256.0)
      .withColumnRenamed("score", "stop_ratio")
      .withColumnRenamed("rank", "q_rank")

  /** Per-source quality-DRIFT audit — each source's Mann–Whitney rank-sum
    * and AUC against the REST of the corpus on the l08 stopword-ratio
    * axis: AUC ≈ P(random doc from source scores above a random doc from
    * elsewhere), the distribution-free "is this source systematically
    * lower-quality" statistic read before per-source filter thresholds or
    * mixture down-weighting. 0.5 = in family; the tails are the drifted
    * sources.
    *
    * Exactness: ranks are l71's exact global ranks (no global sort —
    * exactRanks' bucket-prefix story). Mann–Whitney needs TIE-AVERAGED
    * ranks; within a tie group the unique ranks are consecutive integers,
    * so avg = min + (c−1)/2 and 2·avg = 2·min + c − 1 stays INTEGRAL —
    * carried as a long so the per-source rank sums, the U statistic
    * (u_x2 = 2U = rank_sum_x2 − n(n+1)), and everything up to the final
    * AUC division are exact integer arithmetic, bit-identical in any
    * aggregation order and across engines; the one division
    * u_x2 / (2·n·m) is correctly rounded on exact operands.
    *
    * Scale: one ranked corpus pass (id + score + rank longs only), the
    * tie-group window partitions by score (skew bounded by the largest
    * tie group — the same bound exactRanks already carries for its score
    * buckets), an id-keyed source join, and a |sources|-row agg with a
    * broadcast 1-row total. */
  def sourceQualityDrift(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ranked = exactRanks(quality(docs), col("stop_ratio"), 256, 256.0)
    val wS = W.partitionBy(col("score"))
    val ar2 = (min(col("rank")).over(wS) * 2
      + count(lit(1)).over(wS) - 1).as("ar2")
    val total = ranked.agg(count(lit(1)).as("n_total"))
    ranked.select(col("doc_id"), ar2)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ar2")).as("rank_sum_x2"))
      .crossJoin(broadcast(total))
      .withColumn("u_x2",
        col("rank_sum_x2") - col("n_docs") * (col("n_docs") + 1))
      .select(col("source"), col("n_docs"), col("rank_sum_x2"), col("u_x2"),
        (col("u_x2").cast(DoubleType)
          / (lit(2.0) * col("n_docs") * (col("n_total") - col("n_docs"))))
          .as("auc"))
  }

  /** Eval-CANARY tripwire — exact substring scan for a known list of
    * canary strings (the planted GUIDs/sentences eval-set owners seed to
    * detect training-data leakage): per canary, how many corpus docs
    * contain it, across how many sources, and the first doc id (null
    * when clean). A tripwire must report ZERO rows too — absent canaries
    * come back with n_docs = 0, which is the reading that matters.
    *
    * Scale: the canary list broadcasts (it is tiny by construction), the
    * substring test is a codegen'd Contains evaluated in the corpus scan
    * (one pass, |canaries| probes per doc), and the only aggregation is
    * |canaries|-row. With thousands of patterns a production scan would
    * fuse them into one multi-pattern automaton (Aho–Corasick) instead
    * of per-canary Contains probes; the plan shape — broadcast patterns,
    * scan-side match, tiny agg — is unchanged. Null-text docs carry no
    * match (three-valued Contains drops them from the inner join). */
  def canaryScan(docs: DataFrame, canaries: DataFrame): DataFrame =
    canaryReport(canaryCells(docs, canaries), canaries)

  /** The canary tripwire's SUMMABLE state: per (canary, source) hit cell
    * — doc count + first doc id, only for canaries that hit. ≤
    * |canaries|·|sources| rows, merged across batches by per-cell
    * addition/min (S25: each arriving crawl batch is scanned alone and
    * folded in; no document is ever re-scanned). Counts are NOT
    * idempotent under re-delivery — the S22 exactly-once foreachBatch
    * discipline applies. */
  def canaryCells(docs: DataFrame, canaries: DataFrame): DataFrame =
    docs.join(broadcast(canaries), col("text").contains(col("phrase")))
      .groupBy(col("canary_id"), col("phrase"), col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Associative fold of two canary cell tables: exact sums add, first
    * ids min — merge(a, b) == cells(a_docs ∪ b_docs) for any split. */
  def mergeCanaryCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("canary_id"), col("phrase"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), min(col("first_doc")).as("first_doc"))

  /** The tripwire readout off a (possibly stream-maintained) cell table:
    * per canary, total docs, distinct sources (= cell count — cells are
    * keyed by source), first doc id; canaries with no cells report
    * n_docs = 0. */
  def canaryReport(cells: DataFrame, canaries: DataFrame): DataFrame = {
    val agg = cells.groupBy(col("canary_id"), col("phrase"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        min(col("first_doc")).as("first_doc"))
    canaries.join(agg, Seq("canary_id", "phrase"), "left")
      .select(col("canary_id"), col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_sources"), lit(0L)).as("n_sources"),
        col("first_doc"))
  }

  /** Quality-vs-TOKEN-BUDGET tradeoff table — the filtering Pareto curve
    * read before fixing a quality cutoff: per stopword-ratio decile
    * (l71's exact deciles; higher ratio = more natural-language-like on
    * this heuristic), the doc count and token mass in the decile, plus
    * the cumulative token count and corpus fraction a filter KEEPING
    * that decile and above would retain ("cutting below decile 3 keeps
    * 82% of tokens"). The per-decile rows answer "where does the token
    * mass live on the quality axis"; the cumulative column is the knob's
    * direct cost readout.
    *
    * Scale: one exactRanks pass (no global sort — l71's story) joined
    * id-to-id with the scan-side token counts (two longs wide), one
    * ≤10-key hash-agg, and the cumulative window over those ≤10 rows
    * (pmod single-partition intent, the l19/l65 rule). The fraction is
    * one division of two exact longs per row. */
  def qualityTokenTradeoff(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy(pmod(col("decile"), lit(1)))
      .orderBy(col("decile").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wTot = W.partitionBy(pmod(col("decile"), lit(1)))
    val toks = docs.select(col("doc_id"),
      coalesce(TextOps.tokenCount(col("text")).cast(LongType), lit(0L))
        .as("n_tok"))
    exactRanks(quality(docs), col("stop_ratio"), 256, 256.0)
      .select(col("doc_id"), col("decile"))
      .join(toks, Seq("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("tokens_kept_at", sum(col("n_tokens")).over(wCum))
      .withColumn("frac_kept_at",
        col("tokens_kept_at").cast(DoubleType)
          / sum(col("n_tokens")).over(wTot).cast(DoubleType))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        col("tokens_kept_at"), col("frac_kept_at"))
  }

  /** Quality-SIGNAL agreement audit — the joint decile contingency of two
    * independent per-doc quality signals (l08's stopword ratio vs mean
    * token length): cell (i, j) counts docs in stopword-decile i and
    * length-decile j. Signals that agree pile mass near a diagonal band;
    * a flat table says the two filters select DIFFERENT documents and
    * thresholding one does not subsume the other — the calibration check
    * run before composing quality filters into a funnel (l32). Deciles
    * are exactRanks' exact ranks (mean_tok_len ∈ [1, ~16] on whitespace
    * text, grid width 1/16 over 256 cells, top cell absorbing the tail).
    * Scale: two rank passes + one id-keyed join (three ints wide) + one
    * ≤100-key agg. */
  def signalAgreement(docs: DataFrame): DataFrame = {
    val q = quality(docs)
    val a = exactRanks(q, col("stop_ratio"), 256, 256.0)
      .select(col("doc_id"), col("decile").as("stop_decile"))
    val b = exactRanks(q, col("mean_tok_len"), 256, 16.0)
      .select(col("doc_id"), col("decile").as("len_decile"))
    a.join(b, Seq("doc_id"))
      .groupBy(col("stop_decile"), col("len_decile"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003) — the robust version of the mod-p sampler (`fingerprints`
    * / LLM11): over the POSITIONAL n-gram hash sequence, every window of
    * `w` consecutive hashes contributes its minimum (rightmost on ties),
    * which guarantees any match of length ≥ w+n−1 tokens shares a selected
    * fingerprint — the property mod-p sampling lacks (a long match can
    * straddle only ≢0 hashes). Per doc: positional-gram count, selected
    * count, distinct selected count, density, and the digest of the sorted
    * selected hash multiset (the plagiarism-index key two docs are matched
    * on).
    *
    * The whole selection runs INSIDE the row (nested array lambdas over
    * the bound hash array): the corpus is never exploded, nothing
    * shuffles but the final per-doc audit rows. Docs shorter than n
    * tokens have no gram and are dropped (the `fingerprints` rule);
    * 0 < G < w clamps the window to G (one whole-array window).
    *
    * The hash sequence itself is the native `positional_gram_hashes`
    * expression (plans.PositionalGramHashes): the HOF form paid the
    * interpreted-lambda tax on every gram — md5 through the hex
    * expression chain per element, 5.6 s of the operator's 5.9 s at
    * sf0.1 — where the native digest pass is ~0.1 s. The WINDOWING
    * lambdas stay as HOFs deliberately: they move small long arrays,
    * measured free. */
  def winnow(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame =
    winnowTable(docs, n, w)
      .select(
        col("doc_id"),
        size(col("hs")).cast(LongType).as("n_grams"),
        size(col("sel_pos")).cast(LongType).as("n_sel"),
        size(array_distinct(col("sel_h"))).cast(LongType).as("n_sel_distinct"),
        (size(col("sel_pos")).cast(DoubleType) /
          size(col("hs")).cast(DoubleType)).as("density"),
        md5(concat_ws(",",
          transform(sort_array(col("sel_h")), _.cast(StringType)))).as("fp"))

  /** The per-doc winnow selection table (doc_id, hs, sel_pos, sel_h) —
    * the pre-aggregation projection shared by the l102 audit (winnow) and
    * the l112 match-pair operator (winnowMatchPairs). */
  def winnowTable(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val hs = call_function("positional_gram_hashes", col("toks"), lit(n))
    val g = size(col("hs"))
    val wEff = least(lit(w), g)
    // window starting at 0-based j selects position j + (rightmost argmin
    // of slice(hs, j+1, wEff)); rightmost = wEff+1 − first position in the
    // REVERSED slice (array_position is 1-based first-match)
    val selPos = array_distinct(transform(sequence(lit(0), g - wEff), j => {
      val sl = slice(col("hs"), j + 1, wEff)
      // element_at takes an INT index; array_position returns BIGINT
      (j + wEff + lit(1) - array_position(reverse(sl), array_min(sl)))
        .cast(IntegerType)
    }))
    val selH = transform(col("sel_pos"), p => element_at(col("hs"), p))
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("hs"), selPos.as("sel_pos"))
      .select(col("doc_id"), col("hs"), col("sel_pos"), selH.as("sel_h"))
  }

  /** WINNOW MATCH PAIRS (l112) — the matching half of the winnowing
    * scheme the l102 selection exists FOR (Schleimer et al. §4: docs are
    * matched on shared selected fingerprints): pairs of documents sharing
    * ≥ `minShared` distinct selected hashes, with each side's distinct-
    * selection size and the containment fraction shared/min(na, nb) — the
    * plagiarism/copy-detection pair table. The winnow guarantee transfers:
    * any common token run of length ≥ w+n−1 forces a shared fingerprint,
    * so long matches cannot score zero (the property the mod-p l10/l11
    * sampler lacks).
    *
    * Scale shape: the l02 inverted-index discipline on an ~1/w-compressed
    * universe — only (doc_id, hash-long) atoms leave the scan, the
    * posting join keys on the hash, and `maxHashFreq` is the same hot-key
    * guard as jaccardPairs' maxDocFreq (a fingerprint in half the corpus
    * is boilerplate, not plagiarism; the declared query runs exact with
    * the guard off). */
  /** The per-doc selected-fingerprint postings (doc_id, h) — the
    * PERSISTED plagiarism index the incremental loop (S32) carries, and
    * the first stage of the fused winnowMatchPairs. */
  def winnowIndex(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame =
    winnowTable(docs, n, w)
      .select(col("doc_id"), explode(array_distinct(col("sel_h"))).as("h"))

  /** Incremental winnow-match step (S32; the l52 admission discipline
    * applied to the plagiarism index): match an arriving batch's postings
    * against the persisted index and within the batch itself, emitting
    * every NEW pair — a pair (a, b) surfaces exactly once, when the later
    * of its docs arrives, so the union of per-batch outputs equals the
    * fused winnowMatchPairs of the drained corpus for any batch split
    * (tested in StreamingSpec). The index then grows by plain union
    * (disjoint new doc_ids; NOT idempotent — the S22 exactly-once
    * discipline applies). Per-batch cost: the batch's own selection plus
    * a batch⋈index posting join — the index is never re-paired against
    * itself. */
  def winnowMatchIncrement(batchIndex: DataFrame, index: DataFrame,
                           minShared: Long = 2): DataFrame = {
    val cross = batchIndex
      .join(index.select(col("h"), col("doc_id").as("other")), Seq("h"))
      .select(least(col("doc_id"), col("other")).as("doc_a"),
        greatest(col("doc_id"), col("other")).as("doc_b"))
    val within = batchIndex.as("a")
      .join(batchIndex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val sizes = index.unionByName(batchIndex)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sel"))
    cross.unionByName(within)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sel").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sel").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("na"), col("nb"),
        (col("n_shared").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType)).as("containment"))
  }

  def winnowMatchPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
                       minShared: Long = 2,
                       maxHashFreq: Option[Long] = None): DataFrame = {
    val selAll = winnowIndex(docs, n, w)
      .localCheckpoint() // feeds sizes + postings (+ the hot set)
    val sel = maxHashFreq.fold(selAll) { t =>
      val hot = selAll.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > t).select(col("h"))
      selAll.join(broadcast(hot), Seq("h"), "left_anti")
    }
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sel"))
    sel.as("a")
      .join(sel.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sel").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sel").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("na"), col("nb"),
        (col("n_shared").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType)).as("containment"))
  }

  /** SUBSTRING-granularity dedup APPLY (l114) — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * maximal-repeated-substring removal, approximated at winnowing
    * anchors so it stays JOIN-SHAPED and oracle-replayable: l50 strips
    * repeats on a fixed non-overlapping k-token grid; this removes every
    * VARIABLE-LENGTH cross-document repeated token run of ≥ `minTok`
    * tokens from the later document (keep-first: doc_a < doc_b ⇒ doc_b
    * loses the span), at any alignment.
    *
    * Why anchors suffice (the Schleimer–Wilkerson–Aiken guarantee
    * transfers): any common run of ≥ w+n−1 tokens contains at least one
    * w-gram window ENTIRELY inside the run; that window's contents are
    * identical in both documents, so the rightmost-minimum rule selects
    * the same run-relative fingerprint in BOTH — an aligned anchor
    * exists, and the maximal extension around it recovers the full run.
    * Hence `minTok ≥ w+n−1` (required) detects every qualifying run.
    * Approximation boundaries, both deterministic and replayed
    * identically by the oracle: (i) matching is on the 32-bit positional
    * gram hashes, so a hash collision can extend a run past the true
    * token match; (ii) scope is cross-document (intra-document repeats
    * are l29/l46's plane).
    *
    * Scale shape: the anchor join is l112's inverted-index discipline on
    * the ~1/w-compressed fingerprint universe ((doc_id, pos, h) atoms
    * only; `maxHashFreq` is the same hot-key guard — a fingerprint in
    * half the corpus is boilerplate); the extension join is id-keyed and
    * carries the two documents' HASH arrays (longs, never text) to the
    * anchor rows, where the outward scan is per-row long-array lambda
    * work (the measured-free l102 class); removed-token volume is
    * bounded by the corpus's duplicated mass; the one text-carrying
    * exchange is the final doc_id-keyed rewrite join (the l50 rule —
    * co-located on a doc_id-bucketed table).
    *
    * Output per input doc: (doc_id, n_tok, n_removed, clean_md5) where
    * clean_md5 hashes the kept tokens joined in original order — the l50
    * output contract at substring granularity. */
  def substringDedupApply(docs: DataFrame, n: Int = 3, w: Int = 4,
                          minTok: Int = 8,
                          maxHashFreq: Option[Long] = None): DataFrame = {
    require(minTok >= w + n - 1,
      s"substringDedupApply: minTok ($minTok) must be >= w+n-1 (${w + n - 1})" +
        " — shorter runs can evade winnow selection")
    val wt = winnowTable(docs, n, w)
      .localCheckpoint() // feeds postings AND the hash-array sides
    val posts = hotHashGuard(selPostings(wt), maxHashFreq)
    val anchors = posts.as("a")
      .join(posts.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.p").as("pa"),
        col("b.doc_id").as("b_id"), col("b.p").as("pb"))
    val hsTab = wt.select(col("doc_id"), col("hs"))
    stripMatchedRuns(docs, anchors, hsTab, hsTab, n, minTok)
  }

  /** (doc_id, p, h) selected-fingerprint postings WITH gram positions —
    * the anchor-join input of the substring-dedup family. sel_pos is
    * distinct per doc by construction (array_distinct over positions),
    * so no dedup is needed. */
  private def selPostings(wt: DataFrame): DataFrame =
    wt.select(col("doc_id"),
        explode(arrays_zip(col("sel_pos"), col("sel_h"))).as("z"))
      .select(col("doc_id"), col("z.sel_pos").as("p"), col("z.sel_h").as("h"))

  /** The l112/l114 hot-fingerprint guard: drop postings whose hash
    * appears in more than `maxHashFreq` postings (a fingerprint in half
    * the corpus is boilerplate, not plagiarism). */
  private def hotHashGuard(posts: DataFrame,
                           maxHashFreq: Option[Long]): DataFrame =
    maxHashFreq.fold(posts) { t =>
      val hot = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > t).select(col("h"))
      posts.join(broadcast(hot), Seq("h"), "left_anti")
    }

  /** The extension + removal + rewrite core shared by the fused apply
    * (l114) and the incremental admission (S34): for each `targets` doc
    * (always the b-side of an anchor), strip every anchored run of
    * ≥ `minTok` tokens and emit (doc_id, n_tok, n_removed, clean_md5).
    *
    * The extension is the NATIVE gram_extent expression (plans.GramExtent
    * — two primitive equality scans per anchor; the HOF mismatch-scan
    * form ran interpreted AND double-evaluated through its when/otherwise
    * consumer: ~7 of the operator's 8.5 s at sf0.1 across 431k anchors,
    * equality pinned in ExpressionSpec). The hash-array joins broadcast
    * (docs-count rows of long arrays), so the wide anchor rows live only
    * inside the pipelined stage — nothing but (doc_id, s, e) reaches the
    * next exchange. */
  private def stripMatchedRuns(targets: DataFrame, anchors: DataFrame,
                               hsA: DataFrame, hsB: DataFrame,
                               n: Int, minTok: Int): DataFrame = {
    val ext = anchors
      .join(hsA.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
      .join(hsB.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      .withColumn("ext", call_function("gram_extent",
        col("ha"), col("pa"), col("hb"), col("pb")))
      .withColumn("l", col("ext").getItem(0))
      .withColumn("r", col("ext").getItem(1))
    // gram run [pb−l, pb+r] covers tokens pb−l .. pb+r+n−1
    val marked = ext
      .filter(col("l") + col("r") + lit(1L + (n - 1)) >= minTok)
      .select(col("b_id").as("doc_id"),
        (col("pb") - col("l")).cast(LongType).as("s"),
        (col("pb") + col("r") + lit((n - 1).toLong)).cast(LongType).as("e"))
      .distinct()
    val remSets = marked
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("i"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("rem"))
    targets.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .join(remSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tok"),
        coalesce(size(col("rem")), lit(0)).cast(LongType).as("n_removed"),
        md5(concat_ws(" ", filter(
          transform(sequence(lit(1L), size(col("toks")).cast(LongType)),
            i => when(array_contains(coalesce(col("rem"),
                array().cast("array<bigint>")), i), lit(null))
              .otherwise(element_at(col("toks"), i.cast(IntegerType)))),
          x => x.isNotNull))).as("clean_md5"))
  }

  /** Incremental substring-dedup ADMISSION (S34; the l52 arrival-order
    * discipline at substring granularity): strip from each ARRIVING
    * document every ≥ `minTok`-token run matching the persisted corpus
    * state (an already-admitted doc always beats an arriving one) or an
    * earlier (smaller doc_id) document of the same batch. The carried
    * state IS `winnowTable`'s output (doc_id, hs, sel_pos, sel_h) —
    * persisted once for the curated corpus and extended by DISJOINT
    * union with each admitted batch's own winnowTable (NOT idempotent:
    * the S22 exactly-once foreachBatch discipline applies).
    *
    * Equivalence contract (tested in StreamingSpec): when batches arrive
    * in increasing doc_id order over an initial state, the per-batch
    * outputs equal the fused `substringDedupApply` of the drained corpus
    * row-for-row for the batch's documents — keep-first by doc_id and
    * keep-first by arrival coincide. Out-of-order arrival degrades
    * conservatively, exactly like l52: the LATER arrival loses the span
    * regardless of id.
    *
    * Per-batch cost: the batch's own winnow selection, one batch⋈state
    * posting join (the index is never re-paired against itself), and
    * extension/rewrite work proportional to the batch — never a corpus
    * re-scan. */
  def substringDedupIncrement(batch: DataFrame, state: DataFrame,
                              n: Int = 3, w: Int = 4, minTok: Int = 8,
                              maxHashFreq: Option[Long] = None): DataFrame = {
    require(minTok >= w + n - 1,
      s"substringDedupIncrement: minTok ($minTok) must be >= w+n-1" +
        s" (${w + n - 1})")
    val bt = winnowTable(batch, n, w).localCheckpoint()
    // the hot-hash guard sees the FULL posting universe (state ∪ batch),
    // so a boilerplate fingerprint is dropped consistently on both sides
    val all = hotHashGuard(
      selPostings(bt).withColumn("from_batch", lit(true))
        .unionByName(selPostings(state).withColumn("from_batch", lit(false))),
      maxHashFreq).localCheckpoint(eager = false)
    val bPosts = all.filter(col("from_batch")).drop("from_batch")
    val sPosts = all.filter(!col("from_batch")).drop("from_batch")
    val cross = bPosts.as("b")
      .join(sPosts.as("a"), col("a.h") === col("b.h"))
      .select(col("a.doc_id").as("a_id"), col("a.p").as("pa"),
        col("b.doc_id").as("b_id"), col("b.p").as("pb"))
    val within = bPosts.as("a")
      .join(bPosts.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.p").as("pa"),
        col("b.doc_id").as("b_id"), col("b.p").as("pb"))
    val hsA = state.select(col("doc_id"), col("hs"))
      .unionByName(bt.select(col("doc_id"), col("hs")))
    stripMatchedRuns(batch, cross.unionByName(within),
      hsA, bt.select(col("doc_id"), col("hs")), n, minTok)
  }

  /** GOPHER-style quality-rule battery (Rae et al. 2021, table A1 — the
    * word-form subset; the corpus has no line structure, so the line-based
    * rules don't apply). Per source: document count and pass counts for
    * each rule plus the all-rules conjunction — the "what fraction of this
    * source survives the standard filter" table a crawl source is
    * admitted on.
    *
    *   r_wc     50 ≤ word count ≤ 100 000
    *   r_mwl    3 ≤ mean word length ≤ 10   (exact: 3n ≤ Σlen ≤ 10n)
    *   r_alpha  ≥ 80% of words contain an alphabetic character
    *   r_stop   ≥ 2 distinct profile stopwords present
    *   r_sym    symbol words ('#' or '...'-bearing) ≤ 10% of words
    *
    * Every rule is integer arithmetic on per-row token folds (ratios
    * compare products, never divide), so the per-source counts are exact
    * in any engine. One projection + one per-source hash-agg; nothing but
    * (source, five booleans) crosses the exchange. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val nW = size(col("toks")).cast(LongType)
    val sumLen = aggregate(col("toks"), lit(0L), (a, x) => a + length(x))
    val nAlpha = size(filter(col("toks"), x => x.rlike("[A-Za-z]"))).cast(LongType)
    val nSym = size(filter(col("toks"),
      x => x.contains("#") || x.contains("..."))).cast(LongType)
    val nStop = size(array_intersect(col("toks"),
      array(stopwords("en").map(lit): _*))).cast(LongType)
    val rules = docs
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"),
        (nW >= 50L && nW <= 100000L).as("r_wc"),
        (sumLen >= nW * 3L && sumLen <= nW * 10L).as("r_mwl"),
        (nAlpha * 10L >= nW * 8L).as("r_alpha"),
        (nStop >= 2L).as("r_stop"),
        (nSym * 10L <= nW).as("r_sym"))
    rules.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("r_wc").cast(LongType)).as("n_wc"),
      sum(col("r_mwl").cast(LongType)).as("n_mwl"),
      sum(col("r_alpha").cast(LongType)).as("n_alpha"),
      sum(col("r_stop").cast(LongType)).as("n_stop"),
      sum(col("r_sym").cast(LongType)).as("n_sym"),
      sum((col("r_wc") && col("r_mwl") && col("r_alpha") &&
        col("r_stop") && col("r_sym")).cast(LongType)).as("n_pass_all"))
  }

  /** Associative fold of two gopherRules cell tables — the S28 streaming
    * maintenance primitive (the S22/S23 discipline): every column is a
    * plain per-source count, so per-cell addition is associative AND
    * commutative and the maintained table equals the from-scratch battery
    * of the drained corpus for any batch split. Counts are NOT idempotent
    * under re-delivery — the exactly-once foreachBatch discipline
    * applies. */
  def mergeGopherCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source")).agg(
      sum(col("n_docs")).as("n_docs"), sum(col("n_wc")).as("n_wc"),
      sum(col("n_mwl")).as("n_mwl"), sum(col("n_alpha")).as("n_alpha"),
      sum(col("n_stop")).as("n_stop"), sum(col("n_sym")).as("n_sym"),
      sum(col("n_pass_all")).as("n_pass_all"))

  /** GOPHER-style REPETITION filter battery (Rae et al. 2021, table A1 —
    * the repetition subset; completes LLM103's word-form subset. The
    * corpus has no line structure, so the line/paragraph duplicate rules
    * don't apply; the n-gram rules are line-independent and do). Per
    * source: document count and pass counts for each rule plus the
    * all-rules conjunction:
    *
    *   r_top{2,3,4}  chars covered by the MOST FREQUENT word n-gram
    *                 (count × gram chars) ≤ {20,18,16}% of doc chars
    *   r_dup{5,6}    chars covered by DUPLICATED word n-grams
    *                 (Σ count × gram chars over grams with count ≥ 2)
    *                 ≤ {15,14}% of doc chars
    *
    * Coverage counts every occurrence's characters without overlap
    * subtraction — the standard simplification of the published filters
    * (overlapping occurrences double-count, making the measure an upper
    * bound; the thresholds are calibrated against exactly this form).
    * Every rule is an integer cross-multiplication (coverage × 100 vs
    * threshold × chars) — no division, exact in any engine; a doc too
    * short for an n has zero coverage and passes.
    *
    * Scale shape: ONE corpus pass builds all five gram streams with ZERO
    * lambdas — the token array is zipped against its own 1..5-shifted
    * slices (arrays_zip null-pads the short tails), so every gram is a
    * TOP-LEVEL codegen'd concat_ws over the exploded consecutive-token
    * struct (the first HOF draft paid the round-12 interpreted-lambda
    * tax: 4.1 s vs ~1.4 s at sf0.1 for the same semantics); the (doc_id,
    * n, gram) hash-agg partial-aggregates map-side (a doc's grams all
    * live in its partition), and everything after the per-(doc, n)
    * coverage fold is doc-sized then source-sized.
    *
    * `digestGrams` (default ON — the declared l116 shape) is the LLM3
    * digest discipline applied to the one corpus-token-sized exchange:
    * the gram string dies inside its scan-stage projection into
    * (xxhash64(gram), char length) — the count key needs only identity,
    * the coverage arithmetic needs only the length — so the hash-agg's
    * partials and any reducer-side exchange carry two LONGS per key
    * instead of up to ~6 words of text (~5 string copies of the corpus
    * at 100 TB across the five gram streams). Results are identical to
    * the exact form unless two distinct grams of the same (doc, n)
    * collide in 64 bits (p ≈ g²·2⁻⁶⁴ per doc — immaterial at any real
    * per-doc gram count; equality exact-vs-digest is pinned in LlmSpec,
    * the digest-only payload in PlanSpec's sweep). `false` keeps the
    * raw-string key as the semantic reference. */
  def repetitionRules(docs: DataFrame, digestGrams: Boolean = true): DataFrame = {
    val topThr = Seq(2 -> 20L, 3 -> 18L, 4 -> 16L)
    val dupThr = Seq(5 -> 15L, 6 -> 14L)
    val ns = (topThr ++ dupThr).map(_._1)
    val nMax = ns.max
    val base = docs.select(col("doc_id"), col("source"),
      length(col("text")).cast(LongType).as("total"),
      TextOps.tokens(col("text")).as("toks"))
    // shifted copies: t_k = toks dropped by k (slice with a start past the
    // end yields an empty array; arrays_zip null-pads back to |toks|), so
    // the zipped struct at position i carries tokens i..i+nMax-1 and a
    // null t_{n-1} marks "too short for an n-gram here"
    val shifted = base.select(col("doc_id") +: col("toks").as("t0") +:
      (1 until nMax).map(k =>
        slice(col("toks"), lit(k + 1), size(col("toks"))).as(s"t$k")): _*)
    val grams = shifted
      .select(col("doc_id"),
        explode(arrays_zip((0 until nMax).map(k => col(s"t$k")): _*)).as("z"))
      .select(col("doc_id"), explode(array(ns.map { n =>
        struct(lit(n).as("n"),
          when(col(s"z.t${n - 1}").isNotNull,
            concat_ws(" ", (0 until n).map(k => col(s"z.t$k")): _*))
            .as("gram"))
      }: _*)).as("gs"))
      .select(col("doc_id"), col("gs.n").as("n"), col("gs.gram").as("gram"))
      .filter(col("gram").isNotNull)
    // the gram leaves its projection as (identity key, char length): the
    // digest form hashes it to a long IN THE SCAN STAGE so the hash-agg
    // key is (doc_id, n, long, long); the exact form keeps the string.
    // glen is functionally dependent on the key either way, so grouping
    // by it changes no group.
    val keyed =
      if (digestGrams)
        grams.select(col("doc_id"), col("n"), xxhash64(col("gram")).as("gk"),
          length(col("gram")).cast(LongType).as("glen"))
      else
        grams.select(col("doc_id"), col("n"), col("gram").as("gk"),
          length(col("gram")).cast(LongType).as("glen"))
    val gcnt = keyed.groupBy(col("doc_id"), col("n"), col("gk"), col("glen"))
      .agg(count(lit(1)).as("c"))
    val covChars = col("c") * col("glen")
    val cov = gcnt.groupBy(col("doc_id"), col("n")).agg(
      max(covChars).as("top_cov"),
      sum(when(col("c") >= 2L, covChars).otherwise(lit(0L))).as("dup_cov"))
    val pivCols =
      topThr.map { case (n, _) =>
        coalesce(max(when(col("n") === n, col("top_cov"))), lit(0L)).as(s"top$n") } ++
      dupThr.map { case (n, _) =>
        coalesce(max(when(col("n") === n, col("dup_cov"))), lit(0L)).as(s"dup$n") }
    val perDoc = cov.groupBy(col("doc_id")).agg(pivCols.head, pivCols.tail: _*)
    val ruleCols =
      topThr.map { case (n, thr) =>
        (coalesce(col(s"top$n"), lit(0L)) * 100L <= lit(thr) * col("total"))
          .as(s"r_top$n") } ++
      dupThr.map { case (n, thr) =>
        (coalesce(col(s"dup$n"), lit(0L)) * 100L <= lit(thr) * col("total"))
          .as(s"r_dup$n") }
    val rules = base.select(col("doc_id"), col("source"), col("total"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source") +: ruleCols: _*)
    val names = topThr.map(t => s"top${t._1}") ++ dupThr.map(d => s"dup${d._1}")
    rules.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      names.map(nm => sum(col(s"r_$nm").cast(LongType)).as(s"n_$nm")) :+
        sum(names.map(nm => col(s"r_$nm")).reduce(_ && _).cast(LongType))
          .as("n_pass_all"): _*)
  }

  /** Associative fold of two repetitionRules cell tables — the S35
    * streaming maintenance primitive (the S28 gopher-cell discipline):
    * plain per-source counts, so per-cell addition is associative and
    * commutative and the maintained table equals the from-scratch battery
    * of the drained corpus for any batch split. NOT idempotent under
    * re-delivery — the exactly-once foreachBatch discipline applies. */
  def mergeRepetitionCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source")).agg(
      sum(col("n_docs")).as("n_docs"), sum(col("n_top2")).as("n_top2"),
      sum(col("n_top3")).as("n_top3"), sum(col("n_top4")).as("n_top4"),
      sum(col("n_dup5")).as("n_dup5"), sum(col("n_dup6")).as("n_dup6"),
      sum(col("n_pass_all")).as("n_pass_all"))

  /** DSIR importance-weight MODEL (Xie et al., NeurIPS 2023 "Data
    * Selection for Language Models via Importance Resampling"): hashed
    * n-gram features (len>0 unigrams + positional bigrams, md5-hashed
    * into `buckets` buckets — the paper's hashed feature space), bucket
    * counts under the TARGET distribution (the eval split — the corpus's
    * own held-out slice stands in for the paper's high-quality target,
    * the l15/l24 lockstep split rule) and the RAW distribution (the train
    * split), folded into one per-bucket importance weight with add-one
    * smoothing:
    *
    *   λ_b = ⌊10⁶ · ((c_t(b)+1) · (T_r+B)) / ((c_r(b)+1) · (T_t+B))⌋
    *
    * The published weight sums LOG likelihood ratios; this is the
    * RATIONAL-SNAPPED surrogate (the BM25 rational-idf dialect, SURVEY
    * §7.4): per-feature evidence keeps its ordering, the snap is one
    * exact-rounded double division of two BIGINTs — bit-identical in any
    * engine, so the declared query hash-matches the oracle. Headroom:
    * (c+1)·(T+B) long products are exact while c·T < 2⁶³ — at petabyte
    * feature counts compute the two smoothed probabilities as doubles
    * first (documented trade, not needed below ~10¹⁸ feature-pairs).
    *
    * Scale shape: ONE corpus pass explodes features (the hash is a
    * TOP-LEVEL codegen'd projection after the explode — never inside the
    * lambda); the (doc_id, is_target, b) count partial-aggregates
    * map-side; everything global is bucket-sized (B rows → broadcast). */
  def dsirModel(docs: DataFrame, buckets: Int = 1024,
                trainPct: Int = 80): DataFrame = {
    require(buckets >= 2, s"dsirModel: buckets ($buckets) must be >= 2")
    dsirModelFromDb(dsirDocBuckets(
      docs.select(col("doc_id"), col("text"),
        (TextOps.splitBucket(col("doc_id")) >= trainPct).as("is_target")),
      buckets), buckets)
  }

  /** λ table from an already-built (doc_id, is_target, b, c) count table
    * — lets the fused form share ONE feature pass between model build and
    * train-side scoring (the vocabCoverage shared-subtree rule). */
  private def dsirModelFromDb(db: DataFrame, buckets: Int): DataFrame = {
    val cnt = db.groupBy(col("b")).agg(
      sum(when(col("is_target"), col("c")).otherwise(lit(0L))).as("c_t"),
      sum(when(!col("is_target"), col("c")).otherwise(lit(0L))).as("c_r"))
    val tot = cnt.agg(sum(col("c_t")).as("t_t"), sum(col("c_r")).as("t_r"))
    cnt.crossJoin(broadcast(tot)).select(col("b"),
      floor(
        ((col("c_t") + 1L) * (col("t_r") + buckets)).cast(DoubleType) /
          ((col("c_r") + 1L) * (col("t_t") + buckets)).cast(DoubleType) *
          lit(1000000.0)).cast(LongType).as("lam"))
  }

  /** Per-(doc, bucket) hashed-feature counts — the shared feature pass of
    * model build and scoring (callers add `is_target`; the serve side
    * scores everything it is given). */
  private def dsirDocBuckets(docs: DataFrame, buckets: Int): DataFrame = {
    val cols = docs.columns.filter(_ != "text").map(col).toSeq
    docs.select(cols :+ TextOps.tokens(col("text")).as("toks"): _*)
      .select(cols :+ explode(concat(
        filter(col("toks"), t => length(t) > 0),
        TextOps.bigramOccurrences(col("toks")))).as("feat"): _*)
      .select(cols :+
        pmod(TextOps.md5Int32(col("feat")), lit(buckets.toLong)).as("b"): _*)
      .groupBy(cols :+ col("b"): _*).agg(count(lit(1)).as("c"))
  }

  /** Score a document batch against a static λ table — per doc: hashed
    * feature count and Σ c_b·λ_b. Pure function of (batch, model) with
    * per-doc independence: the streaming admission (S36) wraps exactly
    * this under foreachBatch (the l52/S26 persisted-model discipline —
    * arriving docs pay their own feature pass, never a model rebuild). */
  def dsirScore(batch: DataFrame, lam: DataFrame, buckets: Int = 1024): DataFrame =
    dsirDocBuckets(batch.select(col("doc_id"), col("text")), buckets)
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lam")).as("score"), sum(col("c")).as("n_feats"))

  /** The fused declared form (l117): build the model on the split corpus,
    * score every TRAIN document, keep the top-k selection head by
    * (score desc, doc_id) — deterministic zero-temperature resampling
    * (the paper samples Gumbel-proportionally; rank-by-weight is its
    * deterministic limit, the l26 sampling-family precedent). The top-k
    * runs as TakeOrderedAndProject (distributed per-partition heaps, no
    * global sort); source labels join AFTER the k-row cut. */
  def dsirSelect(docs: DataFrame, buckets: Int = 1024, trainPct: Int = 80,
                 k: Int = 50): DataFrame = {
    // ONE feature pass feeds both the λ build and the train-side scoring
    // (doc×bucket-sized — ≤ min(doc tokens, B) rows per doc)
    val db = dsirDocBuckets(
      docs.select(col("doc_id"), col("text"),
        (TextOps.splitBucket(col("doc_id")) >= trainPct).as("is_target")),
      buckets).localCheckpoint()
    val lam = dsirModelFromDb(db, buckets)
    val top = db.filter(!col("is_target"))
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lam")).as("score"), sum(col("c")).as("n_feats"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast(LongType))
    top.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_feats"), col("score"),
        col("rank"))
  }

  /** Vocabulary COVERAGE curve — "how much of the corpus token mass does
    * the top-X of the vocabulary cover": per vocab-rank decile (tokens
    * ranked by frequency desc, ties by token), token count, token mass,
    * cumulative mass and cumulative fraction. THE tokenizer/vocab-size
    * policy table (pick V where the curve saturates), and the Zipf-shape
    * readout next to LLM22's raw top-k.
    *
    * Scale design — NO per-token ranks at all: a tie group (freq f,
    * count c, tokens-before b) occupies the contiguous rank interval
    * [b+1, b+c], so each decile's overlap with it is pure interval
    * arithmetic — n = max(0, min(hi, b+c) − max(lo, b+1) + 1), mass =
    * n·f. The per-token row_number the naive form needs (and its hapax
    * tie-group skew — at web scale HALF the vocabulary is freq = 1 and
    * would land on one reducer) never happens: after the vocab hash-agg,
    * everything is grid-sized (distinct FREQUENCY VALUES — tens of
    * thousands at a 10M-token vocabulary). The grid prefix runs in one
    * grid-sized window (the exactRanks single-partition idiom — documented
    * bound: grid rows, not vocab rows); decile boundaries are exact
    * (⌊i·V/10⌋ — the ×10 product stays far under 2^53). */
  def vocabCoverage(docs: DataFrame, nDeciles: Int = 10): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // vocabulary-sized; feeds THREE consumers (grid + the two totals
    // crossJoins) — without the checkpoint each branch re-ran the corpus
    // tokenize/explode/agg from the scan (the bm25FromCore trap)
    val tf = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val grid = tf.groupBy(col("freq")).agg(count(lit(1)).as("c"))
    val gridB = grid.withColumn("before",
      coalesce(sum(col("c")).over(
        W.partitionBy(pmod(col("freq"), lit(1))).orderBy(col("freq").desc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val totals = tf.agg(count(lit(1)).as("v_total"), sum(col("freq")).as("mass_total"))
    val lo = floor((col("decile") * col("v_total")).cast(DoubleType) /
      lit(nDeciles.toDouble)).cast(LongType) + 1L
    val hi = floor(((col("decile") + 1L) * col("v_total")).cast(DoubleType) /
      lit(nDeciles.toDouble)).cast(LongType)
    val n = greatest(lit(0L),
      least(hi, col("before") + col("c")) - greatest(lo, col("before") + 1L) + 1L)
    gridB.crossJoin(broadcast(totals))
      .select(col("freq"), col("c"), col("before"), col("v_total"),
        explode(sequence(lit(0L), lit(nDeciles - 1L))).as("decile"))
      .select(col("decile"), n.as("n"), (n * col("freq")).as("mass"))
      .groupBy(col("decile"))
      .agg(sum(col("n")).as("n_tokens"), sum(col("mass")).as("token_mass"))
      .crossJoin(broadcast(totals))
      .withColumn("cum_mass",
        sum(col("token_mass")).over(
          W.partitionBy(pmod(col("decile"), lit(1))).orderBy(col("decile"))
            .rowsBetween(W.unboundedPreceding, 0)))
      .select(col("decile"), col("n_tokens"), col("token_mass"),
        col("cum_mass"),
        (col("cum_mass").cast(DoubleType) /
          col("mass_total").cast(DoubleType)).as("cum_frac"))
  }
}
