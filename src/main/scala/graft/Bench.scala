package graft

/** Benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Harness rules (round-1/2/6 verdict fixes):
  *  - Queries run in the stable declared order, not Map iteration order.
  *  - Execution is a `noop`-format write: every projected column is computed
  *    and every ORDER BY survives (a bare `count()` let Catalyst prune the
  *    projection and eliminate sorts, undercounting real work).
  *  - Each query gets one UNTIMED warm run, then the timed run. The warm run
  *    absorbs per-query one-time costs that are irrelevant at 100 TB —
  *    whole-stage-codegen Janino compilation and JIT of the generated class
  *    (round-2 data: d20 first run 3.4 s, steady state 0.4 s on a 15k-row
  *    input — the first run measured the *compiler*, not the query). The
  *    reported number is the steady-state execution the plan would sustain
  *    per task on a cluster.
  *  - Before every run, residue from prior queries is dropped: cached plans
  *    and persistent RDD blocks (the localCheckpoints of the iterative
  *    operators) otherwise accumulate across the 84-query × 3-run sequence
  *    and turn into heap pressure that lands on whichever queries run late
  *    in the order. (Round-6 driver data: the CONSECUTIVE stretch l16–l20
  *    recorded 5.1/3.8/2.0/1.7/1.2 s vs 2.2/0.4/0.5/0.3/0.2 s for the same
  *    commit rerun — a sustained degraded window, not a plan change. Per-
  *    query cleanup removes the mechanism; min/max in the detail file makes
  *    any recurrence visible from artifacts alone.)
  *  - TWO printed JSON lines, both with SHORT query ids (d01, l16 — the
  *    same ids as BASELINE.md's per-query table): a full-precision line
  *    first (3-decimal seconds + the whole gate/arbitration block) and a
  *    COMPACT line last (1-decimal seconds + the arbitration headline,
  *    sized <= 1900 chars). The driver keeps only the last 2000 chars of
  *    output; at 169 queries even the short-id 3-decimal line runs ~2900
  *    chars, so every round through r14 recorded "parsed": null — the
  *    compact line is the parse target that ends that. Full names plus the
  *    min AND max of the two timed runs go to BENCH_DETAIL.json as before.
  *  - Failures are NOT swallowed — a broken query must fail the bench, not
  *    record as a fast success.
  */
object Bench {

  /** JVM compilation-state telemetry (round-11 directive #1): the round-8
    * and round-10 bench artifacts both contained ≥2×-normalized readings on
    * UNCHANGED code that prose-matched the code-cache-overflow signature
    * (tight min/max, calm sentinels, position-correlated) but carried no
    * measurement to prove it. These two numbers make the diagnosis
    * mechanical from the artifact alone:
    *  - code-cache occupancy (sum of used bytes across the segmented
    *    CodeHeap pools, or the single "Code Cache" pool pre-segmentation):
    *    approaching the -XX:ReservedCodeCacheSize reserve ⇒ the sweeper
    *    starts flushing JIT'd methods and hot loops deopt.
    *  - cumulative JIT compilation time: a query whose timed window shows a
    *    large jit_ms delta spent its wall-clock in the compiler
    *    (re-compiling flushed methods), not the plan.
    */
  private val codePools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
  }
  def codeCacheUsedMb: Double =
    codePools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  def codeCacheMaxMb: Double =
    codePools.map(_.getUsage.getMax max 0L).sum / (1024.0 * 1024.0)
  def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else -1L
  }

  /** Cumulative stop-the-world GC time (all collectors). Round-12
    * telemetry: l66's bimodal readings were sticky within a JVM session
    * with flat jit_ms and calm sentinels — the remaining in-JVM suspect is
    * collection pressure, and a per-query gc_ms delta answers "did GC eat
    * the clock" from the artifact alone, the same way jit_ms answers it
    * for the compiler. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")

    // Timing discipline lives in BenchTiming (shared with DevTime
    // so every harness's numbers stay comparable).
    def runOnce(name: String): Double = BenchTiming.runOnce(spark, name, sfDir)

    // Session warm-up: parquet footer caches + scheduler paths, untimed.
    Seq("d01_scan_count", "d05_multiway_join").foreach(runOnce)

    // Dev-only narrowing for plan iteration (unset in driver runs).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val stableOrder = SparkEntry.allDeclared.map(_.name)
      .filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_BENCH_SEED (dev flag, round-11 directive #7): shuffle the
    // query order deterministically so position-dependent effects (code-
    // cache pressure landing on whichever queries run late) are diagnosable
    // WITHIN one round: two differently-seeded runs that agree per-query
    // rule out position; divergence localizes it. Sentinels stay pinned —
    // the session warm-up above runs first and d01_end below runs last
    // regardless of seed. Unset (driver runs) = stable declared order, so
    // artifacts stay comparable round-over-round.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
    val order = seed.fold(stableOrder) { s =>
      new scala.util.Random(s).shuffle(stableOrder)
    }
    // min-of-2 timed runs: a single timed run is hostage to whichever GC
    // pause / compaction lands on it (round-5 data: d24 recorded 5.1 s vs
    // 0.8 s steady state, same code). The minimum of two steady-state runs
    // is the plan's sustainable cost; transient stalls inflate only the max
    // — which is recorded too (detail file), so variance is diagnosable
    // from the run's artifacts.
    val ccStartMb = codeCacheUsedMb
    val jitStartMs = jitMs
    // Per-query telemetry: occupancy AFTER the query's three runs (the
    // monotone-until-flush curve; a drop between consecutive queries =
    // sweeper flush) and the JIT time spent across its warm+timed window
    // (steady-state discipline predicts ~0 once warm; a big delta on a
    // TIMED run means the compiler ate the clock).
    // Round-12 finding: the recurring ≥2× readings with calm START/END
    // sentinels (r11's l66 7.3 s, this round's l17–l20 4× stretch) carry
    // flat jit_ms, ~0 gc_ms, and cc far from reserve — every in-JVM
    // mechanism is instrumented away, leaving multi-minute HOST windows
    // that start/end sentinels cannot see. Two time-resolved fields make
    // that arbitration mechanical too:
    //  - t_off: each query's wall-clock offset (sec since sequence start)
    //    — elevated readings that are CONSECUTIVE IN TIME are one window,
    //    not N plan regressions;
    //  - d01_mid_k probes (min-of-2, no warm — the shape is hot) every
    //    midEvery queries: an inflated probe brackets a degraded window
    //    from inside the artifact. Probes are detail-file only and run
    //    outside every query's timed region, so totals stay comparable.
    val seqStart = System.nanoTime()
    def tOff: Double = (System.nanoTime() - seqStart) / 1e9
    val midProbes = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val midEvery = 29
    val results = order.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % midEvery == 0) {
        val off = tOff
        midProbes += ((s"d01_mid_${i / midEvery}",
          math.min(runOnce("d01_scan_count"), runOnce("d01_scan_count")), off))
      }
      val off = tOff
      val j0 = jitMs
      val g0 = gcMs
      runOnce(n)
      val (a, b) = (runOnce(n), runOnce(n))
      (n, math.min(a, b), math.max(a, b), codeCacheUsedMb, jitMs - j0, gcMs - g0, off)
    }

    // End-of-sequence sentinel: d01 re-timed AFTER the whole sequence. Read
    // next to the sequence-start d01: equal → the JVM is still healthy and
    // any slow tail query is a real plan cost; inflated → JIT/code-cache
    // tail drift (the round-8 l41/l42 4× positional penalty), diagnosable
    // from artifacts alone. Detail-file only — it is a harness probe, not a
    // query, and must not move the gated total. Its jit_ms/gc_ms are the
    // sentinel's OWN warm+timed window deltas (same contract as every
    // queries{} entry — the run totals live in the jvm{} block).
    val sentJit0 = jitMs
    val sentGc0 = gcMs
    val sentinel = { runOnce("d01_scan_count");
      math.min(runOnce("d01_scan_count"), runOnce("d01_scan_count")) }
    val sentJitMs = jitMs - sentJit0
    val sentGcMs = gcMs - sentGc0

    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.US, v)

    // Per-query BASELINE rows (BASELINE.md's table, machine-readable) —
    // regenerated alongside the table from matched full-sequence pairs.
    // When present, the artifacts carry d01-normalized ratios so gate
    // arbitration is mechanical with no hand math: ratio_norm =
    // (sec / baseline_sec) x (baseline_d01_end / run_d01_end) — the
    // sentinel pair cancels host-speed drift (BASELINE.md's same-boot
    // variance study; d01_end, not the ramp-paying start d01, is the
    // host-speed proxy).
    val baselineRows: Map[String, Double] = {
      val p = java.nio.file.Paths.get("BASELINE_ROWS.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val hostNorm = for {
      b <- baselineRows.get("d01_end") if sentinel > 0
    } yield b / sentinel
    def ratios(name: String, sec: Double): String =
      baselineRows.get(name).filter(_ > 0).fold("") { b =>
        val raw = sec / b
        val norm = hostNorm.fold(raw)(raw * _)
        s""","ratio":${r3(raw)},"ratio_norm":${r3(norm)}"""
      }
    // ARBITRATION pass (round-12 directive #2 + round-13 directive #3):
    // every query whose end-sentinel-normalized ratio is >= 1.5 is
    // RE-MEASURED after the sequence. The retry runs in a FRESH JVM
    // (BenchRetry, one spawn for the whole flagged set): the round-13
    // bracket reran inside the end-of-suite JVM and could not separate
    // host noise from suite-state pollution (code cache, JIT deopt) —
    // l102's 1.614 "regression" on byte-identical code was exactly that
    // ambiguity. The child re-runs each flag under the full steady
    // discipline (warm + min-of-2) with hot d01 probes bracketing the
    // set, and the retry ratio normalizes against the child's own probe
    // (so a still-degraded host cancels to first order while suite state
    // is gone by construction). Verdict: retry_norm < 1.5 -> "host_noise"
    // (clean number recorded), else "regression" — now trustworthy,
    // because nothing of the 170-plan suite JVM survives into the
    // measurement. Capped at 12 retries worst-first — a run with more
    // flags than that is a degraded HOST run by construction, and the
    // probes say so. If the spawn fails (classpath oddity under a future
    // launcher), the bracket falls back to the old same-JVM retry and the
    // artifact says so ("bracket":"same_jvm").
    val flaggedAll = results.flatMap { case (k, mn, _, _, _, _, _) =>
      val short = k.split('_')(0)
      for {
        b <- baselineRows.get(short) if b > 0
        hn <- hostNorm
        norm = mn / b * hn if norm >= 1.5
      } yield (k, short, b, norm)
    }.sortBy(-_._4)
    // cap the RETRIES worst-first (a run with more than 12 flags is a
    // degraded host by construction) — but the printed n_ge1.5 count is
    // the UNCAPPED flaggedAll.size, so a 30-flag degraded-host run never
    // reads identically to an exactly-12 one (round-15 ADVICE).
    val flagged = flaggedAll.take(12)
    var retryChildExit: Option[Int] = None
    def freshJvmRetry(names: Seq[String])
        : Option[(Map[String, Double], Double, Double)] =
      try {
        import scala.jdk.CollectionConverters._
        val javaBin = java.nio.file.Paths
          .get(System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
          .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
        val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
          "-cp", System.getProperty("java.class.path"),
          "graft.BenchRetry", sfDir, names.mkString(","))
        val pb = new ProcessBuilder(cmd.asJava)
        // Spark logs ride the child's stderr — keep them out of the
        // parent's tail window (the driver keeps only the last 2000 chars)
        pb.redirectError(new java.io.File("/tmp/graft_bench_retry.err"))
        val p = pb.start()
        val out = scala.io.Source.fromInputStream(p.getInputStream)
          .getLines().toVector
        val exit = p.waitFor()
        // exit code recorded in the detail file either way: an OOM-killed
        // child (the parent's full heap stays resident during the spawn)
        // must be diagnosable from artifacts, not silently read as a
        // same_jvm fallback (round-15 ADVICE)
        retryChildExit = Some(exit)
        if (exit != 0) None
        else {
          val times = out.collect {
            case s if s.startsWith("RETRY:") =>
              val Array(k, v) = s.stripPrefix("RETRY:").split("=", 2)
              k -> v.toDouble
          }.toMap
          val pStart = out.collectFirst {
            case s if s.startsWith("RETRY_PROBE=") =>
              s.split("=", 2)(1).toDouble }
          val pEnd = out.collectFirst {
            case s if s.startsWith("RETRY_PROBE_END=") =>
              s.split("=", 2)(1).toDouble }
          if (pStart.isEmpty || !names.forall(times.contains)) None
          else Some((times, pStart.get, pEnd.getOrElse(pStart.get)))
        }
      } catch { case _: Throwable => None }
    // Fresh-bracket verdicts prefer the `_fresh` BASELINE twin (the same
    // query re-measured at the baseline commit under the SAME fresh-JVM
    // child discipline, normalized by `d01_fresh`) — the round-15 bracket
    // compared a fresh-JVM retry against an IN-SUITE baseline row (a JVM
    // warmed by 100+ preceding shapes) and manufactured three
    // "regression" verdicts on untouched code. Normalization uses the
    // MEAN of the child's start/end probes (not min): a host that
    // degrades mid-window otherwise normalizes degraded retries against
    // the clean pre-degradation probe (round-15 ADVICE).
    def verdictOf(retry: Double, pStart: Double, pEnd: Double,
                  short: String, b: Double, fresh: Boolean)
        : (Double, String, String) = {
      val probe = (pStart + pEnd) / 2
      val (bUsed, bd01Key, baseTag) = baselineRows.get(short + "_fresh")
        .filter(_ > 0 && fresh)
        .fold((b, "d01_end", "in_suite"))(bf => (bf, "d01_fresh", "fresh_twin"))
      val rn = baselineRows.get(bd01Key).filter(_ > 0 && probe > 0)
        .fold(retry / bUsed)(bd01 => retry / bUsed * (bd01 / probe))
      // A fresh-JVM retry judged against an IN-SUITE row carries the
      // measured 1.4–2.1× suite-warmth bias (plateau warming shrinks but
      // does not eliminate it — round-16 ADVICE), so a "regression" read
      // off that mismatched pair is PROVISIONAL until a `<short>_fresh`
      // twin is recorded at the baseline commit; only a twin-backed or
      // same-JVM comparison may emit the unqualified verdict.
      val verdict =
        if (rn < 1.5) "host_noise"
        else if (fresh && baseTag == "in_suite") "regression_provisional"
        else "regression"
      (rn, verdict, baseTag)
    }
    // (retry_sec, probe_start, probe_end, retry_norm, verdict, bracket, base_used)
    val arb: Map[String, (Double, Double, Double, Double, String, String, String)] =
      if (flagged.isEmpty) Map.empty
      else freshJvmRetry(flagged.map(_._1)) match {
        case Some((m, pStart, pEnd)) =>
          flagged.map { case (k, short, b, _) =>
            val retry = m(k)
            val (rn, v, bt) = verdictOf(retry, pStart, pEnd, short, b,
              fresh = true)
            k -> ((retry, pStart, pEnd, rn, v, "fresh_jvm", bt))
          }.toMap
        case None =>
          flagged.map { case (k, short, b, _) =>
            val probe = { runOnce("d01_scan_count");
              math.min(runOnce("d01_scan_count"), runOnce("d01_scan_count")) }
            val retry = BenchTiming.steady(spark, k, sfDir)
            val (rn, v, bt) = verdictOf(retry, probe, probe, short, b,
              fresh = false)
            k -> ((retry, probe, probe, rn, v, "same_jvm", bt))
          }.toMap
      }
    def arbJson(k: String): String = arb.get(k).fold("") {
      case (retry, pS, pE, rn, v, br, bt) =>
        s""","retry_sec":${r3(retry)},"retry_d01_start":${r3(pS)},"retry_d01_end":${r3(pE)},"retry_norm":${r3(rn)},"verdict":"$v","bracket":"$br","base_used":"$bt""""
    }
    val detail = (results.map { case (k, mn, mx, ccMb, jMs, gMs, off) =>
      s""""$k":{"min":${r3(mn)},"max":${r3(mx)},"t_off":${r3(off)},"cc_mb":${r3(ccMb)},"jit_ms":$jMs,"gc_ms":$gMs${ratios(k.split('_')(0), mn)}${arbJson(k)}}""" } ++
      midProbes.map { case (k, v, off) =>
        s""""$k":{"min":${r3(v)},"max":${r3(v)},"t_off":${r3(off)}}""" } :+
      s""""d01_end":{"min":${r3(sentinel)},"max":${r3(sentinel)},"cc_mb":${r3(codeCacheUsedMb)},"jit_ms":$sentJitMs,"gc_ms":$sentGcMs}""").mkString("{", ",", "}")
    val totalMin = results.map(_._2).sum
    val totalMax = results.map(_._3).sum
    // Run-level compilation-state summary: cc_reserve_mb is what the JVM
    // actually reserved (the -XX flag as seen from inside), cc_peak_mb the
    // high-water occupancy across queries. peak/reserve ≥ ~0.9 ⇒ the
    // sweeper was active and deopt readings are expected; ≪ 1 ⇒ a slow
    // reading is NOT code-cache overflow, look elsewhere.
    val ccPeakMb = (results.map(_._4) :+ ccStartMb).max
    val jvmMeta =
      s""","jvm":{"cc_reserve_mb":${r3(codeCacheMaxMb)},"cc_start_mb":${r3(ccStartMb)},"cc_peak_mb":${r3(ccPeakMb)},"cc_end_mb":${r3(codeCacheUsedMb)},"jit_total_ms":${jitMs - jitStartMs},"gc_total_ms":${gcMs},"seed":${seed.fold("null")(_.toString)},"retry_child_exit":${retryChildExit.fold("null")(_.toString)}}"""
    // SPARK_GRAFT_ONLY runs write a SEPARATE detail file: BENCH_DETAIL.json
    // is the full-sequence per-query record BASELINE.md points readers at
    // for regression arbitration — a 3-query dev iteration must never
    // clobber it (it did, twice, in round 9).
    val detailFile =
      if (only.isDefined) "BENCH_DETAIL_SUBSET.json" else "BENCH_DETAIL.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      s"""{"metric":"total","min":${r3(totalMin)},"max":${r3(totalMax)},"unit":"sec","sf":"$sfDir"$jvmMeta,"queries":$detail}"""
        .getBytes("UTF-8"))

    val qs = results.map { case (k, mn, _, _, _, _, _) =>
      "\"" + k.split('_')(0) + "\":" + r3(mn) }.mkString("{", ",", "}")
    // Compact normalized-gate summary on the printed line itself (the
    // full per-query ratios live in the detail file — the driver keeps
    // only the last 2000 chars of output, so this must stay small):
    // worst 5 normalized ratios + the count at or above 1.5x.
    val gate = if (baselineRows.isEmpty) "" else {
      val normed = results.flatMap { case (k, mn, _, _, _, _, _) =>
        val short = k.split('_')(0)
        baselineRows.get(short).filter(_ > 0).map { b =>
          short -> hostNorm.fold(mn / b)(mn / b * _) }
      }
      val worst = normed.sortBy(-_._2).take(5)
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
      // compact per-flag arbitration verdicts on the printed line itself:
      // the gate must be readable from the 2000-char window alone
      val arbShort = arb.toSeq.sortBy(-_._2._4).map { case (k, (_, _, _, rn, v, _, _)) =>
        "\"" + k.split('_')(0) + "\":{\"rn\":" + r3(rn) + ",\"v\":\"" +
          (v match {
            case "host_noise" => "host"
            case "regression_provisional" => "prov"
            case _ => "reg"
          }) + "\"}"
      }.mkString("{", ",", "}")
      val bracket = arb.values.headOption.fold("none")(_._6)
      s""","d01_end":${r3(sentinel)},"host_norm":${
        hostNorm.fold("null")(r3)},"worst_norm":$worst,"n_norm_ge_1.5":${
        normed.count(_._2 >= 1.5)},"arb":$arbShort,"arb_bracket":"$bracket","n_arb_reg":${
        arb.values.count(_._5 == "regression")},"n_arb_prov":${
        arb.values.count(_._5 == "regression_provisional")}"""
    }
    // cc_peak/cc_reserve + jit_total ride the printed line too (short keys,
    // ~60 chars): the driver's 2000-char window must be able to answer "was
    // this run deopt-contaminated?" without the detail file.
    val jvmShort = s""","cc_peak_mb":${math.round(ccPeakMb)},"cc_reserve_mb":${math.round(codeCacheMaxMb)},"jit_total_ms":${jitMs - jitStartMs}"""
    // Full-precision line FIRST (humans, grep, cross-check vs the detail
    // file). At 169 queries it runs ~2900 chars — it can never fit the
    // driver's 2000-char tail window, which is why every round so far
    // recorded "parsed": null. The COMPACT line below is the parse target
    // and must come LAST so the window always holds it whole.
    println(s"""{"metric":"total","value":${r3(totalMin)},"unit":"sec","queries":$qs,"sf":"$sfDir"$gate$jvmShort}""")
    // Compact parse-target line: same contract fields (metric/value/unit/
    // queries/sf) with 1-decimal per-query values (full precision lives in
    // BENCH_DETAIL.json and the line above) plus the arbitration headline.
    // Budget: 2000-char window minus the ~80-char sbt "[success]" trailer
    // leaves ~1920; the queries map at 1 decimal is ~1710, headline ~150.
    // If a future query-count growth overruns the budget, the reg map then
    // the counts are dropped before the queries map is ever truncated.
    def r1(v: Double): String = "%.1f".formatLocal(java.util.Locale.US, v)
    val qs1 = results.map { case (k, mn, _, _, _, _, _) =>
      "\"" + k.split('_')(0) + "\":" + r1(mn) }.mkString("{", ",", "}")
    val regShort = arb.toSeq.filter(_._2._5 == "regression")
      .sortBy(-_._2._4).take(3)
      .map { case (k, (_, _, _, rn, _, _, _)) =>
        "\"" + k.split('_')(0) + "\":" + r3(rn) }.mkString("{", ",", "}")
    // n_ge1.5 is the UNCAPPED flag count (flaggedAll, not the ≤12-retry
    // cap): a 30-flag degraded-host run must be distinguishable from an
    // exactly-12 run inside the 2000-char window (round-15 ADVICE).
    val nReg = arb.values.count(_._5 == "regression")
    val nProv = arb.values.count(_._5 == "regression_provisional")
    val arbJvm = arb.values.headOption.fold("none")(_._6)
    val hCore = s""","d01_end":${r3(sentinel)},"host_norm":${
      hostNorm.fold("null")(r3)},"n_ge1.5":${flaggedAll.size},"n_reg":$nReg,"n_prov":$nProv,"arb_jvm":"$arbJvm""""
    val base = s""""unit":"sec","sf":"${new java.io.File(sfDir).getName}","queries":$qs1"""
    // PROGRESSIVE degradation (round-15 ADVICE — the round-15 run fit at
    // a 4-char margin): try the full headline, then drop the reg map,
    // then drop to counts only, then no headline; each degraded variant
    // carries a "trunc" marker naming what was dropped, and the final
    // fallback drops the queries map last and says so.
    val variants = Seq(
      hCore + s""","reg":$regShort""",
      hCore + s""","trunc":"reg"""",
      s""","n_ge1.5":${flaggedAll.size},"n_reg":$nReg,"trunc":"gate"""",
      s""","trunc":"headline"""")
    val compact = variants.map(h =>
      s"""{"metric":"total","value":${r3(totalMin)}$h,$base}""")
      .find(_.length <= 1900)
      .getOrElse(s"""{"metric":"total","value":${r3(totalMin)},"trunc":"queries","unit":"sec","sf":"${new java.io.File(sfDir).getName}"}""")
    println(compact)
    spark.stop()
  }
}
