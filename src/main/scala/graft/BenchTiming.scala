package graft

import org.apache.spark.sql.SparkSession

/** The ONE timing discipline shared by every measurement entry point
  * (Bench, DevTime): blocking residue cleanup outside the timed
  * region, construction + noop-sink execution inside it. Lives in one
  * place so a future fix to the discipline (a new residue source to clear,
  * a new untimed cost discovered) applies to every harness at once —
  * scale-experiment numbers stay comparable to bench numbers by
  * construction.
  */
object BenchTiming {

  /** Drop residue of earlier runs so no query pays for a predecessor's
    * blocks: cached relations + persistent RDDs (localCheckpoints). Runs
    * OUTSIDE the timed region. blocking = true: reclamation must complete
    * strictly outside the timed region (async removal can still be in
    * flight when the clock starts, and it floods stdout with
    * lineage-truncation WARNs). */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** One timed execution of a declared query against `dir`. Construction
    * is INSIDE the timed region: most queries only build a plan here
    * (~free), but iterative operators (l16 label propagation) execute
    * eagerly during construction and must not escape the clock. */
  def runOnce(spark: SparkSession, name: String, dir: String): Double = {
    cleanup(spark)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Steady-state cost: one untimed warm run (codegen/JIT), then the min
    * of two timed runs (a single timed run is hostage to whichever GC
    * pause / compaction lands on it). */
  def steady(spark: SparkSession, name: String, dir: String): Double = {
    runOnce(spark, name, dir)
    math.min(runOnce(spark, name, dir), runOnce(spark, name, dir))
  }

  /** `steady` with WARM-UNTIL-PLATEAU (round-15 verdict #1): a fresh JVM
    * needs more than one warm run for shapes dominated by JIT ramp —
    * l56's BPE merge loop of tiny driver-side actions, sub-second
    * window/anti-join cohorts (d30/d31) — while the in-suite BASELINE
    * rows were recorded in a JVM already warmed by 100+ preceding query
    * shapes. A single-warm fresh bracket therefore reads 2–3× on exactly
    * those shapes and verdicts untouched code "regression" (round 15's
    * l56 2.579 / d30 1.930 / d31 1.607). Warm until two CONSECUTIVE
    * readings agree within `tol` (capped at `maxWarm` — a hostile host
    * must not spin forever), then report min(last plateau reading, one
    * more timed run) — the min-of-2 discipline on top of a genuinely
    * warm JVM. */
  def steadyPlateau(spark: SparkSession, name: String, dir: String,
                    tol: Double = 0.10, maxWarm: Int = 6): Double = {
    var prev = runOnce(spark, name, dir)
    var cur = runOnce(spark, name, dir)
    var i = 2
    while (i < maxWarm &&
      math.abs(cur - prev) > tol * math.max(cur, prev)) {
      prev = cur
      cur = runOnce(spark, name, dir)
      i += 1
    }
    math.min(cur, runOnce(spark, name, dir))
  }

  /** `steady` for an arbitrary plan builder (dev experiments that
    * parameterize operators beyond their declared-query instances — e.g.
    * knob-scheduled scale-ups). Same discipline, same comparability. */
  def steadyOf(spark: SparkSession,
               build: () => org.apache.spark.sql.DataFrame): Double = {
    def once(): Double = {
      cleanup(spark)
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }
}
