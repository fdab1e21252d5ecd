package perfbench

import scala.collection.mutable

import graft.{BenchTiming, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `llm_curation`: declared queries of the LLM-data plane over a seeded
  * corpus, two per `llm/` family. Set-up runs every query once, cold (code
  * generation and JIT); the measured rounds run them again, compiled. */
object Llm {

  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("l16_dedup_clusters", "l30_dedup_apply"),
    "similarity" -> Seq("l14_cosine_near_dups", "l05_cosine_topk"),
    "retrieval" -> Seq("l101_bm25_topk", "l102_winnow"),
    "multimodal" -> Seq("l122_image_near_dups", "l150_video_offset_grouped_occ_sweep"),
    "text" -> Seq("l116_repetition_rules", "l99_canary_tripwire"))

  def run(spark: SparkSession, trace: Trace, a: Args): Result = {
    val ids = Families.flatMap(_._2)
    Files2.writeLines(s"${a.work}/oracle_sql.json",
      Seq(Json.write(ids.map(i => i -> SparkEntry.oracleSql(i)).toMap)))

    // one query: construction and execution both timed (iterative operators
    // run jobs while the plan is built), output written where checks read it
    def once(id: String, phase: String): Double = {
      BenchTiming.cleanup(spark)
      val t0 = System.nanoTime()
      trace.phase(phase) {
        SparkEntry.queries(id)(spark, a.corpus).write.mode("overwrite").parquet(s"${a.work}/out/$id")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Cold, each query's first run is mostly JIT compilation, which on a
    // shared 4-vCPU host swung the pass's time by ~30% between identical
    // runs; that cost is set-up here (`setup_s`), as in a curation service
    // that runs its queries more than once.
    ids.foreach(id => once(id, s"cold.$id"))
    trace.drain()
    val setupEndMs = System.currentTimeMillis()

    val meter = new Meter(trace, a.cpus)
    val t0 = System.nanoTime()
    val tEnd = t0 + (a.seconds * 1e9).toLong
    val times = mutable.LinkedHashMap(ids.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val perRound = mutable.ArrayBuffer.empty[Map[String, Double]]
    do {
      // operations: the queries, one after another
      val ts = ids.map { id => val t = once(id, s"query.$id"); times(id) += t; t }
      perRound += Stats.ops(ts.map(_ * 1e3), ts.sum)
    } while (System.nanoTime() < tEnd)
    val rounds = perRound.size
    val med = times.map { case (id, xs) => id -> Stats.pct(xs.toSeq, 0.5) }
    val e2e = Stats.medians(perRound.toSeq)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    trace.engine.foreach { eng =>
      layer("curation_s") = ids.map(med).sum
      Families.foreach { case (f, qs) => layer(s"${f}_s") = qs.map(med).sum }
      ids.foreach { id =>
        val w = eng.of(_ == s"query.$id")
        layer(s"query.${id}_s") = med(id)
        layer(s"query.${id}_jobs") = w.jobs.toDouble / rounds
        layer(s"query.${id}_shuffle_mb") = (w.shuffleRead + w.shuffleWrite) / 1e6 / rounds
      }
      layer ++= meter.metrics(rounds)
    }
    Result(setupEndMs, attempted = rounds * ids.size, failed = 0, e2e, layer.toMap,
      Map("rounds" -> rounds, "queries" -> ids))
  }
}
