package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`,
  * plus `--corpus <dir>` (the LLM corpus made by run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, corpus: String, cpus: Int)

object Args {
  def apply(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), kv.getOrElse("corpus", ""),
      GraftSession.cpus.toInt)
  }
}

/** What one run hands back to run.py: when set-up ended, the operations
  * attempted and failed, the metrics, and facts the checks need. */
final case class Result(setupEndMs: Long, attempted: Int, failed: Int,
                        e2e: Map[String, Double], layer: Map[String, Double],
                        facts: Map[String, Any])

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The end-to-end metrics every workload reports, from the latencies of
    * its operations and the wall time from the first operation's start (or
    * due time) until every result is in. No higher percentile: a backfill
    * or curation round has 13 or 10 operations, too few for a tail. */
  def ops(latMs: Seq[Double], makespanS: Double): Map[String, Double] = Map(
    "op_p50_ms" -> pct(latMs, 0.5), "makespan_s" -> makespanS)

  /** Per key, the median over rounds. */
  def medians(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.head.keys.map(k => k -> pct(rounds.map(_(k)), 0.5)).toMap
}

object Json {
  private implicit val formats: Formats = DefaultFormats
  def write(v: AnyRef): String = Serialization.write(v)
}

object Files2 {
  def listRec(dir: String): Seq[File] = listRec(new File(dir))
  def listRec(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(listRec)
    else if (f.isFile) Seq(f) else Nil
  /** Bytes of the data files under `f` (Hadoop's `.crc` side files excluded). */
  def size(f: File): Long = listRec(f).filterNot(_.getName.endsWith(".crc")).map(_.length).sum
  def lineCount(f: File): Long = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().size.toLong finally src.close()
  }
  def writeLines(path: String, lines: Seq[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, lines.asJava, StandardCharsets.UTF_8): Unit
  }
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }
}

object Main {
  private val t0 = System.nanoTime()

  /** Progress notes on stderr (the run's log), stamped from JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val spark = GraftSession.build("perfbench")
    log("session up")
    val code = try {
      val trace = new Trace(spark, a.trace)
      val r = a.workload match {
        case "cdc_backfill" => Cdc.backfill(spark, trace, a)
        case "llm_curation" => Llm.run(spark, trace, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      trace.drain()
      if (a.trace) Files2.writeLines(s"${a.work}/trace.json", Seq(Json.write(trace.toJson)))
      Files2.writeLines(s"${a.work}/result.json", Seq(Json.write(Map(
        "setup_end_ms" -> r.setupEndMs, "attempted" -> r.attempted, "failed" -> r.failed,
        "e2e" -> r.e2e, "layer" -> r.layer, "facts" -> r.facts))))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    sys.exit(code)
  }
}
