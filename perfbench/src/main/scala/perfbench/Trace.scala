package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Bench
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a public function of the program, timed from outside. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine work attributed to one phase: a streaming query's micro-batch
  * (keyed by query name and batch id) or a named batch phase (batch -1). */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
  }
}

/** Counts jobs, stages and tasks, task time, shuffle and spill per phase.
  * Streaming jobs carry the query id and batch id as local properties; batch
  * phases are tagged by `Trace.phase`. */
final class EngineListener(queryName: String => String) extends SparkListener {
  private val byKey = mutable.HashMap.empty[(String, Long), Work]
  private val stageKey = mutable.HashMap.empty[Int, (String, Long)]
  val total = new Work

  private def work(k: (String, Long)) = byKey.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val qid = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
    val key = qid match {
      case Some(id) =>
        (queryName(id), p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
          .map(_.toLong).getOrElse(-1L))
      case None =>
        (p.flatMap(x => Option(x.getProperty(Trace.PhaseProp))).getOrElse("other"), -1L)
    }
    work(key).jobs += 1; total.jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(work(_).stages += 1)
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w = new Work
    w.tasks = 1
    if (m != null) {
      w.runMs = m.executorRunTime; w.cpuNs = m.executorCpuTime
      w.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      w.spill = m.diskBytesSpilled
    }
    stageKey.get(e.stageId).foreach(work(_).add(w))
    total.add(w)
  }

  /** Work of every phase whose name satisfies `p` (all batches). */
  def of(p: String => Boolean): Work = synchronized {
    val w = new Work
    byKey.foreach { case ((n, _), x) => if (p(n)) w.add(x) }
    w
  }

  def perBatch(name: String): Map[Long, Work] = synchronized {
    byKey.collect { case ((n, b), w) if n == name && b >= 0 => b -> w }.toMap
  }

  def snapshot(): Work = synchronized { val w = new Work; w.add(total); w }

  /** Forget the per-phase work (between rounds, when no job runs). */
  def clear(): Unit = synchronized { byKey.clear(); stageKey.clear() }

  def phases: Seq[((String, Long), Work)] = synchronized(byKey.toList.sortBy(_._1))
}

/** One streaming progress report, reduced to what the benchmark uses. */
final case class Progress(query: String, batchId: Long, startMs: Long,
                          durationMs: Map[String, Long], inputRows: Long,
                          stateRows: Long, stateBytes: Long,
                          observed: Map[String, Long]) {
  /** The trigger's end: the commit of this batch. */
  def commitMs: Long = startMs + durationMs.getOrElse("triggerExecution", 0L)
}

/** Collects every progress report of every query; this is how the benchmark
  * learns when each micro-batch committed, so it stays on in untraced runs. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Progress]
  private val names = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def name(id: String): String = Option(names.get(id)).getOrElse(id)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    names.put(e.id.toString, Option(e.name).getOrElse(e.id.toString)): Unit

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val obs = p.observedMetrics.asScala.flatMap { case (k, row) =>
      if (row == null || row.length == 0) None else Some(k -> row.getLong(0))
    }.toMap
    val rec = Progress(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      obs)
    synchronized { buf += rec }
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[Progress] = synchronized(buf.toList)
  def clear(): Unit = synchronized(buf.clear())
  def of(query: String): Seq[Progress] = all.filter(_.query == query).sortBy(_.batchId)
}

/** Tracing for one run. With `on = false` (the untraced run that yields the
  * end-to-end metrics) no SparkListener is registered and no span is kept;
  * the progress listener stays, since commit times come from it. */
final class Trace(val spark: SparkSession, val on: Boolean) {
  val progress = new ProgressListener
  spark.streams.addListener(progress)
  val engine: Option[EngineListener] =
    if (on) { val l = new EngineListener(progress.name); spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  /** Time `body` as span `name`, child of the innermost open span on this
    * thread; the span is kept only when tracing. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      if (on) synchronized { spans += Span(id, name, parent, t0, t1) }
    }
  }

  /** Run `body` as batch phase `name`: its Spark jobs are attributed to it. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.PhaseProp)
    sc.setLocalProperty(Trace.PhaseProp, name)
    try span(name)(body) finally sc.setLocalProperty(Trace.PhaseProp, prev)
  }

  def count(name: String, v: Double): Unit = synchronized { counts(name) = v }
  def counted(name: String): Option[Double] = synchronized(counts.get(name))

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = BusDrain(spark.sparkContext)

  /** Self time: a span's time minus the part of it its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var end = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end); if (b > lo) { covered += b - lo; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Spans with their self times, the counters, every streaming batch
    * (epoch ms) and the engine work of every phase, as JSON. */
  def toJson: Map[String, Any] = {
    val all = allSpans.sortBy(_.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val sp = all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> selfMs(s, all))
    }
    val cs = synchronized(counts.toMap)
    val batches = progress.all.map { p =>
      Map("query" -> p.query, "batch" -> p.batchId, "start_ms" -> p.startMs,
        "commit_ms" -> p.commitMs, "input_rows" -> p.inputRows, "duration_ms" -> p.durationMs,
        "state_rows" -> p.stateRows, "state_bytes" -> p.stateBytes)
    }
    val phases = engine.toSeq.flatMap(_.phases).map { case ((n, b), w) =>
      Map("phase" -> n, "batch" -> b, "jobs" -> w.jobs, "stages" -> w.stages,
        "tasks" -> w.tasks, "task_ms" -> w.runMs, "task_cpu_ms" -> w.cpuNs / 1e6,
        "shuffle_read_bytes" -> w.shuffleRead, "shuffle_write_bytes" -> w.shuffleWrite,
        "spill_bytes" -> w.spill)
    }
    Map("spans" -> sp, "counts" -> cs, "batches" -> batches,
      "engine" -> phases)
  }
}

object Trace {
  val PhaseProp = "perfbench.phase"
}

/** Engine and JVM work from construction to `metrics`, as per-layer
  * metrics divided by `per` (the rounds run); `overhead_s` is the wall time
  * the tasks do not account for: wall − Σ task time / cores. Tracing only.
  * A caller that needs an exact start drains the listener bus first. */
final class Meter(trace: Trace, cpus: Int) {
  private val e0 = trace.engine.map(_.snapshot())
  private val gc0 = Bench.gcMs
  private val jit0 = Bench.jitMs
  private val t0 = System.nanoTime()

  def metrics(per: Double = 1.0): Map[String, Double] = {
    val wallS = (System.nanoTime() - t0) / 1e9
    trace.drain()
    val a = e0.get; val b = trace.engine.get.snapshot()
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.stages" -> (b.stages - a.stages).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.task_s" -> (b.runMs - a.runMs) / 1e3,
      "spark.task_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "spark.shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / 1e6,
      "spark.shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / 1e6,
      "spark.spill_mb" -> (b.spill - a.spill) / 1e6,
      "overhead_s" -> (wallS - (b.runMs - a.runMs) / 1e3 / cpus),
      "jvm.gc_s" -> (Bench.gcMs - gc0) / 1e3,
      "jvm.jit_s" -> (Bench.jitMs - jit0) / 1e3).map { case (k, v) => k -> v / per }
  }
}
