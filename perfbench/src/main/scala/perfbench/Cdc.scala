package perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.cdc.{Envelope, LatestState}
import graft.datagen.DataGen
import graft.lake.Silver
import graft.rules.BatchRules
import graft.schema.{CustomerActivity, Schemas}
import graft.sources.CdcSource
import graft.streaming.{StatefulRules, StreamOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The CDC workload: the chain tail → bronze lake → latest-state merge →
  * fraud alarms, fed one large backlog drained at once (`cdc_backfill`),
  * after which the batch analytics run over the lake. */
object Cdc {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Epoch: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** One generator call. `DataGen.activity` maps row i to the (i mod
    * idCount)-th id of the seed's permutation, stamped `base + 5 s · i`.
    * The first `skip` rows are generated and dropped, so a later call over
    * the same ids draws fresh values while its stamps start at `base`. Each
    * id's first row may carry `firstOp` and its last row `lastOp`. With
    * `passShiftS` > 0, the j-th pass over the ids is moved j·passShiftS
    * seconds later: one call then spaces an id's rows as the shape needs. */
  final case class Seg(name: String, op: String, seed: Long, idCount: Int,
                       rows: Long, base: LocalDateTime, skip: Long = 0L,
                       firstOp: Option[String] = None, lastOp: Option[String] = None,
                       passShiftS: Long = 0L) {
    def ops: Seq[String] = op +: (firstOp.toSeq ++ lastOp)
  }

  private def at(t: LocalDateTime) = lit(t.format(TsFmt)).cast("timestamp")

  private def segDf(spark: SparkSession, s: Seg): DataFrame = {
    val firstEnd = s.base.plusSeconds(5L * s.idCount)
    val lastStart = s.base.plusSeconds(5L * (s.rows - s.idCount))
    val op = Seq(s.firstOp.map(o => (col("ts") < at(firstEnd)) -> o),
        s.lastOp.map(o => (col("ts") >= at(lastStart)) -> o)).flatten
      .foldRight(lit(s.op)) { case ((c, o), rest) => when(c, lit(o)).otherwise(rest) }
    val pass = floor((unix_timestamp(col("ts")) - unix_timestamp(at(s.base))) / (5L * s.idCount))
    DataGen.activity(spark, s.rows + s.skip, s.seed, s.idCount,
        s.base.minusSeconds(5L * s.skip).format(TsFmt))
      .filter(col("ts") >= at(s.base))
      .withColumn("op", op)
      .withColumn("ts", if (s.passShiftS == 0) col("ts")
        else col("ts") + make_dt_interval(lit(0), lit(0), lit(0), pass * s.passShiftS))
      .withColumn("seg", lit(s.name))
  }

  /** Where one run keeps its files; all of it is rebuilt from the seed. */
  final class Dirs(work: String) {
    val input = s"$work/input"     // the rows handed to the producer (parquet)
    val staging = s"$work/staging" // producer output before it is split
    val drop = s"$work/drop"       // the directory the chain tails
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    def bronze = s"$out/bronze"
    def deadletter = s"$out/deadletter"
    def state = s"$out/state"
  }

  // ------------------------------------------------------------------ chain

  /** Alarms collected by the benchmark's sink, with the batch that emitted them. */
  final class AlarmSink {
    private val buf = mutable.ArrayBuffer.empty[(Long, Row)]
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      synchronized { rows.foreach(r => buf += ((id, r))) }
    }
    def all: Seq[(Long, Row)] = synchronized(buf.toList)
  }

  final case class Chain(queries: Seq[StreamingQuery], freeze: AlarmSink, hop: AlarmSink) {
    def stop(): Unit = queries.foreach(_.stop())
  }

  private def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Start the chain's standing queries over `d.drop`:
    *  - bronze: `CdcSource.tailStream` → `Envelope.decodeSplit` → `selection`
    *    → `flatten` → `StreamOps.lakeSink`, with observed counts of decoded and
    *    selected rows (their difference is the foreign-schema rejects);
    *  - deadletter: decodeSplit's bad leg, raw lines kept as text;
    *  - merge: `CdcSource.activityStream` → `LatestState.foreachBatchMergeIncremental`;
    *  - freeze (C3) and cityhop (C1): `StatefulRules` over the same stream. */
  def startChain(spark: SparkSession, trace: Trace, d: Dirs, trigger: Trigger): Chain = {
    import spark.implicits._
    val (ok, bad) = Envelope.decodeSplit(CdcSource.tailStream(spark, d.drop))
    val selected = Envelope.selection(ok.observe("decoded", count(lit(1))))
      .observe("selected", count(lit(1)))
    val bronze = StreamOps.lakeSink(Envelope.flatten(selected), d.bronze,
        s"${d.ckpt}/bronze", trigger).queryName("bronze").start()
    val dead = bad.observe("dead", count(lit(1)))
      .writeStream.format("text")
      .option("path", d.deadletter).option("checkpointLocation", s"${d.ckpt}/deadletter")
      .trigger(trigger).queryName("deadletter").start()

    val merge0 = LatestState.foreachBatchMergeIncremental(spark, d.state)
    val state = new File(d.state)
    val mergeFn: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      trace.span("merge.call")(merge0(df, id))
      if (trace.on) {
        trace.count(s"merge.ms.$id", (System.nanoTime() - n0) / 1e6)
        // a rewritten bucket directory was created during this call
        val dirs = Option(state.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.getName.startsWith("bucket=") && f.lastModified() >= t0)
        trace.count(s"merge.buckets.$id", dirs.length.toDouble)
        trace.count(s"merge.bytes.$id", dirs.map(Files2.size).sum.toDouble)
      }
    }
    val merge = CdcSource.activityStream(spark, d.drop).writeStream
      .foreachBatch(mergeFn).option("checkpointLocation", s"${d.ckpt}/merge")
      .trigger(trigger).queryName("merge").start()

    val activity = CdcSource.activityStream(spark, d.drop)
      .select(Schemas.customerActivity.fieldNames.toSeq.map(col): _*)
      .withWatermark("ts", "1 hour")
    val freezeSink = new AlarmSink
    val freeze = StatefulRules.freezeAlerts(activity.as[CustomerActivity]).toDF()
      .writeStream.foreachBatch(freezeSink.fn)
      .option("checkpointLocation", s"${d.ckpt}/freeze")
      .trigger(trigger).queryName("freeze").start()
    val hopSink = new AlarmSink
    val hop = StatefulRules.cityHop(activity, activity)
      .writeStream.foreachBatch(hopSink.fn)
      .option("checkpointLocation", s"${d.ckpt}/cityhop")
      .trigger(trigger).queryName("cityhop").start()
    Chain(Seq(bronze, merge, freeze, hop, dead), freezeSink, hopSink)
  }

  /** Alarms as CSV for the checks: freeze `batch,user_id,ts_us,kind,balance,attempted`,
    * cityhop `batch,user_id,city_a,ts_a_us,city_b,ts_b_us`. */
  private def writeAlarms(c: Chain, dir: String): Unit = {
    Files2.writeLines(s"$dir/alarms_freeze.csv", c.freeze.all.map { case (b, r) =>
      s"$b,${r.getInt(0)},${micros(r.getTimestamp(1))},${r.getString(2)},${r.getLong(3)},${r.getLong(4)}"
    })
    Files2.writeLines(s"$dir/alarms_cityhop.csv", c.hop.all.map { case (b, r) =>
      s"$b,${r.getInt(0)},${r.getString(1)},${micros(r.getTimestamp(2))},${r.getString(3)},${micros(r.getTimestamp(4))}"
    })
  }

  /** Write the producer's input rows (the oracle's ground truth) and the
    * envelopes made from them, one directory per operation. */
  private def produce(spark: SparkSession, trace: Trace, d: Dirs, segs: Seq[Seg]): Unit = {
    trace.phase("gen.activity") {
      segs.map(segDf(spark, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(d.input)
    }
    val input = spark.read.parquet(d.input)
    trace.phase("envelope.encode") {
      segs.flatMap(_.ops).distinct.foreach { op =>
        CdcSource.writeEnvelopes(input.filter(col("op") === op).drop("op", "seg"),
          op, s"${d.staging}/$op")
      }
    }
  }

  /** Per-layer metrics of set-up (generation, encoding). */
  private def setupLayer(trace: Trace): Map[String, Double] = Map(
    "gen.activity_s" -> trace.spansNamed("gen.activity").map(_.ms).sum / 1e3,
    "envelope.encode_s" -> trace.spansNamed("envelope.encode").map(_.ms).sum / 1e3)

  private def observedSum(trace: Trace, q: String, name: String): Long =
    trace.progress.of(q).map(_.observed.getOrElse(name, 0L)).sum

  /** Envelopes decoded but dropped by the DMS selection rule. */
  private def foreignRejected(trace: Trace): Long =
    observedSum(trace, "bronze", "decoded") - observedSum(trace, "bronze", "selected")

  /** Per-layer metrics of the chain's queries over the given batches. */
  private def chainLayer(trace: Trace, d: Dirs, mergeB: Set[Long], bronzeB: Set[Long],
                         freezeB: Set[Long], hopB: Set[Long]): Map[String, Double] = {
    def med(q: String, bs: Set[Long], key: String): Double =
      Stats.pct(trace.progress.of(q).filter(p => bs(p.batchId))
        .map(_.durationMs.getOrElse(key, 0L).toDouble), 0.5)
    val perBatch = trace.engine.get.perBatch("merge").filter { case (b, _) => mergeB(b) }
    val bronzeFiles = Files2.listRec(d.bronze).filter(f => f.getName.startsWith("part-"))
    val last = (q: String) => trace.progress.of(q).lastOption
    Map(
      "source.latestOffset_ms" -> med("merge", mergeB, "latestOffset"),
      "source.getBatch_ms" -> med("merge", mergeB, "getBatch"),
      "state_mb" -> Files2.size(new File(d.state)) / 1e6,
      "envelope.dead_letters" -> observedSum(trace, "deadletter", "dead").toDouble,
      "envelope.foreign_rejected" -> foreignRejected(trace).toDouble,
      "lake.addBatch_ms" -> med("bronze", bronzeB, "addBatch"),
      "lake.walCommit_ms" -> med("bronze", bronzeB, "walCommit"),
      "lake.queryPlanning_ms" -> med("bronze", bronzeB, "queryPlanning"),
      "lake.files_written" -> bronzeFiles.size.toDouble,
      "lake.mb_written" -> bronzeFiles.map(_.length).sum / 1e6,
      "merge.call_ms" -> Stats.pct(mergeB.toSeq.flatMap(b => trace.counted(s"merge.ms.$b")), 0.5),
      "merge.jobs_per_call" -> Stats.pct(perBatch.values.map(_.jobs.toDouble).toSeq, 0.5),
      "merge.tasks_per_call" -> Stats.pct(perBatch.values.map(_.tasks.toDouble).toSeq, 0.5),
      "merge.buckets_rewritten" -> Stats.pct(mergeB.toSeq.flatMap(b =>
        trace.counted(s"merge.buckets.$b")), 0.5),
      "merge.mb_rewritten" -> Stats.pct(mergeB.toSeq.flatMap(b =>
        trace.counted(s"merge.bytes.$b")), 0.5) / 1e6,
      "freeze.addBatch_ms" -> med("freeze", freezeB, "addBatch"),
      "cityhop.addBatch_ms" -> med("cityhop", hopB, "addBatch"),
      "freeze.state_rows" -> last("freeze").map(_.stateRows.toDouble).getOrElse(0.0),
      "cityhop.state_rows" -> last("cityhop").map(_.stateRows.toDouble).getOrElse(0.0),
      "freeze.state_mb" -> last("freeze").map(_.stateBytes / 1e6).getOrElse(0.0),
      "cityhop.state_mb" -> last("cityhop").map(_.stateBytes / 1e6).getOrElse(0.0))
  }

  /** Materialize what the checks read: the alarms and `LatestState.readState`. */
  private def finishCdc(spark: SparkSession, d: Dirs, chain: Chain): Unit = {
    writeAlarms(chain, d.out)
    LatestState.readState(spark, d.state).write.mode("overwrite").parquet(s"${d.out}/state_read")
  }

  // ----------------------------------------------------------- cdc_backfill

  /** The backfill input: a full load, then a tail spanning January to May
    * whose segments are shaped so that every batch rule fires:
    *  - hop: 20 ids every 100 s, shorter than any session, so C2 overlaps and
    *    C1 hops occur;
    *  - dense: 400 loaded ids, each once an hour (every 3,605 s) for three
    *    days, so UPI at the limit on three consecutive days (C5) and three
    *    enquiries (P1) occur while no id recurs within C1's hour; each id's
    *    last change is a delete;
    *  - sparse: 4,000 new ids in five passes 30 days apart, January 20 to
    *    May 19, so the regularity rules P2, P3 and P5 fire.
    * Expected rows per seed: C5 ~7, P3 ~13, P5 ~22, the others more.
    * (id, ts) is unique: segments sharing ids never share a stamp. */
  def backfillSegs(seed: Long): Seq[Seg] = Seq(
    Seg("load", "load", seed, 10000, 10000, Epoch),
    Seg("hop", "insert", seed + 101, 20, 200, LocalDateTime.of(2024, 1, 3, 0, 0)),
    Seg("dense", "update", seed, 400, 72L * 400, LocalDateTime.of(2024, 1, 8, 0, 0),
      skip = 10000, lastOp = Some("delete"), passShiftS = 3605L - 5L * 400),
    Seg("sparse", "update", seed + 202, 4000, 5L * 4000, LocalDateTime.of(2024, 1, 20, 0, 0),
      firstOp = Some("insert"), passShiftS = 30L * 86400 - 5L * 4000))

  /** Lines no decoder should accept, in four shapes. */
  def malformed(seed: Long, n: Int): Seq[String] = (0 until n).map { i =>
    (i % 4) match {
      case 0 => s"not json $seed $i"
      case 1 => s"""{"data":{"user_id":${100000 + i},"city":"BOM"},"metadata":{"operation":"ins"""
      case 2 => s"""{"data":{"user_id":${100000 + i}}}"""
      case _ => s"""{"data":{"user_id":${100000 + i}},"metadata":{"operation":null}}"""
    }
  }

  val ForeignRows = 500
  val MalformedLines = 200

  def backfill(spark: SparkSession, trace: Trace, a: Args): Result = {
    val d = new Dirs(a.work)
    produce(spark, trace, d, backfillSegs(a.seed))
    // foreign-schema envelopes, valid but from a schema the DMS rule
    // excludes: the first loaded rows again, under another schema name
    Envelope.encode(spark.read.parquet(d.input)
        .filter(col("ts") < at(Epoch.plusSeconds(5L * ForeignRows))).drop("op", "seg"),
        lit("insert"), schemaName = "otherDb")
      .select("value").write.text(s"${d.staging}/foreign")
    new File(d.drop).mkdirs()
    Files2.listRec(d.staging).filter(_.getName.startsWith("part-")).sortBy(_.getPath)
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, new File(d.drop, f"b_$i%05d_${f.getParentFile.getName}.txt").toPath)
      }
    Files2.writeLines(s"${d.drop}/b_malformed.txt", malformed(a.seed, MalformedLines))
    val lines = Files2.listRec(d.drop).map(f => Files2.lineCount(f)).sum
    Main.log("produced")
    val setupEndMs = System.currentTimeMillis()

    // whole rounds: drain the backlog into a fresh lake, then the analytics
    val tEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
    var chain: Chain = null
    var failed = 0
    do {
      Files2.rm(new File(d.out)); Files2.rm(new File(d.ckpt))
      trace.drain()
      val meter = new Meter(trace, a.cpus)
      // a round's "last progress" and per-batch work must be its own
      trace.progress.clear(); trace.engine.foreach(_.clear())
      val r0 = System.nanoTime()
      chain = startChain(spark, trace, d, Trigger.AvailableNow())
      chain.queries.foreach(_.awaitTermination())
      Main.log("backlog drained")
      val drainS = (System.nanoTime() - r0) / 1e9
      val a0 = System.nanoTime()
      val (stepsMs, stepsFailed) = analytics(spark, trace, d)
      failed += stepsFailed
      val analyticsS = (System.nanoTime() - a0) / 1e9
      trace.drain()
      // operations: the drain, then each analytics step
      val m = mutable.LinkedHashMap[String, Double]() ++
        Stats.ops(drainS * 1e3 +: stepsMs, drainS + analyticsS)
      if (trace.on) {
        m("backfill_rows_per_s") = lines / drainS
        m("analytics_s") = analyticsS
        val data = (q: String) => trace.progress.of(q).filter(_.inputRows > 0).map(_.batchId).toSet
        m ++= chainLayer(trace, d, data("merge"), data("bronze"), data("freeze"), data("cityhop"))
        def s(n: String) = trace.spansNamed(n).lastOption.map(_.ms / 1e3).getOrElse(0.0)
        m("silver.compact_s") = s("silver.compact")
        m("silver.files") = Files2.listRec(s"${d.out}/silver")
          .count(_.getName.endsWith(".parquet")).toDouble
        m("latest.batch_s") = s("latest.batch")
        Rules.foreach { case (n, _) => m(s"rules.${n}_s") = s(s"rules.$n") }
        m ++= meter.metrics()
      }
      rounds += m.toMap
    } while (System.nanoTime() < tEnd)
    finishCdc(spark, d, chain)

    val med = Stats.medians(rounds.toSeq)
    val e2eKeys = Stats.ops(Nil, 0).keySet
    val layer = if (trace.on) med.filter { case (k, _) => !e2eKeys(k) } ++ setupLayer(trace) else Map.empty[String, Double]
    Result(setupEndMs, attempted = rounds.size * (1 + 2 + Rules.size), failed = failed,
      med.filter { case (k, _) => e2eKeys(k) }, layer,
      Map("rounds" -> rounds.size, "lines" -> lines,
        "injected_malformed" -> MalformedLines, "injected_foreign" -> ForeignRows,
        "foreign_rejected" -> foreignRejected(trace),
        "dead_letters" -> observedSum(trace, "deadletter", "dead")))
  }

  /** The ten batch rules, C3 as two outputs (violations and flagged rows). */
  val Rules: Seq[(String, DataFrame => Seq[(String, DataFrame)])] = Seq(
    "c1" -> (df => Seq("c1" -> BatchRules.cityHop(df))),
    "c2" -> (df => Seq("c2" -> BatchRules.overlappingSessions(df))),
    "c3" -> { df => val (v, f) = BatchRules.overdraftFreeze(df); Seq("c3_violations" -> v, "c3_flagged" -> f) },
    "c4" -> (df => Seq("c4" -> BatchRules.firstForex(df))),
    "c5" -> (df => Seq("c5" -> BatchRules.upiLimitStreak(df))),
    "p1" -> (df => Seq("p1" -> BatchRules.enquiryIntent(df))),
    "p2" -> (df => Seq("p2" -> BatchRules.regularForex(df))),
    "p3" -> (df => Seq("p3" -> BatchRules.regularMfHighValue(df))),
    "p4" -> (df => Seq("p4" -> BatchRules.topCapitalInvestors(df))),
    "p5" -> (df => Seq("p5" -> BatchRules.pensionCrossSell(df))))

  /** Silver compaction, latest-state compaction and the ten rules over the
    * landed lake; each output is written where the checks read it. Returns
    * each step's wall time (ms) and the number of steps that failed. */
  private def analytics(spark: SparkSession, trace: Trace, d: Dirs): (Seq[Double], Int) = {
    var failed = 0
    val times = mutable.ArrayBuffer.empty[Double]
    def attempt(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try trace.phase(name)(body) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e"); failed += 1
      }
      times += (System.nanoTime() - t0) / 1e6
    }
    val silver = s"${d.out}/silver"
    attempt("silver.compact")(Silver.compact(spark, d.bronze, silver))
    attempt("latest.batch") {
      val landed = spark.read.schema(Schemas.cdcData.add("operation", "string")).json(d.bronze)
        .select((Schemas.customerActivity.fieldNames :+ "operation").toSeq.map(col): _*)
      LatestState.batch(landed).write.parquet(s"${d.out}/latest_batch")
    }
    val act = Silver.read(spark, silver)
      .select(Schemas.customerActivity.fieldNames.toSeq.map(col): _*)
    Rules.foreach { case (n, f) =>
      attempt(s"rules.$n")(f(act).foreach { case (o, df) => df.write.parquet(s"${d.out}/rules/$o") })
    }
    (times.toSeq, failed)
  }
}
