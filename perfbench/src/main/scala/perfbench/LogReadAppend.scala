package perfbench

import java.nio.file.Path

import graft.indexes.{KVIndex, MultiLogSink, SinkIndex}
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** `log_read_append`: margaret's log as a feed uses it. Set-up builds a
  * standing log of 100k events in several appends, with a KV index and a
  * multilog derived from it. The run then times two phases of
  * `--seconds / 2` each: the closed-loop `log_read` phase ([[LogRead]]),
  * then the open-loop `log_append_tail` phase ([[LogAppendTail]]). */
object LogReadAppend {
  val Rows = 100000
  val Appends = 4
  val SetupReps = 3
  /** Rows of the one append that warms the live tail before timing. */
  val WarmupRows = 4

  /** Builds the standing state from the generated events. */
  def build(ctx: Ctx, events: Vector[Event]): Path = {
    val spark = ctx.spark
    val dir = ctx.freshDir("log")
    val log = ParquetLog.open(spark, dir.resolve("log").toString, Events.valueType)
    events.grouped((events.size + Appends - 1) / Appends).foreach(c => log.append(Events.toDF(spark, c)))
    SinkIndex.pump(log, KVIndex.open(spark, dir.resolve("kv").toString), LogRead.kvProc)
    MultiLogSink.pump(log, MultiLog.open(spark, dir.resolve("mlog").toString),
      KVIndex.open(spark, dir.resolve("mlog-cursor").toString), LogRead.mlogFanout)
    dir
  }

  /** The set-up a reader pays on every start: open the log and its
    * views, and make the first call of each read kind, so that work an
    * implementation defers to first use counts here. */
  def open(ctx: Ctx, dir: Path, expect: LogRead.Expected, firstCalls: Seq[LogRead.Op]): LogRead.Standing = {
    val spark = ctx.spark
    val st = new LogRead.Standing(
      ParquetLog.open(spark, dir.resolve("log").toString),
      KVIndex.open(spark, dir.resolve("kv").toString),
      MultiLog.open(spark, dir.resolve("mlog").toString),
      KVIndex.open(spark, dir.resolve("mlog-cursor").toString))
    firstCalls.foreach(op => LogRead.exec(ctx, st, expect, op, -1L))
    st
  }

  def run(ctx: Ctx): Outcome = {
    val half = ctx.seconds / 2.0
    val parts = if (ctx.tracer.isDefined) 2 else 1
    val perPart = math.max(LogAppendTail.RedactEvery, math.round(half * LogAppendTail.Rate).toInt)
    val writes = LogAppendTail.schedule(ctx.seed, Rows, perPart * parts)
    val appendRows = WarmupRows + writes.map(_.rows).sum
    val events = Events.generate(ctx.seed, Rows + appendRows)
    val standing = events.take(Rows)
    val expect = new LogRead.Expected(standing)
    val reads = LogRead.schedule(ctx.seed, Rows, 3000)
    val k = LogRead.Kinds.size

    val (dir, buildMs) = Timer.ms(build(ctx, standing))
    val opens = (0 until SetupReps).map(i => Timer.ms(open(ctx, dir, expect, reads.slice(i * k, i * k + k))))
    val st = opens.last._1

    var nextRead = SetupReps * k
    val (readPlain, readTraced) = ctx.phases {
      val (p, n) = LogRead.phase(ctx, st, expect, reads, nextRead, half)
      nextRead = n
      p
    }

    // start the tail and the views, warm them with one append, then
    // time the append phase
    val rig = new LogAppendTail.Rig(ctx, st, appendRows)
    val feed = new LogAppendTail.Feed(events.drop(Rows))
    rig.tail.processAllAvailable()
    st.log.append(Events.toDF(ctx.spark, feed.take(WarmupRows)))
    while (rig.delivered.next.get() <= st.log.seq || rig.covered.get() < st.log.seq) Thread.sleep(5)
    var part = 0
    val (writePlain, writeTraced) = ctx.phases {
      val ops = writes.slice(part * perPart, (part + 1) * perPart)
      part += 1
      LogAppendTail.phase(ctx, st, rig, ops, feed)
    }
    rig.close()

    LogAppendTail.checkFinal(ctx, st, rig, events.take(Rows + appendRows), writes)
    ctx.check(st.log.checkConsistency().isEmpty, "log checkConsistency reported problems")

    def p50(read: Phase, write: Phase): Double =
      Stats.geomean(LogRead.Kinds.map(k => Stats.median(read.samples(k))) ++
        LogAppendTail.Kinds.map(k => Stats.median(write.samples(k))))
    val opP50 = p50(readPlain, writePlain)
    val readsPerS = readPlain.rate
    val layers = (readTraced, writeTraced) match {
      case (Some(r), Some(w)) =>
        val appended = ctx.tracer.get.named("storage.append")
        val stored = appended.map(_.bytesAdded).sum.toDouble
        val first = Rows + WarmupRows + writes.take(perPart).map(_.rows).sum
        val input = Events.inputBytes(
          events.slice(first, first + writes.slice(perPart, 2 * perPart).map(_.rows).sum)).toDouble
        Map(
          "bench.trace_overhead_frac" -> (p50(r, w) / opP50 - 1.0),
          "bench.generator_late_max_ms" -> w.lateMaxMs,
          "storage.bytes_stored_per_input_byte" -> (if (input > 0) stored / input else 0.0))
      case _ => Map.empty[String, Double]
    }
    Outcome(
      setupS = opens.map(_._2 / 1000.0),
      attempted = readPlain.attempted + writePlain.attempted,
      failed = readPlain.failed + writePlain.failed,
      metrics = Seq(
        ("op_p50_ms", opP50, "ms"),
        ("throughput_per_s", readsPerS, "1/s")),
      layers = layers,
      notes = Seq(f"standing log of $Rows events and its views built in ${buildMs / 1000}%.1f s " +
        f"(before set-up); append rate ${LogAppendTail.Rate}%.1f/s") ++
        Report.kinds(LogRead.Kinds, readPlain.samples) ++
        Report.kinds(LogAppendTail.Kinds, writePlain.samples) ++ Seq(
          Report.named("get", "ms", readPlain.samples, Seq("get", "get_many")),
          Report.named("query", "ms", readPlain.samples, Seq("query_range", "query_reverse", "sublog_query", "kv_get")),
          f"read_ops_per_s = $readsPerS%.2f 1/s",
          Report.named("append", "ms", writePlain.samples, Seq("append")),
          Report.named("tail_delivery", "ms", writePlain.samples, Seq("tail_delivery")),
          Report.named("view_lag", "ms", writePlain.samples, Seq("view_lag"), tail = false),
          Report.named("redact", "ms", writePlain.samples, Seq("redact"), tail = false),
          f"generator late max ${writePlain.lateMaxMs}%.1f ms")
    )
  }
}
