package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.GraftErrors
import graft.core.QuerySpec._
import graft.indexes.{MultiLogSink, SinkIndex}
import graft.live.LiveTail

/** The `log_append_tail` phase: an open loop of small appends to the
  * standing log, with a live-tail subscriber and a view-maintainer
  * thread keeping the KV index and the multilog current. A fixed share
  * of the ops redact an entry. Every latency is timed from the op's due
  * time. */
object LogAppendTail {
  /** Ops per second, fixed so that the parent commit keeps up with it. */
  val Rate = 1.0
  val MaxRowsPerAppend = 16
  /** Every this-many-th op is a redaction. */
  val RedactEvery = 5
  val Kinds: Vector[String] = Vector("append", "redact", "tail_delivery", "view_lag")
  /** How long a phase waits after its last op for the tail and the
    * views to catch up; what is still missing then counts as failed. */
  val DrainTimeoutMs = 30000L

  /** `rows` > 0 appends that many events; otherwise the op redacts
    * `target`, an entry of the standing log. */
  final case class Op(dueOffsetNs: Long, rows: Int, target: Long)

  /** `count` ops due `1/Rate` apart; redaction targets are distinct. */
  def schedule(seed: Long, standingRows: Long, count: Int): Vector[Op] = {
    val rnd = new SplittableRandom(seed ^ 0xa11e7L)
    val targets = mutable.HashSet.empty[Long]
    Vector.tabulate(count) { i =>
      val due = (i * 1e9 / Rate).toLong
      if (i % RedactEvery == RedactEvery - 1) {
        var t = rnd.nextLong(standingRows)
        while (targets.contains(t)) t = rnd.nextLong(standingRows)
        targets += t
        Op(due, 0, t)
      } else Op(due, 1 + rnd.nextInt(MaxRowsPerAppend), -1L)
    }
  }

  /** The events still to be appended, in id order. */
  final class Feed(events: Vector[Event]) {
    private var i = 0
    def take(n: Int): Vector[Event] = {
      val r = events.slice(i, i + n)
      i += n
      r
    }
  }

  /** What the live tail delivered: each seq's arrival time, and whether
    * seqs arrived exactly once and in order. */
  final class Delivered(first: Long, capacity: Int) {
    private val at = new Array[Long](capacity)
    val next = new AtomicLong(first)
    @volatile var error: Option[String] = None
    def sink(r: Row): Unit = {
      val seq = r.getLong(0)
      val want = next.get()
      if (seq != want && error.isEmpty)
        error = Some(s"live tail delivered seq $seq where $want was due")
      if (seq >= first && seq - first < capacity) at((seq - first).toInt) = System.nanoTime()
      next.set(seq + 1)
    }
    def arrivedNs(seq: Long): Long = at((seq - first).toInt)
  }

  /** The live tail and the view maintainer, running for the whole
    * append phase. */
  final class Rig(ctx: Ctx, st: LogRead.Standing, capacity: Int) {
    val delivered = new Delivered(st.log.seq + 1, capacity)
    val tail: StreamingQuery = LiveTail.push(st.log, Seq(Gt(st.log.seq), Live(true), SeqWrap(true)),
      ctx.freshDir("tail-checkpoint").toString, delivered.sink)

    /** (seq both views covered, when) after each pump round. */
    val pumped = new ConcurrentLinkedQueue[(Long, Long)]()
    /** The seq the latest recorded pump round covered. */
    val covered = new AtomicLong(-1L)
    val error = new AtomicReference[Throwable]()
    private val stop = new AtomicBoolean(false)
    private val maintainer = new Thread(() => {
      var round = 0L
      try {
        while (!stop.get()) {
          val top = st.log.seq
          val a = ctx.call("indexes.kv_pump", round) {
            val n = SinkIndex.pump(st.log, st.kv, LogRead.kvProc)
            ctx.returned(n)
            n
          }
          val b = ctx.call("multilog.pump", round) {
            val n = MultiLogSink.pump(st.log, st.mlog, st.mlogCursor, LogRead.mlogFanout)
            ctx.returned(n)
            n
          }
          pumped.add((top, System.nanoTime()))
          covered.set(top)
          round += 1
          if (a == 0 && b == 0) Thread.sleep(10)
        }
      } catch { case t: Throwable => error.set(t) }
    }, "view-maintainer")
    maintainer.setDaemon(true)
    maintainer.start()

    def close(): Unit = {
      stop.set(true)
      maintainer.join(60000)
      tail.stop()
    }
  }

  /** Run `ops` on schedule, then wait for the tail and views to catch
    * up, and return every latency measured from the ops' due times. */
  def phase(ctx: Ctx, st: LogRead.Standing, rig: Rig, ops: Vector[Op], fresh: Feed): Phase = {
    val samples = new Samples
    var attempted = 0L
    var failed = 0L
    var lateMaxMs = 0.0
    val appended = mutable.ArrayBuffer.empty[(Long, Long)] // (last seq, due ns)
    val t0 = System.nanoTime()
    ops.zipWithIndex.foreach { case (op, i) =>
      val due = t0 + op.dueOffsetNs - ops.head.dueOffsetNs
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - due) / 1e6)
      attempted += 1
      try {
        if (op.rows > 0) {
          val rows = fresh.take(op.rows)
          val first = ctx.call("storage.append", i.toLong, Seq(java.nio.file.Paths.get(st.log.dir))) {
            st.log.append(Events.toDF(ctx.spark, rows))
          }
          ctx.check(first == rows.head.eventId, s"append returned seq $first, expected ${rows.head.eventId}")
          samples.add("append", (System.nanoTime() - due) / 1e6)
          appended += ((first + op.rows - 1, due))
        } else {
          ctx.call("storage.redact", i.toLong)(st.log.nullAt(op.target))
          samples.add("redact", (System.nanoTime() - due) / 1e6)
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"append-phase op $i failed: $e")
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9

    val last = st.log.seq
    val drainDeadline = System.currentTimeMillis() + DrainTimeoutMs
    while ((rig.delivered.next.get() <= last || rig.covered.get() < last) &&
        System.currentTimeMillis() < drainDeadline && rig.error.get() == null)
      Thread.sleep(5)
    val rounds = rig.pumped.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._2)
    appended.foreach { case (seq, due) =>
      if (seq < rig.delivered.next.get())
        samples.add("tail_delivery", (rig.delivered.arrivedNs(seq) - due) / 1e6)
      else failed += 1
      rounds.find(r => r._1 >= seq && r._2 >= due) match {
        case Some((_, at)) => samples.add("view_lag", (at - due) / 1e6)
        case None => failed += 1
      }
    }
    new Phase(samples, attempted, failed, seconds, lateMaxMs)
  }

  /** The tail saw every seq once and in order; the views equal a
    * recomputation from every appended event; redacted entries read as
    * nulled. Redactions only target the standing log, which both views
    * consumed before the phase, so no redaction changes a view. */
  def checkFinal(ctx: Ctx, st: LogRead.Standing, rig: Rig, all: Vector[Event], ops: Seq[Op]): Unit = {
    Option(rig.error.get()).foreach(t => ctx.check(false, s"view maintainer failed: $t"))
    ctx.check(rig.delivered.error.isEmpty, rig.delivered.error.getOrElse(""))
    ctx.check(rig.delivered.next.get() == st.log.seq + 1,
      s"live tail stopped at ${rig.delivered.next.get() - 1}, log at ${st.log.seq}")
    ctx.check(st.log.seq == all.size - 1L, s"log ends at ${st.log.seq}, expected ${all.size - 1}")

    val wantKv = all.groupBy(_.userId).map { case (u, es) => u.toString -> es.maxBy(_.eventId).props }
    val gotKv = st.kv.current.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    ctx.check(gotKv == wantKv, s"kv index differs from recomputation (${gotKv.size} vs ${wantKv.size} keys)")
    val wantMl = all.map(e => (e.eventType, e.eventId)).toSet
    val gotMl = st.mlog.table.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    ctx.check(gotMl == wantMl, s"multilog differs from recomputation (${gotMl.size} vs ${wantMl.size} entries)")

    ops.filter(_.rows == 0).foreach { op =>
      val nulled = try { st.log.get(op.target); false } catch { case GraftErrors.ErrNulled(_) => true }
      ctx.check(nulled, s"redacted seq ${op.target} does not read as nulled")
    }
  }
}
