package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.core.QuerySpec._
import graft.indexes.KVIndex
import graft.multilog.MultiLog
import graft.storage.ParquetLog

/** The `log_read` phase: one client in a closed loop against the
  * standing log, issuing a seeded mix of the small reads a feed reader
  * makes. No commit runs in this phase. */
object LogRead {
  val Kinds: Vector[String] =
    Vector("get", "get_many", "query_range", "query_reverse", "sublog_query", "kv_get")

  final case class Op(kind: String, seqs: Vector[Long], a: Long, b: Long, n: Int, key: String)

  final class Standing(val log: ParquetLog, val kv: KVIndex, val mlog: MultiLog, val mlogCursor: KVIndex)

  /** The views margaret users keep: latest props per user, and one
    * sublog per event type. */
  def kvProc(batch: DataFrame): DataFrame =
    batch.select(col("value.user_id").as("addr"), col("value.props").as("value"),
      col("seq").as("useq"))

  def mlogFanout(batch: DataFrame): DataFrame =
    batch.select(col("value.event_type").as("addr"), col("seq"))

  /** A seq skewed toward the tail: most feed reads are of recent items. */
  private def tailSkewed(rnd: SplittableRandom, n: Long): Long = {
    val u = rnd.nextDouble()
    n - 1 - math.min(n - 1, (n * u * u * u * u).toLong)
  }

  /** The op schedule over a log of `rows` entries: every block of six
    * holds each kind once, in a seeded order, so the mix is the same in
    * every run. */
  def schedule(seed: Long, rows: Long, count: Int): Vector[Op] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    Vector.fill((count + Kinds.size - 1) / Kinds.size) {
      val order = new scala.util.Random(rnd.nextLong()).shuffle(Kinds)
      order.map {
        case k @ "get" => Op(k, Vector(tailSkewed(rnd, rows)), 0, 0, 0, "")
        case k @ "get_many" =>
          Op(k, Vector.fill(8)(tailSkewed(rnd, rows)).distinct, 0, 0, 0, "")
        case k @ "query_range" =>
          val a = tailSkewed(rnd, rows)
          Op(k, Vector.empty, a, math.min(rows, a + 10 + rnd.nextInt(190)), 5 + rnd.nextInt(46), "")
        case k @ "query_reverse" => Op(k, Vector.empty, 0, 0, 5 + rnd.nextInt(46), "")
        case k @ "sublog_query" =>
          Op(k, Vector.empty, 0, 0, 5 + rnd.nextInt(46), Events.Types(rnd.nextInt(Events.Types.size)))
        case k @ "kv_get" => Op(k, Vector.empty, 0, 0, 0, rnd.nextInt(Events.Users).toString)
      }
    }.flatten.take(count)
  }

  /** Answers computed from the generated events alone. */
  final class Expected(events: Vector[Event]) {
    val rows: Long = events.size.toLong
    val lastProps: Map[String, String] =
      events.groupBy(_.userId).map { case (u, es) => u.toString -> es.maxBy(_.eventId).props }
    val byType: Map[String, Vector[Long]] =
      events.groupBy(_.eventType).map { case (t, es) => t -> es.map(_.eventId).sorted }
    def value(seq: Long): Row = events(seq.toInt).toRow
  }

  /** Run ops from the first whole block at or after `ops(from)` until
    * `seconds` have passed and at least one block is done; returns the
    * phase and the index of the next unissued op. The phase's rate counts
    * whole blocks only, so that it weighs every kind the same whichever
    * kinds the deadline cut off. */
  def phase(ctx: Ctx, st: Standing, expect: Expected, ops: Vector[Op], from: Int, seconds: Double): (Phase, Int) = {
    val samples = new Samples
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val first = (from + Kinds.size - 1) / Kinds.size * Kinds.size
    var i = first
    var blocksEndNs = t0
    while (System.nanoTime() < deadline || i - first < Kinds.size) {
      val op = ops(i % ops.size)
      attempted += 1
      val s0 = System.nanoTime()
      try {
        exec(ctx, st, expect, op, i.toLong)
        samples.add(op.kind, (System.nanoTime() - s0) / 1e6)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"read op ${op.kind} failed: $e")
      }
      i += 1
      if ((i - first) % Kinds.size == 0) blocksEndNs = System.nanoTime()
    }
    val blockOps = (i - first) / Kinds.size * Kinds.size
    (new Phase(samples, attempted, failed, (System.nanoTime() - t0) / 1e9,
      rate = blockOps / ((blocksEndNs - t0) / 1e9)), i)
  }

  private def checkRows(ctx: Ctx, expect: Expected, rows: Seq[Row], seqs: Seq[Long], what: String): Unit = {
    ctx.check(rows.map(_.getLong(0)) == seqs,
      s"$what: seqs ${rows.map(_.getLong(0)).take(5)}… != ${seqs.take(5)}…")
    rows.foreach(r =>
      ctx.check(r.getStruct(1) == expect.value(r.getLong(0)), s"$what: wrong value at ${r.getLong(0)}"))
  }

  private def collected(ctx: Ctx, df: => DataFrame): Array[Row] = {
    val r = df.collect()
    ctx.returned(r.length)
    r
  }

  def exec(ctx: Ctx, st: Standing, expect: Expected, op: Op, opId: Long): Unit = op.kind match {
    case "get" =>
      val r = ctx.call("storage.get", opId)(st.log.get(op.seqs.head))
      checkRows(ctx, expect, Seq(r), op.seqs, "get")
    case "get_many" =>
      val rows = ctx.call("storage.get_many", opId)(st.log.getMany(op.seqs))
      checkRows(ctx, expect, rows.toSeq.sortBy(_.getLong(0)), op.seqs.sorted, "getMany")
    case "query_range" =>
      val rows = ctx.call("query.range", opId)(collected(ctx,
        st.log.query(Gte(op.a), Lt(op.b), Limit(op.n.toLong), SeqWrap(true))))
      checkRows(ctx, expect, rows.toSeq, op.a until math.min(op.b, op.a + op.n), "query range")
    case "query_reverse" =>
      val rows = ctx.call("query.reverse", opId)(collected(ctx,
        st.log.query(Reverse(true), Limit(op.n.toLong), SeqWrap(true))))
      checkRows(ctx, expect, rows.toSeq, (expect.rows - 1) to (expect.rows - op.n) by -1L, "query reverse")
    case "sublog_query" =>
      val rows = ctx.call("multilog.sublog_query", opId)(collected(ctx,
        st.mlog.sublog(op.key).query(Limit(op.n.toLong), SeqWrap(true))))
      ctx.check(rows.map(_.getLong(0)).toSeq == (0L until op.n.toLong) &&
        rows.map(_.getLong(1)).toSeq == expect.byType(op.key).take(op.n),
        s"sublog ${op.key} limit ${op.n}: wrong entries")
    case "kv_get" =>
      val v = ctx.call("indexes.kv_get", opId)(st.kv.get(op.key))
      ctx.check(v == expect.lastProps.get(op.key), s"kv get ${op.key}: $v")
  }
}
