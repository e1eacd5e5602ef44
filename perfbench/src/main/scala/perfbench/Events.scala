package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One row of margaret's canonical `events` feed, in the value shape
  * graft's engine fixtures store in the log (`EngineFixtures.eventValue`):
  * `ts` as epoch nanos, `value` renamed `amount`. */
final case class Event(
    eventId: Long,
    tsNs: Long,
    userId: Long,
    eventType: String,
    amount: Double,
    props: String
) {
  def toRow: Row = Row(eventId, tsNs, userId, eventType, amount, props)
}

/** Seeded generator of `events`-shaped rows with the sf0.1 table's
  * distributions: dense ids, increasing timestamps, 1500 users drawn
  * uniformly, five event types, two-decimal amounts and a small JSON
  * `props` object. The same seed always yields the same rows. */
object Events {
  val Types: Vector[String] = Vector("click", "error", "purchase", "signup", "view")
  val Users: Int = 1500
  private val T0Ns = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z

  val valueType: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_ns", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("amount", DoubleType),
    StructField("props", StringType)
  ))

  /** `n` events with ids `firstId until firstId + n`. */
  def generate(seed: Long, n: Int, firstId: Long = 0L): Vector[Event] = {
    val rnd = new SplittableRandom(seed)
    var ts = T0Ns + firstId * 30L * 1000000000L
    Vector.tabulate(n) { i =>
      ts += rnd.nextLong(1L, 60L * 1000000000L)
      Event(
        eventId = firstId + i,
        tsNs = ts,
        userId = rnd.nextInt(Users).toLong,
        eventType = Types(rnd.nextInt(Types.size)),
        amount = rnd.nextInt(20000) / 100.0,
        props = s"""{"k": ${rnd.nextInt(100)}}"""
      )
    }
  }

  /** The single-`value`-column frame `ParquetLog.append` takes. */
  def toDF(spark: SparkSession, events: Seq[Event]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(events.map(e => Row(e.toRow)): _*),
      StructType(Seq(StructField("value", valueType)))
    )

  /** Approximate input bytes of a batch, for stored-bytes ratios. */
  def inputBytes(events: Seq[Event]): Long =
    events.iterator.map(e => 8L * 4 + e.eventType.length + e.props.length).sum
}
