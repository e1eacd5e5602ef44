package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.dedup.{Dedup, DedupParams, IngestResult}
import graft.streaming.{IngestConfig, IngestDaemon}

/** `daemon_ingest`: one client feeding fixed-size batches to
  * `IngestDaemon.processBatch` in a closed loop, over a standing corpus
  * seeded before set-up. Every batch runs the three dedup tiers: text,
  * vector and fingerprint. (The profile and boilerplate tiers would add
  * two more journaled commits per batch and about a fifth to a run's
  * time, which the run budget does not have room for.) */
object DaemonIngest {
  val BatchDocs = 1000
  /** Batches' worth of docs the standing corpus is seeded with, in one
    * call: its second half carries plants of its first, so every tier's
    * drop path has run before timing starts. */
  val CorpusBatches = 2
  val SetupReps = 3
  val Tokens = 40

  /** Every planted near-duplicate copies a doc of the previous batch,
    * and each kind is caught by one tier only: a text plant repeats a
    * body, a vector plant repeats an embedding, a fingerprint plant
    * flips one bit of a fingerprint. All other docs share no shingle,
    * vector or fingerprint neighbourhood with any doc. */
  def plantKind(id: Long): Option[String] =
    if (id < BatchDocs) None
    else (id % 50) match {
      case 0 => Some("text")
      case 25 => Some("vector")
      case 37 => Some("fingerprint")
      case _ => None
    }

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("fph", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))
  ))

  private val Markers = Array("the", "and", "of", "to")

  /** Doc `id`'s own body, embedding and fingerprint, from the seed. */
  private def raw(seed: Long, id: Long): (String, Array[Float], Long) = {
    val rnd = new SplittableRandom(seed * 1000003L + id)
    // every 4th token is an English marker so the language gate admits
    // the doc; the rest are doc-unique numbers, so any trigram carries
    // two doc-unique tokens and docs share no shingles
    val body = (0 until Tokens).map { i =>
      if (i % 4 == 0) Markers((i / 4) % 4) else rnd.nextInt(99991).toString
    }.mkString(" ")
    val emb = Array.fill(32)((rnd.nextInt(2001) - 1000) / 1000.0f)
    (body, emb, rnd.nextLong())
  }

  def doc(seed: Long, id: Long): Row = {
    val (body, emb, fp) = raw(seed, id)
    val text = if (plantKind(id).contains("text")) raw(seed, id - BatchDocs + 1)._1 + " trailing variant" else body
    val vec = if (plantKind(id).contains("vector")) raw(seed, id - BatchDocs + 2)._2 else emb
    val fph = if (plantKind(id).contains("fingerprint")) raw(seed, id - BatchDocs + 3)._3 ^ 1L else fp
    Row(id, text, fph, vec.toSeq)
  }

  final class Batch(val index: Int, val rows: java.util.List[Row]) {
    def ids: Seq[Long] = (0 until rows.size()).map(i => rows.get(i).getLong(0))
    def df(spark: SparkSession): DataFrame = spark.createDataFrame(rows, schema)
  }

  /** The docs a batch should admit: all but its plants, except text
    * plants that LSH cannot see. A text plant is a candidate only when
    * its MinHash signature shares a band with its source's; graft's
    * hash family leaves a few percent of these 0.95-jaccard pairs with
    * no shared band, so which plants those are is taken from graft's
    * own banding of the plant and its source. Every candidate verifies,
    * since the exact jaccard (0.95) is far above the threshold. */
  def survivors(spark: SparkSession, seed: Long, b: Batch): Set[Long] = {
    import spark.implicits._
    val textPlants = b.ids.filter(id => plantKind(id).contains("text"))
    val pairs = textPlants.map(p => p -> (p - BatchDocs + 1))
    val texts = pairs.flatMap { case (p, src) => Seq(p, src) }.distinct
      .map(id => (id, doc(seed, id).getString(1))).toDF("doc_id", "text")
    val bands = Dedup.lshBandIndex(texts, "text", "doc_id", config.params.numHashes,
      config.params.bands, config.params.shingleWidth, config.params.portableHash)
      .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(r => (r.get(1), r.get(2))).toSet }
    val unseen = pairs.collect { case (p, src) if (bands(p) & bands(src)).isEmpty => p }.toSet
    b.ids.filter(id => plantKind(id).isEmpty || unseen.contains(id)).toSet
  }

  /** Batch `b` holds docs `b * BatchDocs` on, `batches` batches' worth. */
  def batch(seed: Long, b: Int, batches: Int = 1): Batch = {
    val lo = b.toLong * BatchDocs
    new Batch(b, java.util.Arrays.asList((lo until lo + batches * BatchDocs).map(doc(seed, _)): _*))
  }

  def config: IngestConfig = IngestConfig(
    minQuality = 0.0, minTokens = 1, threshold = 0.35,
    // 8 bands of 2 rows, so nearly every planted pair shares a band
    params = DedupParams(numHashes = 16, bands = 8),
    vecCol = Some("embedding"), vecThreshold = 0.95, vecBits = 16,
    fpCol = Some("fph"), fpMaxHamming = 2, fpBands = 4, fpBits = 64)

  private def admittedIds(r: Option[IngestResult]): Set[Long] =
    r.map(_.admitted.select("doc_id").collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

  /** The batch admitted exactly its expected survivors; returns them. */
  private def checkAdmitted(ctx: Ctx, b: Batch, got: Set[Long]): Set[Long] = {
    val want = survivors(ctx.spark, ctx.seed, b)
    ctx.check(got == want, s"batch ${b.index}: admitted ${got.size} docs, expected ${want.size} " +
      s"(missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
    want
  }

  /** Batches in a closed loop from `from` on until `seconds` have
    * passed; returns the phase, each batch with the ids it admitted, and
    * the next unissued batch. */
  private def phase(ctx: Ctx, d: IngestDaemon, dir: Path, from: Int,
      seconds: Double): (Phase, Seq[(Batch, Set[Long])], Int) = {
    val samples = new Samples
    val done = scala.collection.mutable.ArrayBuffer.empty[(Batch, Set[Long])]
    var failed = 0L
    var busyNs = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var next = from
    while (System.nanoTime() < deadline) {
      val b = batch(ctx.seed, next)
      val t0 = System.nanoTime()
      try {
        val r = ctx.call("streaming.batch", next.toLong, Seq(dir))(d.processBatch(s"b${b.index}", b.df(ctx.spark)))
        val dt = System.nanoTime() - t0
        samples.add("batch", dt / 1e6)
        busyNs += dt
        done += ((b, admittedIds(r)))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"batch ${b.index} failed: $e")
      }
      next += 1
    }
    (new Phase(samples, next - from, failed, busyNs / 1e9), done.toSeq, next)
  }

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.freshDir("daemon")
    val (seeded, buildMs) = Timer.ms {
      val d = IngestDaemon.open(ctx.spark, dir.toString, config)
      val corpus = batch(ctx.seed, 0, CorpusBatches)
      (corpus, admittedIds(d.processBatch("b0", corpus.df(ctx.spark))))
    }
    // set-up as an operator restarting the daemon pays it: open it over
    // the standing corpus and confirm where it left off
    val opens = (1 to SetupReps).map { _ =>
      Timer.ms {
        val d = IngestDaemon.open(ctx.spark, dir.toString, config)
        ctx.check(d.appliedVersion("b0").isDefined, "corpus batch not applied")
        d
      }
    }
    val daemon = opens.last._1

    var next = CorpusBatches
    val ingested = scala.collection.mutable.ArrayBuffer(seeded)
    val (plain, traced) = ctx.phases {
      val (p, done, n) = phase(ctx, daemon, dir, next, ctx.seconds.toDouble)
      ingested ++= done
      next = n
      p
    }
    val admitted = ingested.flatMap { case (b, r) => checkAdmitted(ctx, b, r) }.toSet
    val corpus = daemon.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.check(corpus == admitted, s"corpus holds ${corpus.size} docs, expected ${admitted.size}")
    ctx.check(daemon.checkConsistency().isEmpty, "daemon checkConsistency reported problems")

    val p50 = Stats.median(plain.samples("batch"))
    val docsPerS = plain.samples("batch").size * BatchDocs / plain.seconds
    Outcome(
      setupS = opens.map(_._2 / 1000.0),
      attempted = plain.attempted,
      failed = plain.failed,
      metrics = Seq(
        ("op_p50_ms", p50, "ms"),
        ("throughput_per_s", docsPerS, "1/s")),
      layers = traced.map(t => Map(
        "bench.trace_overhead_frac" -> (Stats.median(t.samples("batch")) / p50 - 1.0))).getOrElse(Map.empty),
      notes = Seq(
        f"standing corpus of ${CorpusBatches * BatchDocs} docs built in ${buildMs / 1000}%.1f s " +
          "(before set-up)",
        f"batch n=${plain.samples("batch").size} daemon_batch_p50_s = ${p50 / 1000}%.3f s",
        f"daemon_docs_per_s = $docsPerS%.1f 1/s")
    )
  }
}
