package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed and run length, a
  * scratch directory, and the tracer when the run is traced. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val work: Path,
    val tracer: Option[Tracer]
) {
  private var dirs = 0

  /** A fresh empty directory under the run's scratch space. */
  def freshDir(tag: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(s"$tag-$dirs"))
  }

  /** Spans are recorded only while this is set; a traced run first
    * times each phase untraced, then again traced. */
  @volatile var tracing: Boolean = false

  /** Run one call into a graft layer, as a span when tracing. */
  def call[A](name: String, op: Long, dirs: Seq[Path] = Nil)(f: => A): A =
    tracer match {
      case Some(t) if tracing => t.span(name, op, dirs)(f)
      case _ => f
    }

  def returned(rows: Long): Unit = if (tracing) tracer.foreach(_.returned(rows))

  /** Run `phase` once untraced and, in a traced run, once more traced;
    * returns the untraced and traced results. */
  def phases[A](phase: => A): (A, Option[A]) = {
    val plain = phase
    val traced = tracer.map { t =>
      tracing = true
      try t.window(phase) finally tracing = false
    }
    (plain, traced)
  }

  // ---- correctness ----
  private val wrong = mutable.ArrayBuffer.empty[String]

  /** Record a wrong answer; the run then reports `correct: false`. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) wrong.synchronized {
      if (wrong.size < 20) System.err.println(s"CHECK FAILED: $what")
      wrong += what
    }

  def failures: Seq[String] = wrong.synchronized(wrong.toList)
}

/** Latencies of one timed phase, by kind, in ms. */
final class Phase(
    val samples: Samples,
    val attempted: Long,
    val failed: Long,
    val seconds: Double,
    /** open loops: how late the generator issued its latest op */
    val lateMaxMs: Double = 0.0,
    /** closed loops: ops completed per second */
    val rate: Double = 0.0
)

/** What a workload returns. `setupS` holds one entry per set-up
  * repetition; `metrics` are the end-to-end metrics after `setup_s`. */
final case class Outcome(
    setupS: Seq[Double],
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    /** per-layer metrics only the workload can compute (traced runs) */
    layers: Map[String, Double],
    /** human-readable lines printed before the result */
    notes: Seq[String]
)

object Timer {
  def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
