package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer call seen from outside: the benchmark wraps each call into
  * graft in a span. Spark work and process I/O are attributed to the
  * span that was open on the calling thread when they started. */
final class Span(
    val id: Long,
    val parent: Long,
    val op: Long,
    val name: String,
    val thread: String,
    val startNs: Long
) {
  @volatile var endNs: Long = 0L
  // filled by the listeners (listener-bus thread) and the span itself
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var wcharBytes: Long = 0L
  var rcharBytes: Long = 0L
  var filesAdded: Long = 0L
  var bytesAdded: Long = 0L
  var rowsReturned: Long = 0L

  def durMs: Double = (endNs - startNs) / 1e6

  /** Wall time inside the span not covered by any of its Spark jobs. */
  def driverMs: Double = {
    val startMs = Tracer.nanoToEpochMs(startNs)
    val endMs = Tracer.nanoToEpochMs(endNs)
    val covered = Tracer.unionLength(jobIntervals.synchronized(jobIntervals.toList)
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) })
    math.max(0.0, durMs - covered)
  }
}

/** Spans kept in memory and written out when the run ends, plus the
  * listeners that attribute Spark jobs, stages, tasks, planning time and
  * streaming progress to them. Only a traced run creates one. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  /** Every task's run time, attributed or not, for the busy fraction. */
  private val allTaskMs = new AtomicLong
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  /** Streaming progress of the live tail: (rows, trigger, addBatch,
    * latestOffset) per micro-batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  def span[A](name: String, op: Long, dirs: Seq[Path] = Nil)(f: => A): A = {
    val stack = current.get()
    val parent = stack.headOption
    val s = new Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(0L),
      op, name, Thread.currentThread().getName, System.nanoTime())
    spans.put(s.id, s)
    val sc = spark.sparkContext
    current.set(s :: stack)
    sc.setLocalProperty(SpanProp, s.id.toString)
    val (r0, w0) = procIo()
    val (f0, b0) = if (dirs.isEmpty) (0L, 0L) else walk(dirs)
    try f
    finally {
      s.endNs = System.nanoTime()
      val (r1, w1) = procIo()
      s.rcharBytes = r1 - r0
      s.wcharBytes = w1 - w0
      if (dirs.nonEmpty) {
        val (f1, b1) = walk(dirs)
        s.filesAdded = f1 - f0
        s.bytesAdded = b1 - b0
      }
      current.set(stack)
      sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  /** Record how many rows or entries the innermost open span returned. */
  def returned(rows: Long): Unit =
    current.get().headOption.foreach(_.rowsReturned += rows)

  def all: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Block until the listener bus has delivered every event posted so
    * far: a marker job's end is seen only after all earlier events. */
  def drain(): Unit = {
    val group = s"$MarkerPrefix${nextId.getAndIncrement()}"
    val latch = new CountDownLatch(1)
    markers.put(group, latch)
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, null)
    sc.setJobGroup(group, "trace drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty(SpanProp, saved)
    }
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
    markers.remove(group)
  }

  /** Wall time, summed task time and GC time of the traced phases. */
  @volatile var windowMs = 0.0
  @volatile var windowTaskMs = 0L
  @volatile var windowGcMs = 0L

  @volatile private var recording = false

  def window[A](f: => A): A = {
    drain()
    val task0 = allTaskMs.get
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    recording = true
    try f
    finally {
      windowMs += (System.nanoTime() - t0) / 1e6
      drain()
      recording = false
      windowTaskMs += allTaskMs.get - task0
      windowGcMs += gcMs() - gc0
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      jobStartMs.put(e.jobId, e.time)
      props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .flatMap(id => Option(spans.get(id))).foreach { s =>
          jobSpan.put(e.jobId, s)
          e.stageIds.foreach(st => stageSpan.put(st, s))
          s.jobs.incrementAndGet()
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStartMs.remove(e.jobId))
      for (s <- Option(jobSpan.remove(e.jobId)); t0 <- start)
        s.jobIntervals.synchronized(s.jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      allTaskMs.addAndGet(m.executorRunTime)
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        s.taskMs.addAndGet(m.executorRunTime)
        s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        s.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val markerListener = new SparkListener {
    private val markerJobs = new ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(MarkerPrefix)).foreach(g => markerJobs.put(e.jobId, g))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(e.jobId)).flatMap(g => Option(markers.get(g))).foreach(_.countDown())
  }

  /** Successful SQL executions while recording: (epoch ms planning
    * started, planning ms, execution ms). The listener runs on the
    * listener bus, so executions are matched to spans by time. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double)]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          executions.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble,
            durationNs / 1e6))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
      progress.add((e.progress.numInputRows, ms("triggerExecution"), ms("addBatch"),
        ms("latestOffset")))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.sparkContext.addSparkListener(markerListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Spans as JSON lines. */
  def writeSpans(path: Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "name" -> Json.str(s.name), "thread" -> Json.str(s.thread),
        "start_ms" -> Json.num((s.startNs - t0Ns) / 1e6), "dur_ms" -> Json.num(s.durMs),
        "jobs" -> Json.num(s.jobs.get), "stages" -> Json.num(s.stages.get),
        "tasks" -> Json.num(s.tasks.get), "task_ms" -> Json.num(s.taskMs.get),
        "driver_ms" -> Json.num(s.driverMs),
        "shuffle_bytes" -> Json.num(s.shuffleBytes.get),
        "spill_bytes" -> Json.num(s.spillBytes.get),
        "input_bytes" -> Json.num(s.inputBytes.get),
        "input_records" -> Json.num(s.inputRecords.get),
        "rchar_bytes" -> Json.num(s.rcharBytes), "wchar_bytes" -> Json.num(s.wcharBytes),
        "files_added" -> Json.num(s.filesAdded),
        "bytes_added" -> Json.num(s.bytesAdded), "rows_returned" -> Json.num(s.rowsReturned)
      ))
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Per span name: calls, total ms, and self ms — the span minus the
    * time its child spans and its own Spark jobs cover. */
  def selfTimeSummary: Seq[(String, Int, Double, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (nanoToEpochMs(k.startNs), nanoToEpochMs(k.endNs)))
        val jobs = s.jobIntervals.synchronized(s.jobIntervals.toList)
        val s0 = nanoToEpochMs(s.startNs)
        val s1 = nanoToEpochMs(s.endNs)
        val covered = unionLength((kids ++ jobs)
          .map { case (a, b) => (math.max(a, s0), math.min(b, s1)) })
        math.max(0.0, s.durMs - covered)
      }.sum
      (name, ss.size, ss.map(_.durMs).sum, self)
    }.sortBy(-_._4)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val MarkerPrefix = "perfbench-drain-"

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  // one clock: epoch ms for listener times, derived from nanoTime here
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def nanoToEpochMs(ns: Long): Long = t0EpochMs + (ns - t0Ns) / 1000000L

  /** Total length of the union of intervals (empty ones ignored). */
  def unionLength(xs: Seq[(Long, Long)]): Double = {
    val sorted = xs.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Bytes this process has read and written through read(2) and
    * write(2) so far (rchar, wchar of /proc/self/io); zeros where the
    * file does not exist. */
  def procIo(): (Long, Long) =
    try {
      val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
        .map(_.split(":")).collect { case Array(k, v) => k.trim -> v.trim.toLong }.toMap
      (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** (files, bytes) under the given directories. */
  def walk(dirs: Seq[Path]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    dirs.filter(Files.exists(_)).foreach { d =>
      Files.walkFileTree(d, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) { files += 1; bytes += a.size() }
          java.nio.file.FileVisitResult.CONTINUE
        }
        // a file renamed or deleted by a concurrent commit mid-walk
        override def visitFileFailed(p: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    }
    (files, bytes)
  }
}
