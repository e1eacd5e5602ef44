package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as one JSON object.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <result.json> --trace-dir <dir>
  * }}}
  *
  * `perfbench/run.py` builds the classpath and calls this; see
  * `perfbench/README.md`. */
object Main {
  /** Executor threads. Fixed rather than taken from the host, so task
    * counts and partition shapes are the same on every machine. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run: Ctx => Outcome = workload match {
      case "log_read_append" => LogReadAppend.run
      case "daemon_ingest" => DaemonIngest.run
      case other => sys.error(s"unknown workload '$other'")
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got '$t'")
    }
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = Paths.get(opt("out"))

    val spark = session(work)
    try {
      val ctx = new Ctx(spark, seed, seconds, work.resolve("data"),
        if (traced) Some(new Tracer(spark)) else None)
      val o = run(ctx)
      ctx.tracer.foreach { t =>
        t.drain()
        val dir = Files.createDirectories(Paths.get(opt("trace-dir")))
        t.writeSpans(dir.resolve("spans.jsonl"))
        val lines = f"${"span"}%-28s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"jobs"}%6s" +:
          t.selfTimeSummary.map { case (n, c, tot, self) =>
            f"$n%-28s $c%6d $tot%10.1f $self%10.1f ${t.named(n).map(_.jobs.get).sum}%6d"
          }
        Files.write(dir.resolve("selftime.txt"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        lines.foreach(l => println("   " + l))
      }
      report(workload, ctx, o, out)
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def report(workload: String, ctx: Ctx, o: Outcome, out: Path): Unit = {
    val heapMb = retainedHeapMb()
    val e2e = Seq(("setup_s", Stats.median(o.setupS), "s")) ++ o.metrics ++
      Seq(("retained_heap_mb", heapMb, "MB"))
    val layers = ctx.tracer.map(t => Layers.compute(t, o.layers)).getOrElse(Nil)
    val correct = ctx.failures.isEmpty
    println(s"== $workload seed=${ctx.seed} seconds=${ctx.seconds} traced=${ctx.tracer.isDefined} " +
      s"local[$Cores] heap=${Runtime.getRuntime.maxMemory() >> 20} MB")
    o.notes.foreach(n => println("   " + n))
    println(f"   setup reps: ${o.setupS.map(s => f"$s%.4f").mkString(" ")} s")
    println(f"   attempted=${o.attempted} failed=${o.failed} " +
      f"failed_op_frac=${o.failed.toDouble / math.max(1L, o.attempted)}%.4f")
    (e2e ++ layers).foreach { case (n, v, u) => println(f"   $n%-36s $v%16.4f $u") }
    println(s"   correct=$correct" + (if (correct) "" else s" (${ctx.failures.size} wrong answers)"))
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(o.attempted),
      "failed" -> Json.num(o.failed),
      "metrics" -> Json.obj((if (ctx.tracer.isDefined) layers else e2e).map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
    ))
    Files.write(out, json.getBytes("UTF-8"))
  }

  /** Live heap after full collections, in MB. Spark frees cached and
    * checkpointed blocks on its cleaner thread once a collection has
    * dropped their last reference, so the run collects, lets the cleaner
    * catch up, and collects again. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / 1048576.0
  }
}
