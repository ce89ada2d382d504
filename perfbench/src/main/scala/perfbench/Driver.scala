package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.io.PerfTracker

/** The hourly-pipeline benchmark: T ticks of the paper's system in one
  * JVM, as a closed loop (the next tick starts when the previous one has
  * finished, like cron runs that never overlap).
  *
  * Usage (normally through `perfbench/run.py`, which builds the classpath):
  *   perfbench.Driver --workload <hourly_search|daily_deep|churn_stream>
  *     --seed <n> --seconds <s> --trace <0|1> --cpus <N> --work <dir>
  *     --trace-dir <dir> --commit <id> --xmx <heap>
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * the per-layer metrics of a traced run. Either way the last stdout line
  * is one JSON object: {"correct", "attempted", "failed", "metrics"}.
  */
object Driver {
  def log(s: String): Unit = println(s"[perfbench] $s")

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU seconds used so far by every thread of this process. Time the
    * hypervisor gives to other guests is not counted, so on a shared host
    * it tracks the work a tick does where wall time tracks the neighbours. */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One tick's wall and process CPU seconds and the source rows it merged. */
  case class TickTime(wallS: Double, cpuS: Double, rows: Int)

  /** The process's high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: Path, traceDir: Path, commit: String, xmx: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("trace-dir")),
      need("commit"), need("xmx"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    Files.createDirectories(o.work)
    var spark = session(o.cpus, o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sizes = Workload.defaultSizes(o.workload)

    // set-up: generate the initial state and seed the master, once. It is
    // the JVM's first use of the generator, the parse path and the parquet
    // writer, and that first-use cost is part of what set-up measures.
    val t0 = now()
    val wl = Workload(o.workload, o.seed, sizes, o.work.resolve("state"))
    wl.seedMaster(spark)
    val seedS = secs(t0)
    val setupS = sessionS + seedS

    var failed = 0
    var attempted = 0
    /** One closed-loop tick: inputs (untimed), the tick (timed), the
      * output check (untimed). A tick that throws or fails the check
      * counts as failed. */
    def tick(t: Int, traced: Option[Tracer]): TickTime = {
      attempted += 1
      wl.prepare(spark, t)
      val c0 = cpuSeconds()
      val t0 = now()
      val ok = try {
        traced match {
          case Some(tr) => wl.traced(spark, t, tr)
          case None => wl.run(spark, t)
        }
        true
      } catch { case e: Exception =>
        log(s"tick $t threw: $e"); false
      }
      val s = secs(t0)
      val cpuS = cpuSeconds() - c0
      log(f"tick $t%d ${if (traced.isDefined) "traced" else "plain"}%s " +
        s"${Json.num(s)} s, ${Json.num(cpuS)} cpu s, ${wl.sourceRows} source rows")
      wl.commitTruth()
      val bad = if (ok) wl.check(spark) else Seq("tick threw")
      if (bad.nonEmpty) {
        failed += 1
        log(s"tick $t failed the check (${bad.size} differences): " +
          bad.take(3).mkString("; "))
      }
      TickTime(s, cpuS, wl.sourceRows)
    }

    var t = 0
    def loop(seconds: Double, minTicks: Int, traced: Option[Tracer]) = {
      val out = Seq.newBuilder[TickTime]
      val deadline = now() + (seconds * 1e9).toLong
      var n = 0
      while (n < minTicks || now() < deadline) {
        out += tick(t, traced)
        t += 1; n += 1
      }
      out.result()
    }

    val coldS = tick(t, None).wallS; t += 1
    // the published layout after one program tick (independent of how
    // many ticks fit in the run)
    val bytesPerRow = wl.masterBytes.toDouble / wl.truth.rows.size
    val stamp = new StringBuilder
    def ctx(extra: Seq[(String, String)]): String = {
      val fields = Seq(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
        "master" -> Json.str(s"local[${o.cpus}]"),
        "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
        "xmx" -> Json.str(o.xmx),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "commit" -> Json.str(o.commit), "trace" -> (if (o.trace) "1" else "0"),
        "seconds" -> Json.num(o.seconds),
        "load_start" -> Json.num(loadStart), "load_end" -> Json.num(loadAvg()),
        "sizes" -> Json.str(sizes.toString)) ++ extra
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }

    val warmup = loop(0, sizes.warmupTicks, None).size
    val metrics: Seq[(String, Double, String)] = if (!o.trace) {
      val warm = loop(o.seconds, 1, None)
      // wall-time figures are printed but not gated: on a shared host
      // they follow the neighbours' load (see tick_cpu_s)
      stamp ++= ctx(Seq("warmup_ticks" -> warmup.toString,
        "warm_ticks" -> warm.size.toString,
        "tick_p50_s" -> Json.num(median(warm.map(_.wallS))),
        "rows_per_s" -> Json.num(median(warm.map(w => w.rows / w.wallS))),
        "seed_master_s" -> Json.num(seedS),
        "session_s" -> Json.num(sessionS), "peak_rss_mb" -> Json.num(peakRssMb())))
      Seq(
        ("setup_s", setupS, "s"),
        ("tick_cpu_s", median(warm.map(_.cpuS)), "s"),
        ("master_bytes_per_row", bytesPerRow, "B/row"))
    } else ("cold_tick_s", coldS, "s") +:
      traceRun(o, () => spark, s => spark = s, loop, stamp, ctx, warmup)

    log("ctx " + stamp)
    log(f"${o.workload}%s  failed_ticks=$failed%d of $attempted%d attempted; " +
      (if (failed == 0) "output check: master matches the restatement"
       else "output check: FAILED"))
    metrics.foreach { case (k, v, u) => log(f"${o.workload}%s  $k%-28s ${Json.num(v)}%s $u%s") }
    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }

  /** The traced run, after the warm-up ticks: untraced ticks for half
    * the time (the reference median), traced ticks for the other half,
    * then one traced tick on a `local[1]` session as the per-layer scaling
    * reference. Per-layer values are medians over the traced ticks. */
  private def traceRun(o: Opts, spark: () => SparkSession,
      setSpark: SparkSession => Unit,
      loop: (Double, Int, Option[Tracer]) => Seq[TickTime],
      stamp: StringBuilder, ctx: Seq[(String, String)] => String, warmup: Int)
      : Seq[(String, Double, String)] = {
    val plainTicks = loop(o.seconds / 2, 2, None)
    val plain = plainTicks.map(_.wallS)
    val tr = new Tracer(PerfTracker.install(spark()), s"local[${o.cpus}]")
    val traced = loop(o.seconds / 2, 2, Some(tr)).map(_.wallS)
    spark().stop()
    setSpark(session(1, o.work))
    val tr1 = new Tracer(PerfTracker.install(spark()), "local[1]")
    val local1 = loop(0, 1, Some(tr1)).map(_.wallS)

    val ticks = tr.spans.filter(_.name == "tick")
    def perTick(name: String)(f: Span => Double): Double = {
      val vs = ticks.flatMap(tk => tr.spans.find(s => s.name == name && s.tick == tk.tick)).map(f)
      if (vs.isEmpty) 0.0 else median(vs)
    }
    def c(name: String, key: String) = perTick(name)(_.counters.getOrElse(key, 0.0))
    def self(name: String) = perTick(name)(tr.selfSeconds)
    val coverage = median(ticks.map(tk =>
      1 - tr.selfSeconds(tk) / tk.seconds))
    val file = o.traceDir.resolve(s"trace-${o.workload}-${o.seed}.jsonl")
    stamp ++= ctx(Seq("warmup_ticks" -> warmup.toString,
      "plain_ticks" -> plain.size.toString,
      "traced_ticks" -> traced.size.toString,
      "layer_coverage" -> Json.num(coverage), "spans" -> Json.str(file.toString)))
    tr.write(file, stamp.toString)
    tr1.write(file, stamp.toString)
    Seq(
      ("tick_p50_s", median(plain), "s"),
      ("rows_per_s", median(plainTicks.map(p => p.rows / p.wallS)), "rows/s"),
      ("parse.busy_s", self("parse"), "s"),
      ("parse.task_ms", c("parse", "task_ms"), "ms"),
      ("parse.pages", c("parse", "pages"), "count"),
      ("parse.rows_out", c("parse", "rows_out"), "count"),
      ("parse.kept_ratio", c("parse", "kept_ratio"), "ratio"),
      ("etl.busy_s", self("etl"), "s"),
      ("etl.task_ms", c("etl", "task_ms"), "ms"),
      ("merge.busy_s", self("merge"), "s"),
      ("merge.task_ms", c("merge", "task_ms"), "ms"),
      ("merge.tasks", c("merge", "tasks"), "count"),
      ("merge.rows_per_key", c("merge", "rows_per_key"), "rows/key"),
      ("merge.spill_bytes", c("merge", "spill_bytes"), "B"),
      ("merge.shuffle_bytes", c("merge", "shuffle_bytes"), "B"),
      ("merge.master_rows_in", c("merge", "master_rows_in"), "count"),
      ("merge.source_rows", c("merge", "source_rows"), "count"),
      ("merge.keys", c("merge", "keys"), "count"),
      ("pipeline.unpublish_s", self("pipeline.unpublish"), "s"),
      ("pipeline.unpublish_markers", c("pipeline.unpublish", "markers"), "count"),
      ("pipeline.views_s", self("pipeline.views"), "s"),
      ("pipeline.views_bytes", c("pipeline.views", "views_bytes"), "B"),
      ("io.publish_s", self("io.publish"), "s"),
      ("io.publish_task_ms", c("io.publish", "task_ms"), "ms"),
      ("io.publish_tasks", c("io.publish", "tasks"), "count"),
      ("io.bytes_written", c("io.publish", "bytes_written"), "B"),
      ("io.files_written", c("io.publish", "files_written"), "count"),
      ("streaming.add_batch_ms", c("streaming", "add_batch_ms"), "ms"),
      ("streaming.framework_ms", c("streaming", "framework_ms"), "ms"),
      ("streaming.wal_commit_ms", c("streaming", "wal_commit_ms"), "ms"),
      ("streaming.commit_offsets_ms", c("streaming", "commit_offsets_ms"), "ms"),
      ("jvm.gc_ms", c("tick", "gc_ms"), "ms"),
      ("jvm.peak_rss_mb", peakRssMb(), "MB"),
      ("trace.tick_s", median(traced), "s"),
      ("trace.overhead_s", median(traced) - median(plain), "s"),
      ("trace.unattributed_s", self("tick"), "s"),
      ("local1.tick_s", local1.head, "s"))
  }
}
