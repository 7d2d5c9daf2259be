package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its result as JSON.
  *
  * Usage: perfbench.Main --workload NAME --seed N --trace 0|1 --work DIR
  *   --out FILE
  *
  * Set-up (session start, and the seeded inputs written three times with
  * the median taken) is timed as `setup_s`. [[WarmupOps]] operations run
  * untimed, then [[TimedOps]] are timed, each preceded by untimed hygiene
  * (clear caches, release tracked caches, unpersist leftovers, remove the
  * previous operation's output) and followed by its untimed output check.
  * A fixed count of operations, not a time budget, keeps every run on the
  * same point of the JIT's warm-up.
  * With `--trace 1` traced and untraced operations alternate and the
  * per-layer metrics are reported instead of the end-to-end ones.
  */
object Main {

  /** End-to-end metrics (tracing off): name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "cpu_s" -> "s")

  /** Per-layer metrics (tracing on): name -> unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "kmeans.init_s" -> "s", "kmeans.iterations" -> "count", "kmeans.step_p50_s" -> "s",
    "kmeans.step_plan_s" -> "s", "kmeans.step_codegen_s" -> "s",
    "kmeans.step_exec_s" -> "s", "kmeans.step_task_cpu_s" -> "s",
    "kmeans.step_shuffle_write_bytes" -> "bytes", "kmeans.cache_fill_s" -> "s",
    "kmeans.driver_gap_s" -> "s", "kmeans.quantizer_fit_s" -> "s",
    "kmeans.assign_cells_s" -> "s", "kmeans.assign_cells_nearest_s" -> "s",
    "sim.build_s" -> "s", "sim.index_write_s" -> "s",
    "sim.build_shuffle_write_bytes" -> "bytes", "sim.build_task_cpu_s" -> "s",
    "sim.search_p50_s" -> "s", "sim.search_qps" -> "queries/s", "sim.search_plan_s" -> "s",
    "sim.search_exec_s" -> "s", "sim.search_records_read" -> "rows",
    "sim.recall_at_10" -> "fraction",
    "text.analyze_s" -> "s", "dedup.exact_s" -> "s", "dedup.near_s" -> "s",
    "text.leakage_s" -> "s", "text.source_cap_s" -> "s", "text.pack_s" -> "s",
    "pipeline.rows_quality" -> "rows", "pipeline.rows_exact" -> "rows",
    "pipeline.rows_near" -> "rows", "pipeline.rows_decontam" -> "rows",
    "pipeline.rows_capped" -> "rows", "pipeline.rows_packed" -> "rows",
    "pipeline.plan_s" -> "s", "pipeline.driver_gap_s" -> "s",
    "pipeline.task_cpu_s" -> "s", "pipeline.shuffle_write_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.peak_storage_mb" -> "MB",
    "trace.overhead_s" -> "s", "trace.coverage" -> "fraction")

  /** Timed operations per run. */
  val TimedOps = 3

  /** Untimed operations before the timed ones. */
  val WarmupOps = 1

  final case class Opts(
      workload: String, seed: Long, trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("trace") == "1", get("work"), get("out"))
  }

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Time the JIT compiler threads have spent compiling, in ns. */
  private def jitNs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L

  /** Time spent in garbage collection so far, in ns. */
  private def gcNs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum * 1000000L

  private def loadAvg(): String =
    try Json.arr(Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).toSeq)
    catch { case NonFatal(_) => "[]" }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val wl = Workloads.byName(opts.workload).getOrElse {
      System.err.println(s"unknown workload ${opts.workload}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    val plans = new PlanTimes
    spark.listenerManager.register(plans)
    val ctx = new Ctx(spark, opts.seed, opts.work, counters, plans)
    try run(wl, ctx, opts, sessionS)
    finally spark.stop()
  }

  private def run(wl: Workload, ctx: Ctx, opts: Opts, sessionS: Double): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val load0 = loadAvg()
    val runStart = System.nanoTime()
    val phases = ArrayBuffer.empty[(String, Double)]
    def phase(name: String): Unit = phases += name -> (System.nanoTime() - runStart) / 1e9
    var storageWaits = 0

    // ---- set-up: inputs generated and written three times, median kept
    val setups = (1 to 3).map { _ =>
      deleteRecursively(opts.work)
      val t0 = System.nanoTime()
      wl.generate(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(setups)
    phase("setup")
    val hash = wl.inputsHash(ctx)
    wl.prepare(ctx)
    phase("prepare")

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      graft.util.OpCaches.releaseAll(spark)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      wl.reset(ctx)
      var waited = 0
      Listeners.drain(sc)
      while (ctx.counters.stored > 0 && waited < 100) {
        Thread.sleep(20)
        waited += 1
        storageWaits += 1
        Listeners.drain(sc)
      }
      ctx.counters.takePeak()
    }

    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer.empty[String]
    final case class Sample(wall: Double, cpu: Double, peakBytes: Long, jit: Double, gc: Double)

    /** One operation: hygiene, the timed call, then its untimed check. */
    def once(body: => Check, counted: Boolean): Option[Sample] = {
      hygiene()
      ctx.counted = counted
      val cpu0 = cpuNs()
      val jit0 = jitNs()
      val gc0 = gcNs()
      val t0 = System.nanoTime()
      val outcome =
        try Right(body)
        catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // the JIT compiler's threads are the JVM's cost, not the program's
      val jit = (jitNs() - jit0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9 - jit
      val gc = (gcNs() - gc0) / 1e9
      Listeners.drain(sc)
      val peak = ctx.counters.takePeak()
      val problem = outcome.fold(Some(_), check =>
        try check() catch { case NonFatal(e) => Some(s"check threw $e") })
      if (counted) {
        attempted += 1
        problem.foreach { p => failed += 1; failures += p }
      }
      if (problem.isEmpty) Some(Sample(wall, cpu, peak, jit, gc)) else None
    }

    // ---- warm-up, untimed: a fixed number of operations. The JIT keeps
    // compiling for far longer than a run can afford, so instead of waiting
    // for steady walls every run (and both commits of a comparison) times
    // the same operations of the same warm-up curve.
    val warm = ArrayBuffer.empty[Double]
    (1 to WarmupOps).foreach(_ => once(wl.op(ctx), counted = false).foreach(warm += _.wall))

    phase("warmup")
    // ---- timed operations
    val tracedOps = if (opts.trace) math.max(1, TimedOps / 2) else 0
    val samples = ArrayBuffer.empty[Sample]
    val tracer = new Tracer(sc)
    val traced = ArrayBuffer.empty[Sample]
    Listeners.drain(sc)
    val totals0 = ctx.counters.total.snapshot
    // with tracing on, traced and untraced operations alternate, so the
    // two walls see the same JIT and cache state
    var untracedRuns = 0
    var tracedRuns = 0
    while (untracedRuns < TimedOps || tracedRuns < tracedOps) {
      if (tracedRuns < tracedOps && (tracedRuns < untracedRuns || untracedRuns == TimedOps)) {
        tracedRuns += 1
        once(wl.tracedOp(ctx, tracer), counted = true).foreach(traced += _)
      } else {
        untracedRuns += 1
        once(wl.op(ctx), counted = true).foreach(samples += _)
      }
    }
    if (samples.isEmpty || (opts.trace && traced.isEmpty)) throw new IllegalStateException(
      s"${wl.name}: every operation failed: ${failures.headOption.getOrElse("")}")
    phase("timed")
    // ---- checks made outside the JVM (each counted operation's output)
    hygiene()
    val external = wl.externalChecks(ctx)

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) {
        Seq(
          ("setup_s", setupS, "s"),
          ("op_s", Stats.median(samples.map(_.wall).toSeq), "s"),
          ("cpu_s", Stats.median(samples.map(_.cpu).toSeq), "s"))
      } else {
        Listeners.drain(sc)
        val spans = tracer.spans
        val roots = spans.filter(_.parent < 0)
        val measured = roots.filter(_.name == wl.measuredRoot)
        // run-wide counters per operation (traced and untraced alike)
        val n = (samples.size + traced.size).toDouble
        val t = ctx.counters.total.snapshot
        val common = Map(
          "spark.jobs" -> (t.jobs - totals0.jobs) / n,
          "spark.tasks" -> (t.tasks - totals0.tasks) / n,
          "spark.gc_s" -> (t.gcMs - totals0.gcMs) / 1e3 / n,
          "spark.spill_bytes" -> (t.spillBytes - totals0.spillBytes) / n,
          "spark.peak_storage_mb" ->
            Stats.median((samples ++ traced).map(_.peakBytes.toDouble).toSeq) / (1 << 20),
          "trace.overhead_s" -> (Stats.median(measured.map(_.seconds)) -
            Stats.median(samples.map(_.wall).toSeq)),
          "trace.coverage" -> Stats.median(roots.filter(r => spans.exists(_.parent == r.id))
            .map(SelfTime.coverage(spans, _))))
        val all = common ++ wl.layers(ctx, spans)
        PerLayer.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
      }

    if (opts.trace) {
      Files.createDirectories(Paths.get(opts.work))
      Files.write(Paths.get(opts.work, "trace.jsonl"),
        tracer.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val info = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(opts.seed),
      "params" -> Json.obj(wl.describe), "inputs_hash" -> Json.str(hash),
      "session_s" -> Json.num(sessionS), "setup_reps_s" -> Json.arr(setups.map(x => Json.num(x))),
      "warmup_s" -> Json.arr(warm.toSeq.map(x => Json.num(x))),
      "op_walls_s" -> Json.arr(samples.toSeq.map(s => Json.num(s.wall))),
      "op_cpu_s" -> Json.arr(samples.toSeq.map(s => Json.num(s.cpu))),
      "op_jit_s" -> Json.arr(samples.toSeq.map(s => Json.num(s.jit))),
      "op_gc_s" -> Json.arr(samples.toSeq.map(s => Json.num(s.gc))),
      "traced_walls_s" -> Json.arr(traced.toSeq.map(s => Json.num(s.wall))),
      "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
      "phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "storage_waits" -> Json.num(storageWaits.toLong),
      "failures" -> Json.arr(failures.toSeq.take(5).map(Json.str))))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> Json.num(attempted.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj(metrics.map { case (name, v, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }),
      "external_checks" -> Json.arr(external),
      "info" -> info))
    Files.writeString(Paths.get(opts.out), result + "\n")
  }
}
