package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.{Pipeline, Tables}
import graft.config.PipelineConfig

/** End-to-end benchmark of the copy, resume, validation and S3-export
  * workloads (see `run.py` for how it is built and launched).
  *
  * One process, one closed-loop client: iterations run back to back on a
  * single `local[k]` session built by the program's own `Tables.session`.
  * The first iterations warm the JVM and are not timed; the steady
  * iterations that follow fill `--seconds`.
  *
  * Times that are gated are thread CPU times: the CPU the program's Java
  * threads spent (driver, scheduler and task threads; not the JIT's
  * compiler threads or the GC's workers). On a shared virtual machine
  * wall time follows the neighbours: over ten runs of copy_resume on a
  * 4-CPU VM, the steady iterations' wall time ranged over a factor of
  * 1.7 and their thread CPU time over a factor of 1.25. Wall times are
  * still reported, by the traced run.
  *
  *  - `--trace 0` reports the end-to-end metrics: rows_per_cpu_s,
  *    iter_cpu_p50_s, setup_s and peak_rss_mb.
  *  - `--trace 1` alternates traced and untraced iterations and reports
  *    per-layer medians over the traced ones, with the tracing overhead
  *    measured against the untraced ones in the same process.
  *
  * The last stdout line is one JSON object: correct, attempted, failed
  * and metrics.
  */
object Main {
  private val SetupReps = 5
  /** Warm-up runs at least `WarmUp` iterations and at least
    * `WarmUpSeconds`: the JIT keeps making iterations cheaper for the
    * first five or so, and the measured CPU times differ from run to run
    * by how far it got (a warm-up that ended 36 s after the JVM started
    * left them 35% apart on a slow host). It stops early once the JVM
    * has been up `WarmDeadlineS`, so that a run on a host running it at
    * half speed still ends within about 75 s. (A deadline of 45 s cut the
    * warm-up of validate_export to two iterations in three runs of ten
    * on a slow host, and those runs read 20-35% above the others.)
    */
  private val WarmUp = 4
  private val WarmUpSeconds = 20
  private val WarmDeadlineS = 55
  private val MinSteady = 3
  private val MaxSteady = 200

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, corrupt: Boolean)

  private def parseArgs(argv: Array[String]): Args = {
    val flags = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = flags.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val name = need("--workload")
    Args(
      Workloads.byName(name).getOrElse(throw new IllegalArgumentException(
        s"unknown workload $name (one of ${Workloads.all.map(_.name).mkString(", ")})")),
      need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      Paths.get(need("--work")).toAbsolutePath, flags.get("--corrupt").contains("1"))
  }

  /** Result of one iteration. `layers` is filled only when traced.
    * `failed` is `errors.nonEmpty`, except under `--corrupt`: there every
    * part's output is damaged, and the iteration counts as failed only if
    * the check of every part of the workload reported an error.
    */
  final case class IterResult(wallS: Double, cpuS: Double, errors: Seq[String], failed: Boolean,
                              traced: Boolean, layers: Map[String, Double], gcS: Double,
                              heapLiveMb: Double)

  /** One set-up: wall seconds of its three steps, and its thread CPU. */
  final case class Setup(sessionS: Double, configS: Double, schemaS: Double, cpuS: Double)

  // ------------------------------------------------------------ metrics

  /** Per-layer metrics in output order, with units. `<layer>.wall_s` is
    * the span around the call when the benchmark makes the call itself,
    * else the union of the wall intervals of the jobs attributed to the
    * layer. Values are medians over the traced iterations, so counts are
    * per iteration; a layer that does not run in a workload reports 0.
    */
  private val LayerMetrics: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.config_s" -> "s", "setup.schema_s" -> "s",
    "pipeline.read.wall_s" -> "s", "pipeline.read.jobs" -> "count",
    "pipeline.read.files_listed" -> "count",
    "pipeline.write.wall_s" -> "s", "pipeline.write.jobs" -> "count",
    "pipeline.write.tasks" -> "count", "pipeline.write.task_cpu_s" -> "s",
    "pipeline.write.out_mb" -> "MiB", "pipeline.write.files_out" -> "count",
    "pipeline.write.rows_recopied_ratio" -> "ratio",
    "savepoints.dumps" -> "count", "savepoints.bytes" -> "bytes", "savepoints.load_s" -> "s",
    "sources.compaction.wall_s" -> "s", "sources.compaction.jobs" -> "count",
    "sources.compaction.rewrite_ratio" -> "ratio",
    "sources.stats_index.wall_s" -> "s", "sources.stats_index.jobs" -> "count",
    "validation.diff.wall_s" -> "s", "validation.diff.jobs" -> "count",
    "validation.diff.tasks" -> "count", "validation.diff.task_cpu_s" -> "s",
    "validation.diff.shuffle_mb" -> "MiB",
    "validation.refine.wall_s" -> "s", "validation.refine.jobs" -> "count",
    "validation.refine.shuffle_mb" -> "MiB",
    "validation.sampled.wall_s" -> "s", "validation.sampled.jobs" -> "count",
    "validation.sampled.rows_read_per_compared" -> "ratio",
    "sources.ddb_export.write.wall_s" -> "s", "sources.ddb_export.write.jobs" -> "count",
    "sources.ddb_export.write.task_cpu_s" -> "s", "sources.ddb_export.write.out_mb" -> "MiB",
    "sources.ddb_export.read.wall_s" -> "s", "sources.ddb_export.read.jobs" -> "count",
    "sources.ddb_export.read.tasks" -> "count", "sources.ddb_export.read.task_cpu_s" -> "s",
    "validation.items.wall_s" -> "s", "validation.items.jobs" -> "count",
    "validation.items.task_cpu_s" -> "s", "validation.items.shuffle_mb" -> "MiB",
    "unattributed.jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count", "spark.driver_only_s" -> "s", "spark.job_wall_s" -> "s",
    "spark.task_busy_s" -> "s", "spark.slot_idle_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_live_mb" -> "MiB",
    "harness.iter_wall_p50_s" -> "s", "harness.rows_per_wall_s" -> "1/s",
    "harness.first_iter_s" -> "s", "harness.iter_cpu_tail_s" -> "s",
    "harness.iter_tail_pct" -> "%", "harness.iterations" -> "count",
    "harness.host_spin_s" -> "s",
    "harness.trace_overhead" -> "ratio",
    "harness.error_rate" -> "ratio")

  /** Layers jobs can be attributed to (spans of other names are not). */
  private val LayerNames: Set[String] = Set("pipeline.read", "pipeline.write", "savepoints",
    "sources.compaction", "sources.stats_index", "validation.diff", "validation.refine",
    "validation.sampled", "sources.ddb_export.write", "sources.ddb_export.read",
    "validation.items")

  private val MiB = 1024.0 * 1024.0

  /** One traced iteration's per-layer values. */
  private def layerValues(it: Iteration, spans: Map[String, Double], work: IterWork,
                          wallS: Double, cores: Int): Map[String, Double] = {
    val generic = LayerNames.toSeq.flatMap { l =>
      val w = work.layers.get(l)
      def sum(f: LayerWork => Double) = w.map(f).getOrElse(0.0)
      Seq(
        s"$l.wall_s" -> spans.getOrElse(l, sum(_.wallS)),
        s"$l.jobs" -> sum(_.jobs.toDouble), s"$l.tasks" -> sum(_.tasks.toDouble),
        s"$l.task_cpu_s" -> sum(_.taskCpuS), s"$l.shuffle_mb" -> sum(_.shuffleBytes / MiB),
        s"$l.out_mb" -> sum(_.outBytes / MiB))
    }.toMap
    generic ++ it.census(spans, work) ++ Map(
      "unattributed.jobs" -> work.layers.get("unattributed").map(_.jobs.toDouble).getOrElse(0.0),
      "spark.jobs" -> work.jobs.toDouble, "spark.stages" -> work.stages.toDouble,
      "spark.tasks" -> work.tasks.toDouble, "spark.failed_tasks" -> work.failedTasks.toDouble,
      "spark.driver_only_s" -> math.max(0.0, wallS - work.jobWallS),
      "spark.job_wall_s" -> work.jobWallS, "spark.task_busy_s" -> work.taskBusyS,
      "spark.slot_idle_s" -> math.max(0.0, work.jobWallS * cores - work.taskBusyS))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ------------------------------------------------------------- host

  /** A fixed single-thread CPU loop: how fast this host ran today.
    * Reported only; it never rescales a metric.
    */
  private def hostSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 0L) System.err.println("spin degenerate")
    s
  }

  /** CPU time of every live Java thread, by thread id. The JIT's
    * compiler threads and the GC's workers are not Java threads, so they
    * are not in it; on a virtual machine the kernel leaves out time the
    * host stole from the CPU.
    */
  private def threadCpu(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  }

  /** Seconds of thread CPU spent since `before` (threads started since
    * count in full; threads that ended since are lost, and are few:
    * Spark keeps its pools' threads alive between back-to-back jobs).
    */
  private def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Drop what an iteration left in the session (cached and
    * checkpointed blocks) and on disk, then collect garbage: the next
    * iteration starts from the same state.
    */
  private def release(spark: SparkSession, dir: Path): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    Inputs.deleteTree(dir)
    System.gc()
  }

  private def session(cores: Int): SparkSession = {
    val s = Tables.session("e2ebench", cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = a.workload
    val cores = Runtime.getRuntime.availableProcessors
    val spin = hostSpin()
    Inputs.deleteTree(a.work)
    val inputs = Files.createDirectories(a.work.resolve("inputs"))

    val tStart = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[e2ebench] ${w.name} $what at ${(System.nanoTime() - tStart) / 1e9}%.1f s")
    var spark = session(cores)
    phase("session")
    w.generate(spark, inputs, a.seed)
    phase("inputs generated")

    // set-up as a fresh Migrate/Validate pays it, several times; each
    // repetition builds a new session and discovers a freshly linked source
    val setups = (0 until SetupReps).map { r =>
      spark.stop()
      val dir = a.work.resolve(s"setup$r")
      Inputs.link(inputs, dir)
      val cpu0 = threadCpu()
      val t0 = System.nanoTime()
      spark = session(cores)
      val t1 = System.nanoTime()
      val cfg = PipelineConfig.parse(w.setupConfig(dir))
        .fold(e => throw new IllegalArgumentException(e), identity)
      val t2 = System.nanoTime()
      Pipeline.read(spark, cfg).schema
      val t3 = System.nanoTime()
      val cpuS = threadCpuSince(cpu0)
      Inputs.deleteTree(dir)
      Setup((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, cpuS)
    }
    val sc = spark.sparkContext
    val listener = new LayerListener
    val spans = new Spans

    def runOne(i: Int, traced: Boolean): IterResult = {
      val dir = a.work.resolve(s"it$i")
      Inputs.link(inputs, dir)
      val it = w.iteration(spark, dir)
      if (traced) { sc.addSparkListener(listener); listener.reset(spark) }
      spans.reset()
      spans.tagJobs = traced
      val gc0 = gcSeconds()
      val cpu0 = threadCpu()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ran = Try(it.run(spans))
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val gcS = gcSeconds() - gc0
      val cpuS = threadCpuSince(cpu0)
      val work = if (traced) Some(listener.snapshot(spark, startMs, endMs, LayerNames)) else None
      if (traced) sc.removeSparkListener(listener)
      val errors = ran match {
        case Failure(e) => Seq(s"iteration threw $e")
        case Success(_) =>
          if (a.corrupt) it.corrupt()
          Try(it.check()).fold(e => Seq(s"${w.name}: check threw $e"), identity)
      }
      val layers = work.filter(_ => ran.isSuccess)
        .map(wk => layerValues(it, spans.seconds, wk, wallS, cores)).getOrElse(Map.empty)
      release(spark, dir)
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
      errors.foreach(e => System.err.println(s"[e2ebench] ${w.name} iteration $i: $e"))
      System.err.println(
        f"[e2ebench] ${w.name} iteration $i traced=$traced wall=$wallS%.3f s cpu=$cpuS%.3f s")
      val failed =
        if (a.corrupt) w.parts.forall(p => errors.exists(_.startsWith(s"$p: ")))
        else errors.nonEmpty
      IterResult(wallS, cpuS, errors, failed, traced, layers, gcS, heap)
    }

    phase("set up")
    // only the first warm-up iteration is reported, as harness.first_iter_s
    val warm = scala.collection.mutable.ArrayBuffer[IterResult]()
    val jvm = ManagementFactory.getRuntimeMXBean
    val warmStart = System.nanoTime()
    while (warm.isEmpty || ((warm.size < WarmUp ||
             System.nanoTime() - warmStart < WarmUpSeconds * 1000000000L) &&
           jvm.getUptime < WarmDeadlineS * 1000L))
      warm += runOne(warm.size, traced = false)
    val first = warm.head
    phase("warmed up")
    val steady = scala.collection.mutable.ArrayBuffer[IterResult]()
    val loopStart = System.nanoTime()
    while (steady.size < MinSteady ||
           (System.nanoTime() - loopStart < a.seconds * 1000000000L && steady.size < MaxSteady)) {
      // traced and untraced alternate in ABBA order, so a drift over the
      // run does not bias the tracing overhead
      val k = steady.size
      steady += runOne(warm.size + k, traced = a.trace && (k % 4 == 0 || k % 4 == 3))
    }
    val rss = peakRssMb()
    phase("measured")
    spark.stop()
    Inputs.deleteTree(a.work)

    val all = (warm ++ steady).toSeq
    val failed = all.count(_.failed)
    /** Source rows per second of `time` over the iterations that passed. */
    def rowsPer(rs: Seq[IterResult], time: IterResult => Double): Double = {
      val ok = rs.filter(_.errors.isEmpty)
      if (ok.isEmpty) 0.0 else w.sourceRows * ok.size / ok.map(time).sum
    }
    val untraced = steady.filter(r => !r.traced && r.errors.isEmpty).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("rows_per_cpu_s", rowsPer(untraced, _.cpuS), "1/s"),
        ("iter_cpu_p50_s", median(untraced.map(_.cpuS)), "s"),
        ("setup_s", median(setups.map(_.cpuS)), "s"),
        ("peak_rss_mb", rss, "MiB"))
      else {
        val traced = steady.filter(r => r.traced && r.errors.isEmpty).toSeq
        val sorted = steady.map(_.cpuS).sorted
        // the highest percentile with at least ten samples beyond it
        val tailIdx = math.max(0, sorted.size - 11)
        val harness = Map(
          "setup.session_s" -> median(setups.map(_.sessionS)),
          "setup.config_s" -> median(setups.map(_.configS)),
          "setup.schema_s" -> median(setups.map(_.schemaS)),
          "jvm.gc_s" -> median(traced.map(_.gcS)),
          "jvm.heap_live_mb" -> median(traced.map(_.heapLiveMb)),
          "harness.iter_wall_p50_s" -> median(untraced.map(_.wallS)),
          "harness.rows_per_wall_s" -> rowsPer(untraced, _.wallS),
          "harness.first_iter_s" -> first.wallS,
          "harness.iter_cpu_tail_s" -> sorted(tailIdx),
          "harness.iter_tail_pct" -> 100.0 * (tailIdx + 1) / sorted.size,
          "harness.iterations" -> steady.size.toDouble,
          "harness.host_spin_s" -> spin,
          "harness.trace_overhead" -> Workloads.ratio(
            rowsPer(untraced, _.wallS), rowsPer(traced, _.wallS)),
          "harness.error_rate" -> failed.toDouble / all.size)
        LayerMetrics.map { case (name, unit) =>
          (name, harness.getOrElse(name, median(traced.map(_.layers.getOrElse(name, 0.0)))), unit)
        }
      }

    metrics.foreach { case (n, v, u) => println(f"[e2ebench] ${w.name} $n = $v%.6g $u") }
    println(s"[e2ebench] ${w.name} iterations=${steady.size} (+${warm.size} warm-up) failed=$failed " +
      s"first_iter_s=${first.wallS} host_spin_s=$spin")
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }
}
