package e2ebench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the calls the benchmark makes into the program. In traced
  * iterations a span's name is also set as a Spark local property while it
  * is open: the last resort for attributing a job whose call site names no
  * layer (see [[LayerListener.snapshot]]).
  */
final class Spans {
  private val durations = mutable.LinkedHashMap[String, Long]()
  /** Set the local property only in traced iterations, so untraced ones
    * ship exactly the task properties a plain program run ships.
    */
  var tagJobs = false

  def apply[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Attribution.SpanProperty)
    if (tagJobs) sc.setLocalProperty(Attribution.SpanProperty, name)
    val t0 = System.nanoTime()
    try body
    finally {
      durations(name) = durations.getOrElse(name, 0L) + (System.nanoTime() - t0)
      if (tagJobs) sc.setLocalProperty(Attribution.SpanProperty, prev)
    }
  }

  /** Record an interval measured by the caller (e.g. up to a hook). */
  def add(name: String, nanos: Long): Unit =
    durations(name) = durations.getOrElse(name, 0L) + nanos

  def seconds: Map[String, Double] = durations.map { case (k, v) => k -> v / 1e9 }.toMap
  def reset(): Unit = durations.clear()
}

/** Maps a Spark job to the program module that issued it. */
object Attribution {
  val SpanProperty = "e2ebench.span"

  /** Layer of one call-site frame (`pkg.Class$.method(File.scala:N)`),
    * or None for frames that name no layer: helpers shared by all
    * layers (`Checkpoints`, `Par`), the benchmark itself, and anything
    * outside the program.
    */
  def ofFrame(frame: String): Option[String] = {
    val qual = frame.takeWhile(_ != '(')
    val dot = qual.lastIndexOf('.')
    if (dot < 0 || !qual.startsWith("graft.")) return None
    val cls = qual.substring(0, dot)
    val method = qual.substring(dot + 1)
    def under(p: String) = cls == p || cls.startsWith(p + "$") || cls.startsWith(p + ".")
    if (under("graft.Pipeline")) {
      if (method.contains("write")) Some("pipeline.write")
      else if (method.contains("read") || method.contains("sideInput")) Some("pipeline.read")
      else None
    }
    else if (under("graft.sources.Compaction")) Some("sources.compaction")
    else if (under("graft.sources.FileStatsIndex")) Some("sources.stats_index")
    else if (under("graft.sources.ParquetSource") || under("graft.sources.KeyedReads") ||
             under("graft.Tables")) Some("pipeline.read")
    else if (under("graft.savepoints")) Some("savepoints")
    else if (under("graft.sources.v2.DdbExportSource")) Some("sources.ddb_export.read")
    else if (under("graft.sources.DdbTables")) {
      if (method.contains("writeS3Export")) Some("sources.ddb_export.write")
      else if (method.contains("readS3Export") || method.contains("listDataFiles"))
        Some("sources.ddb_export.read")
      else Some("validation.items")
    }
    else if (under("graft.validation.HashRefinement")) Some("validation.refine")
    else if (under("graft.validation.Diff")) {
      if (method.contains("sampleFailures")) Some("validation.refine")
      else if (method.contains("sampledDiff")) Some("validation.sampled")
      else Some("validation.diff")
    }
    else None
  }

  /** First frame of a call site (Spark's long form: innermost user frame
    * first) that names a layer.
    */
  def ofCallSite(details: String): Option[String] =
    details.linesIterator.map(_.trim).flatMap(ofFrame).nextOption()
}

/** Work of one job, summed over its tasks. */
final class JobWork(val callSiteLayer: Option[String],
                    val span: Option[String], val executionId: Option[String],
                    val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var shuffleBytes = 0L
}

/** Per-layer totals for one iteration. */
final case class LayerWork(jobs: Long, tasks: Long, wallS: Double, taskCpuS: Double,
                           inRecords: Long, outBytes: Long, outRecords: Long,
                           shuffleBytes: Long)

/** Scheduler-level totals for one iteration, plus the per-layer split. */
final case class IterWork(layers: Map[String, LayerWork], jobs: Long, stages: Long,
                          tasks: Long, failedTasks: Long, jobWallS: Double,
                          taskBusyS: Double)

/** Counts jobs, stages and tasks and attributes each job to a layer.
  * Callbacks run on the listener-bus thread; [[snapshot]] is read on the
  * benchmark thread after the bus is drained (outside the timed region,
  * through the program's own `GraftColumnBridge.waitForListenerBus`),
  * hence the lock.
  */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobWork]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private var stages = 0L
  /** SQL execution id -> (layer of the execution's call site, root id). */
  private val executions = mutable.HashMap[Long, (Option[String], Long)]()

  /** Spark runs adaptive query stages, and with them most jobs of a SQL
    * query, on its own threads; the execution's start event carries the
    * call site of the thread that ran the query.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) =
        (Attribution.ofCallSite(x.details), x.rootExecutionId.getOrElse(x.executionId))
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // the final stage carries the job's own call site; parents created
    // for this job carry their RDD's creation site (same thread)
    val callSite = e.stageInfos.sortBy(-_.stageId).iterator
      .flatMap(s => Attribution.ofCallSite(s.details)).nextOption()
    jobs(e.jobId) = new JobWork(callSite,
      props.flatMap(p => Option(p.getProperty(Attribution.SpanProperty))),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))), e.time)
    e.stageInfos.foreach(s => stageToJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runNs += m.executorRunTime * 1000000L
        j.cpuNs += m.executorCpuTime
        j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def reset(spark: SparkSession): Unit = {
    GraftColumnBridge.waitForListenerBus(spark)
    synchronized { jobs.clear(); stageToJob.clear(); executions.clear(); stages = 0L }
  }

  /** Drain the bus and total the iteration [startMs, endMs]. A job the
    * call site cannot place takes the layer of its SQL execution's call
    * site (or of its root execution's), then the layer of the span that
    * was open, and is otherwise `unattributed`; so per-layer job counts
    * always sum to the iteration's job count.
    */
  def snapshot(spark: SparkSession, startMs: Long, endMs: Long,
               layerNames: Set[String]): IterWork = {
    GraftColumnBridge.waitForListenerBus(spark)
    synchronized {
      val all = jobs.values.toSeq
      def ofExecution(id: Long): Option[String] = executions.get(id).flatMap {
        case (layer, root) => layer.orElse(if (root != id) ofExecution(root) else None)
      }
      def layerOf(j: JobWork): String =
        j.callSiteLayer
          .orElse(j.executionId.flatMap(x => ofExecution(x.toLong)))
          .orElse(j.span.filter(layerNames))
          .getOrElse("unattributed")
      def interval(j: JobWork): (Long, Long) =
        (math.max(j.startMs, startMs), math.min(if (j.endMs < 0) endMs else j.endMs, endMs))
      val layers = all.groupBy(layerOf).map { case (layer, js) =>
        layer -> LayerWork(
          jobs = js.size.toLong, tasks = js.map(_.tasks).sum,
          wallS = LayerListener.unionMs(js.map(interval)) / 1e3,
          taskCpuS = js.map(_.cpuNs).sum / 1e9,
          inRecords = js.map(_.inRecords).sum, outBytes = js.map(_.outBytes).sum,
          outRecords = js.map(_.outRecords).sum, shuffleBytes = js.map(_.shuffleBytes).sum)
      }
      IterWork(layers, all.size.toLong, stages, all.map(_.tasks).sum,
        all.map(_.failedTasks).sum, LayerListener.unionMs(all.map(interval)) / 1e3,
        all.map(_.runNs).sum / 1e9)
    }
  }
}

object LayerListener {
  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
