package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting from outside the engine, through Spark's own
  * channels only: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for the planning phases and the executed
  * plan's SQL and DSv2 custom metrics, and the JVM's GC beans. Counters
  * are cumulative; a workload reads them around each operation with
  * [[window]] and sums windows per operation kind. Installed only in a
  * traced run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val c = TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)

  private val jobStart = TrieMap.empty[Int, Long]
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val stageTasks = TrieMap.empty[Int, ConcurrentLinkedQueue[Long]]
  private val stagesDone = new ConcurrentLinkedQueue[(Long, Int)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(s => jobSpans.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      stagesDone.add((e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
        e.stageInfo.stageId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
      stageTasks.getOrElseUpdate(e.stageId, new ConcurrentLinkedQueue[Long])
        .add(e.taskInfo.duration)
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("queries", 1)
      val ph = qe.tracker.phases
      add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
      add("optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
      add("planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
      nodes(qe.executedPlan).foreach {
        case b: BatchScanExec if b.metrics.contains("cdcEventsDecoded") =>
          add("cdc_events_decoded", b.metrics("cdcEventsDecoded").value)
          add("cdc_rows_emitted", b.metrics("cdcRowsEmitted").value)
          add("cdc_files_pruned", b.metrics("cdcFilesPruned").value)
          add("cdc_files_read", b.inputPartitions.length)
        case f: FileSourceScanExec =>
          add("file_rows", f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
          add("file_files", f.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  def close(): Unit = {
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def snapshot(): Snap = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    Snap(System.currentTimeMillis(),
      c.map { case (k, v) => k -> v.get }.toMap + ("gc_ms" -> gcMs))
  }

  /** Milliseconds of [w0, w1] (wall clock) during which a job ran. */
  def jobCoveredMs(w0: Long, w1: Long): Long = {
    val spans = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Runs `f` between two snapshots; the window's counters, driver gap
    * and widest-stage skew go to `acc`. */
  def window[T](acc: Acc)(f: => T): T = {
    val a = snapshot()
    val (w0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val r = f
    val (w1, n1) = (System.currentTimeMillis(), System.nanoTime())
    val b = snapshot()
    val wallMs = (n1 - n0) / 1e6
    acc.ops += 1
    acc.wallMs += wallMs
    b.counters.foreach { case (k, v) => acc.sum(k) = acc.sum(k) + (v - a.counters.getOrElse(k, 0L)) }
    // driver gap: the operation's wall minus the union of job spans in it
    acc.gapMs += math.max(0.0, wallMs - jobCoveredMs(w0, w1))
    val stages = stagesDone.asScala.filter { case (t, _) => t >= w0 && t <= b.wallMs }
      .map(_._2).toSeq
    val widest = stages.flatMap(s => stageTasks.get(s).map(q => q.asScala.toSeq))
      .filter(_.nonEmpty).sortBy(-_.length).headOption
    widest.foreach { ts =>
      val med = Stats.median(ts.map(_.toDouble))
      if (med > 0) acc.skews += ts.max / med
    }
    r
  }
}

object Tracer {
  final case class Snap(wallMs: Long, counters: Map[String, Long])

  /** Sums of one operation kind's windows. */
  final class Acc {
    var ops = 0L
    var wallMs = 0.0
    var gapMs = 0.0
    val sum = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val skews = scala.collection.mutable.ArrayBuffer.empty[Double]
    def perOp(k: String): Double = if (ops == 0) 0.0 else sum(k).toDouble / ops
  }

  /** Every node of an executed plan, through adaptive and reused stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** The Spark-layer metrics common to every workload, per operation,
    * from the summed windows of the operations the workload names. */
  def sparkLayers(accs: Seq[Acc]): Seq[Metric] = {
    val ops = accs.map(_.ops).sum.toDouble
    def per(k: String): Double = if (ops == 0) 0.0 else accs.map(_.sum(k)).sum / ops
    val skews = accs.flatMap(_.skews)
    Seq(
      Metric("spark.plan.analysis_ms", per("analysis_ms")),
      Metric("spark.plan.optimization_ms", per("optimization_ms")),
      Metric("spark.plan.planning_ms", per("planning_ms")),
      Metric("spark.jobs", per("jobs")),
      Metric("spark.stages", per("stages")),
      Metric("spark.tasks", per("tasks")),
      Metric("spark.driver_gap_ms",
        if (ops == 0) 0.0 else accs.map(_.gapMs).sum / ops),
      Metric("spark.task_run_ms", per("task_run_ms")),
      Metric("spark.task_cpu_ms", per("task_cpu_ns") / 1e6),
      Metric("spark.gc_ms", per("gc_ms")),
      Metric("spark.shuffle_read_bytes", per("shuffle_read_bytes")),
      Metric("spark.shuffle_write_bytes", per("shuffle_write_bytes")),
      Metric("spark.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews)))
  }

  /** Scan-layer metrics (binlogcdc DSv2 custom metrics), per operation. */
  def scanLayers(accs: Seq[Acc]): Seq[Metric] = {
    val ops = accs.map(_.ops).sum.toDouble
    def per(k: String): Double = if (ops == 0) 0.0 else accs.map(_.sum(k)).sum / ops
    val decoded = per("cdc_events_decoded")
    Seq(
      Metric("sources.scan.events_decoded", decoded),
      Metric("sources.scan.rows_emitted", per("cdc_rows_emitted")),
      Metric("sources.scan.files_read", per("cdc_files_read")),
      Metric("sources.scan.files_pruned", per("cdc_files_pruned")),
      Metric("sources.scan.selectivity",
        if (decoded == 0) 0.0 else per("cdc_rows_emitted") / decoded))
  }
}
