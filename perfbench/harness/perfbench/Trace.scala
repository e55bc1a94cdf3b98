package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run observes from outside the program: Spark
  * jobs with their call sites, stage and task metrics, query planning
  * phases, scan file counts and observed metrics. Records are raw; the
  * Python side turns them into per-layer metrics.
  */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  /** A job's call site is its SQL execution's when it has one: jobs that
    * adaptive execution and broadcasts start on pool threads carry the
    * execution id but a call site of the pool's own frames. `stack` is
    * the long form: the program frames of the calling thread. */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobStarts.put(e.jobId, Map("kind" -> "job", "id" -> e.jobId,
      "start_ms" -> e.time, "stages" -> e.stageIds,
      "site" -> prop("callSite.short").getOrElse(
        e.stageInfos.lastOption.map(_.name).getOrElse("")),
      "stack" -> prop("callSite.long").getOrElse(""),
      "execution" -> prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(j => events.add(j + ("end_ms" -> e.time)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      events.add(Map("kind" -> "execution", "id" -> s.executionId,
        "site" -> s.description, "stack" -> s.details))
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    val tasks = Option(taskMs.remove(s.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    events.add(Map("kind" -> "stage", "id" -> s.stageId, "name" -> s.name,
      "submit_ms" -> s.submissionTime.getOrElse(0L),
      "done_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
      "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
      "shuffle_read_b" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "shuffle_write_b" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill_b" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "input_b" -> m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      "task_ms" -> tasks))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add(query(funcName, qe))

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    events.add(query(funcName, qe) + ("error" -> String.valueOf(ex.getMessage)))

  private def query(funcName: String, qe: QueryExecution): Map[String, Any] = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    var files = 0L
    var fileBytes = 0L
    foreach(qe.executedPlan) { node =>
      node.metrics.get("numFiles").foreach(m => files += m.value)
      node.metrics.get("filesSize").foreach(m => fileBytes += m.value)
    }
    val observed = qe.observedMetrics.map { case (k, row) =>
      k -> (if (row.length > 0 && row.get(0).isInstanceOf[Number])
        row.get(0).asInstanceOf[Number].longValue() else -1L)
    }
    Map("kind" -> "query", "func" -> funcName, "phases" -> phases,
      "files" -> files, "file_bytes" -> fileBytes, "observed" -> observed)
  }

  /** Events delivered since the last call, oldest first. */
  private def take(spark: SparkSession): Seq[Map[String, Any]] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val out = Seq.newBuilder[Map[String, Any]]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.result()
  }

  /** Listen from now on; events still queued from earlier actions are
    * delivered first, to no one. */
  def attach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop listening; returns the events recorded since `attach`. */
  def detach(spark: SparkSession): Seq[Map[String, Any]] = {
    val out = take(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    jobStarts.clear()
    taskMs.clear()
    out
  }
}

/** JVM-wide counters read around a unit: GC and JIT time from the
  * MXBeans, Janino compiles from Spark's CodegenMetrics.
  */
object JvmCounters {
  private val compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  /** (compiles, compile ms). The ms figure sums the histogram's reservoir
    * (Spark records each compile in ms), exact while a run compiles fewer
    * classes than the reservoir holds (1028).
    */
  def codegen(): (Long, Long) = (compileTime.getCount, compileTime.getSnapshot.getValues.sum)

  def snapshot(): Map[String, Long] = {
    val (n, ms) = codegen()
    Map("gc_ms" -> gcMs, "jit_ms" -> jitMs, "codegen_compiles" -> n,
      "codegen_ms" -> ms)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Peak old-generation occupancy after any GC, from the GC notifications'
  * memory-usage-after-collection, while `armed`.
  */
object OldGenPeak extends NotificationListener {
  @volatile var armed = false
  @volatile private var peak = 0L

  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))
    .map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
    .foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (armed && n.getType ==
        com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, u) if oldPools(k) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Peak in bytes; falls back to the pools' last collection usage when no
    * GC ran while armed. */
  def peakBytes: Long = synchronized {
    if (peak > 0) peak
    else ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => oldPools(p.getName))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
}
