package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one call ran in Spark: the executed physical plan of every SQL
  * execution it finished, the Spark jobs it started and how many of
  * those carried no SQL execution id. A store probe answers when it is
  * called and returns a local relation, so its scans show here, not in
  * the plan of the frame it returns.
  */
final case class Executed(plans: Seq[SparkPlan], jobs: Int, bareJobs: Int) {
  /** Every executed plan rendered, the form pattern assertions match. */
  def planString: String = plans.map(_.toString).mkString("\n")

  /** Physical nodes of every plan, inside adaptive query stages too (a
    * final adaptive plan counted once, not with its initial plan).
    */
  def nodes: Seq[SparkPlan] =
    plans.flatMap(p => Executed.stages.collect(p) { case n => n })

  /** Nodes whose name contains `name` (`Exchange` also matches
    * `BroadcastExchange`).
    */
  def count(name: String): Int = nodes.count(_.nodeName.contains(name))

  /** Every parquet scan, including the scans that built a cache read. */
  def scans: Seq[FileSourceScanExec] = {
    def in(p: SparkPlan): Seq[FileSourceScanExec] =
      Executed.stages.collect(p) {
        case f: FileSourceScanExec => Seq(f)
        case m: InMemoryTableScanExec => in(m.relation.cachedPlan)
      }.flatten
    plans.flatMap(in)
  }

  /** The same executions with each adaptive plan as it was planned:
    * adaptive execution may replace a subtree whose shuffle came back
    * empty, scan and all, in the final plan.
    */
  def initial: Executed = copy(plans = plans.map {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  })

  /** Root directories of every parquet scan. */
  def scanRoots: Seq[org.apache.hadoop.fs.Path] =
    scans.flatMap(_.relation.location.rootPaths)
}

object Executed {
  private object stages extends AdaptiveSparkPlanHelper
}

/** [[executed]]: run a call with a `QueryExecutionListener` and a
  * `SparkListener` registered around it alone.
  */
trait ExecutedPlans { self: SparkSpec =>

  def executed[T](body: => T): (T, Executed) = {
    val sc = spark.sparkContext
    val marker = s"executed_marker_${java.util.UUID.randomUUID().toString
      .replace("-", "")}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs, bare = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerStarted = false
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val jobStarts = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(marker) != null)) markerStarted = true
        else if (!markerStarted) {
          jobs.incrementAndGet()
          if (props.forall(_.getProperty("spark.sql.execution.id") == null))
            bare.incrementAndGet()
        }
      }
    }
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobStarts)
    try {
      val r = body
      // a marker query after the call: once its end and its job start
      // are seen, every earlier execution end and job start has been
      // delivered (listener queues are ordered)
      sc.setLocalProperty(marker, "1")
      try spark.range(1).selectExpr(s"id AS $marker").collect()
      finally sc.setLocalProperty(marker, null)
      done.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      val until = System.nanoTime() + 30000000000L
      while (!markerStarted && System.nanoTime() < until) Thread.sleep(5)
      markerStarted shouldBe true
      import scala.jdk.CollectionConverters._
      (r, Executed(plans.asScala.toSeq, jobs.get(), bare.get()))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobStarts)
    }
  }
}
