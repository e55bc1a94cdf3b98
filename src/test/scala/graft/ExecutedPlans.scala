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

  /** `body` with every store probe scored in Spark (the gather path),
    * whatever its probed bytes — where the executed-plan pins hold.
    */
  def onSpark[T](body: => T): T =
    graft.operators.StoreProbe.withDriverByteBudget(-1L)(body)

  /** `body` with every store probe decoded and scored on the driver. */
  def onDriver[T](body: => T): T =
    graft.operators.StoreProbe.withDriverByteBudget(Long.MaxValue)(body)

  def executed[T](body: => T): (T, Executed) = {
    val sc = spark.sparkContext
    def name(tag: String) = s"executed_${tag}_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val (begin, end) = (name("begin"), name("end"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs, bare = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var plansBegun, jobsBegun, endStarted = false
    def marks(qe: QueryExecution, m: String) = qe.analyzed.output.exists(_.name == m)
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (marks(qe, begin)) plansBegun = true
        else if (marks(qe, end)) done.countDown()
        else if (plansBegun) plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val jobStarts = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(begin) != null)) jobsBegun = true
        else if (props.exists(_.getProperty(end) != null)) endStarted = true
        else if (jobsBegun && !endStarted) {
          jobs.incrementAndGet()
          if (props.forall(_.getProperty("spark.sql.execution.id") == null))
            bare.incrementAndGet()
        }
      }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(m, "1")
      try spark.range(1).selectExpr(s"id AS $m").collect()
      finally sc.setLocalProperty(m, null)
    }
    spark.listenerManager.register(queries)
    sc.addSparkListener(jobStarts)
    try {
      // marker queries around the call: listener queues are ordered, so
      // what a listener sees between the two markers' events is exactly
      // what the call ran — not an earlier call's events still queued
      // when the listeners were added
      marker(begin)
      val r = body
      marker(end)
      done.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      val until = System.nanoTime() + 30000000000L
      while (!endStarted && System.nanoTime() < until) Thread.sleep(5)
      endStarted shouldBe true
      import scala.jdk.CollectionConverters._
      (r, Executed(plans.asScala.toSeq, jobs.get(), bare.get()))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobStarts)
    }
  }
}
