package graft

import graft.config.Yaml
import org.apache.spark.sql.SparkSession

/** Orchestration (§3.3; reference orchestrated.py:154-439 + retry_policy
  * .py:23-105): schedules = cron XOR interval_seconds per job, executed
  * with retry/backoff. Dagster itself is not ported — the Spark-native
  * shape is a driver scheduling loop over a long-lived SparkSession (one
  * JVM, no per-run process spawn), with the same RetryPolicy semantics.
  */
object Orchestrator {

  /** config.py:1070-1097: exactly one of cron / interval_seconds. */
  final case class Schedule(
      name: String,
      jobPath: String,
      intervalSeconds: Option[Long],
      cron: Option[String],
      retry: JobRunner.RetryPolicy) {
    require(intervalSeconds.isDefined ^ cron.isDefined,
      s"schedule '$name': exactly one of cron / interval_seconds")
  }

  /** Minimal 5-field cron matcher (minute hour dom month dow): `*`,
    * lists, ranges `a-b`, and steps `*`/n — steps are anchored at each
    * field's minimum (cron's `*`/2 for day-of-month fires on 1,3,5,…,
    * not even days; minute/hour fields are 0-based so the anchor is 0).
    */
  def cronMatches(cron: String, t: java.time.LocalDateTime): Boolean = {
    val fields = cron.trim.split("\\s+")
    require(fields.length == 5, s"bad cron: $cron")
    def ok(spec: String, value: Int, fieldMin: Int): Boolean =
      spec.split(",").exists { part =>
        part match {
          case "*" => true
          case s if s.startsWith("*/") =>
            (value - fieldMin) % s.drop(2).toInt == 0
          case s if s.contains("-") =>
            val Array(a, b) = s.split("-", 2)
            value >= a.toInt && value <= b.toInt
          case s => s.toInt == value
        }
      }
    val dow = t.getDayOfWeek.getValue % 7 // Sunday = 0
    ok(fields(0), t.getMinute, 0) && ok(fields(1), t.getHour, 0) &&
      ok(fields(2), t.getDayOfMonth, 1) && ok(fields(3), t.getMonthValue, 1) &&
      // Vixie cron accepts Sunday as both 0 and 7 (e.g. ranges '5-7')
      (ok(fields(4), dow, 0) || (dow == 0 && ok(fields(4), 7, 0)))
  }

  /** Next fire time strictly after `from`. Interval schedules fire every
    * n seconds; cron schedules at the next matching minute.
    */
  def nextRun(s: Schedule, from: java.time.LocalDateTime): java.time.LocalDateTime =
    s.intervalSeconds match {
      case Some(n) => from.plusSeconds(n)
      case None =>
        var t = from.plusMinutes(1).withSecond(0).withNano(0)
        var guard = 0
        while (!cronMatches(s.cron.get, t) && guard < 527040) { // ≤ 1 year
          t = t.plusMinutes(1); guard += 1
        }
        t
    }

  /** Load a runner config (config.py:1108-1159 shape). */
  def loadSchedules(path: String): Seq[Schedule] =
    Yaml.seq(Yaml.loadFile(path), "schedules").collect {
      case m: Map[String, Any] @unchecked =>
        val retry = Yaml.map(m, "retry_config")
        Schedule(
          name = Yaml.str(m, "name").getOrElse("schedule"),
          jobPath = Yaml.str(m, "job_path").getOrElse(
            throw new IllegalArgumentException("schedule missing job_path")),
          intervalSeconds = Yaml.str(m, "interval_seconds").map(_.toDouble.toLong),
          cron = Yaml.str(m, "cron"),
          retry = JobRunner.RetryPolicy(
            maxRetries = Yaml.str(retry, "max_retries").map(_.toDouble.toInt).getOrElse(3),
            initialDelayMs = Yaml.str(retry, "initial_delay_seconds")
              .map(s => (s.toDouble * 1000).toLong).getOrElse(5000L),
            multiplier = Yaml.str(retry, "multiplier").map(_.toDouble).getOrElse(2.0),
            maxDelayMs = Yaml.str(retry, "max_delay_seconds")
              .map(s => (s.toDouble * 1000).toLong).getOrElse(300000L)))
    }

  /** Top-level runner-config concurrency knob — the reference DECLARES
    * `concurrency_per_tenant` (config.py:1100-1105) but acknowledges it
    * unenforced (orchestrated.py:344-354); here it feeds [[tick]]'s
    * `concurrency`. Absent → 1 (sequential, reference behavior).
    */
  def loadConcurrency(path: String): Int =
    Yaml.str(Yaml.loadFile(path), "concurrency_per_tenant")
      .map(_.toDouble.toInt).getOrElse(1)

  /** Schedule-level dispatch: a schedule's `job_path` names either an
    * ingestion job (JobRunner YAML) or a STORE BUILD (BuildIndex YAML,
    * recognized by shape — [[BuildIndex.isIndexConfig]]), completing
    * the build-as-config-verb boundary: "offline, whole-corpus,
    * cadence-driven" is exactly what a schedule exists to run, so the
    * orchestrator must be able to run one without a wrapper job.
    *
    * Retry semantics for builds — classification by CAUSE, not just
    * exception surface:
    *  - [[graft.core.DataNotReadyException]] (input exists but has no
    *    rows yet): the upstream ingestion job hasn't landed — a
    *    TRANSIENT state, retried under the schedule's backoff so the
    *    build succeeds within the tick once data arrives.
    *  - Any other [[IllegalArgumentException]] is a CONFIG error —
    *    retrying replays the same refusal, so it fails once, loudly,
    *    without burning the backoff budget.
    *  - An [[org.apache.spark.sql.AnalysisException]] for a MISSING
    *    input path is indistinguishable from a path typo and also
    *    fails once (previously it burned the full backoff budget on
    *    every tick); other AnalysisExceptions and I/O failures retry
    *    like a job would.
    * The backoff arithmetic is [[JobRunner.retryLoop]] — the same loop
    * the job path runs, not a duplicate.
    */
  def runScheduled(spark: SparkSession, path: String,
      retry: JobRunner.RetryPolicy,
      sleep: Long => Unit = Thread.sleep,
      log: String => Unit = m => System.err.println(s"[graft] $m")): Int =
    if (!BuildIndex.isIndexConfig(path))
      JobRunner.runWithRetry(spark, path, retry, sleep = sleep, log = log)
        .exitCode
    else {
      def attempt(): (Int, Boolean) =
        try {
          val r = BuildIndex.run(spark, path)
          log(s"index build kind=${r.kind} store=${r.store} rows=${r.rows}")
          (graft.core.ExitCodes.Success, false)
        } catch {
          case e: graft.core.DataNotReadyException =>
            log(s"index build input not ready (retrying): ${e.getMessage}")
            (graft.core.ExitCodes.Failure, true)
          case e @ (_: IllegalArgumentException | graft.core.PathNotFound(_)) =>
            log(s"index build config error (not retried): ${e.getMessage}")
            (graft.core.ExitCodes.Failure, false)
          case e: Exception =>
            log(s"index build attempt failed: ${e.getMessage}")
            (graft.core.ExitCodes.Failure, true)
        }
      JobRunner.retryLoop(retry, sleep)(attempt _) { case (rc, retryable) =>
        retryable && retry.retryableExitCodes.contains(rc)
      }._1
    }

  /** One scheduling tick: run every schedule whose next-run time has
    * arrived; returns updated next-run times. Pure w.r.t. the clock so
    * tests drive it with a virtual one (orchestrated.py's loop, minus
    * the daemon).
    *
    * `concurrency` bounds how many due schedules run at once (default 1 =
    * sequential, the reference's behavior — its `concurrency_per_tenant`
    * knob is acknowledged unenforced at orchestrated.py:344-354). With
    * N > 1, due jobs run on a fixed pool of N driver threads, each tagged
    * with a Spark fair-scheduler pool; the returned sequence keeps
    * schedule order either way. A job that throws maps to exit 2 rather
    * than killing the tick.
    */
  def tick(
      spark: SparkSession,
      due: Seq[(Schedule, java.time.LocalDateTime)],
      now: java.time.LocalDateTime,
      runJob: (SparkSession, String, JobRunner.RetryPolicy) => Int =
        (s, p, r) => runScheduled(s, p, r),
      concurrency: Int = 1
  ): Seq[(Schedule, java.time.LocalDateTime, Option[Int])] = {
    require(concurrency >= 1, s"concurrency must be >= 1: $concurrency")
    def exec(sched: Schedule): Int =
      try runJob(spark, sched.jobPath, sched.retry)
      catch { case _: Exception => graft.core.ExitCodes.Failure }
    if (concurrency == 1 || due.count { case (_, at) => !now.isBefore(at) } <= 1)
      due.map { case (sched, at) =>
        if (!now.isBefore(at)) (sched, nextRun(sched, now), Some(exec(sched)))
        else (sched, at, None)
      }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
      try {
        val futures = due.map { case (sched, at) =>
          if (!now.isBefore(at))
            Left(pool.submit(new java.util.concurrent.Callable[Int] {
              def call(): Int = {
                spark.sparkContext.setLocalProperty(
                  "spark.scheduler.pool", s"graft-sched-${sched.name}")
                try exec(sched)
                finally spark.sparkContext
                  .setLocalProperty("spark.scheduler.pool", null)
              }
            }) -> sched)
          else Right((sched, at))
        }
        futures.map {
          case Left((f, sched)) => (sched, nextRun(sched, now), Some(f.get()))
          case Right((sched, at)) => (sched, at, None)
        }
      } finally pool.shutdown()
    }
  }
}
