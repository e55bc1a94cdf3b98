package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only JIT/codegen attribution probe (guide §1: measure first).
  *
  * The r21 driver bench measured `ann_neardup_forced` spending ~4 s of
  * JVM JIT time inside EVERY rep (not just the first), i.e. fresh
  * generated classes are being compiled per repetition. This probe
  * runs named queries N reps in one session — the bench's own
  * clearCache + GC protocol — and prints, per rep: wall seconds, JVM
  * JIT ms, and the Janino compilation count/time deltas from Spark's
  * CodegenMetrics, plus the generated-class bytecode bytes. A nonzero
  * Janino delta on rep ≥ 2 means the codegen cache missed (distinct
  * source text per rep, or cache eviction past
  * spark.sql.codegen.cache.maxEntries=100).
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.JitProbe <sfDir> <cpus> <reps> <q1,q2>[ <cacheMaxEntries>]"
  */
object JitProbe {
  private def jitMs: Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1)
    val reps = args(2).toInt
    val names = args(3).split(",").filter(_.nonEmpty).toSeq
    val cacheEntries = if (args.length > 4) Some(args(4)) else None
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    cacheEntries.foreach(n => b.config("spark.sql.codegen.cache.maxEntries", n))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    val m = org.apache.spark.metrics.source.CodegenMetrics
    // per-rep job/stage/task attribution: sums of job wall, counts —
    // the gap between rep wall and Σjob wall is driver-side work
    // (analysis/optimization/codegen) plus between-job latency
    val jobWall = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    // boxed values: a Scala Long map unboxes a missing key to 0L, so a
    // job whose start was missed would add its epoch-ms end time
    val jobStart =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStart.put(e.jobId, e.time); jobs.incrementAndGet()
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStart.remove(e.jobId)
          if (s != null) jobWall.addAndGet(e.time - s.longValue)
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
      })
    val all = graft.SparkEntry.queries ++ graft.Queries.benchOnly
    names.foreach { n =>
      val fn = all(n)
      println(s"== $n ==")
      (1 to reps).foreach { rep =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val jit0 = jitMs
        val jan0 = m.METRIC_COMPILATION_TIME.getCount
        val janMs0 = java.util.concurrent.TimeUnit.NANOSECONDS.toMillis(
          m.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum) // per-compile ns values; snapshot only
        val src0 = m.METRIC_SOURCE_CODE_SIZE.getCount
        val bc0 = m.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
        val (jw0, jb0, st0, tk0) =
          (jobWall.get(), jobs.get(), stages.get(), tasks.get())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the async listener bus drain
        println(f"rep $rep: wall=$wall%.2fs jit=${jitMs - jit0}ms " +
          s"janinoCompiles=${m.METRIC_COMPILATION_TIME.getCount - jan0} " +
          s"sources=${m.METRIC_SOURCE_CODE_SIZE.getCount - src0} " +
          s"classes=${m.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - bc0} " +
          f"jobWall=${(jobWall.get() - jw0) / 1e3}%.2fs " +
          s"jobs=${jobs.get() - jb0} stages=${stages.get() - st0} " +
          s"tasks=${tasks.get() - tk0} " +
          s"(cumJanino=${m.METRIC_COMPILATION_TIME.getCount}, janMs0=$janMs0)")
      }
    }
    spark.stop()
  }
}
