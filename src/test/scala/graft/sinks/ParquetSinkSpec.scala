package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  test("estimate: bytes/row from a sample written on the OUTPUT filesystem") {
    val df = (1 to 2000).map(i => (i.toLong, "x" * 100)).toDF("id", "pad")
    val out = Files.createTempDirectory("sink-est-").toString + "/t"
    val est = ParquetSink.estimateMaxRecordsPerFile(df, out, targetMb = 128)
    // ~100 bytes/row raw; snappy+dictionary compresses the constant pad
    // heavily, so just assert a sane positive range
    est should be > 100000L
    // the sizing temp dir is cleaned up
    val parent = new org.apache.hadoop.fs.Path(out).getParent
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(parent).map(_.getPath.getName)
      .exists(_.startsWith(".graft_sizing_")) shouldBe false
  }

  test("sizing: one head-partition task, no shuffle, no recompile, bytes/row of the sample file") {
    val sampleRows = 1000
    // identical rows, so any sample writes the same bytes; a random pad
    // keeps the file well above one byte per row
    val pad = new scala.util.Random(7).alphanumeric.take(4000).mkString
    // 8 partitions of 1500 rows: the first alone covers the sample
    val df = spark.range(0L, 12000L, 1L, 8).select(lit(pad).as("pad"))
    val root = Files.createTempDirectory("sink-size-")
    val out = root.toString + "/t"

    val group = s"sizing-spec-${java.util.UUID.randomUUID()}"
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stageTasks.containsKey(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val est =
      try {
        spark.sparkContext.setJobGroup(group, "sizing spec")
        try ParquetSink.estimateMaxRecordsPerFile(df, out, 150, sampleRows)
        finally spark.sparkContext.clearJobGroup()
      } finally {
        // a marker job after the sizing: once its start is seen, every
        // sizing event before it has been delivered (one ordered queue)
        val seen = new java.util.concurrent.CountDownLatch(1)
        val marker = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            if (e.properties != null &&
                e.properties.getProperty("spark.jobGroup.id") == s"$group-end")
              seen.countDown()
        }
        spark.sparkContext.addSparkListener(marker)
        spark.sparkContext.setJobGroup(s"$group-end", "sizing spec marker")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.clearJobGroup()
        seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
        spark.sparkContext.removeSparkListener(marker)
        spark.sparkContext.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    val tasks = stageTasks.values().asScala.toSeq
    // one stage of one task: the head scan reads the first split only,
    // and the driver writes the sample file without a Spark job
    tasks shouldBe Seq(1)
    shuffleBytes.get() shouldBe 0L

    // a second call compiles no new classes (no numbered limit counter)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    ParquetSink.estimateMaxRecordsPerFile(df, out, 150, sampleRows) shouldBe est
    compiles.getCount - before shouldBe 0L

    // nothing left behind next to the output
    root.toFile.list().filter(_.startsWith(".graft_sizing_")) shouldBe empty

    // the estimate is the size target over the sample file's bytes/row
    val sampleDir = root.toString + "/sample"
    spark.range(sampleRows.toLong).select(lit(pad).as("pad"))
      .coalesce(1).write.parquet(sampleDir)
    val bytes = new java.io.File(sampleDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val bytesPerRow = math.max(1L, bytes / sampleRows)
    bytesPerRow should be > 1L
    est shouldBe 150L * 1024L * 1024L / bytesPerRow
  }

  test("writtenFiles: a partitioned append lists its own data files, as listFiles did") {
    val out = Files.createTempDirectory("sink-written-").toString + "/t"
    def batch(from: Int) = (from until from + 40)
      .map(i => (i.toLong, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    ParquetSink.write(batch(0), out, Seq("lang"))
    val before = ParquetSink.writtenFiles(spark, out, 0L).map(_._1).toSet
    Thread.sleep(1100) // local file times can have whole-second resolution
    val t0 = System.currentTimeMillis()
    ParquetSink.write(batch(100), out, Seq("lang"))
    // the reference listing: a recursive listFiles, filtered the same way
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def listed(since: Long): Set[(String, Long)] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".") &&
          f.getModificationTime >= since) b += f.getPath.toString -> f.getLen
      }
      b.result()
    }
    val mine = ParquetSink.writtenFiles(spark, out, t0)
    mine.toSet shouldBe listed(t0)
    mine should not be empty
    mine.map(_._1).toSet.intersect(before) shouldBe empty // earlier run's
    all(mine.map(f => new org.apache.hadoop.fs.Path(f._1).getName)) should
      (not startWith "_" and not startWith ".")
    // the tree holds _SUCCESS and .crc files the walk passes over
    listed(0L).size shouldBe ParquetSink.writtenFiles(spark, out, 0L).size
    new java.io.File(out, "_SUCCESS").exists shouldBe true
    new java.io.File(out, "lang=en").list().exists(_.startsWith(".")) shouldBe true
  }

  test("empty frame: estimate 0 = unlimited, write still succeeds") {
    val df = Seq.empty[(Long, String)].toDF("id", "pad")
    val out = Files.createTempDirectory("sink-empty-").toString + "/t"
    ParquetSink.estimateMaxRecordsPerFile(df, out, 150) shouldBe 0L
    ParquetSink.write(df, out).maxRecordsPerFile shouldBe 0L
  }

  test("maxRecordsPerFile bounds file sizes") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(1)
    val out = Files.createTempDirectory("sink-max-").toString + "/t"
    ParquetSink.write(df, out, maxRecordsPerFile = Some(10L))
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    files should be >= 10
  }

  test("coalescePartitions: one file per Hive partition instead of one per task") {
    val df = (1 to 400).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "grp")
      .repartition(8) // many tasks, each seeing every group
    val outA = Files.createTempDirectory("sink-coal-").toString + "/a"
    ParquetSink.write(df, outA, Seq("grp"))
    val outB = Files.createTempDirectory("sink-coal-").toString + "/b"
    ParquetSink.write(df, outB, Seq("grp"), coalescePartitions = true)
    def filesPerPartition(root: String): Int =
      new java.io.File(s"$root/grp=g0").listFiles()
        .count(_.getName.endsWith(".parquet"))
    filesPerPartition(outA) should be > 1  // sliver files from every task
    filesPerPartition(outB) shouldBe 1     // repartitioned: single writer
  }
}
