package graft.sinks

import graft.core.ValidationMode
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Partitioned, size-targeted Parquet sink (SURVEY.md §2.4 W1/W2 + M7).
  *
  * Reference semantics preserved:
  *  - Hive-style `col=value/` partition layout with value normalization —
  *    lowercase, ISO dates kept verbatim, everything else lowercased with
  *    `[^a-z0-9_-]` squashed to `_` (parquet_writer.py:88-158,188-199).
  *    Spark's `write.partitionBy` produces the same layout natively; the
  *    normalization is applied to the partition column values pre-write.
  *  - target file size 128–200 MB, default 150
  *    (parquet_writer.py:33-35, config.py:412-414), estimated by writing a
  *    ≤1000-row head sample (one `take`, held on the driver) and
  *    extrapolating bytes/row (parquet_writer.py:360-381) →
  *    `maxRecordsPerFile`.
  *  - snappy compression + dictionary encoding (parquet_writer.py:424-429);
  *    both are Spark parquet defaults, set explicitly anyway.
  *  - `ingest_date` synthesized as today when it is a partition column but
  *    absent from the data (parquet_writer.py:98-100).
  *
  * Scale note: the write is shuffle-free (dynamic partition write straight
  * from the task outputs). When many small tasks would fragment partitions,
  * callers can pre-`repartition(partitionCols)` — left to the caller since
  * it trades a shuffle for file count.
  */
object ParquetSink {

  val MinTargetMb = 128
  val MaxTargetMb = 200
  val DefaultTargetMb = 150

  private val IsoDate = "^\\d{4}-\\d{2}-\\d{2}$"

  /** Partition-value normalization (parquet_writer.py:134-155): ISO dates
    * kept; other values lowercased and non `[a-z0-9_-]` chars → `_`.
    */
  def normalizePartitionValue(c: Column): Column = {
    val s = c.cast("string")
    when(s.rlike(IsoDate), s)
      .otherwise(regexp_replace(lower(s), "[^a-z0-9_-]", "_"))
  }

  /** Synthesize `ingest_date` (M7) + normalize partition values (W1).
    * Partition column names are lowercased like the reference's path rule.
    */
  def preparePartitions(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val withIngest =
      if (partitionCols.exists(_.equalsIgnoreCase("ingest_date")) &&
        !df.columns.exists(_.equalsIgnoreCase("ingest_date")))
        df.withColumn("ingest_date", current_date().cast("string"))
      else df
    partitionCols.foldLeft(withIngest) { (d, pc) =>
      val actual = d.columns.find(_.equalsIgnoreCase(pc)).getOrElse(pc)
      d.withColumn(pc.toLowerCase, normalizePartitionValue(col(actual)))
    }
  }

  /** Estimate rows/file for the size target by sample-write extrapolation,
    * the reference's own trick (parquet_writer.py:360-381). Returns 0
    * (= unlimited) when the frame is empty.
    *
    * The sample is `df.take(sampleRows)`: Spark scans one partition
    * first and scales up only when it comes up short, so sizing never
    * touches the whole input, runs no codegen'd limit and no shuffle.
    * The ≤`sampleRows` rows held on the driver are the same footprint as
    * the reference's in-process sample. The driver writes them through
    * Spark's own Parquet writer (same codec and encodings as a real
    * write) as ONE file in a hidden temp dir on the SAME Hadoop
    * filesystem as `outputPath`, and measures it through the Hadoop FS
    * API — a driver-local java.nio path would measure 0 bytes on any
    * real cluster (default FS ≠ driver disk) and silently disable the
    * 128–200 MB semantic. The row count is the sample's length, so
    * nothing is read back and the write is no Spark job.
    *
    * CAUTION: the `take` is a Spark action on `df`. Never pass a frame
    * carrying an `observe()` whose metrics you still need — the sample
    * would satisfy the Observation with a partial-scan count. The job
    * driver passes the un-observed twin of its output plan.
    */
  def estimateMaxRecordsPerFile(df: DataFrame, outputPath: String, targetMb: Int,
      sampleRows: Int = 1000): Long = {
    val clamped = math.max(MinTargetMb, math.min(MaxTargetMb, targetMb))
    val sample = df.take(sampleRows)
    if (sample.isEmpty) return 0L
    val spark = df.sparkSession
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val base = new Path(outputPath)
    val fs = base.getFileSystem(job.getConfiguration)
    val tmp = new Path(base.getParent match { case null => base; case p => p },
      s".graft_sizing_${UUID.randomUUID().toString}")
    val file = new Path(tmp, "sample.parquet")
    try {
      val writer = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, df.schema)
        .newInstance(file.toString, df.schema,
          new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID()))
      val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
      try sample.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
      val bytesPerRow = math.max(1L, fs.getFileStatus(file).getLen / sample.length)
      math.max(1L, clamped.toLong * 1024L * 1024L / bytesPerRow)
    } finally {
      try fs.delete(tmp, true) catch { case _: Throwable => () }
    }
  }

  /** Output root `bucket/domain/data_product/table/` (cli.py:695-723). */
  def outputPath(root: String, domain: String, dataProduct: String, table: String): String =
    Seq(root.stripSuffix("/"), domain, dataProduct, table).mkString("/")

  /** Data files under `location` modified at/after `sinceMs` — the
    * files_written / bytes_written completion metrics (reference
    * metrics.py:86-98 `record_writing`). A recursive walk of the whole
    * tree (driver-side, proportional to file count, not data); files
    * named `_…` or `.…` (`_SUCCESS`, checksums, sidecars) excluded.
    *
    * The walk is `listStatus` per directory, not `listFiles(base,
    * true)`: that builds a `LocatedFileStatus` per file, which reads the
    * file's permission, and without the native Hadoop library the local
    * filesystem reads a permission by forking `ls -ld` — one process per
    * output file, serially on the driver. `listStatus` reads none, and
    * visits the same files in the same order.
    */
  def writtenFiles(spark: org.apache.spark.sql.SparkSession, location: String,
      sinceMs: Long): Seq[(String, Long)] = {
    val base = new Path(location)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val out = Seq.newBuilder[(String, Long)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
      val name = f.getPath.getName
      if (f.isDirectory) walk(f.getPath)
      else if (!name.startsWith("_") && !name.startsWith(".") &&
        f.getModificationTime >= sinceMs)
        out += f.getPath.toString -> f.getLen
    }
    if (fs.exists(base)) walk(base)
    out.result()
  }

  final case class WriteReport(path: String, partitionCols: Seq[String], maxRecordsPerFile: Long)

  /** Partitioned, size-targeted write. `maxRecordsPerFile`: pass a
    * precomputed estimate (from [[estimateMaxRecordsPerFile]] on an
    * un-observed twin of this plan) or None to estimate here — only safe
    * when `df` carries no Observation.
    */
  def write(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Nil,
      targetMb: Int = DefaultTargetMb,
      mode: SaveMode = SaveMode.Append,
      maxRecordsPerFile: Option[Long] = None,
      coalescePartitions: Boolean = false
  ): WriteReport = {
    val prepared0 = preparePartitions(df, partitionCols)
    // Optional shuffle-for-file-count trade: hash-repartition on the
    // partition columns so each Hive partition is written by few tasks
    // (otherwise every task writes a sliver of every partition — at 1000
    // executors × 1000 partitions that is 1M small files). Off by default
    // because it adds a full shuffle; maxRecordsPerFile still bounds the
    // upper file size either way.
    val prepared =
      if (coalescePartitions && partitionCols.nonEmpty)
        prepared0.repartition(partitionCols.map(c => col(c.toLowerCase)): _*)
      else prepared0
    val maxRecords = maxRecordsPerFile.getOrElse(
      estimateMaxRecordsPerFile(prepared, path, targetMb))
    var w = prepared.write
      .mode(mode)
      .option("compression", "snappy")
      .option("parquet.enable.dictionary", "true")
    if (maxRecords > 0) w = w.option("maxRecordsPerFile", maxRecords.toString)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols.map(_.toLowerCase): _*)
    w.parquet(path)
    WriteReport(path, partitionCols.map(_.toLowerCase), maxRecords)
  }
}
