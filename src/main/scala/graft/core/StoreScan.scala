package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** The one read of a parquet store by probed partition ids — the store
  * probes of [[graft.operators.Search]] and the vector core of
  * [[graft.operators.Similarity]].
  *
  * `spark.read.parquet(root)` lists every partition directory of the
  * store (above 32 directories that listing is a Spark job) and infers
  * the schema from a footer in a one-task Spark job, so a probe would
  * cost in proportion to the store, not to the query. This read instead
  *  - lists only the probed `col=id` directories, on the driver:
  *    O(probed) filesystem calls, absent directories skipped;
  *  - takes the data schema from ONE data file's footer (Spark's row
  *    metadata key, read by Spark's own footer rule, so it is the
  *    schema Spark's inference would return);
  *  - hands that listing to Spark's file index, so building the frame
  *    runs no Spark job at all.
  *
  * Partition columns are still inferred from the directory names under
  * `root`, so the frame's schema equals `spark.read.parquet(root).schema`.
  * Callers keep their partition and value filters: the frame holds only
  * probed partitions, the filters prune rows within them.
  */
object StoreScan {

  /** The store at `root`, restricted to the partition directories
    * `levels` names: each level is a partition column and its probed
    * ids, nested in order (`segment` × `bucket` reads every
    * `segment=s/bucket=b`). No levels reads the whole root — a flat
    * store, or a `_meta` sidecar. When no probed directory exists the
    * frame is empty with the store's full schema (taken from any one of
    * its data files); a store with no data file at all fails as
    * `spark.read.parquet(root)` does.
    */
  def read(spark: SparkSession, root: String,
      levels: (String, Seq[Any])*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val base = new Path(root)
    val fs = base.getFileSystem(conf)
    val qualified = fs.makeQualified(base)
    val dirs = levels.foldLeft(Seq(qualified)) { case (ps, (c, ids)) =>
      for (p <- ps; id <- ids.distinct) yield new Path(p,
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c, id.toString))
    }
    val leaves = dirs.flatMap(d => dataFiles(fs, d).filter(_.nonEmpty).map(d -> _))
    def over(ls: Seq[(Path, Array[FileStatus])]) =
      GraftExpressionBridge.parquetOverListing(spark, qualified.toString, ls,
        footerSchema(spark, conf, ls.head._2.head))
    if (leaves.nonEmpty) over(leaves)
    else anyDataFile(fs, qualified) match {
      // nothing probed exists: the full schema over one real partition,
      // with no rows
      case Some(f) => over(Seq(f.getPath.getParent -> Array(f))).where(lit(false))
      case None => spark.read.parquet(root) // no data at all: Spark's own error
    }
  }

  /** The rows of a small store — a `_meta` sidecar of a few rows — read
    * on the driver with parquet-hadoop's record reader: every data file
    * under `root`, no Spark job. Rows carry the footer's Spark schema
    * (`getAs` by name works) and hold atomic columns only. A store with
    * no data file at all fails as `spark.read.parquet(root)` does.
    */
  def driverRows(spark: SparkSession, root: String): Seq[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val base = new Path(root)
    val fs = base.getFileSystem(conf)
    dataFiles(fs, fs.makeQualified(base)).getOrElse(Array.empty[FileStatus])
      .toSeq match {
      case Nil => spark.read.parquet(root).collect().toSeq
      case files => files.flatMap { f =>
        val schema = footerSchema(spark, conf, f)
        val reader = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(), f.getPath)
          .withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => new org.apache.spark.sql.catalyst.expressions
            .GenericRowWithSchema(schema.fields.map(c => value(g, c)), schema))
          .toList
        finally reader.close()
      }
    }
  }

  private def value(g: org.apache.parquet.example.data.Group,
      c: StructField): Any =
    if (g.getFieldRepetitionCount(c.name) == 0) null
    else c.dataType match {
      case LongType => g.getLong(c.name, 0)
      case IntegerType => g.getInteger(c.name, 0)
      case StringType => g.getString(c.name, 0)
      case DoubleType => g.getDouble(c.name, 0)
      case BooleanType => g.getBoolean(c.name, 0)
      case t => throw new UnsupportedOperationException(
        s"driver-side store read of ${c.name}: $t")
    }

  /** Every data file under `dir` (recursively), or None if `dir` does
    * not exist. Hidden names (`_SUCCESS`, `_meta_params`, `_train/`,
    * `.crc`) are skipped by Spark's own rule.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Option[Array[FileStatus]] =
    try Some(fs.listStatus(dir)
      .filterNot(st => GraftExpressionBridge.hiddenPathName(st.getPath.getName))
      .flatMap(st =>
        if (st.isDirectory) dataFiles(fs, st.getPath).getOrElse(Array.empty)
        else Array(st)))
    catch { case _: java.io.FileNotFoundException => None }

  /** The first data file found descending from `dir`, one directory per
    * level — a schema witness for a probe whose partitions are all absent.
    */
  private def anyDataFile(fs: FileSystem, dir: Path): Option[FileStatus] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .filterNot(st => GraftExpressionBridge.hiddenPathName(st.getPath.getName))
      .sortBy(!_.isFile).iterator
      .flatMap(st => if (st.isFile) Some(st) else anyDataFile(fs, st.getPath))
      .nextOption()

  /** The Spark schema recorded in one parquet footer. */
  private def footerSchema(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, file: FileStatus) = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
