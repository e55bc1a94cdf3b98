package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.functions.lit

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
  *
  * The listing also gives the probed files' bytes, and the same files
  * decode on the driver with the scan's own reader ([[Scan.decode]]), so
  * a probe small enough to answer on the driver reads exactly what the
  * Spark scan would, with no Spark job.
  */
object StoreScan {

  /** A listed store: the frame Spark scans and the total bytes of the
    * data files the listing found. `decode` reads those files on the
    * driver with the scan's own parquet reader
    * (`ParquetFileFormat.buildReaderWithPartitionValues` over the same
    * relation, so the same decoder, partition values and schema as the
    * scan), file by file, with no Spark job: what a probe small enough
    * to score on the driver reads ([[graft.operators.StoreProbe]]).
    */
  final class Scan private[StoreScan] (val frame: DataFrame,
      relation: Option[HadoopFsRelation], conf: Configuration) {

    private lazy val listed: Seq[(InternalRow, FileStatus)] =
      relation.toSeq.flatMap(_.location.listFiles(Nil, Nil))
        .flatMap(d => d.files.map(f => d.values -> f.fileStatus))

    /** The bytes of the data files the frame reads, from the listing. */
    def bytes: Long = listed.map(_._2.getLen).sum

    /** The rows of each file in turn — `frame.schema`'s columns, data
      * then partition values — each row a copy the caller may keep.
      * Decoding starts when the iterator is consumed.
      */
    def decode(): Iterator[InternalRow] = relation match {
      case None => Iterator.empty
      case Some(rel) =>
        val read = rel.fileFormat.buildReaderWithPartitionValues(
          rel.sparkSession, rel.dataSchema, rel.partitionSchema,
          rel.dataSchema, Nil,
          rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
        listed.iterator.flatMap { case (values, f) =>
          Option(decoded.get()).foreach(_ += f.getPath)
          read(PartitionedFile(values, SparkPath.fromPath(f.getPath), 0L,
            f.getLen, fileSize = f.getLen,
            modificationTime = f.getModificationTime)).map(_.copy())
        }
    }
  }

  /** The store at `root`, restricted to the partition directories
    * `levels` names: each level is a partition column and its probed
    * ids, nested in order (`segment` × `bucket` reads every
    * `segment=s/bucket=b`). No levels reads the whole root — a flat
    * store, or a `_meta` sidecar. When no probed directory exists the
    * frame is empty with the store's full schema (taken from any one of
    * its data files) and the scan lists no file; a store with no data
    * file at all fails as `spark.read.parquet(root)` does.
    */
  def scan(spark: SparkSession, root: String,
      levels: (String, Seq[Any])*): Scan = {
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
      GraftExpressionBridge.parquetRelation(spark, qualified.toString, ls,
        footerSchema(spark, conf, ls.head._2.head))
    if (leaves.nonEmpty) {
      val rel = over(leaves)
      new Scan(spark.baseRelationToDataFrame(rel), Some(rel), conf)
    } else anyDataFile(fs, qualified) match {
      // nothing probed exists: the full schema over one real partition,
      // with no rows and no listed file
      case Some(f) => new Scan(spark.baseRelationToDataFrame(
        over(Seq(f.getPath.getParent -> Array(f)))).where(lit(false)), None,
        conf)
      case None => // no data at all: Spark's own error
        new Scan(spark.read.parquet(root), None, conf)
    }
  }

  /** The rows of a small store — a `_meta` sidecar of a few rows — read
    * on the driver ([[Scan.decode]]): every data file under `root`, no
    * Spark job. Rows carry the scan's schema (`getAs` by name works). A
    * store with no data file at all fails as `spark.read.parquet(root)`
    * does.
    */
  def driverRows(spark: SparkSession, root: String): Seq[Row] = {
    val s = scan(spark, root)
    val toRow = CatalystTypeConverters.createToScalaConverter(s.frame.schema)
    s.decode().map(r => toRow(r).asInstanceOf[Row]).toList
  }

  // the files `decode` opens on this thread, while `decodedFiles` runs
  private val decoded = new ThreadLocal[scala.collection.mutable.Buffer[Path]]

  /** `body`'s result and every file a [[Scan.decode]] on this thread
    * opened while it ran, in order — how specs pin what a driver-side
    * probe read.
    */
  def decodedFiles[T](body: => T): (T, Seq[Path]) = {
    val prev = decoded.get()
    val files = scala.collection.mutable.Buffer.empty[Path]
    decoded.set(files)
    try (body, files.toList) finally decoded.set(prev)
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
  private def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus) = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
