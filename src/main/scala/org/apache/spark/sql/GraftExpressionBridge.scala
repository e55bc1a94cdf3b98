package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression conversions so graft
  * can wrap its native codegen'd Catalyst expressions (e.g.
  * [[graft.functions.VecDot]]) as user-facing Columns without registering
  * them in a FunctionRegistry. This is the same mechanism Spark's own
  * `functions` object uses internally (classic/columnNodeSupport.scala).
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own ordering of `dt`'s internal values (doubles by
    * `SQLOrderingUtil`, strings by UTF-8 bytes) — what a sort or a
    * window compares with.
    */
  def internalOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.types.PhysicalDataType(dt).ordering
      .asInstanceOf[Ordering[Any]]

  /** Plan-truncated DataFrame over an InternalRow RDD — what
    * `Dataset.checkpoint` builds internally. Used by
    * [[graft.core.CacheScope.checkpoint]] so iterative algorithms can
    * truncate lineage WITHOUT the external-Row decode/re-encode of the
    * public `createDataFrame(df.rdd, schema)` round trip (each row would
    * deserialize to a GenericRow and re-encode on every downstream
    * read — measurable per-round overhead in the connected-components
    * loop).
    */
  def dataFrameFromInternalRdd(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** A parquet relation over leaf files the caller has already listed:
    * `leaves` maps each root directory to every data file under it.
    * Spark's own file index would list the roots again (as a Spark job
    * above 32 of them); here it reads the given listing instead, so
    * building the relation touches no file. Partition columns are
    * inferred from the directory names under `basePath`, and the schema
    * is `dataSchema` (made nullable, as every file source makes it) plus
    * those columns — what `spark.read.parquet` would build over the same
    * files; its file format is the parquet reader a scan of it runs. The
    * listing is a snapshot: a refresh does not re-list.
    */
  def parquetRelation(spark: SparkSession, basePath: String,
      leaves: Seq[(org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus])],
      dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    val listed = leaves.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: org.apache.hadoop.fs.Path) = listed.get(p)
      def putLeafFiles(p: org.apache.hadoop.fs.Path,
          files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val opts = Map("basePath" -> basePath)
    val index = new InMemoryFileIndex(spark, leaves.map(_._1), opts,
      Some(dataSchema), cache)
    HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable,
      None, new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      opts)(spark)
  }

  /** Spark's file-listing rule for names that are not data: `_…` and
    * `.…` entries (a `_`-name holding `=` is a partition directory).
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Compile every WholeStageCodegen span of a plan EAGERLY, returning
    * the per-span (methodName, generated-source length, error) — the
    * probe behind the codegen-compilability pin: Spark demotes a span
    * whose generated code fails Janino (e.g. a method past the JVM's
    * 64 KB limit) to INTERPRETED execution with only a log line, which
    * is a silent multi-× slowdown on a 100 TB scan. Returns one entry
    * per span; `error` is None when it compiled.
    */
  def compileSpans(df: DataFrame): Seq[(String, Int, Option[String])] = {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val plan = df.queryExecution.executedPlan
    // AdaptiveSparkPlanExec is a leaf node — recurse into its current
    // physical plan or the spans would be invisible under AQE
    def spans(p: SparkPlan): Seq[WholeStageCodegenExec] = p.collect {
      case w: WholeStageCodegenExec => Seq(w)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        spans(a.executedPlan)
    }.flatten
    spans(plan).map { w =>
      val (_, source) = w.doCodeGen()
      val err =
        try { CodeGenerator.compile(source); None }
        catch { case e: Throwable =>
          Some(e.getMessage.linesIterator.toSeq.lastOption.getOrElse(e.toString))
        }
      (w.child.nodeName, source.body.length, err)
    }
  }
}
