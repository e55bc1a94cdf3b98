package graft.core

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A missing input path, as Spark's file sources report it: the
  * `PATH_NOT_FOUND` condition, or the older "Path does not exist"
  * message. The one test every caller that treats absence specially
  * shares — each keeps its own outcome (empty bootstrap, a config error,
  * a non-retried failure); any OTHER failure must propagate.
  */
private[graft] object PathNotFound {
  def unapply(e: Throwable): Option[AnalysisException] = e match {
    case a: AnalysisException if a.getCondition == "PATH_NOT_FOUND" ||
        Option(a.getMessage).exists(_.contains("Path does not exist")) =>
      Some(a)
    case _ => None
  }
}

/** What a [[KeyStore]] holds: the [[StoreMeta]] kind and params the
  * store is bound to, its key schema (the typed empty frame a missing
  * store reads as), the bucket column of the table layout, and the key
  * projection `keys(batch, idCol, srcCol)` that turns a batch into store
  * rows.
  */
private[graft] final case class StoreFamily(
    kind: String,
    params: Map[String, Any],
    schemaDdl: String,
    bucketCol: String,
    keys: (DataFrame, String, String) => DataFrame) {
  def schema: StructType = StructType.fromDDL(schemaDdl)
}

/** Where a [[KeyStore]] lives: a parquet directory, or a catalog table
  * bucketed on the family's key (the 100 TB shape — the batch-vs-store
  * join reads the store pre-partitioned, with no store-side Exchange).
  */
private[graft] sealed trait StoreLayout

private[graft] object StoreLayout {
  final case class Path(path: String) extends StoreLayout
  final case class Table(name: String, buckets: Int = 256) extends StoreLayout

  def apply(name: String, table: Boolean): StoreLayout =
    if (table) Table(name) else Path(name)
}

/** The append-only key store of incremental dedup — "what has already
  * landed" (fingerprints, MinHash band keys, simhashes or their chunks,
  * embedding buckets) — as one family × layout value with one `read`
  * and one `append`.
  *
  * Params live in the store's [[StoreMeta]] sidecar: `_meta_params` for
  * a path, `graft.store.*` TBLPROPERTIES for a table. Both operations
  * refuse a store written under different params. A MISSING store, and
  * only a missing store, reads as the family's typed empty frame (the
  * first-run bootstrap); a present-but-unreadable store fails, because
  * silently reading it as empty would disable incremental dedup and
  * commit duplicates against the corpus.
  */
private[graft] final case class KeyStore(family: StoreFamily,
    layout: StoreLayout) {
  import StoreLayout.{Path, Table}

  def read(spark: SparkSession): DataFrame = {
    requireParams(spark)
    layout match {
      case Path(p) =>
        try spark.read.parquet(p)
        catch { case PathNotFound(_) => empty(spark) }
      case Table(t, _) =>
        if (spark.catalog.tableExists(t)) spark.table(t)
        else { bootstrapGuard(spark, t); empty(spark) }
    }
  }

  /** Append `batch`'s keys. A path records its params first (refusing
    * a mismatch) and then appends parquet; a table checks present
    * params, appends bucket-aligned (the store is never rewritten), and
    * only then records params — the table must exist to carry them.
    */
  def append(batch: DataFrame, idCol: String, srcCol: String): Unit = {
    val spark = batch.sparkSession
    layout match {
      case Path(p) =>
        StoreMeta.writeOrRequire(spark, p, family.kind, family.params)
        family.keys(batch, idCol, srcCol).write.mode("append").parquet(p)
      case Table(t, buckets) =>
        requireParams(spark)
        family.keys(batch, idCol, srcCol)
          .write.mode("append").format("parquet")
          .bucketBy(buckets, family.bucketCol).sortBy(family.bucketCol)
          .saveAsTable(t)
        StoreMeta.writeOrRequireTable(spark, t, family.kind, family.params)
    }
  }

  private def requireParams(spark: SparkSession): Unit = layout match {
    case Path(p) =>
      StoreMeta.requireIfPresent(spark, p, family.kind, family.params)
    case Table(t, _) =>
      StoreMeta.requireIfPresentTable(spark, t, family.kind, family.params)
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], family.schema)

  /** Guard the "missing table = first run" bootstrap against the one
    * situation where it silently commits duplicates: the table is not in
    * THIS session's catalog but its warehouse directory exists on disk —
    * i.e. a previous PROCESS wrote it and this session runs on the
    * default in-memory catalog, which dies with its session. Oneshot CLI
    * cycles need a persistent metastore (`GRAFT_CATALOG=hive`) or a
    * long-lived session (Orchestrator / BatchRunner).
    */
  private def bootstrapGuard(spark: SparkSession, table: String): Unit = {
    // Hadoop FS, not java.nio: the warehouse can be s3a:// (no NIO
    // provider) or a local path with characters a java.net.URI rejects —
    // either would turn the day-1 bootstrap into a crash.
    // defaultTablePath resolves the table's DATABASE first; a
    // db-qualified store table whose database doesn't exist yet is a
    // genuine first run (no database → no warehouse dir to collide
    // with), so that lookup failure falls through to the documented
    // empty-store bootstrap instead of crashing it.
    val tablePath =
      try spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException =>
          return
      }
    val loc = new org.apache.hadoop.fs.Path(tablePath)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc))
      throw new IllegalStateException(
        s"Bucketed store table '$table' is not in this session's catalog " +
          s"but its warehouse location '$loc' exists on disk. A previous " +
          "process likely wrote it and this session's in-memory catalog " +
          "cannot see it; bootstrapping would silently disable incremental " +
          "dedup and commit duplicates. Run with a persistent metastore " +
          "(GRAFT_CATALOG=hive on the CLI), reuse a long-lived session, " +
          "or remove the stale location.")
  }
}
