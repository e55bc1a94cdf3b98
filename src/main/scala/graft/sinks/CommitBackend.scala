package graft.sinks

import graft.core.DataContract
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Commit backend (SURVEY.md §2.4 W4/W5): where validated data lands and
  * how the commit is recorded.
  *
  * The reference commits to Iceberg via a Nessie REST catalog and
  * GRACEFULLY DEGRADES to plain S3 parquet when the catalog is absent or
  * the commit fails — the job still succeeds (cli.py:1056-1110,
  * iceberg_committer.py:675-693). This build has no Iceberg runtime jar on
  * the classpath, so [[ParquetOnly]] — exactly that degradation path — is
  * the concrete backend, and [[CommitBackend.forSession]] activates the
  * Iceberg path reflectively if a deployment ships the jar.
  */
final case class CommitResult(
    committed: Boolean,
    backend: String,
    location: String,
    snapshotId: Option[String],
    properties: Map[String, String],
    // completion metrics (reference metrics.py:86-98 record_writing);
    // best-effort on catalog backends whose location can't be resolved
    filesWritten: Long = 0L,
    bytesWritten: Long = 0L)

trait CommitBackend {
  def name: String

  /** Ensure target exists (Iceberg: namespace+table DDL; parquet: no-op —
    * directories appear on write).
    */
  def ensureTable(spark: SparkSession, location: String, contract: DataContract,
      partitionCols: Seq[String]): Unit

  /** Append `df` and record table properties; never throws for
    * catalog-side failures (degradation contract). `maxRecordsPerFile`
    * is by-name: only a Parquet write reads it (a catalog table sizes
    * its own files), so a caller's sample estimate runs only when the
    * commit lands as Parquet.
    */
  def commit(df: DataFrame, location: String, contract: DataContract,
      partitionCols: Seq[String], properties: Map[String, String],
      targetMb: Int = ParquetSink.DefaultTargetMb,
      maxRecordsPerFile: => Option[Long] = None): CommitResult
}

/** The reference's degradation path as a first-class backend: partitioned
  * size-targeted parquet + a `_graft_properties.json` sidecar carrying the
  * derived table properties (parquet has no property store; the sidecar
  * keeps the W6 metadata queryable and idempotently mergeable).
  */
object ParquetOnly extends CommitBackend {
  val name = "parquet_only"

  def ensureTable(spark: SparkSession, location: String, contract: DataContract,
      partitionCols: Seq[String]): Unit = ()

  private def sidecar(location: String) =
    new org.apache.hadoop.fs.Path(location, "_graft_properties.json")

  def readProperties(spark: SparkSession, location: String): Map[String, String] = {
    val p = sidecar(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Map.empty
    else try {
      val in = fs.open(p)
      try {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        import scala.jdk.CollectionConverters._
        m.readTree(in).properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      } finally in.close()
    } catch { case _: Exception => Map.empty }
  }

  def commit(df: DataFrame, location: String, contract: DataContract,
      partitionCols: Seq[String], properties: Map[String, String],
      targetMb: Int, maxRecordsPerFile: => Option[Long]): CommitResult = {
    val t0 = System.currentTimeMillis()
    // transform entries (days(ts), bucket(n, id)) have no Hive-layout
    // analog: derive identity columns so data still lands partitioned
    val (materialized, identityCols) =
      PartitionTransforms.materialize(df, partitionCols)
    ParquetSink.write(materialized, location, identityCols, targetMb,
      SaveMode.Append, maxRecordsPerFile)
    val spark = df.sparkSession
    val written = ParquetSink.writtenFiles(spark, location, t0)
    val merged = readProperties(spark, location) ++ properties
    try {
      val p = sidecar(location)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.createObjectNode()
      merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      val out = fs.create(p, true)
      try out.write(m.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
      finally out.close()
    } catch { case _: Exception => () } // property push is never fatal
    CommitResult(committed = true, backend = name, location = location,
      snapshotId = None, properties = merged,
      filesWritten = written.size.toLong, bytesWritten = written.map(_._2).sum)
  }
}

/** Catalog-table backend (W4/W5): table DDL + append + properties through
  * the DataSourceV2 `writeTo` API against ANY configured Spark catalog —
  * the session catalog here, an Iceberg/Nessie catalog
  * (`spark.sql.catalog.nessie = org.apache.iceberg.spark.SparkCatalog`
  * with `ref` = tenant branch) in a deployment: same code path, per
  * SURVEY §7's CommitBackend isolation. The reference's W2 size target
  * maps to the `write.target-file-size-bytes` table property.
  *
  * Degradation parity (cli.py:1056-1110, iceberg_committer.py:675-693):
  * any catalog/commit failure falls back to [[ParquetOnly]] at
  * `location` and the job still succeeds.
  */
final case class CatalogTableBackend(catalogName: String, namespace: String)
    extends CommitBackend {
  val name = s"catalog:$catalogName"

  def tableFqn(contract: DataContract): String =
    s"$catalogName.$namespace.${contract.name}"

  def ensureTable(spark: SparkSession, location: String, contract: DataContract,
      partitionCols: Seq[String]): Unit = () // DDL folded into first commit

  def commit(df: DataFrame, location: String, contract: DataContract,
      partitionCols: Seq[String], properties: Map[String, String],
      targetMb: Int, maxRecordsPerFile: => Option[Long]): CommitResult = {
    val spark = df.sparkSession
    val fqn = tableFqn(contract)
    val t0 = System.currentTimeMillis()
    try {
      val specs = PartitionTransforms.parseAll(partitionCols)
      // only IDENTITY partition values get the Hive normalization +
      // ingest_date synthesis; transform sources (days(ts), bucket(n, id))
      // stay raw — the catalog stores the transform itself
      val identityCols = specs.collect {
        case PartitionTransforms.Identity(c) => c
      }
      val prepared = ParquetSink.preparePartitions(df, identityCols)
      // spark.catalog.tableExists can't resolve 3-part names; probe the
      // analyzer directly
      val exists =
        try { spark.table(fqn); true }
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (!exists) {
        var w = prepared.writeTo(fqn)
          .tableProperty("write.target-file-size-bytes",
            (targetMb.toLong * 1024 * 1024).toString)
        properties.foreach { case (k, v) => w = w.tableProperty(k, v) }
        if (specs.nonEmpty)
          w.partitionedBy(
            PartitionTransforms.toV2Column(specs.head),
            specs.tail.map(PartitionTransforms.toV2Column): _*)
            .create()
        else w.create()
      } else {
        try prepared.writeTo(fqn).append()
        catch {
          // session-catalog (V1) tables reject the V2 write path; real
          // V2 catalogs (Iceberg/Nessie) never hit this branch
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("v1 table") =>
            prepared.write.mode(SaveMode.Append).insertInto(fqn)
        }
        // idempotent property diff (iceberg_committer.py:221-305)
        val existing = spark.sql(s"SHOW TBLPROPERTIES $fqn").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val changed = TagDerivation.diffProperties(existing, properties)
        if (changed.nonEmpty) {
          val props = changed.map { case (k, v) =>
            s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'"
          }.mkString(", ")
          spark.sql(s"ALTER TABLE $fqn SET TBLPROPERTIES ($props)")
        }
      }
      val written = tableLocation(spark, fqn)
        .map(ParquetSink.writtenFiles(spark, _, t0))
        .getOrElse(Nil)
      CommitResult(committed = true, backend = name, location = fqn,
        snapshotId = snapshotId(spark, fqn), properties = properties,
        filesWritten = written.size.toLong,
        bytesWritten = written.map(_._2).sum)
    } catch {
      case e: Exception =>
        // graceful degradation: files land as plain parquet, job succeeds
        System.err.println(
          s"[graft] catalog commit to $fqn failed (${e.getMessage}); " +
            "degrading to parquet-only")
        ParquetOnly.commit(df, location, contract, partitionCols, properties,
          targetMb, maxRecordsPerFile)
    }
  }

  /** Latest snapshot id of an Iceberg-style table — the commit id the
    * reference surfaces in its commit result (iceberg_committer.py:
    * 610-638). Queries the `.snapshots` metadata table, which only V2
    * catalogs with snapshot semantics expose; anything else → None.
    */
  private def snapshotId(spark: SparkSession, fqn: String): Option[String] =
    try {
      spark.sql(
        s"SELECT snapshot_id FROM $fqn.snapshots ORDER BY committed_at DESC LIMIT 1")
        .collect().headOption.map(r => String.valueOf(r.get(0)))
    } catch { case _: Exception => None }

  /** Physical table location for the write-metrics listing; best-effort
    * (DESCRIBE EXTENDED surfaces `Location` for both V1 and Iceberg
    * tables; a catalog without one → no file metrics, never a failure).
    */
  private def tableLocation(spark: SparkSession, fqn: String): Option[String] =
    try {
      spark.sql(s"DESCRIBE TABLE EXTENDED $fqn").collect()
        .find(r => r.getString(0) == "Location")
        .map(_.getString(1))
    } catch { case _: Exception => None }
}

object CommitBackend {

  /** Pick the backend: a configured catalog (target `catalog.name` +
    * optional `catalog.namespace`) gets the table backend; otherwise the
    * parquet-only degradation path.
    */
  def forTarget(spark: SparkSession, catalogConf: Map[String, Any]): CommitBackend =
    catalogConf.get("name").map(String.valueOf) match {
      case Some(cat) if cat.nonEmpty =>
        CatalogTableBackend(cat,
          catalogConf.get("namespace").map(String.valueOf).getOrElse("default"))
      case _ => ParquetOnly
    }

  def forSession(spark: SparkSession): CommitBackend = ParquetOnly
}
