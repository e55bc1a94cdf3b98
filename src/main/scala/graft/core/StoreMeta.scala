package graft.core

import org.apache.spark.sql.SparkSession

/** Self-describing incremental stores: a `_meta_params` parameter
  * sidecar per store, written at first append and REQUIRED to match on
  * every later append and probe.
  *
  * Why: the similarity/dedup stores are only meaningful under the exact
  * fit parameters they were written with — probing a 64-bucket TF-IDF
  * store with `buckets = 128`, or LSH-joining a `bands = 16` band-key
  * store with 8-band batch keys, silently mis-scores every candidate
  * (wrong hashes still join, they just match nothing / the wrong
  * things). The BM25 index already self-describes (its `_meta` row
  * carries `buckets` and the probe REFUSES a mismatch,
  * [[graft.operators.Search]]); this generalizes that contract to the
  * fingerprint / band-key / simhash / embedding-bucket / TF-IDF store
  * families.
  *
  * Layout: `storePath/_meta_params` — ONE java-properties FILE written
  * through the store's own Hadoop FileSystem (works on file:// and
  * s3a:// alike). Deliberately NOT a parquet dataset: the sidecar is a
  * dozen bytes of driver-side metadata, and writing it as parquet
  * would cost a full Spark job on every append — measured at ~0.2 s of
  * pure overhead per store operation at bench scale. Underscore-
  * prefixed paths are hidden from Hadoop input listings, so stores
  * whose data files live directly at `storePath` (fingerprints, band
  * keys, simhashes, embedding buckets) host the sidecar in the same
  * directory without polluting `spark.read.parquet(storePath)`.
  *
  * Compatibility: a store WITHOUT a sidecar (bootstrap, or written
  * before this existed) reads as unknown — probes proceed (the
  * first-run bootstrap must keep working) and the next append writes
  * the sidecar. Once present, any mismatch refuses loudly; silence is
  * the one behavior this class exists to kill.
  *
  * The incremental key stores (fingerprint, band-key, simhash,
  * simhash-chunk, embedding-bucket) reach these gates only through
  * [[KeyStore]], which picks the path or table form by layout; the
  * TF-IDF, LM, quality-model and ANN index stores call them directly.
  */
object StoreMeta {

  private def metaPath(storePath: String) =
    new org.apache.hadoop.fs.Path(storePath, "_meta_params")

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The recorded params of a store, or None if it has no sidecar. */
  def read(spark: SparkSession, storePath: String): Option[Map[String, String]] = {
    val mp = metaPath(storePath)
    val f = fs(spark, mp)
    if (!f.exists(mp)) None
    else if (f.getFileStatus(mp).isDirectory)
      // legacy sidecar written as a parquet dataset (early r14 form)
      Some(spark.read.parquet(mp.toString).collect()
        .map(r => r.getAs[String]("param") -> r.getAs[String]("value")).toMap)
    else {
      val in = f.open(mp)
      try {
        val props = new java.util.Properties()
        props.load(new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8))
        import scala.jdk.CollectionConverters._
        Some(props.asScala.toMap)
      } finally in.close()
    }
  }

  /** Overwrite-side: a full (re)save replaces the store, so its params
    * sidecar is replaced unconditionally too.
    */
  def overwrite(spark: SparkSession, storePath: String, family: String,
      params: Map[String, Any]): Unit = {
    val mp = metaPath(storePath)
    val f = fs(spark, mp)
    // replace a legacy parquet-directory sidecar with the file form
    if (f.exists(mp) && f.getFileStatus(mp).isDirectory) f.delete(mp, true)
    val props = new java.util.Properties()
    normalize(family, params).foreach { case (k, v) => props.setProperty(k, v) }
    val out = f.create(mp, true)
    try props.store(new java.io.OutputStreamWriter(out,
      java.nio.charset.StandardCharsets.UTF_8), "graft store params")
    finally out.close()
  }

  /** Append-side gate: first writer records (family + params); every
    * later writer must present the SAME params or the append refuses —
    * mixed-parameter rows in one store are unusable by construction.
    */
  def writeOrRequire(spark: SparkSession, storePath: String, family: String,
      params: Map[String, Any]): Unit = {
    val want = normalize(family, params)
    read(spark, storePath) match {
      case Some(have) => requireSame(storePath, have, want)
      case None       => overwrite(spark, storePath, family, params)
    }
  }

  /** Probe-side gate: a present sidecar must match the probe's params;
    * a missing sidecar is tolerated (bootstrap / pre-sidecar store).
    */
  def requireIfPresent(spark: SparkSession, storePath: String, family: String,
      params: Map[String, Any]): Unit =
    read(spark, storePath)
      .foreach(have => requireSame(storePath, have, normalize(family, params)))

  private def normalize(family: String, params: Map[String, Any]): Map[String, String] =
    params.map { case (k, v) => k -> v.toString } + ("family" -> family)

  // ------------------------------------------------- bucketed-table twin

  private val PropPrefix = "graft.store."

  private def tableProps(spark: SparkSession, table: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .collect { case (k, v) if k.startsWith(PropPrefix) =>
        k.stripPrefix(PropPrefix) -> v
      }

  /** [[writeOrRequire]] for a BUCKETED store table: params live as
    * `graft.store.*` TBLPROPERTIES. Call AFTER the saveAsTable append
    * (the table must exist).
    */
  def writeOrRequireTable(spark: SparkSession, table: String, family: String,
      params: Map[String, Any]): Unit = {
    val want = normalize(family, params)
    val have = tableProps(spark, table)
    if (have.isEmpty) {
      val props = want.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$PropPrefix$k'='$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($props)")
    } else requireSame(s"table $table", have, want)
  }

  /** [[requireIfPresent]] for a bucketed store table (missing table or
    * absent properties = bootstrap, tolerated).
    */
  def requireIfPresentTable(spark: SparkSession, table: String, family: String,
      params: Map[String, Any]): Unit =
    if (spark.catalog.tableExists(table)) {
      val have = tableProps(spark, table)
      if (have.nonEmpty) requireSame(s"table $table", have, normalize(family, params))
    }

  private def requireSame(storePath: String, have: Map[String, String],
      want: Map[String, String]): Unit = {
    val diff = (have.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      (have.get(k), want.get(k)) match {
        case (a, b) if a == b => None
        case (a, b) =>
          Some(s"$k: store=${a.getOrElse("<absent>")} caller=${b.getOrElse("<absent>")}")
      }
    }
    require(diff.isEmpty,
      s"store at $storePath was written with different parameters than " +
        s"this call uses — refusing to silently mis-match. " +
        diff.mkString("; "))
  }
}
