package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Incremental-state store (SURVEY.md §2.5 I1–I4): a small JSON document
  * on the Hadoop filesystem, byte-compatible with the reference's state
  * files (src/dativo_ingest/validator.py:273-425):
  *
  *  - file skip:    `file_<id>`            → {"last_modified": iso, "file_id": id}
  *  - cursor:       `<object>.<cursor>`    → {"last_value": v, "updated_at": iso}
  *
  * Deliberately NOT a Spark state store — the reference's state is a tiny
  * per-job doc; a Hadoop-FS JSON file works identically on local disk,
  * HDFS, or s3a:// and needs no streaming checkpoint machinery.
  */
final class StateStore(statePath: String, hadoopConf: Configuration) {

  def this(statePath: String, spark: SparkSession) =
    this(statePath, spark.sessionState.newHadoopConf())

  private val path = new Path(statePath)
  private def fs: FileSystem = path.getFileSystem(hadoopConf)

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  /** validator.py:277-294 — empty map when absent or corrupt. */
  def read(): Map[String, Map[String, String]] =
    try {
      if (!fs.exists(path)) Map.empty
      else {
        val in = fs.open(path)
        try {
          val tree = mapper.readTree(in)
          tree.properties().asScala.map { e =>
            val inner = e.getValue.properties().asScala.map { f =>
              f.getKey -> f.getValue.asText()
            }.toMap
            e.getKey -> inner
          }.toMap
        } finally in.close()
      }
    } catch { case _: Exception => Map.empty }

  /** validator.py:296-307 — parent dirs created, whole doc rewritten. */
  def write(state: Map[String, Map[String, String]]): Unit = {
    Option(path.getParent).foreach(fs.mkdirs(_))
    val out = fs.create(path, true)
    try {
      val root = mapper.createObjectNode()
      state.toSeq.sortBy(_._1).foreach { case (k, inner) =>
        val node = root.putObject(k)
        inner.toSeq.sortBy(_._1).foreach { case (ik, iv) => node.put(ik, iv) }
      }
      out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    } finally out.close()
  }

  // ---------------------------------------------------------- file skip (I2)

  /** validator.py:309-349 — ISO string compare; lookback disables skip. */
  def shouldSkipFile(fileId: String, currentModified: String,
      lookbackDays: Int = 0): Boolean = {
    val state = read()
    state.get(s"file_$fileId").flatMap(_.get("last_modified")) match {
      case Some(last) if last.nonEmpty =>
        currentModified <= last && lookbackDays == 0
      case _ => false
    }
  }

  /** validator.py:351-367. */
  def updateFileState(fileId: String, modifiedTime: String): Unit =
    updateFileEntries(Seq(fileId -> modifiedTime))

  /** Partition (id, modifiedTime) file entries into (toProcess, skipped)
    * with a single state read (for ids that aren't FS paths, e.g. Drive
    * file ids).
    */
  def filterUnmodifiedFileEntries(entries: Seq[(String, String)],
      lookbackDays: Int = 0): (Seq[(String, String)], Seq[(String, String)]) = {
    val state = read()
    val (skip, todo) = entries.partition { case (id, mtime) =>
      state.get(s"file_$id").flatMap(_.get("last_modified")) match {
        case Some(last) if last.nonEmpty => mtime <= last && lookbackDays == 0
        case _                           => false
      }
    }
    (todo, skip)
  }

  /** Batch form — one state-doc read + one write for the whole run. */
  def updateFileEntries(entries: Seq[(String, String)]): Unit =
    write(read() ++ entries.map { case (id, mtime) =>
      s"file_$id" -> Map("last_modified" -> mtime, "file_id" -> id)
    })

  // ---------------------------------------------------- spreadsheet skip (I3)

  /** Record processed spreadsheets under `spreadsheet_` keys
    * (validator.py:369-425) — one read + one write for the batch.
    */
  def updateSpreadsheetEntries(entries: Seq[(String, String)]): Unit =
    write(read() ++ entries.map { case (id, mtime) =>
      s"spreadsheet_$id" ->
        Map("last_modified" -> mtime, "spreadsheet_id" -> id)
    })

  /** Partition (id, modifiedTime) spreadsheets into (toProcess, skipped)
    * with a single state read.
    */
  def filterUnmodifiedSpreadsheets(entries: Seq[(String, String)],
      lookbackDays: Int = 0): (Seq[(String, String)], Seq[(String, String)]) = {
    val state = read()
    val (skip, todo) = entries.partition { case (id, mtime) =>
      state.get(s"spreadsheet_$id").flatMap(_.get("last_modified")) match {
        case Some(last) if last.nonEmpty => mtime <= last && lookbackDays == 0
        case _                           => false
      }
    }
    (todo, skip)
  }

  // ------------------------------------------------------------- cursor (I4)

  /** postgres_extractor.py:268-274 — last cursor value for `object.field`. */
  def cursorLastValue(objectName: String, cursorField: String): Option[String] =
    read().get(s"$objectName.$cursorField").flatMap(_.get("last_value"))

  /** postgres_extractor.py:317-328 — persist the max cursor. The Spark
    * port computes a true max(cursor) aggregate rather than trusting
    * "last row of last batch" (which the reference only gets away with
    * because of its ORDER BY).
    */
  def updateCursorState(objectName: String, cursorField: String,
      lastValue: String): Unit = {
    val key = s"$objectName.$cursorField"
    val state = read()
    val prev = state.getOrElse(key, Map.empty)
    write(state + (key -> (prev ++ Map(
      "last_value" -> lastValue,
      "updated_at" -> java.time.LocalDateTime.now().toString))))
  }

  // ------------------------------------------------- file listing helper

  /** Partition a concrete file list into (toProcess, skipped) using the
    * FS modification times — the Spark-side equivalent of the reference's
    * per-file skip loop (csv_extractor.py:130-150). The state doc is read
    * ONCE for the whole list (per-file read() would be O(n) S3 GETs).
    */
  def filterUnmodified(paths: Seq[String], lookbackDays: Int = 0): (Seq[String], Seq[String]) = {
    val state = read()
    val results = paths.map { p =>
      val st: FileStatus = new Path(p).getFileSystem(hadoopConf).getFileStatus(new Path(p))
      val iso = java.time.Instant.ofEpochMilli(st.getModificationTime).toString
      val skip = state.get(s"file_$p").flatMap(_.get("last_modified")) match {
        case Some(last) if last.nonEmpty => iso <= last && lookbackDays == 0
        case _                           => false
      }
      (p, iso, skip)
    }
    (results.filterNot(_._3).map(_._1), results.filter(_._3).map(_._1))
  }

  /** Record current mtimes after a successful run — one read + one write
    * for the whole batch.
    */
  def updateFileStates(paths: Seq[String]): Unit = {
    val updates = paths.map { p =>
      val st = new Path(p).getFileSystem(hadoopConf).getFileStatus(new Path(p))
      s"file_$p" -> Map(
        "last_modified" -> java.time.Instant.ofEpochMilli(st.getModificationTime).toString,
        "file_id" -> p)
    }
    write(read() ++ updates)
  }
}
