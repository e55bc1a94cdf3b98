package graft.sources

import graft.operators.MarkdownKv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Markdown-KV file source (SURVEY.md §2.1 S10).
  *
  * The reference DECLARES this connector (registry/connectors.yaml:49-58,
  * fixture tests/fixtures/jobs/markdown_kv_source_to_iceberg.yaml) but has
  * no native extractor — cli.py:606-614 falls through to "Unsupported
  * source type". The Spark port closes that gap natively: whole-file text
  * scan → doc_id from the file name → M2–M5 parse. Documented divergence
  * (a feature the reference lacks).
  *
  * Scale note: `wholetext` makes one task per file — right for a corpus of
  * many documents; a single multi-GB file should be split upstream.
  */
object MarkdownKvSource {

  /** Raw scan: one row per file `{doc_id, markdown_kv_content}`; doc_id =
    * file base name without extension (matching the fixture's file-per-doc
    * layout).
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("wholetext", "true").text(paths: _*)
      .select(
        regexp_extract(input_file_name(), "([^/]+?)(?:\\.[^./]*)?$", 1).as("doc_id"),
        col("value").as("markdown_kv_content"))

  /** Parsed scan, `row_per_kv` mode. */
  def readRowPerKv(spark: SparkSession, paths: Seq[String],
      extractedAt: Timestamp = new Timestamp(System.currentTimeMillis())): DataFrame =
    MarkdownKv.parseRowPerKv(read(spark, paths), "markdown_kv_content", "doc_id",
      extractedAt).toDF()
}
