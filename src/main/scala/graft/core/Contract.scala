package graft.core

import org.apache.spark.sql.types._

/** ODCS v3.0.2-style data-contract field.
  *
  * Mirrors the reference's asset-definition schema entries
  * (reference: src/dativo_ingest/config.py:195-227 — each field is a dict
  * `{name, type, required, classification?, description?}`).
  */
final case class ContractField(
    name: String,
    odcsType: String,
    required: Boolean = false,
    classification: Option[String] = None,
    description: Option[String] = None
) {

  /** ODCS logical type → Spark type, per the coercion table
    * (reference: src/dativo_ingest/schema_validator.py:174-263 and
    * parquet_writer.py:55-71; see SURVEY.md §1.3).
    * Unknown types fall through to string (parquet_writer.py:69-71).
    */
  def sparkType: DataType = ContractField.sparkTypeOf(odcsType)
}

object ContractField {
  def sparkTypeOf(odcsType: String): DataType =
    odcsType.trim.toLowerCase match {
      case "string"                  => StringType
      case "integer" | "int" | "long" => LongType
      case "float" | "double"        => DoubleType
      case "boolean" | "bool"        => BooleanType
      case "timestamp" | "datetime"  => TimestampType
      case "date"                    => DateType
      case _                         => StringType
    }
}

/** Validation mode, reference semantics (src/dativo_ingest/cli.py:960-983):
  *  - Strict: any invalid record fails the job (exit 2); output schema keeps
  *    `nullable = !required` (parquet_writer.py:74-84).
  *  - Warn: invalid records are kept, job exits 1 ("partial") if any error
  *    occurred; output schema is fully nullable.
  */
sealed trait ValidationMode
object ValidationMode {
  case object Strict extends ValidationMode
  case object Warn extends ValidationMode
  def parse(s: String): ValidationMode = s.trim.toLowerCase match {
    case "strict" => Strict
    case "warn"   => Warn
    case other    => throw new IllegalArgumentException(s"unknown validation mode: $other")
  }
}

/** An ODCS data contract: declared schema + governance metadata.
  * (reference: src/dativo_ingest/config.py:329-375 AssetDefinition).
  */
final case class DataContract(
    name: String,
    version: String = "v1.0",
    domain: Option[String] = None,
    dataProduct: Option[String] = None,
    owner: Option[String] = None,
    retentionDays: Option[Int] = None,
    defaultClassification: Option[String] = None,
    tags: Map[String, String] = Map.empty,
    // compliance/finops metadata (config.py:329-375; used by tag derivation)
    complianceClassification: Seq[String] = Seq.empty,
    regulations: Seq[String] = Seq.empty,
    finops: Map[String, Any] = Map.empty,
    sourceType: Option[String] = None,
    objectName: Option[String] = None,
    fields: Seq[ContractField]
) {
  require(fields.nonEmpty, s"asset '$name' has an empty schema") // config.py:786-823

  def fieldNames: Seq[String] = fields.map(_.name)
  def requiredFields: Seq[ContractField] = fields.filter(_.required)

  /** All-string landing schema used by CSV-ish sources before coercion
    * (reference reads every CSV column as str, csv_extractor.py:152-222).
    */
  def rawStructType: StructType =
    StructType(fields.map(f => StructField(f.name, StringType, nullable = true)))
}
