package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exit-code contract (reference: src/dativo_ingest/cli.py:1123-1129):
  * 0 = success, 1 = partial (warn-mode errors), 2 = failure / no valid rows.
  */
object ExitCodes {
  val Success = 0
  val Partial = 1
  val Failure = 2
}

/** Result of validating one batch DataFrame. `data` is the validated
  * (possibly filtered/projected) frame; the error metrics are collected on
  * the SAME pass via `observe()` — no second scan of the source
  * (the reference counts errors record-by-record in the same loop,
  * schema_validator.py:145-172; a second `.filter().count()` action would
  * rescan 100 TB, so we refuse to do that).
  */
final case class ValidationResult(
    data: DataFrame,
    observationName: String,
    requiredFields: Seq[String]
)

/** Validation operators T1–T5 (SURVEY.md §2.2), re-expressed as declarative
  * DataFrame transforms so Catalyst can pipeline scan→coerce→filter→write
  * in one whole-stage-codegen pass.
  *
  * Reference semantics (src/dativo_ingest/schema_validator.py:58-143):
  *  - a record is invalid on ANY error: a null/absent required field
  *    (`missing_required`) or a failed coercion on any declared field,
  *    required or not (`type_mismatch`); `is_valid = len(errors)==0`.
  *  - strict mode drops invalid records (and the job fails if any were
  *    dropped, cli.py:971-983); output has only declared fields.
  *  - warn mode keeps every record and appends undeclared columns
  *    (parquet_writer.py:200-285). Documented divergence: on a failed
  *    coercion the reference keeps the original value in the (string-typed)
  *    output cell; we keep a typed NULL so the declared column types hold.
  *  - error summary counts by error type and field
  *    (schema_validator.py:265-302).
  */
object Validation {

  private def fieldSrcType(df: DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  /** Coerce every contract field (T1) from a raw frame. Missing declared
    * columns materialize as typed NULLs — the reference treats an absent
    * key like a null value (schema_validator.py:77-86).
    */
  def coerceToContract(raw: DataFrame, contract: DataContract): DataFrame =
    raw.select(coercedCols(raw, contract): _*)

  private def coercedCols(raw: DataFrame, contract: DataContract): Seq[Column] = {
    val src = fieldSrcType(raw)
    contract.fields.map { f =>
      src.get(f.name) match {
        case Some(dt) => Coercion.coerce(col(f.name), f.odcsType, dt).as(f.name)
        case None     => lit(null).cast(f.sparkType).as(f.name)
      }
    }
  }

  /** Predicate: every required field present and non-null (T2). */
  def requiredPredicate(contract: DataContract, df: DataFrame): Column = {
    val present = df.columns.toSet
    val checks = contract.requiredFields.map { f =>
      if (present.contains(f.name)) col(f.name).isNotNull else lit(false)
    }
    if (checks.isEmpty) lit(true) else checks.reduce(_ && _)
  }

  /** Predicate: the record has NO validation error — all required fields
    * non-null and no declared field fails coercion (the reference's
    * `is_valid`, schema_validator.py:134-137). When `corruptCol` is set
    * (a source-level corrupt-record column, e.g. JSONL's
    * `_corrupt_record`), a non-null value there is an error in itself:
    * an unparseable line must NEVER count as a valid record, even under
    * a contract with no required fields (where its all-null shape would
    * otherwise sail through).
    */
  def validPredicate(contract: DataContract, raw: DataFrame,
      corruptCol: Option[String] = None): Column = {
    val src = fieldSrcType(raw)
    val noMismatch = contract.fields.flatMap { f =>
      src.get(f.name).map(dt => !Coercion.coercionError(col(f.name), f.odcsType, dt))
    }
    val notCorrupt = corruptCol.filter(raw.columns.contains).map(col(_).isNull)
    (requiredPredicate(contract, raw) +: (noMismatch ++ notCorrupt)).reduce(_ && _)
  }

  /** Error-summary aggregate expressions (T4): one count per
    * (error_type, field), computed in the same job via observe(). A
    * configured `corruptCol` adds a `corrupt_record:` counter so
    * source-level parse failures are first-class errors (they also trip
    * the exit code via [[exitCode]]'s any-nonzero-metric rule).
    */
  def errorMetrics(raw: DataFrame, contract: DataContract,
      corruptCol: Option[String] = None): Seq[Column] = {
    val src = fieldSrcType(raw)
    val missing = contract.requiredFields.map { f =>
      val cond =
        if (src.contains(f.name)) col(f.name).isNull else lit(true)
      sum(when(cond, 1L).otherwise(0L)).as(s"missing_required:${f.name}")
    }
    val mismatch = contract.fields.flatMap { f =>
      src.get(f.name).flatMap { dt =>
        if (f.odcsType.trim.toLowerCase == "string") None
        else Some(
          sum(when(Coercion.coercionError(col(f.name), f.odcsType, dt), 1L)
            .otherwise(0L)).as(s"type_mismatch:${f.name}"))
      }
    }
    val corrupt = corruptCol.filter(raw.columns.contains).map { c =>
      sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"corrupt_record:$c")
    }
    count(lit(1)).as("records") +: (missing ++ mismatch ++ corrupt)
  }

  /** Per-record error details (T4's retained-error surface,
    * schema_validator.py:265-302: the reference keeps the first 100 error
    * dicts). Returns one row per (record, field, error_type); callers
    * order + limit — e.g. `.orderBy("record_id", "field").limit(100)` for
    * the reference's first-100 semantics under a deterministic order.
    */
  def errorDetails(raw: DataFrame, contract: DataContract, idCol: String,
      corruptCol: Option[String] = None): DataFrame = {
    val src = fieldSrcType(raw)
    val corruptErrs: Seq[Column] =
      corruptCol.filter(raw.columns.contains).toSeq.map { c =>
        when(col(c).isNotNull, struct(
          lit(c).as("field"),
          lit("corrupt_record").as("error_type"),
          lit("Source line failed to parse").as("message")))
          .otherwise(lit(null))
      }
    val errs: Seq[Column] = corruptErrs ++
      contract.requiredFields.map { f =>
        val cond =
          if (src.contains(f.name)) col(f.name).isNull else lit(true)
        when(cond, struct(
          lit(f.name).as("field"),
          lit("missing_required").as("error_type"),
          lit(s"Required field '${f.name}' is missing").as("message")))
          .otherwise(lit(null))
      } ++
        contract.fields.flatMap { f =>
          src.get(f.name).flatMap { dt =>
            if (f.odcsType.trim.toLowerCase == "string") None
            else Some(
              when(Coercion.coercionError(col(f.name), f.odcsType, dt), struct(
                lit(f.name).as("field"),
                lit("type_mismatch").as("error_type"),
                lit(s"Field '${f.name}' type mismatch").as("message")))
                .otherwise(lit(null)))
          }
        }
    raw.select(col(idCol).as("record_id"), array(errs: _*).as("__errs"))
      .select(col("record_id"), explode(col("__errs")).as("e"))
      .filter(col("e").isNotNull)
      .select(col("record_id"), col("e.field").as("field"),
        col("e.error_type").as("error_type"), col("e.message").as("message"))
  }

  /** The T1–T3 transform WITHOUT metrics instrumentation — strict: drop
    * records with any error → coerce → declared projection; warn: coerce,
    * keep everything, declared ++ extras-as-string in ONE select. Use this
    * twin when a plan must be re-executed freely (e.g. the sink's sizing
    * sample) without consuming an Observation.
    */
  def transform(raw: DataFrame, contract: DataContract, mode: ValidationMode,
      corruptCol: Option[String] = None): DataFrame =
    applyMode(raw, raw, contract, mode, corruptCol)

  private def applyMode(frame: DataFrame, raw: DataFrame, contract: DataContract,
      mode: ValidationMode, corruptCol: Option[String] = None): DataFrame =
    mode match {
    case ValidationMode.Strict =>
      frame
        .filter(validPredicate(contract, raw, corruptCol))
        .select(coercedCols(raw, contract): _*)
    case ValidationMode.Warn =>
      // the corrupt column is accounting machinery, not data: it is
      // dropped AFTER its metric/predicate accounting, never appended
      // as a warn-mode extra (the raw line already failed to parse; warn
      // mode keeps the all-null record itself, matching keep-everything
      // semantics, but not the internal column)
      val extras = raw.columns
        .filterNot(contract.fieldNames.contains)
        .filterNot(c => corruptCol.contains(c))
        .sorted
      frame.select(
        coercedCols(raw, contract) ++
          extras.map(c => col(c).cast(StringType).as(c)): _*)
  }

  /** Full T1–T3 validate+coerce pass over a raw frame. Error counts ride
    * along via observe() on the raw frame so the source is scanned exactly
    * once.
    */
  def validate(
      raw: DataFrame,
      contract: DataContract,
      mode: ValidationMode,
      observationName: String = "validation",
      corruptCol: Option[String] = None
  ): ValidationResult = {
    val metrics = errorMetrics(raw, contract, corruptCol)
    val observed = raw.observe(observationName, metrics.head, metrics.tail: _*)
    ValidationResult(applyMode(observed, raw, contract, mode, corruptCol),
      observationName, contract.requiredFields.map(_.name))
  }

  /** Observation-object variant of [[validate]] — metrics retrievable via
    * `obs.get` after the first action on the returned frame.
    */
  def validate(
      raw: DataFrame,
      contract: DataContract,
      mode: ValidationMode,
      obs: org.apache.spark.sql.Observation,
      corruptCol: Option[String]
  ): ValidationResult = {
    val metrics = errorMetrics(raw, contract, corruptCol)
    val observed = raw.observe(obs, metrics.head, metrics.tail: _*)
    ValidationResult(applyMode(observed, raw, contract, mode, corruptCol),
      obs.name, contract.requiredFields.map(_.name))
  }

  /** Back-compat overload (no corrupt column). */
  def validate(
      raw: DataFrame,
      contract: DataContract,
      mode: ValidationMode,
      obs: org.apache.spark.sql.Observation
  ): ValidationResult = validate(raw, contract, mode, obs, None)

  /** Map observed metrics → exit code per the reference contract
    * (cli.py:960-983, :1123-1129). Branch order matters: warn-with-errors
    * is checked before the zero-valid-records failure, because cli.py
    * tests `has_errors and validation_mode=="warn"` first — warn mode with
    * errors and zero valid records exits 1 (partial), not 2.
    */
  def exitCode(
      mode: ValidationMode,
      metrics: Map[String, Long],
      validRecords: Long
  ): Int = {
    val errors = metrics.collect {
      case (k, v) if k != "records" && v > 0 => v
    }.sum
    if (errors > 0L) mode match {
      case ValidationMode.Warn   => ExitCodes.Partial
      case ValidationMode.Strict => ExitCodes.Failure
    }
    else if (validRecords == 0L) ExitCodes.Failure
    else ExitCodes.Success
  }
}
