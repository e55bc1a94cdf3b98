package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A fitted linear text classifier: a (token, w_micros) weight table
  * plus a bias, both in integer MICRO-units (weight × 1e6, half-up).
  * The table is vocab-bounded by contract (the fastText regime: at most
  * a few million rows of short tokens), so scoring can broadcast it.
  */
case class LinearModel(weights: DataFrame, biasMicros: Long)

/** Model-based quality scoring — the "quality classifier" stage of
  * CCNet / FineWeb-Edu-style pipelines, in fastText's linear shape:
  *
  *   logit(doc) = bias + mean_i weight(token_i)
  *
  * with out-of-vocabulary tokens weighing 0 (reference pipelines train
  * the weights offline; this operator is the 100 TB INFERENCE pass).
  * The score is the LOGIT, not the sigmoid: sigmoid is monotone, so
  * every gate can threshold the logit directly and the pipeline never
  * pays a cross-engine transcendental — `exp()` differs in the last ulp
  * between libms, while the +/× arithmetic here replays bit-exactly.
  *
  * Determinism contract: weights are quantized ONCE (driver-side,
  * half-up) to BIGINT micro-units, per-doc sums are integer and
  * therefore order-independent, and the logit is two exact double
  * divisions at the end — the [[TextAnalysis.tokenEntropySignals]]
  * micro-unit idiom.
  *
  * Scale shape: tokenize/explode is map-side; the weight join
  * BROADCASTS the vocab-bounded table explicitly (a stats misprediction
  * at 100 TB would otherwise shuffle every token posting in the corpus
  * to look up a dictionary); the per-doc aggregate fully
  * partial-aggregates (a document's tokens are colocated), so the one
  * shuffle carries a single (id, n, sum) row per document — never
  * token postings, never text.
  */
object QualityModel {

  /** Quantize a driver-side weight map to a [[LinearModel]] (half-up to
    * micro-units, the one lossy step — everything downstream is exact).
    */
  def fromMap(spark: SparkSession, weights: Map[String, Double],
      bias: Double): LinearModel = {
    import spark.implicits._
    require(weights.nonEmpty, "linear model needs at least one weight")
    val rows = weights.toSeq.map { case (t, w) => (t, micros(w)) }
    LinearModel(rows.toDF("token", "w_micros"), micros(bias))
  }

  private def micros(w: Double): Long = math.floor(w * 1e6 + 0.5).toLong

  /** Quantize a DISTRIBUTED weight table (`token` string, `weight`
    * double) to a [[LinearModel]] — the config-build path, where the
    * offline-trained weights arrive as a parquet table, not a driver
    * map. The quantization is the same half-up micro-unit formula as
    * [[fromMap]] evaluated as a Spark expression over identical double
    * arithmetic (`floor(w * 1e6 + 0.5)`), so a table built this way is
    * bit-identical to one built from the collected map — the vocab
    * never collects to the driver.
    */
  def fromWeightTable(weights: DataFrame, bias: Double): LinearModel = {
    val cols = weights.columns.toSet
    require(cols.contains("token") && cols.contains("weight"),
      s"weight table needs (token, weight) columns; has ${weights.columns.mkString(", ")}")
    // The states fromMap CANNOT represent must REFUSE at build, not
    // certify: duplicate tokens (the scoring join re-adds each
    // occurrence and inflates n_tokens — the corruption
    // [[weightsFingerprint]] exists to catch), NULL tokens/weights
    // (floor(NULL) quantizes to a null w_micros row that sum() then
    // silently skips, mis-scoring every doc with that token), and an
    // empty table (fromMap's own nonEmpty contract). One aggregate
    // over a vocab-bounded table.
    val d = weights.agg(count(lit(1)), count(col("token")),
      count(col("weight")), count_distinct(col("token"))).collect()(0)
    val (n, nTok, nW, nDist) =
      (d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3))
    require(n > 0, "linear model needs at least one weight")
    require(nTok == n, s"weight table has ${n - nTok} NULL tokens")
    require(nW == n,
      s"weight table has ${n - nW} NULL weights — a null weight " +
        "quantizes to a row the scoring sum silently skips")
    require(nDist == nTok,
      s"weight table has duplicate tokens ($nTok rows, " +
        s"$nDist distinct) — duplicates corrupt every score " +
        "(the token join re-adds each occurrence); dedupe the table first")
    LinearModel(weights.select(col("token").cast("string").as("token"),
      floor(col("weight").cast("double") * 1e6 + 0.5).cast("long")
        .as("w_micros")), micros(bias))
  }

  /** Score a batch under a fitted model. Output: one row per document
    * with at least one token — (id, n_tokens, sum_micros, logit) where
    * `sum_micros` is the exact BIGINT micro-unit weight sum and `logit`
    * is bias + mean token weight (two exact double divisions).
    * Zero-token documents are unscorable and produce no row — mirrors
    * [[LanguageModel.scoreBigrams]]' contract for sub-bigram docs.
    */
  def scoreDocs(batch: DataFrame, model: LinearModel, idCol: String,
      textCol: String): DataFrame = {
    batch
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol)))
        .as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(model.weights), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        coalesce(sum(col("w_micros")), lit(0L)).cast("long")
          .as("sum_micros"))
      .withColumn("logit",
        col("sum_micros").cast("double") /
          (col("n_tokens").cast("double") * lit(1e6)) +
          lit(model.biasMicros).cast("double") / lit(1e6))
  }

  /** Schema-preserving quality gate: keep rows whose logit is at least
    * `minLogit` (equivalently, whose sigmoid quality probability is at
    * least σ(minLogit) — state thresholds in logit space). Zero-token
    * documents drop: a quality model that waves through unscorable text
    * passes exactly the fragments the gate exists to catch. One
    * semi-join on the id — the input row survives untouched.
    */
  def filterByScore(df: DataFrame, model: LinearModel, idCol: String,
      textCol: String, minLogit: Double): DataFrame = {
    val keep = scoreDocs(df, model, idCol, textCol)
      .filter(col("logit") >= minLogit)
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------- persisted model

  /** Order-independent content fingerprint of a weight table: the row
    * count plus the EXACT decimal sum of per-row
    * xxhash64(token, w_micros) — layout/partitioning invariant, one
    * aggregate over a vocab-bounded table. Sum, not XOR: an XOR fold is
    * blind to rows replicated an odd number of times (h ⊕ h ⊕ h = h),
    * and replicated weight rows DO corrupt scoring (the token join
    * multiplies in-vocabulary counts while OOV tokens still count
    * once) — the multiplicity-sensitive sum catches every replication.
    * decimal(38,0) holds the sum exactly for any realistic vocab
    * (|hash| < 2⁶³ → 19 digits + millions of rows ≪ 38 digits).
    */
  private def weightsFingerprint(weights: DataFrame): (Long, String) = {
    val r = weights.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col("token"), col("w_micros"))
          .cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Persist a fitted model (overwrite — the store IS the fit; the
    * [[LanguageModel.saveModel]] contract). Micro-unit longs and token
    * strings round-trip parquet exactly, so stored scoring is
    * bit-identical to in-flight scoring. A [[graft.core.StoreMeta]]
    * sidecar stamps the store kind + weight-table fingerprint, so
    * [[loadModel]] refuses a directory that merely LOOKS like a model
    * store (right columns, wrong or corrupt content) — the same
    * self-describing contract every sq/ivfsq/lsh store carries.
    */
  def saveModel(model: LinearModel, storePath: String): Unit = {
    model.weights.write.mode("overwrite").parquet(s"$storePath/weights")
    val spark = model.weights.sparkSession
    spark.range(1)
      .select(lit(model.biasMicros).as("bias_micros"))
      .write.mode("overwrite").parquet(s"$storePath/_meta")
    val (n, fp) = weightsFingerprint(
      spark.read.parquet(s"$storePath/weights"))
    graft.core.StoreMeta.overwrite(spark, storePath, "quality_model", Map(
      "bias_micros" -> model.biasMicros,
      "n_weights" -> n,
      "weights_fp" -> fp))
  }

  /** Load a persisted model. A MISSING store is an error, not a
    * bootstrap — scoring against an absent fit has no semantics.
    * A present [[graft.core.StoreMeta]] sidecar must match the loaded
    * content: kind `quality_model`, the stored bias, and the weight
    * table's recomputed fingerprint — so a foreign parquet directory
    * with plausible columns, or a store whose weights were mutated
    * behind the sidecar, refuses loudly instead of silently mis-scoring
    * every document.
    */
  def loadModel(spark: SparkSession, storePath: String): LinearModel = {
    val metaRows =
      try spark.read.parquet(s"$storePath/_meta").collect()
      catch {
        case graft.core.PathNotFound(_) =>
          throw new IllegalArgumentException(
            s"quality model store missing at $storePath — a missing " +
              "store is an error, not a bootstrap: scoring against an " +
              "absent fit has no semantics (write one with saveModel)")
      }
    require(metaRows.nonEmpty,
      s"quality model store at $storePath has an empty _meta — " +
        "corrupt or partially-written store; re-run saveModel")
    val bias = metaRows(0).getAs[Long]("bias_micros")
    val weights = spark.read.parquet(s"$storePath/weights")
    val (n, fp) = weightsFingerprint(weights)
    val params = Map[String, Any]("bias_micros" -> bias,
      "n_weights" -> n, "weights_fp" -> fp)
    graft.core.StoreMeta.read(spark, storePath) match {
      case Some(have) if !have.contains("n_weights") &&
          have.get("family").contains("quality_model") &&
          have.get("bias_micros").contains(bias.toString) =>
        // legacy sidecar (the interim XOR-fold fingerprint, which had
        // no n_weights key): a healthy store saved under the old form
        // must MIGRATE, not brick — restamp with the
        // multiplicity-sensitive form. Migration is gated on the
        // sidecar actually BEING a legacy quality_model record (family
        // matches and the bias — present in both forms — agrees with
        // _meta); a sidecar of any other family, or one whose bias
        // drifted from the store content, falls through to
        // requireIfPresent below and refuses loudly instead of being
        // silently re-certified. Trust level equals a sidecar-less
        // store (which requireIfPresent tolerates by contract); from
        // here on the new fingerprint guards it.
        graft.core.StoreMeta.overwrite(spark, storePath,
          "quality_model", params)
      case _ =>
        graft.core.StoreMeta.requireIfPresent(spark, storePath,
          "quality_model", params)
    }
    LinearModel(weights, bias)
  }
}
