package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** How one vector family is stored and scored — the codec half of
  * [[Similarity]]'s vector core ([[Coarse]] is the other half). A codec
  * owns every per-family decision: the corpus and query encodings, the
  * pair score with its sort direction and null contract, the `_meta`
  * kind strings and keys of its stores, and the `_train` artifacts a
  * separate probing process needs. The core owns everything that is
  * the same for all of them: the list-partitioned store layout,
  * probed-list pruning, the scoring tail and the raw-store refine.
  *
  * Column contract: the corpus payload ([[corpus]], named [[payload]])
  * is both what a store holds and what the score reads, so a stored
  * and an in-memory corpus score identically; the query payload
  * ([[query]]) rides in the broadcast query frame.
  */
private[graft] sealed trait Codec {
  /** Output score column (`sim`, `adc` or `hamming`). */
  def score: String
  def ascending: Boolean
  /** `_meta` kind of the codec's flat and list-partitioned stores. */
  def flatKind: String
  def ivfKind: String
  /** Codec `_meta` keys; the coarse stage adds its own in front. */
  def metaKeys: Map[String, Any]
  def payload: Seq[String]
  def corpus(v: Column): Seq[Column]
  def query(v: Column): Seq[Column]
  def scoreExpr: Column
  /** Vectors the codec cannot encode, dropped on BOTH sides first. */
  def encodable(v: Column): Option[Column] = None
  /** Pair filter applied before scoring. */
  def pairFilter: Option[Column] = None
  /** Drop null scores after scoring (nulls would sort first under asc). */
  def dropNullScore: Boolean = false
  /** Encode `v − centroid(list)` and build one query LUT per probe row. */
  def residual: Boolean = false
  /** Training artifacts a probe needs, under `storePath/_train`. */
  def writeTrain(spark: SparkSession, storePath: String): Unit = ()
}

private[graft] object Codec {

  /** Raw float vectors scored by exact cosine (`sim` DESC). Zero-NORM
    * rows drop before scoring: 0/0 is the one case ANSI division
    * throws on; a NULL dot (the documented over-length/length-mismatch
    * contract) stays a null sim and ranks as before.
    */
  case object Flat extends Codec {
    val score = "sim"
    val ascending = false
    val flatKind = "flat"
    val ivfKind = "ivf"
    val metaKeys: Map[String, Any] = Map.empty
    val payload = Seq("v", "cn")
    def corpus(v: Column): Seq[Column] =
      Seq(v.as("v"), Similarity.norm(v).as("cn"))
    def query(v: Column): Seq[Column] =
      Seq(v.as("qv"), Similarity.norm(v).as("qn"))
    def scoreExpr: Column =
      Similarity.dotDouble(col("qv"), col("v")) / (col("qn") * col("cn"))
    override def pairFilter: Option[Column] =
      Some(col("qn") =!= 0.0 && col("cn") =!= 0.0)
  }

  /** 8-bit scalar quantization (FAISS QT_8bit shape): dim code bytes per
    * row, asymmetric L2² decoded straight from the bytes (`adc` ASC).
    * Each division happens exactly once per dim so the oracle's inline
    * 255.0/(mx−mn) and (mx−mn)/255.0 reproduce the same IEEE bits;
    * degenerate (max == min) dims encode 0 and decode to min.
    */
  final case class Sq8(mins: Array[Double], maxs: Array[Double])
      extends Codec {
    val score = "adc"
    val ascending = true
    val flatKind = "sq8"
    val ivfKind = "ivfsq"
    def metaKeys: Map[String, Any] = Map("dim" -> mins.length,
      "params_md5" -> Similarity.vectorSetFingerprint(Seq(mins, maxs)))
    val payload = Seq("codes")
    private def scales = Array.tabulate(mins.length)(i =>
      if (maxs(i) > mins(i)) 255.0 / (maxs(i) - mins(i)) else 0.0)
    private def steps = Array.tabulate(mins.length)(i =>
      if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255.0 else 0.0)
    def corpus(v: Column): Seq[Column] =
      Seq(graft.functions.SqCodes(v, mins, scales).as("codes"))
    def query(v: Column): Seq[Column] = Seq(v.as("qv"))
    def scoreExpr: Column =
      graft.functions.SqDist(col("qv"), col("codes"), mins, steps)
    override def dropNullScore = true
    override def writeTrain(spark: SparkSession, storePath: String): Unit =
      Similarity.writeSqTrainParams(spark, storePath, mins, maxs)
  }

  /** Product quantization: m code ints per row, the query's m·numCodes
    * distance LUT computed once per query (per probe row when
    * `residual`), ADC = ‖q − recon(codes)‖² (`adc` ASC). A corpus vector
    * that fails to encode (null, short, or containing a null element)
    * has null codes → null ADC, dropped after scoring.
    */
  final case class Pq(codebook: Array[Double], m: Int, numCodes: Int,
      dsub: Int, override val residual: Boolean = false) extends Codec {
    val score = "adc"
    val ascending = true
    val flatKind = "pq"
    val ivfKind = "ivfpq"
    def metaKeys: Map[String, Any] = Map(
      "codebook_md5" -> Similarity.vectorSetFingerprint(Seq(codebook)),
      "m" -> m, "numCodes" -> numCodes, "dsub" -> dsub) ++
      (if (residual) Map("residual" -> true) else Map.empty)
    val payload = Seq("codes")
    def corpus(v: Column): Seq[Column] = Seq(graft.functions.PqCodes(v,
      codebook, m, numCodes, dsub).as("codes"))
    def query(v: Column): Seq[Column] = Seq(graft.functions.PqLut(v,
      codebook, m, numCodes, dsub).as("lut"))
    def scoreExpr: Column =
      graft.functions.PqAdc(col("lut"), col("codes"), numCodes)
    override def dropNullScore = true
    override def writeTrain(spark: SparkSession, storePath: String): Unit =
      Similarity.writePqCodebook(spark, storePath, codebook, m, numCodes,
        dsub)
  }

  /** 1-bit sign quantization: dim sign bits packed into 32-bit words,
    * ranked by Hamming distance (`hamming` ASC, exact integer
    * arithmetic). The identity-basis "planes" make
    * [[graft.functions.HyperplaneBits]]' dot-sign bit j just sign(x_j).
    * Words hold at most 32 bits, NOT 64, so the packed value and its
    * oracle replay (`1::BIGINT << j`, j < 32) never touch the long sign
    * bit; dim ≤ 32 packs into ONE word of dim bits, larger dims must be
    * a multiple of 32.
    */
  final case class Sign(dim: Int) extends Codec {
    val score = "hamming"
    val ascending = true
    val flatKind = "binary"
    val ivfKind = "ivf_binary"
    def metaKeys: Map[String, Any] = Map("dim" -> dim)
    val payload = Seq("cb")
    private def wordBits: Int = {
      require(dim <= 32 || dim % 32 == 0,
        s"binary quantization needs dim <= 32 or dim % 32 == 0: $dim")
      if (dim <= 32) dim else 32
    }
    private def words(v: Column): Column = graft.functions.HyperplaneBits(v,
      (0 until dim).map(j => Array.tabulate(dim)(i => if (i == j) 1.0 else 0.0)),
      wordBits)
    def corpus(v: Column): Seq[Column] = Seq(words(v).as("cb"))
    def query(v: Column): Seq[Column] = Seq(words(v).as("qb"))
    def scoreExpr: Column = (0 until dim / wordBits)
      .map(w => expr(s"bit_count(element_at(qb, ${w + 1}) ^ " +
        s"element_at(cb, ${w + 1}))").cast("long"))
      .reduce(_ + _)
    /** True iff the first `dim` elements exist and are non-null:
      * HyperplaneBits maps a degenerate vector to the all-zero pattern
      * (fine for LSH bucket keys, which only need equality), but a
      * ranked Hamming scan would score that pattern as a real
      * candidate, so degenerate rows are filtered out instead.
      */
    override def encodable(v: Column): Option[Column] = Some(v.isNotNull &&
      (size(v) >= dim) && !exists(slice(v, 1, dim), x => x.isNull))
  }
}
