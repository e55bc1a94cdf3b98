package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthesize an N× PERFORMANCE-probe corpus from a driver testdata
  * directory — the corpus half of the mechanized scale probe
  * (`GRAFT_BENCH_SCALE=1 runMain graft.Bench`, which forks this main
  * per factor). NOT a correctness input (the oracle gates run only on
  * the driver's own parquet): the point is measured scale CURVES per
  * expensive bench family instead of shuffle stories.
  *
  * TWO document scaling models (`model` arg / `GRAFT_SCALE_MODEL`):
  *
  *  - `split` (default) — a LARGER corpus, not a replicated one: each
  *    replica r > 0 prefixes every token with `r<r>`, so replicas share
  *    no vocabulary. Token-level operators (BM25, TF-IDF, minhash
  *    shingles) see N× the docs and N× the vocab with the per-replica
  *    df distribution PRESERVED — naive duplication would make every
  *    doc an N-way near-dup and measure an artificial all-pairs
  *    explosion, not scale. The deliberate consequence (r20 NOTES):
  *    dfs do NOT grow with N, so any N-relative df ceiling (the BM25
  *    maxDf lever) is inert under this model.
  *  - `dup` (r22) — verbatim doc replicas: dfs grow ∝ N (a stopword
  *    present in most docs stays in most docs), the PRODUCTION regime
  *    for lexical retrieval, where the df-ceiling knob is live. Use it
  *    ONLY for the BM25/maxdf families — under it every document is an
  *    N-way verbatim duplicate, so dedup/near-dup families would
  *    measure an artificial explosion.
  *
  * Shared across models:
  *  - `embeddings`: each replica circularly ROTATES the vector by r
  *    positions — norm and coordinate distribution preserved, rotated
  *    vs original cosine ≈ random, so replicas are not artificial
  *    near-dup pairs. This bounds the factor at the embedding dim:
  *    rotating by ≥ dim either underflows the slice (runtime failure)
  *    or — at exact multiples of dim — reproduces verbatim duplicate
  *    vectors, defeating the no-near-dup design, so the build REFUSES
  *    factor > dim up front.
  *  - ids offset by r × (max id + 1); `region` copied verbatim for the
  *    bench's warm-up/sentinel probe.
  */
object ScaleCorpus {

  def synthesize(spark: SparkSession, inDir: String, outDir: String,
      factor: Int, model: String = "split"): Unit = {
    require(factor >= 1, s"factor must be >= 1: $factor")
    requireModel(model)
    val reps = spark.range(factor).select(col("id").cast("int").as("repl"))

    val docs = spark.read.parquet(s"$inDir/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    val scaledText =
      if (model == "dup") col("text") // verbatim replicas: df ∝ N
      else when(col("repl") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          t => concat(lit("r"), col("repl").cast("string"), t)), " "))
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("repl").cast("long") * maxDoc).as("doc_id"),
        scaledText.as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$inDir/embeddings.parquet")
    // the rotation bound (see scaladoc): factor > dim would slice
    // negative lengths or reproduce exact duplicates
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(factor <= dim,
      s"factor $factor exceeds the embedding dim $dim — rotation by >= " +
        "dim reproduces duplicate vectors (or underflows the slice); " +
        "use a wider corpus or a smaller factor")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("repl").cast("long") * maxVec).as("vec_id"),
        when(col("repl") === 0, col("embedding")).otherwise(
          concat(
            slice(col("embedding"), col("repl") + 1,
              size(col("embedding")) - col("repl")),
            slice(col("embedding"), lit(1), col("repl"))))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    spark.read.parquet(s"$inDir/region.parquet")
      .write.mode("overwrite").parquet(s"$outDir/region.parquet")
    // last: a marker only a complete corpus carries
    val marker = new org.apache.hadoop.fs.Path(outDir, ModelMarker)
    val out = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true)
    try out.write(model.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    System.err.println(s"[scale-corpus] wrote ${factor}x corpus to $outDir")
  }

  /** The file beside a synthesized corpus naming the model it was built
    * under.
    */
  val ModelMarker = "_model"

  /** Refuse any corpus model but `split` and `dup`. */
  def requireModel(model: String): Unit =
    require(model == "split" || model == "dup",
      s"unknown corpus model '$model' (split | dup)")

  /** Whether the local corpus at `outDir` can be reused for `model`:
    * false when there is no complete corpus there, true when its model
    * marker names `model`. A corpus of another model, or one without a
    * marker, is refused: reusing it would measure the other model.
    */
  def reusable(outDir: String, model: String): Boolean =
    new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS").exists() && {
      val marker = java.nio.file.Paths.get(outDir, ModelMarker)
      val have =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker),
            java.nio.charset.StandardCharsets.UTF_8)
        else "<no marker>"
      require(have == model, s"corpus at $outDir was synthesized under " +
        s"model '$have', not '$model': delete it or set another " +
        "GRAFT_SCALE_DIR")
      true
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleCorpus <inDir> <outDir> <factor> [split|dup]")
    val Array(inDir, outDir, factorS) = args.take(3)
    val model = if (args.length == 4) args(3)
      else sys.env.getOrElse("GRAFT_SCALE_MODEL", "split")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try synthesize(spark, inDir, outDir, factorS.toInt, model)
    finally spark.stop()
  }
}
