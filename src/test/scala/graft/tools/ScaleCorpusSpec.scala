package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The two scale-probe corpus models (r22): `split` keeps per-replica
  * dfs constant (no N-relative df-ceiling signal, no artificial
  * near-dups), `dup` multiplies every token's df by the factor (the
  * production regime for the BM25 maxDf lever). The maxdf scale curve's
  * validity rests on exactly these two properties.
  */
class ScaleCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): String = {
    val in = java.nio.file.Files.createTempDirectory("scale-in-").toString
    Seq((0L, "the cat sat", "en", "web"), (1L, "the dog ran", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$in/documents.parquet")
    Seq((0L, Seq.fill(8)(0.5f), 1L), (1L, (1 to 8).map(_.toFloat), 0L))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$in/embeddings.parquet")
    Seq((1L, "x")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$in/region.parquet")
    in
  }

  private def dfOf(outDir: String): Map[String, Long] =
    spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct().groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("dup model: verbatim replicas, df multiplies by the factor") {
    val in = fixture()
    val out = java.nio.file.Files.createTempDirectory("scale-dup-").toString
    ScaleCorpus.synthesize(spark, in, out, factor = 3, model = "dup")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    docs.count() shouldBe 6
    docs.select("doc_id").as[Long].collect().sorted shouldBe
      Array(0L, 1L, 2L, 3L, 4L, 5L) // offset by factor x (max id + 1)
    val df = dfOf(out)
    df("the") shouldBe 6 // 2 docs x 3 replicas: df grows with N
    df("cat") shouldBe 3
    df.keySet shouldBe Set("the", "cat", "sat", "dog", "ran") // same vocab
  }

  test("split model: per-replica vocabulary, dfs constant") {
    val in = fixture()
    val out = java.nio.file.Files.createTempDirectory("scale-split-").toString
    ScaleCorpus.synthesize(spark, in, out, factor = 3, model = "split")
    val df = dfOf(out)
    df("the") shouldBe 2 // replica 0 verbatim
    df("r1the") shouldBe 2 // replica vocabularies disjoint, df preserved
    df("r2cat") shouldBe 1
    df.size shouldBe 15 // 5 tokens x 3 disjoint vocabularies
  }

  test("unknown model refuses loudly") {
    val in = fixture()
    val out = java.nio.file.Files.createTempDirectory("scale-bad-").toString
    an[IllegalArgumentException] should be thrownBy
      ScaleCorpus.synthesize(spark, in, out, factor = 2, model = "clone")
    an[IllegalArgumentException] should be thrownBy
      ScaleCorpus.requireModel("clone")
  }

  test("reuse: a corpus serves only the model its marker names") {
    val in = fixture()
    val out = java.nio.file.Files.createTempDirectory("scale-reuse-").toString
    ScaleCorpus.reusable(out, "dup") shouldBe false // nothing there yet
    ScaleCorpus.synthesize(spark, in, out, factor = 2, model = "dup")
    ScaleCorpus.reusable(out, "dup") shouldBe true
    val e = the[IllegalArgumentException] thrownBy
      ScaleCorpus.reusable(out, "split")
    e.getMessage should include("'dup', not 'split'")
    // a corpus without a marker (synthesized before markers existed)
    // cannot say which model it is, so it serves neither
    java.nio.file.Files.delete(java.nio.file.Paths.get(out,
      ScaleCorpus.ModelMarker))
    an[IllegalArgumentException] should be thrownBy
      ScaleCorpus.reusable(out, "dup")
  }
}
