package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Every incremental key-store family in both layouts keeps the same
  * contract: a missing store reads as the family's typed empty frame,
  * appends accumulate, a store written under different params refuses
  * both read and append, and (table layout) a missing table whose
  * warehouse directory exists refuses instead of bootstrapping.
  */
class KeyStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Int) =
    Array.tabulate(dim)(i => math.sin(seed * 31 + i).toFloat)

  private def batch(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, vec(id.toInt)) }
      .toDF("doc_id", "text", "emb")

  private val b1 = batch(
    1L -> "the quick brown fox jumps over the lazy dog by the river",
    2L -> "an altogether different sentence about compilers and parsers")
  private val b2 = batch(
    3L -> "a third corpus document mentioning gardens and steady rain")

  /** (name, family, the same family under different params, source column) */
  private val families = Seq(
    ("fingerprint", Dedup.fingerprintFamily,
      Dedup.fingerprintFamily.copy(params = Map("norm" -> "case-preserving:md5")),
      "text"),
    ("minhash_band_keys", Dedup.bandKeyFamily(), Dedup.bandKeyFamily(bands = 8),
      "text"),
    ("simhash", Dedup.simhashFamily(), Dedup.simhashFamily(bits = 32), "text"),
    ("simhash_chunks", Dedup.simhashChunkFamily(),
      Dedup.simhashChunkFamily(hasher = Dedup.SimhashHasher.Md5_60), "text"),
    ("embedding_buckets",
      Similarity.embeddingBucketFamily(planes = 4, tables = 2, dim = dim),
      Similarity.embeddingBucketFamily(planes = 8, tables = 2, dim = dim),
      "emb"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  for ((name, family, mismatched, src) <- families;
       tableLayout <- Seq(false, true)) {
    val layoutName = if (tableLayout) "table" else "path"

    test(s"$name × $layoutName: bootstrap, append, param refusal") {
      val where =
        if (tableLayout) s"ksspec_${name}"
        else Files.createTempDirectory(s"ksspec-$name-").toString + "/store"
      if (tableLayout) spark.sql(s"DROP TABLE IF EXISTS $where")
      val store = KeyStore(family, StoreLayout(where, table = tableLayout))
      // missing store: the typed empty frame
      val empty = store.read(spark)
      empty.count() shouldBe 0L
      empty.schema shouldBe family.schema
      // two appends read back as their union
      store.append(b1, "doc_id", src)
      store.append(b2, "doc_id", src)
      val written = store.read(spark)
      rows(written) shouldBe
        rows(family.keys(b1.union(b2), "doc_id", src))
      columns(written) shouldBe columns(empty)
      // a different parameterization refuses both ways, writing nothing
      val other = KeyStore(mismatched, store.layout)
      an[IllegalArgumentException] should be thrownBy other.read(spark)
      an[IllegalArgumentException] should be thrownBy
        other.append(b1, "doc_id", src)
      rows(store.read(spark)) shouldBe rows(written)
      if (tableLayout) spark.sql(s"DROP TABLE $where")
    }

    if (tableLayout)
      test(s"$name × table: missing table over an existing warehouse dir refuses") {
        val table = s"ksspec_stale_$name"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val loc = java.nio.file.Paths.get(new java.net.URI(
          spark.sessionState.catalog.defaultTablePath(
            spark.sessionState.sqlParser.parseTableIdentifier(table)).toString))
        Files.createDirectories(loc)
        val store = KeyStore(family, StoreLayout.Table(table))
        try {
          (the[IllegalStateException] thrownBy store.read(spark))
            .getMessage should include("warehouse location")
        } finally Files.deleteIfExists(loc)
        store.read(spark).count() shouldBe 0L
      }
  }
}
