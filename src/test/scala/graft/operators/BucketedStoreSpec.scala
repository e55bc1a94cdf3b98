package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The bucketed incremental stores must (a) produce the SAME results as
  * the plain parquet stores and (b) eliminate the store-side Exchange —
  * the property that matters at 100 TB, where a plain store's key column
  * is re-shuffled on every batch because the anti/LSH join can neither
  * broadcast the corpus nor build against the batch.
  */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Shuffle (not broadcast) exchanges in the initial plan. */
  private def shuffles(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  /** At test scale the tiny plain store would auto-BROADCAST, hiding the
    * store-side shuffle a 100 TB corpus must pay — disable it so both
    * plans take the sort-merge shape the property is about.
    */
  private def withoutAutoBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog by the river"),
    (2L, "an altogether different sentence about compilers and parsers"),
    (3L, "a third corpus document mentioning gardens and steady rain")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "THE QUICK brown fox jumps over the lazy dog by the river"), // corpus dup
    (11L, "a genuinely new document about sailing across the bay"),
    (12L, "a genuinely new document about sailing across the bay"), // in-batch dup
    (13L, "another fresh document highlighting mountains and snowfall")
  ).toDF("doc_id", "text")

  test("bucketed fingerprint store: same rows, store side reads with no Exchange") {
    val table = "bspec_fp"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.saveBucketedFingerprints(corpus, "text", table)
    // appends stay bucket-aligned (no rewrite, still one table)
    Dedup.saveBucketedFingerprints(
      Seq((4L, "late-arriving corpus text about harbors")).toDF("doc_id", "text"),
      "text", table)
    val viaBucketed = Dedup.dropDuplicatesIncremental(
      batch, "doc_id", "text", spark.table(table))
    val viaPlain = Dedup.dropDuplicatesIncremental(
      batch, "doc_id", "text",
      corpus.union(Seq((4L, "late-arriving corpus text about harbors"))
        .toDF("doc_id", "text"))
        .select(Dedup.fingerprint($"text").as("fp")))
    viaBucketed.select("doc_id").as[Long].collect().sorted shouldBe
      viaPlain.select("doc_id").as[Long].collect().sorted
    viaBucketed.select("doc_id").as[Long].collect().sorted shouldBe
      Array(11L, 13L)
    // the ONLY difference between the two plans is the store-side
    // shuffle (fresh frames: a Dataset caches its plan at first action)
    withoutAutoBroadcast {
      val b = Dedup.dropDuplicatesIncremental(
        batch, "doc_id", "text", spark.table(table))
      val p = Dedup.dropDuplicatesIncremental(
        batch, "doc_id", "text",
        corpus.select(Dedup.fingerprint($"text").as("fp")))
      shuffles(b) shouldBe shuffles(p) - 1
    }
    spark.sql(s"DROP TABLE $table")
  }

  test("bucketed band-key store: incremental near-dup identical, fewer shuffles") {
    val table = "bspec_bk"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.saveBucketedBandKeys(corpus, "doc_id", "text", table)
    val viaBucketed = Dedup.dropNearDuplicatesIncremental(
      batch, "doc_id", "text", spark.table(table), corpus)
    val viaPlain = Dedup.dropNearDuplicatesIncremental(
      batch, "doc_id", "text",
      Dedup.minhashBandKeys(corpus, "doc_id", "text"), corpus)
    viaBucketed.select("doc_id").as[Long].collect().sorted shouldBe
      viaPlain.select("doc_id").as[Long].collect().sorted
    // on the DEFAULT path the batch side is pinned broadcast and the
    // store streams either way; the bucketed win appears exactly in the
    // dup-catastrophic fallback where the pin drops and the LSH join
    // goes sort-merge — force it and the store-side shuffle vanishes.
    // Caches are cleared before each build so both plans print their
    // full trees (cached subtrees would hide their internal shuffles).
    def forcedShuffles(store: => DataFrame): Int = withoutAutoBroadcast {
      graft.core.CacheScope.releaseAll()
      spark.catalog.clearCache()
      shuffles(Dedup.dropNearDuplicatesIncremental(
        batch, "doc_id", "text", store, corpus))
    }
    Dedup.withGuards(_.copy(broadcastMaxPairs = 0L)) {
      val b = forcedShuffles(spark.table(table))
      val p = forcedShuffles(Dedup.minhashBandKeys(corpus, "doc_id", "text"))
      b should be < p
    }
    spark.sql(s"DROP TABLE $table")
  }

  test("bucketed simhash-chunk store: identical results, store side reads with no Exchange") {
    val table = "bspec_sc"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.saveBucketedSimhashChunks(corpus, "doc_id", "text", table)
    val viaBucketed = Dedup.dropSimhashDuplicatesIncrementalChunked(
      batch, "doc_id", "text", spark.table(table))
    val viaPlain = Dedup.dropSimhashDuplicatesIncremental(
      batch, "doc_id", "text", Dedup.simhashTable(corpus, "doc_id", "text"))
    viaBucketed.select("doc_id").as[Long].collect().sorted shouldBe
      viaPlain.select("doc_id").as[Long].collect().sorted
    // the bucketed win appears in the non-broadcast (100 TB tail)
    // regime, where the chunk join goes sort-merge: the pre-exploded
    // store streams in place while the (id, sh) store must explode and
    // shuffle its chunks every batch
    def forcedShuffles(body: => DataFrame): Int = withoutAutoBroadcast {
      graft.core.CacheScope.releaseAll()
      spark.catalog.clearCache()
      shuffles(body)
    }
    Dedup.withGuards(_.copy(broadcastMaxPairs = 0L)) {
      val b = forcedShuffles(Dedup.dropSimhashDuplicatesIncrementalChunked(
        batch, "doc_id", "text", spark.table(table)))
      val p = forcedShuffles(Dedup.dropSimhashDuplicatesIncremental(
        batch, "doc_id", "text", Dedup.simhashTable(corpus, "doc_id", "text")))
      b should be < p
    }
    spark.sql(s"DROP TABLE $table")
  }

  test("stale-warehouse bootstrap guard: missing table + existing location fails loudly") {
    // the cross-process hazard: a previous RunJob wrote the table, this
    // session's in-memory catalog can't see it — bootstrapping would
    // silently disable incremental dedup and commit duplicates
    val table = "bspec_stale_guard"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).toString))
    java.nio.file.Files.createDirectories(loc)
    try {
      val e = the[IllegalStateException] thrownBy
        Dedup.readBucketedFingerprints(spark, table)
      e.getMessage should include("warehouse location")
      (the[IllegalStateException] thrownBy
        Dedup.readBucketedBandKeys(spark, table))
        .getMessage should include("GRAFT_CATALOG=hive")
      (the[IllegalStateException] thrownBy
        Dedup.readBucketedSimhashChunks(spark, table))
        .getMessage should include("stale location")
    } finally java.nio.file.Files.deleteIfExists(loc)
    // location gone → genuine first run → bootstrap works again
    Dedup.readBucketedFingerprints(spark, table).count() shouldBe 0
  }

  test("bootstrap guard: db-qualified table in a nonexistent database bootstraps") {
    // no database → no warehouse dir to collide with → the documented
    // day-1 empty-store bootstrap, not a NoSuchDatabaseException crash
    Dedup.readBucketedFingerprints(spark, "no_such_db_bspec.fp")
      .count() shouldBe 0
    Dedup.readBucketedBandKeys(spark, "no_such_db_bspec.bands")
      .count() shouldBe 0
  }

  test("bucketed embedding-bucket store: incremental embedding dedup identical") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i => math.sin(seed * 31 + i).toFloat)
    val corp = Seq((1L, vec(1)), (2L, vec(9))).toDF("vec_id", "emb")
    val bat = Seq((10L, vec(1)), (11L, vec(40))).toDF("vec_id", "emb")
    val table = "bspec_eb"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Similarity.saveBucketedEmbeddingBuckets(corp, "vec_id", "emb", table,
      planes = 4, tables = 2, dim = dim)
    val out = Similarity.dropNearCorpusEmbeddings(bat, "vec_id", "emb",
      spark.table(table), corp, threshold = 0.95,
      planes = 4, tables = 2, dim = dim)
    out.select("vec_id").as[Long].collect().sorted shouldBe Array(11L)
    spark.sql(s"DROP TABLE $table")
  }
}
