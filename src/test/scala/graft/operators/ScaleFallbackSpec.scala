package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The 100 TB fallback plans, EXERCISED — not just compiled. Every
  * guard in the dedup family has a dup-catastrophic tail (distributed
  * pointer-jumping connected components, unhinted verify joins, the
  * loser shuffle-anti-join) that small-data runs never take because the
  * driver/broadcast fast paths always win. Forcing the thresholds to 0
  * via the THREAD-scoped `Dedup.withGuards` routes the SAME
  * public calls down the scale plans on sf-test data (without the JVM-
  * global sys.props side channel that could leak into concurrently
  * running suites); the results must be bit-identical to the fast
  * paths, and the wall time is recorded (the `dedup_minhash_forced`
  * bench entry prices it per round).
  */
class ScaleFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def withForcedFallbacks[T](body: => T): T =
    Dedup.withGuards(_.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L))(body)

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")

  test("forced distributed CC labels bit-identically to driver union-find") {
    // a dup-catastrophic pair graph: chains (long diameter — the worst
    // case for label propagation), a star, and singleton edges
    val chain = (0L until 400L).sliding(2).map(w => (w(0), w(1))).toSeq
    val star = (1000L until 1100L).map(i => (999L, i))
    val pairs = (chain ++ star ++ Seq((5000L, 5001L)))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().sorted
    val forced = withForcedFallbacks {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().sorted
    }
    forced shouldBe fast
    fast.count(_._2 == 0L) shouldBe 400 // one chain component rooted at 0
  }

  test("forced fallback near-dup removal matches the fast path on sf0.01") {
    val t0 = System.nanoTime()
    val fast = Dedup.dropNearDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val tFast = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val forced = withForcedFallbacks {
      Dedup.dropNearDuplicates(docs, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
    }
    val tForced = (System.nanoTime() - t1) / 1e9
    info(f"fast path $tFast%.1fs, forced fallback path $tForced%.1fs")
    forced shouldBe fast
    fast.length should be < 500 // some near-dups actually dropped
  }

  test("forced fallback incremental minhash matches the fast path") {
    val store = java.nio.file.Files
      .createTempDirectory("fallback-store-").toString + "/bands"
    val corpus = docs.filter($"doc_id" < 100)
    Dedup.appendBandKeys(corpus, "doc_id", "text", store)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)
    def run(): Array[Long] = Dedup.dropNearDuplicatesIncremental(
      batch, "doc_id", "text",
      spark.read.parquet(store), corpus)
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }

  test("forced fallback incremental simhash matches the fast path") {
    val corpus = docs.filter($"doc_id" < 100)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)
      .union(corpus.filter($"doc_id" < 20)
        .select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val table = "fallback_sc"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dedup.saveBucketedSimhashChunks(corpus, "doc_id", "text", table)
    def run(): (Array[Long], Array[Long]) = (
      Dedup.dropSimhashDuplicatesIncremental(batch, "doc_id", "text",
        Dedup.simhashTable(corpus, "doc_id", "text"))
        .select("doc_id").as[Long].collect().sorted,
      Dedup.dropSimhashDuplicatesIncrementalChunked(batch, "doc_id", "text",
        spark.table(table)).select("doc_id").as[Long].collect().sorted)
    val (fast, fastChunked) = run()
    val (forced, forcedChunked) = withForcedFallbacks(run())
    forced shouldBe fast
    forcedChunked shouldBe fast
    fastChunked shouldBe fast
    fast.exists(_ >= 10000L) shouldBe false // every corpus copy dropped
    spark.sql(s"DROP TABLE $table")
  }

  test("forced fallback incremental embeddings match the fast path") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val corpusRows = (0L until 60L)
      .map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val batch = ((100L until 220L)
      .map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat)) ++
      corpusRows.take(15).map { case (i, v) => (1000L + i) -> v.map(_ + 0.001f) } ++
      (100L until 110L).map(i => (2000L + i) -> Array.fill(dim)(0.5f)))
      .toDF("vec_id", "embedding")
    for (probes <- Seq(1, 2)) withClue(s"probes=$probes: ") {
      val store = Similarity.embeddingBucketKeys(corpus, "vec_id",
        "embedding", planes = 4, tables = 8 / probes, dim = dim)
      def run(): Array[Long] = Similarity.dropNearCorpusEmbeddings(
        batch, "vec_id", "embedding", store, corpus, threshold = 0.99,
        planes = 4, tables = 8 / probes, dim = dim, probes = probes)
        .select("vec_id").as[Long].collect().sorted
      val fast = run()
      withForcedFallbacks(run()) shouldBe fast
      Dedup.withGuards(_.copy(broadcastMaxVecBytes = 1L))(run()) shouldBe fast
      fast.count(i => i >= 1000L && i < 2000L) should be < 15 // copies dropped
      fast.count(_ >= 2000L) shouldBe 1 // one survivor of the identical rows
    }
  }

  test("forced fallback incremental tfidf matches the fast path") {
    val store = java.nio.file.Files
      .createTempDirectory("fallback-tfidf-").toString + "/tfidf"
    Tfidf.saveStore(docs.filter($"doc_id" < 100), "doc_id", "text", store)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)
    def run(): Array[Long] = Tfidf.dropNearCorpusTfidf(
      batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }

  test("forced fallback keep-best removal matches the fast path") {
    def run(): Array[Long] = Dedup.dropNearDuplicatesKeepBest(
      docs.withColumn("len", org.apache.spark.sql.functions.length($"text")),
      "doc_id", "text", "len")
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }

  // ---- the shared cluster tail, per removal flavor: the driver regime
  // (producer bound or one pair count → driver union-find, broadcast
  // loser anti-join), the forced distributed CC, and the driver regime
  // with a zero broadcast ceiling (shuffle loser anti-join) keep the
  // same survivors

  /** Broadcast ceiling 0 with the default driver ceiling: the loser
    * ceiling follows the broadcast ceiling.
    */
  private def withShuffleLosers[T](body: => T): T =
    Dedup.withGuards(_.copy(broadcastMaxPairs = 0L))(body)

  test("cluster tail regimes agree: simhash removal") {
    def run(): Array[Long] =
      Dedup.dropSimhashNearDuplicates(docs, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
    val fast = run()
    withForcedFallbacks(run()) shouldBe fast
    Dedup.withGuards(_.copy(losersBroadcastMax = Some(0L)))(run()) shouldBe fast
    fast.length should be < 500 // some near-dups actually dropped
  }

  test("cluster tail regimes agree: embedding removal") {
    // planted clusters: exact copies (1000+i of i) and a perturbed copy
    // (2000+i) of each, over unrelated random vectors
    val dim = 16
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val planted = base.take(20).flatMap { case (i, v) =>
      Seq(1000L + i -> v.clone(), 2000L + i -> v.map(x => x + 0.001f)) }
    val batch = (base ++ planted).toDF("vec_id", "embedding")
    val corpus = (0L until 50L)
      .map(i => (5000L + i) -> Array.fill(dim)(rnd.nextGaussian().toFloat))
      .toDF("vec_id", "embedding")
    val store = Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 8, dim = dim)
    def run(): Array[Long] = Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "embedding", store, corpus,
      threshold = 0.99, planes = 4, tables = 8, dim = dim)
      .select("vec_id").as[Long].collect().sorted
    val fast = run()
    withForcedFallbacks(run()) shouldBe fast
    withShuffleLosers(run()) shouldBe fast
    fast shouldBe (0L until 200L).toArray // every planted copy dropped
  }

  test("cluster tail regimes agree: tfidf removal") {
    def run(): Array[Long] = Tfidf.dropNearDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    withForcedFallbacks(run()) shouldBe fast
    withShuffleLosers(run()) shouldBe fast
    fast.length should be < 500 // some near-dups actually dropped
  }
}
