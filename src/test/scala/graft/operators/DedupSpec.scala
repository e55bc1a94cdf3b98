package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different words entirely here now today friends"),
    (5L, "short text")
  ).toDF("id", "text")

  test("wordShingles: distinct n-grams; short docs empty") {
    val sh = docs.select(col("id"), Dedup.wordShingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    sh(1L) should contain("the quick brown")
    sh(1L).length shouldBe 7 // 9 tokens -> 7 shingles, all distinct
    sh(5L) shouldBe empty
  }

  test("dropExactDuplicates keeps lowest id per normalized text") {
    val out = Dedup.dropExactDuplicates(
      docs.union(Seq((6L, "  THE QUICK  brown fox jumps over the lazy dog"))
        .toDF("id", "text")), "id", "text")
    out.select("id").as[Long].collect().sorted shouldBe Array(1L, 3L, 4L, 5L)
  }

  test("dropDuplicatesIncremental: in-batch keep-min, corpus-known texts dropped") {
    val corpusFp = Seq(Tuple1("known text"))
      .toDF("text").select(Dedup.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (10L, "fresh text"),
      (11L, "FRESH   text"),   // in-batch normalized dup of 10 → dropped
      (12L, "Known TEXT"),     // already in corpus → dropped
      (13L, "another one")
    ).toDF("id", "text")
    Dedup.dropDuplicatesIncremental(batch, "id", "text", corpusFp)
      .select("id").as[Long].collect().sorted shouldBe Array(10L, 13L)
  }

  test("minhash signature is deterministic and length k") {
    val sig = docs.filter($"id" === 1)
      .select(Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 16).as("s"))
    val a = sig.collect()(0).getSeq[Long](0)
    val b = sig.collect()(0).getSeq[Long](0)
    a shouldBe b
    a.length shouldBe 16
  }

  test("minhashNearDupPairs finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 2, threshold = 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got should contain((1L, 2L)) // identical
    got should contain((1L, 3L)) // 6/8 shingles shared = 0.6
    got should contain((2L, 3L))
    got.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  test("minhash plan has no CartesianProduct and shuffles on band key") {
    val plan = Dedup.minhashNearDupPairs(docs, "id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("simhash: identical texts distance 0; near dups small distance") {
    val h = Dedup.withSimhash(docs, "text", "sh")
      .select("id", "sh").as[(Long, Long)].collect().toMap
    h(1L) shouldBe h(2L)
    java.lang.Long.bitCount(h(1L) ^ h(3L)) should be <= 16
    java.lang.Long.bitCount(h(1L) ^ h(4L)) should be > 16
  }

  test("simhashNearDupPairs: exact dup surfaces at hamming 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, "id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
    pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 shouldBe 0
  }

  test("connectedComponents: chains collapse transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    cc(1L) shouldBe 1L
    cc(2L) shouldBe 1L
    cc(3L) shouldBe 1L // reached only through 2
    cc(10L) shouldBe 10L
    cc(11L) shouldBe 10L
  }

  test("connectedComponents: 50-node chain converges inside the default budget") {
    // worst-case diameter: plain min-propagation needs 49 rounds; the
    // pointer-jumping hop must finish within the default maxIterations=20.
    // driverMaxPairs=0 forces the DISTRIBUTED loop (the driver fast path
    // would trivialize the chain)
    val pairs = (0L until 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    cc should have size 50
    all(cc.values) shouldBe 0L
  }

  test("connectedComponents: driver and distributed paths agree exactly") {
    // mixed shapes: chain, star, triangle + bridge, singleton pair
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),            // chain
      (20L, 21L), (20L, 22L), (20L, 23L),      // star
      (30L, 31L), (31L, 32L), (32L, 30L), (32L, 33L), // triangle + bridge
      (40L, 41L))
    val pairs = edges.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    fast shouldBe dist
    fast(4L) shouldBe 1L
    fast(33L) shouldBe 30L
  }

  test("connectedComponents: string ids use the driver path correctly") {
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    cc("c") shouldBe "a"
    cc("y") shouldBe "x"
  }

  test("dropNearDuplicates keeps one survivor per transitive cluster") {
    // a ≈ b (differ in last word), b ≈ c (differ in first word); a vs c
    // differ in both — the chain must still collapse to just `a`
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (3L, "omega beta gamma delta epsilon zeta eta theta kappa"),
      (9L, "completely unrelated words appear in this document here")
    ).toDF("id", "text")
    val out = Dedup.dropNearDuplicates(docs, "id", "text",
      shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6)
    out.select("id").as[Long].collect().sorted shouldBe Array(1L, 9L)
  }

  test("dropNearDuplicates: broadcast and shuffle anti-join paths agree") {
    // a zero loser ceiling forces the over-ceiling shuffle path; the
    // survivor set must be identical to the default broadcast path
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (3L, "omega beta gamma delta epsilon zeta eta theta kappa"),
      (9L, "completely unrelated words appear in this document here")
    ).toDF("id", "text")
    val bcast = Dedup.dropNearDuplicates(docs, "id", "text",
      shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6)
      .select("id").as[Long].collect().sorted
    val shuffle = Dedup.withGuards(_.copy(losersBroadcastMax = Some(0L)))(
      Dedup.dropNearDuplicates(docs, "id", "text",
        shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6)
        .select("id").as[Long].collect().sorted)
    bcast shouldBe shuffle
    bcast shouldBe Array(1L, 9L)
  }

  test("dropNearDuplicatesIncremental: store LSH + in-batch clustering") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "completely different words entirely here now today friends")
    ).toDF("id", "text")
    // band-key store round-trips through parquet (the production shape)
    val storePath = java.nio.file.Files.createTempDirectory("bandstore")
      .toString + "/bands"
    Dedup.appendBandKeys(corpus, "id", "text", storePath,
      shingleN = 2, bands = 16, rowsPerBand = 2)
    // the probe must state the store's LSH params (sidecar-checked)
    val store = Dedup.readBandKeys(spark, storePath,
      shingleN = 2, bands = 16, rowsPerBand = 2)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta kappa"), // ≈ corpus 1
      (11L, "fresh new totally original content appears in this batch"),
      (12L, "fresh new totally original content appears in this batch today"), // ≈ 11
      (13L, "short") // too short to shingle → trivially survives
    ).toDF("id", "text")
    val out = Dedup.dropNearDuplicatesIncremental(batch, "id", "text",
      store, corpus, shingleN = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.6)
    out.select("id").as[Long].collect().sorted shouldBe Array(11L, 13L)
    // missing band store bootstraps empty (first run): only in-batch dedup
    val empty = Dedup.readBandKeys(spark, storePath + "_missing")
    Dedup.dropNearDuplicatesIncremental(batch, "id", "text",
      empty, corpus.limit(0), shingleN = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.6)
      .select("id").as[Long].collect().sorted shouldBe Array(10L, 11L, 13L)
  }

  test("MinhashBands kernel equals the explode+agg formulation (store compat)") {
    import org.apache.spark.sql.functions.{array, explode, min, xxhash64, lit}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some other words that shingle differently here"),
      (3L, "a b"), // exactly one 2-shingle
      (4L, "unicode Ärger ÉTÉ ß tokens in the mix today")
    ).toDF("id", "text")
    val (bands, rpb) = (16, 2)
    val sh = docs.select($"id", Dedup.wordShingles($"text", 2).as("sh"))
      .filter(org.apache.spark.sql.functions.size($"sh") > 0)
    val kernel = sh.select($"id",
      explode(graft.functions.MinhashBands($"sh", bands, rpb)).as("bk"))
      .as[(Long, Long)].collect().sorted
    // the legacy aggregate formulation the kernel must replay bit-for-bit
    val k = bands * rpb
    val exploded = sh.select($"id", explode($"sh").as("s"))
      .select($"id", xxhash64($"s").as("h"))
    val minAggs = (0 until k).map(i => min(xxhash64($"h", lit(i))).as(s"m$i"))
    val sig = exploded.groupBy("id").agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val slice = (b * rpb until (b + 1) * rpb).map(i => org.apache.spark.sql.functions.col(s"m$i"))
      xxhash64(array(slice: _*), lit(b))
    }
    val legacy = sig.select($"id", explode(array(bandCols: _*)).as("bk"))
      .as[(Long, Long)].collect().sorted
    kernel shouldBe legacy
  }

  test("maxBandDf caps hot LSH buckets; pairs sharing other bands survive") {
    // two identical docs share every band (found regardless of which
    // bands get capped away, as long as ANY shared band stays under the
    // cap); with a cap of 2, bands shared by all three would go hot only
    // at df > 2, so the pair is still found
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different content with its own words here")
    ).toDF("id", "text")
    val uncapped = Dedup.minhashNearDupPairs(docs, "id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    uncapped shouldBe Set((1L, 2L))
    Dedup.minhashNearDupPairs(docs, "id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.9,
      maxBandDf = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe uncapped
    // cap of 1 kills every shared band — documented recall trade: the
    // pair disappears, which is why the cap defaults OFF and sane
    // production values sit in the thousands
    Dedup.minhashNearDupPairs(docs, "id", "text",
      shingleN = 2, bands = 8, rowsPerBand = 2, threshold = 0.9,
      maxBandDf = 1)
      .count() shouldBe 0L
  }

  test("SimhashBits kernel equals the explode+agg vote formulation") {
    import org.apache.spark.sql.functions.xxhash64
    val docs = Seq(
      (1L, "The quick Brown   fox"),
      (2L, ""),                       // empty text → simhash of one "" token
      (3L, "  padded   whitespace \t everywhere  "),
      (4L, "unicode Ärger ÉTÉ ß tokens"),
      (5L, "a"),
      (6L, "repeated repeated repeated words words")
    ).toDF("id", "text")
    def table(h: Dedup.SimhashHasher, bits: Int) =
      Dedup.simhashTable(docs, "id", "text", bits, h)
        .as[(Long, Long)].collect().toMap
    table(Dedup.SimhashHasher.Xx, 64) shouldBe
      table(Dedup.SimhashHasher.Custom(xxhash64(_)), 64)
    table(Dedup.SimhashHasher.Md5_60, 60) shouldBe
      table(Dedup.SimhashHasher.Custom(Dedup.md5Hash60), 60)
  }

  test("dropSimhashNearDuplicates keeps one survivor per transitive cluster") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // = 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // = 1
      (4L, "entirely unrelated content speaking about mathematics and topology today")
    ).toDF("id", "text")
    val out = Dedup.dropSimhashNearDuplicates(docs, "id", "text", maxHamming = 3)
    out.select("id").as[Long].collect().sorted shouldBe Array(1L, 4L)
    // path parity: forcing the shuffle anti-join gives the same survivors
    Dedup.withGuards(_.copy(losersBroadcastMax = Some(0L)))(
      Dedup.dropSimhashNearDuplicates(docs, "id", "text", maxHamming = 3)
        .select("id").as[Long].collect().sorted) shouldBe Array(1L, 4L)
  }

  test("dropSimhashDuplicatesIncremental: store Hamming check + in-batch clustering") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "completely different words entirely here now today friends and colleagues")
    ).toDF("id", "text")
    // the simhash store round-trips through parquet (the production shape)
    val storePath = java.nio.file.Files.createTempDirectory("shstore")
      .toString + "/simhashes"
    Dedup.appendSimhashes(corpus, "id", "text", storePath)
    val store = Dedup.readSimhashes(spark, storePath)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), // = corpus 1
      (11L, "fresh new totally original content appears within this batch today"),
      (12L, "fresh new totally original content appears within this batch today"), // = 11
      (13L, "another genuinely novel document with its own words and nothing shared")
    ).toDF("id", "text")
    val out = Dedup.dropSimhashDuplicatesIncremental(batch, "id", "text", store)
    out.select("id").as[Long].collect().sorted shouldBe Array(11L, 13L)
    // missing store bootstraps empty (first run): only in-batch dedup
    val empty = Dedup.readSimhashes(spark, storePath + "_missing")
    Dedup.dropSimhashDuplicatesIncremental(batch, "id", "text", empty)
      .select("id").as[Long].collect().sorted shouldBe Array(10L, 11L, 13L)
  }

  test("readFingerprints: missing store bootstraps empty; corrupt store fails") {
    val tmp = java.nio.file.Files.createTempDirectory("fpstore").toString
    // missing path → empty frame (first-run bootstrap)
    Dedup.readFingerprints(spark, s"$tmp/never_written").count() shouldBe 0L
    // a corrupt store must FAIL, not silently disable incremental dedup
    val bad = java.nio.file.Paths.get(tmp, "corrupt.parquet")
    java.nio.file.Files.write(bad, "this is not parquet".getBytes)
    an[Exception] should be thrownBy
      Dedup.readFingerprints(spark, bad.toString).count()
  }

  test("duplicateSpans: maximal repeated spans, cross-doc and within-doc") {
    val docs = Seq(
      (1L, "one two three four five six seven eight alpha beta"),
      (2L, "zero one two three four five six seven eight gamma"), // shares the 8-token run
      (3L, "totally different text here and nothing repeats at all"),
      (4L, "a b c d x a b c d") // within-doc repeat of "a b c d"
    ).toDF("id", "text")
    val out = Dedup.duplicateSpans(docs, "id", "text", windowTokens = 4)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    // doc 1: windows 0..4 of the shared run duplicate → one span [0, 7]
    out(1L) shouldBe Seq((0L, 7L, 5L))
    // doc 2: same run sits one token later → [1, 8]
    out(2L) shouldBe Seq((1L, 8L, 5L))
    out.contains(3L) shouldBe false
    // doc 4: "a b c d" repeats within the doc → two 1-window islands
    out(4L) shouldBe Seq((0L, 3L, 1L), (5L, 8L, 1L))
  }

  test("removeDuplicateSpans: keep-first cut, case preserved, extra columns intact") {
    val docs = Seq(
      (1L, "one two three four five six seven eight alpha beta", "k1"),
      (2L, "zero ONE two three FOUR five six seven eight gamma", "k2"), // run cut (case-insensitive match)
      (3L, "totally different text here and nothing repeats at all", "k3"),
      (4L, "a b c d x a b c d", "k4") // within-doc: second occurrence cut
    ).toDF("id", "text", "extra")
    val out = Dedup.removeDuplicateSpans(docs, "id", "text", windowTokens = 4)
    out.columns shouldBe Array("id", "text", "extra") // schema + order preserved
    val m = out.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    m(1L) shouldBe (("one two three four five six seven eight alpha beta", "k1"))
    m(2L) shouldBe (("zero gamma", "k2")) // canonical run lives in doc 1
    m(3L)._1 shouldBe "totally different text here and nothing repeats at all"
    m(4L)._1 shouldBe "a b c d x"
  }

  test("removeDuplicateSpans: fully-duplicate documents disappear; short docs untouched") {
    val docs = Seq(
      (1L, "p q r s t u"),
      (2L, "p q r s t u"),   // every window duplicated → vanishes
      (3L, "tiny doc")       // shorter than the window → untouched
    ).toDF("id", "text")
    val m = Dedup.removeDuplicateSpans(docs, "id", "text", windowTokens = 4)
      .as[(Long, String)].collect().toMap
    m(1L) shouldBe "p q r s t u"
    m.contains(2L) shouldBe false
    m(3L) shouldBe "tiny doc"
  }

  test("dropDuplicateParagraphs: corpus-wide keep-first, order-preserving reassembly") {
    val docs = Seq(
      (1L, "alpha one\n\nshared boilerplate\n\nbeta two"),
      (2L, "shared boilerplate\n\ngamma three"), // loses the repeated para
      (3L, "shared boilerplate"),                // ALL paras duplicate → dropped
      (4L, "alpha one extended\n\n\n\ndelta four") // \n{2,} handles 2+ newlines
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "alpha one\n\nshared boilerplate\n\nbeta two"
    out(2L) shouldBe "gamma three"
    out.contains(3L) shouldBe false
    out(4L) shouldBe "alpha one extended\n\ndelta four"
  }

  test("dropDuplicateParagraphs: in-document repeats collapse to first") {
    val docs = Seq((5L, "x\n\ny\n\nx\n\nz")).toDF("doc_id", "text")
    Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .as[(Long, String)].collect().head._2 shouldBe "x\n\ny\n\nz"
  }

  test("ngramJaccardPairs: stop-shingle df-cap drops hot-shingle-only pairs") {
    // ten docs share ONE boilerplate shingle ("standard legal disclaimer")
    // but are otherwise disjoint; docs 100/101 are genuine near-dups
    val boiler = (0L until 10L).map(i =>
      (i, s"standard legal disclaimer unique$i word$i token$i extra$i more$i"))
    val dups = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    val df = (boiler ++ dups).toDF("id", "text").withColumn("blk", lit("x"))
    // cap below the hot shingle's df=10: its postings vanish; the genuine
    // near-dup pair (df=1 shingles) is unaffected
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", "blk",
      shingleN = 3, threshold = 0.5, maxShingleDf = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((100L, 101L))
    // disabled cap (<= 0) keeps the exact all-pairs result
    val uncapped = Dedup.ngramJaccardPairs(df, "id", "text", "blk",
      shingleN = 3, threshold = 0.5, maxShingleDf = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    uncapped shouldBe Set((100L, 101L)) // boilerplate overlap is 1 shingle « j=0.5
  }

  test("containmentPairs: inclusion found where Jaccard misses it") {
    // doc 1 (5 words) is quoted verbatim inside doc 2 (15 words):
    // containment(1→2) = 1.0 but Jaccard ≈ 3/13 — far below any
    // near-dup threshold
    val contained = "alpha beta gamma delta epsilon"
    val container = s"intro words here $contained plus seven trailing filler words after that"
    val df = Seq((1L, contained), (2L, container), (3L, "unrelated stuff entirely here"))
      .toDF("id", "text").withColumn("blk", lit("x"))
    Dedup.ngramJaccardPairs(df, "id", "text", "blk", shingleN = 3,
      threshold = 0.8).collect() shouldBe empty
    val pairs = Dedup.containmentPairs(df, "id", "text", "blk",
      shingleN = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    pairs.length shouldBe 1
    // 3 shingles of doc 1, all present in doc 2, none the other way
    pairs.head shouldBe ((1L, 2L, 3L, 3L, 1.0))
  }

  test("containmentPairs: mutual containment emits both directions") {
    val df = Seq(
      (1L, "one two three four five"),
      (2L, "one two three four five")
    ).toDF("id", "text").withColumn("blk", lit("x"))
    Dedup.containmentPairs(df, "id", "text", "blk", shingleN = 3,
      threshold = 0.8)
      .select("contained_id", "container_id").as[(Long, Long)]
      .collect().toSet shouldBe Set((1L, 2L), (2L, 1L))
  }

  test("ngramJaccardPairs respects blocking") {
    val blocked = docs.withColumn("blk",
      when(col("id") <= 3, "a").otherwise("b"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "id", "text", "blk",
      shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
  }

  test("lshBandPlan: midpoint tracks the threshold, budget respected") {
    // the shipped 16×4 default is what a 64-hash budget at ~0.55 picks
    Dedup.lshBandPlan(64, 0.55) shouldBe ((16, 4))
    // high thresholds want longer rows (steeper, later s-curve)...
    val (bHi, rHi) = Dedup.lshBandPlan(64, 0.95)
    rHi should be > 4
    bHi * rHi should be <= 64
    // ...low thresholds want more bands
    val (bLo, rLo) = Dedup.lshBandPlan(64, 0.2)
    bLo should be > 16
    // well above the midpoint the s-curve has saturated
    Dedup.lshRecall(bHi, rHi, 0.99) should be > 0.95
    an[IllegalArgumentException] should be thrownBy Dedup.lshBandPlan(64, 0.0)
    an[IllegalArgumentException] should be thrownBy Dedup.lshBandPlan(0, 0.5)
  }

  test("dropNearDuplicatesKeepBest keeps the best-scoring member, ties to lower id") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the wide river", 10L),
      (2L, "the quick brown fox jumps over the lazy dog near the wide river", 50L),
      (3L, "the quick brown fox jumps over the lazy dog near the wide river", 50L),
      (4L, "entirely different content about compilers and type systems here", 5L)
    ).toDF("doc_id", "text", "score")
    Dedup.dropNearDuplicatesKeepBest(df, "doc_id", "text", "score")
      .select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 4L)
    // min-id rule differs: dropNearDuplicates would keep 1
    Dedup.dropNearDuplicates(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 4L)
  }

  /** The Dataset actions `body` runs, in order. */
  private def actionsOf(body: => Unit): Seq[String] = {
    val tag = s"marker-${java.util.UUID.randomUUID()}"
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(tag)) markers.incrementAndGet()
        else if (markers.get() == 1) actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // listener delivery is asynchronous but ordered: only actions seen
    // between the two marker queries are the body's
    def marker(n: Int): Unit = {
      spark.range(1).select(lit(tag).as("m")).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markers.get() < n && System.nanoTime() < deadline) Thread.sleep(20)
    }
    spark.listenerManager.register(listener)
    try {
      marker(1)
      body
      marker(2)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    actions.asScala.toSeq
  }

  test("driver near-dup removal: one gather collect, then the final count") {
    // a batch within the driver budget is gathered once; pairs, clusters
    // and losers are driver work, and the losers leave by a filter
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (3L, "omega beta gamma delta epsilon zeta eta theta kappa"),
      (9L, "completely unrelated words appear in this document here")
    ).toDF("id", "text")
    var survivors = 0L
    actionsOf {
      survivors = Dedup.dropNearDuplicates(chain, "id", "text",
        shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6).count()
    } shouldBe Seq("collect", "count")
    survivors shouldBe 2L
  }

  test("string ids: driver and distributed survivors agree in UTF-8 order") {
    // Java orders "\uFFFD-a" after "😀-b" (UTF-16 units 0xFFFD > 0xD83D);
    // Spark orders it first (UTF-8 bytes EF < F0), so the min-id survivor
    // is "\uFFFD-a" on every path
    val text = "alpha beta gamma delta epsilon zeta eta theta iota"
    val pair = Seq(("\uFFFD-a", text), ("\uD83D\uDE00-b", text)).toDF("id", "text")
    def survivors(): Seq[String] = Dedup.dropNearDuplicates(pair, "id", "text")
      .select("id").as[String].collect().toSeq
    val driver = Dedup.withGuards(
      _.copy(nearDupDriverBytes = Long.MaxValue))(survivors())
    val distributed = Dedup.withGuards(_.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L))(survivors())
    driver shouldBe distributed
    driver shouldBe Seq("\uFFFD-a")
    // the driver union-find over distributed pairs agrees too
    Dedup.withGuards(_.copy(nearDupDriverBytes = -1L))(survivors()) shouldBe driver
    graft.core.CacheScope.releaseAll()
  }

  test("driver-regime removal: candidate count, one pair collect, final count") {
    // the verify's candidate guard count bounds the verified pairs, so
    // the cluster tail runs no pair count and no loser count of its own
    // (the distributed pair path: the driver near-dup budget is off)
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (3L, "omega beta gamma delta epsilon zeta eta theta kappa"),
      (9L, "completely unrelated words appear in this document here")
    ).toDF("id", "text")
    var survivors = 0L
    actionsOf {
      survivors = Dedup.withGuards(_.copy(nearDupDriverBytes = -1L)) {
        Dedup.dropNearDuplicates(chain, "id", "text",
          shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6).count()
      }
    } shouldBe Seq("count", "collect", "count")
    survivors shouldBe 2L
    graft.core.CacheScope.releaseAll()
  }
}
