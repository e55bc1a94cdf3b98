package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec with graft.TempDirs
    with graft.ExecutedPlans {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "apple banana apple cherry"),
    (1L, "apple banana"),
    (2L, "zebra quokka xylophone"),
    (3L, "banana banana banana banana"),
    (4L, "apple zebra")
  ).toDF("doc_id", "text")

  test("bm25Postings: tf, doc length, and df are exact") {
    val p = Search.bm25Postings(corpus, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    p(("apple", 0L)) shouldBe ((2L, 4L, 3L)) // tf=2, len=4, df=3
    p(("banana", 3L)) shouldBe ((4L, 4L, 3L)) // in docs 0, 1, 3
    p(("quokka", 2L)) shouldBe ((1L, 3L, 1L))
    p.size shouldBe 11 // distinct (token, doc) pairs
  }

  test("bm25TopK: rare shared terms outrank common ones, self excluded") {
    val out = Search.bm25TopK(corpus, corpus.filter($"doc_id" === 2), "doc_id",
      "text", k = 3).collect().map(r => (r.getLong(1), r.getLong(2)))
    // query doc 2 = {zebra, quokka, xylophone}: only doc 4 shares a term
    out.map(_._1) shouldBe Array(4L)
    out.head._2 shouldBe 1L
    val all = Search.bm25TopK(corpus, corpus.filter($"doc_id" === 0), "doc_id",
      "text", k = 5).collect().map(_.getLong(1))
    all should not contain 0L // never returns the query doc itself
    all should contain allOf (1L, 3L, 4L)
  }

  test("bm25TopK: score is the exact micro-nat integer the formula gives") {
    // doc 2 vs doc 4 over shared term "zebra": tf=1, len=2, df=2, N=5,
    // avgdl = 15/5 = 3 — replay the operator's arithmetic verbatim
    val n = 5L; val avgdl = 15.0 / 5.0
    val idf = math.log((n - 2L + 0.5) / (2L + 0.5) + 1.0)
    val tfn = (1L * (1.2 + 1.0)) /
      (1L + 1.2 * (1.0 - 0.75 + 0.75 * (2L / avgdl)))
    val expected = math.floor(idf * tfn * 1e6 + 0.5).toLong
    val got = Search.bm25TopK(corpus, corpus.filter($"doc_id" === 2), "doc_id",
      "text", k = 1).collect().head.getLong(3)
    got shouldBe expected
  }

  test("store round trip is bit-identical and the probe scan prunes") {
    // wide vocab so the query's bucket union is a strict subset
    val wide = (0L until 120L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 120}"))
      .toDF("doc_id", "text")
    val queries = wide.filter($"doc_id" < 2)
    val direct = Search.bm25TopK(wide, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val store = tempDir("bm25-store-") + "/idx"
    Search.writePostingsStore(wide, "doc_id", "text", store, buckets = 16)
    val (stored, ran) = executed(onSpark(Search.bm25TopKFromStore(spark,
      store, queries, "doc_id", "text", k = 5)))
    stored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
    // the query terms' bucket union reaches the file index as a
    // partition filter and the term set as a pushed string predicate
    val plan = ran.planString
    plan should include("PartitionFilters")
    plan should include regex "bucket#\\d+ IN \\("
    plan should include("PushedFilters")
    plan should include regex "In\\(tok"
    // under the driver budget: the same answer and schema, no Spark job
    val (local, drv) = executed(onDriver(Search.bm25TopKFromStore(spark,
      store, queries, "doc_id", "text", k = 5)))
    drv.jobs shouldBe 0
    local.schema shouldBe stored.schema
    local.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
  }

  test("segmented index: three appended segments score like one monolith") {
    val wide = (0L until 90L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 90}"))
      .toDF("doc_id", "text")
    val queries = wide.filter($"doc_id" < 2)
    val direct = Search.bm25TopK(wide, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val store = tempDir("bm25-segs-") + "/idx"
    (0 to 2).foreach(i => Search.writeIndexSegment(
      wide.filter($"doc_id" % 3 === i), "doc_id", "text", store, buckets = 16))
    val (seg, ran) = executed(onSpark(Search.bm25TopKSegmented(spark, store,
      queries, "doc_id", "text", k = 5)))
    seg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
    // bucket pruning still reaches the file index through the
    // (segment, bucket) partition tree
    val plan = ran.planString
    plan should include regex "bucket#\\d+ IN \\("
    // under the driver budget: the df count and the scoring on the
    // driver, the same answer and schema, no Spark job
    val (local, drv) = executed(onDriver(Search.bm25TopKSegmented(spark,
      store, queries, "doc_id", "text", k = 5)))
    drv.jobs shouldBe 0
    local.schema shouldBe seg.schema
    local.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
    graft.core.CacheScope.releaseAll()
  }

  test("batched writeIndexSegments ≡ sequential writeIndexSegment appends") {
    val wide = (0L until 90L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 90}"))
      .toDF("doc_id", "text")
    val queries = wide.filter($"doc_id" < 2)
    val batches = (0 to 2).map(i => wide.filter($"doc_id" % 3 === i))
    val seqStore = tempDir("bm25-seq-") + "/idx"
    batches.foreach(b =>
      Search.writeIndexSegment(b, "doc_id", "text", seqStore, buckets = 16))
    val batStore = tempDir("bm25-bat-") + "/idx"
    Search.writeIndexSegments(batches, "doc_id", "text", batStore, buckets = 16)
    // one _meta row per batch with the per-batch stats, both layouts
    def metas(p: String) = spark.read.parquet(s"$p/_meta")
      .collect().map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("total_len"),
        r.getAs[Int]("buckets"))).sorted.toSeq
    metas(batStore) shouldBe metas(seqStore)
    metas(batStore).size shouldBe 3
    // probe answers bit-identical
    def probe(p: String) = Search.bm25TopKSegmented(spark, p, queries,
      "doc_id", "text", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    probe(batStore) shouldBe probe(seqStore)
    graft.core.CacheScope.releaseAll()
  }

  test("writeIndexSegments: a token-free batch still lands a (0,0) _meta row") {
    val store = tempDir("bm25-zero-") + "/idx"
    Search.writeIndexSegments(Seq(
      Seq((0L, "alpha beta")).toDF("doc_id", "text"),
      Seq((1L, " \t\n")).toDF("doc_id", "text")), // tokenless batch
      "doc_id", "text", store, buckets = 4)
    val metas = spark.read.parquet(s"$store/_meta")
      .collect().map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("total_len")))
      .sorted.toSeq
    metas shouldBe Seq((0L, 0L), (1L, 2L))
    val hits = Search.bm25TopKSegmented(spark, store,
      Seq((100L, "alpha")).toDF("doc_id", "text"), "doc_id", "text", k = 10)
      .collect().map(_.getLong(1)).toSeq
    hits shouldBe Seq(0L)
    graft.core.CacheScope.releaseAll()
  }

  test("segmented index: appending a segment changes df-sensitive scores") {
    val store = tempDir("bm25-grow-") + "/idx"
    val batch1 = Seq((0L, "alpha beta"), (1L, "alpha gamma")).toDF("doc_id", "text")
    Search.writeIndexSegment(batch1, "doc_id", "text", store, buckets = 4)
    val q = Seq((100L, "alpha")).toDF("doc_id", "text")
    val before = Search.bm25TopKSegmented(spark, store, q, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    before.keySet shouldBe Set(0L, 1L)
    // a new segment adds two more alpha docs: N and df(alpha) both grow
    Search.writeIndexSegment(
      Seq((2L, "alpha delta"), (3L, "alpha epsilon")).toDF("doc_id", "text"),
      "doc_id", "text", store, buckets = 4)
    val after = Search.bm25TopKSegmented(spark, store, q, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    after.keySet shouldBe Set(0L, 1L, 2L, 3L)
    // idf((N=4, df=4)) < idf((N=2, df=2)): ln((0.5/4.5)+1) vs ln((0.5/2.5)+1)
    after(0L) should be < before(0L)
    graft.core.CacheScope.releaseAll()
  }

  test("segment compaction: one segment left, probes unchanged") {
    val wide = (0L until 60L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 60}"))
      .toDF("doc_id", "text")
    val store = tempDir("bm25-compact-") + "/idx"
    (0 to 3).foreach(i => Search.writeIndexSegment(
      wide.filter($"doc_id" % 4 === i), "doc_id", "text", store, buckets = 8))
    val queries = wide.filter($"doc_id" < 2)
    def probe() = Search.bm25TopKSegmented(spark, store, queries,
      "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3))
    val before = probe()
    graft.core.CacheScope.releaseAll()
    // a reader mid-scan when the compaction flips: its meta view is the
    // PRE-flip one — snapshot it so we can replay that reader below
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(s"$store/_meta"),
      new org.apache.hadoop.fs.Path(s"$store/_meta_reader_view"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/_meta_reader_view"),
      new java.io.File(s"$store/_meta"))
    Search.compactIndexSegments(spark, store)
    spark.read.parquet(s"$store/_meta").count() shouldBe 1
    def segDirs() = new java.io.File(s"$store/postings").listFiles()
      .count(_.getName.startsWith("segment="))
    // old segment dirs are DEFERRED to the next compaction's debris
    // sweep, so an unfenced reader holding the pre-flip view keeps its
    // files: 1 merged + the 4 merged-away
    segDirs() shouldBe 5
    probe() shouldBe before
    // replay the concurrent reader: probe against the PRE-flip meta —
    // the exact state a reader that snapshotted _meta just before the
    // flip scans from — and it answers bit-identically
    val postFlip = new java.io.File(s"$store/_meta_post_flip")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/_meta"), postFlip)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_meta"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$store/_meta_reader_view"),
      new org.apache.hadoop.fs.Path(s"$store/_meta"))
    probe() shouldBe before
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_meta"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$store/_meta_post_flip"),
      new org.apache.hadoop.fs.Path(s"$store/_meta"))
    // a LATER compaction's step-0 sweep reclaims the deferred dirs
    // once they age past the retention window (single-segment early
    // return still sweeps; retention 0 here = the eager one-cycle
    // behavior — the window itself is covered by its own test below)
    Search.withDebrisRetention(0L) {
      Search.compactIndexSegments(spark, store)
    }
    segDirs() shouldBe 1
    probe() shouldBe before
    // appending AFTER compaction keeps working
    Search.writeIndexSegment(
      Seq((100L, "tok0 common0 tok1")).toDF("doc_id", "text"),
      "doc_id", "text", store, buckets = 8)
    spark.read.parquet(s"$store/_meta").count() shouldBe 2
    graft.core.CacheScope.releaseAll()
  }

  test("compaction crash windows: probes answer from every intermediate state") {
    import org.apache.hadoop.fs.Path
    val wide = (0L until 40L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 40}"))
      .toDF("doc_id", "text")
    val store = tempDir("bm25-crash-") + "/idx"
    (0 to 2).foreach(i => Search.writeIndexSegment(
      wide.filter($"doc_id" % 3 === i), "doc_id", "text", store, buckets = 8))
    val queries = wide.filter($"doc_id" < 2)
    def probe() = {
      val r = Search.bm25TopKSegmented(spark, store, queries,
        "doc_id", "text", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
      graft.core.CacheScope.releaseAll()
      r
    }
    val before = probe()
    val fs = new Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())

    // WINDOW 1 — crash after the merged segment renamed in but before
    // the meta flip: the orphan segment (here: a verbatim copy of a
    // live one, the worst case because its postings would double every
    // df) is invisible — probes filter to _meta-listed segments
    val liveSeg = new java.io.File(s"$store/postings").listFiles()
      .filter(_.getName.startsWith("segment=")).head
    val orphan = new java.io.File(s"$store/postings/segment=orphan-crash")
    org.apache.commons.io.FileUtils.copyDirectory(liveSeg, orphan)
    probe() shouldBe before

    // WINDOW 2 — crash between the two flip renames (_meta is gone,
    // _meta_next complete): probes roll FORWARD to the merged view.
    // Manufacture it from a real flip artifact: run a real compaction,
    // then un-flip its _meta to _meta_next and plant a stale
    // _meta_prev — byte-identical to dying between rename 1 and 2.
    // (retention 0 throughout this test: the crash windows are about
    // meta-state recovery, and the fresh-mtime debris here is exactly
    // what the default window would — correctly — refuse to sweep)
    Search.withDebrisRetention(0L) {
      Search.compactIndexSegments(spark, store)
    }
    probe() shouldBe before
    // the pre-compaction orphan was swept at step 0; the 3 merged-away
    // live segments are DEFERRED to the next sweep (reader fence)
    val segNames = new java.io.File(s"$store/postings").listFiles()
      .map(_.getName).filter(_.startsWith("segment=")).toSet
    segNames should not contain "segment=orphan-crash"
    segNames.size shouldBe 4 // merged + 3 deferred
    fs.rename(new Path(s"$store/_meta"), new Path(s"$store/_meta_next"))
    fs.mkdirs(new Path(s"$store/_meta_prev"))
    probe() shouldBe before // read-only forward recovery

    // ...and the next WRITER heals the tree: append works, _meta is
    // live again with the merged row + the new segment's row
    Search.writeIndexSegment(
      Seq((100L, "tok0 common0 tok1")).toDF("doc_id", "text"),
      "doc_id", "text", store, buckets = 8)
    fs.exists(new Path(s"$store/_meta_next")) shouldBe false
    fs.exists(new Path(s"$store/_meta_prev")) shouldBe false
    spark.read.parquet(s"$store/_meta").count() shouldBe 2

    // WINDOW 3 — crash BEFORE the flip began (_meta live, _meta_next
    // incomplete): probes serve the old view; the next compaction
    // sweeps the debris and converges to one segment
    fs.mkdirs(new Path(s"$store/_meta_next")) // no _SUCCESS → incomplete
    val healthy = probe()
    Search.withDebrisRetention(0L) {
      Search.compactIndexSegments(spark, store)
    }
    probe() shouldBe healthy
    spark.read.parquet(s"$store/_meta").count() shouldBe 1
    // WINDOW 4 — a rolled-FORWARD crash leaves the merged-away segment
    // dirs as orphans while _meta already has one row: the next
    // compaction must sweep them on its single-segment early-return
    // path, not strand 2x the postings until `every` more appends
    val live = new java.io.File(s"$store/postings").listFiles()
      .filter(_.getName.startsWith("segment=")).head
    org.apache.commons.io.FileUtils.copyDirectory(live,
      new java.io.File(s"$store/postings/segment=rolled-fwd-orphan"))
    fs.mkdirs(new Path(s"$store/_compact_tmp"))
    Search.withDebrisRetention(0L) {
      Search.compactIndexSegments(spark, store) // 1 segment → early return
    }
    new java.io.File(s"$store/postings").listFiles()
      .count(_.getName.startsWith("segment=")) shouldBe 1
    fs.exists(new Path(s"$store/_compact_tmp")) shouldBe false
    probe() shouldBe healthy
    graft.core.CacheScope.releaseAll()
  }

  test("compacting a zero-postings store (all-empty-text segments) merges metas without failing") {
    val store = tempDir("bm25-empty-") + "/idx"
    val blank = Seq((0L, "   "), (1L, " ")).toDF("doc_id", "text")
    Search.writeIndexSegment(blank, "doc_id", "text", store, buckets = 4)
    Search.writeIndexSegment(blank, "doc_id", "text", store, buckets = 4)
    spark.read.parquet(s"$store/_meta").count() shouldBe 2
    // zero postings rows → the merged write creates no segment dir;
    // compaction must not die on the rename (regression guard)
    Search.compactIndexSegments(spark, store)
    spark.read.parquet(s"$store/_meta").count() shouldBe 1
    spark.read.parquet(s"$store/_meta")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()
      .head.getLong(0) shouldBe 0L
    // ...and a PROBE of the zero-doc store answers honestly (empty,
    // correct schema) instead of dying on schema inference over a
    // postings tree with no parquet files — the _meta looks healthy
    // (one row), so the probe must not trust it blindly
    val q = Seq((9L, "alpha")).toDF("doc_id", "text")
    val hits = Search.bm25TopKSegmented(spark, store, q, "doc_id", "text",
      k = 3)
    hits.columns.toSeq shouldBe
      Seq("query_id", "neighbor_id", "rank", "score")
    // the empty-store probe must not fork the schema by store state (a
    // union of probes across stores would break on it): names, types
    // and nullability equal a non-empty store's probe, on either path
    val full = tempDir("bm25-full-") + "/idx"
    Search.writeIndexSegment(Seq((0L, "alpha beta"), (1L, "beta")).toDF(
      "doc_id", "text"), "doc_id", "text", full, buckets = 4)
    for (path <- Seq[(=> DataFrame) => DataFrame](onSpark(_), onDriver(_))) {
      val nonEmpty = path(Search.bm25TopKSegmented(spark, full, q, "doc_id",
        "text", k = 3))
      nonEmpty.count() shouldBe 1L
      hits.schema shouldBe nonEmpty.schema
    }
    hits.count() shouldBe 0L
    graft.core.CacheScope.releaseAll()
  }

  test("maxDf ceiling: stopword terms contribute nothing, kept-term scores bit-identical, 0 = exact") {
    // 'the' appears in every doc (df 6 = N); 'rare'/'gem' in 2 each;
    // equal doc lengths within each pair so kept-term scores must TIE
    // exactly (same tf, df, len → identical micro-nat contribution)
    val docs = Seq(
      (1L, "the rare word alpha"), (2L, "the rare cats beta"),
      (3L, "the gem gray gamma"), (4L, "the gem dark delta"),
      (5L, "the epsilon"), (6L, "the zeta")).toDF("doc_id", "text")
    val queries = Seq((10L, "the rare gem")).toDF("doc_id", "text")
    def run(maxDf: Long): Map[Long, Long] =
      Search.bm25TopK(docs, queries, "doc_id", "text", k = 10,
        maxDf = maxDf)
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val exact = run(0L)
    exact.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L) // 'the' hits all
    val ceiled = run(3L) // df('the')=6 > 3; rare/gem (df 2) kept
    // docs that only matched via the stopword drop entirely
    ceiled.keySet shouldBe Set(1L, 2L, 3L, 4L)
    // with the stopword's (nonzero, BM25+) contribution gone, the
    // equal-length same-df same-tf pairs tie bit-exactly
    ceiled(1L) shouldBe ceiled(2L)
    ceiled(3L) shouldBe ceiled(4L)
    // ...whereas the exact path broke those ties only via 'the' (equal
    // lengths → it didn't: pin that the ceiling changed no kept math)
    exact(1L) - ceiled(1L) shouldBe exact(3L) - ceiled(3L)
    // a ceiling no term reaches ≡ exact
    run(100L) shouldBe exact
    // the same ceiling through the store and segment paths
    val store = tempDir("bm25-maxdf-") + "/s"
    Search.writePostingsStore(docs, "doc_id", "text", store, buckets = 4)
    Search.bm25TopKFromStore(spark, store, queries, "doc_id", "text",
      k = 10, maxDf = 3L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap shouldBe ceiled
    val segs = tempDir("bm25-maxdf-seg-") + "/s"
    (0 to 1).foreach(i => Search.writeIndexSegment(
      docs.filter($"doc_id" % 2 === i), "doc_id", "text", segs, buckets = 4))
    Search.bm25TopKSegmented(spark, segs, queries, "doc_id", "text",
      k = 10, maxDf = 3L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap shouldBe ceiled
    graft.core.CacheScope.releaseAll()
  }

  test("maxDf differential property: ceiling the index ≡ deleting over-ceiling terms from the queries, across randomized corpora") {
    // dropping a term's POSTINGS (what maxDf does) and dropping the
    // term from the QUERY text must give identical results: the
    // scoring join matches qt ⋈ postings on tok, every other term's
    // df/len/stats are untouched, and ties break on ids either way.
    // This pins the knob's exact semantics without re-deriving BM25.
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 12).map(i => s"v$i")
    for (seed <- 1 to 4) {
      val nDocs = 12 + seed * 3
      val docs = (0L until nDocs.toLong).map { i =>
        val len = 3 + rnd.nextInt(6)
        (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val queries = docs.filter($"doc_id" % 5 === 1)
      val ceiling = 2L + seed // small enough to really prune
      // corpus df per token, computed independently of the operator
      val df_ = docs
        .select($"doc_id", explode(split(lower(trim($"text")), "\\s+"))
          .as("tok")).filter($"tok" =!= "")
        .distinct().groupBy("tok").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val keep = df_.filter(_._2 <= ceiling).keySet
      val prunedQueries = queries.select($"doc_id",
        concat_ws(" ", org.apache.spark.sql.functions.filter(
          split(lower(trim($"text")), "\\s+"),
          t => t.isInCollection(keep))).as("text"))
      def rows(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._3)).toSeq
      val ceiled = rows(Search.bm25TopK(docs, queries, "doc_id", "text",
        k = 5, maxDf = ceiling))
      val queryPruned = rows(Search.bm25TopK(docs, prunedQueries,
        "doc_id", "text", k = 5, maxDf = 0L))
      withClue(s"seed=$seed ceiling=$ceiling kept=${keep.size}/${df_.size}: ") {
        ceiled shouldBe queryPruned
        // the property is non-vacuous: something was actually pruned
        keep.size should be < df_.size
      }
      // the store path agrees with the in-flight path under the ceiling
      val store = tempDir(s"bm25-prop-$seed-") + "/s"
      Search.writePostingsStore(docs, "doc_id", "text", store, buckets = 4)
      rows(Search.bm25TopKFromStore(spark, store, queries, "doc_id",
        "text", k = 5, maxDf = ceiling)) shouldBe ceiled
      graft.core.CacheScope.releaseAll()
    }
  }

  test("debris sweep honors minimum retention age: young deferred generation survives, old one reclaims") {
    val wide = (0L until 40L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 40}"))
      .toDF("doc_id", "text")
    val store = tempDir("bm25-retain-") + "/idx"
    (0 to 2).foreach(i => Search.writeIndexSegment(
      wide.filter($"doc_id" % 3 === i), "doc_id", "text", store, buckets = 8))
    def segDirs() = new java.io.File(s"$store/postings").listFiles()
      .filter(_.getName.startsWith("segment=")).toSeq
    def probe() = {
      val r = Search.bm25TopKSegmented(spark, store,
        wide.filter($"doc_id" < 2), "doc_id", "text", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._3)).toSeq
      graft.core.CacheScope.releaseAll()
      r
    }
    val before = probe()
    // compaction 1 defers the 3 merged-away dirs (mtime stamped at
    // flip); compaction 2 lands INSIDE the retention window, so its
    // sweep must keep them — the reader-across-two-compactions race
    // the retention window exists to close
    Search.withDebrisRetention(60L * 60L * 1000L) {
      Search.compactIndexSegments(spark, store)
      segDirs().size shouldBe 4 // merged + 3 deferred
      probe() shouldBe before
      // append so compaction 2 has real work (2 live segments)
      Search.writeIndexSegment(
        Seq((100L, "tok0 common0 tok1")).toDF("doc_id", "text"),
        "doc_id", "text", store, buckets = 8)
      Search.compactIndexSegments(spark, store)
      // 1 merged + 2 deferred-from-this-flip + the 3 still-young
      segDirs().size shouldBe 6
      // age HALF the debris past the window (the 3 first-generation
      // dirs); the next sweep reclaims exactly those and keeps the
      // young generation
      val live = spark.read.parquet(s"$store/_meta")
        .collect().map(r => s"segment=${r.getAs[String]("segment")}").toSet
      val (old3, rest) = segDirs().filterNot(d => live(d.getName))
        .splitAt(3)
      val afterAppend = probe() // post-append expected answers
      old3.foreach(d =>
        d.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
      Search.compactIndexSegments(spark, store) // single-segment early return
      val after = segDirs().map(_.getName).toSet
      old3.foreach(d => after should not contain d.getName)
      rest.foreach(d => after should contain(d.getName))
      // sweeps never change answers — the live view is untouched
      probe() shouldBe afterAppend
    }
    graft.core.CacheScope.releaseAll()
  }

  test("store writes are bucket-aligned: file count bounded by buckets, not tasks × buckets") {
    val wide = (0L until 40L)
      .map(i => (i, s"tok$i common${i % 3} tok${(i + 1) % 40}"))
      .toDF("doc_id", "text").repartition(8) // many input tasks on purpose
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else d.listFiles().map { f =>
        if (f.isDirectory) parquetFiles(f.getPath)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    val store = tempDir("bm25-files-") + "/idx"
    Search.writePostingsStore(wide, "doc_id", "text", store, buckets = 4)
    // without the bucket-aligned repartition this is tasks × buckets
    parquetFiles(s"$store/postings") should be <= 4
    val seg = tempDir("bm25-segfiles-") + "/idx"
    Search.writeIndexSegment(wide, "doc_id", "text", seg, buckets = 4)
    parquetFiles(s"$seg/postings") should be <= 4
    graft.core.CacheScope.releaseAll()
  }

  test("segmented index: mismatched bucket counts refuse loudly") {
    val store = tempDir("bm25-mismatch-") + "/idx"
    val d = Seq((0L, "alpha")).toDF("doc_id", "text")
    Search.writeIndexSegment(d, "doc_id", "text", store, buckets = 4)
    Search.writeIndexSegment(d, "doc_id", "text", store, buckets = 8)
    val e = intercept[IllegalArgumentException] {
      Search.bm25TopKSegmented(spark, store,
        Seq((1L, "alpha")).toDF("doc_id", "text"), "doc_id", "text", k = 1)
    }
    e.getMessage should include("bucket count")
  }

  test("phraseMatches: consecutive runs only, overlaps counted") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),     // one run
      (2L, "beta alpha gamma"),           // all tokens, wrong order
      (3L, "x alpha beta gamma y alpha beta gamma z"), // two runs
      (4L, "alpha beta"),                 // incomplete
      (5L, "ab ab ab ab")                 // overlapping repeats
    ).toDF("doc_id", "text")
    val out = Search.phraseMatches(df, "doc_id", "text",
      Seq("alpha", "beta", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 1L, 3L -> 2L)
    // a self-overlapping phrase counts every start position
    Search.phraseMatches(df, "doc_id", "text", Seq("ab", "ab"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(5L -> 3L)
  }

  test("verbatimDecontaminate drops exact-run carriers only") {
    val bench = Seq((100L, "what is the capital of france"))
      .toDF("doc_id", "text")
    val corp = Seq(
      (1L, "quiz page asking what is the capital of france today"), // verbatim
      (2L, "what is the france capital of"),   // same bag, no run
      (3L, "totally unrelated content here"),
      (4L, "WHAT  IS   THE CAPITAL OF FRANCE") // case/whitespace normalized
    ).toDF("doc_id", "text")
    Search.verbatimDecontaminate(corp, "doc_id", "text",
      bench, "doc_id", "text", phraseLen = 8)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
  }

  test("rrfFuse: exact contributions, cross-arm boost, ties by id") {
    def micro(rank: Long): Long = math.floor(1.0e9 / (60.0 + rank)).toLong
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val sem = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Search.rrfFuse(Seq(lex, sem), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._2)
    // doc 11 appears in both arms → top, score = c(2) + c(1), n_arms = 2
    out.head shouldBe ((11L, 1L, micro(2L) + micro(1L), 2L))
    out.map(_._1) shouldBe Array(11L, 10L, 13L, 12L)
    out.map(t => t._3 -> t._1).toMap.apply(micro(1L)) shouldBe 10L
  }

  test("rrfFuse ranking for ids on both retrieval arms is sane") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(4)(d => if (d == (i % 4).toInt) 1.0f else 0.01f * i))
    }.toDF("vec_id", "embedding")
    val docs = (0L until 30L)
      .map(i => (i, s"group${i % 4} shared tok$i")).toDF("doc_id", "text")
    val lex = Search.bm25TopK(docs, docs.filter($"doc_id" === 0), "doc_id",
      "text", k = 10)
    val sem = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 10)
    val fused = Search.rrfFuse(Seq(lex, sem), k = 5).collect()
    fused.map(_.getLong(0)).distinct shouldBe Array(0L)
    // every fused neighbor shares doc 0's group (both arms agree on the
    // group-4 structure), and ranks are 1..5 without gaps
    fused.map(_.getLong(2)).sorted shouldBe Array(1L, 2L, 3L, 4L, 5L)
    fused.foreach(r => (r.getLong(1) % 4) shouldBe 0L)
  }

  test("driver-side bucket hash matches the Column-side kernel") {
    val toks = Seq("apple", "zebra", "tok17", "common2")
    val sparkSide = toks.toDF("t")
      .select(Search.tokenBucket(col("t"), 16).as("b"))
      .collect().map(_.getLong(0))
    val driverSide = toks.map(t => math.floorMod(MurmurFree.md5Long60(t), 16L))
    sparkSide.toSeq shouldBe driverSide
  }
}
