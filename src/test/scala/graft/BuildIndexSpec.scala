package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Config-driven index builds ([[BuildIndex]]): the YAML verb must
  * produce stores that a SEPARATE process can probe from the persisted
  * training sidecars alone — no re-derivation from the corpus — with
  * results bit-identical to the in-memory build it replaces.
  */
class BuildIndexSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def vecs(n: Int) = (0L until n.toLong).map { i =>
    (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.13).toFloat))
  }.toDF("vec_id", "embedding")

  private def writeCfg(lines: String*): String = {
    val p = java.nio.file.Files.createTempFile("index-", ".yaml")
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("ivfsq + raw twin: built stores probe bit-identically to in-memory two-stage, from sidecars alone") {
    val data = vecs(120)
    val inPath = tempDir("bidx-in-") + "/emb"
    data.write.parquet(inPath)
    val store = tempDir("bidx-ivfsq-") + "/idx"
    val rawStore = tempDir("bidx-raw-") + "/idx"
    val cfg = writeCfg(
      s"input: $inPath",
      "id_field: vec_id",
      "vector_field: embedding",
      "kind: ivfsq",
      s"store: $store",
      s"raw_store: $rawStore",
      "num_lists: 4",
      "dim: 8")
    val r = BuildIndex.run(spark, cfg)
    r.rows shouldBe 120
    r.rawStore shouldBe Some(rawStore)
    // probe FROM THE SIDECARS ONLY — what a separate process has
    val cents = Similarity.readCentroids(spark, store)
    val (mins, maxs) = Similarity.readSqTrainParams(spark, store)
    val queries = data.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    rows(Similarity.ivfSqRerankTopKFromStores(spark, store, rawStore,
      queries, "vec_id", "embedding", k = 3, centroids = cents,
      nprobe = 2, mins = mins, maxs = maxs, factor = 3)) shouldBe
      rows(Similarity.ivfSqRerankTopK(data, queries, "vec_id",
        "embedding", k = 3,
        centroids = Similarity.seedCentroids(data, "vec_id", "embedding", 4),
        nprobe = 2,
        mins = Similarity.trainSqParams(data, "embedding", 8)._1,
        maxs = Similarity.trainSqParams(data, "embedding", 8)._2,
        factor = 3))
  }

  test("ivfpq with training: persisted codebook is the TRAINED one the store encodes with") {
    val data = vecs(100)
    val inPath = tempDir("bidx-in2-") + "/emb"
    data.write.parquet(inPath)
    val store = tempDir("bidx-ivfpq-") + "/idx"
    val cfg = writeCfg(
      s"input: $inPath",
      "id_field: vec_id",
      "vector_field: embedding",
      "kind: ivfpq",
      s"store: $store",
      "num_lists: 4",
      "pq_m: 2", "pq_codes: 4", "pq_dsub: 4",
      "train_iterations: 2")
    BuildIndex.run(spark, cfg)
    val (cb, m, numCodes, dsub) = Similarity.readPqCodebook(spark, store)
    (m, numCodes, dsub) shouldBe ((2, 4, 4))
    // the persisted codebook must equal the distributed trainer's
    // output (bit-exact doubles through parquet), NOT the seed
    val seed = Similarity.seedPqCodebooks(data, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val trained = Similarity.refinePqCodebooksDistributed(data, "vec_id",
      "embedding", seed, m = 2, numCodes = 4, dsub = 4, iterations = 2)
    cb shouldBe trained
    cb should not be seed
    // and the probe from sidecars matches the in-memory trained probe
    val cents = Similarity.readCentroids(spark, store)
    val queries = data.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "adc")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    rows(Similarity.ivfPqTopKFromStore(spark, store, queries, "vec_id",
      "embedding", k = 3, centroids = cents, nprobe = 2, codebook = cb,
      m = m, numCodes = numCodes, dsub = dsub)) shouldBe
      rows(Similarity.ivfPqTopK(data, queries, "vec_id", "embedding",
        k = 3, centroids = cents, nprobe = 2, codebook = trained,
        m = 2, numCodes = 4, dsub = 4))
  }

  test("sq + lsh kinds build probe-able stores; unknown kind refuses") {
    val data = vecs(60)
    val inPath = tempDir("bidx-in3-") + "/emb"
    data.write.parquet(inPath)
    val sqStore = tempDir("bidx-sq-") + "/idx"
    BuildIndex.run(spark, writeCfg(
      s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
      "kind: sq", s"store: $sqStore", "dim: 8"))
    val (mins, maxs) = Similarity.readSqTrainParams(spark, sqStore)
    Similarity.sqTopKFromStore(spark, sqStore,
      data.filter($"vec_id" < 2), "vec_id", "embedding", k = 3,
      mins = mins, maxs = maxs).count() shouldBe 6
    val lshStore = tempDir("bidx-lsh-") + "/idx"
    BuildIndex.run(spark, writeCfg(
      s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
      "kind: lsh", s"store: $lshStore", "planes: 3", "dim: 8"))
    Similarity.lshTopKFromStore(spark, lshStore,
      data.filter($"vec_id" < 2), "vec_id", "embedding", k = 3,
      planes = 3, dim = 8).count() should be > 0L
    val e = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: nope", s"store: $sqStore"))
    e.getMessage should include("unknown index kind")
  }

  test("misconfiguration refuses up front: wrong dim, raw_store on a non-twin kind") {
    val data = vecs(40) // uniformly 8-dim
    val inPath = tempDir("bidx-in4-") + "/emb"
    data.write.parquet(inPath)
    val store = tempDir("bidx-bad-") + "/idx"
    // omitted dim defaults to 64: on an 8-dim corpus kind: binary would
    // silently write an EMPTY store — must refuse naming the real dim
    val e1 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: binary", s"store: $store"))
    e1.getMessage should include("set dim: 8")
    // a too-SMALL dim on a uniform corpus would silently
    // prefix-truncate every vector — same refusal
    val e2 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: sq", s"store: $store", "dim: 4"))
    e2.getMessage should include("set dim: 8")
    // raw_store with a kind that has no refine twin would be silently
    // ignored and surface hours later as a missing path — refuse
    val e3 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: ivf", s"store: $store", "raw_store: /tmp/nope",
        "num_lists: 4"))
    e3.getMessage should include("raw_store is only supported")
    // fractional numeric config is a typo, not a request for
    // truncation — num_lists: 4.7 must fail, not build a 4-list index
    val e4 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: ivf", s"store: $store", "num_lists: 4.7"))
    e4.getMessage should include("num_lists must be an integer")
    // a too-LARGE dim on a uniform corpus must still get the actionable
    // width refusal — under ANSI (Spark 4's default) an unguarded
    // element_at in the fused SQ-grid aggregate would instead crash
    // with an opaque array-index error before the check ran
    val e5 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: sq", s"store: $store", "dim: 64"))
    e5.getMessage should include("set dim: 8")
    // a leftover tuning key from a DIFFERENT kind's config refuses
    // instead of silently not tuning (num_lists would be ignored by sq)
    val e6 = the[IllegalArgumentException] thrownBy
      BuildIndex.run(spark, writeCfg(
        s"input: $inPath", "id_field: vec_id", "vector_field: embedding",
        "kind: sq", s"store: $store", "dim: 8", "num_lists: 16"))
    e6.getMessage should include("num_lists is only supported")
  }

  // ------------------------------------------------------ text-side kinds

  private def docsDf(n: Int) = (0L until n.toLong)
    .map(i => (i, s"tok$i common${i % 3} shared${i % 7} tok${(i + 1) % n}"))
    .toDF("doc_id", "text")

  test("bm25 + bm25_segment kinds: config-built indexes probe identically to in-flight BM25") {
    import graft.operators.Search
    val docs = docsDf(50)
    val inPath = tempDir("bidx-txt-")
    docs.write.parquet(s"$inPath/all")
    docs.filter($"doc_id" % 2 === 0).write.parquet(s"$inPath/even")
    docs.filter($"doc_id" % 2 === 1).write.parquet(s"$inPath/odd")
    val queries = docs.filter($"doc_id" < 2)
    val direct = Search.bm25TopK(docs, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val mono = tempDir("bidx-bm25-") + "/idx"
    BuildIndex.run(spark, writeCfg(s"input: $inPath/all",
      "id_field: doc_id", "text_field: text", "kind: bm25",
      s"store: $mono", "buckets: 8"))
    Search.bm25TopKFromStore(spark, mono, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq shouldBe direct
    // two config-built segments over disjoint halves ≡ the monolith
    val segd = tempDir("bidx-bm25s-") + "/idx"
    Seq("even", "odd").foreach(half => BuildIndex.run(spark, writeCfg(
      s"input: $inPath/$half", "id_field: doc_id", "text_field: text",
      "kind: bm25_segment", s"store: $segd", "buckets: 8")))
    spark.read.parquet(s"$segd/_meta").count() shouldBe 2
    Search.bm25TopKSegmented(spark, segd, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq shouldBe direct
    graft.core.CacheScope.releaseAll()
  }

  test("lm / tfidf / dsir / quality_model kinds: config-built fits score bit-identically") {
    import graft.operators.{LanguageModel, QualityModel, Sampling, Tfidf}
    val docs = docsDf(40)
    val inPath = tempDir("bidx-fit-")
    docs.write.parquet(s"$inPath/docs")
    val batch = docs.filter($"doc_id" < 6)
    // lm: stored scoring ≡ in-flight fit scoring
    val lmStore = tempDir("bidx-lm-") + "/m"
    BuildIndex.run(spark, writeCfg(s"input: $inPath/docs",
      "id_field: doc_id", "text_field: text", "kind: lm",
      s"store: $lmStore")).rows shouldBe 40L
    def lmRows(m: LanguageModel.BigramModel) =
      LanguageModel.scoreBigrams(batch, m, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    lmRows(LanguageModel.loadModel(spark, lmStore)) shouldBe
      lmRows(LanguageModel.fitBigramModel(docs, "doc_id", "text"))
    // tfidf: config-built store probes like a directly-saved one
    val cfgStore = tempDir("bidx-tfidf-") + "/s"
    val dirStore = tempDir("bidx-tfidf2-") + "/s"
    BuildIndex.run(spark, writeCfg(s"input: $inPath/docs",
      "id_field: doc_id", "text_field: text", "kind: tfidf",
      s"store: $cfgStore", "buckets: 16", "max_token_df: 10"))
    Tfidf.saveStore(docs, "doc_id", "text", dirStore,
      buckets = 16, maxTokenDf = 10)
    def kept(store: String) = Tfidf.dropNearCorpusTfidf(batch,
      "doc_id", "text", store, buckets = 16, maxTokenDf = 10)
      .select("doc_id").as[Long].collect().sorted.toSeq
    kept(cfgStore) shouldBe kept(dirStore)
    // dsir: stored ratios score like the in-flight fit
    val target = docs.filter($"doc_id" % 5 === 0)
    target.write.parquet(s"$inPath/target")
    val dsirStore = tempDir("bidx-dsir-") + "/r"
    BuildIndex.run(spark, writeCfg(s"input: $inPath/docs",
      "id_field: doc_id", "text_field: text", "kind: dsir",
      s"store: $dsirStore", s"target_input: $inPath/target",
      "buckets: 16"))
    Sampling.importanceWeightsFromStore(batch,
      Sampling.readImportanceRatios(spark, dsirStore),
      "doc_id", "text", buckets = 16)
      .orderBy("doc_id").collect().toSeq shouldBe
      Sampling.importanceWeights(docs, target, "doc_id", "text",
        buckets = 16).join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        .orderBy("doc_id").collect().toSeq
    // quality_model: weights arrive as a parquet table; stored scoring
    // ≡ the driver-map path over the same weights
    val wmap = Map("common0" -> 0.8, "shared3" -> -1.25, "tok1" -> 0.5)
    val wPath = s"$inPath/weights"
    wmap.toSeq.toDF("token", "weight").write.parquet(wPath)
    val qStore = tempDir("bidx-qm-") + "/m"
    BuildIndex.run(spark, writeCfg(s"input: $wPath", "kind: quality_model",
      "bias: -0.2", s"store: $qStore")).rows shouldBe 3L
    QualityModel.scoreDocs(batch, QualityModel.loadModel(spark, qStore),
      "doc_id", "text").orderBy("doc_id").collect().toSeq shouldBe
      QualityModel.scoreDocs(batch,
        QualityModel.fromMap(spark, wmap, -0.2), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    graft.core.CacheScope.releaseAll()
  }

  test("text kinds refuse misconfiguration before writing anything") {
    val docs = docsDf(10)
    val inPath = tempDir("bidx-txtbad-")
    docs.write.parquet(s"$inPath/docs")
    docs.filter($"doc_id" < 0).write.parquet(s"$inPath/empty")
    val store = tempDir("bidx-txtbad-s-") + "/s"
    // empty input would write a healthy-LOOKING store that scores
    // nothing — refuse
    val e1 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/empty", "id_field: doc_id",
        "text_field: text", "kind: bm25", s"store: $store"))
    e1.getMessage should include("no rows")
    // ...and it is the RETRYABLE refusal type: an existing-but-empty
    // input is "upstream not landed", which the scheduler retries
    e1 shouldBe a[graft.core.DataNotReadyException]
    // dsir without a target corpus has no fit semantics
    val e2 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/docs", "id_field: doc_id",
        "text_field: text", "kind: dsir", s"store: $store"))
    e2.getMessage should include("target_input")
    // keys that only another kind consumes refuse instead of being
    // silently ignored
    val e3 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/docs", "id_field: doc_id",
        "text_field: text", "kind: bm25", s"store: $store", "bias: 0.5"))
    e3.getMessage should include("bias is only supported")
    // quality_model without its trained intercept
    val e4 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/docs", "kind: quality_model",
        s"store: $store"))
    e4.getMessage should include("requires bias")
    // a duplicated token in the weight table would fan the scoring
    // join out and corrupt every logit — refuse at build
    val dupW = Seq(("tok", 0.5), ("tok", 0.7), ("other", 1.0))
      .toDF("token", "weight")
    dupW.write.parquet(s"$inPath/dupweights")
    val e5 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/dupweights", "kind: quality_model",
        "bias: 0.0", s"store: $store"))
    e5.getMessage should include("duplicate tokens")
    // a NULL weight would quantize to a row the scoring sum silently
    // skips — refuse instead of certifying the corrupt table
    Seq(("a", Some(0.5)), ("b", None)).toDF("token", "weight")
      .write.parquet(s"$inPath/nullweights")
    val e6 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath/nullweights", "kind: quality_model",
        "bias: 0.0", s"store: $store"))
    e6.getMessage should include("NULL weights")
    // missing required keys refuse BEFORE paying an input scan — the
    // input path here doesn't even exist, and the key error must win
    val e7 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("input: /nonexistent/nowhere", "id_field: doc_id",
        "kind: bm25", s"store: $store"))
    e7.getMessage should include("requires text_field")
    new java.io.File(store).exists() shouldBe false
  }

  test("kind compact: key-matrix refusals before touching the store; ANN empty input is data-not-ready") {
    val store = tempDir("bidx-cpt-") + "/s"
    // family is required
    val e1 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $store"))
    e1.getMessage should include("requires family")
    // unknown family refuses with the valid set
    val e2 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $store", "family: ivf"))
    e2.getMessage should include("unknown compact family")
    // flat-only knob on segments
    val e3 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $store", "family: segments",
        "target_file_bytes: 1024"))
    e3.getMessage should include("only supported for family flat")
    // a build key left over from a different config refuses
    val e4 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $store", "family: flat",
        "input: /data/docs.parquet"))
    e4.getMessage should include("input is only supported")
    // non-integer target_file_bytes refuses, not a silent default
    val e5 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $store", "family: flat",
        "target_file_bytes: lots"))
    e5.getMessage should include("target_file_bytes must be an integer")
    // ANN empty input: same data-not-ready contract as the text kinds
    import spark.implicits._
    val empty = vecs(5).filter($"vec_id" < 0)
    val inPath = tempDir("bidx-annempty-") + "/emb"
    empty.write.parquet(inPath)
    val e6 = the[IllegalArgumentException] thrownBy BuildIndex.run(spark,
      writeCfg(s"input: $inPath", "id_field: vec_id",
        "vector_field: embedding", "kind: sq", s"store: $store", "dim: 8"))
    e6.getMessage should include("no rows")
    e6 shouldBe a[graft.core.DataNotReadyException]
    new java.io.File(store).exists() shouldBe false
  }

  test("kind compact heals a store whose previous compaction crashed mid-flip") {
    import spark.implicits._
    // a store crashed between the flip's two renames: _meta gone, the
    // COMPLETE _meta_next holding the merged view — exactly the state
    // repairMetaFlip exists for. The scheduled compact verb must repair
    // it, not die on a raw _meta read (PATH_NOT_FOUND would classify
    // fail-once and the schedule could never heal the store).
    val docs = Seq((1L, "spark scala engine"), (2L, "scala query engine"),
      (3L, "parquet files store")).toDF("doc_id", "text")
    val idx = tempDir("bidx-heal-") + "/idx"
    graft.operators.Search.writeIndexSegment(
      docs.filter($"doc_id" <= 2), "doc_id", "text", idx, buckets = 4)
    graft.operators.Search.writeIndexSegment(
      docs.filter($"doc_id" > 2), "doc_id", "text", idx, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx/_meta"),
      new org.apache.hadoop.fs.Path(s"$idx/_meta_next"))
    val report = BuildIndex.run(spark,
      writeCfg("kind: compact", s"store: $idx", "family: segments"))
    report.rows shouldBe 2L // both segments visible through the repair view
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_meta")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_meta_next")) shouldBe false
    spark.read.parquet(s"$idx/_meta").count() shouldBe 1
    val hits = graft.operators.Search.bm25TopKSegmented(spark, idx,
      Seq((100L, "scala engine")).toDF("qid", "qtext"), "qid", "qtext", k = 5)
    hits.count() should be > 0L
    graft.core.CacheScope.releaseAll()
  }

  test("ANN builds: the fused stats pass scans the input once for count+dims+SQ grid") {
    val data = vecs(80)
    val inPath = tempDir("bidx-scan-") + "/emb"
    data.write.parquet(inPath)
    val store = tempDir("bidx-scan-s-") + "/idx"
    // count input records read across the whole build: every full pass
    // over the 80-row input adds 80 to the task input metrics
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      BuildIndex.run(spark, writeCfg(s"input: $inPath",
        "id_field: vec_id", "vector_field: embedding", "kind: sq",
        s"store: $store", "dim: 8"))
      // listener events drain asynchronously — wait until stable
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(200); spins += 1
      }
      // exactly TWO input passes: the fused stats+grid aggregate and
      // the code write (pre-fusion this was three — stats, grid, write)
      read.get() shouldBe 160L
      // ivfsq: fused agg + centroid seed (TakeOrdered) + code write =
      // THREE passes (pre-fusion: four); the _train sidecar writes are
      // driver-side literals and scan nothing
      read.set(0L)
      val store2 = tempDir("bidx-scan2-") + "/idx"
      BuildIndex.run(spark, writeCfg(s"input: $inPath",
        "id_field: vec_id", "vector_field: embedding", "kind: ivfsq",
        s"store: $store2", "dim: 8", "num_lists: 4"))
      var last2 = -1L
      var spins2 = 0
      while (read.get() != last2 && spins2 < 50) {
        last2 = read.get(); Thread.sleep(200); spins2 += 1
      }
      read.get() shouldBe 240L
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the store built from the fused grid still probes correctly
    val (mins, maxs) = Similarity.readSqTrainParams(spark, store)
    val (dmins, dmaxs) = Similarity.trainSqParams(data, "embedding", 8)
    mins.toSeq shouldBe dmins.toSeq
    maxs.toSeq shouldBe dmaxs.toSeq
  }
}
