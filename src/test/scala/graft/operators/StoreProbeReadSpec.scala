package graft.operators

import graft.SparkSpec
import graft.core.StoreScan
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._

/** The store probe read path ([[graft.core.StoreScan]]), one store kind
  * per test — bm25 (64 buckets), segmented bm25 (2 segments), IVF-SQ8 plus
  * raw refine (64 lists), LSH and a flat SQ8 store:
  *  (a) the answers and the read frame equal a `spark.read.parquet(root)`
  *      read under the same filter, with the same schema;
  *  (b) no Spark job without an SQL execution id starts during a probe
  *      call — partition listing and schema inference jobs carry none;
  *  (c) every scan's root paths are probed partition directories only,
  *      read from the plans the probe executed (it answers when called);
  *      a vector probe runs one map-only job per store scan (no exchange,
  *      broadcast or window) and bm25 one sum shuffle and no window;
  *  (d) probed ids with no directory answer the typed empty result;
  *  (e) under the driver byte budget the same probe runs no Spark job,
  *      answers the Spark path's rows with its schema, and decodes
  *      exactly the data files of the probed directories, once each.
  * (a)–(d) pin the Spark path, forced with [[onSpark]].
  */
class StoreProbeReadSpec extends SparkSpec with graft.TempDirs
    with graft.ExecutedPlans {
  import spark.implicits._

  private val rng = new scala.util.Random(41L)
  private val vocab = Array.tabulate(400)(i => s"w$i")
  private val docs = (0L until 240L).map(i =>
    (i, Seq.fill(30)(vocab(rng.nextInt(vocab.length))).mkString(" ")))
    .toDF("doc_id", "text")
  private val vecs = (0L until 400L).map(i =>
    (i, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  private val vq = vecs.filter($"vec_id" < 6)

  /** `body` run under a job group; the second value counts the jobs of
    * that group that started without an SQL execution id.
    */
  private def unattributedJobs[T](body: => T): (T, Int) = {
    val group = s"probe-read-${java.util.UUID.randomUUID()}"
    val bare = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        if (g.contains(group) &&
            e.properties.getProperty("spark.sql.execution.id") == null)
          bare.incrementAndGet()
        if (g.contains(s"$group-end")) seen.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "store probe read spec")
      val r = try body finally spark.sparkContext.clearJobGroup()
      // a marker job after the probe: once its start is seen, every
      // earlier job start has been delivered (one ordered queue)
      spark.sparkContext.setJobGroup(s"$group-end", "marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      seen.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      (r, bare.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A map-only probe: one job per store scan, no exchange (broadcast
    * or shuffle) and no window in any plan it executed.
    */
  private def mapOnly(ran: graft.Executed, storeScans: Int): Unit = {
    ran.jobs shouldBe storeScans
    ran.scans should have size storeScans
    ran.count("Exchange") shouldBe 0
    ran.count("BroadcastExchange") shouldBe 0
    ran.count("Window") shouldBe 0
  }

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.toString).sorted.toSeq

  /** (a) for the read itself: rows and schema equal Spark's own read of
    * the root under the same partition filter, and the driver decode of
    * the listed files equals the scan.
    */
  private def sameAsSparkRead(root: String, partCol: String,
      ids: Seq[Any], levels: (String, Seq[Any])*): Unit = {
    val scan = StoreScan.scan(spark, root, levels: _*)
    val ours = scan.frame
    val theirs = spark.read.parquet(root)
    ours.schema shouldBe theirs.schema
    sorted(ours.filter(col(partCol).isInCollection(ids)).collect()) shouldBe
      sorted(theirs.filter(col(partCol).isInCollection(ids)).collect())
    val toRow = CatalystTypeConverters.createToScalaConverter(ours.schema)
    sorted(scan.decode().map(r => toRow(r).asInstanceOf[Row]).toArray) shouldBe
      sorted(ours.collect())
  }

  private def canonical(p: org.apache.hadoop.fs.Path): String =
    new java.io.File(p.toUri).getCanonicalPath

  /** The data files directly in each directory of `dirs` that exists. */
  private def dataFilesIn(dirs: Seq[String]): Set[String] =
    dirs.map(new java.io.File(_)).filter(_.isDirectory)
      .flatMap(_.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      .map(_.getCanonicalPath).toSet

  /** (e): `probe` under the driver budget runs no Spark job, answers the
    * rows and schema it answers on the Spark path, and decodes, under
    * the store `roots`, exactly the data files of the probed `dirs`,
    * each once (other decoded files are `_meta` sidecars).
    */
  private def drivenAsInSpark(roots: Seq[String], dirs: Seq[String])(
      probe: => DataFrame): Unit = {
    val inSpark = onSpark(probe)
    val ((out, files), ran) = executed(onDriver(StoreScan.decodedFiles(probe)))
    ran.jobs shouldBe 0
    out.schema shouldBe inSpark.schema
    sorted(out.collect()) shouldBe sorted(inSpark.collect())
    val under = files.map(canonical).filterNot(_.contains("/_meta/"))
    under.foreach(f => roots.exists(r =>
      f.startsWith(new java.io.File(r).getCanonicalPath + "/")) shouldBe true)
    under.toSet shouldBe dataFilesIn(dirs)
    under.size shouldBe under.distinct.size
  }

  private def bucketsOf(text: DataFrame, buckets: Int): Seq[Long] =
    text.select(explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .filter($"t" =!= "").distinct().as[String].collect()
      .map(t => math.floorMod(MurmurFree.md5Long60(t), buckets.toLong))
      .distinct.sorted.toSeq

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))

  test("bm25 store, 64 buckets: no listing or schema job, probed buckets only") {
    val store = tempDir("probe-bm25-") + "/idx"
    Search.writePostingsStore(docs, "doc_id", "text", store, buckets = 64)
    // 3 queries of 30 tokens: more than 32 probed buckets, so even the
    // probed directories alone are past Spark's parallel-listing threshold
    val queries = docs.filter($"doc_id" < 3)
    val probed = bucketsOf(queries, 64)
    probed.size should be > 32
    val ((got, ran), bare) = unattributedJobs(executed(onSpark {
      rows(Search.bm25TopKFromStore(spark, store, queries, "doc_id",
        "text", k = 5))
    }))
    bare shouldBe 0
    got shouldBe rows(Search.bm25TopK(docs, queries, "doc_id", "text", 5))
    val roots = ran.scanRoots.filter(_.toString.contains("/postings"))
    roots.map(_.getName).toSet shouldBe probed.map(b => s"bucket=$b").toSet
    // one (query, doc) sum shuffle — its map and result stages are the
    // probe's only jobs — and the top-k gathered without a window
    ran.count("Exchange") shouldBe 1
    ran.count("BroadcastExchange") shouldBe 0
    ran.count("Window") shouldBe 0
    ran.jobs shouldBe 2
    sameAsSparkRead(s"$store/postings", "bucket", probed,
      "bucket" -> probed)
    drivenAsInSpark(Seq(store), probed.map(b => s"$store/postings/bucket=$b")) {
      Search.bm25TopKFromStore(spark, store, queries, "doc_id", "text", k = 5)
    }
  }

  test("segmented bm25, 2 segments: live segments × probed buckets only") {
    val store = tempDir("probe-seg-") + "/idx"
    Search.writeIndexSegments(Seq(docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1)), "doc_id", "text", store,
      buckets = 64)
    val queries = docs.filter($"doc_id" < 2)
    val probed = bucketsOf(queries, 64)
    val segs = spark.read.parquet(s"$store/_meta").as[(String, Long, Long, Int)]
      .collect().map(_._1).toSeq
    segs should have size 2
    val ((got, ran), bare) = unattributedJobs(executed(onSpark {
      rows(Search.bm25TopKSegmented(spark, store, queries, "doc_id",
        "text", k = 5))
    }))
    bare shouldBe 0
    got shouldBe rows(Search.bm25TopK(docs, queries, "doc_id", "text", 5))
    ran.count("Window") shouldBe 0
    ran.count("BroadcastExchange") shouldBe 0
    val roots = ran.scanRoots.filter(_.toString.contains("/postings"))
    roots should not be empty
    roots.foreach { r =>
      segs.map(s => s"segment=$s") should contain(r.getParent.getName)
      probed.map(b => s"bucket=$b") should contain(r.getName)
    }
    sameAsSparkRead(s"$store/postings", "bucket", probed,
      "segment" -> segs, "bucket" -> probed)
    drivenAsInSpark(Seq(store), for (sg <- segs; b <- probed)
        yield s"$store/postings/segment=$sg/bucket=$b") {
      Search.bm25TopKSegmented(spark, store, queries, "doc_id", "text", k = 5)
    }
    graft.core.CacheScope.releaseAll()
  }

  test("bm25 probe whose buckets have no directory: the typed empty answer") {
    val store = tempDir("probe-bm25-absent-") + "/idx"
    val tiny = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    Search.writePostingsStore(tiny, "doc_id", "text", store, buckets = 64)
    val present = bucketsOf(tiny, 64).toSet
    val unseen = Iterator.from(0).map(i => s"zz$i")
      .find(t => !present(math.floorMod(MurmurFree.md5Long60(t), 64L))).get
    val q = Seq((9L, unseen)).toDF("doc_id", "text")
    val (out, bare) = unattributedJobs(onSpark {
      val o = Search.bm25TopKFromStore(spark, store, q, "doc_id", "text", 5)
      o.collect() shouldBe empty
      o
    })
    bare shouldBe 0
    out.schema shouldBe Search.bm25TopKFromStore(spark, store,
      tiny.filter($"doc_id" === 1L), "doc_id", "text", 5).schema
    drivenAsInSpark(Seq(store), Seq(s"$store/postings/bucket=64")) {
      Search.bm25TopKFromStore(spark, store, q, "doc_id", "text", 5)
    }
    // the read itself: empty, with the full store schema
    val absent = Seq[Any](64L)
    StoreScan.scan(spark, s"$store/postings", "bucket" -> absent).frame.schema shouldBe
      spark.read.parquet(s"$store/postings").schema
    StoreScan.scan(spark, s"$store/postings", "bucket" -> absent).frame.count() shouldBe 0L
  }

  test("IVF-SQ8 + raw refine, 64 lists: both scans read probed lists only") {
    val cents = Similarity.seedCentroids(vecs, "vec_id", "embedding", 64)
    val (mins, maxs) = Similarity.trainSqParams(vecs, "embedding", 8)
    val sqStore = tempDir("probe-ivfsq-") + "/idx"
    val rawStore = tempDir("probe-raw-") + "/idx"
    Similarity.writeIvfSqCodes(vecs, "vec_id", "embedding", cents, sqStore,
      mins, maxs)
    Similarity.writeIvfAssignments(vecs, "vec_id", "embedding", cents, rawStore)
    new java.io.File(rawStore).list().count(_.startsWith("list=")) should be > 32
    val probed = vq.select(Coarse.Ivf(cents, 3).probe($"embedding").as("l"))
      .distinct().as[Int].collect().sorted.toSeq
    val ((got, ran), bare) = unattributedJobs(executed(onSpark {
      rows(Similarity.ivfSqRerankTopKFromStores(spark, sqStore, rawStore,
        vq, "vec_id", "embedding", k = 5, cents, nprobe = 3, mins, maxs,
        factor = 2))
    }))
    bare shouldBe 0
    got shouldBe rows(Similarity.ivfSqRerankTopK(vecs, vq, "vec_id",
      "embedding", k = 5, cents, nprobe = 3, mins, maxs, factor = 2))
    mapOnly(ran, storeScans = 2)
    val roots = ran.scanRoots
    roots.map(_.getParent.getName).toSet shouldBe Set("idx")
    roots.map(_.getName).toSet shouldBe probed.map(l => s"list=$l").toSet
    roots.map(_.getParent.getParent.getName).toSet.size shouldBe 2 // both stores
    sameAsSparkRead(sqStore, "list", probed, "list" -> probed)
    sameAsSparkRead(rawStore, "list", probed, "list" -> probed)
    drivenAsInSpark(Seq(sqStore, rawStore), for (st <- Seq(sqStore, rawStore);
        l <- probed) yield s"$st/list=$l") {
      Similarity.ivfSqRerankTopKFromStores(spark, sqStore, rawStore, vq,
        "vec_id", "embedding", k = 5, cents, nprobe = 3, mins, maxs,
        factor = 2)
    }
  }

  test("IVF probe whose lists have no directory: the typed empty answer") {
    // corpus rows lie near the first three axes only, so the fourth
    // axis' list never holds a row and has no list= directory; a query
    // on that axis probes only that list
    val axes = (0 until 4).map(a => Array.tabulate(8)(j => if (j == a) 1.0 else 0.0))
    val near = (0L until 60L).map(i => (i, Array.tabulate(8)(j =>
      if (j == (i % 3).toInt) 1.0f
      else if (j < 3) (rng.nextDouble() * 0.1).toFloat else 0f)))
      .toDF("vec_id", "embedding")
    val store = tempDir("probe-ivf-absent-") + "/idx"
    Similarity.writeIvfAssignments(near, "vec_id", "embedding", axes, store)
    new java.io.File(s"$store/list=3").exists() shouldBe false
    val q = Seq((900L, axes(3).map(_.toFloat))).toDF("vec_id", "embedding")
    val (out, bare) = unattributedJobs(onSpark {
      val o = Similarity.ivfTopKFromStore(spark, store, q, "vec_id",
        "embedding", k = 5, centroids = axes, nprobe = 1)
      o.collect() shouldBe empty
      o
    })
    bare shouldBe 0
    out.schema shouldBe Similarity.ivfTopKFromStore(spark, store,
      near.filter($"vec_id" < 2), "vec_id", "embedding", k = 5,
      centroids = axes, nprobe = 1).schema
    StoreScan.scan(spark, store, "list" -> Seq(3)).frame.schema shouldBe
      spark.read.parquet(store).schema
    drivenAsInSpark(Seq(store), Seq(s"$store/list=3")) {
      Similarity.ivfTopKFromStore(spark, store, q, "vec_id", "embedding",
        k = 5, centroids = axes, nprobe = 1)
    }
  }

  test("LSH store: probed bucket directories only, answers ≡ in-memory") {
    val store = tempDir("probe-lsh-") + "/idx"
    Similarity.writeLshBuckets(vecs, "vec_id", "embedding", store,
      planes = 6, dim = 8)
    val lsh = Coarse.Lsh(6, 8, 2)
    val probed = vq.select(lsh.probe($"embedding").as("b")).distinct()
      .as[Long].collect().sorted.toSeq
    val ((got, ran), bare) = unattributedJobs(executed(onSpark {
      rows(Similarity.lshTopKFromStore(spark, store, vq, "vec_id",
        "embedding", k = 5, planes = 6, dim = 8, probes = 2))
    }))
    bare shouldBe 0
    got shouldBe rows(Similarity.lshTopK(vecs, vq, "vec_id", "embedding",
      k = 5, planes = 6, dim = 8, probes = 2))
    mapOnly(ran, storeScans = 1)
    ran.scanRoots.map(_.getName).toSet shouldBe
      probed.map(b => s"bucket=$b").toSet
    sameAsSparkRead(store, "bucket", probed, "bucket" -> probed)
    drivenAsInSpark(Seq(store), probed.map(b => s"$store/bucket=$b")) {
      Similarity.lshTopKFromStore(spark, store, vq, "vec_id", "embedding",
        k = 5, planes = 6, dim = 8, probes = 2)
    }
  }

  test("flat SQ8 store: one root, no listing or schema job") {
    val (mins, maxs) = Similarity.trainSqParams(vecs, "embedding", 8)
    val store = tempDir("probe-sq-") + "/idx"
    Similarity.writeSqCodes(vecs, "vec_id", "embedding", store, mins, maxs)
    val ((got, ran), bare) = unattributedJobs(executed(onSpark {
      rows(Similarity.sqTopKFromStore(spark, store, vq, "vec_id",
        "embedding", k = 5, mins, maxs))
    }))
    bare shouldBe 0
    got shouldBe rows(Similarity.sqTopK(vecs, vq, "vec_id", "embedding",
      k = 5, mins, maxs))
    mapOnly(ran, storeScans = 1)
    ran.scanRoots.map(_.getName) shouldBe Seq("idx")
    val ours = StoreScan.scan(spark, store).frame
    ours.schema shouldBe spark.read.parquet(store).schema
    sorted(ours.collect()) shouldBe sorted(spark.read.parquet(store).collect())
    def probe() = Similarity.sqTopKFromStore(spark, store, vq, "vec_id",
      "embedding", k = 5, mins, maxs)
    drivenAsInSpark(Seq(store), Seq(store))(probe())
    // the budget is inclusive: probed bytes equal to it score on the
    // driver, one byte over runs the Spark job
    val bytes = StoreScan.scan(spark, store).bytes
    executed(StoreProbe.withDriverByteBudget(bytes)(probe()))._2.jobs shouldBe 0
    executed(StoreProbe.withDriverByteBudget(bytes - 1)(probe()))._2.jobs shouldBe 1
  }

  test("a store with no data file fails as Spark's own read does") {
    val empty = tempDir("probe-nodata-")
    val e1 = intercept[Exception](spark.read.parquet(empty).schema)
    val e2 = intercept[Exception](StoreScan.scan(spark, empty).frame.schema)
    e2.getClass shouldBe e1.getClass
  }
}
