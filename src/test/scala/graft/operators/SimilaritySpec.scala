package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec with graft.TempDirs
    with graft.ExecutedPlans {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 1
    (3L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 1
    (4L, Array(1.0f, 1.0f, 0.0f)),   // 45° to 1
    (5L, Array(-1.0f, 0.0f, 0.0f))   // opposite to 1
  ).toDF("vec_id", "embedding")

  test("cosine: parallel=1, orthogonal=0, opposite=-1") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs((1L, 3L)) shouldBe 1.0 +- 1e-12
    pairs((1L, 2L)) shouldBe 0.0 +- 1e-12
    pairs((1L, 5L)) shouldBe -1.0 +- 1e-12
    pairs((1L, 4L)) shouldBe math.sqrt(0.5) +- 1e-12
  }

  test("bruteForceTopK: correct ranking with id tiebreak, no self-pair") {
    val out = Similarity.bruteForceTopK(
      vecs, vecs.filter($"vec_id" === 1), "vec_id", "embedding", k = 3)
      .orderBy("rank")
      .select("neighbor_id", "rank").as[(Long, Long)].collect()
    out shouldBe Array((3L, 1L), (4L, 2L), (2L, 3L)) // 1.0, .707, 0.0
  }

  test("lsh buckets: identical direction vectors share a bucket") {
    val b = vecs.withColumn("bucket",
        Similarity.lshBucket($"embedding", planes = 8, dim = 3))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    b(1L) shouldBe b(3L)  // parallel vectors: identical projections
    b(1L) should not be b(5L) // opposite vector flips every sign bit
  }

  test("lshTopK returns bucket-local exact ranks") {
    val out = Similarity.lshTopK(vecs, vecs.filter($"vec_id" === 1),
      "vec_id", "embedding", k = 5, planes = 2, dim = 3)
    val rows = out.select("neighbor_id", "rank", "sim").collect()
    rows.map(_.getLong(0)) should contain(3L) // same-bucket parallel vec
    // ranks are contiguous from 1
    rows.map(_.getLong(1)).sorted shouldBe (1L to rows.length).toArray
  }

  test("cosineNearDupPairs: near-identical vectors found, others not") {
    val base = Array.tabulate(16)(i => math.sin(i * 1.7).toFloat)
    val nearDup = base.zipWithIndex.map { case (v, i) => v + (if (i == 0) 1e-4f else 0f) }
    val other = Array.tabulate(16)(i => math.cos(i * 2.3).toFloat)
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.99, planes = 4, tables = 8, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L))
  }

  test("lshTopK plan has no cartesian product") {
    val plan = Similarity.lshTopK(vecs, vecs, "vec_id", "embedding", 3,
      planes = 2, dim = 3).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
  }

  test("ivfTopK: cluster-local exact ranks; unprobed lists invisible") {
    // two clean clusters around the x and y axes; seeds = first 2 vectors
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // seed / list 0
      (1L, Array(0.0f, 1.0f, 0.0f)),   // seed / list 1
      (2L, Array(0.9f, 0.1f, 0.0f)),   // x cluster
      (3L, Array(0.8f, 0.2f, 0.0f)),   // x cluster
      (4L, Array(0.1f, 0.9f, 0.0f)),   // y cluster
      (5L, Array(0.2f, 0.8f, 0.0f))    // y cluster
    ).toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(df, "vec_id", "embedding", 2)
    cents.length shouldBe 2
    // nprobe=1: query 0 sees only the x list — exact cosine order there
    val out = Similarity.ivfTopK(df, df.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 5, cents, nprobe = 1)
      .orderBy("rank").collect().map(_.getLong(1))
    out shouldBe Array(2L, 3L) // y-cluster members never scored
    // nprobe=2: all lists probed → equals brute force
    val ivf = Similarity.ivfTopK(df, df.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 5, cents, nprobe = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(3)))
    val brute = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 5)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(3)))
    ivf shouldBe brute
    // degenerate SINGLE-list quantizer: one centroid, nprobe=1 — valid
    // per ivfTopK's own require, must not crash on least()'s 2-arg
    // minimum (regression: this site was missed in the bestListStruct
    // conversion) and equals brute force since the one list holds all
    val single = Similarity.ivfTopK(df, df.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 5, Seq(cents.head), nprobe = 1)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(3)))
    single shouldBe brute
  }

  test("centroidOutlierScores: in-cluster high, off-cluster low, no shuffle") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),  // seed / list 0
      (1L, Array(0.0f, 1.0f, 0.0f)),  // seed / list 1
      (2L, Array(0.9f, 0.1f, 0.0f)),  // near list 0
      (3L, Array(0.0f, 0.0f, 1.0f))   // orthogonal to both → outlier
    ).toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(df, "vec_id", "embedding", 2)
    val out = Similarity.centroidOutlierScores(df, "vec_id", "embedding", cents)
    out.queryExecution.executedPlan.toString should not include "Exchange"
    val m = out.collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    m(0L)._2 shouldBe 1.0 +- 1e-12          // a seed matches itself
    m(2L)._1 shouldBe 0                     // assigned to the x list
    m(2L)._2 should be > 0.9
    m(3L)._2 shouldBe 0.0 +- 1e-12          // orthogonal to every centroid
  }

  test("refineCentroids: deterministic bits; recall improves on planted clusters") {
    // four planted clusters; the four SEEDS cover them badly (two land in
    // cluster 0, none in cluster 1) — the classic bad-seed case Lloyd
    // refinement exists to fix
    val rnd = new scala.util.Random(42)
    val dirs = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    def vec(c: Int): Seq[Float] =
      dirs(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f)
    val rows = Seq((0L, vec(0)), (1L, vec(0)), (2L, vec(2)), (3L, vec(3))) ++
      (4L until 204L).map(i => (i, vec((i % 4).toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val seeds = Similarity.seedCentroids(df, "vec_id", "embedding", 4)
    val refined = Similarity.refineCentroids(
      df, "vec_id", "embedding", seeds, iterations = 3)
    // bit-exact rebuild: the index is a pure function of (sample, seeds)
    Similarity.refineCentroids(df, "vec_id", "embedding", seeds, iterations = 3)
      .map(_.toSeq) shouldBe refined.map(_.toSeq)
    val queries = df.filter($"vec_id".between(4, 43))
    val truth = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(cents: Seq[Array[Double]]): Double = {
      val got = Similarity.ivfTopK(df, queries, "vec_id", "embedding", 5,
        cents, nprobe = 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val (rSeed, rRefined) = (recall(seeds), recall(refined))
    withClue(s"seed recall $rSeed vs refined $rRefined: ") {
      rRefined should be > rSeed
      rRefined should be >= 0.8
    }
  }

  test("refineCentroidsDistributed ≡ driver twin on planted clusters") {
    // two tight clusters in 3-d; seeds = one member of each
    val pts = Seq(
      (1L, Array(1.0f, 0.02f, 0.0f)), (2L, Array(0.98f, 0.0f, 0.01f)),
      (3L, Array(1.01f, 0.01f, 0.02f)),
      (10L, Array(0.0f, 1.0f, 0.03f)), (11L, Array(0.02f, 0.97f, 0.0f)),
      (12L, Array(0.0f, 1.02f, 0.01f))
    ).toDF("vec_id", "v")
    val seeds = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val driver = Similarity.refineCentroids(pts, "vec_id", "v", seeds, 2)
    val dist = Similarity.refineCentroidsDistributed(pts, "vec_id", "v", seeds, 2)
    // same cluster structure; centroids agree to float tolerance (the
    // distributed sums add in partition order — behavioral, not bit,
    // equality is the contract)
    driver.zip(dist).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => math.abs(x - y) should be < 1e-9 }
    }
    // empty-list contract matches the driver twin: a seed no point
    // chooses survives refinement untouched
    val seeds3 = seeds :+ Array(0.0, 0.0, -1.0)
    val dist3 = Similarity.refineCentroidsDistributed(pts, "vec_id", "v", seeds3, 1)
    dist3(2) shouldBe Array(0.0, 0.0, -1.0)
  }

  test("refineCentroids: empty lists keep their previous centroid") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    // second seed is opposite every vector → never wins an assignment
    val seeds = Seq(Array(1.0, 0.0), Array(-1.0, 0.0))
    val refined = Similarity.refineCentroids(
      df, "vec_id", "embedding", seeds, iterations = 2)
    refined(1).toSeq shouldBe Seq(-1.0, 0.0) // untouched
    refined(0)(0) should be > 0.0 // sum of all three vectors
  }

  test("ivfTopK plan: corpus broadcast-joins probes, never a cartesian") {
    val df = vecs
    val cents = Similarity.seedCentroids(df, "vec_id", "embedding", 2)
    val plan = Similarity.ivfTopK(df, df, "vec_id", "embedding", 3, cents, 1)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  // 8 vectors in 2 subspaces of 2 dims; ids 0..3 double as codebook seeds
  test("clusterBalancedSample: per-cluster cap, deterministic, assignment map-side") {
    // two tight direction clusters around x and y; 3 members each + 1 stray
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.95f, 0.05f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f)), (12L, Array(0.1f, 0.9f, 0.0f)),
      (13L, Array(0.05f, 0.95f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val out = Similarity.clusterBalancedSample(
      df, "vec_id", "embedding", cents, n = 2)
    // exactly 2 per cluster, x-cluster rows assigned list 0, y-cluster 1
    val byList = out.select("list", "vec_id").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    byList.keySet shouldBe Set(0, 1)
    byList(0).size shouldBe 2
    byList(1).size shouldBe 2
    byList(0).subsetOf(Set(1L, 2L, 3L)) shouldBe true
    byList(1).subsetOf(Set(11L, 12L, 13L)) shouldBe true
    // deterministic rerun
    Similarity.clusterBalancedSample(df, "vec_id", "embedding", cents, n = 2)
      .select("vec_id").as[Long].collect().toSet shouldBe
      out.select("vec_id").as[Long].collect().toSet
  }

  private def pqVecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
    (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (3L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
    (4L, Array(1.1f, 0.1f, 0.0f, 0.1f)),  // ≈ seed 0
    (5L, Array(0.0f, 0.9f, 0.1f, 0.9f)),  // ≈ seed 1
    (6L, Array(0.1f, 0.0f, 0.9f, 0.0f)),  // ≈ seed 2
    (7L, Array(0.9f, 1.1f, 1.0f, 1.0f))   // ≈ seed 3
  ).toDF("vec_id", "embedding")

  test("pqEncode: seeds encode to themselves; near vectors to their seed") {
    val cb = Similarity.seedPqCodebooks(pqVecs, "vec_id", "embedding",
      m = 2, k = 4, dsub = 2)
    val codes = Similarity.pqEncode(pqVecs, "vec_id", "embedding", cb,
      m = 2, numCodes = 4, dsub = 2)
      .as[(Long, Seq[Int])].collect().toMap
    // each seed's sub-vectors are exactly its own codebook entries
    for (id <- 0L to 3L) codes(id) shouldBe Seq(id.toInt, id.toInt)
    // near-copies quantize to their seed in both subspaces
    codes(4L) shouldBe Seq(0, 0)
    codes(5L) shouldBe Seq(1, 1)
    codes(6L) shouldBe Seq(2, 2)
    codes(7L) shouldBe Seq(3, 3)
  }

  test("pqTopK: ADC equals L2 to the reconstructed vector; ranks sane") {
    val cb = Similarity.seedPqCodebooks(pqVecs, "vec_id", "embedding",
      m = 2, k = 4, dsub = 2)
    val out = Similarity.pqTopK(pqVecs, pqVecs.filter($"vec_id" === 4),
      "vec_id", "embedding", k = 3, codebook = cb,
      m = 2, numCodes = 4, dsub = 2)
      .orderBy("rank")
      .select("neighbor_id", "rank", "adc").as[(Long, Long, Double)].collect()
    // query 4 ≈ seed 0; self-pair excluded, so the top hit is id 0 — the
    // only other vector encoding to (0, 0)
    out.head._1 shouldBe 0L
    // ADC telescopes: dist to id 0's reconstruction = ‖q − seed0‖²
    val q = Array(1.1f, 0.1f, 0.0f, 0.1f).map(_.toDouble) // widened like the kernel
    val recon = Array(1.0, 0.0, 0.0, 0.0)
    val expected = q.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
    val adcTo0 = out.find(_._1 == 0L).get._3
    adcTo0 shouldBe expected +- 1e-9
  }

  test("pqTopK: unencodable corpus rows never displace real neighbors") {
    val cb = Similarity.seedPqCodebooks(pqVecs, "vec_id", "embedding",
      m = 2, k = 4, dsub = 2)
    // rows that fail to encode (short / null vector) get null codes →
    // null ADC; nulls sort first under asc, so pre-fix they occupied the
    // top ranks of every query
    val corrupted = pqVecs.union(Seq(
      (100L, Array(1.0f)),
      (101L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding"))
    val out = Similarity.pqTopK(corrupted, pqVecs.filter($"vec_id" === 4),
      "vec_id", "embedding", k = 3, codebook = cb,
      m = 2, numCodes = 4, dsub = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    out should have length 3
    out.head shouldBe 0L // same top hit as the clean-corpus test
    out should contain noneOf (100L, 101L)
  }

  test("ivfTopKFromStore: bit-identical to ivfTopK, store scan partition-pruned") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i => math.sin(seed * 31 + i).toFloat)
    val corpus = (0L until 200L).map(i => (i, vec(i.toInt % 40)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding",
      numLists = 8)
    val queries = corpus.filter($"vec_id" < 3)
    val direct = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, centroids = cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val store = tempDir("ivf-store-") + "/idx"
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding", cents, store)
    val (stored, ran) = executed(onSpark(
      Similarity.ivfTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2)))
    stored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
    // the probed-list union reaches the file index as a partition filter
    // — the store scan never lists the unprobed list= directories
    val plan = ran.planString
    plan should include("PartitionFilters")
    plan should include regex "list#\\d+ IN \\("
    // under the driver budget: the same answer and schema, no Spark job
    val (local, drv) = executed(onDriver(
      Similarity.ivfTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2)))
    drv.jobs shouldBe 0
    local.schema shouldBe stored.schema
    local.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
  }

  test("ivfPqTopKFromStore: bit-identical to ivfPqTopK, compressed store pruned") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i => math.sin(seed * 31 + i).toFloat)
    val corpus = (0L until 200L).map(i => (i, vec(i.toInt % 40)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding",
      numLists = 8)
    val cb = Similarity.seedPqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val queries = corpus.filter($"vec_id" < 3)
    val direct = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      k = 5, centroids = cents, nprobe = 2, codebook = cb,
      m = 2, numCodes = 4, dsub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val store = tempDir("ivfpq-store-") + "/idx"
    Similarity.writeIvfPqAssignments(corpus, "vec_id", "embedding", cents,
      cb, store, m = 2, numCodes = 4, dsub = 4)
    // the persisted rows are codes, not vectors — the 64× compression
    // is IN the store, not just in flight
    val storedSchema = spark.read.parquet(store).schema.fieldNames.toSet
    storedSchema shouldBe Set("id", "codes", "list")
    val (stored, ran) = executed(onSpark(
      Similarity.ivfPqTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
        codebook = cb, m = 2, numCodes = 4, dsub = 4)))
    stored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)) shouldBe direct
    // probed-list pruning reaches the file index, like the raw store
    val plan = ran.planString
    plan should include("PartitionFilters")
    plan should include regex "list#\\d+ IN \\("
  }

  test("lshTopKFromStore: bit-identical to in-flight LSH, bucket partitions pruned, meta refusal") {
    val corpus = lshVecs(150)
    val queries = corpus.filter($"vec_id" < 5)
    val store = tempDir("lsh-store-") + "/idx"
    Similarity.writeLshBuckets(corpus, "vec_id", "embedding", store,
      planes = 4, dim = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "sim")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    // store ≡ in-memory at probes=1 and 3 — vectors and norms
    // round-trip parquet exactly
    rows(Similarity.lshTopKFromStore(spark, store, queries,
      "vec_id", "embedding", k = 5, planes = 4, dim = 8)) shouldBe
      rows(Similarity.lshTopK(corpus, queries,
        "vec_id", "embedding", k = 5, planes = 4, dim = 8))
    val (stored, ran) = executed(onSpark(
      Similarity.lshTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, planes = 4, dim = 8, probes = 3)))
    rows(stored) shouldBe
      rows(Similarity.lshTopK(corpus, queries,
        "vec_id", "embedding", k = 5, planes = 4, dim = 8, probes = 3))
    // the probed-bucket union reaches the file index as a partition
    // filter — unprobed bucket= directories are never listed
    val plan = ran.planString
    plan should include("PartitionFilters")
    plan should include regex "bucket#\\d+ IN \\("
    // a probe under a different geometry refuses via the _meta sidecar
    val e = the[IllegalArgumentException] thrownBy
      Similarity.lshTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, planes = 6, dim = 8)
    e.getMessage should include("planes")
  }

  test("sqTopK: grid-aligned decode replay; store round-trip bit-identical; meta refusal") {
    // elements are integers in [0, 255] and every dim attains both ends,
    // so mins=0, maxs=255, scale=step=1: encode floor(x) = x, and the
    // bin-center decode reconstructs x + 0.5 per dim — the adc must
    // equal the driver-side replay of exactly that formula
    val dim = 4
    val grid = ((0L to 9L).map { id =>
      id -> Array.tabulate(dim)(j => ((id * 37 + j * 91) % 251).toFloat)
    } :+ (10L -> Array.fill(dim)(0f)) :+ (11L -> Array.fill(dim)(255f)))
      .toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.trainSqParams(grid, "embedding", dim)
    mins shouldBe Array.fill(dim)(0.0)
    maxs shouldBe Array.fill(dim)(255.0)
    val queries = grid.filter($"vec_id" < 3)
    val out = Similarity.sqTopK(grid, queries, "vec_id", "embedding",
      k = 4, mins, maxs)
      .select("query_id", "neighbor_id", "rank", "adc")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    // driver-side decode replay (neighbor value + 0.5 at step 1) with
    // the same asc/id-tiebreak ranking
    val vecs = grid.as[(Long, Array[Float])].collect().toMap
    val expected = (0L to 2L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          val d = v.zip(vecs(q)).map { case (a, b) =>
            val t = b.toDouble - (a.toDouble + 0.5); t * t }.sum
          (n, d)
        }
        .sortBy { case (n, d) => (d, n) }.take(4).zipWithIndex
        .map { case ((n, d), i) => (q, n, (i + 1).toLong, d) }
    }
    out shouldBe expected.sortBy(t => (t._1, t._3)).toArray
    // store round-trip: code bytes round-trip parquet exactly
    val store = tempDir("sq-store-") + "/idx"
    Similarity.writeSqCodes(grid, "vec_id", "embedding", store, mins, maxs)
    Similarity.sqTopKFromStore(spark, store, queries, "vec_id",
      "embedding", k = 4, mins, maxs)
      .select("query_id", "neighbor_id", "rank", "adc")
      .as[(Long, Long, Long, Double)].collect()
      .sortBy(t => (t._1, t._3)) shouldBe out
    // probing with different training params refuses via _meta
    val e = the[IllegalArgumentException] thrownBy
      Similarity.sqTopKFromStore(spark, store, queries, "vec_id",
        "embedding", k = 4, mins.map(_ + 1.0), maxs.map(_ + 1.0))
    e.getMessage should include("params_md5")
  }

  test("sqTopK: quantization error bound, null contract, degenerate constant dim") {
    val dim = 8
    // dim 7 constant: max == min ⇒ scale/step 0, code 0, decode = min
    val base = (0L to 19L).map { id =>
      id -> Array.tabulate(dim)(j =>
        if (j == 7) 3.25f else math.sin(id * 2.17 + j * 0.91).toFloat)
    }
    // two frames: clean float-array rows + null/short/null-element rows
    val clean = base.toDF("vec_id", "embedding")
    val dirty = Seq(
      (100L, null.asInstanceOf[Array[java.lang.Float]]),
      (101L, Array[java.lang.Float](1f, 2f, 3f)),
      (102L, Array[java.lang.Float](1f, null, 3f, 4f, 5f, 6f, 7f, 8f))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val all = clean.unionByName(dirty)
    val (mins, maxs) = Similarity.trainSqParams(clean, "embedding", dim)
    // degenerate dim trained correctly
    mins(7) shouldBe maxs(7)
    val out = Similarity.sqTopK(all, clean.filter($"vec_id" < 2),
      "vec_id", "embedding", k = 25, mins, maxs)
    val neighbors = out.select("neighbor_id").as[Long].collect().toSet
    // unencodable rows are dropped, never ranked
    neighbors.intersect(Set(100L, 101L, 102L)) shouldBe empty
    // bin-center decode ⇒ per-dim decode error ≤ step/2 (an encoded
    // value lies in [edge, edge + step), the center is ≤ step/2 away;
    // the tiny multiplicative slack absorbs scale/step rounding) ⇒
    // self-distance ≤ Σ (step/2)² on encodable in-range data; checked
    // through the public path: assert adc ≥ 0 and the quantization
    // bound on a planted exact twin of query 0. Half the lower-edge
    // decode's Σ step² bound — the reason bin centers win.
    val twin = Seq((200L, base.find(_._1 == 0L).get._2))
      .toDF("vec_id", "embedding")
    val steps = mins.indices.map(i =>
      if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255.0 else 0.0)
    val bound = steps.map(s => 0.5 * s * 0.5 * s).sum * 1.0001 + 1e-30
    val twinAdc = Similarity.sqTopK(twin, clean.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 1, mins, maxs)
      .select("adc").as[Double].head()
    twinAdc should be >= 0.0
    twinAdc should be <= bound
  }

  test("ivfSqTopK: nprobe=all ≡ sqTopK; store round-trip, partition pruning, meta refusal") {
    val corpus = mpVecs(150)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "adc")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    // probing every list = no pruning: bit-identical to the flat scan
    rows(Similarity.ivfSqTopK(corpus, queries, "vec_id", "embedding",
      k = 5, centroids = cents, nprobe = 4, mins = mins, maxs = maxs)) shouldBe
      rows(Similarity.sqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, mins, maxs))
    val store = tempDir("ivfsq-store-") + "/idx"
    Similarity.writeIvfSqCodes(corpus, "vec_id", "embedding", cents,
      store, mins, maxs)
    val (stored, ran) = executed(onSpark(
      Similarity.ivfSqTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
        mins = mins, maxs = maxs)))
    rows(stored) shouldBe
      rows(Similarity.ivfSqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, centroids = cents, nprobe = 2, mins = mins, maxs = maxs))
    // the probed-list union reaches the file index as a partition filter
    val plan = ran.planString
    plan should include("PartitionFilters")
    plan should include regex "list#\\d+ IN \\("
    // wrong grid params refuse via _meta
    val e = the[IllegalArgumentException] thrownBy
      Similarity.ivfSqTopKFromStore(spark, store, queries, "vec_id",
        "embedding", k = 5, centroids = cents, nprobe = 2,
        mins = mins.map(_ - 1.0), maxs = maxs)
    e.getMessage should include("params_md5")
  }

  test("SqKernels fuzz: codes and distances match a driver-side replay; out-of-range clamps") {
    val rnd = new scala.util.Random(42)
    val dim = 8
    val base = (0L until 60L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 4f - 2f)))
    // one corpus vector far outside the trained grid on every dim: its
    // codes must clamp to 0/255, not wrap or poison the ranking
    val data = (base :+ (60L, Array.tabulate(dim)(j =>
      if (j % 2 == 0) 50f else -50f))).toDF("vec_id", "embedding")
    val trained = base.toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.trainSqParams(trained, "embedding", dim)
    val scales = Array.tabulate(dim)(i =>
      if (maxs(i) > mins(i)) 255.0 / (maxs(i) - mins(i)) else 0.0)
    val steps = Array.tabulate(dim)(i =>
      if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255.0 else 0.0)
    def codesOf(v: Array[Float]): Array[Int] = Array.tabulate(dim) { i =>
      val c = math.floor((v(i).toDouble - mins(i)) * scales(i))
      if (c < 0) 0 else if (c > 255) 255 else c.toInt
    }
    val vecs = (base :+ (60L, Array.tabulate(dim)(j =>
      if (j % 2 == 0) 50f else -50f))).toMap
    val got = data.select($"vec_id",
      graft.functions.SqCodes($"embedding", mins, scales).as("codes"))
      .as[(Long, Array[Byte])].collect()
    got.length shouldBe 61
    got.foreach { case (id, codes) =>
      codes.map(_ & 0xFF) shouldBe codesOf(vecs(id))
    }
    // the out-of-range vector clamps to the grid corners exactly
    got.find(_._1 == 60L).get._2.map(_ & 0xFF) shouldBe
      Array.tabulate(dim)(j => if (j % 2 == 0) 255 else 0)
    // every pair distance the public path produces matches the replay
    val qids = Seq(0L, 7L)
    val adc = Similarity.sqTopK(data, data.filter($"vec_id".isin(qids: _*)),
      "vec_id", "embedding", k = 61, mins, maxs)
      .select("query_id", "neighbor_id", "adc")
      .as[(Long, Long, Double)].collect()
    adc.length shouldBe qids.size * 60
    adc.foreach { case (q, n, d) =>
      val qv = vecs(q)
      val cc = codesOf(vecs(n))
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val t = qv(i).toDouble -
          (mins(i) + (cc(i).toDouble + 0.5) * steps(i))
        acc += t * t
        i += 1
      }
      d shouldBe acc
    }
  }

  test("appendIvfSqCodes: appended store ≡ one-shot build; frozen params refuse a re-grid") {
    val corpus = mpVecs(150)
    val first = corpus.filter($"vec_id" < 100)
    val rest = corpus.filter($"vec_id" >= 100)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "adc")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val appended = tempDir("ivfsq-append-") + "/idx"
    Similarity.appendIvfSqCodes(first, "vec_id", "embedding", cents,
      appended, mins, maxs)
    Similarity.appendIvfSqCodes(rest, "vec_id", "embedding", cents,
      appended, mins, maxs)
    val oneShot = tempDir("ivfsq-oneshot-") + "/idx"
    Similarity.writeIvfSqCodes(corpus, "vec_id", "embedding", cents,
      oneShot, mins, maxs)
    rows(Similarity.ivfSqTopKFromStore(spark, appended, queries,
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
      mins = mins, maxs = maxs)) shouldBe
      rows(Similarity.ivfSqTopKFromStore(spark, oneShot, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
        mins = mins, maxs = maxs))
    // appending under different grid params refuses: the store's codes
    // were cut on the ORIGINAL grid and would silently mis-decode
    val e = the[IllegalArgumentException] thrownBy
      Similarity.appendIvfSqCodes(rest, "vec_id", "embedding", cents,
        appended, mins.map(_ - 0.5), maxs)
    e.getMessage should include("params_md5")
  }

  test("rerankExact: whole-corpus shortlist ≡ exact L2 ranking; subset shortlist never resurrects outsiders") {
    val corpus = mpVecs(40)
    val queries = corpus.filter($"vec_id" < 3)
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", 8)
    // factor 8 makes the SQ shortlist the WHOLE corpus (5·8 = 40), so
    // the refine stage must reproduce the exact L2² brute ranking —
    // driver-replayed with the same sequential per-dim fold
    val out = Similarity.sqRerankTopK(corpus, queries, "vec_id",
      "embedding", k = 5, mins, maxs, factor = 8)
      .select("query_id", "neighbor_id", "rank", "dist")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    def l2(q: Array[Float], c: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < 8) {
        val d = q(i).toDouble - c(i).toDouble
        acc += d * d
        i += 1
      }
      acc
    }
    val expected = (0L to 2L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) => (n, l2(vecs(q), v)) }
        .sortBy { case (n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((n, d), i) => (q, n, (i + 1).toLong, d) }
    }.sortBy(t => (t._1, t._3))
    out shouldBe expected.toArray
    // a hand-built subset shortlist ranks ONLY its members — the refine
    // stage must never resurrect candidates stage one didn't surface
    val short = Seq((0L, 7L), (0L, 9L)).toDF("query_id", "neighbor_id")
    Similarity.rerankExact(short, corpus,
      queries.filter($"vec_id" === 0), "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet shouldBe Set(7L, 9L)
  }

  test("ivfPqRerankTopKFromStores: ≡ in-flight rerank; BOTH store scans partition-pruned; raw-store meta refusal") {
    val corpus = mpVecs(150)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    val cb = Similarity.seedPqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val pqStore = tempDir("2stage-pq-") + "/idx"
    val rawStore = tempDir("2stage-raw-") + "/idx"
    Similarity.writeIvfPqAssignments(corpus, "vec_id", "embedding",
      cents, cb, pqStore, m = 2, numCodes = 4, dsub = 4)
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding",
      cents, rawStore)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val (stored, ran) = executed(onSpark(
      Similarity.ivfPqRerankTopKFromStores(spark, pqStore,
        rawStore, queries, "vec_id", "embedding", k = 3, centroids = cents,
        nprobe = 2, codebook = cb, m = 2, numCodes = 4, dsub = 4, factor = 3)))
    rows(stored) shouldBe
      rows(Similarity.ivfPqRerankTopK(corpus, queries, "vec_id",
        "embedding", k = 3, centroids = cents, nprobe = 2, codebook = cb,
        m = 2, numCodes = 4, dsub = 4, factor = 3))
    // both stores' scans carry a probed-list partition filter — the
    // compressed shortlist scan AND the raw refine scan
    val plan = ran.planString
    "list#\\d+ IN \\(".r.findAllIn(plan).length should be >= 2
    ran.scans should have size 2
    // a raw store built under different centroids refuses via _meta
    val otherRaw = tempDir("2stage-raw2-") + "/idx"
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding",
      Seq(cents.head, cents.last), otherRaw)
    val e = the[IllegalArgumentException] thrownBy
      Similarity.ivfPqRerankTopKFromStores(spark, pqStore, otherRaw,
        queries, "vec_id", "embedding", k = 3, centroids = cents,
        nprobe = 2, codebook = cb, m = 2, numCodes = 4, dsub = 4)
    e.getMessage should (include("centroids_md5") or include("numLists"))
  }

  test("ivfSqRerankTopKFromStores: ≡ in-flight rerank; BOTH store scans partition-pruned; exact order within probed lists") {
    val corpus = mpVecs(150)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", 8)
    val sqStore = tempDir("2stage-ivfsq-") + "/idx"
    val rawStore = tempDir("2stage-ivfsqraw-") + "/idx"
    Similarity.writeIvfSqCodes(corpus, "vec_id", "embedding", cents,
      sqStore, mins, maxs)
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding",
      cents, rawStore)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val (stored, ran) = executed(onSpark(
      Similarity.ivfSqRerankTopKFromStores(spark, sqStore,
        rawStore, queries, "vec_id", "embedding", k = 3, centroids = cents,
        nprobe = 2, mins = mins, maxs = maxs, factor = 3)))
    rows(stored) shouldBe
      rows(Similarity.ivfSqRerankTopK(corpus, queries, "vec_id",
        "embedding", k = 3, centroids = cents, nprobe = 2,
        mins = mins, maxs = maxs, factor = 3))
    // both stores' scans carry a probed-list partition filter — the
    // compressed shortlist scan AND the raw refine scan
    val plan = ran.planString
    "list#\\d+ IN \\(".r.findAllIn(plan).length should be >= 2
    ran.scans should have size 2
    // under the driver budget both stages score on the driver: the same
    // answer and schema, no Spark job
    val (local, drv) = executed(onDriver(
      Similarity.ivfSqRerankTopKFromStores(spark, sqStore,
        rawStore, queries, "vec_id", "embedding", k = 3, centroids = cents,
        nprobe = 2, mins = mins, maxs = maxs, factor = 3)))
    drv.jobs shouldBe 0
    local.schema shouldBe stored.schema
    rows(local) shouldBe rows(stored)
    // a factor big enough to shortlist EVERY probed-list member makes
    // the refine output the exact L2² ranking restricted to probed
    // lists — driver-replayed (probe assignment = max-cosine argmin,
    // ties to the lower list, the seedCentroids contract)
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    def l2(q: Array[Float], c: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < 8) {
        val d = q(i).toDouble - c(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    def cos(v: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var nc = 0.0; var i = 0
      while (i < 8) { dot += v(i).toDouble * c(i); nc += c(i) * c(i); i += 1 }
      dot / math.sqrt(nc)
    }
    def probeLists(v: Array[Float], n: Int): Set[Int] =
      cents.indices.map(l => (cos(v, cents(l)), l))
        .sortBy { case (cs, l) => (-cs, l) }.take(n).map(_._2).toSet
    val assign = vecs.map { case (id, v) =>
      id -> probeLists(v, 1).head
    }
    val full = Similarity.ivfSqRerankTopK(corpus, queries, "vec_id",
      "embedding", k = 5, centroids = cents, nprobe = 2,
      mins = mins, maxs = maxs, factor = 40)
      .select("query_id", "neighbor_id", "rank", "dist")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val expected = (0L until 4L).flatMap { q =>
      val probed = probeLists(vecs(q), 2)
      vecs.toSeq
        .filter { case (n, _) => n != q && probed.contains(assign(n)) }
        .map { case (n, v) => (n, l2(vecs(q), v)) }
        .sortBy { case (n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((n, d), i) => (q, n, (i + 1).toLong, d) }
    }.sortBy(t => (t._1, t._3))
    full shouldBe expected.toArray
  }

  test("binaryTopK: driver-replayed sign-pack + Hamming; store bit-identity; dim refusal; null contract") {
    val dim = 64
    val rnd = new scala.util.Random(7)
    val base = (0L until 80L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val dirty = Seq(
      (100L, null.asInstanceOf[Array[java.lang.Float]]),
      (101L, Array[java.lang.Float](1f, 2f, 3f)),
      (102L, (Array.fill[java.lang.Float](63)(1f) :+
        null.asInstanceOf[java.lang.Float]))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val clean = base.toDF("vec_id", "embedding")
    val all = clean.unionByName(dirty)
    val queries = clean.filter($"vec_id" < 3)
    val out = Similarity.binaryTopK(all, queries, "vec_id", "embedding",
      k = 79, dim = dim)
      .select("query_id", "neighbor_id", "rank", "hamming")
      .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._3))
    // degenerate rows (null / short / null element) never rank
    out.map(_._2).toSet.intersect(Set(100L, 101L, 102L)) shouldBe empty
    // driver replay: bit j of word j/32 iff x_j > 0 (strict), Hamming =
    // popcount of the word XORs, ties -> lower neighbor id
    def words(v: Array[Float]): (Long, Long) = {
      var w1 = 0L; var w2 = 0L
      for (j <- 0 until dim if v(j) > 0f)
        if (j < 32) w1 |= 1L << j else w2 |= 1L << (j - 32)
      (w1, w2)
    }
    val vecs = base.toMap
    val expected = (0L until 3L).flatMap { q =>
      val (q1, q2) = words(vecs(q))
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          val (n1, n2) = words(v)
          (n, (java.lang.Long.bitCount(q1 ^ n1) +
            java.lang.Long.bitCount(q2 ^ n2)).toLong)
        }
        .sortBy { case (n, h) => (h, n) }.take(79).zipWithIndex
        .map { case ((n, h), i) => (q, n, (i + 1).toLong, h) }
    }.sortBy(t => (t._1, t._3))
    out shouldBe expected.toArray
    // persisted store: packed longs round-trip parquet exactly
    val store = tempDir("binary-store-") + "/idx"
    Similarity.writeSignBits(all, "vec_id", "embedding", store, dim)
    Similarity.binaryTopKFromStore(spark, store, queries, "vec_id",
      "embedding", k = 79, dim = dim)
      .select("query_id", "neighbor_id", "rank", "hamming")
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(t => (t._1, t._3)) shouldBe out
    // probing under another dim refuses via _meta
    val e = the[IllegalArgumentException] thrownBy
      Similarity.binaryTopKFromStore(spark, store, queries, "vec_id",
        "embedding", k = 5, dim = 32)
    e.getMessage should include("dim")
    // whole-corpus rerank shortlist ≡ exact L2² brute ranking (factor
    // big enough that the Hamming stage surfaces everything)
    val full = Similarity.binaryRerankTopK(clean, queries, "vec_id",
      "embedding", k = 5, dim = dim, factor = 80)
      .select("query_id", "neighbor_id", "rank", "dist")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val exact = (0L until 3L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          var acc = 0.0; var i = 0
          while (i < dim) {
            val d = vecs(q)(i).toDouble - v(i).toDouble; acc += d * d; i += 1
          }
          (n, acc)
        }
        .sortBy { case (n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((n, d), i) => (q, n, (i + 1).toLong, d) }
    }.sortBy(t => (t._1, t._3))
    full shouldBe exact.toArray
  }

  test("ivfBinaryTopK: store ≡ in-memory; probed-list partition prune; append ≡ one-shot; geometry refusal") {
    val corpus = mpVecs(150)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "hamming")
        .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._3))
    val mem = rows(Similarity.ivfBinaryTopK(corpus, queries, "vec_id",
      "embedding", k = 5, centroids = cents, nprobe = 2, dim = 8))
    // in-memory candidates = probed-list members only: replay the
    // assignment driver-side and check every surfaced neighbor's list
    // is probed by its query
    val store = tempDir("ivfbinary-store-") + "/idx"
    Similarity.writeIvfBinary(corpus, "vec_id", "embedding", cents,
      store, dim = 8)
    val (stored, ran) = executed(onSpark(
      Similarity.ivfBinaryTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2, dim = 8)))
    rows(stored) shouldBe mem
    // the store scan carries a probed-list partition filter
    ran.planString should include regex
      "list#\\d+ IN \\("
    // append-only maintenance ≡ one-shot build
    val appended = tempDir("ivfbinary-append-") + "/idx"
    Similarity.appendIvfBinary(corpus.filter($"vec_id" < 100), "vec_id",
      "embedding", cents, appended, dim = 8)
    Similarity.appendIvfBinary(corpus.filter($"vec_id" >= 100), "vec_id",
      "embedding", cents, appended, dim = 8)
    rows(Similarity.ivfBinaryTopKFromStore(spark, appended, queries,
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
      dim = 8)) shouldBe mem
    // appending under different coarse geometry refuses
    val e = the[IllegalArgumentException] thrownBy
      Similarity.appendIvfBinary(corpus, "vec_id", "embedding",
        Seq(cents.head, cents.last), appended, dim = 8)
    e.getMessage should (include("centroids_md5") or include("numLists"))
  }

  test("ivfBinaryRerankTopKFromStores: ≡ in-flight composition; BOTH store scans partition-pruned") {
    val corpus = mpVecs(150)
    val queries = corpus.filter($"vec_id" < 4)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 4)
    val binStore = tempDir("2stage-ivfbin-") + "/idx"
    val rawStore = tempDir("2stage-ivfbinraw-") + "/idx"
    Similarity.writeIvfBinary(corpus, "vec_id", "embedding", cents,
      binStore, dim = 8)
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding",
      cents, rawStore)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val (stored, ran) = executed(onSpark(Similarity.ivfBinaryRerankTopKFromStores(spark,
      binStore, rawStore, queries, "vec_id", "embedding", k = 3,
      centroids = cents, nprobe = 2, dim = 8, factor = 3)))
    // the persisted pair must equal the in-flight composition: Hamming
    // shortlist at k·factor over the same probe set, exact refine over
    // the raw corpus
    rows(stored) shouldBe rows(Similarity.rerankExact(
      Similarity.ivfBinaryTopK(corpus, queries, "vec_id", "embedding",
        k = 9, centroids = cents, nprobe = 2, dim = 8),
      corpus, queries, "vec_id", "embedding", k = 3))
    // both stores' scans carry a probed-list partition filter
    val plan = ran.planString
    "list#\\d+ IN \\(".r.findAllIn(plan).length should be >= 2
    ran.scans should have size 2
  }

  test("prefixRerankTopK: whole-corpus factor ≡ exact; prefix stage ranks by sliced cosine; short vectors rank last") {
    val corpus = mpVecs(40)
    val queries = corpus.filter($"vec_id" < 3)
    // factor 14 → shortlist 42 ≥ corpus: the refine must reproduce the
    // exact full-dim L2² ranking regardless of the prefix stage's order
    val full = Similarity.prefixRerankTopK(corpus, queries, "vec_id",
      "embedding", k = 5, prefixDim = 4, factor = 14)
      .select("query_id", "neighbor_id", "rank", "dist")
      .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    val exact = (0L until 3L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          var acc = 0.0; var i = 0
          while (i < 8) {
            val d = vecs(q)(i).toDouble - v(i).toDouble; acc += d * d; i += 1
          }
          (n, acc)
        }
        .sortBy { case (n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((n, d), i) => (q, n, (i + 1).toLong, d) }
    }.sortBy(t => (t._1, t._3))
    full shouldBe exact.toArray
    // a TIGHT factor surfaces only prefix-cosine winners: the stage-one
    // shortlist must equal bruteForceTopK over the sliced vectors
    val sliced = corpus.select($"vec_id",
      slice($"embedding", 1, 4).as("embedding"))
    val slicedQ = queries.select($"vec_id",
      slice($"embedding", 1, 4).as("embedding"))
    val stage1 = Similarity.bruteForceTopK(sliced, slicedQ, "vec_id",
      "embedding", k = 10).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    Similarity.prefixRerankTopK(corpus, queries, "vec_id", "embedding",
      k = 10, prefixDim = 4, factor = 1)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet shouldBe stage1
    // vectors shorter than the prefix get a null stage-one cosine and
    // rank last — they can only surface when the shortlist is exhausted
    val dirty = corpus.unionByName(Seq(
      (200L, Array[Float](1f, 2f))).toDF("vec_id", "embedding"))
    val out = Similarity.prefixRerankTopK(dirty, queries, "vec_id",
      "embedding", k = 5, prefixDim = 4, factor = 2)
      .select("neighbor_id").as[Long].collect().toSet
    out should not contain 200L
  }

  test("prefixSqRerankTopK: full-width prefix ≡ plain SQ rerank; tight factor surfaces the sliced-SQ shortlist") {
    val corpus = mpVecs(40)
    val queries = corpus.filter($"vec_id" < 3)
    // slice = identity at prefixDim = dim, so the composition must be
    // BIT-identical to the plain SQ8 two-stage under the same grid
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3)).toSeq
    rows(Similarity.prefixSqRerankTopK(corpus, queries, "vec_id",
      "embedding", k = 5, prefixDim = 8, factor = 3)) shouldBe
      rows(Similarity.sqRerankTopK(corpus, queries, "vec_id",
        "embedding", k = 5, mins = mins, maxs = maxs, factor = 3))
    // at factor 1 the survivors are exactly the sliced-SQ stage-one
    // shortlist: grid trained on the slices, ADC over the slices
    val sliced = corpus.select($"vec_id",
      slice($"embedding", 1, 4).as("embedding"))
    val slicedQ = queries.select($"vec_id",
      slice($"embedding", 1, 4).as("embedding"))
    val (pm, px) = Similarity.trainSqParams(sliced, "embedding", 4)
    val stage1 = Similarity.sqTopK(sliced, slicedQ, "vec_id",
      "embedding", k = 10, mins = pm, maxs = px)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    Similarity.prefixSqRerankTopK(corpus, queries, "vec_id", "embedding",
      k = 10, prefixDim = 4, factor = 1)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet shouldBe stage1
  }

  test("ivfPqResidualTopK: shift identity vs raw IVFPQ; residual codebook beats raw on clustered data") {
    // shift identity: with a single centroid c, residual IVFADC over v
    // must be BIT-identical to raw ivfPqTopK over the pre-shifted data
    // v − c under the same (residual-seeded) codebook — the subtraction
    // is the same zip_with expression, so the doubles agree exactly
    val corpus = mpVecs(120)
    val queries = corpus.filter($"vec_id" < 4)
    val c0 = Array.tabulate(8)(j => math.sin(j * 1.13).toDouble)
    val cents1 = Seq(c0)
    def shifted(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id",
        zip_with($"embedding", lit(c0), (a, b) => a - b).as("embedding"))
    val cbRes = Similarity.seedPqCodebooks(
      Similarity.residualFrame(corpus, "vec_id", "embedding", cents1),
      "id", "res", m = 2, k = 4, dsub = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "adc")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    rows(Similarity.ivfPqResidualTopK(corpus, queries, "vec_id",
      "embedding", k = 5, centroids = cents1, nprobe = 1,
      codebook = cbRes, m = 2, numCodes = 4, dsub = 4)) shouldBe
      rows(Similarity.ivfPqTopK(shifted(corpus), shifted(queries),
        "vec_id", "embedding", k = 5, centroids = cents1, nprobe = 1,
        codebook = cbRes, m = 2, numCodes = 4, dsub = 4))
    // clustered data (where residual encoding exists to win): two tight
    // clusters far apart; residual-seeded codes must recover each
    // query's own-cluster neighbors exactly
    val dim = 8
    def clustered(id: Long, c: Int, eps: Float) =
      (id, Array.tabulate(dim)(j =>
        (if (c == 0) math.sin(j * 1.1) else math.cos(j * 0.7)).toFloat +
          (if (j == (id % dim).toInt) eps else 0f)))
    val cdf = ((0L to 9L).map(i => clustered(i, 0, 0.01f * (i + 1))) ++
      (10L to 19L).map(i => clustered(i, 1, 0.01f * (i + 1))))
      .toDF("vec_id", "embedding")
    val cents2Fixed = Seq(
      Similarity.seedCentroids(cdf, "vec_id", "embedding", 1).head,
      Similarity.seedCentroids(cdf.filter($"vec_id" >= 10),
        "vec_id", "embedding", 1).head)
    val res2 = Similarity.residualFrame(cdf, "vec_id", "embedding", cents2Fixed)
    val cbRes2 = Similarity.seedPqCodebooks(res2, "id", "res",
      m = 2, k = 4, dsub = 4)
    val out = Similarity.ivfPqResidualTopK(cdf,
      cdf.filter($"vec_id" === 0), "vec_id", "embedding", k = 3,
      centroids = cents2Fixed, nprobe = 1, codebook = cbRes2,
      m = 2, numCodes = 4, dsub = 4)
      .select("neighbor_id").as[Long].collect()
    // nprobe=1: all neighbors come from the query's own cluster
    all(out) should be < 10L
  }

  test("ivfPqTopK with nprobe = numLists equals plain pqTopK") {
    val cb = Similarity.seedPqCodebooks(pqVecs, "vec_id", "embedding",
      m = 2, k = 4, dsub = 2)
    val cents = Similarity.seedCentroids(pqVecs, "vec_id", "embedding", 2)
    val q = pqVecs.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().sorted
    // probing every list disables the pruning, so the two must agree
    val full = rows(Similarity.ivfPqTopK(pqVecs, q, "vec_id", "embedding",
      k = 3, centroids = cents, nprobe = 2, codebook = cb,
      m = 2, numCodes = 4, dsub = 2))
    val plain = rows(Similarity.pqTopK(pqVecs, q, "vec_id", "embedding",
      k = 3, codebook = cb, m = 2, numCodes = 4, dsub = 2))
    full shouldBe plain
    // nprobe = 1 prunes: candidates only from the query's own list
    val pruned = Similarity.ivfPqTopK(pqVecs, q, "vec_id", "embedding",
      k = 8, centroids = cents, nprobe = 1, codebook = cb,
      m = 2, numCodes = 4, dsub = 2)
    pruned.count() should be < (pruned.select("query_id").distinct.count() * 7)
  }

  test("dropNearCorpusEmbeddings: store hits + in-batch clustering") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "v")
    // the bucket store round-trips through parquet (the production shape)
    val storePath = tempDir("ebstore") + "/buckets"
    Similarity.appendEmbeddingBuckets(corpus, "vec_id", "v", storePath,
      planes = 4, tables = 4, dim = 3)
    val store = Similarity.readEmbeddingBuckets(spark, storePath,
      planes = 4, tables = 4, dim = 3)
    val batch = Seq(
      (10L, Array(0.99f, 0.01f, 0.0f)),   // ≈ corpus 1 → dropped via store
      (11L, Array(0.0f, 0.0f, 1.0f)),     // orthogonal to all → kept
      (12L, Array(0.0f, 0.0f, 0.98f)),    // ≈ 11 → in-batch loser
      (13L, Array(-1.0f, 0.0f, 0.0f))     // opposite of corpus 1 → kept
    ).toDF("vec_id", "v")
    val out = Similarity.dropNearCorpusEmbeddings(batch, "vec_id", "v",
      store, corpus, threshold = 0.9, planes = 4, tables = 4, dim = 3)
    out.select("vec_id").as[Long].collect().sorted shouldBe Array(11L, 13L)
    // probes=1 takes the identical single-key path — same rows out
    Similarity.dropNearCorpusEmbeddings(batch, "vec_id", "v",
        store, corpus, threshold = 0.9, planes = 4, tables = 4, dim = 3,
        probes = 1)
      .select("vec_id").as[Long].collect().sorted shouldBe Array(11L, 13L)
  }

  test("dropNearCorpusEmbeddings multi-probe: flip probe catches a cross-plane store dup") {
    // single-table store (the extreme small-store configuration): a
    // batch near-copy of a corpus vector shifted across ONLY the
    // smallest-margin plane lands in a different bucket — single-probe
    // wrongly keeps it, the probes=2 flip finds the store key
    val planes = 4
    val dim = 8
    val signs = (0 until planes).map(Similarity.planeSigns(_, dim))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def orthoDir(jmin: Int): Array[Double] = {
      val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      for (j <- 0 until planes if j != jmin) {
        var b = signs(j).clone()
        basis.foreach { e =>
          val c = dot(b, e) / dot(e, e)
          b = b.zip(e).map { case (x, y) => x - c * y }
        }
        if (dot(b, b) > 1e-9) basis += b
      }
      var u = signs(jmin).map(identity)
      basis.foreach { e =>
        val c = dot(u, e) / dot(e, e)
        u = u.zip(e).map { case (x, y) => x - c * y }
      }
      u
    }
    val cv = Array.tabulate(dim)(j => math.sin(3 * 0.37 + j * 1.13))
    val margins = signs.map(s => math.abs(dot(cv, s)))
    val jmin = margins.indexOf(margins.min)
    val d0 = dot(cv, signs(jmin))
    val u = orthoDir(jmin)
    val t = -(2.0 * d0 + math.signum(d0) * 1e-3) / dot(u, u)
    val dup = cv.zip(u).map { case (a, ui) => (a + t * ui).toFloat }
    val corpus = Seq((1L, cv.map(_.toFloat))).toDF("vec_id", "v")
    val store = Similarity.embeddingBucketKeys(corpus, "vec_id", "v",
      planes = planes, tables = 1, dim = dim)
    val batch = Seq((10L, dup),
      (11L, Array.tabulate(dim)(j => math.cos(j * 2.3).toFloat)))
      .toDF("vec_id", "v")
    def kept(probes: Int) = Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "v", store, corpus, threshold = 0.9,
      planes = planes, tables = 1, dim = dim, probes = probes)
      .select("vec_id").as[Long].collect().sorted
    kept(1) shouldBe Array(10L, 11L) // dup missed: different bucket
    kept(2) shouldBe Array(11L)      // flip probe reaches the store key
  }

  test("hot-bucket cap bounds a degenerate (all-same-vector) candidate set") {
    // mass-duplicated vectors — the crawl-corpus degenerate case: every
    // row lands in the SAME bucket of every table, so the uncapped
    // candidate self-join is all-pairs, Σdf² = n² per table
    val n = 40
    val dup = (1 to n).map(i => (i.toLong, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "v")
    val uncapped = Similarity.cosineNearDupPairs(dup, "vec_id", "v",
      threshold = 0.99, planes = 4, tables = 2, dim = 3)
    uncapped.count() shouldBe n.toLong * (n - 1) / 2 // all-pairs
    // capped: every bucket's df (= n) exceeds the cap, so the hot keys
    // are dropped BEFORE the candidate join — the join emits nothing.
    // This is the documented recall trade (Dedup.capHotKeys): at scale
    // the cap is set far above any genuine near-dup cluster size.
    val capped = Similarity.cosineNearDupPairs(dup, "vec_id", "v",
      threshold = 0.99, planes = 4, tables = 2, dim = 3, maxBucketDf = 10)
    capped.count() shouldBe 0L
  }

  test("hot-bucket cap bounds the corpus side of the incremental store join") {
    // degenerate CORPUS: one boilerplate bucket with df = 60 would
    // multiply against every batch row in the store join; the cap drops
    // it on the corpus side independently of the batch-side cap
    val corpus = (1 to 60).map(i => (i.toLong, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "v")
    val store = Similarity.embeddingBucketKeys(corpus, "vec_id", "v",
      planes = 4, tables = 2, dim = 3)
    val batch = Seq(
      (100L, Array(0.99f, 0.01f, 0.0f)), // ≈ the boilerplate cluster
      (101L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vec_id", "v")
    // uncapped: batch row 100 is dropped (a true store hit)
    Similarity.dropNearCorpusEmbeddings(batch, "vec_id", "v", store, corpus,
        threshold = 0.9, planes = 4, tables = 2, dim = 3)
      .select("vec_id").as[Long].collect().sorted shouldBe Array(101L)
    // capped at 10: the hot corpus bucket is excluded from the candidate
    // join entirely — row 100 SURVIVES (recall trade), and the candidate
    // volume is bounded instead of Σ(df_batch × df_corpus)
    Similarity.dropNearCorpusEmbeddings(batch, "vec_id", "v", store, corpus,
        threshold = 0.9, planes = 4, tables = 2, dim = 3, maxBucketDf = 10)
      .select("vec_id").as[Long].collect().sorted shouldBe
      Array(100L, 101L)
  }

  test("pqTopK plan: queries broadcast, corpus never shuffled, no cartesian") {
    val cb = Similarity.seedPqCodebooks(pqVecs, "vec_id", "embedding",
      m = 2, k = 4, dsub = 2)
    val plan = Similarity.pqTopK(pqVecs, pqVecs.limit(2), "vec_id",
      "embedding", 3, cb, m = 2, numCodes = 4, dsub = 2)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin") // =!= join, broadcast side pinned
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("semDedupPairs: near-dups in the same cluster found, cross-cluster not") {
    // two clean clusters (x-axis, y-axis); near-identical pair inside
    // the x cluster; the y vector is dissimilar AND in another cluster
    val centroids = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val df = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.011f, 0.0f)), // near-dup of 1, same cluster
      (3L, Array(0.0f, 1.0f, 0.0f))    // other cluster
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.semDedupPairs(df, "vec_id", "embedding",
      centroids, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L))
  }

  test("semDedupPairs: cluster blocking beats LSH on near-dups LSH splits") {
    // vectors near a hyperplane can land in different LSH buckets of
    // every table, but they always share a best centroid — the recall
    // argument for the cluster blocker when a decent quantizer exists
    val centroids = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val df = Seq(
      (1L, Array(1.0f, 0.999f, 0.0f)),  // ~45°, just x-side
      (2L, Array(0.999f, 1.0f, 0.0f))   // ~45°, just y-side; cosine ≈ 1
    ).toDF("vec_id", "embedding")
    // cosine(1,2) is ~0.9999995 — a genuine near-dup pair
    val pairs = Similarity.semDedupPairs(df, "vec_id", "embedding",
      centroids, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ties to the LOWER list on equal score is deterministic, but these
    // two rows assign to DIFFERENT best centroids (x vs y), so the pair
    // is only found if the blocker keys on best-centroid... which it
    // does NOT here — they split. Document the honest miss: the pair
    // appears only when both share a centroid.
    pairs shouldBe Set.empty[(Long, Long)]
    // with a single centroid (everything one cluster) the pair is found
    val one = Similarity.semDedupPairs(df, "vec_id", "embedding",
      Seq(Array(1.0, 0.0, 0.0)), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    one shouldBe Set((1L, 2L))
  }

  test("semDedupPairs: maxListDf caps a degenerate cluster") {
    val n = 30
    val dup = (1 to n).map(i => (i.toLong, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "v")
    val centroids = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    Similarity.semDedupPairs(dup, "vec_id", "v", centroids,
      threshold = 0.99).count() shouldBe n.toLong * (n - 1) / 2
    Similarity.semDedupPairs(dup, "vec_id", "v", centroids,
      threshold = 0.99, maxListDf = 10).count() shouldBe 0L
  }

  test("hyperplane LSH planning: closed forms and plan selection") {
    // one plane at cosine 0 (θ = π/2): collision probability exactly 1/2
    Similarity.hyperplaneCollisionProb(1, 0.0) shouldBe 0.5 +- 1e-12
    // identical vectors always collide; opposite never do
    Similarity.hyperplaneCollisionProb(4, 1.0) shouldBe 1.0 +- 1e-12
    Similarity.hyperplaneCollisionProb(4, -1.0) shouldBe 0.0 +- 1e-12
    // more planes → smaller buckets → lower per-table collision
    Similarity.hyperplaneCollisionProb(8, 0.8) should be <
      Similarity.hyperplaneCollisionProb(4, 0.8)
    // OR amplification is monotone in tables and consistent with the
    // measured near-dup configuration: 4×8 at c=0.8 sits near 0.98
    // (RECALL_r16 measured pair recall 1.0 on planted cos≈0.999 dups)
    val r48 = Similarity.lshTableRecall(4, 8, 0.8)
    r48 should be > 0.95
    Similarity.lshTableRecall(4, 16, 0.8) should be > r48
    // plan: largest planes whose table count fits, minimal tables —
    // and the returned plan actually meets the target
    val (planes, tables) = Similarity.lshTablePlan(0.8, 0.95,
      maxPlanes = 16, maxTables = 64)
    Similarity.lshTableRecall(planes, tables, 0.8) should be >= 0.95
    if (tables > 1)
      Similarity.lshTableRecall(planes, tables - 1, 0.8) should be < 0.95
    // an unreachable target refuses instead of silently under-planning
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshTablePlan(0.1, 0.9999, maxPlanes = 16, maxTables = 2)
  }

  // seeded corpus for the multi-probe tests: smooth deterministic
  // vectors, dim 8 — small enough that 4-plane buckets hold few
  // candidates, so the single-probe recall cliff is reproducible
  private def mpVecs(n: Int) = (0L until n.toLong).map { i =>
    (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.13).toFloat))
  }.toDF("vec_id", "embedding")

  // seeded Gaussian vectors, dim 8, for the hyperplane-bucket tests: the
  // sin family above spans a 2-D plane, so its rows occupy only a few
  // buckets and a store probe that skipped one would go unnoticed
  private def lshRaw(n: Int, seed: Long = 11L): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat)))
  }
  private def lshVecs(n: Int) = lshRaw(n).toDF("vec_id", "embedding")

  test("lshTopK: probes=1 scores exactly the query's own lshBucket") {
    val corpus = lshVecs(120)
    val queries = corpus.filter($"vec_id" < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "sim")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    // the probe array itself: array(lshBucket(v)), nothing else
    val b0 = Similarity.lshBucket($"embedding", 4, 8)
    corpus.select(b0.as("b0"), Similarity.probeBuckets($"embedding", b0, 0,
        planes = 4, dim = 8, probes = 1).as("bs"))
      .as[(Long, Seq[Long])].collect()
      .foreach { case (b, bs) => bs shouldBe Seq(b) }
    // and the ranking: exact cosine brute force over the query's bucket
    val bucketed = corpus.withColumn("b", b0)
    val perBucket = queries.withColumn("b", b0).select("vec_id", "b")
      .as[(Long, Long)].collect().map { case (q, b) =>
        Similarity.bruteForceTopK(bucketed.filter($"b" === b),
          bucketed.filter($"vec_id" === q), "vec_id", "embedding", k = 5)
      }.reduce(_ union _)
    rows(Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
      k = 5, planes = 4, dim = 8, probes = 1)) shouldBe rows(perBucket)
  }

  test("lshTopKMultiProbe: planted near-dup recovered by a flipped probe") {
    // plant a near-duplicate of each query that lands ACROSS the query's
    // smallest-margin hyperplane and ONLY that one: shift along the
    // component of that plane's sign vector orthogonal to every other
    // plane, so exactly the bit the first probe flips changes. Single-
    // probe cannot see it (different bucket); probes=2 must.
    val planes = 4
    val dim = 8
    val signs = (0 until planes).map(Similarity.planeSigns(_, dim))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // component of signs(jmin) orthogonal to the span of the others
    // (Gram–Schmidt on the others, then subtract projections)
    def orthoDir(jmin: Int): Array[Double] = {
      val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      for (j <- 0 until planes if j != jmin) {
        var b = signs(j).clone()
        basis.foreach { e =>
          val c = dot(b, e) / dot(e, e)
          b = b.zip(e).map { case (x, y) => x - c * y }
        }
        if (dot(b, b) > 1e-9) basis += b
      }
      var u = signs(jmin).map(identity)
      basis.foreach { e =>
        val c = dot(u, e) / dot(e, e)
        u = u.zip(e).map { case (x, y) => x - c * y }
      }
      u
    }
    val base = lshRaw(100)
    val planted = base.filter(_._1 < 5).map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      val margins = signs.map(s => math.abs(dot(v, s)))
      val jmin = margins.indexOf(margins.min)
      val d = dot(v, signs(jmin))
      val u = orthoDir(jmin)
      // dot(u, s_jmin) = |u|² > 0; cross the plane with an ε to spare,
      // changing no other plane's dot at all
      val t = -(2.0 * d + math.signum(d) * 1e-3) / dot(u, u)
      (id + 1000L, v.zip(u).map { case (a, ui) => (a + t * ui).toFloat })
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    def found(probes: Int) = Similarity.lshTopK(
      corpus, queries, "vec_id", "embedding",
      k = 300, planes = planes, dim = dim, probes = probes)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = (0L until 5L).map(i => (i, i + 1000L)).toSet
    // the planted copy sits in the one bucket the first flip probes:
    // invisible to single-probe, always a candidate at probes=2
    found(1).intersect(want) shouldBe Set.empty
    want.subsetOf(found(2)) shouldBe true
  }

  test("lshTopKMultiProbe: degenerate and over-length query vectors") {
    val corpus = lshVecs(120)
    // shorter than dim: null margins filter out, probes only bucket 0 —
    // same rows as single-probe for that query
    val shortQ = Seq((900L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val multi = Similarity.lshTopK(corpus, shortQ,
      "vec_id", "embedding", k = 200, planes = 4, dim = 8, probes = 3)
    val single = Similarity.lshTopK(corpus, shortQ,
      "vec_id", "embedding", k = 200, planes = 4, dim = 8)
    multi.count() shouldBe single.count()
    // LONGER than dim: bucketing uses the first `dim` elements, and so
    // do the margins (the r15 over-length fix) — the extra probes are
    // real, so the candidate pool strictly grows vs single-probe
    val longQ = Seq((901L, lshRaw(1, seed = 12L).head._2 ++
      Array(0.5f, -1.5f, 2.0f))).toDF("vec_id", "embedding")
    val mLong = Similarity.lshTopK(corpus, longQ,
      "vec_id", "embedding", k = 200, planes = 4, dim = 8, probes = 3)
    val sLong = Similarity.lshTopK(corpus, longQ,
      "vec_id", "embedding", k = 200, planes = 4, dim = 8)
    mLong.count() should be > sLong.count()
  }

  test("refinePqCodebooks: one Lloyd iteration matches the hand computation") {
    // m=1, dsub=2, 2 codes. Seeds (0,0) and (10,10); members split
    // cleanly, so the refined centroids are the plain member means.
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 2.0f)),
      (2L, Array(10.0f, 10.0f)), (3L, Array(10.0f, 12.0f))
    ).toDF("vec_id", "embedding")
    val seed = Array(0.0, 0.0, 10.0, 10.0)
    val out = Similarity.refinePqCodebooks(df, "vec_id", "embedding",
      seed, m = 1, numCodes = 2, dsub = 2, iterations = 1)
    out shouldBe Array(0.0, 1.0, 10.0, 11.0)
    // iterations = 0 is the identity
    Similarity.refinePqCodebooks(df, "vec_id", "embedding", seed,
      m = 1, numCodes = 2, dsub = 2, iterations = 0) shouldBe seed
  }

  test("refinePqCodebooks: empty codes keep their centroid; ties go low") {
    // every vector is nearest code 0; code 1 must survive untouched
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val seed = Array(0.0, 0.0, 100.0, 100.0)
    val out = Similarity.refinePqCodebooks(df, "vec_id", "embedding",
      seed, m = 1, numCodes = 2, dsub = 2, iterations = 1)
    out.slice(2, 4) shouldBe Array(100.0, 100.0)
    out.slice(0, 2) shouldBe Array(0.5, 0.0)
    // exact tie between codes: strict-< keeps the LOWER code, so the
    // equidistant vector updates code 0, not code 1
    val tie = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tieSeed = Array(0.0, 0.0, 2.0, 0.0) // both at distance 1
    val tieOut = Similarity.refinePqCodebooks(tie, "vec_id", "embedding",
      tieSeed, m = 1, numCodes = 2, dsub = 2, iterations = 1)
    tieOut shouldBe Array(1.0, 0.0, 2.0, 0.0)
  }

  test("refinePqCodebooks: training strictly lowers quantization error") {
    val df = mpVecs(200)
    val seed = Similarity.seedPqCodebooks(df, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val trained = Similarity.refinePqCodebooks(df, "vec_id", "embedding",
      seed, m = 2, numCodes = 4, dsub = 4, iterations = 2)
    def sqErr(cb: Array[Double]): Double = {
      val vecs = df.orderBy("vec_id").select("embedding")
        .as[Array[Float]].collect()
      vecs.map { v =>
        (0 until 2).map { sub =>
          (0 until 4).map { code =>
            (0 until 4).map { i =>
              val x = v(sub * 4 + i) - cb((sub * 4 + code) * 4 + i)
              x * x
            }.sum
          }.min
        }.sum
      }.sum
    }
    sqErr(trained) should be < sqErr(seed)
  }

  test("refinePqCodebooksDistributed: behaviorally equals the driver twin") {
    val df = mpVecs(150)
    val seed = Similarity.seedPqCodebooks(df, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val driver = Similarity.refinePqCodebooks(df, "vec_id", "embedding",
      seed, m = 2, numCodes = 4, dsub = 4, iterations = 2)
    val dist = Similarity.refinePqCodebooksDistributed(df, "vec_id",
      "embedding", seed, m = 2, numCodes = 4, dsub = 4, iterations = 2)
    dist.length shouldBe driver.length
    // partial sums add in partition order, so allow final-ulp drift —
    // anything larger is a real assignment/mean divergence
    dist.zip(driver).foreach { case (d, e) => d shouldBe e +- 1e-9 }
  }

  test("writeIvfPqAssignments(trainIterations): trains, stores, refuses the seed") {
    val dim = 8
    val corpus = mpVecs(200)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding",
      numLists = 4)
    val seed = Similarity.seedPqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 4, dsub = 4)
    val store = tempDir("ivfpq-train-") + "/idx"
    val trained = Similarity.writeIvfPqAssignments(corpus, "vec_id",
      "embedding", cents, seed, store, m = 2, numCodes = 4, dsub = 4,
      trainIterations = 2)
    // training moved the codebook, and it matches the distributed twin
    trained should not equal seed
    val twin = Similarity.refinePqCodebooksDistributed(corpus, "vec_id",
      "embedding", seed, m = 2, numCodes = 4, dsub = 4, iterations = 2)
    trained shouldBe twin
    // probing with the RETURNED codebook works and equals the in-flight
    // path on the same trained codebook
    val queries = corpus.filter($"vec_id" < 3)
    val stored = Similarity.ivfPqTopKFromStore(spark, store, queries,
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
      codebook = trained, m = 2, numCodes = 4, dsub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3))
    val direct = Similarity.ivfPqTopK(corpus, queries, "vec_id",
      "embedding", k = 5, centroids = cents, nprobe = 2,
      codebook = trained, m = 2, numCodes = 4, dsub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3))
    stored shouldBe direct
    // the _meta sidecar records the TRAINED fingerprint: probing with
    // the stale seed codebook refuses instead of scoring garbage
    val e = the[IllegalArgumentException] thrownBy
      Similarity.ivfPqTopKFromStore(spark, store, queries,
        "vec_id", "embedding", k = 5, centroids = cents, nprobe = 2,
        codebook = seed, m = 2, numCodes = 4, dsub = 4)
    e.getMessage should include("codebook_md5")
  }

  test("persisted-index writes are list-aligned: file count bounded by lists, not tasks × lists") {
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(i => math.sin(seed * 31 + i).toFloat)
    // many input tasks on purpose: without the pre-write repartition the
    // dynamic-partition write fans out tasks × lists files
    val corpus = (0L until 200L).map(i => (i, vec(i.toInt % 40)))
      .toDF("vec_id", "embedding").repartition(8)
    val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding",
      numLists = 4)
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else d.listFiles().map { f =>
        if (f.isDirectory) parquetFiles(f.getPath)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    val ivf = tempDir("ivf-files-") + "/idx"
    Similarity.writeIvfAssignments(corpus, "vec_id", "embedding", cents, ivf)
    parquetFiles(ivf) should be <= 4
    val (mins, maxs) = Similarity.trainSqParams(corpus, "embedding", dim)
    val ivfsq = tempDir("ivfsq-files-") + "/idx"
    Similarity.writeIvfSqCodes(corpus, "vec_id", "embedding", cents, ivfsq,
      mins, maxs)
    parquetFiles(ivfsq) should be <= 4
    val lsh = tempDir("lsh-files-") + "/idx"
    Similarity.writeLshBuckets(corpus, "vec_id", "embedding", lsh,
      planes = 2, dim = dim)
    parquetFiles(lsh) should be <= 4 // 2 planes -> 4 buckets
    graft.core.CacheScope.releaseAll()
  }

  test("zero-norm vectors: ranked scans skip them instead of throwing ANSI divide-by-zero") {
    // crawl-corpus debris: empty documents / failed encoders embed to
    // all-zero vectors, and cosine against them is 0/0 — the one case
    // ANSI division kills the whole probe on
    val corpus = ((0L until 30L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.13).toFloat))) :+
      (999L -> Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 2)
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 50).collect()
    brute.map(_.getLong(1)) should not contain 999L // never a neighbor
    brute.map(_.getLong(0)).distinct.sorted shouldBe Array(0L, 1L)
    val lsh = Similarity.lshTopK(corpus, queries,
      "vec_id", "embedding", k = 50, planes = 2, dim = 8).collect()
    lsh.map(_.getLong(1)) should not contain 999L
    val cents = Similarity.seedCentroids(
      corpus.filter($"vec_id" < 30), "vec_id", "embedding", numLists = 2)
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 50, centroids = cents, nprobe = 2).collect()
    ivf.map(_.getLong(1)) should not contain 999L
    // a zero-vector QUERY returns no rows (cosine undefined for it)
    val zq = Seq((777L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    Similarity.bruteForceTopK(corpus, zq, "vec_id", "embedding", k = 5)
      .count() shouldBe 0L
    // and the near-dup verify treats it as nobody's duplicate
    Similarity.cosineNearDupPairs(corpus.union(zq), "vec_id", "embedding",
      threshold = 0.0, planes = 2, tables = 2, dim = 8)
      .filter($"id_a" === 777L || $"id_b" === 777L || $"id_a" === 999L ||
        $"id_b" === 999L)
      .count() shouldBe 0L
    graft.core.CacheScope.releaseAll()
  }
}
