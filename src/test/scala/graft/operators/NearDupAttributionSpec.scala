package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-stage plan attribution for the embedding near-dup family
  * ([[Similarity.withPlanAttribution]]): the bench's diag pattern
  * applied to a PLAN. When `ann_neardup_incremental`'s cost moves, the
  * observed per-stage row counts say WHICH stage's volume moved —
  * batch bucketing, the Σdf² candidate join, the exact verify, the
  * store join — from one run instead of a bisection. Also pins the
  * fused-verify fast path bit-identical to the forced candidate-bounded
  * fallback, and that the default (attribution OFF) plan carries no
  * CollectMetrics observer tax.
  */
class NearDupAttributionSpec extends SparkSpec {
  import spark.implicits._

  // 32, not 8: random d-dim cosines concentrate as ~N(0, 1/√d), and the
  // max over ~1000 pairs at d=8 (σ≈0.35) reaches the verify threshold
  private val dim = 32
  private def vec(seed: Long): Array[Float] =
    Array.tabulate(dim) { j =>
      // full-avalanche mix (murmur3 fmix64), not sin(i + j): adjacent
      // sin seeds correlate and would float random pairs toward the
      // verify threshold
      var h = seed * 1000003L + j
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      (math.floorMod(h, 2000L) - 1000L).toFloat / 1000f
    }

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  test("withPlanAttribution: per-stage observe() counts land in observedMetrics and attribute the plan") {
    val corpusRows = (0L until 25L).map(i => i -> vec(i))
    val batchBase = (100L until 140L).map(i => i -> vec(i))
    // planted IN-BATCH duplicates (exact copies → cosine 1, LSH
    // collision in every table) and planted CORPUS copies
    val batchRows = batchBase ++
      Seq(500L -> vec(100L), 501L -> vec(101L),
        600L -> vec(0L), 601L -> vec(1L))
    // self-validating data: no non-planted pair may come near the
    // verify threshold, or the expected counts below go flaky
    val threshold = 0.95
    val allVecs = (corpusRows ++ batchRows).toMap
    val maxStray = (for {
      (ia, va) <- batchRows; (ib, vb) <- batchRows
      if ia < ib && !Set(500L, 501L).exists(p => Set(ia, ib)(p))
    } yield cosine(va, vb)).max
    maxStray should be < 0.9
    allVecs.size shouldBe 29 + 40 // planted copies share vectors, not ids

    val corpus = df(corpusRows)
    val batch = df(batchRows)
    val store = Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 8, dim = dim)

    val metrics = new scala.collection.concurrent.TrieMap[String, Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, row) =>
          val v = row.getLong(0)
          metrics.updateWith(k)(old => Some(math.max(old.getOrElse(0L), v)))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val survivors =
      try Similarity.withPlanAttribution {
        val r = Similarity.dropNearCorpusEmbeddings(
          batch, "vec_id", "embedding", store, corpus,
          threshold = threshold, planes = 4, tables = 8, dim = dim)
          .select("vec_id").as[Long].collect().sorted
        // listener delivery is async: poll for the expected keys
        val want = Set("graft.neardup.batch_bucket_rows",
          "graft.neardup.candidate_pairs", "graft.neardup.verified_pairs",
          "graft.neardup.store_candidates", "graft.neardup.store_hits")
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!want.subsetOf(metrics.keySet) && System.nanoTime() < deadline)
          Thread.sleep(50)
        r
      } finally spark.listenerManager.unregister(listener)

    // the attribution: exact where the plan is deterministic, ordered
    // where it is recall-bounded
    metrics("graft.neardup.batch_bucket_rows") shouldBe 44L * 8 // |batch|×tables
    // exact copies collide in all 8 tables, so the multiset holds each
    // planted pair up to 8 times; strays only add
    metrics("graft.neardup.candidate_pairs") should be >= 2L * 8
    // verified_pairs counts verify WORK (pre-distinct): the 2 planted
    // pairs (100,500),(101,501) are exact copies, so they collide — and
    // are verified — once per table
    metrics("graft.neardup.verified_pairs") shouldBe 2L * 8
    metrics("graft.neardup.store_candidates") should be >= 2L
    metrics("graft.neardup.store_hits") shouldBe 2L // 600,601 dropped
    // the SHAPE claim the scale work rests on: candidates are the
    // volume, verified pairs the signal
    metrics("graft.neardup.candidate_pairs") should be >
      metrics("graft.neardup.verified_pairs")
    survivors.toSeq shouldBe (100L until 140L)
    graft.core.CacheScope.releaseAll()
  }

  test("fused verify ≡ forced candidate-bounded fallback, and the default plan has no observer tax") {
    val corpusRows = (0L until 20L).map(i => i -> vec(i * 7L))
    val batchRows = (200L until 240L).map(i => i -> vec(i * 7L)) ++
      Seq(700L -> vec(200L * 7L), 701L -> vec(0L))
    val corpus = df(corpusRows)
    val batch = df(batchRows)
    val store = Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 8, dim = dim)
    def run(): Seq[Long] = Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "embedding", store, corpus,
      threshold = 0.95, planes = 4, tables = 8, dim = dim)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val fused = run()
    // broadcastMaxPairs = 0 forces the candidate-bounded 100 TB shape
    // on the same data (the forced bench entries' switch)
    val fallback = Dedup.withGuards(
      _.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L))(run())
    fused shouldBe fallback
    fused should contain (201L)
    fused should not contain 700L // in-batch dup of 200
    fused should not contain 701L // corpus dup of 0
    // attribution OFF (the default): no CollectMetrics anywhere in the
    // analyzed plan — the bench pays zero observer tax
    val plan = Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "embedding", store, corpus,
      threshold = 0.95, planes = 4, tables = 8, dim = dim)
      .queryExecution.analyzed
    plan.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
    } shouldBe empty
    // ...and the same-cosine pairs the fused path dedupes AFTER the
    // filter dedupe bit-exactly: cosineNearDupPairs (the self-dedup
    // surface over the same kernel) emits one row per pair
    val pairs = Similarity.cosineNearDupPairs(
      batch, "vec_id", "embedding", threshold = 0.95,
      planes = 4, tables = 8, dim = dim)
    val rows = pairs.collect()
    rows.length shouldBe rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
    graft.core.CacheScope.releaseAll()
  }

  test("byte gate: under the row guard but over the vec byte budget takes the fallback shape, bit-identically") {
    // the r19 gate was `rows <= broadcastMaxPairs` — a ROW count gating
    // a broadcast whose size is rows × dim × bytes, so a 4M-row batch
    // at production dims (768–4096) passed the guard and then failed
    // the 8 GB broadcast ceiling. The gate now ANDs a byte estimate:
    // at the DEFAULT budget a guard-passing batch at high dim routes
    // to the fallback...
    Dedup.vecBroadcastBytes(4000000L, 4096) should be >
      Dedup.guards.broadcastMaxVecBytes
    Dedup.vecBroadcastBytes(4000000L, 64) should be <=
      Dedup.guards.broadcastMaxVecBytes
    // ...and the two shapes stay bit-identical. Shape witness: the
    // fused verify counts work PRE-dedup (an exact copy colliding in
    // all `tables` buckets verifies `tables` times), the fallback
    // verifies the post-distinct candidate set (once per pair).
    val rows = (0L until 40L).map(i => i -> vec(i * 11L)) ++
      Seq(900L -> vec(0L)) // exact dup of id 0 → collides in all tables
    val allPairCos = for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && (ia, ib) != ((0L, 900L))
    } yield cosine(va, vb)
    allPairCos.max should be < 0.9 // self-validating: only the planted pair
    val d = df(rows)
    def run(): (Set[(Long, Long)], Long) = {
      val metrics = new scala.collection.concurrent.TrieMap[String, Long]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (k, row) =>
            metrics.updateWith(k)(o => Some(math.max(o.getOrElse(0L),
              row.getLong(0))))
          }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try Similarity.withPlanAttribution {
        val p = Similarity.cosineNearDupPairs(
          d, "vec_id", "embedding", threshold = 0.95,
          planes = 4, tables = 8, dim = dim)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!metrics.contains("graft.neardup.verified_pairs") &&
            System.nanoTime() < deadline) Thread.sleep(50)
        (p, metrics("graft.neardup.verified_pairs"))
      } finally spark.listenerManager.unregister(listener)
    }
    val (fusedPairs, fusedVerified) = run()
    fusedPairs shouldBe Set((0L, 900L))
    fusedVerified shouldBe 8L // fused: verified once per colliding table
    // 41 rows pass the 4M row guard; a 1-byte budget forces the
    // byte-gated fallback on the same data
    val (gatedPairs, gatedVerified) =
      Dedup.withGuards(_.copy(broadcastMaxVecBytes = 1L))(run())
    gatedPairs shouldBe fusedPairs // results bit-identical
    gatedVerified shouldBe 1L // fallback: post-distinct, once per pair
    graft.core.CacheScope.releaseAll()
  }

  test("fused ≡ fallback across randomized geometries, thresholds, and degenerate rows") {
    // multi-seed sweep over the config surface: any drift between the
    // two verify shapes is a silent-wrong-answer class, so it gets the
    // property treatment, not one example
    for (seed <- 1 to 6) {
      val planes = 2 + seed % 3 // 2..4
      val tables = 2 + (seed * 7) % 5 // 2..6
      val threshold = Seq(0.3, 0.6, 0.9)(seed % 3)
      val n = 30 + seed * 5
      val rows = (0L until n.toLong).map { i =>
        if (i % 13 == 0) (i, Array.fill(dim)(0f)) // degenerate zero vector
        else (i, vec(seed * 1000 + i))
      } ++ Seq((5000L + seed) -> vec(seed * 1000 + 1)) // one exact dup
      val d = df(rows)
      def pairsOf(run: => org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        run.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val fused = pairsOf(Similarity.cosineNearDupPairs(
        d, "vec_id", "embedding", threshold, planes, tables, dim))
      val forced = Dedup.withGuards(
        _.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L))(
        pairsOf(Similarity.cosineNearDupPairs(
          d, "vec_id", "embedding", threshold, planes, tables, dim)))
      withClue(s"seed=$seed planes=$planes tables=$tables thr=$threshold: ") {
        fused shouldBe forced
        fused should contain ((1L, 5000L + seed)) // the planted dup survives both
      }
    }
    graft.core.CacheScope.releaseAll()
  }
}
