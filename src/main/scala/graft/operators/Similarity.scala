package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, NullType,
  StructField, StructType}

/** Similarity search over embedding columns (array<float>).
  *
  * Two paths, mirroring what a 100 TB training-data pipeline needs:
  *  - broadcast-query top-k scans — exact brute force, the compressed
  *    indexes and the IVF / LSH coarse stages; the corpus is streamed,
  *    never shuffled, so it scales with executors for any corpus size
  *    (the query set must stay broadcast-small). A store probe ships the
  *    same query rows in the plan as one literal instead of a broadcast,
  *    and gathers its top-k from per-task heaps on the driver: one
  *    map-only Spark job per store scan, no shuffle, no window.
  *  - multi-table hyperplane-LSH bucket keys ([[bucketKeys]]) — the
  *    scale path for all-pairs work (near-dup self-joins, incremental
  *    store joins, semantic decontamination): one shuffle on the bucket
  *    key, bucket-local verify.
  *
  * Where the decisions live: every ranked vector family (raw, SQ8, PQ,
  * PQ-residual, sign bits; flat, IVF or LSH; in memory or from a store)
  * runs through ONE vector core in this file (the "vector core"
  * section: corpus encode, probe builder, scoring tail, partitioned
  * store write and append, stage-from-store, raw-store refine).
  * Per-family choices — encodings, score column and direction, null
  * contract, `_meta` kind strings and keys, `_train` artifacts — live in
  * [[Codec]] (Codec.scala). Coarse choices — which list a corpus row
  * lives in, which lists a query probes and in what order, the coarse
  * `_meta` kind and keys, on-disk column names — live in [[Coarse]]
  * (Coarse.scala: a flat scan, IVF lists or LSH buckets). The store
  * layout — (id, payload) parquet rows, partitioned by the coarse list
  * column, `_meta_params` sidecar via [[graft.core.StoreMeta]], `_train/`
  * artifacts — is decided once, in [[writeStore]] / [[stageFromStore]].
  * Every `t:b` multi-table bucket key is built by [[bucketKeys]].
  *
  * All arithmetic accumulates sequentially in double (floats widened per
  * element) so results are bit-reproducible across runs and engines.
  * The dot product is a native codegen'd expression ([[graft.functions
  * .VecDot]]) with the exact semantics of the higher-order
  * aggregate/zip_with formulation it replaced — the HOF shape is
  * interpreted per element and measured ~6× slower, and it runs
  * planes×tables times per row on the LSH paths. No UDFs.
  */
object Similarity {
  import graft.functions.VecDot
  import graft.core.CacheScope

  /** Sequential-in-double dot product of two float vectors. */
  def dotDouble(a: Column, b: Column): Column = VecDot(a, b)

  def norm(a: Column): Column = sqrt(dotDouble(a, a))

  def cosine(a: Column, b: Column): Column =
    dotDouble(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed dot and norms, NULL when either norm is
    * zero — cosine is undefined for the all-zero vector, and a crawl
    * corpus contains them (empty documents, failed encoders). Under
    * Spark 4's ANSI default the bare division THROWS on the first such
    * row and kills the whole dedup job; with this guard a null cosine
    * simply fails every `>= threshold` verify, i.e. a degenerate vector
    * is never anyone's near-duplicate (the same doctrine as the binary
    * family's explicit degenerate filter). Used by every thresholded
    * verify site ([[cosineNearDupPairs]]/[[semDedupPairs]]/
    * [[dropNearCorpusEmbeddings]]/Decontaminate); values for nonzero
    * norms are bit-identical to the bare division.
    */
  private[operators] def cosineOrNull(dot: Column, na: Column,
      nb: Column): Column =
    when(na =!= 0.0 && nb =!= 0.0, dot / (na * nb))

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * corpus, rank by cosine desc with id tiebreak. Self-pairs excluded.
    * Norms are precomputed per row (not per pair) — same bits, |c|+|q|
    * instead of |c|×|q| norm evaluations. The [[Codec.Flat]] codec with
    * no coarse stage. Returns (query_id, neighbor_id, rank, sim).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Flat, Coarse.Scan)

  /** The per-query top-k every in-memory ranked path here ends in (a
    * store probe gathers instead: [[StoreProbe.topK]]): `score`
    * in the given direction, ties to the lower `neighbor_id`; returns
    * (query_id, neighbor_id, rank, score). `dropNull` ranks null scores
    * last and drops them AFTER the window — the same rows and ranks as
    * dropping them first, but a null filter below the window would be
    * pushed into the pair join with the score expression substituted,
    * computing every candidate's score twice.
    */
  private def rankTopK(scored: DataFrame, score: String, ascending: Boolean,
      k: Int, dropNull: Boolean = false): DataFrame = {
    val s = col(score)
    val w = Window.partitionBy("query_id").orderBy(
      if (!ascending) s.desc else if (dropNull) s.asc_nulls_last else s.asc,
      col("neighbor_id"))
    val top = col("rank") <= k
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(if (dropNull) top && s.isNotNull else top)
      .select("query_id", "neighbor_id", "rank", score)
  }

  /** Deterministic Rademacher (±1) sign vector of hyperplane j, computed
    * ONCE on the driver and shipped as an array<double> literal — no
    * stored plane matrix, no per-row hash evaluation. The formula is the
    * driver-side evaluation of Spark's `xxhash64(lit(j), i) % 2` (seed
    * chain XXH64.hashInt(i, XXH64.hashInt(j, 42))), so buckets are
    * identical to the previous per-row column formulation.
    */
  private[graft] def planeSigns(j: Int, dim: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    Array.tabulate(dim) { i =>
      val h = XXH64.hashInt(i, XXH64.hashInt(j, 42L))
      if (java.lang.Math.floorMod(h, 2L) == 0L) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH bucket id over `planes` hyperplanes (one sign
    * bit each). Cosine-similar vectors land in the same bucket with
    * probability (1 − θ/π)^planes. One [[graft.functions.HyperplaneBits]]
    * kernel call evaluates every plane dot — the per-plane
    * `when(VecDot(...) > 0, ...)` formulation it replaced ran `planes`
    * expression nodes per row, each re-unwrapping the vector.
    */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    element_at(graft.functions.HyperplaneBits(vec,
      (0 until planes).map(planeSigns(_, dim)), planes), 1)

  /** Embedding-cosine near-duplicate pairs via MULTI-TABLE hyperplane
    * LSH: `tables` independent bucketings of `planes` sign bits each; a
    * pair is a candidate when it shares a bucket in ANY table
    * (OR-amplification — recall 1 − (1 − (1−θ/π)^planes)^tables), then
    * exact cosine verifies. Shuffles only on (table, bucket) keys; no
    * cross join. Tune planes up for precision (smaller buckets), tables
    * up for recall.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 8,
      tables: Int = 8,
      dim: Int = 64,
      maxBucketDf: Int = 0
  ): DataFrame =
    // Hot-bucket cap (default OFF, the oracle-checked configuration): the
    // bucket self-join is Σdf² over bucket keys, and a degenerate
    // embedding distribution — mass-duplicated vectors, all-zero rows,
    // exactly what a crawl corpus contains — piles one bucket high enough
    // that the CANDIDATE join (not the guarded verify) is the
    // scale-killer. Same mechanism and recall trade as the minhash band
    // cap: see Dedup.capHotKeys.
    embeddingNearDup(lshKeys(planes, tables, dim, maxBucketDf), threshold,
      dim).pairsOf(df, idCol, vecCol).pairs

  /** Collision probability of two vectors with cosine `c` in ONE
    * `planes`-bit random-hyperplane bucket: (1 − θ/π)^planes with
    * θ = arccos(c) (Goemans–Williamson / Charikar 2002). The
    * hyperplane-LSH analog of [[Dedup.lshRecall]]'s per-band j^r.
    */
  def hyperplaneCollisionProb(planes: Int, cosine: Double): Double = {
    require(planes >= 1, s"planes must be >= 1: $planes")
    require(cosine >= -1.0 && cosine <= 1.0,
      s"cosine must be in [-1,1]: $cosine")
    math.pow(1.0 - math.acos(cosine) / math.Pi, planes)
  }

  /** Candidate recall of `tables` OR-amplified `planes`-bit bucketings
    * at cosine `c`: 1 − (1 − p)^tables — what [[cosineNearDupPairs]]
    * achieves BEFORE its exact-cosine verify (which keeps precision at
    * 1.0 regardless). The default 4×8 gives ≈ 0.98 at c = 0.8, matching
    * the measured `tau0.8_planted` pair recall in RECALL_r{N}.json.
    */
  def lshTableRecall(planes: Int, tables: Int, cosine: Double): Double = {
    require(tables >= 1, s"tables must be >= 1: $tables")
    1.0 - math.pow(1.0 - hyperplaneCollisionProb(planes, cosine), tables)
  }

  /** Pick (planes, tables) for an embedding near-dup pass: the LARGEST
    * plane count (smallest buckets → fewest spurious candidates in the
    * Σdf² self-join) whose OR-amplified recall at `threshold` still
    * reaches `targetRecall` within `maxTables` tables, and the smallest
    * table count that gets there. The hyperplane analog of
    * [[Dedup.lshBandPlan]]: exact verify keeps precision at 1.0, so the
    * plan trades candidate volume against key-store size (tables keys
    * per vector — a store is bound to the plan that wrote it, and the
    * `_meta` sidecar refuses a re-planned probe). Driver-side
    * arithmetic; feed the result to [[cosineNearDupPairs]] /
    * [[embeddingBucketKeys]].
    */
  def lshTablePlan(threshold: Double, targetRecall: Double,
      maxPlanes: Int = 16, maxTables: Int = 64): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0,
      s"threshold must be in (-1,1): $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1): $targetRecall")
    val plans = for {
      planes <- maxPlanes to 1 by -1
      p = hyperplaneCollisionProb(planes, threshold)
      if p > 0.0
      // smallest t with 1-(1-p)^t >= target  ⇔  t >= ln(1-target)/ln(1-p)
      t = math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt.max(1)
      if t <= maxTables
    } yield (planes, t)
    require(plans.nonEmpty,
      s"no (planes <= $maxPlanes, tables <= $maxTables) plan reaches " +
        s"recall $targetRecall at cosine $threshold")
    plans.head
  }

  /** The multi-probe bucket set of one vector against one hash table
    * (Lv et al. 2007): the kernel bucket `b0` plus the `probes − 1`
    * buckets reached by flipping the sign bits whose hyperplane margin
    * |v·plane| is smallest — an array<long> of pairwise-distinct
    * buckets. THE single definition of the margin/flip contract, shared
    * by every probe site ([[bucketKeys]] and the LSH coarse stage,
    * [[Coarse.Lsh]]) so a tie-break or margin change can never drift
    * between them.
    *
    * Determinism contract: margins are sequential [[VecDot]] folds of
    * `slice(vec, 1, dim)` — the same prefix [[HyperplaneBits]] buckets
    * on, so an over-length vector probes the full set — against the
    * literal sign vectors of planes [seedOffset, seedOffset + planes);
    * flip order is (|margin| ASC, plane ASC); pow(2, p) is exact for
    * p < 53. A degenerate vector (null / shorter than dim / null
    * element) has null margins; those are filtered, so it probes only
    * its kernel bucket — the single-probe contract. `probes = 1` is
    * exactly `array(b0)`, with no margin computed.
    */
  private[graft] def probeBuckets(vec: Column, b0: Column, seedOffset: Int,
      planes: Int, dim: Int, probes: Int): Column =
    if (probes == 1) array(b0)
    else {
      val margins = array((0 until planes).map { p =>
        struct(abs(dotDouble(slice(vec, 1, dim),
          lit(planeSigns(seedOffset + p, dim)))).as("a"), lit(p).as("p"))
      }: _*)
      val flips = slice(
        array_sort(filter(margins, x => x.getField("a").isNotNull)),
        1, probes - 1)
      concat(array(b0), transform(flips, x => b0.bitwiseXOR(
        pow(lit(2.0), x.getField("p")).cast("long"))))
    }

  /** (carry…, bk) multi-table bucket keys of `df` — THE builder of every
    * `t:b` key: near-dup self-joins, the embedding-bucket store, both
    * sides of the incremental store join and of semantic
    * decontamination. Bucket of table t uses plane seeds
    * [t*planes, (t+1)*planes); ONE HyperplaneBits kernel call per row
    * computes all tables×planes dots. With `probes = 1` each row gets
    * one key per table (posexplode's position is the table index); with
    * `probes > 1` each table also yields the row's `probes − 1`
    * smallest-margin flips ([[probeBuckets]]), pairwise distinct per
    * table — the query/batch-side key set that lets a single-key store
    * run ~probes× fewer tables at equal recall.
    */
  private[graft] def bucketKeys(df: DataFrame, vecCol: String,
      carry: Seq[String], planes: Int, tables: Int, dim: Int,
      probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= planes,
      s"probes must be in [1, planes=$planes]: $probes")
    val kept = carry.map(col)
    val bits = df.withColumn("__bits", graft.functions.HyperplaneBits(
      col(vecCol), (0 until tables * planes).map(planeSigns(_, dim)), planes))
    val tb =
      if (probes == 1)
        bits.select(kept :+ posexplode(col("__bits")).as(Seq("t", "b")): _*)
      else bits
        .select(kept :+ explode(array((0 until tables).map { t =>
          struct(lit(t).as("t"), probeBuckets(col(vecCol),
            element_at(col("__bits"), t + 1), t * planes, planes, dim,
            probes).as("bs"))
        }: _*)).as("tb"): _*)
        .select(kept ++ Seq(col("tb.t").as("t"),
          explode(col("tb.bs")).as("b")): _*)
    tb.select(kept :+ concat_ws(":", col("t"), col("b")).as("bk"): _*)
  }

  // --------------------------------------- plan attribution (opt-in)

  /** Opt-in per-stage `observe()` counters on the near-dup plans — the
    * bench's diag pattern applied to a PLAN: when a family's cost moves,
    * the first question is which stage's row volume moved, and these
    * metrics answer it from one run instead of a bisection. Off by
    * default: `CollectMetricsExec` does per-row accumulator work on the
    * hottest edge of the plan (the candidate join's output), which is
    * exactly where a benchmark must not pay an observer tax. Enabled
    * thread-locally (same confinement reasoning as
    * [[Dedup.withGuards]]); harvest via a
    * `QueryExecutionListener` reading `observedMetrics` — see
    * NearDupAttributionSpec.
    */
  def withPlanAttribution[T](body: => T): T = {
    val prev = planAttribution.get()
    planAttribution.set(true)
    try body finally planAttribution.set(prev)
  }

  private val planAttribution = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  private[operators] def obsCount(df: DataFrame, name: String): DataFrame =
    if (planAttribution.get()) df.observe(name, count(lit(1)).as("n"))
    else df

  /** The embedding families of the near-dup core ([[Dedup.NearDup]]):
    * (id, v, nrm) tables, any blocking `keys`, exact cosine
    * ([[cosineOrNull]]) — a VECTOR payload, so every vector pin ANDs the
    * row guard with the byte gate and the in-batch verify is the fused
    * shape whenever the whole table fits the pins.
    */
  private[operators] def embeddingNearDup(keys: Dedup.Keys, threshold: Double,
      dim: Int): Dedup.NearDup =
    Dedup.NearDup((df, id, vec) => df.select(col(id).as("id"),
        col(vec).as("v")).withColumn("nrm", norm(col("v"))),
      keys,
      Dedup.Verify(Seq("v", "nrm"), "cosine", (a, b) =>
        cosineOrNull(dotDouble(a("v"), b("v")), a("nrm"), b("nrm")),
        _ >= threshold, rowBytes = Dedup.vecBroadcastBytes(1L, dim)))

  /** Multi-table hyperplane keys ([[bucketKeys]]); a store check probes
    * `probes` buckets per table on the batch side.
    */
  private[operators] def lshKeys(planes: Int, tables: Int, dim: Int, maxDf: Int,
      probes: Int = 1): Dedup.Keys =
    Dedup.Keys(bucketKeys(_, "v", Seq("id"), planes, tables, dim),
      tables * probes, maxDf,
      probe = Some(bucketKeys(_, "v", Seq("id"), planes, tables, dim, probes)))

  /** Collect the first `numLists` vectors (in id order) as IVF coarse
    * centroids — an index-BUILD step, run once per index. Sampled data
    * points as centroids is the standard cheap quantizer (k-means would
    * refine them; the IVF search mechanics are identical), and float →
    * double widening is exact, so both engines see identical centroid
    * bits.
    */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String,
      numLists: Int): Seq[Array[Double]] =
    df.orderBy(col(idCol)).limit(numLists).select(col(vecCol)).collect()
      .map(rowVecToDouble).toSeq

  /** Driver-side vector read that accepts BOTH array<float> and
    * array<double> rows — the native kernels already take either, and a
    * testdata/user schema drift to double must not ClassCastException
    * the three index-build collect sites (same failure class as the
    * events TIMESTAMP_NTZ regen that killed two queries for two rounds;
    * float → double widening is exact, so results are unchanged).
    */
  private def rowVecToDouble(r: org.apache.spark.sql.Row): Array[Double] =
    r.getSeq[Number](0).map(_.doubleValue()).toArray

  /** Spherical k-means (Lloyd) refinement of seeded IVF centroids — an
    * index-BUILD step, run once per index on a DETERMINISTIC sample.
    * Each iteration assigns every sample vector to its best-cosine
    * centroid (ties to the lower list id, the same rule the IVF
    * assignment uses) and replaces each centroid with the per-dimension
    * SUM of its members — the sum, not the mean, because
    * [[centroidScore]] normalizes by |c|, so only the DIRECTION matters
    * and skipping the division keeps the arithmetic a pure sequential
    * double fold. Empty lists keep their previous centroid.
    *
    * Determinism contract (what makes the refined index oracle-checkable
    * and rebuildable bit-for-bit): the sample is taken in id order, every
    * dot/norm/sum accumulates sequentially in double over that order —
    * exactly the fold a DuckDB `list_reduce(list(x ORDER BY id), ...)`
    * replays — so Spark and the oracle derive identical centroid bits.
    * Scale shape: refinement touches only the collected sample (k-means
    * training sets are samples in production quantizers too); the
    * corpus-wide assignment stays the map-side literal-centroid plan.
    */
  def refineCentroids(
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      seeds: Seq[Array[Double]],
      iterations: Int = 2): Seq[Array[Double]] = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    val vecs = sample.orderBy(col(idCol)).select(col(vecCol)).collect()
      .map(rowVecToDouble)
    var cents = seeds.map(_.clone()).toArray
    var it = 0
    while (it < iterations) {
      val norms = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        math.sqrt(s)
      }
      val sums = Array.fill(cents.length)(new Array[Double](
        if (vecs.nonEmpty) vecs.head.length else 0))
      val counts = new Array[Long](cents.length)
      vecs.foreach { v =>
        var best = 0
        var bestScore = Double.NegativeInfinity
        var j = 0
        while (j < cents.length) {
          val c = cents(j)
          var d = 0.0; var i = 0
          val n = math.min(v.length, c.length)
          while (i < n) { d += v(i) * c(i); i += 1 }
          val score = d / norms(j)
          if (score > bestScore) { bestScore = score; best = j } // tie → lower j
          j += 1
        }
        val s = sums(best)
        var i = 0
        while (i < math.min(v.length, s.length)) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map(j =>
        if (counts(j) == 0) cents(j) else sums(j)).toArray
      it += 1
    }
    cents.toSeq
  }

  /** DISTRIBUTED Lloyd refinement — the full-corpus twin of
    * [[refineCentroids]] for when the sample-on-the-driver shape isn't
    * enough. Per iteration: assignment is the same map-side
    * literal-centroid argmax every IVF path uses (spherical k-means —
    * cosine argmax, tie → lower list id), and the update aggregates
    * per-dimension SUMS (like the driver twin: cosine is
    * scale-invariant, so the unnormalized sum is the mean direction)
    * with ONE partial-aggregated shuffle of ≤ numLists rows × (dim+1)
    * columns — the corpus never moves, the driver holds only the
    * centroid table. Empty lists keep their previous centroid, same
    * contract as the driver twin.
    *
    * Floating-point caveat: distributed partial sums add in partition
    * order, so centroids can differ from the sequential driver twin in
    * final ulps (assignments on separated clusters agree; Recall/spec
    * pin behavioral equivalence, not bit equality). Use the driver twin
    * when bit-replay against the oracle matters.
    */
  def refineCentroidsDistributed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      seeds: Seq[Array[Double]],
      iterations: Int = 2): Seq[Array[Double]] = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(seeds.nonEmpty, "seeds must be non-empty")
    val dim = seeds.head.length
    var cents = seeds
    var it = 0
    while (it < iterations) {
      val assigned = df
        .select(col(vecCol).as("v"))
        .withColumn("list",
          bestListStruct(scoredListStructs(col("v"), cents)).getField("l"))
      val aggs = (0 until dim).map(i =>
        sum(element_at(col("v"), i + 1).cast("double")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val rows = assigned.groupBy("list").agg(aggs.head, aggs.tail: _*)
        .collect()
      val byList = rows.map(r => r.getInt(0) -> r).toMap
      cents = cents.indices.map { j =>
        byList.get(j) match {
          case Some(r) if r.getLong(dim + 1) > 0 =>
            Array.tabulate(dim)(i => r.getDouble(i + 1))
          case _ => cents(j)
        }
      }
      it += 1
    }
    cents
  }

  /** Cosine score against one literal centroid (|v| dropped — constant
    * per row, so the argmax is unchanged). The centroid's norm is folded
    * on the driver with the same sequential-double accumulation VecDot
    * and the DuckDB oracle use, so all three producers agree bit-exactly.
    */
  private def centroidScore(vec: Column, c: Array[Double]): Column = {
    var s = 0.0
    var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    dotDouble(vec, lit(c)) / lit(math.sqrt(s))
  }

  /** (−score, list) structs for every centroid — negated so `least` /
    * `array_sort` pick the BEST-cosine list with ties to the lower id.
    */
  private[operators] def scoredListStructs(vec: Column,
      centroids: Seq[Array[Double]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, i) =>
      struct((-centroidScore(vec, c)).as("s"), lit(i).as("l"))
    }

  /** `least` over the scored structs, tolerating the degenerate
    * single-list quantizer (Spark's `least` requires ≥ 2 arguments).
    */
  private def bestListStruct(cols: Seq[Column]): Column =
    if (cols.sizeIs == 1) cols.head else least(cols: _*)

  /** Best-centroid list id as a plain map-side Column (ties to the lower
    * list) — the coarse-quantizer assignment shared by the IVF build,
    * SemDeDup blocking, and cluster-balanced sampling.
    */
  def listAssignment(vec: Column, centroids: Seq[Array[Double]]): Column =
    bestListStruct(scoredListStructs(vec, centroids)).getField("l")

  /** Cluster-balanced (diversity-aware) sampling: the first `n` rows of
    * each coarse cluster in seeded-hash order — the DataComp-style
    * "spread the sample across semantic space" draw (uniform sampling
    * over a corpus dominated by one modality keeps that dominance;
    * per-cluster caps don't). Assignment is the map-side literal-centroid
    * projection (no pass of its own); the draw is
    * [[Sampling.stratifiedSample]]'s bounded-heap prune + one window —
    * nothing here shuffles the vectors themselves.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], n: Int): DataFrame =
    Sampling.stratifiedSample(
      df.withColumn("list", listAssignment(col(vecCol), centroids)),
      "list", idCol, n)

  /** SemDeDup-style cluster-blocked near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its best-cosine centroid
    * MAP-SIDE (literal centroids, the same coarse quantizer the IVF
    * index uses — ties to the lower list id), then verify exact cosine
    * only WITHIN each cluster. The cluster is the candidate blocker: a
    * semantically-informed alternative to [[cosineNearDupPairs]]'s
    * hyperplane buckets — near-identical vectors share a best centroid
    * far more reliably than they share k random sign bits, so recall
    * per candidate-pair is higher when a decent quantizer exists
    * (k-means-refined seeds; see [[refineCentroids]]).
    *
    * Scale shape: the assignment adds NO pass of its own (a projection
    * on the existing scan), candidates shuffle as (id, list) rows, and
    * the pair verify is the shared candidate-bounded machinery of the
    * LSH path (broadcast-pinned under the guard count, corpus read once
    * semi-join-pruned). `maxListDf` caps a degenerate cluster exactly
    * like the LSH hot-bucket cap — at 100 TB a boilerplate cluster is
    * the same Σdf² risk as a boilerplate bucket.
    */
  def semDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      threshold: Double,
      maxListDf: Int = 0
  ): DataFrame = {
    require(centroids.nonEmpty, "semDedupPairs needs at least one centroid")
    embeddingNearDup(Dedup.Keys(
        _.select(col("id"), listAssignment(col("v"), centroids).as("bk")),
        1, maxListDf), threshold, dim = centroids.head.length)
      .pairsOf(df, idCol, vecCol).pairs
  }

  // ---------------------------------------------------------- vector core
  //
  // One path for every vector codec ([[Codec]]: raw, SQ8, PQ, sign bits)
  // under one coarse stage ([[Coarse]]: a flat scan, IVF lists or LSH
  // buckets — the core calls either kind of partition a `list`). There
  // is one corpus encode, one probe builder, one scoring tail, one store
  // write (overwrite and append), one stage-from-store and one raw-store
  // refine; each public ANN entry point is a codec and a coarse value
  // plus one call in here. Codec decisions (encodings, score, null
  // contract, `_meta` kind and keys, `_train` artifacts) live in
  // Codec.scala; coarse decisions (assignment, probe order, `_meta` kind
  // and keys, on-disk column names) in Coarse.scala.

  /** The centroids a residual codec encodes against, if any. */
  private def residualOf(codec: Codec, coarse: Coarse)
      : Option[Seq[Array[Double]]] = coarse match {
    case Coarse.Ivf(cs, _) if codec.residual => Some(cs)
    case _ => None
  }

  private def requireStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, codec: Codec, coarse: Coarse): Unit = {
    val (kind, keys) = coarse.meta(codec)
    graft.core.StoreMeta.requireIfPresent(spark, storePath, kind, keys)
  }

  /** A store's probed partitions ([[graft.core.StoreScan]] — no listing
    * or schema job): the probed lists' directories under a coarse stage,
    * the whole store for a flat scan, on the path their bytes choose
    * ([[StoreProbe.stored]]).
    */
  private def probedStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, coarse: Coarse,
      probedLists: Seq[Any]): StoreProbe.Stored = StoreProbe.stored(
    coarse match {
      case Coarse.Scan => graft.core.StoreScan.scan(spark, storePath)
      case _ => graft.core.StoreScan.scan(spark, storePath,
        coarse.storedNames.getOrElse("list", "list") -> probedLists)
    })

  /** Stored rows under the core's column names. */
  private def coreNames(stored: DataFrame, coarse: Coarse): DataFrame =
    coarse.storedNames.foldLeft(stored) {
      case (d, (core, stored)) => d.withColumnRenamed(stored, core) }

  /** Encoded corpus rows: (`idAs`, list, payload…) under a coarse
    * stage, else (`idAs`, payload…). Assignment and encode are
    * map-side — zero shuffles; a residual codec encodes
    * `v − centroid(list)`.
    */
  private def corpusFrame(df: DataFrame, idCol: String, vecCol: String,
      codec: Codec, coarse: Coarse, idAs: String): DataFrame = {
    val kept = codec.encodable(col(vecCol)).fold(df)(c => df.filter(c))
    coarse match {
      case Coarse.Scan =>
        kept.select(col(idCol).as(idAs) +: codec.corpus(col(vecCol)): _*)
      case lists: Coarse.Lists =>
        val v = residualOf(codec, coarse)
          .fold(col("__v"))(residualCol(col("__v"), col("list"), _))
        kept.select(col(idCol).as(idAs), col(vecCol).as("__v"),
            lists.assign(col(vecCol)).as("list"))
          .select(col(idAs) +: col("list") +: codec.corpus(v): _*)
    }
  }

  /** The query side: (query_id, payload…) for a flat scan; under a
    * coarse stage one row per (query, probed list) —
    * (query_id, payload…, list), with a residual codec's payload
    * computed per probe row (one LUT per probed list).
    */
  private def probeFrame(queries: DataFrame, idCol: String, vecCol: String,
      codec: Codec, coarse: Coarse): DataFrame = {
    val kept =
      codec.encodable(col(vecCol)).fold(queries)(c => queries.filter(c))
    coarse match {
      case Coarse.Scan =>
        kept.select(col(idCol).as("query_id") +: codec.query(col(vecCol)): _*)
      case lists: Coarse.Lists =>
        val residual = residualOf(codec, coarse)
        val pre =
          if (residual.isDefined) Seq(col(vecCol).as("qv"))
          else codec.query(col(vecCol))
        val probes = kept
          .select((col(idCol).as("query_id") +: pre) :+
            lists.probe(col(vecCol)).as("list"): _*)
        residual.fold(probes)(cs => probes.select(col("query_id") +:
          col("list") +: codec.query(residualCol(col("qv"), col("list"),
            cs)): _*))
    }
  }

  /** The in-memory scoring tail: broadcast the (small) query side
    * against the encoded corpus — on the list key under a coarse stage,
    * else every query against every corpus row — drop self-pairs, score,
    * rank with the codec's null contract. The corpus is never shuffled;
    * only scored candidates move into the per-query window, which stays
    * lazy because callers compose this frame into larger plans. A store
    * probe scores the same pairs without the join or the window
    * ([[stageFromStore]]).
    */
  private def scoredTopK(enc: DataFrame, probes: DataFrame, codec: Codec,
      k: Int, listed: Boolean): DataFrame = {
    val pairs =
      if (listed)
        enc.join(broadcast(probes), Seq("list"))
          .filter(col("query_id") =!= col("neighbor_id"))
      else {
        val q = probes // no lists: every query row is its own probe
        enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      }
    val scored = codec.pairFilter.fold(pairs)(c => pairs.filter(c))
      .withColumn(codec.score, codec.scoreExpr)
    rankTopK(scored, codec.score, codec.ascending, k, codec.dropNullScore)
  }

  /** In-memory top-k of any codec under any coarse stage. */
  private[operators] def codecTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, codec: Codec,
      coarse: Coarse): DataFrame =
    scoredTopK(corpusFrame(corpus, idCol, vecCol, codec, coarse,
        "neighbor_id"),
      probeFrame(queries, idCol, vecCol, codec, coarse),
      codec, k, coarse != Coarse.Scan)

  /** The one store write of any codec, overwrite or append: (id,
    * payload…) rows, PARTITIONED BY list under a coarse stage.
    * Every list-partitioned write repartitions on the list first:
    * encoding is map-side, so WITHOUT it every input task holds rows of
    * every list and the dynamic-partition write fans out tasks × lists
    * files — 4M files per build at 1000 executors × 4096 lists. One
    * build-time shuffle bounds the file count by the list count, which
    * is also exactly the file set a probed-list scan then opens
    * (SimilaritySpec pins the bound). An append reads, lists and
    * rewrites nothing: the first write stamps `_meta`, later appends
    * REQUIRE the same parameters (appending under other centroids or
    * another grid would put rows where probes never look, or re-grid
    * codes already on disk).
    */
  private[graft] def writeStore(df: DataFrame, idCol: String,
      vecCol: String, codec: Codec, coarse: Coarse, storePath: String,
      append: Boolean = false): Unit = {
    val (kind, keys) = coarse.meta(codec)
    if (append)
      graft.core.StoreMeta.writeOrRequire(df.sparkSession, storePath, kind,
        keys)
    val enc = coarse.storedNames.foldLeft(
      corpusFrame(df, idCol, vecCol, codec, coarse, "id")) {
      case (d, (core, stored)) => d.withColumnRenamed(core, stored) }
    val mode = if (append) "append" else "overwrite"
    val part = coarse.storedNames.getOrElse("list", "list")
    if (coarse == Coarse.Scan) enc.write.mode(mode).parquet(storePath)
    else enc.repartition(col(part)) // file count bounded by lists, not tasks × lists
      .write.mode(mode).partitionBy(part).parquet(storePath)
    // AFTER the data write: overwrite mode wipes the store root first
    if (!append)
      graft.core.StoreMeta.overwrite(df.sparkSession, storePath, kind, keys)
  }

  /** The `_train` artifacts a separate probing process needs: the
    * coarse centroids, then the codec's own (SQ grid, PQ codebook).
    */
  private[graft] def writeTrain(spark: org.apache.spark.sql.SparkSession,
      storePath: String, codec: Codec, coarse: Coarse): Unit = {
    coarse match {
      case Coarse.Ivf(cs, _) => writeCentroids(spark, storePath, cs)
      case _ =>
    }
    codec.writeTrain(spark, storePath)
  }

  /** Probe a stored index of any codec, answered when called: the top-k
    * as a local relation plus the probed-list set it pruned to (empty for
    * a flat store), so a two-stage refine reads the raw store's SAME
    * partition union. The query side is evaluated once on the driver
    * ([[storeProbes]]), and its rows ride the plan as one literal
    * ([[StoreProbe.queryLiteral]]: list → [query rows], exploded next to
    * each stored row — no broadcast join). The store read is
    * [[graft.core.StoreScan]] over the probed lists' directories only —
    * on a 10k-list index a 10-query probe lists ~40 partition directories
    * on the driver, reads one footer for the schema and runs no listing
    * or schema-inference job; the literal IN on the list column still
    * prunes inside them. The scoring is written once, as a function of
    * the stored frame, and [[StoreProbe.topK]] answers it: probed files
    * within the driver budget are decoded and scored on the driver with
    * no Spark job, larger ones in ONE map-only Spark job whose per-task
    * top-k lists the driver merges — no shuffle, no window either way.
    * Codes, floats and norms round-trip parquet exactly, so a store probe
    * is bit-identical to the in-memory path.
    */
  private[operators] def stageFromStore(
      spark: org.apache.spark.sql.SparkSession, storePath: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      codec: Codec, coarse: Coarse): (DataFrame, Seq[Any]) = {
    requireStore(spark, storePath, codec, coarse)
    val (qType, keyType, probes) =
      storeProbes(spark, queries, idCol, vecCol, codec, coarse)
    val listed = coarse != Coarse.Scan
    val probedLists =
      if (!listed) Nil
      else probes.map(_._1).distinct
        .sortBy(_.asInstanceOf[Number].longValue)
    val payload = codec.payload.map(col)
    val q = StoreProbe.queryLiteral(if (listed) Some(col("list")) else None,
      keyType, qType, probes)
    def score(stored: DataFrame): DataFrame = {
      val named = coreNames(stored, coarse)
      val enc =
        if (listed) named.filter(col("list").isInCollection(probedLists))
        else named
      val pairs = enc
        .select((col("id").as("neighbor_id") +: payload) :+ q.as("__q"): _*)
        .select((col("neighbor_id") +: payload) ++
          qType.fieldNames.map(f => col(s"__q.$f").as(f)): _*)
        .filter(col("query_id") =!= col("neighbor_id"))
      codec.pairFilter.fold(pairs)(c => pairs.filter(c))
        .select(col("query_id"), col("neighbor_id"),
          codec.scoreExpr.as(codec.score))
    }
    val top = StoreProbe.topK(probedStore(spark, storePath, coarse,
      probedLists), score, codec.score, codec.ascending, k, codec.dropNullScore)
    (top.answer(_.collect()), probedLists)
  }

  /** A store probe's query side, evaluated once on the driver: the row
    * type of the probe literal — (query_id, payload…), the query
    * payload of [[probeFrame]] — its key type, and one (list, query row)
    * pair per probed list (the key is unused under a flat scan). The
    * collected frame is a projection of the queries with the probed ids
    * as one array, exploded on the driver, so over a local query frame it
    * folds into a local relation and runs no Spark job. A residual codec
    * computes its per-list payload in a second projection over a local
    * relation of the exploded rows, which runs none either.
    */
  private def storeProbes(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, codec: Codec,
      coarse: Coarse): (StructType, DataType, Seq[(Any, Row)]) = {
    val kept =
      codec.encodable(col(vecCol)).fold(queries)(c => queries.filter(c))
    def rowOf(r: Row, n: Int) = Row.fromSeq(r.toSeq.take(n))
    coarse match {
      case Coarse.Scan =>
        val q = kept.select(col(idCol).as("query_id") +:
          codec.query(col(vecCol)): _*)
        (q.schema, NullType, q.collect().toSeq.map(r => (null, r)))
      case lists: Coarse.Lists =>
        val residual = residualOf(codec, coarse)
        val pre =
          if (residual.isDefined) Seq(col(vecCol).as("qv"))
          else codec.query(col(vecCol))
        val q = kept.select((col(idCol).as("query_id") +: pre) :+
          lists.probedIds(col(vecCol)).as("__p"): _*)
        val n = q.schema.length - 1
        val rowType = StructType(q.schema.fields.take(n))
        val keyType =
          q.schema("__p").dataType.asInstanceOf[ArrayType].elementType
        val probes = q.collect().toSeq.flatMap(r =>
          // a null list id (a null vector's) joins no stored row
          Option(r.getSeq[Any](n)).getOrElse(Nil).filter(_ != null)
            .map(l => (l, rowOf(r, n))))
        residual match {
          case None => (rowType, keyType, probes)
          case Some(cs) =>
            val local = spark.createDataFrame(
              java.util.Arrays.asList(probes.map { case (l, r) =>
                Row.fromSeq(r.toSeq :+ l) }: _*),
              rowType.add(StructField("list", keyType, nullable = false)))
            val lut = local.select((col("query_id") +: codec.query(
              residualCol(col("qv"), col("list"), cs))) :+ col("list"): _*)
            val m = lut.schema.length - 1
            (StructType(lut.schema.fields.take(m)), keyType,
              lut.collect().toSeq.map(r => (r.get(m), rowOf(r, m))))
        }
    }
  }

  /** Fully-PERSISTED two-stage retrieval over any codec, answered when
    * called: the compressed store answers the top-(k·factor) shortlist
    * ([[stageFromStore]]) and the raw-vector store
    * ([[writeIvfAssignments]]) the exact refine, BOTH scans pruned to the
    * probed lists — every shortlist member came from a probed list, so
    * neither store is read beyond the probed partitions. The driver
    * builds neighbor_id → [(query_id, query vector)] from the gathered
    * shortlist ([[StoreProbe.queryLiteral]]), the shortlist ids reach
    * the raw scan as a literal `In` filter (pushed into the parquet scan
    * on the Spark path), each raw row's distances are computed once,
    * and [[StoreProbe.topK]] keeps the top-k (null distances skipped) —
    * on the driver when the probed raw files fit its budget, else in a
    * second map-only Spark job. The answer equals [[rerankExact]] over
    * the shortlist. One definition, so the raw-store contract (meta
    * keys, list pruning) cannot drift between the PQ / SQ / binary
    * compositions.
    */
  private def rerankFromStores(spark: org.apache.spark.sql.SparkSession,
      storePath: String, rawStorePath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, codec: Codec,
      coarse: Coarse, factor: Int): DataFrame = {
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    val (shortlist, probedLists) = stageFromStore(spark, storePath, queries,
      idCol, vecCol, k * factor, codec, coarse)
    requireStore(spark, rawStorePath, Codec.Flat, coarse)
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val vecsOf = qv.collect().toSeq.groupMap(_.get(0))(_.get(1))
    val pairs = shortlist.collect().toSeq.flatMap(s =>
      vecsOf.getOrElse(s.get(0), Nil).map(v => (s.get(1), Row(s.get(0), v))))
    val q = StoreProbe.queryLiteral(Some(col("id")),
      shortlist.schema("neighbor_id").dataType,
      StructType(Seq(shortlist.schema("query_id"), qv.schema("qv"))), pairs)
    def score(stored: DataFrame): DataFrame = coreNames(stored, coarse)
      .filter(col("list").isInCollection(probedLists) &&
        col("id").isInCollection(pairs.map(_._1).distinct))
      .select(col("id").as("neighbor_id"),
        col("v").cast("array<double>").as("cv"), q.as("__q"))
      .select(col("__q.query_id").as("query_id"), col("neighbor_id"),
        col("__q.qv").as("qv"), col("cv"))
      // delta projected ONCE, then self-dotted (see rerankExact)
      .withColumn("__d", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .withColumn("dist", dotDouble(col("__d"), col("__d")))
    StoreProbe.topK(probedStore(spark, rawStorePath, coarse, probedLists),
      score, "dist", ascending = true, k, dropNull = true)
      .answer(_.collect())
  }

  /** IVF (inverted-file) ANN — the centroid-partitioned scale path that
    * complements LSH: every corpus vector is assigned to its nearest
    * coarse centroid ("list") MAP-SIDE (the centroids ride along as
    * array literals, like the LSH plane signs — no stored index join);
    * a query probes only its `nprobe` nearest lists, so exact scoring
    * touches ~nprobe/numLists of the corpus instead of all of it.
    *
    * Scale shape: assignment and scoring are one broadcast join (probe
    * lists are |queries|×nprobe rows); the corpus is never shuffled —
    * only the scored candidates move into the per-query top-k window.
    * Literal centroids hold to a few hundred lists; a production-size
    * quantizer (10k+ lists) would persist the assignment column and
    * range-partition by it — same plan from there on.
    *
    * Ties (equal centroid score) resolve to the LOWER list id on both
    * the assignment and the probe side. Scores by exact cosine: the
    * [[Codec.Flat]] codec under the coarse lists.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Flat,
      Coarse.Ivf(centroids, nprobe))

  /** Deterministic fingerprint of a centroid set / codebook (MD5 over
    * the doubles' bit patterns) — recorded in the index sidecar so a
    * probe with DIFFERENT centroids than the assignments were built
    * with refuses instead of silently pruning to the wrong lists (the
    * probe's nearest-centroid choice and the store's partition layout
    * must agree or every scan is quietly wrong).
    */
  private[operators] def vectorSetFingerprint(cs: Seq[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    cs.foreach(_.foreach { d =>
      bb.clear(); bb.putLong(java.lang.Double.doubleToLongBits(d))
      md.update(bb.array())
    })
    md.digest().map("%02x".format(_)).mkString
  }

  /** The persisted-assignment IVF index — the production shape past a
    * few hundred lists, where [[ivfTopK]]'s literal-centroid expressions
    * stop scaling: list assignment runs ONCE at index-build time
    * (map-side, zero shuffles) and lands in a parquet store PARTITIONED
    * BY list, with the vector norm precomputed. Probing then reads only
    * the lists some query actually probes — partition pruning makes the
    * scan cost O(probed lists), not O(corpus).
    * The (id, v, cn) rows written here are the raw-vector store, also
    * the refine half of every persisted two-stage pair.
    */
  def writeIvfAssignments(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String): Unit =
    writeStore(df, idCol, vecCol, Codec.Flat, Coarse.Ivf(centroids, 1),
      storePath)

  /** Append one batch's raw (id, v, cn, list) rows to an IVF raw-vector
    * store under the append-only contract of [[writeStore]].
    */
  def appendIvfAssignments(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String): Unit =
    writeStore(df, idCol, vecCol, Codec.Flat, Coarse.Ivf(centroids, 1),
      storePath, append = true)

  /** Probe a stored IVF index: bit-identical to [[ivfTopK]] for the same
    * centroids, the store scan pruned to the probed-list union.
    */
  def ivfTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k, Codec.Flat,
      Coarse.Ivf(centroids, nprobe))._1

  /** Embedding outlier scores — the IVF assignment read the other way:
    * each vector's best centroid cosine. Vectors far from EVERY centroid
    * (low `centroid_sim`) are embedding-space noise — mislabeled or
    * out-of-distribution rows a curation pass prunes before training.
    * Same map-side literal-centroid plan as [[ivfTopK]]'s assignment:
    * zero shuffles.
    */
  def centroidOutlierScores(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame = {
    val best = least(centroids.zipWithIndex.map { case (c, i) =>
      struct((-centroidScore(col(vecCol), c) /
        norm(col(vecCol))).as("s"), lit(i).as("l"))
    }: _*)
    df.select(
      col(idCol),
      best.getField("l").as("list"),
      (-best.getField("s")).as("centroid_sim"))
  }

  // -------------------------------------------------- product quantization

  /** Flat PQ codebook seeded from the first `k` vectors (id order), each
    * sliced into `m` sub-vectors of `dsub` dims — entry (sub·k + code)
    * holds vector `code`'s slice for subspace `sub`. Sampled data points
    * as centroids is the standard cheap quantizer (per-subspace k-means
    * would refine them; the encode/ADC mechanics are identical), and
    * float → double widening is exact, so Spark and the oracle see
    * identical codebook bits. An index-BUILD step, run once per index;
    * the collect is `k` rows, driver-small by construction.
    */
  def seedPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, k: Int = 8, dsub: Int = 16): Array[Double] = {
    val seeds = df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(rowVecToDouble)
    require(seeds.length == k, s"need $k seed vectors, got ${seeds.length}")
    val flat = new Array[Double](m * k * dsub)
    for (sub <- 0 until m; code <- 0 until k; i <- 0 until dsub)
      flat((sub * k + code) * dsub + i) = seeds(code)(sub * dsub + i)
    flat
  }

  /** Encode a corpus to PQ codes — the compression half of the index:
    * array<float>[m·dsub] (4·m·dsub bytes) → array<int>[m] codes (m
    * small ints; m bytes once stored dictionary-encoded). Map-side, zero
    * shuffles; the codebook rides as one executor-shared reference.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Double], m: Int = 4, numCodes: Int = 8,
      dsub: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.PqCodes(col(vecCol), codebook, m, numCodes, dsub)
        .as("codes"))

  /** PQ ANN top-k by asymmetric distance (ADC): the corpus participates
    * as m-code rows (the 64×-compressed index — at 100 TB of raw
    * embeddings this is the difference between an index that fits in
    * executor memory and one that doesn't), each query precomputes its
    * m·k distance LUT ONCE map-side, and scoring a pair is m array
    * lookups instead of a D-dim dot. Queries broadcast; the corpus is
    * never shuffled — only scored candidates move into the per-query
    * top-k window. Exact per-subspace: ADC = ‖q − recon(codes)‖².
    *
    * Returns (query_id, neighbor_id, rank, adc) ranked by adc ASC with
    * id tiebreak; self-pairs excluded.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k,
      Codec.Pq(codebook, m, numCodes, dsub), Coarse.Scan)

  /** IVF+PQ ANN — the two scale mechanisms composed, the standard
    * billion-vector index shape (FAISS IVFPQ): the coarse quantizer
    * prunes which corpus slice each query touches (~nprobe/numLists of
    * it), and within the probed lists scoring runs on PQ codes via the
    * query's LUT — so the big join moves (id, list, m codes) rows, never
    * raw vectors, and each scored pair costs m lookups. Corpus assignment
    * and encoding are both map-side; queries broadcast with their LUT.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k,
      Codec.Pq(codebook, m, numCodes, dsub), Coarse.Ivf(centroids, nprobe))

  /** Elementwise `v − centroids(list)` as a column: a literal-centroid
    * CASE over the (small, by the same contract as every literal-centroid
    * path here) list count — the residual each IVFADC row encodes.
    * Unencodable vectors propagate: zip_with over a null vector is null,
    * and a short vector pads with null elements, so [[graft.functions.PqCodes]]
    * nulls the codes exactly as on the raw path.
    */
  private def residualCol(v: Column, listCol: Column,
      centroids: Seq[Array[Double]]): Column =
    coalesce(centroids.zipWithIndex.map { case (c, i) =>
      when(listCol === i, zip_with(v, lit(c), (a, b) => a - b))
    }: _*)

  /** IVFADC with RESIDUAL encoding — the full Jégou et al. 2011 shape
    * [[ivfPqTopK]] approximates: each corpus vector is PQ-encoded as its
    * residual `v − centroid(list)` rather than raw, and each query
    * computes one LUT PER PROBED LIST from its own residual against that
    * list's centroid. Residuals are centered near zero, so the same
    * codebook budget quantizes them far more finely than raw vectors —
    * the standard recall lift at identical index size (codes are still m
    * small ints per vector).
    *
    * Scale shape: unchanged from [[ivfPqTopK]] — assignment, residual,
    * and encode are one map-side projection over the corpus; the join
    * still moves (id, list, codes) rows; the only new cost is the
    * query-side LUT ×nprobe (per probe row instead of per query — the
    * probe rows were already exploded). Train the codebook on residuals
    * (pass [[residualFrame]] to [[seedPqCodebooks]] /
    * [[refinePqCodebooks]]) — a raw-vector codebook centered away from
    * zero wastes its codes.
    *
    * Honest measurement (RECALL_r16): on the synthetic unit-norm,
    * UNCLUSTERED test embeddings, residuals against the seed coarse
    * quantizer are no smaller than the raw vectors, so this does NOT
    * out-recall raw [[ivfPqTopK]] there — the residual win requires the
    * cluster structure real corpora have. The measured lever on that
    * table is the code budget + full-corpus distributed training
    * (`ivfpq_m8k64_trained` rows: 0.044 → 0.284 recall@5 at nprobe=16).
    */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k,
      Codec.Pq(codebook, m, numCodes, dsub, residual = true),
      Coarse.Ivf(centroids, nprobe))

  /** Residual column builder for codebook training: (id, res) of a
    * corpus under literal centroids — feed to [[seedPqCodebooks]] /
    * [[refinePqCodebooks]] so the quantizer is fit on what it encodes.
    */
  def residualFrame(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list",
        bestListStruct(scoredListStructs(col("v"), centroids)).getField("l"))
      .select(col("id"),
        residualCol(col("v"), col("list"), centroids).as("res"))

  /** The PQ-compressed stored IVF index — what [[writeIvfAssignments]]
    * should be at 100 TB: the persisted rows are (id, codes[m])
    * partitioned by list, NOT raw vectors — m small ints per vector
    * (dictionary-encoded to ~m bytes) instead of 4·m·dsub float bytes,
    * the same 64× compression [[pqTopK]] banks on, now in the
    * PERSISTED index. Assignment and encoding both run map-side once at
    * build time; probing reads only probed-list partitions and scores
    * via LUT/ADC — the scan is O(probed lists) over compressed rows.
    * Keep the raw-vector store ([[writeIvfAssignments]]) alongside when
    * exact re-ranking is needed; this store alone answers ADC top-k.
    *
    * `trainIterations > 0` first Lloyd-refines `codebook` over the FULL
    * corpus via [[refinePqCodebooksDistributed]] (one aggregate pass per
    * iteration — the corpus never moves) and encodes with the TRAINED
    * codebook. The `_meta` sidecar records the trained codebook's
    * fingerprint, so a probe presenting the un-trained seed refuses
    * instead of silently scoring against mismatched centroids — callers
    * must probe with the returned codebook.
    *
    * @return the codebook the store was actually encoded with (the
    *         input when `trainIterations == 0`, the refined one
    *         otherwise) — pass it to [[ivfPqTopKFromStore]].
    */
  def writeIvfPqAssignments(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], codebook: Array[Double],
      storePath: String, m: Int = 4, numCodes: Int = 8,
      dsub: Int = 16, trainIterations: Int = 0): Array[Double] = {
    val cb =
      if (trainIterations > 0)
        refinePqCodebooksDistributed(df, idCol, vecCol, codebook,
          m, numCodes, dsub, trainIterations)
      else codebook
    writeStore(df, idCol, vecCol, Codec.Pq(cb, m, numCodes, dsub),
      Coarse.Ivf(centroids, 1), storePath)
    cb
  }

  /** Probe a stored IVFPQ index: bit-identical to [[ivfPqTopK]] for the
    * same centroids/codebook (codes are ints, which round-trip parquet
    * exactly), the compressed store pruned to the probed-list union.
    */
  def ivfPqTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k,
      Codec.Pq(codebook, m, numCodes, dsub), Coarse.Ivf(centroids, nprobe))._1

  // ----- 8-bit scalar quantization (SQ8, FAISS QT_8bit shape) -----

  /** Per-dim (min, max) of a vector column in ONE aggregate pass — the
    * training half of SQ8. Fully partial-aggregated (2·dim doubles per
    * partition reach the driver), order-independent, and exactly
    * replayable by a per-dim min/max GROUP BY in the oracle. Train once
    * on the corpus, reuse for every encode/probe — the params pair is
    * the entire "model".
    */
  /** The per-dim (min, max) aggregate expression pair, shared by
    * [[trainSqParams]] and [[graft.BuildIndex]]'s fused stats pass —
    * ONE definition, because the stored-vs-inflight grid bit-identity
    * (and the store params fingerprint) depends on both computing the
    * exact same expression. element_at is size-guarded: under ANSI
    * (Spark 4's default) a vector shorter than `dim` would THROW the
    * whole aggregate; the guard nulls short rows' missing dims instead
    * — the DuckDB oracle's e[i+1] null-skip semantics, and the library
    * contract that dirty short rows are filtered, not fatal.
    */
  def sqGridAggs(vecCol: String, dim: Int): Seq[Column] =
    (0 until dim).flatMap(i => Seq(
      min(when(size(col(vecCol)) >= i + 1, element_at(col(vecCol), i + 1))
        .cast("double")),
      max(when(size(col(vecCol)) >= i + 1, element_at(col(vecCol), i + 1))
        .cast("double"))))

  def trainSqParams(df: DataFrame, vecCol: String, dim: Int = 64)
      : (Array[Double], Array[Double]) = {
    val aggs = sqGridAggs(vecCol, dim)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // every aggregate slot, not just dim 0: a corpus of uniformly-short
    // vectors or an all-null dim j > 0 must fail with this message, not
    // an opaque getDouble NPE below
    require((0 until 2 * dim).forall(i => !row.isNullAt(i)),
      "trainSqParams: empty corpus or all-null vector dimension " +
        "(every dim needs at least one non-null element)")
    (Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }

  /** Exact-scan top-k over SQ8-compressed vectors: the accuracy/memory
    * point between [[bruteForceTopK]] (exact, 4·dim bytes per row) and
    * [[pqTopK]] (m bytes per row, coarse): dim bytes per row with per-dim
    * resolution (max−min)/255, which on well-spread data ranks within a
    * hair of exact L2 — the standard "compressed flat" index. Corpus is
    * encoded map-side and streamed (never shuffled); pair distance
    * decodes the code bytes on the fly ([[graft.functions.SqDist]]), so
    * the join moves 1 byte per dim per corpus row. Combine with an IVF
    * partitioning for sublinearity; alone it is the 4×-less-IO brute scan.
    */
  def sqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      mins: Array[Double],
      maxs: Array[Double]
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Sq8(mins, maxs),
      Coarse.Scan)

  /** Persist the SQ8-compressed corpus: (id, codes binary) — dim bytes
    * per vector instead of 4·dim float bytes, the 100 TB store shape
    * when PQ's coarseness is too lossy. `_meta` records dim and the
    * params fingerprint so a probe presenting different training params
    * refuses instead of silently decoding against the wrong grid.
    */
  def writeSqCodes(df: DataFrame, idCol: String, vecCol: String,
      storePath: String, mins: Array[Double], maxs: Array[Double]): Unit =
    writeStore(df, idCol, vecCol, Codec.Sq8(mins, maxs), Coarse.Scan,
      storePath)

  /** Probe a stored SQ8 index: bit-identical to [[sqTopK]] for the same
    * params — code bytes round-trip parquet exactly.
    */
  def sqTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      mins: Array[Double],
      maxs: Array[Double]
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k,
      Codec.Sq8(mins, maxs), Coarse.Scan)._1

  /** IVF + SQ8: coarse-quantizer candidate pruning over byte-compressed
    * vectors — [[ivfTopK]]'s sublinearity at [[sqTopK]]'s 4× compression,
    * with far finer distances than IVFPQ at small m (dim bytes vs m
    * bytes). Unlike PQ there is no per-list LUT: the SQ grid is
    * list-independent, so probing is just the IVF join with the byte
    * decode fused into the pair distance. Assignment + encode are one
    * map-side projection; only (id, list, codes) rows move.
    */
  def ivfSqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      mins: Array[Double],
      maxs: Array[Double]
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Sq8(mins, maxs),
      Coarse.Ivf(centroids, nprobe))

  /** Persist the IVF-SQ8 index: (id, codes binary) partitioned by list —
    * the 100 TB shape when PQ is too lossy and raw floats too big: dim
    * bytes per vector, probes read only probed-list partitions. `_meta`
    * records the coarse geometry AND the grid params; probes presenting
    * either wrong refuse.
    */
  def writeIvfSqCodes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String,
      mins: Array[Double], maxs: Array[Double]): Unit =
    writeStore(df, idCol, vecCol, Codec.Sq8(mins, maxs),
      Coarse.Ivf(centroids, 1), storePath)

  /** Append one batch's encoded rows to an IVF-SQ8 store (the append-only
    * contract of [[writeStore]]). Training params are FROZEN at store
    * creation by design — re-training per batch would silently re-grid
    * codes already on disk (the DSIR frozen-fit argument); rebuild via
    * [[writeIvfSqCodes]] when the corpus distribution genuinely moves.
    */
  def appendIvfSqCodes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String,
      mins: Array[Double], maxs: Array[Double]): Unit =
    writeStore(df, idCol, vecCol, Codec.Sq8(mins, maxs),
      Coarse.Ivf(centroids, 1), storePath, append = true)

  /** Probe a stored IVF-SQ8 index: bit-identical to [[ivfSqTopK]], the
    * store scan pruned to the probed-list union.
    */
  def ivfSqTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      mins: Array[Double],
      maxs: Array[Double]
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k,
      Codec.Sq8(mins, maxs), Coarse.Ivf(centroids, nprobe))._1

  /** Exact re-ranking of a compressed shortlist (the FAISS
    * IndexRefineFlat shape — the standard two-stage production
    * retrieval): `shortlist` is (query_id, neighbor_id) candidates from
    * any compressed first stage (PQ/SQ ADC, LSH buckets); each pair is
    * re-scored with the EXACT L2² between the raw vectors and re-ranked
    * to top-k. Fixes what lossy codes misorder *within* the shortlist —
    * it cannot recover a neighbor the first stage never surfaced, so
    * pick `factor` against the first stage's measured recall curve.
    *
    * MEASURED factor guidance (RECALL_r17, sf0.1, 50 queries, vs exact
    * cosine ground truth):
    *  - SQ8 stage (recall ~0.98 un-refined): factor 4 restores
    *    recall@5 = recall@50 = 1.000 (`sq8_rerank_f4`).
    *  - IVF-SQ8 stage at nprobe=16: factor 2 ALREADY restores 1.000 at
    *    both k (`ivfsq_rerank_f2_nprobe16`) — the production two-stage
    *    configuration: sublinear scan, 4× compressed stage one, exact
    *    results. At nprobe=4 recall caps at the IVF probe ceiling
    *    (~0.60), not the refine: raise nprobe, not factor.
    *  - IVFPQ m=8/codes=64 trained stage at nprobe=16: recall@50
    *    climbs 0.368 (un-refined) → 0.560 (f2) → 0.757 (f4) →
    *    **0.909 (f8)** — the smallest config crossing 0.9; recall@5
    *    reaches only 0.62 at f8, so at 64× compression PQ is a
    *    recall@50-class retriever here. The oracle-config m=4/codes=8
    *    stage (shortlist recall ~0.16) is BELOW RESCUE at any sane
    *    factor — use the m8k64-trained or IVF-SQ stage instead.
    *
    * Scale shape: the corpus scan stays compressed in stage one; this
    * pass touches raw vectors ONLY for shortlist members. The
    * (shortlist × query-vector) table is |Q|·k·factor rows — broadcast
    * by construction — so the raw corpus streams through one
    * broadcast-hash join and is never shuffled. The per-pair exact
    * distance runs on a candidate-bounded row count, NOT the corpus
    * (the one place an interpreted zip_with is acceptable).
    *
    * Determinism: vectors cast to double per element, the difference
    * squared and folded sequentially over dims ([[VecDot]] over the
    * elementwise delta) — the `subDistSql` idiom the oracle replays.
    */
  def rerankExact(
      shortlist: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val withQ = shortlist.select("query_id", "neighbor_id")
      .join(qv, "query_id")
    val scored = cv
      .join(broadcast(withQ), Seq("neighbor_id"))
      // delta projected ONCE, then self-dotted: CollapseProject keeps a
      // non-cheap alias referenced twice in its own projection, so the
      // interpreted zip_with runs once per pair, not twice; null
      // distances drop after the window, not in a filter the optimizer
      // would push into the join as a third zip_with
      .withColumn("__d", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .withColumn("dist", dotDouble(col("__d"), col("__d")))
    rankTopK(scored, "dist", ascending = true, k, dropNull = true)
  }

  /** SQ8 first stage + exact refine: the shortlist is [[sqTopK]]'s ADC
    * top-(k·factor), re-ranked exactly — at SQ8's measured ~0.97
    * shortlist recall this restores (near-)exact top-k order while the
    * corpus scan stays 4× compressed.
    */
  def sqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      mins: Array[Double],
      maxs: Array[Double],
      factor: Int = 4
  ): DataFrame = {
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    rerankExact(
      sqTopK(corpus, queries, idCol, vecCol, k * factor, mins, maxs),
      corpus, queries, idCol, vecCol, k)
  }

  /** IVFPQ first stage + exact refine: candidates from the probed
    * lists' ADC top-(k·factor), re-ranked exactly from raw vectors.
    */
  def ivfPqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16,
      factor: Int = 4
  ): DataFrame = {
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    rerankExact(
      ivfPqTopK(corpus, queries, idCol, vecCol, k * factor, centroids,
        nprobe, codebook, m, numCodes, dsub),
      corpus, queries, idCol, vecCol, k)
  }

  /** Fully-PERSISTED two-stage retrieval: the compressed store answers
    * the shortlist ([[ivfPqTopKFromStore]] at k·factor — (id, codes)
    * partitions pruned to the probed lists) and the raw-vector store
    * ([[writeIvfAssignments]]) answers the exact refine over the SAME
    * probed lists ([[rerankFromStores]]): at a 10k-list production index
    * a 10-query retrieval lists and reads ~40 directories of code bytes
    * plus the same ~40 of raw vectors, never the rest of either store —
    * each store read is [[graft.core.StoreScan]] (probed directories
    * listed on the driver, one footer for the schema, no listing or
    * schema-inference Spark job), and the query side runs once.
    */
  def ivfPqRerankTopKFromStores(
      spark: org.apache.spark.sql.SparkSession,
      pqStorePath: String,
      rawStorePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16,
      factor: Int = 4
  ): DataFrame =
    rerankFromStores(spark, pqStorePath, rawStorePath, queries, idCol,
      vecCol, k, Codec.Pq(codebook, m, numCodes, dsub),
      Coarse.Ivf(centroids, nprobe), factor)

  /** IVF-SQ8 first stage + exact refine — the measured production
    * two-stage configuration: the coarse probe makes the scan sublinear
    * (nprobe/numLists of the corpus), SQ8 keeps the scanned bytes 4×
    * compressed at ~0.97–0.98 shortlist recall (RECALL harness,
    * `ivfsq_nprobe16`), and the exact refine re-orders the top-(k·f)
    * shortlist from raw vectors. See [[rerankExact]] for the measured
    * factor guidance.
    */
  def ivfSqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      mins: Array[Double],
      maxs: Array[Double],
      factor: Int = 4
  ): DataFrame = {
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    rerankExact(
      ivfSqTopK(corpus, queries, idCol, vecCol, k * factor, centroids,
        nprobe, mins, maxs),
      corpus, queries, idCol, vecCol, k)
  }

  /** Fully-PERSISTED IVF-SQ8 two-stage retrieval — the
    * [[ivfPqRerankTopKFromStores]] shape with the SQ8 store as stage
    * one: the compressed store answers the top-(k·factor) shortlist and
    * the raw-vector store ([[writeIvfAssignments]]) answers the exact
    * refine, BOTH scans pruned to the probed lists (every shortlist
    * member came from a probed list). At a 10k-list production index a
    * 10-query retrieval lists and reads ~nprobe·|Q| directories of code
    * bytes plus the same few of raw vectors — never the rest of either
    * store: each read is [[graft.core.StoreScan]] (probed directories
    * listed on the driver, one footer for the schema, no listing or
    * schema-inference Spark job), and the query side runs once.
    */
  def ivfSqRerankTopKFromStores(
      spark: org.apache.spark.sql.SparkSession,
      sqStorePath: String,
      rawStorePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      mins: Array[Double],
      maxs: Array[Double],
      factor: Int = 4
  ): DataFrame =
    rerankFromStores(spark, sqStorePath, rawStorePath, queries, idCol,
      vecCol, k, Codec.Sq8(mins, maxs), Coarse.Ivf(centroids, nprobe),
      factor)

  /** (id, bk) multi-table LSH bucket keys of an embedding table — the
    * STORE layout for incremental embedding dedup: `tables` keys per
    * vector, maintained append-only via [[appendEmbeddingBuckets]], so
    * tomorrow's batch LSH-joins against the corpus without re-hashing
    * it.
    */
  def embeddingBucketKeys(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, tables: Int = 8, dim: Int = 64): DataFrame =
    bucketKeys(df.select(col(idCol).as("id"), col(vecCol).as("v")), "v",
      Seq("id"), planes, tables, dim)

  /** (id, bk) rows of [[embeddingBucketKeys]] — the incremental
    * embedding-dedup store, bucketed on `bk` in the table layout.
    */
  private[graft] def embeddingBucketFamily(planes: Int = 8, tables: Int = 8,
      dim: Int = 64): graft.core.StoreFamily =
    graft.core.StoreFamily("embedding_buckets",
      Map("planes" -> planes, "tables" -> tables, "dim" -> dim),
      "id BIGINT, bk STRING", "bk", (df, id, vec) =>
        embeddingBucketKeys(df, id, vec, planes, tables, dim))

  /** Append a batch's bucket keys to a parquet store — the maintenance
    * half of [[dropNearCorpusEmbeddings]].
    */
  def appendEmbeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
      storePath: String, planes: Int = 8, tables: Int = 8,
      dim: Int = 64): Unit =
    graft.core.KeyStore(embeddingBucketFamily(planes, tables, dim),
      graft.core.StoreLayout.Path(storePath)).append(df, idCol, vecCol)

  /** Read an embedding-bucket store for [[dropNearCorpusEmbeddings]];
    * missing store = empty set (first-run bootstrap), same contract as
    * [[graft.operators.Dedup.readBandKeys]]. The probe's hyperplane
    * params must match the store's sidecar — batch keys hashed under
    * different planes/tables/dim join the store cleanly and match the
    * WRONG buckets, the silent under-match the sidecar refuses.
    */
  def readEmbeddingBuckets(spark: org.apache.spark.sql.SparkSession,
      storePath: String, planes: Int = 8, tables: Int = 8,
      dim: Int = 64): DataFrame =
    graft.core.KeyStore(embeddingBucketFamily(planes, tables, dim),
      graft.core.StoreLayout.Path(storePath)).read(spark)

  /** BUCKETED bucket-key store — the 100 TB shape (see
    * [[graft.operators.Dedup.saveBucketedFingerprints]]): the store join
    * shuffles on `bk`, so a table bucketed on `bk` streams in place
    * every batch; pass `spark.table(table)` as `corpusBuckets`.
    */
  def saveBucketedEmbeddingBuckets(df: DataFrame, idCol: String,
      vecCol: String, table: String, buckets: Int = 256, planes: Int = 8,
      tables: Int = 8, dim: Int = 64): Unit =
    graft.core.KeyStore(embeddingBucketFamily(planes, tables, dim),
      graft.core.StoreLayout.Table(table, buckets)).append(df, idCol, vecCol)

  /** Incremental EMBEDDING near-dup dedup — the semantic twin of
    * [[graft.operators.Dedup.dropNearDuplicatesIncremental]]: dedup a
    * new batch of vectors against an existing corpus without re-hashing
    * it. The corpus participates twice, both times batch- or
    * candidate-bounded:
    *  - `corpusBuckets` — the (id, bk) store. The LSH join broadcasts
    *    the BATCH's bucket keys, so the store streams in place.
    *  - `corpusVecs` — (id, vec), touched ONLY for candidate ids
    *    (semi-join pruned) so the exact-cosine verify reads a
    *    candidate-bounded slice, with the batch vectors broadcast.
    *
    * Keeps batch rows that (a) survive within-batch cosine clustering
    * ([[cosineNearDupPairs]] → components → min-id survivor) and (b) are
    * not within `threshold` cosine of ANY corpus vector.
    */
  def dropNearCorpusEmbeddings(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      corpusBuckets: DataFrame,
      corpusVecs: DataFrame,
      threshold: Double,
      planes: Int = 8,
      tables: Int = 8,
      dim: Int = 64,
      maxBucketDf: Int = 0,
      probes: Int = 1
  ): DataFrame =
    // `probes > 1` multi-probes the STORE join only (the batch probes
    // its smallest-margin flip buckets per table, so the PERSISTED store
    // can run ~probes× fewer tables at equal recall — the store side
    // stays one key per (vector, table) and its plan is unchanged); the
    // within-batch self-join is symmetric and keeps single-probe keys.
    // Hot-bucket cap (default OFF): it bounds the in-batch self-join, the
    // survivors' side of the store join and, independently, the store
    // side — a key hot on either side would otherwise make the candidate
    // join Σ(df_batch × df_corpus) on that key. Recall trade documented
    // at Dedup.capHotKeys.
    embeddingNearDup(lshKeys(planes, tables, dim, maxBucketDf, probes),
      threshold, dim)
      .dropIncremental(batch, idCol, vecCol, corpusBuckets, Some(corpusVecs))

  /** Approximate top-k over random-hyperplane LSH buckets — the
    * [[Codec.Flat]] codec under the [[Coarse.Lsh]] stage: every corpus
    * vector lives in its `planes`-bit bucket, each query probes its own
    * bucket plus, with `probes > 1`, the `probes − 1` buckets reached by
    * flipping its smallest-|margin| sign bits (Lv et al. 2007,
    * "Multi-Probe LSH" — the planes the query sits closest to, i.e. the
    * flips most likely to hold near neighbors lost to quantization).
    * Exact cosine ranks the candidates. Recall is tunable via `planes`
    * (fewer planes = bigger buckets) and `probes` (more candidates with
    * no extra tables or index storage — the standard fix for the
    * single-table recall cliff the RECALL harness measures at 8 planes).
    *
    * Scale shape: the core's — the query side (|queries| × probes rows)
    * is broadcast against the corpus, which is bucketed map-side and
    * never shuffled, so the query set must stay driver-small, as on
    * every core path. Margins are computed on the first `dim` elements
    * the bucketing hashes (over-length queries probe fully); a
    * degenerate query (null / shorter than `dim` / null element) probes
    * only its kernel bucket. See [[probeBuckets]] for the determinism
    * contract.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 6,
      dim: Int = 64,
      probes: Int = 1
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Flat,
      Coarse.Lsh(planes, dim, probes))

  /** Persist the LSH top-k index: (id, v, nrm) partitioned by `bucket` —
    * the [[Coarse.Lsh]] layout of the core's one store write, the
    * hyperplane analog of [[writeIvfAssignments]]. The `_meta` sidecar
    * records (planes, dim); a probe with different values refuses
    * instead of scanning buckets hashed under another geometry.
    */
  def writeLshBuckets(df: DataFrame, idCol: String, vecCol: String,
      storePath: String, planes: Int = 6, dim: Int = 64): Unit =
    writeStore(df, idCol, vecCol, Codec.Flat, Coarse.Lsh(planes, dim, 1),
      storePath)

  /** Probe a stored LSH index: bit-identical to [[lshTopK]] at the same
    * `probes` — vectors and norms round-trip parquet exactly — with the
    * store scan pruned to the probed-bucket union (a literal IN, so
    * pruning reaches the file index, as in [[ivfTopKFromStore]]).
    */
  def lshTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 6,
      dim: Int = 64,
      probes: Int = 1
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k, Codec.Flat,
      Coarse.Lsh(planes, dim, probes))._1

  /** Per-subspace Lloyd (k-means) refinement of a PQ codebook — the
    * training half of Jégou et al. 2011 that [[seedPqCodebooks]]'
    * sampled-data quantizer skips. Each iteration assigns every sample
    * vector's subspace slice to its nearest code (the SAME strict-<
    * L2 argmin [[graft.functions.PqKernels.codes]] encodes with — ties
    * to the lower code) and replaces each non-empty code's centroid
    * with the MEAN of its members (L2 k-means needs the true mean,
    * unlike the spherical [[refineCentroids]] whose cosine objective is
    * scale-invariant). Empty codes keep their previous centroid.
    *
    * Determinism contract, mirroring [[refineCentroids]]: the sample is
    * collected in id order, per-dim member sums fold sequentially in
    * double over that order, and the mean is ONE division sum/count per
    * dim — exactly `list_reduce(list(x ORDER BY id), +) / count(*)` in
    * the DuckDB replay, so the refined codebook is oracle-checkable
    * bit-for-bit. Vectors shorter than m·dsub are skipped (they are
    * unencodable — [[graft.functions.PqKernels.codes]] nulls them).
    *
    * An index-BUILD step over a driver-side sample (PQ training sets
    * are samples in production too — FAISS trains on ~10k–1M vectors
    * regardless of corpus size); the corpus-wide encode stays the
    * map-side kernel. Size the sample to the code count: measured on
    * the test table, 2 iterations over 256 samples IMPROVES an
    * 8-code-per-subspace codebook but DEGRADES a 64-code one
    * (4 samples/code overfits — RECALL_r16); at large `numCodes` use
    * [[refinePqCodebooksDistributed]] over the full corpus instead.
    */
  def refinePqCodebooks(
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16,
      iterations: Int = 2): Array[Double] = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(codebook.length == m * numCodes * dsub,
      s"codebook length ${codebook.length} != m*numCodes*dsub " +
        s"(${m * numCodes * dsub})")
    val vecs = sample.orderBy(col(idCol)).select(col(vecCol)).collect()
      .map(rowVecToDouble).filter(_.length >= m * dsub)
    var cb = codebook.clone()
    var it = 0
    while (it < iterations) {
      val next = cb.clone()
      var sub = 0
      while (sub < m) {
        val sums = Array.fill(numCodes)(new Array[Double](dsub))
        val counts = new Array[Long](numCodes)
        vecs.foreach { v =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var code = 0
          while (code < numCodes) {
            val base = (sub * numCodes + code) * dsub
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val x = v(sub * dsub + i) - cb(base + i)
              d += x * x
              i += 1
            }
            if (d < bestD) { bestD = d; best = code } // tie → lower code
            code += 1
          }
          val s = sums(best)
          var i = 0
          while (i < dsub) { s(i) += v(sub * dsub + i); i += 1 }
          counts(best) += 1
        }
        var code = 0
        while (code < numCodes) {
          if (counts(code) > 0) {
            val base = (sub * numCodes + code) * dsub
            var i = 0
            while (i < dsub) {
              next(base + i) = sums(code)(i) / counts(code)
              i += 1
            }
          }
          code += 1
        }
        sub += 1
      }
      cb = next
      it += 1
    }
    cb
  }

  /** DISTRIBUTED twin of [[refinePqCodebooks]] for full-corpus training:
    * per iteration, ONE pass encodes every vector with the current
    * codebook (the same map-side [[graft.functions.PqCodes]] kernel the
    * index build uses), explodes to (sub, code, slice) and aggregates
    * per-dim sums + counts — map-side partial aggregation collapses each
    * partition to ≤ m·numCodes groups before the shuffle, so the driver
    * collects ≤ m·numCodes rows × (dsub+1) columns per iteration and the
    * corpus never moves. Unencodable vectors contribute nothing (null
    * codes explode to zero rows), matching the driver twin's skip.
    *
    * Same floating-point caveat as [[refineCentroidsDistributed]]:
    * partial sums add in partition order, so refined entries can differ
    * from the sequential driver twin in final ulps — use the driver twin
    * when bit-replay against the oracle matters.
    */
  def refinePqCodebooksDistributed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: Array[Double],
      m: Int = 4,
      numCodes: Int = 8,
      dsub: Int = 16,
      iterations: Int = 2): Array[Double] = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(codebook.length == m * numCodes * dsub,
      s"codebook length ${codebook.length} != m*numCodes*dsub " +
        s"(${m * numCodes * dsub})")
    var cb = codebook.clone()
    var it = 0
    while (it < iterations) {
      val ex = df
        .select(col(vecCol).as("v"),
          graft.functions.PqCodes(col(vecCol), cb, m, numCodes, dsub)
            .as("codes"))
        .select(col("v"), posexplode(col("codes")).as(Seq("sub", "code")))
        .withColumn("s", slice(col("v"), col("sub") * dsub + 1, lit(dsub)))
      val aggs = (0 until dsub).map(i =>
        sum(element_at(col("s"), i + 1).cast("double")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val rows = ex.groupBy("sub", "code").agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = cb.clone()
      rows.foreach { r =>
        val sub = r.getInt(0)
        val code = r.getInt(1)
        if (r.getLong(dsub + 2) > 0) {
          val base = (sub * numCodes + code) * dsub
          var i = 0
          while (i < dsub) {
            next(base + i) = r.getDouble(i + 2) / r.getLong(dsub + 2)
            i += 1
          }
        }
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Matryoshka-style prefix-dimension two-stage (Kusupati et al.
    * 2022, "Matryoshka Representation Learning"): stage one ranks by
    * exact cosine over only the FIRST `prefixDim` elements — for
    * MRL-trained embeddings the leading dims carry most of the signal,
    * so the stage-one scan moves prefixDim/dim of the bytes with no
    * index build, no codebooks, and no training artifacts at all —
    * then the top-(k·factor) shortlist re-ranks by exact full-dim L2²
    * ([[rerankExact]]). The zero-infrastructure member of the
    * two-stage family: where SQ8/PQ/binary compress every dim, this
    * truncates dims, and the two compose (a prefix slice can feed any
    * quantized index).
    *
    * Determinism contract: the prefix stage is [[bruteForceTopK]] over
    * `slice(vec, 1, prefixDim)` — same sequential folds, same
    * (sim DESC, id) tie-break; a vector SHORTER than prefixDim gets a
    * null prefix cosine ([[VecDot]] length contract) and ranks last in
    * DESC order, mirroring the brute path's degenerate handling.
    */
  def prefixRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDim: Int,
      factor: Int = 4
  ): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1: $prefixDim")
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    def sliced(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDim).as(vecCol))
    rerankExact(
      bruteForceTopK(sliced(corpus), sliced(queries), idCol, vecCol,
        k * factor),
      corpus, queries, idCol, vecCol, k)
  }

  /** The COMPOSED two-stage: Matryoshka prefix slice feeding an SQ8
    * first stage — stage one moves prefixDim BYTES per corpus row
    * (truncate × quantize: prefixDim/dim from the slice, a further 4×
    * from the 8-bit codes), the shortlist re-ranks by exact full-dim
    * L2². This is [[prefixRerankTopK]]'s "a prefix slice can feed any
    * quantized index" made concrete: the SQ grid trains on the SLICED
    * corpus (per-dim min/max of the prefix dims only) and the ADC scan
    * is [[sqTopK]] verbatim over the sliced pair, so determinism is the
    * two stages' own contracts composed — nothing new to pin.
    *
    * Measured (RECALL_r18, iid-dim synthetic table = the anti-MRL
    * floor): quantizing the prefix costs 0.02–0.11 recall on top of
    * the truncation floor at matched (d, factor) — e.g. d32/f8
    * recall@50 0.879 raw-prefix vs 0.845 prefix+SQ8, recall@5 0.632 vs
    * 0.520 — while stage one moves d bytes instead of 4·d. On real
    * MRL-trained embeddings (signal concentrated in the prefix) both
    * sit far above this floor.
    */
  def prefixSqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDim: Int,
      factor: Int = 4
  ): DataFrame = {
    val (mins, maxs) = trainSqParams(
      corpus.select(col(idCol), slice(col(vecCol), 1, prefixDim)
        .as(vecCol)), vecCol, prefixDim)
    prefixSqRerankTopK(corpus, queries, idCol, vecCol, k, prefixDim,
      factor, mins, maxs)
  }

  /** Pre-trained-grid overload (mirrors [[sqRerankTopK]]'s shape): the
    * grid is the fit, train it once per prefix dim and reuse across
    * probes/factors — a recall sweep otherwise re-pays the full-corpus
    * training aggregate per (factor, k) combination.
    */
  def prefixSqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDim: Int,
      factor: Int,
      mins: Array[Double],
      maxs: Array[Double]
  ): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1: $prefixDim")
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    require(mins.length == prefixDim && maxs.length == prefixDim,
      s"grid width ${mins.length}/${maxs.length} != prefixDim $prefixDim")
    def sliced(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDim).as(vecCol))
    rerankExact(
      sqTopK(sliced(corpus), sliced(queries), idCol, vecCol, k * factor,
        mins, maxs),
      corpus, queries, idCol, vecCol, k)
  }

  // ------------------------------------------------- binary (1-bit) quantization

  /** Binary (1-bit sign) quantization top-k — the 32× compression point
    * past SQ8 (dim/8 BYTES per vector: 64 dims → two 32-bit words in
    * two longs): corpus and queries quantize to per-dim sign bits
    * ([[Codec.Sign]]), candidates rank by HAMMING distance (popcount of
    * XOR — for sign bits an angle proxy: E[hamming] = dim·θ/π, the
    * Goemans–Williamson/SimHash identity), exact integer arithmetic
    * end-to-end so the oracle replays bit-for-bit. The production
    * deployment is [[binaryRerankTopK]]: Hamming shortlist at k·factor,
    * exact refine from raw vectors — the "binary quantization +
    * rescoring" configuration modern vector stores ship.
    *
    * MEASURED honestly (RECALL_r17, 64-dim synthetic table): Hamming
    * alone 0.257 recall@50, rescored at factor 8 it reaches 0.789@50 —
    * one sign bit per dim on 64 near-random directions is the
    * structural WORST case for BQ (little margin per bit); the regime
    * where it pays is high-dim real embeddings (512–4096 dims), where
    * sign bits retain most of the angle signal at 32× compression.
    * Even here the full Hamming RANKING beats bucket-equality LSH at
    * the same bit budget by an order of magnitude (lsh_planes8
    * 0.016@50) because every corpus row gets a graded score instead of
    * a single-bucket membership test.
    *
    * Scale shape: quantization is map-side (one HyperplaneBits kernel
    * call per row); the corpus streams against the broadcast query
    * bits and is never shuffled; the pair score is two XOR+popcounts —
    * no doubles, no arrays — so the scan is memory-bound on dim/8
    * bytes per row vs 4·dim for raw float32.
    */
  def binaryTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 64
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Sign(dim), Coarse.Scan)

  /** Persist the sign-bit corpus: (id, cb array<long>) at dim/8 bytes
    * of payload per vector — the smallest store in the family. `_meta`
    * records dim; a probe presenting another dim refuses (bits packed
    * under a different prefix length join cleanly and mis-rank).
    */
  def writeSignBits(df: DataFrame, idCol: String, vecCol: String,
      storePath: String, dim: Int = 64): Unit =
    writeStore(df, idCol, vecCol, Codec.Sign(dim), Coarse.Scan,
      storePath)

  /** Probe a stored sign-bit index — bit-identical to [[binaryTopK]]
    * for the same corpus (packed longs round-trip parquet exactly).
    */
  def binaryTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 64
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k,
      Codec.Sign(dim), Coarse.Scan)._1

  /** Binary stage + exact refine — Hamming shortlist at k·factor,
    * re-ranked by exact L2² from raw vectors ([[rerankExact]]): the
    * standard rescoring deployment for 1-bit quantization, where the
    * 32×-compressed scan does candidate generation only. See
    * [[rerankExact]]'s measured factor guidance.
    */
  def binaryRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 64,
      factor: Int = 4
  ): DataFrame = {
    require(factor >= 1, s"refine factor must be >= 1: $factor")
    rerankExact(
      binaryTopK(corpus, queries, idCol, vecCol, k * factor, dim),
      corpus, queries, idCol, vecCol, k)
  }

  /** IVF + binary: coarse-quantizer candidate pruning over sign-bit
    * vectors — [[ivfTopK]]'s sublinearity at [[binaryTopK]]'s 32×
    * compression. Like SQ (and unlike PQ) the quantizer is
    * list-independent, so probing is the IVF join with XOR+popcount
    * fused in; assignment + sign-pack are one map-side projection and
    * only (id, list, two longs) rows move.
    */
  def ivfBinaryTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      dim: Int = 64
  ): DataFrame =
    codecTopK(corpus, queries, idCol, vecCol, k, Codec.Sign(dim),
      Coarse.Ivf(centroids, nprobe))

  /** Persist the IVF-binary index: (id, cb) partitioned by list — the
    * smallest partition-pruned store in the family (two longs per
    * 64-dim vector). `_meta` records the coarse geometry and dim.
    */
  def writeIvfBinary(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String,
      dim: Int = 64): Unit =
    writeStore(df, idCol, vecCol, Codec.Sign(dim), Coarse.Ivf(centroids, 1),
      storePath)

  /** Append one batch's sign-bit rows to an IVF-binary store (the
    * append-only contract of [[writeStore]]).
    */
  def appendIvfBinary(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], storePath: String,
      dim: Int = 64): Unit =
    writeStore(df, idCol, vecCol, Codec.Sign(dim), Coarse.Ivf(centroids, 1),
      storePath, append = true)

  /** Probe a stored IVF-binary index — bit-identical to
    * [[ivfBinaryTopK]], the store scan pruned to the probed-list union.
    */
  def ivfBinaryTopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      dim: Int = 64
  ): DataFrame =
    stageFromStore(spark, storePath, queries, idCol, vecCol, k,
      Codec.Sign(dim), Coarse.Ivf(centroids, nprobe))._1

  /** Fully-PERSISTED binary two-stage retrieval ([[rerankFromStores]]
    * with the sign-bit store as stage one): the smallest stage-one IO in
    * the family; pick `factor` against [[rerankExact]]'s measured binary
    * guidance (Hamming is a coarse proxy — budget a larger factor than
    * SQ needs).
    */
  def ivfBinaryRerankTopKFromStores(
      spark: org.apache.spark.sql.SparkSession,
      binStorePath: String,
      rawStorePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Double]],
      nprobe: Int,
      dim: Int = 64,
      factor: Int = 4
  ): DataFrame =
    rerankFromStores(spark, binStorePath, rawStorePath, queries, idCol,
      vecCol, k, Codec.Sign(dim), Coarse.Ivf(centroids, nprobe), factor)

  // --------------------------------------------- persisted training artifacts

  /** Persist the training artifacts a PROBE needs next to the store —
    * what makes a persisted index self-contained across processes: the
    * probe functions take centroids / codebooks / grid params as
    * literals, and without a persisted copy a separate probing process
    * must re-derive them from the corpus (cheap for seed centroids,
    * NOT cheap for a distributed-Lloyd-trained codebook — and any
    * re-derivation drift refuses at the `_meta` fingerprint instead of
    * silently mis-scoring). Layout: parquet datasets under
    * `storePath/_train/…` — underscore-prefixed, so
    * `spark.read.parquet(storePath)` of a flat store never sees them.
    * Doubles round-trip parquet exactly, so
    * write→[[readCentroids]]/[[readPqCodebook]]/[[readSqTrainParams]]
    * reproduce the same IEEE bits the build used.
    */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      storePath: String, centroids: Seq[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, l) => (l, c.toSeq) }
      .toDF("l", "c")
      .write.mode("overwrite").parquet(s"$storePath/_train/centroids")
  }

  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Seq[Array[Double]] =
    spark.read.parquet(s"$storePath/_train/centroids")
      .orderBy(col("l")).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("c").toArray).toSeq

  def writePqCodebook(spark: org.apache.spark.sql.SparkSession,
      storePath: String, codebook: Array[Double], m: Int, numCodes: Int,
      dsub: Int): Unit = {
    import spark.implicits._
    codebook.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
      .toDF("i", "x")
      .write.mode("overwrite").parquet(s"$storePath/_train/codebook")
    spark.range(1)
      .select(lit(m).as("m"), lit(numCodes).as("num_codes"),
        lit(dsub).as("dsub"))
      .write.mode("overwrite").parquet(s"$storePath/_train/codebook_shape")
  }

  /** (codebook, m, numCodes, dsub) as persisted by [[writePqCodebook]]. */
  def readPqCodebook(spark: org.apache.spark.sql.SparkSession,
      storePath: String): (Array[Double], Int, Int, Int) = {
    val cb = spark.read.parquet(s"$storePath/_train/codebook")
      .orderBy(col("i")).select("x").collect().map(_.getDouble(0))
    val s = spark.read.parquet(s"$storePath/_train/codebook_shape")
      .collect()(0)
    (cb, s.getAs[Int]("m"), s.getAs[Int]("num_codes"), s.getAs[Int]("dsub"))
  }

  def writeSqTrainParams(spark: org.apache.spark.sql.SparkSession,
      storePath: String, mins: Array[Double], maxs: Array[Double]): Unit = {
    import spark.implicits._
    mins.indices.map(i => (i, mins(i), maxs(i)))
      .toDF("i", "mn", "mx")
      .write.mode("overwrite").parquet(s"$storePath/_train/sq_params")
  }

  def readSqTrainParams(spark: org.apache.spark.sql.SparkSession,
      storePath: String): (Array[Double], Array[Double]) = {
    val rows = spark.read.parquet(s"$storePath/_train/sq_params")
      .orderBy(col("i")).collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }
}
