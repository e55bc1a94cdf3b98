package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hashed TF-IDF document vectors — in-engine sparse embeddings, no
  * external model.
  *
  * The ANN/semantic family ([[Similarity]]) assumes an embedding column
  * already exists; real corpora often have none. Feature-hashed TF-IDF
  * (Weinberger et al. 2009, "Feature Hashing for Large Scale Multitask
  * Learning") is the classical model-free vectorizer: token → one of B
  * hash buckets, weight = tf · idf. Everything here is exact-integer so
  * the correctness gate hash-compares whole rows:
  *
  *  - idf is quantized to MILLI-nats (×1e3, half-up) and embedded as a
  *    dense B-entry literal array indexed by bucket (O(1) per row) —
  *    the fit is B longs, never a join. Milli (not
  *    the micro used for scalar scores) keeps typical products small, and
  *    the [[wCap]] clamp makes the bound UNCONDITIONAL: w ≤ √(Long.Max/B),
  *    so n2 = Σw² and every dot provably fit BIGINT for any document
  *    (see wCap); only dot² (the threshold test) needs 38-digit decimals.
  *  - cosine(a,b) ≥ num/den is tested as den²·dot² ≥ num²·n2a·n2b over
  *    exact integers — no sqrt, no float, engine-identical.
  *
  * Scale shape: fit = one token pass partial-aggregated to ≤ B rows
  * collected driver-side (64 longs, not data) + one row count; score =
  * one explode + ONE narrow (id, bucket) shuffle; candidate pairs reuse
  * the df-capped postings join of [[Dedup.ngramJaccardPairs]] (cost
  * Σ_token df², never all-pairs); verification joins the B-row-bounded
  * vectors, shuffling 24-byte rows keyed by id.
  */
object Tfidf {

  /** Distinct (id, xxhash64(token)) rows, fully MAP-SIDE: one
    * [[graft.functions.DistinctTokenHashes]] kernel call per row
    * dedups the document's tokens in place and hashes them (same
    * tokenizer — lower, trim, split on `\s+`, drop empties; distinct
    * by token STRING, then seed-42 xxhash64). Replaces
    * explode → distinct → xxhash64, whose distinct was a corpus-wide
    * exchange of (id, token-string) rows — per-DOCUMENT work, since
    * the distinct never mixed rows of different documents.
    */
  private def distinctTokenHashes(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.DistinctTokenHashes(col(textCol))).as("t"))

  /** Feature bucket of a token: md5-60 % buckets — the oracle-replayable
    * hash shared with [[Sampling.dsirBucket]].
    */
  def bucketOf(token: Column, buckets: Int): Column =
    Dedup.md5Hash60(token) % buckets

  /** Milli-nat quantization, explicit half-up (round()/Math.round disagree
    * on negative halves; idf here is never negative, but the convention is
    * repo-wide).
    */
  def milliNats(x: Double): Long = math.floor(x * 1e3 + 0.5).toLong

  /** Per-bucket weight ceiling that makes every BIGINT sum in this file
    * provably wrap-free, for ANY document and ANY bucket count:
    * w ≤ wCap(B) = ⌊√(Long.Max / B)⌋, so a document's squared norm
    * Σw² ≤ B·wCap² ≤ Long.Max (at most B buckets per doc), and every
    * dot product Σ w_a·w_b ≤ √(n2_a·n2_b) ≤ Long.Max (Cauchy–Schwarz
    * over non-negative terms — partial/prefix sums are bounded by the
    * total, so map-side partial aggregation can't wrap either). Without
    * the clamp a multi-million-token document (per-bucket tf ~1e5,
    * w ~1e9) pushes Σw² past Long.MaxValue and Spark's non-ANSI sum
    * wraps SILENTLY into negative norms and wrong dedup decisions.
    * Typical weights (tf ≤ 1e3, idf ≤ 3e4 milli-nats) sit ~4 orders of
    * magnitude below the cap, so the clamp only engages on pathological
    * rows — and it engages IDENTICALLY in the DuckDB oracle (the
    * literal is shared, see Queries.tfidfCtesSql).
    */
  def wCap(buckets: Int): Long = {
    // Long.MaxValue.toDouble rounds UP to 2^63, so the double sqrt can
    // land one past the true bound (B = 2 gives exactly 2^31, whose
    // squared sum is 2^63 = Long.Max + 1); verify in exact integers and
    // step down if needed
    var c = math.sqrt(Long.MaxValue.toDouble / buckets).toLong
    while (BigInt(buckets) * BigInt(c) * BigInt(c) > BigInt(Long.MaxValue))
      c -= 1
    c
  }

  /** Sentinel key carrying the UNSEEN-bucket default idf (bucket hashes
    * are ∈ [0, buckets), so −1 never collides). A bucket absent from the
    * fit corpus scores as maximally informative — ln(N+1) − ln(0+1) —
    * instead of zero; without this, a document whose tokens all hash to
    * unfit buckets has a ZERO vector under a frozen fit and can never
    * match anything (two identical out-of-fit documents would score
    * cosine 0, not 1). In-flight fits never hit the default (every
    * scored bucket is in its own fit), so in-flight results are
    * unchanged.
    */
  val UnseenKey: Long = -1L

  /** Fitted idf table: bucket → milli-nat idf = ln(N+1) − ln(df_b+1),
    * df_b = #docs with ≥1 token in bucket b, plus the [[UnseenKey]]
    * default. At most `buckets`+1 entries, computed from two
    * partial-aggregated passes and collected — the fit IS this map, like
    * [[Sampling.importanceRatios]].
    */
  def idfMilli(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): Map[Long, Long] = {
    val n = docs.count()
    // the kernel emits each bucket ONCE per document, so the former
    // (id, bucket) distinct exchange is already done per row — the df
    // count aggregates the exploded rows directly (same values)
    val fitted = docs
      .select(explode(
        graft.functions.TfidfBucketTfs(col(textCol), buckets)).as("__bt"))
      .groupBy(col("__bt.bucket").as("b")).agg(count(lit(1)).as("df"))
      .collect()
      .map { r =>
        val b = r.getLong(0)
        // left-assoc a − b, matching the oracle's ln(N+1) − ln(df+1)
        b -> milliNats(math.log(n + 1.0) - math.log(r.getLong(1) + 1.0))
      }.toMap
    fitted + (UnseenKey -> milliNats(math.log(n + 1.0)))
  }

  private def idfLiteral(idf: Map[Long, Long], buckets: Int,
      b: Column): Column = {
    // Dense constant-array lookup (r21): the former nested-CASE fold
    // evaluated up to `buckets` comparisons per posting row; `bucket`
    // is always in [0, buckets) ([[bucketOf]] / TfidfBucketTfs
    // contract), so a literal array indexed by bucket+1 returns the
    // identical value in O(1) — absent buckets (df = 0 in the fit)
    // carry the UnseenKey default exactly as the CASE's otherwise did.
    // The array materializes exactly `buckets` literals regardless of
    // fit sparsity — B-proportional PLAN size (fine at the repo-wide
    // B = 64; a few thousand is still a few-KB projection). The bound
    // below makes a large-B caller fail loudly instead of silently
    // planning a multi-MB literal array per posting projection.
    require(buckets <= 65536,
      s"idfLiteral materializes one literal per bucket; $buckets buckets " +
        "would blow up the plan - use a broadcast join for large-B fits")
    val default = idf.getOrElse(UnseenKey, 0L)
    val dense = (0L until buckets.toLong).map(bk => idf.getOrElse(bk, default))
    element_at(array(dense.map(lit(_)): _*), (b + lit(1L)).cast("int"))
  }

  /** Sparse hashed TF-IDF vectors: (id, bucket, tf, w) with
    * w = tf · idf_milli(bucket). One explode, zero shuffles; the idf is
    * a dense literal-array lookup, map-side.
    */
  def hashedVectors(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64): DataFrame =
    hashedVectorsWithIdf(docs, idCol, textCol,
      idfMilli(docs, idCol, textCol, buckets), buckets)

  /** Vectorize against a FIXED fit — the fit-once/score-forever split
    * every store here follows (re-fitting per batch lets idf drift with
    * the batch mix, making vectors from different days incomparable).
    */
  def hashedVectorsWithIdf(docs: DataFrame, idCol: String, textCol: String,
      idf: Map[Long, Long], buckets: Int): DataFrame =
    // per-row kernel ([[graft.functions.TfidfBucketTfs]]): the former
    // groupBy(id, bucket) tf count only ever mixed rows of the same
    // document — now map-side, zero shuffles; the idf stays a dense
    // literal-array lookup over the bucket column
    docs.select(col(idCol).as("id"),
        explode(graft.functions.TfidfBucketTfs(col(textCol), buckets))
          .as("__bt"))
      .select(col("id"), col("__bt.bucket").as("bucket"),
        col("__bt.tf").as("tf"))
      // idf clamps BEFORE the multiply so the product itself can't wrap
      // (ANSI overflow) even under an adversarial injected fit:
      // tf ≤ 2^31 (a string column's char bound) and idf ≤ wCap keep
      // tf·idf ≤ 2^31·wCap(1) < Long.Max for every bucket count. Fits
      // from idfMilli sit orders of magnitude below the cap, so the
      // oracle's plain LEAST(tf·idf, cap) replays identical values.
      .withColumn("w",
        least(col("tf") * least(idfLiteral(idf, buckets, col("bucket")),
          lit(wCap(buckets))), lit(wCap(buckets))))

  /** Persist the fit (overwrite: the table IS the fit, ≤ `buckets`
    * rows). Longs round-trip parquet exactly, so stored ≡ in-flight
    * bit-for-bit.
    */
  def saveIdf(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    idfMilli(docs, idCol, textCol, buckets).toSeq.sortBy(_._1)
      .toDF("bucket", "idf").coalesce(1)
      .write.mode("overwrite").parquet(storePath)
  }

  def loadIdf(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Map[Long, Long] =
    spark.read.parquet(storePath).select("bucket", "idf").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Squared L2 norms of the vectors: (id, n2). */
  def squaredNorms(vectors: DataFrame): DataFrame =
    vectors.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))

  /** Cosine near-duplicate pairs over the hashed vectors,
    * cos(a,b) ≥ tauNum/tauDen, exact-integer test.
    *
    * Candidates: docs sharing a token with 2 ≤ df ≤ maxTokenDf — the
    * rare-term blocking of the postings family. RECALL TRADE (same as
    * ngramJaccardPairs): a pair sharing ONLY stop-tokens is never
    * examined; at near-dup thresholds genuine duplicates share rare
    * tokens too. Cost is Σ_token df² ≤ maxTokenDf · Σ df, linear in the
    * corpus for fixed cap.
    */
  def cosinePairs(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64, maxTokenDf: Int = 50,
      tauNum: Int = 4, tauDen: Int = 5): DataFrame = {
    val vecs = hashedVectors(docs, idCol, textCol, buckets)
    cosinePairsWithIdf(distinctTokenHashes(docs, idCol, textCol), vecs,
      squaredNorms(vecs), maxTokenDf, tauNum, tauDen)
  }

  /** [[cosinePairs]] over prebuilt (id, t) token hashes, (id, bucket, w)
    * vectors and (id, n2) norms — the incremental path passes its
    * persisted batch tables, vectorized under the STORE's frozen fit, so
    * batch and corpus vectors live in the same space.
    */
  private def cosinePairsWithIdf(toks: DataFrame, vecs: DataFrame,
      n2: DataFrame, maxTokenDf: Int, tauNum: Int, tauDen: Int): DataFrame = {
    // Hot tokens (df > cap) are removed via broadcast ANTI-join — the hot
    // set is small BY DEFINITION (each member needs > maxTokenDf docs),
    // so the broadcast is bounded at any corpus size. The inverse —
    // broadcasting the KEPT set — is df-capped per key but NOT in
    // cardinality: at 100 TB the kept set is most of the vocabulary,
    // far past any broadcast ceiling (same reasoning as
    // [[Dedup.ngramJaccardPairs]]' stop-shingle cap). df = 1 tokens stay
    // in the postings and are harmless: a singleton token joins only
    // with itself and id_a < id_b yields no pair.
    val hot = toks.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxTokenDf)
      .select("t")
    val posted = toks.join(broadcast(hot), Seq("t"), "left_anti")
    val cands = posted.select(col("t"), col("id").as("id_a"))
      .join(posted.select(col("t"), col("id").as("id_b")), Seq("t"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val dots = cands
      .join(vecs.select(col("id").as("id_a"), col("bucket"), col("w").as("w_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("bucket"), col("w").as("w_b")), Seq("id_b", "bucket"))
      .groupBy("id_a", "id_b").agg(sum(col("w_a") * col("w_b")).as("dot"))
    dots
      .join(n2.select(col("id").as("id_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(n2.select(col("id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
      .filter(cosineAtLeast(col("dot"), col("n2_a"), col("n2_b"), tauNum, tauDen))
      .select("id_a", "id_b", "dot", "n2_a", "n2_b")
  }

  /** cos ≥ num/den as the exact-integer predicate
    * den²·dot² ≥ num²·n2a·n2b (dot > 0), in 38-digit decimals — no
    * sqrt, no floats, engine-identical.
    */
  private def cosineAtLeast(dot: Column, n2a: Column, n2b: Column,
      tauNum: Int, tauDen: Int): Column = {
    val dec = DecimalType(38, 0)
    dot > 0 &&
      lit(tauDen.toLong * tauDen) * dot.cast(dec) * dot.cast(dec) >=
        lit(tauNum.toLong * tauNum) * n2a.cast(dec) * n2b.cast(dec)
  }

  // ------------------------------------------------------------ incremental

  private def metaParams(buckets: Int, maxTokenDf: Int): Map[String, Any] =
    Map("buckets" -> buckets, "maxTokenDf" -> maxTokenDf)

  /** Persist the corpus as a TF-IDF dedup store: the frozen idf fit
    * (`/idf`), the corpus vectors with denormalized norms (`/vectors`:
    * id, bucket, w, n2 — 32-byte rows), and the df-capped rare-token
    * postings (`/postings`: t, id — the candidate index; tokens with
    * corpus df > `maxTokenDf` are excluded AT WRITE, so a boilerplate
    * token can never fan a future batch join out). Completes the
    * incremental-store matrix alongside the fingerprint / band-key /
    * simhash / embedding-bucket stores.
    */
  def saveStore(corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64, maxTokenDf: Int = 50): Unit = {
    // a (re)save IS the new fit: the sidecar is overwritten with this
    // call's params; appends and probes then must match them
    graft.core.StoreMeta.overwrite(corpus.sparkSession, storePath,
      "tfidf", metaParams(buckets, maxTokenDf))
    saveIdf(corpus, idCol, textCol, s"$storePath/idf", buckets)
    val idf = loadIdf(corpus.sparkSession, s"$storePath/idf")
    val vec = hashedVectorsWithIdf(corpus, idCol, textCol, idf, buckets)
    vec.join(squaredNorms(vec), "id")
      .write.mode("overwrite").parquet(s"$storePath/vectors")
    val toks = distinctTokenHashes(corpus, idCol, textCol)
    // df cap applied by ANTI-joining the (small-by-definition) hot set —
    // never by broadcasting the vocabulary-scale kept set (see
    // cosinePairsWithIdf)
    val hot = toks.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxTokenDf).select("t")
    toks.join(broadcast(hot), Seq("t"), "left_anti").select("t", "id")
      .write.mode("overwrite").parquet(s"$storePath/postings")
  }

  /** Append landed rows to an existing store under its FROZEN fit — the
    * maintenance half of the incremental loop (vectors + postings;
    * the idf table is untouched: the fit is frozen, not drifting with
    * appends). The postings df-cap is applied batch-locally on append —
    * a token under the cap in every append can exceed it in the union,
    * growing candidate fan-out until a compaction (re-[[saveStore]] over
    * the full corpus) restores the invariant, the same recompute-on-
    * compaction contract as the segmented BM25 index's df.
    */
  def appendToStore(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64, maxTokenDf: Int = 50): Unit = {
    graft.core.StoreMeta.writeOrRequire(batch.sparkSession, storePath,
      "tfidf", metaParams(buckets, maxTokenDf))
    val idf = loadIdf(batch.sparkSession, s"$storePath/idf")
    val vec = hashedVectorsWithIdf(batch, idCol, textCol, idf, buckets)
    vec.join(squaredNorms(vec), "id")
      .write.mode("append").parquet(s"$storePath/vectors")
    val toks = distinctTokenHashes(batch, idCol, textCol)
    val hot = toks.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxTokenDf).select("t")
    toks.join(broadcast(hot), Seq("t"), "left_anti").select("t", "id")
      .write.mode("append").parquet(s"$storePath/postings")
  }

  /** Incremental TF-IDF near-dup dedup: drop batch docs whose cosine
    * (under the STORE's frozen fit) reaches `tauNum/tauDen` against any
    * corpus vector, and collapse within-batch clusters to their min-id
    * survivor — the model-free twin of
    * [[Dedup.dropNearDuplicatesIncremental]] /
    * [[Similarity.dropNearCorpusEmbeddings]].
    *
    * Scale shape: the corpus participates ONLY through its store —
    * postings join keyed by the 8-byte token hash (corpus side df-capped
    * at write; `maxBatchTokenDf` > 0 additionally caps the batch side
    * for two-sided hot-key safety), vector join candidate-bounded; the
    * corpus text is never re-read.
    */
  def dropNearCorpusTfidf(batch: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64, maxTokenDf: Int = 50,
      tauNum: Int = 4, tauDen: Int = 5,
      maxBatchTokenDf: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    // scoring under the wrong fit params silently mis-scores every pair
    // (a 128-bucket probe of a 64-bucket store still joins, the hashes
    // just disagree) — the sidecar refuses it loudly. Pass the STORE's
    // params; the within-batch phase shares them by design.
    graft.core.StoreMeta.requireIfPresent(spark, storePath,
      "tfidf", metaParams(buckets, maxTokenDf))
    val idf = loadIdf(spark, s"$storePath/idf")
    val cVec = spark.read.parquet(s"$storePath/vectors")
    val postings = spark.read.parquet(s"$storePath/postings")

    // ONE tokenize pass and ONE vectorize pass, shared by the store join
    // AND the within-batch pair search (a per-phase recompute measured
    // ~4× the batch-side work at sf0.1)
    val bToks = graft.core.CacheScope.persist(
      distinctTokenHashes(batch, idCol, textCol))
    val bVec = graft.core.CacheScope.persist(
      hashedVectorsWithIdf(batch, idCol, textCol, idf, buckets))
    val bN2 = graft.core.CacheScope.persist(squaredNorms(bVec))

    val bTokCapped =
      if (maxBatchTokenDf <= 0) bToks
      else {
        val hot = bToks.groupBy("t").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxBatchTokenDf).select("t")
        bToks.join(broadcast(hot), Seq("t"), "left_anti")
      }
    val cands = bTokCapped.withColumnRenamed("id", "id_b")
      .join(postings.withColumnRenamed("id", "id_c"), Seq("t"))
      .select("id_b", "id_c").distinct()
    val dots = cands
      .join(bVec.select(col("id").as("id_b"), col("bucket"), col("w").as("w_b")), Seq("id_b"))
      .join(cVec.select(col("id").as("id_c"), col("bucket"), col("w").as("w_c")),
        Seq("id_c", "bucket"))
      .groupBy("id_b", "id_c").agg(sum(col("w_b") * col("w_c")).as("dot"))
    val hits = graft.core.CacheScope.persist(dots
      .join(bN2.select(col("id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
      .join(cVec.select(col("id").as("id_c"), col("n2").as("n2_c")).distinct(),
        Seq("id_c"))
      .filter(cosineAtLeast(col("dot"), col("n2_b"), col("n2_c"), tauNum, tauDen))
      .select(col("id_b").as(idCol)).distinct())

    // within-batch pairs over the SAME persisted toks/vecs/norms
    val withinSurvivors = Dedup.dropClusterLosers(batch, idCol, Dedup.PairSet(
      cosinePairsWithIdf(bToks, bVec, bN2, maxTokenDf, tauNum, tauDen)
        .select("id_a", "id_b")))
    withinSurvivors.join(Dedup.pin(hits, Dedup.guardCount(hits)),
      Seq(idCol), "left_anti")
  }

  /** Near-duplicate REMOVAL over the TF-IDF cosine pairs: transitive
    * clusters collapse to their min-id survivor — the model-free twin of
    * [[Dedup.dropNearDuplicates]] (MinHash) and
    * [[Similarity.dropNearDuplicateEmbeddings]] (embeddings) for corpora
    * that have neither shingle budgets nor an embedding column. Shares
    * the size-adaptive connected-components + loser anti-join tail, so
    * the 100 TB fallbacks (distributed CC, shuffle anti-join past the
    * broadcast ceiling) come for free.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64, maxTokenDf: Int = 50,
      tauNum: Int = 4, tauDen: Int = 5): DataFrame = {
    val pairs = cosinePairs(df, idCol, textCol, buckets, maxTokenDf,
      tauNum, tauDen).select("id_a", "id_b")
    Dedup.dropClusterLosers(df, idCol, Dedup.PairSet(pairs))
  }
}
