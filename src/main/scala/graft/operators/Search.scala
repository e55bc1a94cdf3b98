package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed full-text retrieval: an inverted index (postings with
  * denormalized length/df) plus BM25 top-k scoring, in-flight or
  * against a persisted, token-bucket-partitioned postings store.
  *
  * A training-data platform needs this for "more-like-this" retrieval
  * (find corpus documents lexically close to a seed set), BM25-based
  * decontamination sweeps, and quality-by-retrieval audits — the
  * lexical complement to the embedding ANN family in
  * [[graft.operators.Similarity]].
  *
  * Cross-engine determinism follows the DSIR idiom
  * ([[graft.operators.Sampling.importanceWeights]]): every per-term
  * contribution is quantized to micro-nats (floor(x·1e6 + 0.5)) so the
  * per-(query, doc) score is an exact BIGINT sum — order-independent
  * under Spark's unordered aggregation, replayable bit-for-bit by a SQL
  * oracle, and tie-broken by doc id without float-formatting hazards.
  *
  * Scale shape (the 100 TB story):
  *  - index build is two narrow shuffles over (doc, token) pairs —
  *    fixed-width keys, never document text;
  *  - the scoring path prunes postings to the query-term set FIRST
  *    (broadcast semi-join — query terms are driver-small by
  *    construction), so everything after the tf aggregate is
  *    O(matched postings), not O(corpus);
  *  - the persisted store partitions postings by a token-hash bucket
  *    and denormalizes doc length and document frequency INTO the
  *    posting row, so a probe reads only the query terms' bucket
  *    partitions (partition pruning + token predicate pushdown) and
  *    never joins a corpus-sized side table;
  *  - top-k per query is a bounded row_number window over the few
  *    surviving (query, doc) groups.
  */
object Search {

  /** BM25 k1: term-frequency saturation. */
  val DefaultK1: Double = 1.2

  /** BM25 b: document-length normalization strength. */
  val DefaultB: Double = 0.75

  /** The shared whitespace tokenization (identical to the DSIR fit and
    * the oracle's `string_split_regex(trim(lower(text)), '\s+')`).
    */
  private def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** (tok, doc_id, tf, len) postings WITHOUT df, fully MAP-SIDE: one
    * [[graft.functions.TokenTfLen]] kernel call per row computes the
    * per-document term frequencies and length inside whole-stage
    * codegen, then one explode of the per-doc slice. The former
    * formulation derived the same rows with two corpus-wide exchanges
    * and a join (explode every token → groupBy(doc, tok) → groupBy(doc)
    * → tf ⋈ dl) — all of it per-DOCUMENT work (every group key held the
    * doc id), i.e. aggregation that never mixed rows of different
    * documents. Tokenless docs vanish at the explode (null `tfs`
    * generates no rows), exactly where the former aggregation had no
    * rows. Zero shuffles at any scale.
    *
    * `len` and `tfs` are extracted in their own projection BELOW the
    * explode (the repetitionNgramSignals rule: non-generator expressions
    * sharing a select with a generator are evaluated once per generated
    * row), and CollapseProject keeps the multi-use non-cheap kernel
    * alias materialized once.
    */
  private def postingsNoDf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TokenTfLen(col(textCol)).as("__k"))
      .select(col("doc_id"), col("__k.len").as("len"),
        col("__k.tfs").as("__tfs"))
      .select(col("doc_id"), col("len"), explode(col("__tfs")).as("__p"))
      .select(col("__p.tok").as("tok"), col("doc_id"), col("__p.tf").as("tf"),
        col("len"))

  /** The inverted index as data: one row per (token, document) with the
    * term frequency, the document's total token count, and the token's
    * document frequency — length and df DENORMALIZED into the posting
    * row so a probe needs no corpus-sized side joins. tf and len are
    * map-side ([[postingsNoDf]]); only the df aggregate and its join
    * shuffle, on fixed-width keys; text never shuffles.
    */
  def bm25Postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p0 = postingsNoDf(docs, idCol, textCol)
    p0.join(p0.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
      .select("tok", "doc_id", "tf", "len", "df")
  }

  /** (n_docs with ≥1 token, Σlen) in ONE cheap map-side pass. A doc's
    * length is its NON-EMPTY token count — plain codegen arithmetic, no
    * per-doc hash maps (the TokenTfLen kernel would rebuild the tf map
    * just to read its length). SQL `split` runs with limit −1, which
    * keeps BOTH the leading empty token (trimmed text starting with
    * non-0x20 whitespace — SQL `trim` strips only spaces) AND the
    * trailing one (text ending in `\n`/`\t`), and `\s+` consumes runs,
    * so empties can ONLY sit at the first and last positions: size
    * minus those two checks counts exactly the non-empty tokens. The
    * `size > 1` guard keeps the single-element `[""]` of empty/
    * whitespace-only text from being subtracted twice. Values align
    * with the TokenTfLen kernel (whose Java one-arg split drops
    * trailing empties) and [[graft.Queries.bm25NDocs]]'s `rlike("\\S")`
    * on every input, trailing whitespace included —
    * SearchCorpusStatsSpec is the differential witness. count(len)
    * skips null text; the `len > 0` guard drops tokenless docs.
    */
  private[graft] def corpusStats(docs: DataFrame, idCol: String,
      textCol: String): (Long, Long) = {
    val r = docs.select(nonEmptyLen(textCol).as("len"))
      .filter(col("len") > 0)
      .agg(count(col("len")).cast("long"),
        coalesce(sum("len"), lit(0L)).cast("long")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The non-empty token count of one document — the single definition
    * of "document length" [[corpusStats]] and the batched
    * [[writeIndexSegments]] stats pass share (a drift between them
    * would skew avgdl between a monolithic and a batched build).
    */
  private def nonEmptyLen(textCol: String): Column = {
    val ts = split(lower(trim(col(textCol))), "\\s+")
    (size(ts) -
      when(element_at(ts, 1) === "", 1).otherwise(0) -
      when(size(ts) > 1 && element_at(ts, -1) === "", 1).otherwise(0))
      .cast("long")
  }

  /** Per-term BM25 contribution in micro-nats. The arithmetic mirrors
    * the oracle SQL token-for-token (same literals, same
    * left-association) so IEEE doubles agree bit-for-bit: idf is the
    * always-positive BM25+ form ln((N − df + 0.5)/(df + 0.5) + 1).
    */
  private def termScore(tf: Column, dfc: Column, len: Column,
      nDocs: Long, avgdl: Double, k1: Double, b: Double): Column = {
    val idf = log(((lit(nDocs) - dfc) + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0))
    val tfn = (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (len / lit(avgdl))))
    floor(idf * tfn * lit(1e6) + lit(0.5)).cast("long")
  }

  /** More-like-this BM25 top-k: score every corpus document against
    * each query document's distinct-token set and keep the `k` best per
    * query (BIGINT micro-nat scores; ties break by neighbor id; the
    * query document itself is excluded). Query terms broadcast — the
    * query side is a seed set, small by construction — so candidate
    * postings prune map-side before any wide work.
    *
    * `maxDf > 0` enables DOCUMENTED-DIVERGENCE stopword pruning: query
    * terms whose corpus document frequency exceeds `maxDf` contribute
    * NOTHING to scores (their postings are dropped before the scoring
    * join). This is the lexical-retrieval scale lever — the probe's
    * work is Σ over query terms of df(term), and a stopword term alone
    * scores nearly EVERY document (df ≈ N), which is why the exact
    * probe's measured scale curve trends super-sub-linear-but-steep;
    * with common terms contributing ~0 idf, dropping them barely moves
    * rankings but removes the dominant Σdf mass. Kept-term scores and
    * corpus stats (N, avgdl, df) are bit-identical to the exact path;
    * 0 (default) = exact.
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = DefaultK1,
      b: Double = DefaultB, maxDf: Long = 0L): DataFrame = {
    // Probe-shaped like the segmented index (r21): postings are
    // map-side ([[postingsNoDf]]) and prune to the QUERY TERMS before
    // any df work — df recomputed over the pruned postings equals the
    // global df of exactly those terms (a term's pruned postings are
    // all its postings), so scores are bit-identical while the former
    // full-vocabulary df aggregate and the corpus-wide tf ⋈ dl ⋈ df
    // join chain disappear. The pruned set persists (CacheScope) for
    // its two consumers; the df-ceiling (maxDf > 0) filters the ≤
    // |query terms| df rows before the broadcast join, so stopword
    // postings drop before scoring exactly as before.
    val qt = queryTerms(queries, idCol, textCol)
    val pruned = graft.core.CacheScope.persist(
      postingsNoDf(corpus, idCol, textCol)
        .join(broadcast(qt.select("tok").distinct()), Seq("tok"), "left_semi"))
    val dfc0 = pruned.groupBy("tok").agg(count(lit(1)).as("df"))
    val dfc = if (maxDf > 0) dfc0.filter(col("df") <= maxDf) else dfc0
    scoreTopK(pruned.join(broadcast(dfc), "tok"), qt,
      corpusStats(corpus, idCol, textCol), k, k1, b)
  }

  /** (query_id, tok) distinct pairs of the query documents. */
  private def queryTerms(queries: DataFrame, idCol: String,
      textCol: String): DataFrame =
    tokens(queries, idCol, textCol)
      .select(col("__doc").as("query_id"), col("tok")).distinct()

  private def scoreTopK(postings: DataFrame, qt: DataFrame,
      stats: (Long, Long), k: Int, k1: Double, b: Double): DataFrame = {
    val (nDocs, totalLen) = stats
    val avgdl = totalLen.toDouble / nDocs.toDouble
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    postings
      .join(broadcast(qt), "tok")
      .filter(col("query_id") =!= col("doc_id"))
      .withColumn("__w", termScore(col("tf"), col("df"), col("len"),
        nDocs, avgdl, k1, b))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum("__w").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  // ------------------------------------------------------- persisted store

  /** Hash bucket a token for store partitioning ([0, buckets)). */
  def tokenBucket(token: Column, buckets: Int): Column =
    Dedup.md5Hash60(token) % buckets

  /** Write the inverted index as a parquet store PARTITIONED BY token
    * bucket, with a one-row `_meta` sidecar carrying the corpus stats
    * the scoring formula needs. Probes then read only the buckets some
    * query term hashes into — on a production index with thousands of
    * buckets, a short query touches a handful of partition directories
    * and never lists the rest.
    */
  def writePostingsStore(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64): Unit = {
    // ONE exchange for the whole build (r21): tf/len are map-side
    // ([[postingsNoDf]]); the bucket repartition both aligns the write
    // with the partition layout (one file per (task, owned bucket) —
    // without it the dynamic-partition write fans out tasks × buckets
    // small files) AND serves the df aggregate and its join: bucket is
    // a function of tok, so grouping/joining on (bucket, tok) over the
    // bucket-partitioned frame satisfies both distributions with zero
    // further shuffles (df per (bucket, tok) ≡ df per tok), and the
    // self-use of `bucketed` reuses the same exchange. df values and
    // row contents are identical to the former 4-exchange chain.
    val bucketed = postingsNoDf(docs, idCol, textCol)
      .withColumn("bucket", tokenBucket(col("tok"), buckets))
      .repartition(col("bucket"))
    val df_ = bucketed.groupBy("bucket", "tok").agg(count(lit(1)).as("df"))
    bucketed.join(df_, Seq("bucket", "tok"))
      .select("tok", "doc_id", "tf", "len", "df", "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$storePath/postings")
    val (nDocs, totalLen) = corpusStats(docs, idCol, textCol)
    docs.sparkSession
      .range(1).select(lit(nDocs).as("n_docs"), lit(totalLen).as("total_len"),
        lit(buckets).as("buckets"))
      .write.mode("overwrite").parquet(s"$storePath/_meta")
  }

  /** BM25 top-k against a persisted postings store. Query terms collect
    * driver-side (distinct tokens of a small seed set — same ceiling as
    * the broadcast in [[bm25TopK]]); their bucket union is inlined as a
    * literal partition filter and the term set as a pushed string
    * predicate, so the scan is O(probed buckets). Scores are
    * bit-identical to the in-flight path: tf/len/df are longs and the
    * token strings round-trip parquet exactly.
    */
  def bm25TopKFromStore(spark: SparkSession, storePath: String,
      queries: DataFrame, idCol: String, textCol: String, k: Int,
      k1: Double = DefaultK1, b: Double = DefaultB,
      maxDf: Long = 0L): DataFrame = {
    val meta = spark.read.parquet(s"$storePath/_meta").collect()(0)
    val (nDocs, totalLen, buckets) =
      (meta.getAs[Long]("n_docs"), meta.getAs[Long]("total_len"),
        meta.getAs[Int]("buckets"))
    val qt = queryTerms(queries, idCol, textCol)
    val terms = qt.select("tok").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val probedBuckets = terms
      .map(t => math.floorMod(MurmurFree.md5Long60(t), buckets.toLong))
      .distinct.sorted
    // df is DENORMALIZED into every store row, so the df-ceiling (see
    // bm25TopK) rides the scan as a pushed long predicate — parquet
    // row groups dominated by a stopword's postings skip on statistics
    // before any scoring work
    val dfPred =
      if (maxDf > 0) col("df") <= maxDf else lit(true)
    val postings = spark.read.parquet(s"$storePath/postings")
      .filter(col("bucket").isInCollection(probedBuckets) &&
        col("tok").isInCollection(terms) && dfPred)
      .select("tok", "doc_id", "tf", "len", "df")
    scoreTopK(postings, qt, (nDocs, totalLen), k, k1, b)
  }
  // ------------------------------------------------- exact phrase match

  /** Exact token-phrase occurrence counts: documents containing
    * `phrase` as a CONSECUTIVE token run, with the number of (possibly
    * overlapping) occurrences. This is the token-level exact-substring
    * primitive — verbatim benchmark-question decontamination and
    * quoted-passage tracing need exact runs, where BM25 sees only a
    * bag of words.
    *
    * Distributed shape (the anchor trick): the phrase ships broadcast
    * as (offset, token) rows; positional postings join it on the token
    * (pruning to phrase-term postings map-side), each hit votes for
    * anchor = pos − offset, and an anchor with all `phrase.length`
    * offsets present is a full occurrence. Shuffle is O(phrase-term
    * postings), never O(corpus), and carries (id, anchor) longs.
    */
  def phraseMatches(corpus: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pt = phrase.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("__i", "tok")
    corpus
      .select(col(idCol).as("doc_id"), posexplode(
        filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= lit("")))
        .as(Seq("pos", "tok")))
      .join(broadcast(pt), "tok")
      .groupBy(col("doc_id"), (col("pos") - col("__i")).as("__anchor"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === phrase.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"))
  }

  /** Verbatim benchmark decontamination: drop corpus documents that
    * contain the leading `phraseLen`-token run of ANY benchmark
    * document verbatim. The n-gram and embedding decontamination
    * sweeps ([[Decontaminate]]) catch paraphrase-level leakage; this
    * is the exact-run complement (a benchmark question quoted verbatim
    * is contamination even when the rest of the page drags the
    * similarity scores down).
    *
    * Same anchor-vote shape as [[phraseMatches]] generalized to many
    * phrases at once: the benchmark side is small by construction, so
    * its (phrase, offset, token) rows broadcast; postings prune to
    * phrase tokens map-side; an anchor with all of a phrase's offsets
    * present marks the document contaminated. One distinct + one
    * broadcast anti-join back to the corpus.
    */
  def verbatimDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      phraseLen: Int = 8): DataFrame = {
    require(phraseLen > 0, s"phraseLen must be positive: $phraseLen")
    val toks = (c: Column) =>
      filter(split(lower(trim(c)), "\\s+"), t => t =!= lit(""))
    val pt = bench
      .select(col(benchIdCol).as("__bid"),
        slice(toks(col(benchTextCol)), 1, phraseLen).as("__p"))
      .filter(size(col("__p")) >= 1)
      .withColumn("__plen", size(col("__p")))
      .select(col("__bid"), col("__plen"),
        posexplode(col("__p")).as(Seq("__i", "tok")))
    val hits = corpus
      .select(col(idCol).as("__doc"),
        posexplode(toks(col(textCol))).as(Seq("__pos", "tok")))
      .join(broadcast(pt), "tok")
      .groupBy(col("__doc"), col("__bid"), col("__plen"),
        (col("__pos") - col("__i")).as("__anchor"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === col("__plen"))
      .select("__doc").distinct()
    // no broadcast pin: the hit set is usually tiny but is NOT bounded
    // by construction (a boilerplate phrase could contaminate the whole
    // corpus) — AQE broadcasts it when it is actually small
    corpus.join(hits, corpus(idCol) === hits("__doc"), "left_anti")
  }

  // ------------------------------------------------- hybrid rank fusion

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR 2009) of any
    * number of ranked retrieval arms — the standard way to combine a
    * lexical (BM25) and a semantic (embedding ANN) ranking without
    * score calibration: each arm contributes 1/(k0 + rank) per
    * (query, neighbor) and the fused ranking orders by the sum.
    *
    * Every arm is a `(query_id, neighbor_id, rank)` frame (extra
    * columns ignored) — exactly what [[bm25TopK]] and
    * [[Similarity.bruteForceTopK]] / the IVF probes emit, so fusion
    * composes with any retrieval pair, in-flight or store-backed.
    *
    * Determinism: the contribution is quantized to
    * floor(1e9 / (k0 + rank)) as an exact BIGINT (rank ≤ a few
    * hundred, so the double division is > 1/rank away from the next
    * integer except when it IS an integer — floor is exact either
    * way), the fused score is an order-independent BIGINT sum, and
    * ties break by neighbor id.
    *
    * Scale shape: each arm is already top-k-bounded per query (≤ arms
    * × k rows per query reach the fusion), so the groupBy shuffles a
    * few dozen fixed-width rows per query — negligible next to the
    * arms themselves. No corpus-sized work happens here.
    */
  def rrfFuse(arms: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one ranked arm")
    val contribs = arms.map(_.select(col("query_id"), col("neighbor_id"),
      floor(lit(1.0e9) / (lit(rrfK).cast("double") + col("rank").cast("double")))
        .cast("long").as("__c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_score").desc, col("neighbor_id"))
    contribs.reduce(_.unionByName(_))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("__c").as("rrf_score"), count(lit(1)).cast("long").as("n_arms"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "rrf_score", "n_arms")
  }

  // ----------------------------------------------- segmented (appendable)

  /** Append one batch as a new immutable SEGMENT of a growing index —
    * the Lucene shape, re-expressed as a single parquet tree
    * partitioned by (segment, bucket) so an append never rewrites or
    * even lists existing data. Document frequency is NOT stored: df is
    * global, so a denormalized copy would go stale on every append;
    * instead the probe recomputes it over the bucket-pruned,
    * term-filtered postings — O(matched postings), not O(index).
    * Corpus stats append as one `_meta` row per segment and sum at
    * probe time. Segments must hold disjoint documents (what the
    * incremental dedupe upstream guarantees); a re-ingested doc would
    * double-count in df and length stats.
    */
  def writeIndexSegment(docs: DataFrame, idCol: String, textCol: String,
      storePath: String, buckets: Int = 64): Unit =
    writeIndexSegments(Seq(docs), idCol, textCol, storePath, buckets)

  /** Append SEVERAL batches as separate immutable segments in ONE
    * postings-write job + ONE stats job + ONE `_meta` append (r22) —
    * the per-batch [[writeIndexSegment]] loop paid 3 write jobs, 3
    * corpus-stats jobs and 3 one-row `_meta` writes for a 3-batch
    * ingest; the postings rows, per-segment `_meta` rows, and every
    * probe answer are IDENTICAL to sequential appends (segments only
    * tag rows — a union of per-segment postings is the same multiset,
    * and the per-batch stats aggregate grouped by batch equals each
    * batch's own aggregate). Batches must hold pairwise-disjoint
    * documents, the same contract the sequential appends carried.
    */
  def writeIndexSegments(batches: Seq[DataFrame], idCol: String,
      textCol: String, storePath: String, buckets: Int = 64): Unit = {
    require(batches.nonEmpty, "writeIndexSegments needs at least one batch")
    val spark = batches.head.sparkSession
    // heal a compaction that crashed mid-flip BEFORE appending: the
    // append writes new `_meta` rows, and appending to a store whose
    // `_meta` is mid-rename would orphan every pre-crash segment
    repairMetaFlip(spark, storePath)
    val segs = batches.map(_ => java.util.UUID.randomUUID().toString)
    // ONE exchange (r21): postings are map-side ([[postingsNoDf]] — a
    // segment stores no df, so nothing corpus-wide remains), and the
    // bucket repartition is the write-alignment shuffle — one file per
    // (task, owned bucket, segment) instead of tasks × buckets.
    batches.zip(segs).map { case (docs, seg) =>
      postingsNoDf(docs, idCol, textCol).withColumn("segment", lit(seg))
    }.reduce(_.unionByName(_))
      .withColumn("bucket", tokenBucket(col("tok"), buckets))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("segment", "bucket")
      .parquet(s"$storePath/postings")
    // per-batch corpus stats in one aggregation job: tag each batch's
    // rows with its index and group — a batch with zero token-bearing
    // docs yields no group row and falls back to (0, 0), exactly what
    // its own empty-input aggregate returned
    val stats = batches.zipWithIndex.map { case (docs, i) =>
      docs.select(lit(i).as("__seg_i"), nonEmptyLen(textCol).as("len"))
    }.reduce(_.unionByName(_))
      .filter(col("len") > 0)
      .groupBy("__seg_i")
      .agg(count(col("len")).cast("long").as("n"),
        coalesce(sum("len"), lit(0L)).cast("long").as("s"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    import spark.implicits._
    segs.zipWithIndex.map { case (seg, i) =>
      val (nDocs, totalLen) = stats.getOrElse(i, (0L, 0L))
      (seg, nDocs, totalLen, buckets)
    }.toDF("segment", "n_docs", "total_len", "buckets")
      .coalesce(1)
      .write.mode("append").parquet(s"$storePath/_meta")
  }

  // ------------------------------------------ crash-safe segment compaction

  private def storeFs(spark: SparkSession, storePath: String) =
    new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Hadoop rename reports most failures by RETURNING FALSE, not
    * throwing (RawLocalFileSystem and object stores especially) — an
    * unchecked flip rename could install a `_meta` pointing at a
    * segment that never moved in, and step 4 would then delete every
    * old segment. Every rename in the compaction protocol goes through
    * this check so a failed step aborts loudly with the store still in
    * a probe-answerable state.
    */
  private def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(
        s"rename failed: $src -> $dst (store left in its pre-step state)")

  /** Segment count through the same crash-tolerant meta view probes
    * use — for callers (the `kind: compact` verb's report) that need
    * the pre-merge count without assuming the live `_meta` survived the
    * previous flip. A store with no meta in ANY slot still fails loudly
    * on the read.
    */
  private[graft] def liveSegmentCount(spark: SparkSession,
      storePath: String): Long =
    spark.read.parquet(segmentMetaPath(spark, storePath)).count()

  /** The readable `_meta` location, tolerating a compaction that died
    * mid-flip: prefer the live `_meta`; with it absent, roll FORWARD to
    * a COMPLETE `_meta_next` (its merged segment was fully renamed in
    * before the flip began — `_SUCCESS` is the completeness witness) or
    * BACK to the preserved `_meta_prev`. Read-only — probes must keep
    * answering without write permission; writers heal the store via
    * [[repairMetaFlip]] instead.
    */
  private def segmentMetaPath(spark: SparkSession, storePath: String): String = {
    val fs = storeFs(spark, storePath)
    if (fs.exists(hp(s"$storePath/_meta"))) s"$storePath/_meta"
    else if (fs.exists(hp(s"$storePath/_meta_next/_SUCCESS")))
      s"$storePath/_meta_next"
    else if (fs.exists(hp(s"$storePath/_meta_prev"))) s"$storePath/_meta_prev"
    else s"$storePath/_meta" // let the read fail with the loud message
  }

  /** Finish (or roll back) a compaction flip that crashed between its
    * renames, then clear flip leftovers. Single-writer maintenance
    * window by contract (same as every store append), so no lock is
    * needed. Idempotent; a healthy store is a few exists() calls.
    */
  private def repairMetaFlip(spark: SparkSession, storePath: String): Unit = {
    val fs = storeFs(spark, storePath)
    val meta = hp(s"$storePath/_meta")
    val next = hp(s"$storePath/_meta_next")
    val prev = hp(s"$storePath/_meta_prev")
    if (!fs.exists(meta)) {
      if (fs.exists(hp(s"$storePath/_meta_next/_SUCCESS")))
        renameOrFail(fs, next, meta) // roll forward: merged view complete
      else if (fs.exists(prev))
        renameOrFail(fs, prev, meta) // roll back: the flip never began
    }
    // leftovers of a completed (or aborted) flip; the orphan merged
    // segment a rolled-back flip leaves behind is invisible to probes
    // (they filter to _meta-listed segments) and is swept by the next
    // successful compaction
    if (fs.exists(meta)) {
      if (fs.exists(prev)) fs.delete(prev, true)
      if (fs.exists(next)) fs.delete(next, true)
    }
  }

  /** Merge ALL segments into one — the Lucene segment-merge. Every
    * micro-batch append adds a `segment=` partition directory, and a
    * probe pays per-segment listing plus per-segment `_meta` rows; a
    * long-running streaming indexer compacts periodically to keep the
    * file tree flat. Per-segment stats collapse into one `_meta` row
    * with the same sums, so probes before and after are identical.
    * Streaming-marker state (`_markers`) is untouched.
    *
    * Crash-safe at every step — probes whose meta read happens AFTER
    * any crash answer (and answer correctly), because they filter
    * postings to the segments their `_meta` view lists:
    *
    *  0. Debris sweep: `_compact_tmp` and any postings segment dir NOT
    *     listed by the live `_meta` (orphans earlier crashes left)
    *     delete first — BEFORE the single-segment early return, so a
    *     rolled-forward crash's merged-away segments don't strand 2×
    *     the postings on disk until `every` more appends accumulate.
    *  1. The merged rewrite lands in a temp tree, then the new segment
    *     directory RENAMES (atomic, checked) under `postings/` — just
    *     another segment dir, invisible to probes (not in `_meta`).
    *  2. The new one-row meta lands COMPLETE at `_meta_next`
    *     (`_SUCCESS`-marked) while the live `_meta` still serves the
    *     old view.
    *  3. The flip: `_meta` → `_meta_prev`, `_meta_next` → `_meta`,
    *     delete `_meta_prev`. Each rename is atomic and CHECKED
    *     ([[renameOrFail]] — Hadoop rename fails by returning false);
    *     a crash between them leaves probes the forward view
    *     ([[segmentMetaPath]]) and the next writer heals the tree
    *     ([[repairMetaFlip]]).
    *  4. Old segment directories (now unreferenced) are NOT deleted
    *     here — they stay on disk until the NEXT compaction's step-0
    *     debris sweep (they are invisible to fresh probes, which
    *     filter to `_meta`-listed segments).
    *
    * Deferred deletion is what closes the concurrent-READER window:
    * compaction runs in the single-WRITER maintenance window, but a
    * probe that snapshotted the PRE-flip `_meta` (or the pre-flip file
    * index) and is still scanning when the flip lands would have failed
    * with FileNotFound — or returned partial results — if step 4
    * deleted eagerly. With deletion deferred a full compaction CYCLE,
    * that probe's files all still exist and it answers bit-identically
    * from the old view; only a reader that holds one view across TWO
    * compactions of the same store can still race the sweep. Cost: the
    * merged-away generation's bytes remain on disk until the next
    * compaction (≤ 2× the store, same transient bound the merge itself
    * needs while rewriting).
    */
  def compactIndexSegments(spark: SparkSession, storePath: String): Unit = {
    repairMetaFlip(spark, storePath)
    val metas = spark.read.parquet(s"$storePath/_meta").collect()
    val liveSegs = metas.map(_.getAs[String]("segment")).toSeq
    val fs = storeFs(spark, storePath)
    val tmp = s"$storePath/_compact_tmp"
    // (0) debris sweep — also on the single-segment path. Minimum
    // retention age: a dir is only reclaimed once it has been debris
    // for [[debrisMinAgeMs]] — step 4 stamps the merged-away dirs'
    // mtime at flip time, so the age measured here is time-since-
    // unreferenced, not time-since-written. This closes the residual
    // reader race the one-cycle deferral left open (a reader holding a
    // single view across TWO rapid compactions of the same store):
    // any reader that snapshotted a meta view keeps its files for at
    // least the retention window, however many compactions land inside
    // it. Crash orphans were never stamped, so their write-time mtime
    // over-ages them and they reclaim on the first sweep past the
    // window — they were never in any meta view, so no reader holds
    // them.
    fs.delete(hp(tmp), true)
    val liveDirs = liveSegs.map(s => s"segment=$s").toSet
    val minAge = debrisMinAgeMs
    val now = System.currentTimeMillis()
    if (fs.exists(hp(s"$storePath/postings")))
      fs.listStatus(hp(s"$storePath/postings"))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("segment=") &&
          !liveDirs(st.getPath.getName) &&
          now - st.getModificationTime >= minAge)
        .foreach(st => fs.delete(st.getPath, true))
    if (metas.length <= 1) return
    val bucketSizes = metas.map(_.getAs[Int]("buckets")).distinct
    require(bucketSizes.length == 1,
      s"segments disagree on bucket count: ${bucketSizes.mkString(",")}")
    val seg = java.util.UUID.randomUUID().toString
    // (1) merged rewrite of the LIVE segments only (an orphan from a
    // crashed flip must not leak back in), renamed-in atomically
    // a store whose segments hold ZERO postings rows (all-empty-text
    // batches) has no segment dirs — and possibly no readable parquet
    // at all (schema inference fails on a _SUCCESS-only dir), so the
    // rewrite is skipped entirely and the merged "segment" is an empty
    // directory; the _meta rows still collapse below
    val hasSegmentDirs = fs.exists(hp(s"$storePath/postings")) &&
      fs.listStatus(hp(s"$storePath/postings")).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("segment="))
    if (hasSegmentDirs) {
      spark.read.parquet(s"$storePath/postings")
        .filter(col("segment").isInCollection(liveSegs))
        .select(col("tok"), col("doc_id"), col("tf"), col("len"), col("bucket"))
        .withColumn("segment", lit(seg))
        // bucket-aligned rewrite (see writePostingsStore): the merge
        // exists to REDUCE file count, so it must not re-fan the
        // merged segment into input-splits × buckets files
        .repartition(col("bucket"))
        .write.partitionBy("segment", "bucket").parquet(s"$tmp/postings")
    }
    if (fs.exists(hp(s"$tmp/postings/segment=$seg")))
      renameOrFail(fs, hp(s"$tmp/postings/segment=$seg"),
        hp(s"$storePath/postings/segment=$seg"))
    else fs.mkdirs(hp(s"$storePath/postings/segment=$seg"))
    // (2) the complete next meta beside the live one
    spark.range(1)
      .select(lit(seg).as("segment"),
        lit(metas.map(_.getAs[Long]("n_docs")).sum).as("n_docs"),
        lit(metas.map(_.getAs[Long]("total_len")).sum).as("total_len"),
        lit(bucketSizes.head).as("buckets"))
      .write.parquet(s"$storePath/_meta_next")
    // (3a) stamp the about-to-be-merged-away dirs' mtime BEFORE the
    // flip, so the sweep's retention clock starts no later than the
    // moment they become unreferenced — a segment written hours ago
    // but merged away this second must still survive the full
    // retention window. Before, not after: a crash BETWEEN the flip
    // and a post-flip stamp would leave the now-unreferenced dirs
    // carrying ancient write-time mtimes, and the next sweep would
    // reclaim them instantly — exactly the reader race the window
    // exists to close; stamping still-LIVE dirs is harmless on the
    // other side (live dirs are never swept), so a crash here merely
    // re-stamps on the retried compaction. Best-effort: an FS without
    // directory mtimes (object stores) falls back to write-time age,
    // which reclaims EARLIER, i.e. degrades toward the pre-retention
    // behavior, never toward stranding files.
    val flipMs = System.currentTimeMillis()
    liveSegs.foreach { s =>
      try fs.setTimes(hp(s"$storePath/postings/segment=$s"), flipMs, -1)
      catch { case _: Exception => () }
    }
    // (3) the flip
    renameOrFail(fs, hp(s"$storePath/_meta"), hp(s"$storePath/_meta_prev"))
    renameOrFail(fs, hp(s"$storePath/_meta_next"), hp(s"$storePath/_meta"))
    fs.delete(hp(s"$storePath/_meta_prev"), true)
    // (4) the merged-away segment dirs stay until a LATER compaction's
    // step-0 debris sweep ages them out: unfenced concurrent readers
    // still scanning the pre-flip view keep their files (see scaladoc);
    // fresh probes never see them (not in _meta)
    fs.delete(hp(tmp), true)
  }

  /** Minimum time (ms) a merged-away or orphaned segment directory must
    * have been debris before [[compactIndexSegments]]' step-0 sweep
    * reclaims it (default 10 min). Same override ladder as
    * [[Dedup.broadcastMaxPairs]]: [[withDebrisRetention]] thread-scoped
    * for in-process callers (specs), `-Dgraft.search.debrisMinAgeMs=N`
    * for launch configuration. 0 restores eager one-cycle reclamation.
    */
  def debrisMinAgeMs: Long =
    debrisOverride.get()
      .orElse(sys.props.get("graft.search.debrisMinAgeMs").map(_.toLong))
      .getOrElse(600000L)

  // plain ThreadLocal, not DynamicVariable — same child-thread
  // inheritance reasoning as Dedup.guardOverride
  private val debrisOverride = new ThreadLocal[Option[Long]] {
    override def initialValue: Option[Long] = None
  }

  /** Run `body` with a thread-scoped debris retention age (ms). */
  def withDebrisRetention[T](ms: Long)(body: => T): T = {
    val prev = debrisOverride.get()
    debrisOverride.set(Some(ms))
    try body finally debrisOverride.set(prev)
  }

  /** BM25 top-k across ALL segments of an appendable index. The scan is
    * still partition-pruned to the query terms' buckets (within every
    * segment partition); corpus stats are the sum of the per-segment
    * `_meta` rows; df comes from a probe-time aggregate over the pruned
    * postings (≤ |terms| result rows, broadcast back). Results are
    * identical to a monolithic index over the same documents.
    */
  def bm25TopKSegmented(spark: SparkSession, storePath: String,
      queries: DataFrame, idCol: String, textCol: String, k: Int,
      k1: Double = DefaultK1, b: Double = DefaultB,
      maxDf: Long = 0L): DataFrame = {
    val metas = spark.read.parquet(segmentMetaPath(spark, storePath))
      .collect()
    require(metas.nonEmpty, s"empty search index at $storePath")
    val bucketSizes = metas.map(_.getAs[Int]("buckets")).distinct
    require(bucketSizes.length == 1,
      s"segments disagree on bucket count: ${bucketSizes.mkString(",")}")
    val buckets = bucketSizes.head
    val nDocs = metas.map(_.getAs[Long]("n_docs")).sum
    val totalLen = metas.map(_.getAs[Long]("total_len")).sum
    // An index whose every segment indexed ZERO documents (all-empty-
    // text batches, or a compaction of such segments) has a postings
    // tree with no parquet files at all — the scan below would die on
    // schema inference with an opaque error while the _meta looks
    // healthy. Answer the probe honestly instead: no documents, no
    // hits. neighbor_id is long by the same contract every store
    // probe's doc ids follow (there are no postings rows to carry the
    // writer's actual id type); score is the BIGINT micro-nat type
    // scoreTopK emits, so a union of probes across stores (or any
    // LongType-expecting consumer) sees ONE schema regardless of
    // store state.
    if (nDocs == 0L) {
      import org.apache.spark.sql.types._
      val qidType = queries.schema(idCol).dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", qidType),
          StructField("neighbor_id", LongType),
          StructField("rank", LongType),
          StructField("score", LongType))))
    }
    // only the segments the meta view lists: a half-merged compaction
    // segment (or an orphan a crashed flip left behind) must not
    // double-count df/stats — `segment` is a partition column, so this
    // prunes directories, it does not scan them
    val liveSegs = metas.map(_.getAs[String]("segment")).toSeq
    val qt = queryTerms(queries, idCol, textCol)
    val terms = qt.select("tok").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val probedBuckets = terms
      .map(t => math.floorMod(MurmurFree.md5Long60(t), buckets.toLong))
      .distinct.sorted
    // pruned feeds both the df aggregate and the scoring join — persist
    // so the store scan runs once (releasable via CacheScope)
    // bucket before segment: both prune partitions, but the rendered
    // PartitionFilters string truncates after ~100 chars and the
    // segment list is UUIDs — bucket-first keeps the pruning visible
    // to plan audits
    val pruned = graft.core.CacheScope.persist(
      spark.read.parquet(s"$storePath/postings")
        .filter(col("bucket").isInCollection(probedBuckets) &&
          col("segment").isInCollection(liveSegs) &&
          col("tok").isInCollection(terms))
        .select("tok", "doc_id", "tf", "len"))
    // segments recompute df at probe time (it can't be denormalized
    // across immutable segments), so the df-ceiling (see bm25TopK)
    // filters the aggregated counts; the broadcast inner join then
    // drops the stopword postings before scoring
    val dfc0 = pruned.groupBy("tok").agg(count(lit(1)).as("df"))
    val dfc = if (maxDf > 0) dfc0.filter(col("df") <= maxDf) else dfc0
    scoreTopK(pruned.join(broadcast(dfc), "tok"), qt,
      (nDocs, totalLen), k, k1, b)
  }
}

/** Driver-side twin of [[Dedup.md5Hash60]]: the same 60-bit md5 prefix
  * computed in plain Scala, so store probes can bucket query terms
  * without a Spark job.
  */
private[operators] object MurmurFree {
  def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }
}
