package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, KeyStore, StoreFamily, StoreLayout}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (fingerprint groupBy), MinHash+LSH (banded), SimHash (chunked),
  * and blocked n-gram Jaccard.
  *
  * Everything is built from `org.apache.spark.sql.functions` higher-order
  * array expressions — no UDFs, so the whole family stays inside
  * whole-stage codegen and scales linearly with executors. The only
  * shuffles are (a) groupBy/self-join on compact hash keys (16-byte
  * fingerprints / 8-byte band hashes), never on raw document text, and
  * (b) the candidate-verify joins, whose left side is the candidate-pair
  * set (tiny relative to the corpus).
  *
  * Nearest reference analog: none — the reference has no dedup operator
  * (SURVEY.md §2.6); this is the BASELINE scale-extension surface.
  */
object Dedup {

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** 60-bit hash from the first 15 hex digits of md5 — slower than
    * xxhash64 but exactly replayable in ANSI/DuckDB SQL as
    * `('0x' || substring(md5(x), 1, 15))::BIGINT`, which lets oracle
    * checks cover hash-dependent operators end-to-end.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles, joined with single spaces. Documents
    * shorter than `n` tokens yield an empty array. Native codegen'd
    * kernel ([[graft.functions.TextShingles]]) — the equivalent
    * transform/slice/array_join HOF formulation is interpreted per
    * shingle and dominated every shingling pipeline's runtime.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.TextShingles(text, n)

  /** 16-byte content fingerprint over whitespace-normalized lowercase text
    * (the compact exact-dedup key — grouping by this instead of the raw
    * text keeps the shuffle payload fixed-width at 100 TB).
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Exact dedup: keep the lowest-id row per distinct (normalized) text.
    * One shuffle on the 16-byte fingerprint; md5 collisions are
    * cryptographically negligible.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the daily-increment shape: dedup a new
    * batch against an EXISTING corpus represented only by its stored
    * fingerprints, never rescanned. Keeps batch rows that (a) are the
    * lowest-id copy of their text within the batch and (b) whose
    * fingerprint is absent from the corpus store.
    *
    * Scale shape: the 100 TB corpus participates as 16-byte fingerprints
    * only (a fraction of a percent of corpus bytes, maintained
    * append-only as batches land); the in-batch window and the left-anti
    * join both shuffle on that fixed-width key, and both shuffles are
    * sized by the BATCH, not the corpus — the anti-join's corpus side
    * streams its narrow fingerprint column.
    */
  def dropDuplicatesIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusFingerprints: DataFrame): DataFrame = {
    val inBatch = dropExactDuplicates(batch, idCol, textCol)
    val fpName = corpusFingerprints.columns.head
    inBatch.join(
      corpusFingerprints.select(col(fpName).as("__cfp")),
      fingerprint(col(textCol)) === col("__cfp"),
      "left_anti")
  }

  /** The fingerprint normalization convention id, recorded in every
    * fingerprint store's params sidecar: a store written under a
    * DIFFERENT normalization (e.g. case-preserving) would join cleanly
    * and match nothing — the sidecar makes that a loud refusal instead.
    * Bump the id if [[fingerprint]]'s normalization ever changes.
    */
  val FingerprintNorm = "lower:ws-collapse:trim:md5"

  /** (fp) rows of [[fingerprint]] — the incremental exact-dedup store. */
  private[graft] def fingerprintFamily: StoreFamily =
    StoreFamily("fingerprint", Map("norm" -> FingerprintNorm), "fp STRING",
      "fp", (df, _, text) => df.select(fingerprint(col(text)).as("fp")))

  /** Append a batch's fingerprints to a parquet store — the maintenance
    * half of [[dropDuplicatesIncremental]]: run it on the rows that
    * actually landed, and tomorrow's batch dedups against them without
    * ever rereading today's text.
    */
  def appendFingerprints(df: DataFrame, textCol: String,
      storePath: String): Unit =
    KeyStore(fingerprintFamily, StoreLayout.Path(storePath))
      .append(df, idCol = "", srcCol = textCol)

  /** Read a fingerprint store; a MISSING store is an empty set (first run
    * bootstraps). Only path-not-found is treated as bootstrap — a
    * transient FS failure, permission error, or corrupt store must FAIL
    * the job, because silently returning an empty store disables
    * incremental dedup and commits duplicates against the corpus.
    */
  def readFingerprints(spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame =
    KeyStore(fingerprintFamily, StoreLayout.Path(storePath)).read(spark)

  /** Read a BUCKETED fingerprint table ([[saveBucketedFingerprints]]);
    * a missing table is an empty set — the same first-run bootstrap
    * contract as [[readFingerprints]], guarded against a stale
    * warehouse directory left by another process (see [[KeyStore]]).
    */
  def readBucketedFingerprints(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame =
    KeyStore(fingerprintFamily, StoreLayout.Table(table)).read(spark)

  /** BUCKETED fingerprint store — the 100 TB shape of the incremental
    * store. The per-batch check is a left-ANTI join whose corpus side
    * cannot be broadcast (it is the big side by definition) and whose
    * batch side Spark cannot build against (anti builds right), so with
    * a plain parquet store the corpus fingerprint column is re-SHUFFLED
    * on every batch. `bucketBy(fp)` + `saveAsTable` stores the corpus
    * pre-partitioned on the join key: the batch-vs-store join then reads
    * the store with ZERO Exchange — only the batch shuffles, into the
    * bucket count — and appends stay bucket-aligned, so the store is
    * never rewritten. Pass `spark.table(table)` as the
    * `corpusFingerprints` of [[dropDuplicatesIncremental]]; the
    * exchange elimination is automatic (BucketedStoreSpec pins it).
    */
  def saveBucketedFingerprints(df: DataFrame, textCol: String,
      table: String, buckets: Int = 256): Unit =
    KeyStore(fingerprintFamily, StoreLayout.Table(table, buckets))
      .append(df, idCol = "", srcCol = textCol)

  /** Bucketed (id, band-key) store for [[dropNearDuplicatesIncremental]]
    * — same reasoning as [[saveBucketedFingerprints]]: the LSH join
    * shuffles on `bk`, so a store bucketed on `bk` streams in place
    * while only the batch band keys move.
    */
  def saveBucketedBandKeys(df: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 256, shingleN: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4): Unit =
    KeyStore(bandKeyFamily(shingleN, bands, rowsPerBand),
      StoreLayout.Table(table, buckets)).append(df, idCol, textCol)

  // ----------------------------------------------------------- Bloom sketch

  /** Serialized Bloom filter over a fingerprint store's `fp` column —
    * the SKETCH shape of the incremental membership check, for the
    * common regime where almost every batch row is NEW: the sketch
    * (numBits/8 bytes, independent of corpus size) answers "definitely
    * not in the corpus" map-side with zero store I/O per batch row, so
    * the store is only consulted for the bloom-POSITIVE sliver. Built
    * with Catalyst's `BloomFilterAggregate` (partial-aggregated,
    * mergeable — one narrow pass over the store, the same machinery
    * AQE's runtime row-filtering uses), keyed by `xxhash64(fp)`.
    *
    * `expectedItems`/`fpp` size the sketch; both ends of the pipeline
    * (store sketch and [[mergeFingerprintBloom]]-maintained increments)
    * must use the SAME sizing or the merge throws
    * `IncompatibleMergeException`. An empty store yields a valid empty
    * sketch (first-run bootstrap, matching [[readFingerprints]]).
    */
  def buildFingerprintBloom(corpusFingerprints: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val fpName = corpusFingerprints.columns.head
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = GraftExpressionBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(GraftExpressionBridge.expression(col(fpName)))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val row = corpusFingerprints.select(agg).head()
    if (row.isNullAt(0)) { // aggregate over zero rows → null, not empty
      val out = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter
        .create(expectedItems, numBits).writeTo(out)
      out.toByteArray
    } else row.getAs[Array[Byte]](0)
  }

  /** Merge two sketches built with the same sizing — the store-append
    * twin for the bloom path: sketch today's committed batch with
    * [[buildFingerprintBloom]] and fold it into the persisted corpus
    * sketch instead of rebuilding over the whole store.
    */
  def mergeFingerprintBloom(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter.readFrom(a)
    fa.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(b))
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** `fp might be in sketch` as a codegen'd Column (Catalyst
    * `BloomFilterMightContain` over the same `xxhash64(fp)` key the
    * sketch was built with; the sketch rides along as a binary literal,
    * shipped once per task like the ANN centroid literals).
    */
  private def bloomMightContain(sketch: Array[Byte], fp: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    GraftExpressionBridge.column(new BloomFilterMightContain(
      Literal(sketch, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(GraftExpressionBridge.expression(fp)))))
  }

  /** Read the sketch sidecar of a fingerprint store (`_bloom` inside
    * the store directory — underscore-prefixed like _SUCCESS, so
    * parquet readers never see it; Hadoop FS so object-store paths
    * work). None = no sidecar yet (bootstrap: build from the store).
    */
  def readBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(storePath, "_bloom")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        Some(out.toByteArray)
      } finally in.close()
    }
  }

  /** Overwrite the store's sketch sidecar (post-commit maintenance —
    * the sketch twin of [[appendFingerprints]]).
    */
  def writeBloomSidecar(spark: org.apache.spark.sql.SparkSession,
      storePath: String, sketch: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath, "_bloom")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(sketch) finally out.close()
  }

  /** Fold a landed batch into the store's sketch sidecar (run after its
    * fingerprints were appended): merge the batch's sketch into the
    * existing sidecar, or — no sidecar yet — build one from the full
    * store, which already holds the batch (bloom insertion is
    * idempotent, so that is harmless).
    */
  private[graft] def appendFingerprintBloom(batch: DataFrame, textCol: String,
      storePath: String, expectedItems: Long, fpp: Double): Unit = {
    val spark = batch.sparkSession
    val batchSketch = buildFingerprintBloom(
      batch.select(fingerprint(col(textCol)).as("fp")), expectedItems, fpp)
    val merged = readBloomSidecar(spark, storePath) match {
      case Some(s) => mergeFingerprintBloom(s, batchSketch)
      case None => buildFingerprintBloom(
        readFingerprints(spark, storePath), expectedItems, fpp)
    }
    writeBloomSidecar(spark, storePath, merged)
  }

  /** Bloom-prefiltered incremental exact dedup — result is EXACTLY
    * [[dropDuplicatesIncremental]] (the sketch is only a prefilter;
    * false positives are removed by an exact check), but the corpus
    * store is touched only for the bloom-positive sliver of the batch:
    *
    *  1. bloom-NEGATIVE rows pass map-side — zero store I/O, zero
    *     shuffle (the sketch literal evaluates inside the scan stage);
    *  2. the store streams ONCE against the broadcast candidate
    *     fingerprints (left-semi, no store-side Exchange) to find which
    *     candidates are real corpus hits;
    *  3. candidates anti-join the (small) hit set.
    *
    * vs the plain path, which anti-joins the FULL batch against the
    * FULL store every run. At 100 TB-corpus / mostly-new-batch the
    * sketch turns the dominant cost (store join) into a broadcast of
    * |candidates| keys. Candidate-set size is guard-counted: a
    * dup-catastrophic batch (candidates ≈ batch) falls back to
    * unhinted joins instead of a driver-killing broadcast.
    */
  def dropDuplicatesIncrementalBloom(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusFingerprints: DataFrame,
      sketch: Array[Byte]): DataFrame = {
    val inBatch = dropExactDuplicates(batch, idCol, textCol)
      .withColumn("__fp", fingerprint(col(textCol)))
    val might = bloomMightContain(sketch, col("__fp"))
    val clean = inBatch.filter(!might)
    val cands = CacheScope.persist(inBatch.filter(might))
    val nCands = guardCount(cands)
    val fpName = corpusFingerprints.columns.head
    val hits = corpusFingerprints.select(col(fpName).as("__fp"))
      .join(pin(cands.select("__fp").distinct(), nCands), Seq("__fp"),
        "left_semi")
    // unionByName: the USING-style anti-join moved __fp to the front of
    // `kept`, and positional union would splice text into the id column
    val kept = cands.join(pin(hits, nCands), Seq("__fp"), "left_anti")
    clean.unionByName(kept).drop("__fp")
  }

  // ------------------------------------------------------------- MinHash-LSH

  /** Row-wise MinHash signature (array<bigint> of length k) — for callers
    * that need the signature as a column. NOTE: higher-order lambdas are
    * interpreted; the pipeline below uses the equivalent (same seeding:
    * xxhash64(xxhash64(shingle), i)) explode+HashAggregate formulation,
    * which stays in whole-stage codegen.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => xxhash64(xxhash64(s), i))))

  /** Candidate recall of a (bands, rowsPerBand) LSH plan at Jaccard j:
    * 1 − (1 − j^r)^b.
    */
  def lshRecall(bands: Int, rowsPerBand: Int, j: Double): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** Pick (bands, rowsPerBand) for a signature budget and a target
    * Jaccard threshold: among factorizations b×r ≤ `signatureLen`
    * using the whole budget where possible, choose the plan whose
    * s-curve midpoint (1/b)^(1/r) sits closest to `threshold` — the
    * standard MMDS §3.4 tuning. Exact-verify keeps precision at 1.0
    * whatever the choice, so this trades only candidate volume
    * (bands too many → spurious candidates; rows too many → misses).
    * Driver-side arithmetic; feed the result to
    * [[minhashNearDupPairs]] / the band-key stores. Note a store is
    * bound to the plan that wrote it — re-planning means re-keying.
    */
  def lshBandPlan(signatureLen: Int, threshold: Double): (Int, Int) = {
    require(signatureLen >= 1, s"signatureLen must be >= 1: $signatureLen")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1): $threshold")
    val plans = for {
      r <- 1 to signatureLen
      b = signatureLen / r
      if b >= 1
    } yield (b, r)
    plans.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }

  /** (id, sh) shingle table — the shared first stage of every minhash
    * pipeline.
    */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (id, bk) banded minhash keys from a shingle table — one
    * [[graft.functions.MinhashBands]] kernel call per document (the
    * signature is a map-side projection; no explode into a k-column min
    * aggregate, no shuffle until the band-key join). The kernel replays
    * the exact XxHash64 seed chains of the aggregate formulation it
    * replaced, so keys match any previously-written band-key store
    * bit-for-bit (pinned by DedupSpec).
    */
  private def bandKeysFromShingles(sh: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sh.select(col("id"),
      explode(graft.functions.MinhashBands(col("sh"), bands, rowsPerBand))
        .as("bk"))

  /** (id, bk) banded minhash keys of a corpus — the STORE representation
    * for incremental near-dup dedup: `bands` 8-byte keys per document,
    * maintained append-only as batches land, so tomorrow's batch LSH-joins
    * against the corpus without ever re-shingling it.
    */
  def minhashBandKeys(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bandKeysFromShingles(shingleTable(df, idCol, textCol, shingleN),
      bands, rowsPerBand)

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Stages: shingle → minhash(k = bands×rowsPerBand) → explode band keys
    * (shuffle on the 8-byte band hash) → bucket-local self-join for
    * candidates → distinct pairs → exact Jaccard verify → threshold.
    * Never an all-pairs comparison; the physical plan contains no
    * CartesianProduct. Candidate recall at similarity j is
    * 1 − (1 − j^rowsPerBand)^bands — the 16×4 default gives
    * 1 − 3.8e-8 at j = 0.9 (and the exact-Jaccard verify keeps
    * precision at 1.0 regardless). The generated aggregate has k min
    * columns; k beyond ~128 mostly buys janino compile time.
    *
    * Caching: intermediate frames are persisted through
    * [[graft.core.CacheScope]] because they feed multiple downstream
    * joins. Wrap build + terminal action in `CacheScope.scoped { ... }`
    * (JobRunner does this per job) and every intermediate is released
    * when the block exits; bare callers can `CacheScope.releaseAll()`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9,
      maxBandDf: Int = 0
  ): DataFrame =
    minhash(shingleN, bands, rowsPerBand, threshold, maxBandDf)
      .pairsOf(df, idCol, textCol).pairs

  /** The MinHash family of the near-dup core: (id, sh) shingle tables,
    * band keys, exact Jaccard over distinct shingles.
    *
    * Its pairs take one of two paths. DRIVER path, for a table whose
    * (id, shingles, band keys) rows fit the guards' `nearDupDriverBytes`:
    * one map-only gather ([[gatherBands]]) brings every row to the
    * driver, which pairs the rows that share a band key, verifies exact
    * Jaccard and returns the pairs as a local relation, with the
    * candidate count as the [[PairSet]] bound and the rows themselves
    * for the cluster tail. One Spark job in all: no guard count, no
    * band-key join, no verify joins.
    *
    * DISTRIBUTED path otherwise — a task past its share of the budget,
    * more candidates than `driverMaxPairs`, `driverMaxPairs = 0` (how
    * ScaleFallbackSpec forces the 100 TB plans), or an id type with no
    * driver ordering: the core's band-key self-join and exact-Jaccard
    * verify joins, the plans the driver path reproduces row for row.
    */
  private[operators] def minhash(shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBandDf: Int): NearDup =
    NearDup((df, id, text) => shingleTable(df, id, text, shingleN),
      Keys(bandKeysFromShingles(_, bands, rowsPerBand), bands, maxBandDf),
      Verify(Seq("sh"), "jaccard", (a, b) =>
        size(array_intersect(a("sh"), b("sh"))).cast("double") /
          size(array_union(a("sh"), b("sh"))).cast("double"),
        _ >= threshold),
      driver = t => for {
        ord <- driverOrdering(t.schema("id").dataType)
        maxPairs = guards.driverMaxPairs
        if maxPairs > 0
        rows <- gatherBands(t, bands, rowsPerBand)
        pairs <- driverPairSet(t, rows, ord, threshold, maxBandDf, maxPairs)
      } yield pairs)

  /** Every (id, sh, bk) row of a shingle table on the driver, or None
    * when the table is too big for it. ONE Dataset action: each of the P
    * tasks returns its rows while their size stays within the guards'
    * `nearDupDriverBytes` / P, and one overflow marker (a null `sh`;
    * a shingle table has none) once it passes that. The action scans the
    * table's input, so a persisted input is filled here, as the guard
    * count filled it on the distributed path.
    */
  private def gatherBands(table: DataFrame, bands: Int,
      rowsPerBand: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val budget = guards.nearDupDriverBytes
    if (budget < 0) return None
    val in = table.select(col("id"), col("sh"),
      graft.functions.MinhashBands(col("sh"), bands, rowsPerBand).as("bk"))
    val rows = in.mapPartitions { it =>
      val cap = budget / org.apache.spark.TaskContext.get().numPartitions()
      val kept = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      var bytes = 0L
      while (it.hasNext && bytes <= cap) {
        val r = it.next()
        bytes += gatheredBytes(r)
        kept += r
      }
      if (bytes > cap) Iterator.single(org.apache.spark.sql.Row(null, null, null))
      else kept.iterator
    }(org.apache.spark.sql.Encoders.row(org.apache.spark.sql.types.StructType(
      in.schema.fields.map(_.copy(nullable = true))))).collect()
    if (rows.exists(_.isNullAt(1))) None else Some(rows)
  }

  /** Size of a gathered (id, sh, bk) row in Spark's binary row format,
    * counting a byte per shingle character: fixed slots, then each
    * shingle's offset word and its 8-byte-padded characters, then the
    * band keys.
    */
  private[graft] def gatheredBytes(r: org.apache.spark.sql.Row): Long = {
    var b = 64L + 8L * r.getSeq[Any](2).length
    r.getSeq[String](1).foreach(s => b += 8L + ((s.length + 7) & ~7))
    b
  }

  /** The distributed path's pairs, computed on the driver from gathered
    * (id, sh, bk) rows, or None past `maxPairs` candidates:
    *  - candidates: the pairs of rows sharing a band key, after
    *    [[capHotKeys]]' rule (a key of more than `maxBandDf` rows pairs
    *    nothing when `maxBandDf > 0`), as (id_a, id_b) with
    *    `id_a < id_b` under `ord` (Spark's order of the id type; null
    *    ids pair with nothing), distinct;
    *  - verify: for each candidate, every row of `id_a` against every
    *    row of `id_b` (the verify joins' multiplicity when ids repeat),
    *    `|A∩B| / |A∪B|` over distinct shingles — `array_intersect` /
    *    `array_union` set semantics — as a double division, kept
    *    at `>= threshold`.
    * The pairs frame has the distributed frame's schema; the candidate
    * count is the bound, as on that path.
    */
  private def driverPairSet(table: DataFrame,
      rows: Array[org.apache.spark.sql.Row], ord: Ordering[Any],
      threshold: Double, maxBandDf: Int, maxPairs: Long): Option[PairSet] = {
    import scala.jdk.CollectionConverters._
    val byKey = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    rows.indices.foreach(i => rows(i).getSeq[Long](2).foreach(k =>
      byKey.computeIfAbsent(k, _ => scala.collection.mutable.ArrayBuffer[Int]()) += i))
    val cands = new java.util.HashSet[(Any, Any)]()
    val it = byKey.values().iterator()
    while (it.hasNext && cands.size <= maxPairs) {
      val members = it.next()
      if (maxBandDf <= 0 || members.length <= maxBandDf) {
        var x = 0
        while (x < members.length && cands.size <= maxPairs) {
          val a = rows(members(x)).get(0)
          var y = x + 1
          while (a != null && y < members.length) {
            val b = rows(members(y)).get(0)
            if (b != null) {
              if (ord.lt(a, b)) cands.add((a, b))
              else if (ord.lt(b, a)) cands.add((b, a))
            }
            y += 1
          }
          x += 1
        }
      }
    }
    if (cands.size > maxPairs) return None
    val rowsOf = rows.indices.filter(i => !rows(i).isNullAt(0))
      .groupBy(i => rows(i).get(0))
    val sets = new java.util.HashMap[Int, java.util.HashSet[String]]()
    def shingles(i: Int): java.util.HashSet[String] = sets.computeIfAbsent(i,
      _ => new java.util.HashSet[String](rows(i).getSeq[String](1).asJava))
    val verified = cands.asScala.toSeq.sortWith { case ((a1, b1), (a2, b2)) =>
      ord.lt(a1, a2) || (a1 == a2 && ord.lt(b1, b2)) }.flatMap { case (a, b) =>
      for {
        i <- rowsOf(a)
        j <- rowsOf(b)
        (sa, sb) = (shingles(i), shingles(j))
        inter = sb.asScala.count(sa.contains)
        jaccard = inter.toDouble / (sa.size + sb.size - inter).toDouble
        if jaccard >= threshold
      } yield org.apache.spark.sql.Row(a, b, jaccard)
    }
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val id = table.schema("id")
    val schema = StructType(Seq(id.copy(name = "id_a"), id.copy(name = "id_b"),
      StructField("jaccard", DoubleType)))
    val local = verified.toArray
    Some(PairSet(table.sparkSession.createDataFrame(
      java.util.Arrays.asList(local: _*), schema),
      Some(cands.size.toLong), Some(local)))
  }

  /** Drop LSH keys shared by more than `maxDf` documents — the bucket
    * twin of [[ngramJaccardPairs]]' stop-shingle cap: a band/chunk key
    * with df = d yields d² candidate pairs before the distinct, so one
    * boilerplate bucket at df = 10⁵ would emit 10¹⁰ rows. Hot keys are
    * found with a partial-aggregated count (one narrow row per distinct
    * key) and removed by broadcast anti-join (hot keys are few by
    * definition). RECALL TRADE, documented: a true near-dup pair whose
    * EVERY shared bucket is hot is lost; genuine near-dups share many
    * independent buckets, so at sane thresholds (≥ ~1000) the loss is
    * boilerplate, not signal. `maxDf ≤ 0` disables (the default, and the
    * oracle-checked configuration).
    */
  private[operators] def capHotKeys(keyed: DataFrame, keyCol: String,
      maxDf: Int): DataFrame =
    if (maxDf <= 0) keyed
    else {
      val hot = keyed.groupBy(col(keyCol))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(keyCol)
      keyed.join(broadcast(hot), Seq(keyCol), "left_anti")
    }

  // ------------------------------------------------------- near-dup core

  /** The thresholds of every near-dup guard, one record per thread:
    *  - `broadcastMaxPairs`: a candidate, verify or hit join pins a side
    *    for broadcast only when its measured row bound is at or below
    *    this; above it the join runs unhinted (sort-merge), because the
    *    second verify hop ships O(|pairs| × payload) and a
    *    dup-catastrophic corpus — the regime the distributed CC path
    *    exists for — can push that past Spark's 8 GB broadcast ceiling
    *    and driver memory.
    *  - `broadcastMaxVecBytes`: a VECTOR payload is also pinned only
    *    when its estimated bytes fit. The row guard alone is byte-blind:
    *    a guard-passing 4M-row batch is ~2 GB at dim 64 but ~131 GB at
    *    dim 4096, so the byte gate (`rows × (dim + 2) × 8`, see
    *    [[vecBroadcastBytes]]) routes high-dim batches to the fallback
    *    shape. Default 2 GiB: both verify hops may broadcast the table,
    *    so the worst case stays under the 8 GB ceiling.
    *  - `driverMaxPairs`: [[connectedComponents]]' driver union-find
    *    ceiling, and the MinHash driver path's candidate ceiling.
    *  - `nearDupDriverBytes`: MinHash tables whose gathered rows take at
    *    most this many bytes are paired on the driver (see [[minhash]]).
    *  - `losersBroadcastMax`: the cluster tail's loser / component pin
    *    ceiling; None follows `broadcastMaxPairs`.
    *
    * Zero thresholds (−1 for the gather budget) force each guard's
    * 100 TB fallback plan on small data — how ScaleFallbackSpec and the
    * `*_forced` bench entries exercise it. No config key or system
    * property sets them: only [[withGuards]], on the calling thread.
    */
  final case class Guards(
      broadcastMaxPairs: Long = 4000000L,
      broadcastMaxVecBytes: Long = 2L * 1024 * 1024 * 1024,
      driverMaxPairs: Long = 4000000L,
      nearDupDriverBytes: Long = NearDupDriverBytes,
      losersBroadcastMax: Option[Long] = None) {
    def losersMax: Long = losersBroadcastMax.getOrElse(broadcastMaxPairs)
  }

  /** The default gather budget of the MinHash driver path. Below it one
    * gather job and driver work cost less than the band-key join, the
    * guard count and the verify joins; SCALE.md has the measured
    * crossover.
    */
  val NearDupDriverBytes: Long = 64L * 1024 * 1024

  // Plain ThreadLocal, NOT scala.util.DynamicVariable: DynamicVariable
  // is backed by InheritableThreadLocal, so any thread SPAWNED while an
  // override was active (e.g. a lazily-created Spark driver pool
  // thread) would snapshot it and keep it for the thread's lifetime —
  // withValue only restores the calling thread. Nothing here needs
  // child-thread inheritance: the thresholds are read during plan
  // construction and guard counts, both on the calling thread.
  private val guardRecord = ThreadLocal.withInitial[Guards](() => Guards())

  /** The guards in force on this thread. */
  def guards: Guards = guardRecord.get()

  /** Run `body` with this thread's guards changed by `f`, e.g.
    * `withGuards(_.copy(broadcastMaxPairs = 0L))`. Safe while other jobs
    * run in the same session (BatchRunner runs jobs on a thread pool):
    * only the calling thread sees the change, and threads it spawns do
    * not inherit it.
    */
  def withGuards[T](f: Guards => Guards)(body: => T): T = {
    val prev = guardRecord.get()
    guardRecord.set(f(prev))
    try body finally guardRecord.set(prev)
  }

  /** Estimated hashed-relation bytes for `rows` vectors of `dim`
    * elements plus id + norm (8 B/element is deliberately conservative
    * for float32 payloads — it absorbs per-row object/offset overhead).
    */
  private[operators] def vecBroadcastBytes(rows: Long, dim: Int): Long =
    rows * (dim.toLong + 2L) * 8L

  /** Whether a side of at most `rows` rows and `bytes` estimated bytes
    * passes the broadcast guards.
    */
  private def fits(rows: Long, bytes: Long): Boolean = {
    val g = guards
    rows <= g.broadcastMaxPairs && bytes <= g.broadcastMaxVecBytes
  }

  /** The one broadcast decision of the near-dup joins: pin `df` when its
    * measured row bound (and, for a vector payload, its byte estimate)
    * [[fits]]; otherwise leave the join to the planner.
    */
  private[operators] def pin(df: DataFrame, rows: Long,
      bytes: Long = 0L): DataFrame =
    if (fits(rows, bytes)) broadcast(df) else df

  /** Broadcast-pin guard count. Deliberately a FULL `count()` even
    * though the pin decision only needs `n <= bound`: every call site
    * counts a frame it has just persisted and is about to feed into
    * multiple joins, so the scan doubles as the cache materialization —
    * a truncated count saves nothing (RDD block construction computes
    * whole partitions regardless of how much of the iterator a consumer
    * drains), and `count()` over an `InMemoryRelation` is answered from
    * per-batch row counts without per-row iteration. An early-exit
    * `toRdd.mapPartitions` variant was benchmarked and lost ~2× on the
    * incremental-dedup family at sf0.1 for exactly these reasons. What
    * DOES bound the per-batch action overhead is count REUSE: each
    * near-dup plan runs ONE guard count per shared input and derives
    * every dependent pin decision from it. The same reuse reaches the
    * cluster tail: the verify's candidate count is handed on as the
    * [[PairSet]] bound, so [[dropClusterLosers]] picks its driver path
    * from it instead of counting the verified pairs and then the losers.
    */
  private[graft] def guardCount(df: DataFrame): Long =
    df.count()

  /** A near-dup pair set (`id_a`, `id_b`, …) plus, when its producer ran
    * one, the candidate guard count: the verified pairs are a filtered
    * subset of those distinct candidates (ids are keys), so the count
    * bounds them and the cluster tail decides driver vs distributed
    * without counting the pairs again. `bound = None`: the tail
    * guard-counts the pairs itself. `rows`: the pairs themselves, when
    * the driver built them ([[driverPairSet]]) — the cluster tail reads
    * them instead of collecting the frame.
    */
  private[operators] final case class PairSet(pairs: DataFrame,
      bound: Option[Long] = None,
      rows: Option[Array[org.apache.spark.sql.Row]] = None)

  /** The key half of a near-dup family: `of` maps a family table to
    * (id, bk) candidate keys; two rows sharing a key are a candidate
    * pair. Keys with more than `maxDf` rows are dropped first
    * ([[capHotKeys]]; 0 = off). `probe` keys the batch side of a store
    * check when it differs from `of` (multi-probe), at most `perRow`
    * keys per row — the bound the batch-key pin multiplies the row
    * count by.
    */
  private[operators] final case class Keys(of: DataFrame => DataFrame,
      perRow: Int, maxDf: Int = 0,
      probe: Option[DataFrame => DataFrame] = None)

  /** The verify half: a pair's `score` is `measure` over the `payload`
    * columns of both rows (`a(c)` / `b(c)` read column `c` of each side),
    * and the pair is kept where `keep(score)` holds. `rowBytes` > 0
    * marks a VECTOR payload of that many estimated bytes per row; see
    * [[NearDup.joined]] for the two join shapes.
    */
  private[operators] final case class Verify(payload: Seq[String],
      score: String, measure: (String => Column, String => Column) => Column,
      keep: Column => Column, rowBytes: Long = 0L)

  /** One near-dup family — MinHash, SimHash, embedding buckets or
    * SemDeDup clusters — on the shared candidate → verify → store-check
    * plan. `table` turns (id, source) rows into the family table
    * (id, payload…); `driver` is the family's driver path, tried before
    * the joins (MinHash only).
    *
    * Every broadcast of the plan goes through [[pin]], sized by ONE
    * guard count per shared input: the distinct candidates (self pairs
    * and store candidates alike), the batch table for the batch-key pin
    * and a vector batch's byte gate.
    */
  private[operators] final case class NearDup(
      table: (DataFrame, String, String) => DataFrame,
      keys: Keys, verify: Verify,
      driver: DataFrame => Option[PairSet] = _ => None) {
    import verify._

    def pairsOf(df: DataFrame, idCol: String, srcCol: String): PairSet =
      pairs(table(df, idCol, srcCol))

    /** Verified pairs (`id_a` < `id_b`, score) within a family table:
      * the driver path if it answers, else the key self-join — one
      * shuffle on the compact key, never an all-pairs comparison — and
      * the verify joins. The raw key table is persisted (the self-join
      * reads it twice, and [[capHotKeys]] reads its input twice too).
      *
      * A VECTOR payload picks its verify shape by the table's size:
      *  - the whole table [[fits]] the pins (incremental BATCHES, up to
      *    ~4M vectors): FUSED verify. The vector table broadcasts into
      *    both lookup hops, so candidates are verified AS THE KEY JOIN
      *    EMITS them and the distinct runs AFTER the threshold filter,
      *    on the near-dup pairs themselves, never on the candidate
      *    multiset — which at recall-aggressive configs (few planes,
      *    many tables) is a large fraction of all pairs and was
      *    measured as the 4.02× at-10×-data outlier in r18's
      *    BENCH_SCALE. Duplicate verification is bounded by ×tables,
      *    and equal cosines collapse bit-exactly. This branch has no
      *    candidate count, so its pairs carry no bound.
      *  - otherwise (whole-corpus self-dedup at 100 TB): the narrow
      *    shape below, with the table first pruned to the candidate ids
      *    (one broadcast semi-join stream) and persisted.
      * The size decision counts `t` UNPERSISTED when the caller did not
      * persist it: persisting first would write a whole corpus to cache
      * just to learn it is the whole-corpus regime; a parquet-backed
      * count is footer-cheap, and the incremental callers pass a
      * batch-bounded, persisted table.
      */
    def pairs(t: DataFrame): PairSet = driver(t).getOrElse {
      val raw = CacheScope.persist(
        Similarity.obsCount(keys.of(t), "graft.neardup.batch_bucket_rows"))
      val keyed =
        if (keys.maxDf <= 0) raw
        else CacheScope.persist(capHotKeys(raw, "bk", keys.maxDf))
      val cands = Similarity.obsCount(keyed.as("x")
        .join(keyed.as("y"),
          col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b")),
        "graft.neardup.candidate_pairs")
      lazy val nRows = guardCount(t)
      if (rowBytes > 0 && fits(nRows, nRows * rowBytes)) {
        val vecs = CacheScope.persist(t)
        PairSet(Similarity.obsCount(joined(cands, nRows, vecs, nRows,
          Some(vecs), nRows), "graft.neardup.verified_pairs").distinct())
      } else {
        val cp = CacheScope.persist(cands.distinct())
        val n = guardCount(cp)
        val side =
          if (rowBytes == 0) t
          else CacheScope.persist(t.join(pin(cp.select(col("id_a").as("id"))
            .union(cp.select(col("id_b").as("id"))).distinct(), n),
            Seq("id"), "left_semi"))
        // a pruned side holds at most min(2·pairs, |t|) rows
        lazy val bound = math.min(2L * n, nRows)
        PairSet(Similarity.obsCount(joined(cp, n, side, bound, Some(side),
          bound), "graft.neardup.verified_pairs"), Some(n))
      }
    }

    /** Verified pairs of batch rows against a store: `st` is the batch's
      * family table (persisted, `n` rows), `storeKeys`' first two columns
      * the store id and key, whatever their names. The batch's keys are
      * pinned for broadcast when
      * `n × perRow` is within the guard, so the store streams in place
      * (a store bucketed on its key reads with no Exchange when the pin
      * drops); the distinct (batch id, store id) candidates are
      * guard-counted once. `storeDocs`: the store's (`idCol`, `srcCol`)
      * documents, read ONLY for candidate ids (a semi-join pushed down to
      * the scan) and turned into the store side's table; None: the store
      * id is its own payload (a stored simhash).
      */
    def pairsAgainst(st: DataFrame, n: Long, storeKeys: DataFrame,
        storeDocs: Option[DataFrame], idCol: String,
        srcCol: String): PairSet = {
      val bk = capHotKeys(keys.probe.getOrElse(keys.of)(st), "bk", keys.maxDf)
      val c = storeKeys.columns
      val sk = storeKeys.select(col(c(0)).as("cid"), col(c(1)).as("cbk"))
      val cands = CacheScope.persist(Similarity.obsCount(
        capHotKeys(sk, "cbk", keys.maxDf)
          .join(pin(bk, n * keys.perRow), col("bk") === col("cbk"))
          .select(col("id").as("id_a"), col("cid").as("id_b"))
          .distinct(), "graft.neardup.store_candidates"))
      val nC = guardCount(cands)
      val docs = storeDocs.map(d => table(d.join(pin(cands
        .select(col("id_b").as(idCol)).distinct(), nC), Seq(idCol), "left_semi"),
        idCol, srcCol))
      PairSet(joined(cands, nC, st, n, docs, nC), Some(nC))
    }

    /** Incremental near-dup removal: keep the batch rows that survive
      * in-batch clustering ([[pairs]] → [[dropClusterLosers]], min-id
      * survivor per transitive cluster) and are within the threshold of
      * NO store row ([[pairsAgainst]] on the survivors' slice of the
      * ONE persisted batch table — an id semi-join, not a second pass of
      * the family's hashing).
      */
    def dropIncremental(batch: DataFrame, idCol: String, srcCol: String,
        storeKeys: DataFrame, storeDocs: Option[DataFrame]): DataFrame = {
      val t = CacheScope.persist(table(batch, idCol, srcCol))
      val survivors = CacheScope.persist(
        dropClusterLosers(batch, idCol, pairs(t)))
      val st = CacheScope.persist(
        t.join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi"))
      val against = pairsAgainst(st, guardCount(st), storeKeys, storeDocs,
        idCol, srcCol)
      val hits = Similarity.obsCount(against.pairs
        .select(col("id_a").as(idCol)).distinct(), "graft.neardup.store_hits")
      survivors.join(pin(hits, against.bound.get), Seq(idCol), "left_anti")
    }

    /** Verify joins of candidate pairs (`id_a`, `id_b`; `n` of them) with
      * side `a`'s table on `id_a` and side `b`'s on `id_b` (None: `id_b`
      * is its own payload), kept where the score passes. Two shapes,
      * both broadcast-pinned explicitly under the guards, so a stats
      * misprediction at 100 TB cannot fall back to shuffling every
      * payload in the corpus to verify a few thousand candidates:
      *  - NARROW payloads (shingle arrays, hashes): the candidate side
      *    is pinned into the first hop and the candidates with a's
      *    payload into the second; the tables stream in place.
      *    Broadcast payload is O(|pairs|) for the first hop and
      *    O(|pairs| × payload) for the second — candidate-bounded.
      *  - VECTOR payloads: each table side is pinned (row guard on the
      *    candidates, byte gate on `aRows` / `bRows` vectors) and the
      *    candidates stream through both hops.
      */
    private def joined(cands: DataFrame, n: Long, a: DataFrame,
        aRows: => Long, b: Option[DataFrame], bRows: => Long): DataFrame = {
      def side(t: DataFrame, s: String): DataFrame = t.select(
        col("id").as(s"id_$s") +: payload.map(c => col(c).as(s"${c}_$s")): _*)
      val both =
        if (rowBytes == 0) {
          val withA = side(a, "a").join(pin(cands, n), "id_a")
          b.fold(payload.foldLeft(withA)(
            (d, c) => d.withColumn(s"${c}_b", col("id_b"))))(
            t => side(t, "b").join(pin(withA, n), "id_b"))
        } else cands
          .join(pin(side(a, "a"), n, aRows * rowBytes), "id_a")
          .join(pin(side(b.get, "b"), n, bRows * rowBytes), "id_b")
      both.withColumn(score, measure(c => col(s"${c}_a"), c => col(s"${c}_b")))
        .filter(keep(col(score)))
        .select("id_a", "id_b", score)
    }
  }

  /** Connected components over a near-dup pair set. Returns
    * (id, component = min id of the cluster).
    *
    * SIZE-ADAPTIVE: the pair set is the output of a thresholded verify —
    * in a typical curation run it is thousands-to-millions of rows while
    * the corpus is billions. Below `driverMaxPairs` (default 4M ≈ 64 MB
    * of id pairs) the edges are collected and clustered with a driver
    * union-find (path compression + union-by-min): O(E α(E)), zero
    * Spark rounds. This is the same candidate-bounded reasoning as the
    * broadcast verify joins — the graph is small BY CONSTRUCTION, and a
    * 10-round distributed loop over it is pure scheduling overhead.
    * This public entry has no producer bound, so it persists the pairs
    * and guard-counts them once to choose; the removal tails
    * ([[dropClusterLosers]]) take the bound from the pair producer.
    *
    * Above the threshold (dup-catastrophic corpora), min-label
    * propagation with pointer jumping: every node adopts the smallest of
    * its own label, its neighbors' labels, and its label's label (path
    * halving) — O(log diameter) join rounds. Iteration hygiene (the part
    * that matters at scale): each round's labels go through
    * [[graft.core.CacheScope.checkpoint]] to truncate the logical plan —
    * without it Catalyst replans an ever-deeper tree every round and
    * planning time, not data volume, becomes the bottleneck past ~15
    * iterations. Superseded rounds are unpersisted as soon as the next
    * round materializes (a 20-round run over a big corpus would
    * otherwise hold 20 label tables in cache); the convergence check is
    * an `isEmpty` probe of the just-materialized round (a `take(1)`, no
    * codegen'd limit, so no new class per round).
    *
    * Both paths produce the identical min-label result; the driver path
    * requires an orderable id type (long/int/short/string) and falls
    * through to the distributed loop otherwise. "Min" is Spark's order of
    * the id type on both paths ([[driverOrdering]]: strings by UTF-8
    * bytes), so a cluster keeps the same root either way. The removal
    * tails also take pairs the driver built itself ([[minhash]]'s
    * driver path) without collecting them.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
      driverMaxPairs: Long = guards.driverMaxPairs): DataFrame =
    clusters(PairSet(pairs), maxIterations, driverMaxPairs) match {
      case Left(roots) => componentFrame(pairs, roots)
      case Right(comps) => comps
    }

  /** The size-adaptive choice behind every cluster tail: `Left` = the
    * driver union-find's id → component map, `Right` = the distributed
    * (id, component) frame. A producer bound ≤ `driverMaxPairs` goes
    * straight to ONE collect of the unpersisted pairs; otherwise the
    * pairs are persisted and guard-counted once, and that count picks
    * the path.
    */
  private def clusters(pairs: PairSet, maxIterations: Int = 20,
      driverMaxPairs: Long = guards.driverMaxPairs): Either[java.util.HashMap[Any, Any], DataFrame] = {
    val ids = pairs.pairs.select(col("id_a"), col("id_b"))
    val ord = driverOrdering(ids.schema("id_a").dataType)
    ord match {
      case Some(o) if pairs.bound.exists(_ <= driverMaxPairs) =>
        Left(unionFind(pairs.rows.getOrElse(ids.collect()), o))
      case _ =>
        // one scope-released materialization; both paths reuse it
        val pe = CacheScope.persist(ids)
        ord match {
          case Some(o) if guardCount(pe) <= driverMaxPairs =>
            Left(unionFind(pe.collect(), o))
          case _ => Right(distributedComponents(pe, maxIterations))
        }
    }
  }

  /** Min-label propagation with pointer jumping over persisted
    * (id_a, id_b) edges — see [[connectedComponents]].
    */
  private def distributedComponents(pe: DataFrame,
      maxIterations: Int): DataFrame = {
    val spark = pe.sparkSession
    val edges = CacheScope.persist( // scanned every round: one materialization
      pe.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pe.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    var labels = CacheScope.checkpoint(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    var prevRound: Option[DataFrame] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("ncomp"))
      // pointer-jumping lookup: my component's own current component
      val parents = labels
        .select(col("id").as("component"), col("component").as("pcomp"))
      val candidate = least(
        coalesce(col("ncomp"), col("component")),
        coalesce(col("pcomp"), col("component")))
      // one job: materializes the round + truncates lineage (releasably)
      val cached = CacheScope.persist(labels
        .join(neighborMin, Seq("id"), "left")
        .join(parents, Seq("component"), "left")
        .select(col("id"),
          least(col("component"), candidate).as("component"),
          (candidate < col("component")).as("__changed")))
      cached.count()
      val updated = org.apache.spark.sql.GraftExpressionBridge
        .dataFrameFromInternalRdd(spark,
          cached.queryExecution.toRdd.map(_.copy()), cached.schema)
      converged = updated.filter(col("__changed")).isEmpty
      labels = updated.drop("__changed")
      prevRound.foreach(_.unpersist(false)) // superseded round: release now
      prevRound = Some(cached)
      iter += 1
    }
    labels
  }

  /** Orderings matching Spark's `least`/`min`/`<` semantics for the id
    * types a dedup key realistically has; None ⇒ no driver fast path.
    * Strings compare as Spark compares them, by UTF-8 bytes
    * (`UTF8String.compareTo`), not by Java's UTF-16 `String` order: the
    * two disagree when a supplementary character meets one in
    * U+E000–U+FFFF, and the driver union-find would then keep a
    * different survivor than the distributed min-label loop.
    */
  private def driverOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case LongType    => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case ShortType   => Some(Ordering.by[Any, Short](_.asInstanceOf[Short]))
      case StringType  => Some((a: Any, b: Any) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])))
      case _           => None
    }
  }

  /** Driver union-find over collected (id_a, id_b) rows: path
    * compression + union-by-min keeps every root the minimum id of its
    * component, so the result is bit-identical to the distributed
    * min-label loop. Returns id → component, fully compressed.
    */
  private def unionFind(edges: Array[org.apache.spark.sql.Row],
      ord: Ordering[Any]): java.util.HashMap[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.get(cur) != root) {
        val next = parent.get(cur); parent.put(cur, root); cur = next
      }
      root
    }
    edges.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // attach the larger root under the smaller
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    parent.keySet().forEach(id => find(id)) // value updates only
    parent
  }

  /** Driver-built local frame of `rows` whose every column has the pair
    * id type — no Spark job, and its size is known on the driver.
    */
  private def idFrame(pairs: DataFrame, names: Seq[String],
      rows: java.util.List[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = pairs.schema("id_a").dataType
    pairs.sparkSession.createDataFrame(rows,
      StructType(names.map(StructField(_, idType))))
  }

  /** (id, component) frame of a driver union-find result. */
  private def componentFrame(pairs: DataFrame,
      roots: java.util.HashMap[Any, Any]): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](roots.size())
    roots.forEach((id, root) => rows.add(org.apache.spark.sql.Row(id, root)))
    idFrame(pairs, Seq("id", "component"), rows)
  }

  /** Near-duplicate REMOVAL: detect pairs with MinHash-LSH, cluster them
    * transitively, and keep only each cluster's lowest-id row (plus every
    * row in no cluster). This is what a curation pipeline actually runs —
    * pair detection alone under-removes chains (A≈B≈C with A≉C must
    * still collapse to one survivor).
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9,
      maxBandDf: Int = 0
  ): DataFrame =
    dropClusterLosers(df, idCol, minhash(shingleN, bands, rowsPerBand,
      threshold, maxBandDf).pairsOf(df, idCol, textCol))

  /** pairs → connected components → anti-join the non-survivors (everyone
    * but the min-id member of each transitive cluster) out of `df`.
    * Shared tail of every near-dup REMOVAL flavor (minhash, simhash,
    * embedding, TF-IDF).
    *
    * Where the size comes from: a producer that guard-counted its
    * candidates (minhash and simhash verify, the embedding fallback
    * verify) hands that count over as `pairs.bound`. At or under
    * `driverMaxPairs` the tail is one collect of the pairs, the driver
    * union-find, and a driver-built loser frame whose size is known
    * without a Spark job. Without a bound it guard-counts the persisted
    * pairs once; above the ceiling it runs the distributed loop and
    * guard-counts the persisted losers.
    *
    * Pairs the driver built ([[minhash]]'s driver path) need no
    * collect, and their losers — a subset of a batch the driver already
    * held — leave `df` through one filter, `NOT coalesce(id IN losers,
    * false)`: no broadcast job, and a null id stays, as under
    * `left_anti`. The set is one `InSet` referenced from generated
    * code, not written into it (int-like ids are compared as longs: an
    * int `InSet` compiles to a `switch` over its values), so a batch
    * with other losers compiles no new class.
    */
  private[operators] def dropClusterLosers(df: DataFrame, idCol: String,
      pairs: PairSet): DataFrame = {
    val losersBroadcastMax = guards.losersMax
    val (losers, nLosers) = clusters(pairs) match {
      case Left(roots) =>
        val ids = Seq.newBuilder[Any]
        roots.forEach((id, root) => if (id != root) ids += id)
        val losers = ids.result()
        if (pairs.rows.nonEmpty && losers.size <= losersBroadcastMax)
          return df.filter(not(coalesce(idAmong(df, idCol, losers), lit(false))))
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](losers.size)
        losers.foreach(id => rows.add(org.apache.spark.sql.Row(id)))
        (idFrame(pairs.pairs, Seq(idCol), rows), rows.size.toLong)
      case Right(comps) =>
        val persisted = CacheScope.persist(
          comps.filter(col("id") =!= col("component")).select(col("id").as(idCol)))
        (persisted, guardCount(persisted)) // guard-counted, then anti-joined
    }
    // losers is pair-bounded, NOT broadcast-small by construction: a
    // dup-catastrophic corpus (the exact case the distributed-CC path
    // exists for) can yield a loser set past the 8 GB broadcast ceiling.
    // Same size-adaptive pattern as connectedComponents: broadcast below
    // the threshold so the corpus anti-join never shuffles the corpus;
    // above it, a plain shuffle anti-join on the id key — one corpus
    // shuffle, but a plan that COMPLETES where an over-ceiling broadcast
    // fails the job outright.
    val pinned =
      if (nLosers <= losersBroadcastMax)
        broadcast(losers)
      else losers
    df.join(pinned, Seq(idCol), "left_anti")
  }

  /** `df(idCol) IN ids` as one `InSet` of the ids' internal values
    * (see [[dropClusterLosers]]); int and short ids are compared as
    * longs.
    */
  private def idAmong(df: DataFrame, idCol: String, ids: Seq[Any]): Column = {
    import org.apache.spark.sql.types._
    val c = df(idCol)
    val (key, values) = df.schema(idCol).dataType match {
      case IntegerType | ShortType =>
        (c.cast(LongType), ids.map(_.asInstanceOf[Number].longValue: Any))
      case dt =>
        val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(dt)
        (c, ids.map(toInternal))
    }
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.GraftExpressionBridge.expression(key), values.toSet))
  }

  /** Cluster removal keeping the BEST-scoring member (score descending,
    * ties to the lower id) instead of the min id — what a curation
    * pipeline usually wants: among near-duplicate pages keep the
    * longest / highest-quality copy, not the accident of the smallest
    * key. Same size-adaptive CC (and the same producer bound as
    * [[dropClusterLosers]]: a driver-built component table needs no
    * persist or count); the only addition is one narrow (id, score) join
    * against the pair-bounded component table and a per-component window
    * over component-sized groups.
    */
  private[operators] def dropClusterLosersKeepBest(df: DataFrame,
      idCol: String, scoreCol: String, pairs: PairSet): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val losersBroadcastMax = guards.losersMax
    val (comps, nComp) = clusters(pairs) match {
      case Left(roots) => (componentFrame(pairs.pairs, roots), roots.size.toLong)
      case Right(c) =>
        val persisted = CacheScope.persist(c)
        (persisted, guardCount(persisted))
    }
    // scores ride in via a join pruned to clustered ids only — broadcast
    // the component table under the guard so the corpus is never shuffled
    val compPinned =
      if (nComp <= losersBroadcastMax) broadcast(comps) else comps
    val scored = df
      .select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(compPinned, "id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__score").desc, col("id"))
    val losers = CacheScope.persist(
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") =!= 1).select(col("id").as(idCol)))
    val pinned =
      if (guardCount(losers) <= losersBroadcastMax) broadcast(losers)
      else losers
    df.join(pinned, Seq(idCol), "left_anti")
  }

  /** MinHash near-dup REMOVAL keeping each cluster's best-`scoreCol` row
    * (ties to the lower id) — the quality-aware twin of
    * [[dropNearDuplicates]].
    */
  def dropNearDuplicatesKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9,
      maxBandDf: Int = 0
  ): DataFrame =
    dropClusterLosersKeepBest(df, idCol, scoreCol, minhash(shingleN, bands,
      rowsPerBand, threshold, maxBandDf).pairsOf(df, idCol, textCol))

  /** SimHash near-dup REMOVAL: [[simhashNearDupPairs]] → transitive
    * clusters → min-id survivor per cluster (the simhash twin of
    * [[dropNearDuplicates]], same size-adaptive CC + loser anti-join).
    */
  def dropSimhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx
  ): DataFrame =
    dropClusterLosers(df, idCol,
      simhash(maxHamming, bits, hasher).pairsOf(df, idCol, textCol))

  /** Incremental SIMHASH dedup — the Hamming-distance twin of
    * [[dropNearDuplicatesIncremental]]: dedup a new batch against an
    * existing corpus represented ONLY by its stored (id, simhash) table
    * ([[simhashTable]] layout, maintained append-only via
    * [[appendSimhashes]]); corpus text is never re-read.
    *
    * Keeps batch rows that (a) survive within-batch simhash clustering
    * ([[dropSimhashNearDuplicates]] — min-id survivor per transitive
    * cluster) and (b) are not within `maxHamming` of ANY corpus hash.
    *
    * Scale shape: the corpus rides as 8-byte hashes (~a millionth of
    * corpus text bytes); both sides explode their 4 pigeonhole chunk
    * keys MAP-SIDE, the candidate join shuffles rows sized by the BATCH
    * (batch side pinned broadcast when small, so the corpus store
    * streams in place), and the Hamming verify reads the stored hash
    * from the candidate itself — no corpus-sized shuffle anywhere. The
    * plan is the near-dup core's ([[NearDup.dropIncremental]]).
    */
  def dropSimhashDuplicatesIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusHashes: DataFrame,
      maxHamming: Int = 3,
      bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx
  ): DataFrame = {
    val cname = corpusHashes.columns // accept any column names: (id, sh)
    dropSimhashDuplicatesIncrementalChunked(batch, idCol, textCol,
      corpusHashes.select(col(cname(1)).as("sh"))
        .select(col("sh"), explode(simhashChunkKeys(col("sh"), bits)).as("ck")),
      maxHamming, bits, hasher)
  }

  /** [[dropSimhashDuplicatesIncremental]] against a PRE-EXPLODED
    * (sh, chunk-key) store — the form [[saveBucketedSimhashChunks]]
    * writes. With the store bucketed on the chunk key, the candidate
    * join's fallback regime (batch too big to broadcast — exactly the
    * 100 TB tail) reads the store with ZERO Exchange; the (id, sh)
    * store above must re-explode and re-shuffle its chunks every batch
    * in that regime. A stored hash is its own store id and payload.
    */
  def dropSimhashDuplicatesIncrementalChunked(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusChunks: DataFrame,
      maxHamming: Int = 3,
      bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx
  ): DataFrame =
    simhash(maxHamming, bits, hasher)
      .dropIncremental(batch, idCol, textCol, corpusChunks, None)

  private def simhashMeta(bits: Int, hasher: SimhashHasher): Map[String, Any] =
    Map("bits" -> bits, "hasher" -> hasher.toString)

  /** (id, sh) rows of [[simhashTable]] — the incremental simhash store. */
  private[graft] def simhashFamily(bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): StoreFamily =
    StoreFamily("simhash", simhashMeta(bits, hasher), "id BIGINT, sh BIGINT",
      "sh", (df, id, text) => simhashTable(df, id, text, bits, hasher))

  /** PRE-EXPLODED (sh, chunk-key) rows — the bucketed simhash store,
    * bucketed on the chunk key (see [[saveBucketedSimhashChunks]]).
    */
  private[graft] def simhashChunkFamily(bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): StoreFamily =
    StoreFamily("simhash_chunks", simhashMeta(bits, hasher),
      "sh BIGINT, ck STRING", "ck", (df, id, text) =>
        simhashTable(df, id, text, bits, hasher)
          .select(col("sh"), explode(simhashChunkKeys(col("sh"), bits)).as("ck")))

  /** Append a batch's simhashes to a parquet store — the maintenance half
    * of [[dropSimhashDuplicatesIncremental]]: run on the rows that
    * landed; tomorrow's batch Hamming-checks against them without
    * re-reading today's text.
    */
  def appendSimhashes(df: DataFrame, idCol: String, textCol: String,
      storePath: String, bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): Unit =
    KeyStore(simhashFamily(bits, hasher), StoreLayout.Path(storePath))
      .append(df, idCol, textCol)

  /** BUCKETED simhash-chunk store — the 100 TB shape of the simhash
    * store (same reasoning as [[saveBucketedFingerprints]]): rows are
    * the PRE-EXPLODED (sh, chunk-key) pairs — 4 rows × 16 bytes per doc
    * — bucketed on the chunk key the candidate join shuffles on, so in
    * the non-broadcast regime the store streams in place. The (id, sh)
    * layout cannot be bucket-joined: its join key is derived
    * (explode of pigeonhole chunks), which discards the scan's
    * partitioning.
    */
  def saveBucketedSimhashChunks(df: DataFrame, idCol: String,
      textCol: String, table: String, buckets: Int = 256, bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): Unit =
    KeyStore(simhashChunkFamily(bits, hasher),
      StoreLayout.Table(table, buckets)).append(df, idCol, textCol)

  /** Read a bucketed simhash-chunk table; missing table = empty set,
    * same bootstrap contract as [[readSimhashes]]; present table
    * params must match the probe's (sidecar TBLPROPERTIES).
    */
  def readBucketedSimhashChunks(spark: org.apache.spark.sql.SparkSession,
      table: String, bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): DataFrame =
    KeyStore(simhashChunkFamily(bits, hasher), StoreLayout.Table(table))
      .read(spark)

  /** Read a simhash store; a MISSING store is an empty set (first run
    * bootstraps) — any other failure propagates, same contract as
    * [[readFingerprints]].
    */
  def readSimhashes(spark: org.apache.spark.sql.SparkSession,
      storePath: String, bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx): DataFrame =
    KeyStore(simhashFamily(bits, hasher), StoreLayout.Path(storePath))
      .read(spark)

  /** Incremental NEAR-dup dedup — the operator a daily 100 TB ingest
    * actually runs: dedup a new batch against an existing corpus without
    * re-shingling the corpus. The corpus participates twice, both times
    * candidate- or batch-bounded:
    *  - `corpusBands` — the (id, bk) band-key STORE
    *    ([[minhashBandKeys]], `bands` 8-byte keys per corpus doc,
    *    maintained append-only via [[appendBandKeys]]). The LSH join
    *    against the batch's band keys shuffles rows sized by the BATCH:
    *    the batch side is broadcast when small, so the corpus store
    *    streams in place.
    *  - `corpusDocs` — the corpus (id, text) table, touched ONLY for
    *    candidate ids (semi-join pruned, pushed down to the scan), so
    *    exact-Jaccard verification re-shingles a candidate-bounded slice
    *    instead of the corpus.
    *
    * Semantics mirror [[dropDuplicatesIncremental]]: keep batch rows that
    * (a) survive within-batch near-dup clustering ([[dropNearDuplicates]]
    * — min-id survivor per transitive cluster) and (b) are not within
    * `threshold` Jaccard of ANY corpus document. The plan is the near-dup
    * core's ([[NearDup.dropIncremental]]) over ONE persisted shingle
    * table; its in-batch half is the pair set [[dropNearDuplicates]]
    * builds, so a batch within the driver budget is gathered once and
    * paired on the driver.
    */
  def dropNearDuplicatesIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusBands: DataFrame,
      corpusDocs: DataFrame,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9
  ): DataFrame =
    minhash(shingleN, bands, rowsPerBand, threshold, maxBandDf = 0)
      .dropIncremental(batch, idCol, textCol, corpusBands, Some(corpusDocs))

  /** (id, bk) rows of [[minhashBandKeys]] — the incremental near-dup
    * store, bucketed on `bk` in the table layout.
    */
  private[graft] def bandKeyFamily(shingleN: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): StoreFamily =
    StoreFamily("minhash_band_keys", Map("shingleN" -> shingleN,
      "bands" -> bands, "rowsPerBand" -> rowsPerBand), "id BIGINT, bk BIGINT",
      "bk", (df, id, text) =>
        minhashBandKeys(df, id, text, shingleN, bands, rowsPerBand))

  /** Append a batch's band keys to a parquet store — the maintenance half
    * of [[dropNearDuplicatesIncremental]]: run it on the rows that
    * landed, and tomorrow's batch LSH-joins against them without
    * re-shingling today's documents.
    */
  def appendBandKeys(df: DataFrame, idCol: String, textCol: String,
      storePath: String, shingleN: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): Unit =
    KeyStore(bandKeyFamily(shingleN, bands, rowsPerBand),
      StoreLayout.Path(storePath)).append(df, idCol, textCol)

  /** Read a band-key store; a MISSING store is an empty set (first run
    * bootstraps) — any other failure propagates, same contract as
    * [[readFingerprints]]. The probe's LSH params must match the
    * store's recorded sidecar: a `bands = 8` batch joined against a
    * `bands = 16` store silently under-matches every band key, which
    * is exactly the wrongness the sidecar refuses.
    */
  def readBandKeys(spark: org.apache.spark.sql.SparkSession,
      storePath: String, shingleN: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    KeyStore(bandKeyFamily(shingleN, bands, rowsPerBand),
      StoreLayout.Path(storePath)).read(spark)

  /** Read a BUCKETED band-key table ([[saveBucketedBandKeys]]); missing
    * table = empty set, same bootstrap contract as [[readBandKeys]]
    * (guarded against the stale-warehouse case — see
    * [[readBucketedFingerprints]]).
    */
  def readBucketedBandKeys(spark: org.apache.spark.sql.SparkSession,
      table: String, shingleN: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    KeyStore(bandKeyFamily(shingleN, bands, rowsPerBand),
      StoreLayout.Table(table)).read(spark)

  /** Corpus documents for the incremental near-dup verify. A missing
    * path is the day-1 bootstrap (empty corpus, typed off the batch so
    * the join keys line up); any other failure propagates — same
    * contract as the store readers.
    */
  private[graft] def readCorpusDocs(path: String, idCol: String,
      textCol: String, batch: DataFrame): DataFrame =
    try batch.sparkSession.read.parquet(path).select(col(idCol), col(textCol))
    catch {
      case graft.core.PathNotFound(_) =>
        batch.select(col(idCol), col(textCol)).limit(0)
    }

  /** Exact substring-SPAN dedup — repeated-passage detection at the
    * granularity pre-training curation actually wants (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * document- and paragraph-level dedup miss a long passage pasted into
    * otherwise-distinct pages; this finds every maximal token span whose
    * `windowTokens`-token windows ALL occur at least twice in the corpus
    * (including within one document).
    *
    * Returns `(id, span_start, span_end, n_windows)` — token indices
    * (0-based, inclusive) of each maximal duplicated span, built by
    * merging adjacent duplicated window positions (gaps-and-islands).
    *
    * Scale shape: windows are hashed MAP-SIDE to 8 bytes, so the only
    * corpus-wide shuffle carries (hash, id, pos) rows — never window
    * text; the occurrence count is a window function over that same
    * hash partitioning (no second shuffle), and the island merge
    * shuffles the (tiny) duplicated subset by document id. The ~w× row
    * blowup of overlapping windows exists in every suffix/window dedup
    * and is linear, map-generated, and never materialized past its
    * aggregation. 64-bit collision odds are ~|windows|²/2⁶⁴ — the same
    * accepted gamble as the postings join ([[ngramJaccardPairs]]).
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20
  ): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val w = windowTokens
    val windows = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= w) // shorter docs have no w-token window
      .withColumn("pos", explode(sequence(lit(0L), size(col("t")).cast("long") - w)))
      .select(col("id"), col("pos"),
        xxhash64(array_join(
          slice(col("t"), (col("pos") + 1).cast("int"), lit(w)), " "))
          .as("wh"))
    val dup = windows
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("wh"))))
      .filter(col("occ") > 1)
      .select("id", "pos")
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - row_number), so each island is one maximal span
    val byDoc = Window.partitionBy("id").orderBy("pos")
    dup
      .withColumn("__isl", col("pos") - row_number().over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w.toLong - 1L)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Remove duplicated spans IN PLACE — the curation action
    * [[duplicateSpans]] is the analysis for: every occurrence of a
    * duplicated window except its canonical first one (lowest (id, pos))
    * has its tokens cut from the document, and the text is reassembled
    * from the survivors. Case is preserved (detection compares
    * lowercased windows, reconstruction uses the original tokens);
    * reassembly is single-space joined, the same whitespace
    * normalization contract as chunking. Documents whose every token is
    * cut (pure duplicate passages) disappear; documents shorter than
    * `windowTokens` pass through untouched. Non-text columns are
    * preserved (the rebuilt text joins back on `idCol`).
    *
    * Scale shape: same (hash, id, pos) shuffle as [[duplicateSpans]] for
    * detection; the token mask explodes ONLY the duplicated windows
    * (candidate-bounded); reassembly shuffles (id, idx, token) rows of
    * affected documents plus one id-keyed join back to the input.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20
  ): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val w = windowTokens
    val base = df.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("t")) // original case kept
    val windows = base
      .filter(size(col("t")) >= w)
      .withColumn("pos", explode(sequence(lit(0L), size(col("t")).cast("long") - w)))
      .select(col("id"), col("pos"),
        xxhash64(lower(array_join(
          slice(col("t"), (col("pos") + 1).cast("int"), lit(w)), " "))).as("wh"))
    // canonical occurrence of each duplicated window = lowest (id, pos);
    // everything ranked behind it gets cut
    val byHash = Window.partitionBy("wh").orderBy(col("id"), col("pos"))
    val nonCanonical = windows
      .withColumn("__rn", row_number().over(byHash))
      .filter(col("__rn") > 1)
      .select(col("id"), col("pos"))
    val mask = nonCanonical
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(w.toLong - 1L)))
        .as("idx"))
      .distinct()
    val toks = base
      .select(col("id"), posexplode(col("t")).as(Seq("idx", "tok")))
      .withColumn("idx", col("idx").cast("long"))
    val rebuilt = toks
      .join(mask, Seq("id", "idx"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")),
        " ").as("__newtext"))
    df.drop(textCol)
      .join(rebuilt.select(col("id").as(idCol), col("__newtext").as(textCol)),
        Seq(idCol), "inner")
      .select(df.columns.map(col): _*) // original column order
  }

  // ------------------------------------------------------ paragraph dedup

  /** PARAGRAPH-level dedup: remove repeated paragraphs across the whole
    * corpus, keeping each paragraph's first occurrence in (id, position)
    * order, and reassemble every document from its surviving paragraphs
    * in original order. This is the boilerplate-removal pass of web-scale
    * curation pipelines (repeated headers/footers/licenses across pages)
    * — document-level dedup cannot catch it because the surrounding text
    * differs.
    *
    * Scale shape: two narrow shuffles — the keep-first window partitions
    * on the 16-byte paragraph fingerprint (never the paragraph text), and
    * the reassembly groups by document id with a per-document
    * `collect_list` bounded by document size. Documents whose paragraphs
    * are ALL duplicates disappear from the output (they contributed
    * nothing new), matching what curation pipelines do.
    *
    * `sepRegex` splits paragraphs (default: blank lines), `joinSep`
    * rejoins the survivors.
    */
  def dropDuplicateParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sepRegex: String = "\\n{2,}",
      joinSep: String = "\n\n"
  ): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
    val w = Window.partitionBy(fingerprint(col("para")))
      .orderBy(col("id"), col("idx"))
    paras
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("para")))),
          x => x.getField("para")),
        joinSep).as(textCol))
      .select(col("id").as(idCol), col(textCol))
  }

  // ----------------------------------------------------------------- SimHash

  /** ±1 vote per bit position of a 64-bit hash (bit positions unrolled as
    * constants — keeps every shift a literal, fully codegen-able).
    */
  private def bitVotes(h: Column): Column =
    array((0 until 64).map(j =>
      when(shiftright(h, j).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
        .otherwise(lit(-1L))): _*)

  /** Per-bit vote tallies over the token multiset (array<bigint>[64]). */
  def simhashVotes(text: Column): Column =
    aggregate(tokens(text),
      array_repeat(lit(0L), 64),
      (acc, tok) => zip_with(acc, bitVotes(xxhash64(tok)), (a, b) => a + b))

  /** Assemble the 64-bit simhash from a (resolved) votes column: bit j is
    * set when the tally is positive. OR-composition avoids signed-overflow
    * arithmetic, so it is ANSI-safe.
    */
  def simhashFromVotes(votes: Column): Column =
    (0 until 64).map(j =>
      when(element_at(votes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** df + simhash column, computed in two projections so the votes array
    * is materialized once (not 64 times).
    */
  def withSimhash(df: DataFrame, textCol: String, outCol: String = "simhash"): DataFrame =
    df.withColumn("__votes", simhashVotes(col(textCol)))
      .withColumn(outCol, simhashFromVotes(col("__votes")))
      .drop("__votes")

  /** Token-hash choice for the simhash family. The two NAMED hashes run
    * the single-call [[graft.functions.SimhashBits]] kernel, which makes
    * the simhash table a map-side PROJECTION (no token explode, no vote
    * shuffle — the first shuffle in the pipeline moves to the chunk-key
    * join); [[SimhashHasher.Custom]] keeps the explode+agg formulation
    * for arbitrary Column hashes.
    */
  sealed trait SimhashHasher
  object SimhashHasher {
    /** Spark `xxhash64` (seed 42) — the production default. */
    case object Xx extends SimhashHasher
    /** 60-bit md5 prefix ([[md5Hash60]]) — oracle-replayable in DuckDB. */
    case object Md5_60 extends SimhashHasher
    /** Any Column hash; runs the explode+HashAggregate vote path. */
    final case class Custom(hash: Column => Column) extends SimhashHasher
  }

  /** (id, sh) simhash table. Named hashers run one kernel call per row
    * inside whole-stage codegen; Custom falls back to the explode+agg
    * formulation (all `bits` conditional-sum votes in ONE whole-stage
    * HashAggregate). Null-text documents have no simhash and are absent.
    * This is also the STORE layout the incremental path persists.
    */
  def simhashTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx
  ): DataFrame = {
    require(bits % 4 == 0 && bits <= 64, s"bits must be ≤64, multiple of 4: $bits")
    hasher match {
      case SimhashHasher.Custom(tokenHash) =>
        val tok = df
          .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
          .select(col("id"), tokenHash(col("t")).as("h"))
        val voteAggs = (0 until bits).map(j =>
          sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === lit(1L), lit(1L))
            .otherwise(lit(-1L))).as(s"v$j"))
        val votes = tok.groupBy("id").agg(voteAggs.head, voteAggs.tail: _*)
        val shCol = (0 until bits).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b))
        votes.select(col("id"), shCol.as("sh"))
      case named =>
        df.select(col(idCol).as("id"),
          graft.functions.SimhashBits(col(textCol), bits,
            named == SimhashHasher.Md5_60).as("sh"))
          .filter(col("sh").isNotNull)
    }
  }

  /** The 4 pigeonhole chunk keys of a simhash (Hamming ≤ 3 over 4 chunks
    * guarantees one equal chunk) — map-side, prefixed by chunk index.
    */
  private def simhashChunkKeys(sh: Column, bits: Int): Column = {
    val chunkBits = bits / 4
    val chunkMask = (1L << chunkBits) - 1
    array((0 until 4).map(c =>
      concat_ws(":", lit(c),
        shiftright(sh, c * chunkBits).bitwiseAND(lit(chunkMask)))): _*)
  }

  /** SimHash near-duplicate pairs: split the `bits`-bit simhash into four
    * chunks; sharing any chunk makes a candidate (Hamming ≤ 3 over
    * 4 chunks guarantees one equal chunk by pigeonhole); verify by exact
    * Hamming distance. Shuffles on the chunk key only.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bits: Int = 64,
      hasher: SimhashHasher = SimhashHasher.Xx,
      maxChunkDf: Int = 0
  ): DataFrame =
    simhash(maxHamming, bits, hasher, maxChunkDf)
      .pairsOf(df, idCol, textCol).pairs

  /** The SimHash family of the near-dup core: (id, sh) simhash tables,
    * the 4 pigeonhole chunk keys, exact Hamming distance.
    */
  private[operators] def simhash(maxHamming: Int, bits: Int,
      hasher: SimhashHasher, maxChunkDf: Int = 0): NearDup =
    NearDup((df, id, text) => simhashTable(df, id, text, bits, hasher),
      Keys(_.select(col("id"),
        explode(simhashChunkKeys(col("sh"), bits)).as("bk")), 4, maxChunkDf),
      Verify(Seq("sh"), "hamming",
        (a, b) => bit_count(a("sh").bitwiseXOR(b("sh"))), _ <= maxHamming))

  // ------------------------------------------------------ blocked Jaccard

  /** Blocked shingle postings (blk, id, n, s), persisted — the shared
    * first stage of [[ngramJaccardPairs]] and [[containmentPairs]]: one
    * row per (document, distinct shingle), `n` the document's shingle
    * count, `s` the shingle's 8-byte xxhash64.
    *
    * Postings are keyed by the hash, not the string — the self-join
    * shuffles fixed-width keys (collision odds ~|vocab|²/2^64). The hash
    * runs AFTER the explode: xxhash64 as a plain column stays in codegen;
    * inside a transform() lambda it is interpreted per element.
    *
    * Stop-shingle cap: a shingle shared by d documents contributes d²
    * pre-aggregate pairs, so one boilerplate shingle with df=10⁵ would
    * emit 10¹⁰ rows. Shingles with df > maxShingleDf within a block are
    * dropped from the postings (classic prefix/stop-token filter).
    * RECALL TRADE: a pair whose overlap is mostly stop-shingles scores
    * lower and can fall below the threshold; at j ≥ 0.9 thresholds
    * genuine near-dups share many shingles and survive. Set
    * maxShingleDf ≤ 0 to disable. Hot keys are found with a
    * partial-aggregated groupBy (shuffles one narrow row per distinct
    * shingle, not the postings) and removed via broadcast anti-join —
    * hot shingles are few by definition (each needs > maxShingleDf
    * documents), so the broadcast stays tiny.
    */
  private def blockedPostings(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int, maxShingleDf: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("n", size(col("sh")))
    val raw = sh.select(col("blk"), col("id"), col("n"),
      explode(col("sh")).as("sstr"))
      .select(col("blk"), col("id"), col("n"), xxhash64(col("sstr")).as("s"))
    val capped =
      if (maxShingleDf <= 0) raw
      else {
        val hot = raw.groupBy("blk", "s")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select("blk", "s")
        raw.join(broadcast(hot), Seq("blk", "s"), "left_anti")
      }
    CacheScope.persist(capped) // both sides of the postings self-join
  }

  /** Blocked n-gram Jaccard: all pairs WITHIN a blocking key (e.g. lang),
    * never across the whole corpus. The join shuffles on the block key;
    * block sizes bound the quadratic cost, so pick keys with bounded
    * cardinality-per-block at scale (or LSH instead).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxShingleDf: Int = 10000
  ): DataFrame = {
    // Inverted-index (postings) similarity join: explode shingles, join on
    // the shingle itself, count shared shingles per pair, and derive
    // |A∪B| = n_a + n_b − shared. Exact (identical result to the naive
    // all-pairs intersect), but cost is Σ_shingle df² instead of
    // Σ_block |block|²·|sh| — and every stage is a plain shuffle, so it
    // scales horizontally. Size-ratio prune (j ≥ t ⇒ t ≤ |A|/|B| ≤ 1/t)
    // cuts the pair stream before the aggregate. Postings, hashing and
    // the stop-shingle cap: see blockedPostings.
    val posts = blockedPostings(df, idCol, textCol, blockCol, shingleN,
      maxShingleDf)
    posts.as("x")
      .join(posts.as("y"),
        col("x.s") === col("y.s") && col("x.blk") === col("y.blk") &&
          col("x.id") < col("y.id") &&
          col("x.n").cast("double") >= col("y.n") * threshold &&
          col("y.n").cast("double") >= col("x.n") * threshold)
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** DIRECTED shingle containment C(A→B) = |S_A ∩ S_B| / |S_A| — the
    * asymmetric cousin of [[ngramJaccardPairs]]. Jaccard misses
    * inclusion: a page quoted wholesale inside a much larger page has
    * tiny Jaccard (union is dominated by the container) but containment
    * ≈ 1, which is exactly the quote/boilerplate-inclusion signal a
    * training-data dedupe wants (Broder 1997 introduced containment
    * alongside resemblance for this reason).
    *
    * Same postings-join shape as the Jaccard path: explode distinct
    * shingles, join on the 8-byte shingle hash within a block, count
    * shared shingles per DIRECTED pair, divide by the contained side's
    * shingle count. The size prune uses the asymmetric bound
    * (shared ≤ |S_B|, so C ≥ t forces |S_B| ≥ t·|S_A|) — unlike
    * Jaccard, a tiny doc CAN be contained in a huge one, so only the
    * container side is bounded from below. Stop-shingle df cap and its
    * recall trade are exactly [[ngramJaccardPairs]]'.
    *
    * Returns (contained_id, container_id, shared, n_contained,
    * containment) with containment ≥ `threshold`, both directions
    * emitted when both clear it.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxShingleDf: Int = 10000
  ): DataFrame = {
    val posts = blockedPostings(df, idCol, textCol, blockCol, shingleN,
      maxShingleDf)
    posts.as("x")
      .join(posts.as("y"),
        col("x.s") === col("y.s") && col("x.blk") === col("y.blk") &&
          col("x.id") =!= col("y.id") &&
          // one-count slack keeps the prune strictly conservative: an
          // ulp of drift in n·t must never drop a pair the exact final
          // filter would keep
          col("y.n").cast("double") >= col("x.n") * threshold - lit(1.0))
      .groupBy(col("x.id").as("contained_id"), col("y.id").as("container_id"),
        col("x.n").as("__n"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        col("shared").cast("double") / col("__n").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        col("shared").cast("long").as("shared"),
        col("__n").cast("long").as("n_contained"), col("containment"))
  }
}
