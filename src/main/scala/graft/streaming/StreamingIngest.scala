package graft.streaming

import graft.core.{DataContract, Validation, ValidationMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming formulation of the ingestion spine (the Spark-
  * native upgrade of the reference's incremental batch, SURVEY.md §2.5):
  * `readStream` file source + checkpoint REPLACES the JSON-state file
  * skip — the checkpoint tracks processed files exactly once, surviving
  * restarts, with no driver-side mtime bookkeeping.
  *
  * `Trigger.AvailableNow` gives the reference's oneshot semantics (drain
  * everything new, then stop); a processing-time trigger turns the same
  * pipeline into a continuous ingester. Beyond-reference: watermarked
  * event-time windows over the stream.
  */
object StreamingIngest {

  /** Streaming CSV scan with the S1 semantics (all-string contract schema;
    * null markers applied downstream by the shared coercion).
    */
  def readCsvStream(spark: SparkSession, dir: String, contract: DataContract,
      header: Boolean = true, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var r = spark.readStream
      .schema(contract.rawStructType)
      .option("header", header.toString)
    maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n.toString))
    val raw = r.csv(dir)
    raw.select(raw.columns.map(c =>
      graft.core.Coercion.nullifyMarkers(col(c)).as(c)): _*)
  }

  /** Streaming JSONL scan — the continuous twin of
    * [[graft.sources.JsonlSource]]: same line-splittable text source,
    * same shared `parseLines` transform, so stream and batch can never
    * disagree on a row. Corrupt lines are RETURNED in
    * `opts.corruptCol` (null for clean rows, the raw line otherwise) —
    * the caller routes them through validation accounting (pass
    * `corruptCol` to [[ingest]]) or its own dead-letter sink; silently
    * dropping them here would let a malformed stream ingest with zero
    * errors, the failure the batch path refuses too (JobRunner's jsonl
    * branch).
    */
  def readJsonlStream(spark: SparkSession, dir: String, contract: DataContract,
      maxFilesPerTrigger: Option[Int] = None,
      opts: graft.sources.JsonlOptions = graft.sources.JsonlOptions()): DataFrame = {
    var r = spark.readStream
    maxFilesPerTrigger.foreach(n => r = r.option("maxFilesPerTrigger", n.toString))
    graft.sources.JsonlSource.parseLines(r.text(dir), contract, opts)
  }

  /** Validated streaming sink: the same T1–T3 transform, written as
    * partitioned parquet with exactly-once file tracking. Returns the
    * started query; AvailableNow by default (oneshot parity).
    *
    * When the input carries the default JSONL corrupt column (it came
    * from [[readJsonlStream]]) and the caller passed no `corruptCol`,
    * that column is picked up AUTOMATICALLY — a corrupt line must never
    * silently land as an all-null uncounted row just because a caller
    * forgot to thread the column name through.
    */
  def ingest(raw: DataFrame, contract: DataContract, mode: ValidationMode,
      outPath: String, checkpoint: String,
      partitionCols: Seq[String] = Seq("ingest_date"),
      trigger: Trigger = Trigger.AvailableNow(),
      corruptCol: Option[String] = None): StreamingQuery = {
    val cc = corruptCol.orElse(
      Some(graft.sources.JsonlOptions().corruptCol)
        .filter(raw.columns.contains))
    // validate (not transform): the named observe() rides the same scan
    // and surfaces the T4 error counters — including `corrupt_record:` —
    // on every StreamingQueryProgress.observedMetrics, so a malformed
    // stream is COUNTED, not just dropped (Strict) / nulled (Warn)
    val validated = Validation.validate(raw, contract, mode,
      observationName = "ingest", corruptCol = cc).data
    val prepared = graft.sinks.ParquetSink.preparePartitions(validated, partitionCols)
    var w = prepared.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols.map(_.toLowerCase): _*)
    w.start()
  }

  /** Beyond-reference: streaming exact dedup — the continuous version of
    * the batch [[graft.operators.Dedup.dropExactDuplicates]] /
    * incremental dedup: keep the FIRST arrival per content fingerprint,
    * drop re-arrivals within the watermark horizon.
    *
    * State is the 16-byte fingerprint keyed per row and is EVICTED once
    * the watermark passes (dropDuplicatesWithinWatermark), so a
    * long-running ingester's state store is bounded by the dedup window,
    * not the stream's lifetime — the property that makes this runnable
    * forever at production rates. Rows whose duplicate arrives later
    * than the watermark delay are treated as new (the usual
    * cross-horizon tradeoff; the batch pass catches them downstream).
    */
  def dedupStream(stream: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String): DataFrame =
    stream
      .withColumn("__fp", graft.operators.Dedup.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming INCREMENTAL exact dedup — the streaming twin of
    * [[graft.operators.Dedup.dropDuplicatesIncremental]]: within-stream
    * dups drop via watermark-bounded fingerprint state, and rows whose
    * text the EXISTING corpus already contains drop via a stream-static
    * left-anti join against the corpus fingerprint store (the same
    * append-only parquet store the batch path maintains via
    * `appendFingerprints`; read it with `readFingerprints`).
    *
    * Scale shape: the static side re-reads only the store's narrow
    * 16-byte fingerprint column per micro-batch (partition-prunable,
    * never the corpus text); stream state stays bounded by the
    * watermark horizon exactly as [[dedupStream]].
    */
  def dedupStreamIncremental(stream: DataFrame, textCol: String,
      tsCol: String, watermarkDelay: String,
      corpusFingerprints: DataFrame): DataFrame = {
    val fpName = corpusFingerprints.columns.head
    stream
      .withColumn("__fp", graft.operators.Dedup.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .join(corpusFingerprints.select(col(fpName).as("__cfp")),
        col("__fp") === col("__cfp"), "left_anti")
      .drop("__fp")
  }

  /** Run `body` exactly once per (markerRoot, batchId) — the per-batch
    * marker protocol every foreachBatch twin shares. A marker under
    * `markerRoot/_markers` means the batch fully committed: skip the
    * replay. Absent → run `body`, write the marker, then prune markers
    * from earlier batches (a restart only ever replays the LATEST
    * checkpoint-uncommitted batch, so once batch N runs, markers < N can
    * never be consulted again — without pruning a long-running ingester
    * accumulates one file per micro-batch forever; pruning is idempotent
    * on replay). Underscore-prefixed paths are invisible to parquet
    * readers (like _SUCCESS) and go through the Hadoop FS API so
    * object-store roots work.
    */
  private def runBatchOnce(spark: SparkSession, markerRoot: String,
      batchId: Long)(body: => Unit): Unit = {
    val markerDir = new org.apache.hadoop.fs.Path(s"$markerRoot/_markers")
    val marker = new org.apache.hadoop.fs.Path(markerDir, s"batch_$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      body
      fs.mkdirs(markerDir)
      fs.create(marker, false).close()
      val stale = fs.listStatus(markerDir).filter { st =>
        st.getPath.getName.stripPrefix("batch_").toLongOption
          .exists(_ < batchId)
      }
      stale.foreach(st => fs.delete(st.getPath, false))
      ()
    }
  }

  /** Streaming NEAR-dup dedup — the streaming twin of
    * [[graft.operators.Dedup.dropNearDuplicatesIncremental]], closing
    * the last batch-only gap in the incremental-dedup family (exact
    * fingerprints and simhash already have streaming forms above).
    *
    * MinHash banding is not expressible as watermark state (a document's
    * `bands` keys need set-similarity joins, not per-key first-arrival),
    * so this runs `foreachBatch`: each micro-batch executes the BATCH
    * operator against the band-key store — within-batch clustering plus
    * the store LSH join — writes the survivors, then appends their band
    * keys and documents so the NEXT micro-batch dedups against
    * everything that has ever landed. Identical semantics to running the
    * batch operator once per arriving file; the checkpoint provides the
    * restart cursor.
    *
    * Exactly-once: the output/store/corpus writes are not transactional
    * with the checkpoint, so a crash INSIDE a micro-batch can replay it
    * on restart. A `_graft_nearded_batch_<id>` marker under `outPath`
    * (underscore-prefixed: invisible to parquet readers, like _SUCCESS;
    * written through the Hadoop FS API so object-store outputs work)
    * skips fully-completed batches on replay — restarts BETWEEN batches
    * (the common case, tested) are exactly-once. Mid-batch crash
    * windows, precisely: before the output write → clean replay; after
    * the output write but before the band-key append → the replay
    * recomputes the same survivors and appends them to the output
    * AGAIN (duplicate rows); after the band-key append → the replayed
    * batch matches its own stored keys and drops entirely (no duplicate
    * output, but the corpus-doc append may be lost — future verifies
    * lose recall on those docs). A production deploy swaps the three
    * writes for one transactional table commit.
    *
    * Scale shape per micro-batch is the batch operator's: the store
    * streams against broadcast batch keys; corpus docs are read
    * candidate-pruned. With `bucketedStore = true`,
    * `bandKeyStorePath` names a TABLE maintained via
    * `saveBucketedBandKeys`, and the store join reads with zero
    * store-side Exchange in the non-broadcast regime — the right shape
    * for a long-running ingester whose store grows without bound.
    */
  def nearDedupStreamIncremental(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      bandKeyStorePath: String,
      corpusDocsPath: String,
      outPath: String,
      checkpoint: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9,
      bucketedStore: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val store = graft.core.KeyStore(
      graft.operators.Dedup.bandKeyFamily(shingleN, bands, rowsPerBand),
      graft.core.StoreLayout(bandKeyStorePath, table = bucketedStore))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        runBatchOnce(spark, outPath, batchId) {
          graft.core.CacheScope.scoped {
            val corpusKeys = store.read(spark)
            val corpus = graft.operators.Dedup.readCorpusDocs(
              corpusDocsPath, idCol, textCol, batch)
            // persisted: written to three sinks below, computed once
            val survivors = graft.core.CacheScope.persist(
              graft.operators.Dedup.dropNearDuplicatesIncremental(
                batch, idCol, textCol, corpusKeys, corpus,
                shingleN, bands, rowsPerBand, threshold))
            survivors.write.mode("append").parquet(outPath)
            store.append(survivors, idCol, textCol)
            survivors.select(col(idCol), col(textCol))
              .write.mode("append").parquet(corpusDocsPath)
          }
        }
      }
      .start()
  }

  /** Streaming incremental EMBEDDING near-dup dedup — the semantic twin
    * of [[nearDedupStreamIncremental]] for streams that carry an
    * embedding column: each micro-batch dedups against the persisted
    * LSH bucket-key store
    * ([[graft.operators.Similarity.dropNearCorpusEmbeddings]], with the
    * accumulated OUTPUT as the candidate-pruned corpus-vector lookup
    * side), appends survivors' bucket keys to the store and THEN the
    * survivors to the output — in that order, so a mid-batch crash can
    * never duplicate output docs (see the in-body comment; duplicate
    * store keys are harmless, duplicate corpus docs are not). `probes
    * > 1` multi-probes the store join, so the persisted store can run
    * ~probes× fewer tables at equal recall — the same trade the batch
    * operator ships. The per-batch marker protocol guards replays,
    * stale markers pruned per commit.
    *
    * Bootstrap: a missing store reads as empty
    * ([[graft.operators.Similarity.readEmbeddingBuckets]]) and a
    * missing output path is an empty corpus, so the first batch seeds
    * both.
    */
  def embeddingDedupStreamIncremental(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      bucketStorePath: String,
      outPath: String,
      checkpoint: String,
      threshold: Double = 0.9,
      planes: Int = 8,
      tables: Int = 8,
      dim: Int = 64,
      probes: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val store = graft.core.KeyStore(
      graft.operators.Similarity.embeddingBucketFamily(planes, tables, dim),
      graft.core.StoreLayout.Path(bucketStorePath))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        runBatchOnce(spark, outPath, batchId) {
          graft.core.CacheScope.scoped {
            val corpusKeys = store.read(spark)
            val outDir = new org.apache.hadoop.fs.Path(outPath)
            val fs = outDir.getFileSystem(spark.sessionState.newHadoopConf())
            // explicit schema: an output dir holding only markers/_SUCCESS
            // (empty first batch) must read as zero rows, not fail
            // schema inference
            val corpusVecs =
              if (fs.exists(outDir))
                spark.read.schema(batch.schema).parquet(outPath)
                  .select(col(idCol), col(vecCol))
              else batch.select(col(idCol), col(vecCol)).limit(0)
            val survivors = graft.core.CacheScope.persist(
              graft.operators.Similarity.dropNearCorpusEmbeddings(
                batch, idCol, vecCol, corpusKeys, corpusVecs, threshold,
                planes, tables, dim, probes = probes))
            // bucket keys BEFORE the survivor write: every mid-batch
            // crash window is then output-duplicate-free. Crash between
            // the appends → replay finds the survivors' keys in the
            // store but no vectors in the output (the verify's corpus
            // lookup is an inner join), recomputes the same survivors,
            // and writes them once — the duplicate (id, bk) store rows
            // are harmless because the candidate join is distinct.
            // Crash after both writes (marker missing) → the replayed
            // batch matches its OWN keys + vectors at cosine 1 and
            // drops entirely. The reverse order left a window that
            // re-landed the same survivors in the output corpus.
            store.append(survivors, idCol, vecCol)
            survivors.write.mode("append").parquet(outPath)
          }
        }
      }
      .start()
  }

  /** Streaming incremental TF-IDF near-dup dedup — the model-free twin
    * of [[nearDedupStreamIncremental]] for streams with no embedding
    * column and no shingle budget: each micro-batch dedups against the
    * persisted TF-IDF store under its FROZEN fit
    * ([[graft.operators.Tfidf.dropNearCorpusTfidf]]), appends survivors
    * to the output and to the store
    * ([[graft.operators.Tfidf.appendToStore]]: vectors + postings; the
    * fit never drifts mid-stream). The same per-batch marker protocol
    * guards replays (a replayed batch would re-append vectors/postings,
    * inflating candidate fan-out), with stale markers pruned per
    * commit.
    */
  def tfidfDedupStreamIncremental(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      tfidfStorePath: String,
      outPath: String,
      checkpoint: String,
      buckets: Int = 64,
      maxTokenDf: Int = 50,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatchOnce(batch.sparkSession, outPath, batchId) {
          graft.core.CacheScope.scoped {
            val survivors = graft.core.CacheScope.persist(
              graft.operators.Tfidf.dropNearCorpusTfidf(
                batch, idCol, textCol, tfidfStorePath,
                buckets = buckets, maxTokenDf = maxTokenDf))
            survivors.write.mode("append").parquet(outPath)
            graft.operators.Tfidf.appendToStore(survivors, idCol, textCol,
              tfidfStorePath, buckets = buckets, maxTokenDf = maxTokenDf)
          }
        }
      }
      .start()

  /** Streaming full-text INDEXER: each micro-batch appends one
    * immutable segment to the appendable BM25 index
    * ([[graft.operators.Search.writeIndexSegment]]) — the Lucene
    * near-real-time shape (index the stream as it arrives, probe
    * whenever with [[graft.operators.Search.bm25TopKSegmented]],
    * results identical to a monolithic index over everything indexed
    * so far).
    *
    * Segment appends are NOT transactional with the checkpoint, and a
    * replayed batch would double-index its documents (inflating df and
    * corpus stats — worse than the dedup twin, which merely re-prunes),
    * so the same per-batch marker protocol guards the append:
    * marker present → the segment landed, skip; absent → append, then
    * marker. Markers from earlier batches prune on each commit, exactly
    * as in [[nearDedupStreamIncremental]].
    */
  def indexStreamSegments(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      checkpoint: String,
      buckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatchOnce(batch.sparkSession, storePath, batchId) {
          graft.operators.Search.writeIndexSegment(
            batch, idCol, textCol, storePath, buckets)
        }
      }
      .start()

  /** Streaming TWO-STAGE INDEX maintenance: append each micro-batch of
    * vectors to BOTH halves of the persisted retrieval pair — the
    * IVF-SQ8 code store ([[graft.operators.Similarity.appendIvfSqCodes]])
    * and the raw refine store
    * ([[graft.operators.Similarity.appendIvfAssignments]]) — so a
    * continuous ingester keeps the production two-stage index
    * ([[graft.operators.Similarity.ivfSqRerankTopKFromStores]], the
    * RECALL-pinned recall-1.0 configuration) fresh without nightly
    * rebuilds. Bootstrap the pair once via `graft.BuildIndex` (kind
    * ivfsq + raw_store) or let the first batch stamp both `_meta`s;
    * geometry and grid are FROZEN thereafter — a drifted config refuses
    * instead of silently mis-listing or re-gridding
    * ([[graft.operators.Similarity.appendIvfSqCodes]]'s contract).
    *
    * Exactly-once: each store gets its OWN per-batch marker
    * ([[runBatchOnce]] under the store root), so a crash BETWEEN the
    * two appends replays only the missing one — duplicates cannot arise
    * across the pair. The residual window (crash after one store's data
    * write but before its marker) would duplicate rows WITHIN that
    * store on replay — and a retrieval store surfaces duplicates as
    * repeated top-k ranks, so unlike the dedup key stores this window
    * matters; it is the same single-write residual every foreachBatch
    * twin carries, and a production deploy swaps the append for one
    * transactional table commit.
    */
  def twoStageIndexStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      sqStorePath: String,
      rawStorePath: String,
      checkpoint: String,
      centroids: Seq[Array[Double]],
      mins: Array[Double],
      maxs: Array[Double],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.CacheScope.scoped {
          // persisted: the batch feeds TWO store appends (each a
          // separate action) — without the cache the source micro-batch
          // is scanned twice per trigger on a continuous ingester
          val b = graft.core.CacheScope.persist(
            batch.select(col(idCol), col(vecCol)))
          runBatchOnce(spark, sqStorePath, batchId) {
            graft.operators.Similarity.appendIvfSqCodes(
              b, idCol, vecCol, centroids, sqStorePath, mins, maxs)
          }
          runBatchOnce(spark, rawStorePath, batchId) {
            graft.operators.Similarity.appendIvfAssignments(
              b, idCol, vecCol, centroids, rawStorePath)
          }
        }
      }
      .start()

  /** Streaming CURATION: run the job driver's `curation:` block on every
    * micro-batch ([[graft.JobRunner.applyCuration]] — extract, quality
    * gates incl. the persisted-store `lm`/`model` classifiers, PII
    * redaction, decontamination vs a static benchmark, within-batch
    * dedupe/sampling) and append survivors — the shape a continuous
    * ingester needs: gate quality IN the stream instead of re-reading
    * the landed corpus in a nightly batch.
    *
    * This is the STATELESS half of streaming curation: every store the
    * block references (lm_store, model_store, benchmark_path) is a
    * FROZEN fit read per batch, and dedupe/sample scopes are
    * within-batch. CROSS-batch dedup state lives in the dedicated twins
    * ([[dedupStreamIncremental]] / [[nearDedupStreamIncremental]] /
    * [[embeddingDedupStreamIncremental]] / [[tfidfDedupStreamIncremental]]),
    * which compose with this pass by chaining outputs.
    *
    * Quality gates that aggregate per document (lm/model scoring group
    * exploded tokens) are why this runs `foreachBatch`: mid-stream
    * aggregation + semi-join is not expressible in a single append-mode
    * streaming plan, but each micro-batch is a plain batch frame where
    * the BATCH operators run unchanged — identical semantics to running
    * the job driver once per arriving file. The [[runBatchOnce]] marker
    * protocol guards replays (a replayed completed batch would re-land
    * its survivors).
    */
  def curateStream(
      stream: DataFrame,
      curation: Map[String, Any],
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatchOnce(batch.sparkSession, outPath, batchId) {
          graft.core.CacheScope.scoped {
            graft.JobRunner.applyCuration(batch, Map("curation" -> curation))
              .write.mode("append").parquet(outPath)
          }
        }
      }
      .start()

  /** Streaming twin of the batch hopping-window aggregation
    * ([[graft.Queries.eventsHoppingWindow]]): the SAME
    * `window(ts, windowDuration, slideDuration)` call, watermarked so
    * per-window state evicts once the watermark passes the window end.
    * With the 10-minute/5-minute defaults every event lands in exactly
    * two overlapping windows; append-mode sinks emit each window once,
    * when it closes — so a drained stream's output matches the batch
    * rows for every window the watermark has passed.
    */
  def hoppingEventCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String = "10 minutes",
      slideDuration: String = "5 minutes",
      watermarkDelay: String = "1 second"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration, slideDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"))

  /** Streaming twin of the batch interval join
    * ([[graft.operators.RangeJoin.intervalJoin]] /
    * `events_interval_join`): a STREAM-STREAM inner join where each
    * left event matches right events in the window
    * `[rightTs − windowBefore, rightTs]` on shared keys (attribution:
    * clicks within the hour before a same-user purchase, both sides
    * live streams).
    *
    * Both sides are watermarked and the join condition carries explicit
    * event-time bounds, so Spark derives state-eviction watermarks for
    * BOTH buffers: each side holds only rows newer than the watermark
    * minus the window — bounded state, runnable forever. (The batch
    * operator bucketizes to avoid a nested-loop join; a stream-stream
    * join is hash-partitioned on the equi-keys with the range as a
    * post-filter, so the same no-cartesian property holds.)
    *
    * `leftTs` and `rightTs` must be DISTINCT names (the joined row
    * carries both); the right side's key columns are dropped from the
    * output as duplicates.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String,
      windowBefore: String, watermarkDelay: String): DataFrame = {
    require(leftTs != rightTs,
      s"leftTs and rightTs must differ, both are '$leftTs'")
    val l = left.withWatermark(leftTs, watermarkDelay).as("l")
    val r = right.withWatermark(rightTs, watermarkDelay).as("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k"))
      .reduce(_ && _)
    val timeCond =
      col(s"l.$leftTs") >= col(s"r.$rightTs") - expr(s"INTERVAL $windowBefore") &&
        col(s"l.$leftTs") <= col(s"r.$rightTs")
    keys.foldLeft(l.join(r, keyCond && timeCond)) { (df, k) =>
      df.drop(col(s"r.$k"))
    }
  }

  /** Per-user session state for [[sessionizeStream]] (micros;
    * 0-based session ids, matching the batch operator).
    */
  case class SessionProgress(sessionId: Long, startUs: Long, endUs: Long,
      n: Long)

  /** One closed session — the same row shape as the batch
    * [[graft.operators.Sessionize.sessions]].
    */
  case class SessionRow(user_id: Long, session_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)

  /** Streaming twin of the batch gap sessionization
    * ([[graft.operators.Sessionize.sessions]]): `groupByKey(user)` +
    * `flatMapGroupsWithState` with EVENT-TIME timeout. A session closes
    * and emits either when a later event opens the next one (gap in
    * truncated epoch seconds > `gapSeconds`, the batch rule exactly) or
    * when the watermark passes its end + gap (the timeout) — so an idle
    * user costs ZERO state once their last session times out, which is
    * what lets this run forever: state is one small row per ACTIVE user,
    * not per user ever seen.
    *
    * Exact vs the batch operator when each user's events arrive
    * time-ordered across micro-batches (the log-ingestion norm; within a
    * micro-batch arrival order doesn't matter — events are sorted).
    * Cross-batch REORDERING beyond that is the usual streaming
    * trade: an out-of-order event after its session already advanced
    * would split the session; the batch pass repairs those downstream.
    */
  def sessionizeStream(events: DataFrame, userCol: String, tsCol: String,
      gapSeconds: Long, watermarkDelay: String)
      : org.apache.spark.sql.Dataset[SessionRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val session = events.sparkSession
    import session.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def toTs(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    def close(user: Long, s: SessionProgress): SessionRow =
      SessionRow(user, s.sessionId, toTs(s.startUs), toTs(s.endUs), s.n)
    events
      // project FIRST: the cast mints new attributes, and a watermark
      // tagged before the select would not survive onto them
      .select(col(userCol).cast("long").as("user_id"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionProgress, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[SessionProgress]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(user, s))
          } else {
            val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
            var cur = state.getOption
            for (us <- rows.map(r => micros(r._2)).toArray.sorted) {
              cur match {
                case None =>
                  cur = Some(SessionProgress(0L, us, us, 1L))
                case Some(s) =>
                  // truncated-seconds gap, the batch boundary rule
                  if (Math.floorDiv(us, 1000000L) -
                      Math.floorDiv(s.endUs, 1000000L) > gapSeconds) {
                    out += close(user, s)
                    cur = Some(SessionProgress(s.sessionId + 1,
                      us, us, 1L))
                  } else
                    cur = Some(s.copy(endUs = Math.max(s.endUs, us),
                      n = s.n + 1))
              }
            }
            for (s <- cur) {
              state.update(s)
              state.setTimeoutTimestamp(
                Math.floorDiv(s.endUs, 1000L) + gapSeconds * 1000L)
            }
            out.iterator
          }
      }
  }

  /** Beyond-reference: watermarked tumbling-window event counts — the
    * canonical streaming aggregation (late data beyond the watermark is
    * dropped; state is bounded).
    */
  def windowedEventCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermarkDelay: String,
      valueCol: Option[String] = Some("value")): DataFrame = {
    val aggs = count(lit(1)).as("events") +:
      valueCol.filter(events.columns.contains)
        .map(v => sum(v).as("sum_value")).toSeq
    val grouped = events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    val outCols = col("window.start").as("window_start") +: col(keyCol) +:
      col("events") +:
      (if (grouped.columns.contains("sum_value")) Seq(col("sum_value")) else Nil)
    grouped.select(outCols: _*)
  }
}
