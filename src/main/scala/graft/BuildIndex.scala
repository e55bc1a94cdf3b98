package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Yaml
import graft.operators.{Coarse, Codec, LanguageModel, QualityModel, Sampling,
  Search, Similarity, Tfidf}

/** Config-driven index/fit builds — the job-surface half of the
  * retrieval and curation stores (r16 verdict #5, completed r18): the
  * reference's ethos is that every scheduled action is a YAML config an
  * orchestrator can run, and store BUILDS are exactly that kind of
  * action (offline, whole-corpus, cadence-driven — the thing tomorrow's
  * cron re-runs when the corpus grew). PROBES stay library-level by
  * design: a probe is parameterized by an ad-hoc query DataFrame, which
  * a static config cannot express — the boundary is build = config
  * verb, probe = code (documented in COVERAGE.md).
  *
  * `runMain graft.BuildIndex <index.yaml>` — ANN kinds:
  * {{{
  * input: /data/embeddings.parquet   # parquet with id + vector columns
  * id_field: vec_id
  * vector_field: embedding
  * kind: ivfsq              # ivf | ivfpq | ivfsq | sq | binary
  *                          # | ivf_binary | lsh | embedding_buckets
  * store: /indexes/corpus_ivfsq
  * raw_store: /indexes/corpus_raw    # optional, compressed kinds only
  *                                   # (ivfsq|ivfpq|ivf_binary): also
  *                                   # write the raw-vector refine
  *                                   # store under the SAME centroids —
  *                                   # the two-stage retrieval pair;
  *                                   # refused for other kinds
  * num_lists: 256           # ivf/ivfpq/ivfsq coarse lists
  * dim: 64                  # vector dims (sq/ivfsq/binary/ivf_binary/
  *                          # lsh/embedding_buckets; a uniformly
  *                          # different corpus dim refuses loudly)
  * pq_m: 8                  # ivfpq: subspaces
  * pq_codes: 64             # ivfpq: codes per subspace
  * pq_dsub: 8               # ivfpq: dims per subspace
  * train_iterations: 2      # ivfpq: distributed-Lloyd sweeps (0 = seed)
  * planes: 6                # lsh / embedding_buckets
  * tables: 8                # embedding_buckets
  * }}}
  *
  * Text-side kinds — same surface, same up-front refusals:
  * {{{
  * kind: bm25               # monolithic BM25 postings store
  *                          #   (Search.writePostingsStore)
  * kind: bm25_segment       # append ONE immutable segment to a
  *                          #   growing index (Search.writeIndexSegment)
  * kind: lm                 # bigram language-model fit
  *                          #   (LanguageModel.fitBigramModel+saveModel)
  * kind: tfidf              # frozen idf fit + vectors + postings
  *                          #   (Tfidf.saveStore)
  * kind: dsir               # DSIR importance-ratio fit
  *                          #   (Sampling.saveImportanceRatios)
  * input: /data/documents.parquet
  * id_field: doc_id
  * text_field: text
  * store: /stores/corpus_bm25
  * buckets: 64              # bm25 / bm25_segment / tfidf / dsir
  * max_token_df: 50         # tfidf postings df cap
  * target_input: /data/wiki.parquet  # dsir only: the target corpus
  *
  * kind: quality_model      # materialize an offline-trained linear
  * input: /models/weights.parquet    # (token string, weight double)
  * bias: -0.2
  * store: /stores/quality
  * }}}
  *
  * Every ANN build also persists the training artifacts the probe needs
  * (centroids / trained codebook / SQ grid) under `store/_train/…`
  * ([[Similarity.writeCentroids]] family), so the built index is
  * self-contained: a separate probing process reads them back
  * bit-exactly instead of re-deriving them from the corpus — and the
  * store `_meta` fingerprints refuse any drift. The text-side fits are
  * self-contained by their own save contracts (`_meta` rows / StoreMeta
  * sidecars written by the operators).
  *
  * Scale shape: ONE fused input aggregate serves the row count, the
  * uniform-dim sanity check, AND (for sq/ivfsq) the per-dim min/max SQ
  * grid — previously three separate corpus scans; min/max/count are
  * order-independent, so the fused values are bit-identical to the
  * separate passes. After it: one corpus pass per store written
  * (assign + encode are map-side; the write shuffles only on the
  * partition key) plus the id-ordered centroid seed (a TakeOrdered,
  * bounded per-partition heaps). Nothing here collects corpus rows to
  * the driver — only the training artifacts (numLists·dim +
  * m·codes·dsub doubles, driver-small by construction).
  */
object BuildIndex {

  /** The one kind list — validation and the dispatch match below both
    * derive from it, so adding a kind to one cannot silently miss the
    * other (the match has no catch-all: an AllKinds entry without a
    * dispatch arm is a MatchError at the first test drive, not a
    * runtime "unknown kind" for a kind validation already admitted).
    */
  private val AnnKinds = Set("ivf", "ivfpq", "ivfsq", "sq", "binary",
    "ivf_binary", "lsh", "embedding_buckets")
  private val TextKinds = Set("bm25", "bm25_segment", "lm",
    "quality_model", "tfidf", "dsir")
  /** Store MAINTENANCE as a config verb — the other half of the
    * build-surface symmetry (r18 verdict #2): compaction was only
    * reachable from inside a running curation job
    * (`curation.compact_store_every`), but "merge the small files /
    * segments my appends accumulated" is exactly the offline,
    * cadence-driven action a schedule exists to run. No `input`: the
    * target store IS the input.
    * {{{
    * kind: compact
    * store: /stores/corpus_bm25_seg
    * family: segments            # segments | flat
    * target_file_bytes: 134217728  # flat only (compactFlatStore target)
    * }}}
    */
  private val MaintKinds = Set("compact")
  private val AllKinds = AnnKinds ++ TextKinds ++ MaintKinds

  case class BuildReport(kind: String, store: String, rows: Long,
      rawStore: Option[String])

  /** Shape test for [[Orchestrator.runScheduled]]'s dispatch: an
    * index/fit build config is recognized by a recognized `kind` plus a
    * `store` key — an ingestion job YAML carries neither (it has
    * source/target connector paths). Deliberately NOT stricter: a
    * recognized kind MISSING its other required keys (`input`,
    * `family`) must still dispatch to the build path so the user sees
    * BuildIndex's one loud "index config requires X" refusal — the
    * earlier shape test bounced such configs to the JobRunner, which
    * burned the schedule's retries on a confusing not-a-job error.
    * Unreadable YAML is NOT an index config; the job path falls through
    * to the JobRunner, whose loader reports the parse error.
    */
  def isIndexConfig(cfgPath: String): Boolean =
    try {
      val c = Yaml.loadFile(cfgPath)
      Yaml.str(c, "kind").exists(AllKinds) && Yaml.str(c, "store").nonEmpty
    } catch { case _: Exception => false }

  def run(spark: SparkSession, cfgPath: String): BuildReport = {
    val c = Yaml.loadFile(cfgPath)
    def need(k: String): String = Yaml.str(c, k).getOrElse(
      throw new IllegalArgumentException(s"index config requires $k"))
    // Strict numeric parses: `num_lists: 4.7` must FAIL the build, not
    // quietly build a 4-list index — a refuse-loudly config surface
    // cannot silently change geometry on a typo.
    def intOpt(k: String): Option[Int] = Yaml.str(c, k).map { s =>
      try s.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"index config key $k must be an integer (got: $s)")
      }
    }
    def dblOpt(k: String): Option[Double] = Yaml.str(c, k).map { s =>
      try s.trim.toDouble
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"index config key $k must be a number (got: $s)")
      }
    }
    val kind = need("kind")
    val store = need("store")
    // PURE-config refusals run BEFORE any input scan — a bad YAML must
    // not pay an input pass to be told so.
    if (!AllKinds(kind))
      throw new IllegalArgumentException(
        s"unknown index kind: $kind (${AllKinds.toSeq.sorted.mkString("|")})")
    // A key that only some kinds consume would be silently ignored
    // elsewhere, surfacing hours later as a missing path or an
    // unexpectedly un-tuned store — refuse the combination up front.
    // (raw_store names the refine twin of a COMPRESSED first stage;
    // kind: ivf IS the raw store, build it directly.)
    val twinKinds = Set("ivfsq", "ivfpq", "ivf_binary")
    def onlyFor(key: String, kinds: Set[String]): Unit =
      if (Yaml.str(c, key).nonEmpty && !kinds(kind))
        throw new IllegalArgumentException(
          s"$key is only supported for kinds " +
            s"${kinds.toSeq.sorted.mkString("/")} (got kind: $kind)")
    onlyFor("raw_store", twinKinds)
    onlyFor("target_input", Set("dsir"))
    onlyFor("bias", Set("quality_model"))
    onlyFor("max_token_df", Set("tfidf"))
    // ...and the full key surface, so a leftover tuning key from a
    // DIFFERENT kind's config (num_lists on a bm25 build, buckets on
    // an lm build) fails the build instead of silently not tuning it
    onlyFor("num_lists", Set("ivf", "ivfpq", "ivfsq"))
    onlyFor("dim", Set("sq", "ivfsq", "binary", "ivf_binary", "lsh",
      "embedding_buckets"))
    onlyFor("pq_m", Set("ivfpq"))
    onlyFor("pq_codes", Set("ivfpq"))
    onlyFor("pq_dsub", Set("ivfpq"))
    onlyFor("train_iterations", Set("ivfpq"))
    onlyFor("planes", Set("lsh", "embedding_buckets"))
    onlyFor("tables", Set("embedding_buckets"))
    onlyFor("buckets", Set("bm25", "bm25_segment", "tfidf", "dsir"))
    onlyFor("vector_field", AnnKinds)
    onlyFor("text_field", TextKinds - "quality_model")
    onlyFor("id_field", AnnKinds ++ TextKinds - "quality_model")
    // maintenance keys — and `input` itself, which a compact config
    // must NOT carry (the target store is the input; a leftover input
    // key from a build config would be silently ignored)
    onlyFor("family", MaintKinds)
    onlyFor("target_file_bytes", MaintKinds)
    onlyFor("input", AnnKinds ++ TextKinds)
    if (kind == "dsir" && Yaml.str(c, "target_input").isEmpty)
      throw new IllegalArgumentException(
        "kind dsir requires target_input (the target-distribution corpus)")

    if (MaintKinds(kind)) runCompact(spark, c, store, need)
    else if (TextKinds(kind)) runText(spark, c, kind, store, need, intOpt,
      dblOpt)
    else runAnn(spark, c, kind, store, need, intOpt)
  }

  // ------------------------------------------------------ maintenance kinds

  /** `kind: compact` — dispatch on `family`:
    *  - `segments`: merge a segmented BM25 index's segment directories
    *    into one ([[Search.compactIndexSegments]], the crash-safe
    *    protocol); probe results before and after are identical.
    *  - `flat`: rewrite a flat append-only store's small files into
    *    size-targeted ones ([[graft.core.StoreCompaction
    *    .compactFlatStore]]); row multiset unchanged.
    *
    * A MISSING target store fails once as a config error (the flat
    * path's `require`, the segments path's PATH_NOT_FOUND) — unlike an
    * empty build input, a store that was never created is
    * indistinguishable from a path typo, and compaction of a store no
    * appender has touched yet is a schedule misordering to surface, not
    * to retry quietly. `rows` in the report is the unit count compacted
    * (segments merged / files rewritten).
    */
  private def runCompact(spark: SparkSession, c: Map[String, Any],
      store: String, need: String => String): BuildReport =
    need("family") match {
      case "segments" =>
        if (Yaml.str(c, "target_file_bytes").nonEmpty)
          throw new IllegalArgumentException(
            "target_file_bytes is only supported for family flat " +
              "(segments merge whole partition directories)")
        // Count via the crash-tolerant meta view, NOT `$store/_meta`
        // directly: a store whose previous compaction died mid-flip has
        // only `_meta_next`/`_meta_prev`, and a raw `_meta` read throws
        // PATH_NOT_FOUND — which the orchestrator classifies fail-once,
        // so the scheduled verb could never heal exactly the crash
        // state the repair step exists for. A store with NO meta at all
        // still fails once here (a never-created store is a schedule
        // misordering, not a retry case).
        val nSegs = Search.liveSegmentCount(spark, store)
        Search.compactIndexSegments(spark, store)
        BuildReport("compact", store, nSegs, None)
      case "flat" =>
        val target = Yaml.str(c, "target_file_bytes").map { s =>
          try s.trim.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"index config key target_file_bytes must be an integer " +
                  s"(got: $s)")
          }
        }.getOrElse(128L * 1024 * 1024)
        val (before, _) = graft.core.StoreCompaction.compactFlatStore(
          spark, store, target)
        BuildReport("compact", store, before.toLong, None)
      case other =>
        throw new IllegalArgumentException(
          s"unknown compact family: $other (segments|flat)")
    }

  // ------------------------------------------------------- text-side kinds

  private def runText(spark: SparkSession, c: Map[String, Any], kind: String,
      store: String, need: String => String, intOpt: String => Option[Int],
      dblOpt: String => Option[Double]): BuildReport = {
    val inPath = need("input")
    // remaining PURE-config requirements resolve BEFORE the input scan
    // below — the file-level contract ("a bad YAML must not pay an
    // input pass to be told so") applies to missing keys too
    val fieldCfg =
      if (kind == "quality_model") {
        // input IS the offline-trained weight table, not a corpus
        Left(dblOpt("bias").getOrElse(throw new IllegalArgumentException(
          "kind quality_model requires bias (the trained intercept)")))
      } else Right((need("id_field"), need("text_field")))
    // Empty-input refusal for every text kind: a build over zero rows
    // would write a store that LOOKS healthy (meta rows, sidecars) and
    // scores nothing — the silent-empty-store hole the ANN kinds
    // already close via their width checks. count() over parquet reads
    // no columns (empty projection), so this is footer-cheap.
    val inputRaw = spark.read.parquet(inPath)
    val rows = inputRaw.count()
    // DataNotReadyException, not a plain config refusal: an EXISTING
    // but empty input is "upstream hasn't landed yet", a transient
    // state the scheduler retries under backoff (r18 verdict #1) — a
    // MISSING path stays fail-once (indistinguishable from a typo).
    if (rows == 0L)
      throw new graft.core.DataNotReadyException(
        s"input $inPath has no rows — the store would be empty")
    fieldCfg match {
      case Left(bias) =>
        QualityModel.saveModel(
          QualityModel.fromWeightTable(inputRaw, bias), store)
      case Right((idCol, textCol)) =>
        val docs = inputRaw.select(col(idCol), col(textCol))
        kind match {
          case "bm25" => Search.writePostingsStore(docs, idCol, textCol,
            store, buckets = intOpt("buckets").getOrElse(64))
          case "bm25_segment" => Search.writeIndexSegment(docs, idCol,
            textCol, store, buckets = intOpt("buckets").getOrElse(64))
          case "lm" => LanguageModel.saveModel(
            LanguageModel.fitBigramModel(docs, idCol, textCol), store)
          case "tfidf" => Tfidf.saveStore(docs, idCol, textCol, store,
            buckets = intOpt("buckets").getOrElse(64),
            maxTokenDf = intOpt("max_token_df").getOrElse(50))
          case "dsir" =>
            val target = spark.read.parquet(need("target_input"))
            if (target.isEmpty)
              throw new graft.core.DataNotReadyException(
                "target_input has no rows — every ratio would be the " +
                  "raw-only prior and the fit meaningless")
            Sampling.saveImportanceRatios(docs, target, idCol, textCol,
              store, buckets = intOpt("buckets").getOrElse(64))
        }
    }
    BuildReport(kind, store, rows, None)
  }

  // ------------------------------------------------------------- ANN kinds

  private def runAnn(spark: SparkSession, c: Map[String, Any], kind: String,
      store: String, need: String => String,
      intOpt: String => Option[Int]): BuildReport = {
    val idCol = need("id_field")
    val vecCol = need("vector_field")
    val dim = intOpt("dim").getOrElse(64)
    val input = spark.read.parquet(need("input"))
      .select(col(idCol), col(vecCol))
    // ONE fused stats pass serves the report's row count, the dim
    // sanity check, AND the SQ training grid when the kind needs one —
    // previously the grid was a second full corpus scan
    // (trainSqParams); count/min/max are order-independent aggregates,
    // so the fused values are bit-identical to the separate passes.
    // NULL vectors are excluded from the size aggregates explicitly:
    // size(null) is -1 with ANSI off (and null with it on), and a -1
    // sentinel leaking into min would defeat the uniform-dim refusal.
    val needSqGrid = kind == "sq" || kind == "ivfsq"
    val vecSize = when(col(vecCol).isNotNull, size(col(vecCol)))
    val baseAggs = Seq(count(lit(1)), min(vecSize), max(vecSize))
    // the SAME expression pair trainSqParams uses — one definition
    // (Similarity.sqGridAggs), because the stored-vs-inflight grid
    // bit-identity depends on both computing identical expressions;
    // the guard also keeps ANSI mode from throwing on short rows
    // before the width refusal below can name the real problem
    val sqAggs =
      if (!needSqGrid) Nil else Similarity.sqGridAggs(vecCol, dim)
    val allAggs = baseAggs ++ sqAggs
    val stats = input.agg(allAggs.head, allAggs.tail: _*).collect()(0)
    val rows = stats.getLong(0)
    val minDim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    val maxDim = if (stats.isNullAt(2)) 0 else stats.getInt(2)
    // Same empty-input contract as the text kinds (and the same
    // retry classification — see DataNotReadyException): the fused
    // stats row already holds the count, so this costs nothing. An
    // empty ANN build would previously fail obliquely (empty centroid
    // seed / null SQ grid slots) instead of naming the real problem.
    if (rows == 0L)
      throw new graft.core.DataNotReadyException(
        s"input ${need("input")} has no rows — the store would be empty")
    // Kinds that slice/encode a fixed prefix REFUSE a config width that
    // cannot match the data: a uniformly different corpus dim means the
    // config is wrong (a too-large width would silently write an EMPTY
    // store — every row fails the encodable filter / encodes null
    // codes; a too-small one would silently prefix-truncate every
    // vector and crater recall). Mixed sizes with max >= width pass:
    // dirty short rows are filtered by the library contract. For ivfpq
    // the encoded width is spelled pq_m × pq_dsub, same failure mode.
    val (encodedWidth, widthLabel) =
      if (kind == "ivfpq") {
        val m = intOpt("pq_m").getOrElse(4)
        val dsub = intOpt("pq_dsub").getOrElse(16)
        (m * dsub, s"pq_m × pq_dsub = ${m * dsub}")
      } else (dim, s"dim: $dim")
    val widthKinds = Set("sq", "ivfsq", "ivfpq", "binary", "ivf_binary",
      "lsh", "embedding_buckets")
    if (widthKinds(kind) && rows > 0 && maxDim > 0) {
      if (minDim == maxDim && minDim != encodedWidth)
        throw new IllegalArgumentException(
          s"corpus vectors are uniformly $minDim-dim but the config " +
            s"says $widthLabel — " +
            (if (kind == "ivfpq")
              s"choose pq_m/pq_dsub with product $minDim"
            else s"set dim: $minDim"))
      if (maxDim < encodedWidth)
        throw new IllegalArgumentException(
          s"no corpus vector reaches $widthLabel (max is $maxDim) — " +
            "the store would be empty")
    }
    // The SQ grid, decoded from the SAME fused row — the width refusal
    // above has already rejected the configs whose slots would be null
    // for a uniformly-short corpus, so a null slot here means an empty
    // corpus or an all-null dimension (trainSqParams' own message).
    def sqGrid(): (Array[Double], Array[Double]) = {
      require((0 until 2 * dim).forall(i => !stats.isNullAt(3 + i)),
        "trainSqParams: empty corpus or all-null vector dimension " +
          "(every dim needs at least one non-null element)")
      (Array.tabulate(dim)(i => stats.getDouble(3 + 2 * i)),
        Array.tabulate(dim)(i => stats.getDouble(3 + 2 * i + 1)))
    }

    val raw: Option[String] = kind match {
      case "embedding_buckets" =>
        // the near-dup key store is append-only by contract — a
        // rebuild is a new path, not an overwrite
        Similarity.appendEmbeddingBuckets(input, idCol, vecCol, store,
          planes = intOpt("planes").getOrElse(8),
          tables = intOpt("tables").getOrElse(8), dim = dim)
        None
      case _ =>
        // one coarse and codec selection + one write: the coarse stage
        // carries the list layout, the codec the store's encodings; both
        // carry `_meta` keys and `_train` artifacts. The probe width is
        // query-time: a write reads only the geometry.
        val coarse = kind match {
          case "sq" | "binary" => Coarse.Scan
          case "lsh" => Coarse.Lsh(intOpt("planes").getOrElse(6), dim, 1)
          case _ => Coarse.Ivf(Similarity.seedCentroids(input, idCol, vecCol,
            intOpt("num_lists").getOrElse(16)), 1)
        }
        val codec: Codec = kind match {
          case "ivf" | "lsh" => Codec.Flat
          case "sq" | "ivfsq" =>
            val (mins, maxs) = sqGrid()
            Codec.Sq8(mins, maxs)
          case "binary" | "ivf_binary" => Codec.Sign(dim)
          case "ivfpq" =>
            val m = intOpt("pq_m").getOrElse(4)
            val numCodes = intOpt("pq_codes").getOrElse(8)
            val dsub = intOpt("pq_dsub").getOrElse(16)
            val seed = Similarity.seedPqCodebooks(input, idCol, vecCol,
              m = m, k = numCodes, dsub = dsub)
            // the store is encoded with, and `_train` records, the
            // TRAINED codebook when train_iterations > 0
            val iters = intOpt("train_iterations").getOrElse(0)
            val cb =
              if (iters > 0) Similarity.refinePqCodebooksDistributed(input,
                idCol, vecCol, seed, m, numCodes, dsub, iters)
              else seed
            Codec.Pq(cb, m, numCodes, dsub)
        }
        Similarity.writeStore(input, idCol, vecCol, codec, coarse, store)
        Similarity.writeTrain(spark, store, codec, coarse)
        // the optional raw-vector refine twin, same centroids: the other
        // half of the persisted two-stage retrieval pair (raw_store is
        // refused up front for kinds without one, flat ones included)
        Yaml.str(c, "raw_store").map { rp =>
          Similarity.writeStore(input, idCol, vecCol, Codec.Flat, coarse, rp)
          Similarity.writeTrain(spark, rp, Codec.Flat, coarse)
          rp
        }
    }
    BuildReport(kind, store, rows, raw)
  }

  def main(args: Array[String]): Unit = {
    // arity check BEFORE any session work: a bare invocation gets a
    // usage line and the Failure exit code, not an
    // ArrayIndexOutOfBoundsException stack trace
    if (args.length != 1) {
      System.err.println("usage: graft.BuildIndex <index.yaml>")
      sys.exit(graft.core.ExitCodes.Failure)
    }
    val cfgPath = args(0)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, cfgPath)
      System.err.println(
        s"[graft] index kind=${r.kind} store=${r.store} rows=${r.rows}" +
          r.rawStore.map(p => s" raw_store=$p").getOrElse(""))
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(graft.core.ExitCodes.Failure)
    }
  }
}
