package graft

import graft.config._
import graft.core._
import graft.sinks.ParquetSink
import graft.sources.{CsvOptions, CsvSource, JdbcSource, JsonlSource, SqlDialect, IncrementalSpec}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** The §3.1 pipeline driver (reference `_execute_single_job`,
  * src/dativo_ingest/cli.py:341-1240): parse/validate config → resolve
  * recipes → registry checks → load asset → plan source → validate/coerce
  * → partitioned parquet sink → exit code.
  *
  * Spark shape: everything composes lazily into ONE action (the sink
  * write); validation error counts ride along via `observe()`, so a 100 TB
  * source is scanned exactly once. The reference's batch-at-a-time loop
  * (cli.py:853-1009) is replaced by Catalyst pipelining.
  */
object JobRunner {

  final case class JobReport(
      exitCode: Int,
      records: Long,
      validRecords: Long,
      errors: Map[String, Long],
      outputPath: String,
      validationMode: String,
      // completion metrics (reference metrics.py:86-98, 204-219)
      executionTimeSeconds: Double = 0.0,
      recordsPerSecond: Double = 0.0,
      filesWritten: Long = 0L,
      bytesWritten: Long = 0L,
      // commit/snapshot id when the backend has snapshot semantics
      // (reference iceberg_committer.py:610-638 returns it per commit)
      commitSnapshotId: Option[String] = None,
      commitBackend: String = ""
  )

  /** Resolve a config-relative path against the job file's directory. */
  private def resolve(jobDir: String, p: String): String = {
    val path = Paths.get(p)
    if (path.isAbsolute) p else Paths.get(jobDir, p).toString
  }

  /** Incremental context resolved from the source config + state store. */
  private final case class IncrementalPlan(
      store: Option[graft.state.StateStore],
      strategy: Option[String],
      cursorField: Option[String],
      objectName: String,
      lookbackDays: Int,
      processedFiles: Seq[String] = Nil, // local/Hadoop FS paths
      processedDriveFiles: Seq[(String, String)] = Nil, // (driveId, mtime)
      processedSpreadsheets: Seq[(String, String)] = Nil, // (sheetId, mtime)
      airbyteState: Option[String] = None)

  private def incrementalPlan(spark: SparkSession, src: SourceConfig): IncrementalPlan =
    src.incremental match {
      case None => IncrementalPlan(None, None, None, "default", 0)
      case Some(inc) =>
        val statePath = Yaml.str(inc, "state_path")
        IncrementalPlan(
          store = statePath.map(new graft.state.StateStore(_, spark)),
          strategy = Yaml.str(inc, "strategy"),
          cursorField = Yaml.str(inc, "cursor_field"),
          objectName = src.objects.headOption
            .orElse(src.files.flatMap(f => Yaml.str(f, "object")).headOption)
            .orElse(src.tables.flatMap(t => Yaml.str(t, "object")).headOption)
            .getOrElse("default"),
          lookbackDays = Yaml.str(inc, "lookback_days")
            .map(_.toDouble.toInt).getOrElse(0))
    }

  /** Source planning (cli.py:453-614 routing, minus driver-side SaaS
    * connectors). Returns the raw DataFrame before validation.
    */
  def planSource(spark: SparkSession, src: SourceConfig, contract: DataContract,
      jobDir: String, mode: String = "self_hosted"): DataFrame =
    planSourceIncremental(spark, src, contract, jobDir, mode)._1

  private def planSourceIncremental(spark: SparkSession, src: SourceConfig,
      contract: DataContract, jobDir: String,
      mode: String = "self_hosted"): (DataFrame, IncrementalPlan) = {
    val inc = incrementalPlan(spark, src)

    /** I2: drop files whose mtime hasn't advanced past the recorded state
      * (validator.py:309-349 via csv_extractor.py:130-150).
      */
    def filterFiles(paths: Seq[String]): (Seq[String], IncrementalPlan) =
      (inc.store, inc.strategy) match {
        case (Some(st), Some("file_modified_time")) =>
          val (todo, _) = st.filterUnmodified(paths, inc.lookbackDays)
          (todo, inc.copy(processedFiles = todo))
        case _ => (paths, inc.copy(processedFiles = paths))
      }

    def emptyRaw: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        contract.rawStructType)

    // S11: a custom reader plugin overrides type routing (cli.py:453-470);
    // cloud mode requires the sandbox policy check first
    Yaml.str(src.raw, "custom_reader").foreach { cls =>
      graft.plugins.PluginLoader.requireSandboxPolicy(cls, mode,
        Yaml.map(src.raw, "sandbox"))
      return (graft.plugins.PluginLoader.loadReader(cls).read(spark, src.raw), inc)
    }

    src.connectorType match {
      case "csv" =>
        val native = Yaml.map(Yaml.map(src.engine, "options"), "native")
        val opts = CsvOptions(
          delimiter = Yaml.str(native, "delimiter").getOrElse(","),
          quoteChar = Yaml.str(native, "quote_char").getOrElse("\""),
          encoding = Yaml.str(native, "encoding").getOrElse("utf-8"),
          header = Yaml.bool(native, "header", dflt = true))
        val all = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
        require(all.nonEmpty, "csv source requires files[].path")
        val (paths, inc2) = filterFiles(all)
        if (paths.isEmpty) (emptyRaw, inc2)
        else (CsvSource.read(spark, paths, contract, opts), inc2)
      case "parquet" =>
        val all = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
        require(all.nonEmpty, "parquet source requires files[].path")
        val (paths, inc2) = filterFiles(all)
        if (paths.isEmpty) (emptyRaw, inc2)
        else (spark.read.parquet(paths: _*), inc2)
      case "jsonl" =>
        // Beyond-reference: JSONL corpus ingest (see JsonlSource). Corrupt
        // lines ride along in _corrupt_record so the T2/T4 validation
        // pipeline COUNTS them (corrupt_record metric, exit code) —
        // readClean here would let a file full of malformed lines ingest
        // with zero errors and no gate trip. The corrupt column itself is
        // dropped by Validation.applyMode after accounting.
        val all = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
        require(all.nonEmpty, "jsonl source requires files[].path")
        val (paths, inc2) = filterFiles(all)
        if (paths.isEmpty) (emptyRaw, inc2)
        else (JsonlSource.read(spark, paths, contract), inc2)
      case t @ ("postgres" | "mysql") =>
        val conn = Yaml.map(src.raw, "connection")
        val url = Yaml.str(conn, "jdbc_url").getOrElse(
          throw new IllegalArgumentException(s"$t source requires connection.jdbc_url"))
        val table = src.tables.headOption.getOrElse(
          throw new IllegalArgumentException(s"$t source requires tables[]"))
        val dialect = if (t == "postgres") SqlDialect.Postgres else SqlDialect.MySql
        val spec = src.incremental.map { m =>
          val cursorField = Yaml.str(m, "cursor_field").getOrElse("updated_at")
          // I4: persisted cursor beats any configured literal (postgres_
          // extractor.py:268-274)
          val fromState = inc.store.flatMap(_.cursorLastValue(inc.objectName, cursorField))
          IncrementalSpec(
            cursorField = cursorField,
            lastValue = fromState.orElse(Yaml.str(m, "last_value")),
            lookbackDays = Yaml.str(m, "lookback_days").map(_.toDouble.toInt))
        }
        (JdbcSource.read(spark, url,
          Yaml.str(table, "schema"),
          Yaml.str(table, "name").getOrElse(
            throw new IllegalArgumentException("table entry requires name")),
          dialect, spec), inc)
      case "markdown_kv" =>
        // S10 — native here; the reference declares but never implements it
        val all = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
        require(all.nonEmpty, "markdown_kv source requires files[].path")
        val (paths, inc2) = filterFiles(all)
        if (paths.isEmpty)
          (graft.sources.MarkdownKvSource.readRowPerKv(spark, all).limit(0), inc2)
        else (graft.sources.MarkdownKvSource.readRowPerKv(spark, paths), inc2)
      case "google_sheets" =>
        // S4 — driver-side API fetch; the client class is injectable
        // (api_class), mirroring the reference's mockable service object.
        // api_class is a config-supplied FQCN like custom_reader, so the
        // same cloud-mode sandbox policy applies (W7/S11 parity).
        val sheetsCls = Yaml.str(src.raw, "api_class").getOrElse(
          throw new IllegalArgumentException(
            "google_sheets source requires api_class (a SheetsApi impl)"))
        graft.plugins.PluginLoader.requireSandboxPolicy(sheetsCls, mode,
          Yaml.map(src.raw, "sandbox"))
        val api = graft.plugins.PluginLoader.load(sheetsCls,
          classOf[graft.sources.GoogleSheets.SheetsApi])
        val sheets = Yaml.seq(src.raw, "spreadsheets")
          .collect { case m: Map[String, Any] @unchecked => m }
        require(sheets.nonEmpty, "google_sheets source requires spreadsheets[]")
        // I3: skip whole spreadsheets whose API modifiedTime hasn't
        // advanced past the recorded state (validator.py:369-425);
        // one state read for the whole list
        val withMtime = sheets.map { s =>
          val id = Yaml.str(s, "id").getOrElse(
            throw new IllegalArgumentException("spreadsheet entry requires id"))
          (s, id, api.modifiedTime(id))
        }
        val todoIds = inc.store match {
          case Some(st) =>
            st.filterUnmodifiedSpreadsheets(
              withMtime.map { case (_, id, mt) => id -> mt }, inc.lookbackDays)
              ._1.map(_._1).toSet
          case None => withMtime.map(_._2).toSet
        }
        val todo = withMtime.filter { case (_, id, _) => todoIds.contains(id) }
        // value-less sheets are dropped (readOpt), so the union stays
        // STRICT — a genuine header mismatch between spreadsheets must
        // fail loudly, not dissolve into half-null columns
        val frames = todo.flatMap { case (s, id, _) =>
          graft.sources.GoogleSheets.readOpt(spark, api, id,
            Yaml.str(s, "range").getOrElse("A:ZZ"),
            Yaml.bool(s, "has_header", dflt = true))
        }
        val df =
          if (frames.isEmpty) emptyRaw
          else frames.reduce(_ unionByName _)
        (df, inc.copy(processedDriveFiles = Nil,
          processedSpreadsheets = todo.map { case (_, id, mt) => id -> mt }))
      case "gdrive_csv" =>
        // S5 — list → skip → download → S1 scan; api_class goes through
        // the same cloud-mode sandbox policy as custom_reader
        val driveCls = Yaml.str(src.raw, "api_class").getOrElse(
          throw new IllegalArgumentException(
            "gdrive_csv source requires api_class (a DriveApi impl)"))
        graft.plugins.PluginLoader.requireSandboxPolicy(driveCls, mode,
          Yaml.map(src.raw, "sandbox"))
        val api = graft.plugins.PluginLoader.load(driveCls,
          classOf[graft.sources.GDriveCsv.DriveApi])
        val (df, processed) = graft.sources.GDriveCsv.read(spark, api, contract,
          folderId = Yaml.str(src.raw, "folder_id"),
          query = Yaml.str(src.raw, "query"),
          state = inc.store)
        // Drive ids are NOT filesystem paths — carry (id, mtime) so the
        // post-commit persist updates Drive-keyed state directly
        (df, inc.copy(processedDriveFiles =
          processed.map(f => f.id -> f.modifiedTime)))
      case t @ ("stripe" | "hubspot" | "airbyte") =>
        // S6/S7/S8 — Airbyte subprocess; `command` override makes the
        // protocol path testable without docker
        val airbyte = Yaml.map(Yaml.map(src.engine, "options"), "airbyte")
        val command = Yaml.seq(airbyte, "command").map(_.toString) match {
          case Nil =>
            graft.sources.AirbyteSource.dockerCommand(
              Yaml.str(airbyte, "docker_image").getOrElse(
                throw new IllegalArgumentException(
                  s"$t source requires engine.options.airbyte.docker_image")))
          case custom => custom
        }
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val configNode = mapper.createObjectNode()
        src.credentials.foreach { case (k, v) =>
          configNode.put(k, String.valueOf(v))
        }
        // feed the last persisted STATE back to the connector — this is
        // what makes stripe/hubspot runs incremental
        // (engine_framework.py:286-304)
        inc.store
          .flatMap(_.cursorLastValue(inc.objectName, "airbyte_state"))
          .foreach(s => configNode.set("state", mapper.readTree(s)))
        val r = graft.sources.AirbyteSource.fromProcess(spark, command,
          mapper.writeValueAsString(configNode), src.objects.toSet, contract)
        (r.df, inc.copy(airbyteState = r.lastState))
      case other =>
        throw new IllegalArgumentException(s"Unsupported source type: $other")
    }
  }

  /** Markdown-KV target transform (cli.py:856-931): mode `string` renders
    * each record to `{doc_id, markdown_kv_content}`; mode `structured`
    * renders then re-parses (`row_per_kv` or `document_level`).
    */
  def applyMarkdownKvStorage(df: DataFrame, tgt: TargetConfig): DataFrame = {
    val storage = Yaml.map(tgt.raw, "markdown_kv_storage")
    if (storage.isEmpty) df
    else Yaml.str(storage, "mode") match {
      case Some("string") => graft.operators.MarkdownKv.toMarkdownKv(df)
      case Some("structured") =>
        val rendered = graft.operators.MarkdownKv.toMarkdownKv(df)
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        Yaml.str(storage, "structured_pattern").getOrElse("row_per_kv") match {
          case "document_level" =>
            graft.operators.MarkdownKv.parseDocumentLevel(
              rendered, "markdown_kv_content", "doc_id", now).toDF()
          case _ =>
            graft.operators.MarkdownKv.parseRowPerKv(
              rendered, "markdown_kv_content", "doc_id", now).toDF()
        }
      case _ => df
    }
  }

  /** Beyond-reference, opt-in `curation:` job block — runs the
    * schema-PRESERVING subset of the curation library between
    * validation and the sink, so an ingest job can ship clean data in
    * the same single-action pipeline:
    * {{{
    * curation:
    *   id_field: doc_id        # required by dedupe / quality_filter
    *   text_field: text        # required by all steps
    *   extract: html           # markup → prose IN PLACE, runs first
    *   dedupe: exact           # keep lowest-id row per normalized text
    *   quality_filter: gopher  # one gate, or a list applied in order:
    *                           # quality_filter: [gopher, entropy]
    *                           # drop docs failing the Gopher rules
    *                           # (or c4: line-level rules, text rewritten
    *                           #  to kept lines; c4_min_words/c4_min_lines)
    *                           # (or lm: CCNet perplexity gate vs the
    *                           #  bigram LM at lm_store; lm_min_avg_lognat)
    *                           # (or model: linear quality classifier vs
    *                           #  the weight store at model_store;
    *                           #  model_min_logit, default 0.0)
    *   decontaminate: ngram    # drop docs sharing n-grams with the eval
    *                           # set at benchmark_path (or verbatim:
    *                           # exact leading-run matches;
    *                           # decontaminate_shingle_n / _phrase_len)
    *   redact_pii: true        # scrub emails/IPs/phones IN PLACE
    *   sample: bernoulli       # deterministic md5 draw AFTER curation
    *                           # (sample_fraction; or upsample:
    *                           #  fractional epochs via sample_rate /
    *                           #  sample_seed, copy_idx dropped)
    * }}}
    * `dedupe: near` honors `dedupe_keep: best` + `score_field` to keep
    * each cluster's best-scoring row instead of the min id.
    * Ops needing schema changes (chunking, packing, reports) stay
    * library-level — a sink row must still match the asset contract.
    */
  def applyCuration(df: DataFrame, raw: Map[String, Any]): DataFrame = {
    val c = Yaml.map(raw, "curation")
    curate(df, c, curationStore(c))
  }

  private def curate(df: DataFrame, c: Map[String, Any],
      store: Option[CurationStore]): DataFrame = {
    if (c.isEmpty) return df
    val need = curationKey(c)
    // what the incremental dedupe modes below check against
    def corpusKeys: DataFrame = store.get.keys.read(df.sparkSession)
    var out = obsStage(df, "input")
    // extraction first: downstream dedup/quality rules should judge the
    // extracted prose, not the markup
    Yaml.str(c, "extract").foreach {
      case "html" =>
        out = out.withColumn(need("text_field"),
          graft.operators.HtmlExtract.htmlToText(col(need("text_field"))))
      case other =>
        throw new IllegalArgumentException(s"unknown curation.extract: $other")
    }
    // normalization after extraction, before any fingerprint/shingle
    // consumer: composed vs decomposed Unicode must not defeat dedup
    Yaml.str(c, "normalize").foreach {
      case "nfc" =>
        out = out.withColumn(need("text_field"),
          graft.operators.TextAnalysis.normalizeText(col(need("text_field"))))
      case other =>
        throw new IllegalArgumentException(s"unknown curation.normalize: $other")
    }
    if (Yaml.bool(c, "redact_pii"))
      out = out.withColumn(need("text_field"),
        graft.operators.PiiRedact.redact(col(need("text_field"))))
    // MATERIALIZE rewritten text once when any rewrite stage ran and a
    // consumer follows. Without this barrier, alias substitution
    // (predicate pushdown / project collapse) inlines the whole
    // extract→normalize→redact regex chain into EVERY downstream signal
    // and predicate — measured ~7 copies in one generated method for the
    // gopher gate, which busts the JVM's 64 KB method limit, silently
    // demoting the hottest scan stage to interpreted execution; it also
    // recomputes the extraction once per consuming stage. The cache
    // boundary (scoped — JobRunner releases it at job end) is the
    // classic inter-stage materialization of a multi-pass curation
    // pipeline: at 100 TB the disk-backed cached slice is strictly
    // cheaper than re-running the regex chain per stage, and each stage
    // already rescans its input anyway.
    val textRewritten = Yaml.str(c, "extract").nonEmpty ||
      Yaml.str(c, "normalize").nonEmpty || Yaml.bool(c, "redact_pii")
    val consumersFollow = Yaml.str(c, "dedupe").nonEmpty ||
      Yaml.str(c, "decontaminate").nonEmpty ||
      c.contains("quality_filter") || Yaml.str(c, "sample").nonEmpty
    if (textRewritten && consumersFollow)
      out = graft.core.CacheScope.persist(out)
    Yaml.str(c, "dedupe").foreach {
      case "exact" =>
        out = graft.operators.Dedup.dropExactDuplicates(
          out, need("id_field"), need("text_field"))
      case "incremental" =>
        // vs an existing fingerprint store (missing store = first run);
        // surviving rows' fingerprints are appended post-commit under
        // `update_store` — store maintenance is a separate write, not
        // part of the job's single action. With `store_format: bloom`,
        // the store's `_bloom` sidecar prefilters map-side (missing
        // sidecar = build once from the store) and only bloom-positive
        // rows touch the store.
        val corpus = corpusKeys
        out = store.get.bloom match {
          case Some((expected, fpp)) =>
            val sketch = graft.operators.Dedup.readBloomSidecar(
              df.sparkSession, need("fingerprint_store")).getOrElse(
              graft.operators.Dedup.buildFingerprintBloom(
                corpus, expected, fpp))
            graft.operators.Dedup.dropDuplicatesIncrementalBloom(
              out, need("id_field"), need("text_field"), corpus, sketch)
          case None =>
            graft.operators.Dedup.dropDuplicatesIncremental(
              out, need("id_field"), need("text_field"), corpus)
        }
      case "incremental_near" =>
        // vs an existing (id, band-key) MinHash store; the exact-Jaccard
        // verify re-reads candidate corpus documents from `corpus_path`
        // (the prior days' committed output), semi-join pruned to
        // candidates only. Store maintenance post-commit, as above.
        out = graft.operators.Dedup.dropNearDuplicatesIncremental(
          out, need("id_field"), need("text_field"), corpusKeys,
          graft.operators.Dedup.readCorpusDocs(
            need("corpus_path"), need("id_field"), need("text_field"), out))
      case "spans" =>
        // cut repeated passages in place (keep-first); schema preserved,
        // fully-duplicate documents disappear
        out = graft.operators.Dedup.removeDuplicateSpans(
          out, need("id_field"), need("text_field"),
          Yaml.str(c, "span_window").map(_.toDouble.toInt).getOrElse(20))
      case "near" =>
        // within-batch MinHash-LSH clustering; survivor per cluster is
        // the min id, or with `dedupe_keep: best` the best `score_field`
        // row (the curation-grade rule: keep the longest/highest-quality
        // copy, not the smallest key)
        out =
          if (Yaml.str(c, "dedupe_keep").contains("best"))
            graft.operators.Dedup.dropNearDuplicatesKeepBest(
              out, need("id_field"), need("text_field"), need("score_field"))
          else graft.operators.Dedup.dropNearDuplicates(
            out, need("id_field"), need("text_field"))
      case "incremental_tfidf" =>
        // vs an existing TF-IDF store (frozen fit + vectors + postings,
        // written offline via Tfidf.saveStore; missing store = error —
        // scoring without a fit has no semantics, same contract as
        // quality_filter: lm). Store maintenance post-commit via
        // Tfidf.appendToStore under `update_store: true`.
        out = graft.operators.Tfidf.dropNearCorpusTfidf(
          out, need("id_field"), need("text_field"), need("tfidf_store"),
          maxTokenDf = Yaml.str(c, "tfidf_max_token_df")
            .map(_.toDouble.toInt).getOrElse(50))
      case "tfidf_near" =>
        // model-free cosine near-dup over hashed TF-IDF vectors — same
        // cluster/survivor semantics as `near`, for corpora where
        // shingle MinHash is too coarse and no embedding column exists
        out = graft.operators.Tfidf.dropNearDuplicates(
          out, need("id_field"), need("text_field"),
          maxTokenDf = Yaml.str(c, "tfidf_max_token_df")
            .map(_.toDouble.toInt).getOrElse(50))
      case "incremental_simhash" =>
        // vs an existing (id, simhash) store (missing store = first run),
        // maintained post-commit like the exact incremental store. The
        // bucketed form stores pre-exploded (sh, chunk-key) rows
        // bucketed on the key.
        out =
          if (store.get.keys.family.kind == "simhash_chunks")
            graft.operators.Dedup.dropSimhashDuplicatesIncrementalChunked(
              out, need("id_field"), need("text_field"), corpusKeys)
          else graft.operators.Dedup.dropSimhashDuplicatesIncremental(
            out, need("id_field"), need("text_field"), corpusKeys)
      case other =>
        throw new IllegalArgumentException(s"unknown curation.dedupe: $other")
    }
    if (Yaml.str(c, "dedupe").nonEmpty) out = obsStage(out, "dedupe")
    // decontamination after dedupe, before the quality gate: judged on
    // extracted, deduped prose. The benchmark parquet must carry the
    // SAME id/text field names as the contract (it is an eval set
    // prepared for this pipeline, not arbitrary data). Semantic
    // (embedding) decontamination stays library-level — the validated
    // frame carries text, not vectors.
    Yaml.str(c, "decontaminate").foreach { mode =>
      val bench = df.sparkSession.read.parquet(need("benchmark_path"))
        .select(col(need("id_field")), col(need("text_field")))
      mode match {
        case "ngram" =>
          out = graft.operators.Decontaminate.dropContaminated(
            out, bench, need("id_field"), need("text_field"),
            shingleN = Yaml.str(c, "decontaminate_shingle_n")
              .map(_.toDouble.toInt).getOrElse(3))
        case "verbatim" =>
          out = graft.operators.Search.verbatimDecontaminate(
            out, need("id_field"), need("text_field"),
            bench, need("id_field"), need("text_field"),
            phraseLen = Yaml.str(c, "decontaminate_phrase_len")
              .map(_.toDouble.toInt).getOrElse(8))
        case other =>
          throw new IllegalArgumentException(
            s"unknown curation.decontaminate: $other")
      }
      out = obsStage(out, "decontaminate")
    }
    // one gate or a LIST of gates applied in order (a real pipeline
    // stacks them: `quality_filter: [gopher, entropy]`)
    val qualityFiltersRaw: Seq[String] = c.get("quality_filter") match {
      case Some(s: Seq[Any] @unchecked) => s.map(_.toString)
      case Some(v) if v != null         => Seq(v.toString)
      case _                            => Seq.empty
    }
    // ADJACENT gopher+entropy fuse into one shared token pass (both are
    // per-doc predicates over the same token counts, so the conjunction
    // is bit-identical while saving a full tokenize/explode/aggregate
    // sweep — TextAnalysis.gopherEntropyFilter). Only adjacent pairs
    // fuse: a rewriting gate (c4) between them changes what the later
    // gate judges, so reordering across it would not be safe.
    val qualityFilters = qualityFiltersRaw.foldLeft(Vector.empty[String]) {
      case (acc :+ "gopher", "entropy") => acc :+ "gopher+entropy"
      case (acc :+ "entropy", "gopher") => acc :+ "gopher+entropy"
      case (acc, g)                     => acc :+ g
    }
    qualityFilters.zipWithIndex.foreach { case (gate, gi) =>
      gate match {
      case "gopher+entropy" =>
        out = graft.operators.TextAnalysis.gopherEntropyFilter(
          out, need("id_field"), need("text_field"),
          Yaml.str(c, "entropy_min_nats").map(_.toDouble).getOrElse(1.0))
      case "gopher" =>
        out = graft.operators.TextAnalysis.gopherQualityFilter(
          out, need("id_field"), need("text_field"))
      case "c4" =>
        // line-level C4 rules with the text rewritten in place to the
        // kept lines; failing pages dropped (schema preserved)
        out = graft.operators.TextAnalysis.c4QualityFilterRows(
          out, need("text_field"),
          minWords = Yaml.str(c, "c4_min_words")
            .map(_.toDouble.toInt).getOrElse(3),
          minLines = Yaml.str(c, "c4_min_lines")
            .map(_.toDouble.toInt).getOrElse(3))
      case "lm" =>
        // CCNet-style perplexity gate against a PERSISTED bigram LM fit
        // (`lm_store` — written offline via LanguageModel.saveModel;
        // missing store = error, scoring an absent fit has no
        // semantics). Docs whose per-bigram average log score falls
        // below `lm_min_avg_lognat` (nats, default -12.0) drop, as do
        // docs too short to score.
        out = graft.operators.LanguageModel.filterByScore(
          out, graft.operators.LanguageModel.loadModel(
            df.sparkSession, need("lm_store")),
          need("id_field"), need("text_field"),
          Yaml.str(c, "lm_min_avg_lognat").map(_.toDouble).getOrElse(-12.0))
      case "model" =>
        // fastText-style linear quality classifier against a PERSISTED
        // weight store (`model_store` — written offline via
        // QualityModel.saveModel; missing store = error, scoring an
        // absent fit has no semantics). Docs whose logit (bias + mean
        // token weight) falls below `model_min_logit` (default 0.0 =
        // sigmoid 0.5) drop, as do zero-token docs.
        out = graft.operators.QualityModel.filterByScore(
          out, graft.operators.QualityModel.loadModel(
            df.sparkSession, need("model_store")),
          need("id_field"), need("text_field"),
          Yaml.str(c, "model_min_logit").map(_.toDouble).getOrElse(0.0))
      case "entropy" =>
        // lexical-diversity floor: drop keyword-stuffed/degenerate pages
        // below `entropy_min_nats` per-token Shannon entropy
        out = graft.operators.TextAnalysis.entropyFilter(
          out, need("id_field"), need("text_field"),
          Yaml.str(c, "entropy_min_nats").map(_.toDouble).getOrElse(1.0))
      case "gopher_ngrams" =>
        // the n-gram half of Gopher's repetition rules (top-2/3/4-gram
        // and dup-5..10-gram char fractions at the published thresholds)
        out = graft.operators.TextAnalysis.gopherNgramFilter(
          out, need("id_field"), need("text_field"))
      case "compression" =>
        // drop templated boilerplate by DEFLATE ratio (Gopher-family
        // heuristic); threshold via `compression_max_ratio`
        out = graft.operators.TextAnalysis.compressionFilter(
          out, need("text_field"),
          Yaml.str(c, "compression_max_ratio").map(_.toDouble).getOrElse(8.0))
      case other =>
        throw new IllegalArgumentException(s"unknown curation.quality_filter: $other")
      }
      out = obsStage(out, s"quality_${gi}_$gate")
    }
    // sampling LAST: rates are chosen against the curated (deduped,
    // quality-gated) distribution, not the raw batch
    Yaml.str(c, "sample").foreach {
      case "bernoulli" =>
        // deterministic md5 draw — reproducible and layout-independent
        out = graft.operators.Sampling.bernoulliSample(
          out, need("id_field"), need("sample_fraction").toDouble)
      case "upsample" =>
        // fractional epochs (rate > 1); copy_idx dropped to preserve the
        // contract schema — the sink writes the repeats as plain rows
        out = graft.operators.Sampling.upsample(
          out, need("id_field"), need("sample_rate").toDouble,
          Yaml.str(c, "sample_seed").map(_.toLong).getOrElse(0L))
          .drop("copy_idx")
      case other =>
        throw new IllegalArgumentException(s"unknown curation.sample: $other")
    }
    if (Yaml.str(c, "sample").nonEmpty) out = obsStage(out, "sample")
    out
  }

  /** Opt-in per-stage `observe()` row counters on the curation chain —
    * the same plan-attribution pattern as
    * [[graft.operators.Similarity.withPlanAttribution]]: when
    * `curation_pipeline`'s cost (or scale curve) moves, one attributed
    * run says which stage's row volume moved instead of a bisection.
    * Off by default for the same reason: `CollectMetricsExec` does
    * per-row accumulator work on every instrumented edge, and the bench
    * must not pay an observer tax (CurationAttributionSpec asserts the
    * default plan carries no CollectMetrics). Metric names:
    * `graft.curation.{input,dedupe,decontaminate,quality_<i>_<gate>,
    * sample}` — each the ROW COUNT LEAVING that stage; harvest via a
    * `QueryExecutionListener` reading `observedMetrics`.
    */
  def withCurationAttribution[T](body: => T): T = {
    val prev = curationAttribution.get()
    curationAttribution.set(true)
    try body finally curationAttribution.set(prev)
  }

  // plain ThreadLocal, not DynamicVariable — same child-thread
  // inheritance reasoning as Dedup.guardRecord
  private val curationAttribution = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  private def obsStage(df: DataFrame, stage: String): DataFrame =
    if (curationAttribution.get())
      df.observe(s"graft.curation.$stage", count(lit(1)).as("n"))
    else df

  /** A required `curation.<key>`; absent is a config error. */
  private def curationKey(c: Map[String, Any]): String => String = k =>
    Yaml.str(c, k).getOrElse(throw new IllegalArgumentException(s"curation requires $k"))

  /** The incremental key store a curation block dedups against, plus
    * what maintains it alongside the keys: the bloom sketch sizing
    * (`bloom_expected_items`, `bloom_fpp`) and the corpus-docs path the
    * near-dup verify reads.
    */
  private final case class CurationStore(keys: graft.core.KeyStore,
      bloom: Option[(Long, Double)] = None, corpusPath: Option[String] = None)

  /** Resolve the curation store ONCE from `dedupe`, `store_format` and
    * the mode's `*_store` key; the same value serves the read in
    * [[applyCuration]], the post-commit append and `compact_store_every`.
    * None for dedupe modes without a key store.
    *
    * `store_format`: `parquet` (default — store keys are paths, appends
    * are plain parquet), `bucketed` (store keys name TABLES bucketed on
    * the join key, so the per-batch store join reads with zero Exchange
    * — the 100 TB shape; see [[graft.core.KeyStore]]), or `bloom`
    * (`dedupe: incremental` only — a `_bloom` sketch sidecar inside the
    * parquet store answers "definitely new" map-side, so the store is
    * only consulted for the bloom-positive sliver; maintained
    * post-commit with the fingerprint append). A format the mode has no
    * store for is a config error, not silently ignored.
    */
  private def curationStore(c: Map[String, Any]): Option[CurationStore] = {
    import graft.operators.Dedup
    val need = curationKey(c)
    val format = Yaml.str(c, "store_format").getOrElse("parquet")
    def store(family: graft.core.StoreFamily, key: String) =
      graft.core.KeyStore(family,
        graft.core.StoreLayout(need(key), table = format == "bucketed"))
    (Yaml.str(c, "dedupe"), format) match {
      case (_, f) if !Set("parquet", "bucketed", "bloom")(f) =>
        throw new IllegalArgumentException(
          s"unknown curation.store_format: $f (parquet|bucketed|bloom)")
      case (Some(mode), "bloom") if mode != "incremental" =>
        throw new IllegalArgumentException(
          "store_format: bloom supports only dedupe: incremental")
      case (Some("incremental"), _) =>
        Some(CurationStore(store(Dedup.fingerprintFamily, "fingerprint_store"),
          bloom = Option.when(format == "bloom")(
            (Yaml.str(c, "bloom_expected_items").map(_.toLong).getOrElse(1000000L),
              Yaml.str(c, "bloom_fpp").map(_.toDouble).getOrElse(0.01)))))
      case (Some("incremental_near"), _) =>
        Some(CurationStore(store(Dedup.bandKeyFamily(), "band_key_store"),
          corpusPath = Some(need("corpus_path"))))
      case (Some("incremental_simhash"), "bucketed") =>
        Some(CurationStore(store(Dedup.simhashChunkFamily(), "simhash_store")))
      case (Some("incremental_simhash"), _) =>
        Some(CurationStore(store(Dedup.simhashFamily(), "simhash_store")))
      case (mode, "bucketed") =>
        throw new IllegalArgumentException(
          s"store_format: bucketed has no store for dedupe: " +
            s"${mode.getOrElse("<none>")} (incremental, incremental_near, " +
            "incremental_simhash)")
      case _ => None
    }
  }

  /** Catalog persistence for oneshot CLI sessions. The default
    * in-memory catalog dies with its process, so bucketed store tables
    * written by yesterday's `RunJob` are invisible (and their warehouse
    * directories collide) in today's — the cross-process cycle needs
    * catalog metadata that OUTLIVES the session. `GRAFT_CATALOG=hive`
    * enables Spark's Hive catalog (Derby metastore on local disk — the
    * standard persistent-catalog form; a real deploy points it at the
    * shared metastore); `GRAFT_WAREHOUSE=<dir>` co-locates warehouse and
    * metastore under one directory instead of the process CWD. Long-lived
    * sessions (Orchestrator / BatchRunner job loops) don't need this —
    * their catalog lives as long as the store cycle does.
    */
  def configureCatalog(builder: SparkSession.Builder): Unit = {
    sys.env.get("GRAFT_WAREHOUSE").foreach { w =>
      builder.config("spark.sql.warehouse.dir", s"$w/warehouse")
      builder.config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$w/metastore_db;create=true")
    }
    if (sys.env.get("GRAFT_CATALOG").contains("hive"))
      builder.enableHiveSupport()
  }

  /** Output base path `root/domain/data_product/table` (cli.py:695-723).
    * Local-path root comes from connection.path; S3 from connection.s3.bucket.
    */
  def outputBase(tgt: TargetConfig, contract: DataContract, tenantId: String): String = {
    val s3 = Yaml.map(tgt.connection, "s3")
    val root = Yaml.str(tgt.connection, "path")
      .orElse(Yaml.str(s3, "bucket").map(b => s"s3a://$b"))
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft_out/$tenantId")
    ParquetSink.outputPath(root,
      contract.domain.getOrElse("default"),
      contract.dataProduct.getOrElse("default"),
      contract.name)
  }

  def run(spark: SparkSession, jobYamlPath: String,
      mode: String = "self_hosted",
      registry: Registry = Registry.default,
      log: String => Unit = m => System.err.println(s"[graft] $m"),
      tracer: graft.infra.Tracer = graft.infra.Tracing.disabled): JobReport = {
    val jobName = Paths.get(jobYamlPath).getFileName.toString
      .stripSuffix(".yaml").stripSuffix(".yml")
    // root span = the whole execution (reference trace_job_execution,
    // tracing.py:127-150); phases nest under it like trace_phase
    tracer.span(s"job.$jobName") {
      runPhases(spark, jobYamlPath, mode, registry, log, tracer)
    }
  }

  private def runPhases(spark: SparkSession, jobYamlPath: String,
      mode: String, registry: Registry, log: String => Unit,
      tracer: graft.infra.Tracer): JobReport = graft.core.CacheScope.scoped {
    // the scope releases every intermediate the curation operators
    // persist() once the job's commit + store maintenance are done — a
    // long-lived Orchestrator/BatchRunner session would otherwise
    // accumulate cached shingle/band/candidate tables across jobs until
    // eviction pressure or OOM
    val startNanos = System.nanoTime() // wall-clock for records_per_second
    val jobDir = Option(Paths.get(jobYamlPath).getParent).map(_.toString).getOrElse(".")
    val (job, src, tgt, contract, vmode) = tracer.span("phase.configure") {
      val job = JobConfig.fromYaml(jobYamlPath)
      val srcRecipe = ConnectorRecipe.fromYaml(resolve(jobDir,
        job.sourceConnectorPath.getOrElse(
          throw new IllegalArgumentException("Source connector path not provided"))))
      val tgtRecipe = ConnectorRecipe.fromYaml(resolve(jobDir,
        job.targetConnectorPath.getOrElse(
          throw new IllegalArgumentException("Target connector path not provided"))))
      val src = job.resolveSource(srcRecipe)
      val tgt = job.resolveTarget(tgtRecipe)
      registry.validateJob(src, tgt, mode)
      val contract = AssetLoader.fromYaml(resolve(jobDir, job.assetPath.getOrElse(
        throw new IllegalArgumentException("Asset path not provided"))))
      (job, src, tgt, contract, ValidationMode.parse(job.validationMode))
    }

    // mdkv transform precedes validation, like the reference's batch loop
    // (transform at cli.py:856-931, validate_batch at :943)
    val (raw, inc) = tracer.span("phase.extract",
      Map("connector.type" -> src.connectorType, "tenant.id" -> job.tenantId)) {
      val (planned, inc) = planSourceIncremental(spark, src, contract, jobDir, mode)
      (applyMarkdownKvStorage(planned, tgt), inc)
    }
    val obs = Observation(s"validation_${System.nanoTime}")
    // jsonl is the one source with a corrupt-record column: unparseable
    // lines must count as errors (corrupt_record metric + exit code),
    // then the column is dropped from the output after accounting
    val corruptCol =
      if (src.connectorType == "jsonl")
        Some(graft.sources.JsonlOptions().corruptCol)
      else None
    val result = tracer.span("phase.validate") {
      Validation.validate(raw, contract, vmode, obs, corruptCol)
    }

    val base = outputBase(tgt, contract, job.tenantId)
    val partitions =
      if (tgt.partitioning.nonEmpty) tgt.partitioning else Seq("ingest_date")

    // max_cursor is observed on the PRE-curation (validated) frame: a
    // curation block can drop the rows carrying the highest cursor values,
    // and persisting the post-curation max would re-extract those rows
    // next run — without their in-batch duplicate keeper present they
    // pass dedupe and re-introduce exactly the duplicates curation
    // removed. The observe node rides the same single action.
    val cursorCol = inc.cursorField.filter(result.data.columns.contains)
    val cursorObs = Observation(s"cursor_${System.nanoTime}")
    val validated = cursorCol match {
      // max on the NATIVE type (lexicographic max of "9" beats "20"),
      // cast to string only for state persistence
      case Some(c) =>
        result.data.observe(cursorObs, max(col(c)).cast("string").as("max_cursor"))
      case None => result.data
    }

    // beyond-reference, opt-in: schema-preserving curation between
    // validation and sink (see applyCuration)
    val curation = Yaml.map(job.raw, "curation")
    val (curated, dedupStore) = tracer.span("phase.curate") {
      val store = curationStore(curation)
      (curate(validated, curation, store), store)
    }

    // valid-record count rides the single write action
    val outObs = Observation(s"output_${System.nanoTime}")
    val out = curated.observe(outObs, count(lit(1)).as("valid_records"))

    // The commit: a google_sheets TARGET appends to the sheet driver-side
    // (W8, small by construction; the collect satisfies both
    // observations); everything else goes through a CommitBackend.
    var commitResult: Option[graft.sinks.CommitResult] = None
    val outputLocation = tracer.span("phase.commit",
      Map("target.type" -> tgt.connectorType)) {
      if (tgt.connectorType == "google_sheets") {
        // same cloud-mode sandbox policy as every config-supplied FQCN
        val sheetsCls = Yaml.str(tgt.raw, "api_class").getOrElse(
          throw new IllegalArgumentException(
            "google_sheets target requires api_class (a SheetsApi impl)"))
        graft.plugins.PluginLoader.requireSandboxPolicy(sheetsCls, mode,
          Yaml.map(tgt.raw, "sandbox"))
        val api = graft.plugins.PluginLoader.load(sheetsCls,
          classOf[graft.sources.GoogleSheets.SheetsApi])
        val sheetId = Yaml.str(tgt.raw, "spreadsheet_id").getOrElse(
          throw new IllegalArgumentException(
            "google_sheets target requires spreadsheet_id"))
        // includeHeader=false: appends accumulate — a header row per run
        // would interleave column names with data
        graft.sources.GoogleSheets.write(out, api, sheetId,
          Yaml.str(tgt.raw, "range").getOrElse("A1"), includeHeader = false)
        s"sheets:$sheetId"
      } else {
        // W2 sizing runs on an OBSERVE-FREE twin of the output plan — its
        // head-sample `take` must not consume the validation Observation.
        // The estimate is passed by name, so only a Parquet commit runs
        // it: a sheets target never gets here, and a catalog table that
        // commits sizes its own files. Transform partition entries
        // (days(ts), bucket(n, id)) are materialized as identity columns
        // so the twin matches the degradation path's written shape.
        def maxRecords: Long = {
          val (twinMat, twinCols) = graft.sinks.PartitionTransforms.materialize(
            Validation.transform(raw, contract, vmode), partitions)
          ParquetSink.estimateMaxRecordsPerFile(
            ParquetSink.preparePartitions(twinMat, twinCols), base,
            tgt.parquetTargetSizeMb)
        }

        // W6 tags + commit via the strongest available backend
        // (ParquetOnly = the reference's graceful-degradation path)
        val tags = graft.sinks.TagDerivation.deriveAll(
          contract,
          classificationOverrides = Yaml.map(job.raw, "classification_overrides")
            .map { case (k, v) => k -> String.valueOf(v) },
          finopsOverrides = Yaml.map(job.raw, "finops"),
          governanceOverrides = Yaml.map(job.raw, "governance_overrides")) ++
          graft.sinks.TagDerivation.assetProperties(contract)
        val backend = graft.sinks.CommitBackend.forTarget(spark, tgt.catalog)
        commitResult = Some(backend.commit(out, base, contract, partitions,
          tags, tgt.parquetTargetSizeMb, Some(maxRecords)))

        // W9 catalog push — never fatal (cli.py:1139-1205). The catalog's
        // connection block configures credentialed backends
        // (openmetadata/databricks_unity); without credentials the
        // factory degrades to catalog-disabled.
        Yaml.str(tgt.catalog, "type").foreach { ct =>
          graft.catalog.CatalogFactory.forType(
            ct, connection = Yaml.map(tgt.catalog, "connection")).foreach { client =>
            graft.catalog.CatalogFactory.pushAfterCommit(
              client, contract, tags, Seq(src.connectorType))
          }
        }
        base
      }
    }

    val metrics = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    val valid = outObs.get("valid_records").asInstanceOf[Long]

    // Persist incremental state only after the successful commit — and
    // NEVER fatally: data is already committed, and an exception here
    // would both mask a successful run and (worse) make runWithRetry
    // re-append the committed rows. Worst case of a lost state write is
    // one redundant re-extract next run.
    tracer.span("phase.state") {
      try {
        inc.store.foreach { st =>
          if (inc.strategy.contains("file_modified_time") && inc.processedFiles.nonEmpty)
            st.updateFileStates(inc.processedFiles)
          if (inc.processedDriveFiles.nonEmpty)
            st.updateFileEntries(inc.processedDriveFiles)
          if (inc.processedSpreadsheets.nonEmpty)
            st.updateSpreadsheetEntries(inc.processedSpreadsheets)
          inc.airbyteState.foreach(
            st.updateCursorState(inc.objectName, "airbyte_state", _))
          for (c <- cursorCol; v <- Option(cursorObs.get.getOrElse("max_cursor", null)))
            st.updateCursorState(inc.objectName, c, v.toString)
        }
      } catch {
        case e: Exception =>
          log(s"state persist failed (non-fatal): ${e.getMessage}")
      }
    }

    // Curation-store maintenance — the append half of incremental dedupe,
    // opt-in via `curation.update_store: true`: the rows that actually
    // landed are appended to the fingerprint/simhash store so tomorrow's
    // batch dedups against them. Post-commit and NON-fatal for the same
    // reason as state: data is already committed; a lost append costs one
    // redundant dedup check next run, never duplicate data.
    tracer.span("phase.curation_store") {
      try {
        if (curation.nonEmpty && Yaml.bool(curation, "update_store")) {
          val need = curationKey(curation)
          dedupStore.foreach { s =>
            s.keys.append(curated, need("id_field"), need("text_field"))
            // bloom: the batch folds into the sketch sidecar too
            s.bloom.foreach { case (expected, fpp) =>
              graft.operators.Dedup.appendFingerprintBloom(curated,
                need("text_field"), need("fingerprint_store"), expected, fpp)
            }
            // near: the documents too, for the exact-Jaccard verify —
            // without them tomorrow's candidates verify against an empty
            // corpus and near-dups silently pass
            s.corpusPath.foreach { p =>
              curated.select(col(need("id_field")), col(need("text_field")))
                .write.mode("append").parquet(p)
            }
          }
          if (Yaml.str(curation, "dedupe").contains("incremental_tfidf"))
            // vectors + postings append under the store's frozen fit
            // (idf untouched; see Tfidf.appendToStore for the
            // cap-drift/compaction contract)
            graft.operators.Tfidf.appendToStore(
              curated, need("id_field"), need("text_field"),
              need("tfidf_store"),
              maxTokenDf = Yaml.str(curation, "tfidf_max_token_df")
                .map(_.toDouble.toInt).getOrElse(50))
          // `curation.search_index: <path>` — the landed rows also
          // append one immutable segment to the BM25 postings index, so
          // tomorrow's retrieval/decontamination probes see them.
          // Orthogonal to the dedupe mode (and correct BECAUSE of it:
          // deduped batches keep segments disjoint, which the
          // segmented probe's df/stats merge assumes).
          Yaml.str(curation, "search_index").foreach { path =>
            graft.operators.Search.writeIndexSegment(
              curated, need("id_field"), need("text_field"), path,
              buckets = Yaml.str(curation, "search_index_buckets")
                .map(_.toInt).getOrElse(64))
          }
          // `curation.compact_store_every: N` — every Nth append-count
          // compacts a path-layout store's small files in the same
          // maintenance window (post-commit, single-writer). The count
          // is the store's current file count, so "every 32" means
          // "compact once ~32 small files accumulate" without any extra
          // state. Compaction keeps the `_meta_params` and `_bloom`
          // sidecars. Bucketed tables and the tfidf store are excluded
          // (bucketed layouts are append-aligned; tfidf compacts by
          // re-running saveStore, see Tfidf.appendToStore).
          Yaml.str(curation, "compact_store_every").map(_.toDouble.toInt)
            .filter(_ > 0).foreach { every =>
              dedupStore.map(_.keys.layout).collect {
                case graft.core.StoreLayout.Path(sp) => sp
              }.foreach { sp =>
                if (graft.core.StoreCompaction.dataFileCount(
                    curated.sparkSession, sp) >= every) {
                  val (b, a) = graft.core.StoreCompaction
                    .compactFlatStore(curated.sparkSession, sp)
                  log(s"compacted store $sp: $b -> $a files")
                }
              }
              // the segmented search index compacts on the same
              // cadence; its "small file count" analogue is the
              // SEGMENT count (one `_meta` row per append), so a
              // long-running indexer's probe cost stays flat instead
              // of growing a directory per micro-batch
              Yaml.str(curation, "search_index").foreach { path =>
                // no swallow-to-zero: writeIndexSegment succeeded
                // earlier in this run, so _meta is present by
                // construction — a failed read here is CORRUPTION, and
                // mapping it to 0 would silently disable compaction
                // forever while the segment tree grows unboundedly.
                // Log loudly, skip this window only.
                val nSegs =
                  try curated.sparkSession.read.parquet(s"$path/_meta")
                    .count()
                  catch {
                    case e: Exception =>
                      log(s"search index _meta unreadable at $path — " +
                        s"compaction SKIPPED this window: ${e.getMessage}")
                      -1L
                  }
                if (nSegs >= every) {
                  graft.operators.Search.compactIndexSegments(
                    curated.sparkSession, path)
                  log(s"compacted search index $path: " +
                    s"$nSegs -> 1 segments")
                }
              }
            }
        }
      } catch {
        case e: Exception =>
          log(s"curation store append failed (non-fatal): ${e.getMessage}")
      }
    }

    // records_per_second over extracted records (metrics.py:213-219)
    val elapsed = (System.nanoTime() - startNanos) / 1e9
    val extracted = metrics.getOrElse("records", 0L)
    JobReport(
      exitCode = Validation.exitCode(vmode, metrics, valid),
      records = extracted,
      validRecords = valid,
      errors = metrics.filter { case (k, v) => k != "records" && v > 0 },
      outputPath = outputLocation,
      validationMode = job.validationMode,
      executionTimeSeconds = elapsed,
      recordsPerSecond = if (elapsed > 0) extracted / elapsed else 0.0,
      filesWritten = commitResult.map(_.filesWritten).getOrElse(0L),
      bytesWritten = commitResult.map(_.bytesWritten).getOrElse(0L),
      commitSnapshotId = commitResult.flatMap(_.snapshotId),
      commitBackend = commitResult.map(_.backend).getOrElse(
        if (tgt.connectorType == "google_sheets") "google_sheets" else ""))
  }

  /** Retry with exponential backoff (reference retry_policy.py:23-105;
    * config.py:475-500 defaults: 3 retries, 5 s initial, ×2, cap 300 s).
    * Retries only on retryable exit codes; sleeps are capped.
    */
  final case class RetryPolicy(
      maxRetries: Int = 3,
      initialDelayMs: Long = 5000,
      multiplier: Double = 2.0,
      maxDelayMs: Long = 300000,
      retryableExitCodes: Set[Int] = Set(1, 2))

  /** Retry guard: a rerun is only safe when nothing was committed —
    * validation exit codes are deterministic AND the commit appends, so
    * retrying a job that already wrote rows would duplicate them (the
    * reference has the same retryable_exit_codes=[1,2] default and the
    * same append hazard; we add the no-data-committed guard).
    */
  def runWithRetry(spark: SparkSession, jobYamlPath: String,
      policy: RetryPolicy, mode: String = "self_hosted",
      sleep: Long => Unit = Thread.sleep,
      log: String => Unit = m => System.err.println(s"[graft] $m")): JobReport = {
    def attemptRun(): JobReport =
      try run(spark, jobYamlPath, mode, log = log)
      catch {
        case e: Exception => // failure before any commit ⇒ retryable exit 2
          log(s"attempt failed: ${e.getMessage}")
          JobReport(ExitCodes.Failure, 0L, 0L, Map.empty, "", "error")
      }
    retryLoop(policy, sleep)(attemptRun _) { report =>
      policy.retryableExitCodes.contains(report.exitCode) &&
        report.validRecords == 0L
    }
  }

  /** THE exponential-backoff loop — `initialDelay × multiplier^attempt`,
    * capped at `maxDelay`, at most `maxRetries` re-attempts. Shared by
    * [[runWithRetry]] and [[Orchestrator.runScheduled]]'s build dispatch
    * so the arithmetic can never drift between the two surfaces; each
    * caller supplies its own `retryable` verdict over the attempt result.
    */
  private[graft] def retryLoop[A](policy: RetryPolicy, sleep: Long => Unit)(
      attempt: () => A)(retryable: A => Boolean): A = {
    var n = 0
    var result = attempt()
    while (n < policy.maxRetries && retryable(result)) {
      sleep(math.min(policy.maxDelayMs,
        (policy.initialDelayMs * math.pow(policy.multiplier, n)).toLong))
      n += 1
      result = attempt()
    }
    result
  }
}

/** CLI verb: `runMain graft.RunJob <job.yaml> [self_hosted|cloud]` —
  * exits with the reference's 0/1/2 contract.
  */
object RunJob {
  def main(args: Array[String]): Unit = {
    val jobPath = args(0)
    val mode = if (args.length > 1) args(1) else "self_hosted"
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    JobRunner.configureCatalog(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // warn-only startup checks, single-job parity with --job-dir
      // (cli.py:221-243 runs env-var + infrastructure validation for
      // every loaded job before execution)
      try {
        val loaded = BatchRunner.LoadedJob(
          java.nio.file.Paths.get(jobPath),
          graft.config.JobConfig.fromYaml(jobPath))
        val missing = BatchRunner.missingEnvVars(loaded)
        if (missing.nonEmpty)
          System.err.println("[graft] Missing required environment variables: " +
            missing.toSeq.sorted.mkString(", "))
        BatchRunner.infrastructureErrors(loaded).foreach(e =>
          System.err.println(s"[graft] Infrastructure validation warning: $e"))
      } catch { case _: Exception => () } // config errors surface in run()
      // GRAFT_TRACE=1 turns on the span log (tracing.py's OTel-or-log
      // degradation — this build's "exporter" is the structured log line)
      val tracer =
        if (sys.env.contains("GRAFT_TRACE"))
          graft.infra.Tracing.logTracer(m => System.err.println(s"[graft] $m"))
        else graft.infra.Tracing.disabled
      val report = JobRunner.run(spark, jobPath, mode, tracer = tracer)
      System.err.println(
        s"[graft] records=${report.records} valid=${report.validRecords} " +
          s"errors=${report.errors} out=${report.outputPath} " +
          f"time=${report.executionTimeSeconds}%.2fs rps=${report.recordsPerSecond}%.1f " +
          s"files=${report.filesWritten} bytes=${report.bytesWritten} " +
          report.commitSnapshotId.map(s => s"snapshot=$s ").getOrElse("") +
          s"exit=${report.exitCode}")
      spark.stop()
      sys.exit(report.exitCode)
    } catch {
      case e: Throwable => // config/registry failures ⇒ exit 2 (cli.py:1006-1067)
        System.err.println(s"[graft] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(ExitCodes.Failure)
    }
  }
}
