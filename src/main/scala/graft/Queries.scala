package graft

import graft.core._
import graft.sinks.ParquetSink
import graft.sources.{CsvOptions, CsvSource, JsonlSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registered operator queries for the driver's correctness gate.
  *
  * Each entry exercises one implemented operator from SURVEY.md §2 against
  * the driver-provided parquet tables, and has a matching ANSI-SQL oracle
  * in `oracles` (runnable by DuckDB on the same tables). Column names and
  * types are aligned on both sides — the driver sorts columns by name and
  * hashes values.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------- S1
  /** CSV spine: documents → temp CSV (with the reference's 'None' null
    * marker injected) → all-string CsvSource scan → nullify → coerce to
    * contract. Exercises S1 + T1 end-to-end.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val contract = DataContract(name = "docs_csv", fields = Seq(
      ContractField("doc_id", "integer", required = true),
      ContractField("lang", "string"),
      ContractField("source", "string"),
      ContractField("n_chars", "integer")))
    val staged = t(spark, dir, "documents").select(
      col("doc_id").cast("string"),
      when(col("doc_id") % 7 === 0, lit("None")).otherwise(col("lang")).as("lang"),
      col("source"),
      col("n_chars").cast("string"))
    val tmp = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_csv_roundtrip_${dir.hashCode}").toString
    staged.write.mode("overwrite").option("header", "true").csv(tmp)
    val raw = CsvSource.read(spark, Seq(tmp), contract, CsvOptions())
    Validation.coerceToContract(raw, contract)
  }

  /** JSONL spine (beyond-reference): documents → temp JSONL (typed JSON
    * null for doc_id%7 langs — JSONL has real nulls, no 'None' marker) →
    * all-string JsonlSource scan → coerce to contract. Exercises the
    * corpus-interchange ingest path end-to-end; corrupt-record capture is
    * spec-tested (JsonlSourceSpec) since to_json can't emit a bad line.
    */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val contract = DataContract(name = "docs_jsonl", fields = Seq(
      ContractField("doc_id", "integer", required = true),
      ContractField("lang", "string"),
      ContractField("source", "string"),
      ContractField("n_chars", "integer")))
    val staged = t(spark, dir, "documents").select(
      to_json(struct(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"),
        col("source"),
        col("n_chars"))).as("value"))
    val tmp = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_jsonl_roundtrip_${dir.hashCode}").toString
    staged.write.mode("overwrite").text(tmp)
    Validation.coerceToContract(
      JsonlSource.readClean(spark, Seq(tmp), contract), contract)
  }

  // -------------------------------------------------------------------- T1
  def coerceInteger(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val s = col("o_orderkey").cast(StringType)
    o.select(
      col("o_orderkey"),
      Coercion.toInteger(s, StringType).as("i_pass"),
      Coercion.toInteger(concat(lit("+"), s), StringType).as("i_plus"),
      Coercion.toInteger(concat(s, lit(".5")), StringType).as("i_frac"),
      Coercion.toInteger(col("o_orderpriority"), StringType).as("i_text"),
      Coercion.toInteger(col("o_totalprice"), DoubleType).as("i_trunc"))
  }

  def coerceBoolean(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val tok = (col("o_orderkey") % 6)
    val str = when(tok === 0, "yes").when(tok === 1, "TRUE")
      .when(tok === 2, "off").when(tok === 3, "0")
      .when(tok === 4, "2").otherwise("maybe")
    o.select(
      col("o_orderkey"),
      Coercion.toBoolean(str, StringType).as("b_str"),
      Coercion.toBoolean(col("o_orderkey") % 3, LongType).as("b_num"))
  }

  def coerceTimestamp(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val iso = date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
    def co(c: org.apache.spark.sql.Column) = Coercion.toTimestampCol(c, StringType)
    o.select(
      col("o_orderkey"),
      co(iso).as("t_iso"),
      co(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as("t_space"),
      co(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("t_date"),
      co(concat(iso, lit("Z"))).as("t_zulu"),
      co(concat(iso, lit("+01:00"))).as("t_offset"),
      co(date_format(col("o_orderdate"), "yyyy")).as("t_bad_year"),
      co(date_format(col("o_orderdate"), "yyyy/MM/dd")).as("t_bad_slash"))
  }

  // -------------------------------------------------------------- T2/T3/T5
  private def docsContract = DataContract(name = "docs", fields = Seq(
    ContractField("doc_id", "integer", required = true),
    ContractField("lang", "string", required = true),
    ContractField("text", "string"),
    ContractField("source", "string")))

  /** Raw all-string-ish frame with crafted nulls for the validation ops. */
  private def docsRaw(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id").cast("string").as("doc_id"),
      when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("text")).as("text"),
      col("source"))

  def requiredFilterStrict(spark: SparkSession, dir: String): DataFrame =
    Validation.validate(docsRaw(spark, dir), docsContract,
      ValidationMode.Strict, s"strict_${System.nanoTime}").data

  def projectWarnExtras(spark: SparkSession, dir: String): DataFrame = {
    val contract = DataContract(name = "docs2", fields = Seq(
      ContractField("doc_id", "integer", required = true),
      ContractField("lang", "string")))
    val raw = t(spark, dir, "documents")
      .select(col("doc_id").cast("string").as("doc_id"),
        col("lang"), col("text"), col("source"), col("n_chars"))
    Validation.validate(raw, contract, ValidationMode.Warn,
      s"warn_${System.nanoTime}").data
  }

  /** T4 error summary as a single wide row (same aggregate expressions the
    * observe() path uses, run as a plain agg so the result IS the query).
    */
  def errorSummary(spark: SparkSession, dir: String): DataFrame = {
    val contract = DataContract(name = "docs3", fields = Seq(
      ContractField("doc_id", "integer", required = true),
      ContractField("lang", "string", required = true),
      ContractField("n_chars", "integer")))
    val raw = t(spark, dir, "documents").select(
      col("doc_id").cast("string").as("doc_id"),
      when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 4 === 0, concat(col("n_chars"), lit(".5")))
        .otherwise(col("n_chars").cast("string")).as("n_chars"))
    // layout: records, missing_required:{doc_id,lang},
    //         type_mismatch:{doc_id,n_chars}
    val m = Validation.errorMetrics(raw, contract)
    raw.agg(m.head.as("records"),
      m(1).as("missing_required_doc_id"),
      m(2).as("missing_required_lang"),
      m(3).as("type_mismatch_doc_id"),
      m(4).as("type_mismatch_n_chars"))
  }

  /** T4 retained error details: first 100 under (record_id, field) order. */
  def errorSamples(spark: SparkSession, dir: String): DataFrame = {
    val contract = DataContract(name = "docs4", fields = Seq(
      ContractField("doc_id", "integer", required = true),
      ContractField("lang", "string", required = true),
      ContractField("n_chars", "integer")))
    val raw = t(spark, dir, "documents").select(
      col("doc_id").cast("string").as("doc_id"),
      when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 4 === 0, concat(col("n_chars"), lit(".5")))
        .otherwise(col("n_chars").cast("string")).as("n_chars"))
    Validation.errorDetails(raw, contract, "doc_id")
      .withColumn("record_id", col("record_id").cast(LongType))
      .orderBy("record_id", "field").limit(100)
  }

  // ------------------------------------------------------------------- W1
  def partitionValueNormalize(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    p.select(
      col("p_partkey"),
      ParquetSink.normalizePartitionValue(col("p_type")).as("v_type"),
      ParquetSink.normalizePartitionValue(col("p_brand")).as("v_brand"),
      ParquetSink.normalizePartitionValue(
        date_format(lit("2021-03-04").cast("date"), "yyyy-MM-dd")).as("v_date"))
  }

  // ------------------------------------------------------------------- M7
  def ingestDate(spark: SparkSession, dir: String): DataFrame =
    ParquetSink.preparePartitions(
      t(spark, dir, "documents").select("doc_id"), Seq("ingest_date"))

  // ------------------------------------------- analytics / bench headliners
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_price"),
        count(lit(1)).as("count_order"))

  /** q6-style filter + agg: predicate pushdown reaches the parquet scan,
    * single-row result.
    */
  def q6FilterAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    orders
      // no broadcast pin (r22 audit): customer is corpus-proportional —
      // the one side this repo's byte doctrine does NOT let a literal
      // hint ship unconditionally. Size-based auto-broadcast (AQE)
      // picks BHJ at every bench SF (same plan, same result) and falls
      // back to a shuffle join if a production customer side outgrows
      // the broadcast ceiling.
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** events.ts has shipped in three parquet shapes so far: timestamp[ns]
    * (read as int64 under spark.sql.legacy.parquet.nanosAsLong),
    * timestamp[us] without a UTC flag (read as TIMESTAMP_NTZ), and plain
    * UTC timestamp. Normalize all three to a session-TZ timestamp (the
    * session TZ is pinned UTC, so NTZ→LTZ is a relabel, matching the
    * oracle's CAST(ts AS TIMESTAMP)); epoch arithmetic downstream
    * (unix_micros, cast-to-long) is an analysis error on NTZ.
    */
  private def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.schema("ts").dataType match {
      case LongType =>
        // integral div: double division would ROUND the microseconds while
        // every ns-aware engine truncates
        e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        e.withColumn("ts", col("ts").cast(TimestampType))
      case _ => e
    }
  }

  /** Z-curve (Morton) value of each event over (user_id, epoch seconds)
    * — the interleave behind [[graft.operators.Layout.zorderBy]]'s
    * two-dimensional file clustering; registering the raw z-value makes
    * the bit math oracle-checkable (the layout action itself — range
    * partition + sort — has nondeterministic file boundaries by design
    * and is spec-tested instead).
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir).select(col("event_id"),
      graft.operators.Layout.zValue(col("user_id"),
        unix_timestamp(col("ts"))).as("z_value"))

  /** Hopping-window event counts (10-minute windows every 5 minutes —
    * each event lands in exactly two overlapping windows): the batch
    * twin of the streaming windowed aggregation, same `window()`
    * semantics the stream runs with a watermark.
    */
  def eventsHoppingWindow(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Rollup aggregation (subtotals + grand total). */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))

  /** Cube aggregation: every grouping-set combination in one pass. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))

  /** Corpus mix report: per-source doc/token/char totals + each
    * source's share of all tokens — the numbers that drive mixture
    * sampling fractions.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.corpusMixReport(
      t(spark, dir, "documents"), "source", "text")

  /** JSON extraction from the events.props payload column. */
  def eventsJsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("k_bucket", col("k") % 10)

  /** Running count per customer — window frame demo. */
  def windowRunningCount(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("running_orders"))
  }

  /** Exact distinct count per group. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("distinct_users"),
        count(lit(1)).as("events"))

  /** Gap-based sessionization over events (30-min gap). */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.sessions(
      eventsTable(spark, dir), "user_id", "ts", "event_id", gapSeconds = 1800)
      .select("user_id", "session_id", "session_start", "session_end", "n_events")

  def eventsLatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    eventsTable(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
  }

  /** As-of join: each click gets the latest same-user purchase at or
    * before it (ts + value), nulls where no purchase precedes.
    */
  def eventsAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(spark, dir)
    graft.operators.AsofJoin.asofJoin(
      left = e.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts"),
      right = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value", "event_id"),
      keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      rightVals = Seq("ts", "value"), tieBreak = Seq("event_id"))
  }

  /** Incremental exact dedup: docs < 250 are the existing corpus
    * (fingerprints only), the batch is docs >= 250 plus planted copies
    * of corpus texts (dropped by the anti-join) and doubled batch texts
    * (dropped by the in-batch keep-min).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpusFp = d.filter(col("doc_id") < 250)
      .select(graft.operators.Dedup.fingerprint(col("text")).as("fp"))
    val batch = d.filter(col("doc_id") >= 250)
      .union(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    graft.operators.Dedup.dropDuplicatesIncremental(batch, "doc_id", "text", corpusFp)
  }

  /** [[dedupIncremental]]'s fixture through the Bloom-prefiltered path:
    * the corpus membership check runs against a sketch map-side, the
    * store is consulted only for bloom-positive candidates, and false
    * positives are removed exactly — so the SAME oracle SQL checks it
    * (the sketch is invisible in the result by construction).
    */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpusFp = d.filter(col("doc_id") < 250)
      .select(graft.operators.Dedup.fingerprint(col("text")).as("fp"))
    val sketch = graft.operators.Dedup.buildFingerprintBloom(
      corpusFp, expectedItems = 10000)
    val batch = d.filter(col("doc_id") >= 250)
      .union(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    graft.operators.Dedup.dropDuplicatesIncrementalBloom(
      batch, "doc_id", "text", corpusFp, sketch)
  }

  /** Incremental NEAR-dup dedup: docs < 250 are the existing corpus,
    * represented by its minhash band-key store (plus candidate-pruned
    * text lookups for the exact verify); the batch is docs >= 250 plus
    * planted copies of corpus texts (dropped via the store LSH join) and
    * copies of batch texts (dropped by within-batch clustering). The
    * oracle replays both steps with exact all-pairs Jaccard — the banded
    * LSH + exact verify equals it (recall 1 − ~4e-8 at j = 0.9, exactly
    * 1 for the planted identical copies).
    */
  def dedupMinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = d.filter(col("doc_id") < 250)
    val bandStore = graft.operators.Dedup.minhashBandKeys(corpus, "doc_id", "text")
    val batch = d.filter(col("doc_id") >= 250)
      .union(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id").between(250, 274))
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    graft.operators.Dedup.dropNearDuplicatesIncremental(
      batch, "doc_id", "text", bandStore, corpus)
      .select("doc_id")
  }

  /** Exact substring-span dedup over documents plus planted copies of
    * docs < 100 (guaranteed repeated passages): every maximal token span
    * whose 10-token windows all occur at least twice corpus-wide. The
    * organic planted near-dups contribute partial-document spans; the
    * copies contribute full-document ones.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = d.union(d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    graft.operators.Dedup.duplicateSpans(corpus, "doc_id", "text",
      windowTokens = 10)
  }

  /** Span REMOVAL twin of [[dedupSpans]]: every non-canonical occurrence
    * of a duplicated 10-token window is cut and the text reassembled
    * from surviving tokens (case preserved, single-space joined);
    * fully-duplicate documents disappear.
    */
  def dedupSpansRemove(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = d.union(d.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    graft.operators.Dedup.removeDuplicateSpans(corpus, "doc_id", "text",
      windowTokens = 10)
  }

  /** URL canonicalization + dedup over URLs synthesized from doc_id
    * (mixed-case host, default port, trailing slash, tracking params,
    * fragment — each present-or-absent by mod so the corpus collides
    * onto shared canonical URLs).
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("HTTPS://Src"), col("doc_id") % 20, lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs/"), col("doc_id") % 50,
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id") % 7))
        .when(col("doc_id") % 5 === 0, concat(lit("?id="), col("doc_id") % 7))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
    graft.operators.UrlOps.dedupByUrl(
      t(spark, dir, "documents").select("doc_id").withColumn("url", url),
      "doc_id", "url")
  }

  /** Interval join: clicks within the hour BEFORE a same-user purchase
    * (attribution windows), via hour-bucketized equi-join — never a
    * nested-loop range join.
    */
  def eventsIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(spark, dir)
    val HourUs = 3600L * 1000 * 1000
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("event_id").as("click_id"),
      unix_micros(col("ts")).as("p"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("event_id").as("purchase_id"),
      (unix_micros(col("ts")) - HourUs).as("w_start"),
      unix_micros(col("ts")).as("w_end"))
    graft.operators.RangeJoin.intervalJoin(
      clicks, purchases, Seq("user_id"), "p", "w_start", "w_end", HourUs)
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (col("w_end") - col("p")).as("gap_us"))
  }

  // ------------------------------------------------------ LLM-pipeline ops
  /** Exact dedup: duplicate the corpus with shifted ids, keep min doc_id
    * per distinct text (hash groupBy — map-side combine, one shuffle).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val doubled = d.union(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    doubled.groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
  }

  /** Exact-dedup survivor set via the window operator (keep min doc_id). */
  def dedupExactKeep(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val doubled = d.union(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    graft.operators.Dedup.dropExactDuplicates(doubled, "doc_id", "text")
  }

  /** MinHash-LSH near-dup pairs over the documents table (the generator
    * plants real near-dups). Every pair with exact Jaccard ≥ 0.9 must
    * surface — banding recall at j = 0.9 with 16×4 is 1 − ~3.8e-8 — and
    * the exact-Jaccard verify step makes the output equal the all-pairs
    * oracle without ever running all-pairs.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashNearDupPairs(
      t(spark, dir, "documents"), "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.9)

  /** Blocked exact n-gram Jaccard (block = lang) on documents. */
  def dedupNgramBlock(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.ngramJaccardPairs(
      t(spark, dir, "documents"), "doc_id", "text", "lang",
      shingleN = 3, threshold = 0.9)

  /** Directed shingle containment (quote/boilerplate inclusion): pairs
    * where ≥ 80% of the contained doc's shingles also appear in the
    * container, blocked by language. The oracle replays the all-pairs
    * intersect with the asymmetric denominator.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      t(spark, dir, "documents"), "doc_id", "text", "lang",
      shingleN = 3, threshold = 0.8)

  /** Near-dup REMOVAL: LSH pairs → transitive connected components →
    * keep each cluster's min-id survivor. Oracle replays the clustering
    * with a recursive CTE over the exact all-pairs graph.
    */
  def dedupMinhashDrop(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dropNearDuplicates(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.9)
      .select("doc_id")

  /** Quality-aware near-dup REMOVAL: same clusters as
    * [[dedupMinhashDrop]], but each cluster keeps its LONGEST member
    * (n_chars descending, ties to the lower id) — the survivor rule a
    * real curation pass wants.
    */
  def dedupMinhashKeepBest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dropNearDuplicatesKeepBest(
      t(spark, dir, "documents").select("doc_id", "text", "n_chars"),
      "doc_id", "text", "n_chars",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.9)
      .select("doc_id", "n_chars")

  /** SimHash near-dup pairs with the oracle-replicable 60-bit md5-prefix
    * token hash — the DuckDB oracle replays the full simhash (votes →
    * bits → hamming) and checks the pair set exactly. The chunked
    * candidate pass is exact by pigeonhole, so the oracle's all-pairs
    * hamming filter is the same result set.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.simhashNearDupPairs(
      t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3,
      bits = 60, hasher = graft.operators.Dedup.SimhashHasher.Md5_60)
      .withColumn("hamming", col("hamming").cast(LongType))

  /** SimHash near-dup REMOVAL (md5-60 oracle variant): transitive
    * clusters of the `dedup_simhash` pair set collapse to their min-id
    * survivor; the oracle replays pairs all-pairs (equal by pigeonhole)
    * then walks components with a recursive CTE.
    */
  def dedupSimhashDrop(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dropSimhashNearDuplicates(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text",
      maxHamming = 3, bits = 60, hasher = graft.operators.Dedup.SimhashHasher.Md5_60)
      .select("doc_id")

  /** Incremental SIMHASH dedup: docs < 250 are the existing corpus,
    * represented ONLY by its (id, simhash) store; the batch is docs
    * >= 250 plus planted copies of corpus texts (dropped via the store's
    * Hamming check) and copies of batch texts (dropped by within-batch
    * clustering). Corpus text is never re-read.
    */
  def dedupSimhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = d.filter(col("doc_id") < 250)
    val store = graft.operators.Dedup.simhashTable(corpus, "doc_id", "text",
      bits = 60, hasher = graft.operators.Dedup.SimhashHasher.Md5_60)
    val batch = d.filter(col("doc_id") >= 250)
      .union(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id").between(250, 274))
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    graft.operators.Dedup.dropSimhashDuplicatesIncremental(
      batch, "doc_id", "text", store, maxHamming = 3,
      bits = 60, hasher = graft.operators.Dedup.SimhashHasher.Md5_60)
      .select("doc_id")
  }

  /** Corpus vocabulary top-50 by term frequency (tf + document
    * frequency, ties → token ascending) — tokenizer-training /
    * stopword-derivation input. TakeOrderedAndProject top-k, never a
    * global sort.
    */
  def textVocabTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.vocabTopK(
      t(spark, dir, "documents"), "doc_id", "text", k = 50)

  /** Token-entropy signals: exact-integer micro-nat entropy numerators
    * per document — lexical-diversity gate input; hash-exact oracle.
    */
  def textTokenEntropy(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.tokenEntropySignals(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Compression-ratio quality signals (DEFLATE kernel) — heuristic
    * boilerplate detector. Oracle-checked via the checker-registered
    * `zlib_deflate_len` Python UDF (DuckDB itself has no zlib): Python
    * zlib.compress(level 6) replays the engine's Deflater(6) config.
    */
  def textCompressionRatio(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.compressionSignals(
      t(spark, dir, "documents"), "doc_id", "text")

  /** Hashed TF-IDF sparse vectors (64 buckets, milli-nat idf): the
    * model-free in-engine embedding — every column exact-integer, so the
    * whole vector table is hash-checked against the replayed fit.
    */
  def textTfidfVectors(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Tfidf.hashedVectors(
      t(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", buckets = 64)
      .withColumnRenamed("id", "doc_id")

  /** TF-IDF through the PERSISTED fit: save the ≤64-row idf table, load
    * it back, vectorize against the frozen fit — bit-identical to the
    * in-flight path (longs round-trip parquet exactly), same oracle.
    */
  def textTfidfVectorsStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val store = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_tfidf_store_${dir.hashCode}").toString
    graft.operators.Tfidf.saveIdf(docs, "doc_id", "text", store, buckets = 64)
    graft.operators.Tfidf.hashedVectorsWithIdf(docs, "doc_id", "text",
      graft.operators.Tfidf.loadIdf(spark, store), buckets = 64)
      .withColumnRenamed("id", "doc_id")
  }

  /** Incremental TF-IDF near-dup dedup: docs < 250 are the corpus,
    * persisted as a TF-IDF store (frozen idf fit + vectors + df-capped
    * postings); the batch is docs ≥ 250 plus planted copies of corpus
    * texts (dropped via the store join) and copies of batch texts
    * (collapsed by within-batch clustering). Same batch construction as
    * `dedup_minhash_incremental`; the oracle replays fit, candidates,
    * the exact-integer cosine test, and the recursive CC.
    */
  def dedupTfidfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select("doc_id", "text")
    val corpus = d.filter(col("doc_id") < 250)
    val store = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_tfidf_inc_${dir.hashCode}").toString
    graft.operators.Tfidf.saveStore(corpus, "doc_id", "text", store,
      buckets = 64, maxTokenDf = 50)
    val batch = d.filter(col("doc_id") >= 250)
      .union(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id").between(250, 274))
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    graft.operators.Tfidf.dropNearCorpusTfidf(
      batch, "doc_id", "text", store, buckets = 64, maxTokenDf = 50)
      .select("doc_id")
  }

  /** Cosine ≥ 0.8 near-dup pairs over the hashed TF-IDF vectors:
    * rare-token postings candidates (2 ≤ df ≤ 50), exact-integer
    * den²·dot² ≥ num²·n2a·n2b verification — model-free semantic dedup
    * when no embedding column exists.
    */
  def tfidfCosinePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Tfidf.cosinePairs(
      t(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", buckets = 64, maxTokenDf = 50, tauNum = 4, tauDen = 5)

  /** Cross-source shingle-overlap matrix: distinct 3-gram shingles of
    * source A also present in source B, plus A's shingle count — the
    * cross-corpus contamination/redundancy dashboard.
    */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.sourceShingleOverlap(
      t(spark, dir, "documents"), "doc_id", "text", "source", shingleN = 3)

  /** Token-count histogram (width-10 buckets) of the documents table. */
  def statsLengthHist(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.tokenLengthHistogram(
      t(spark, dir, "documents"), "text", bucketWidth = 10)

  /** Per-source Gopher quality rollup: docs, keepers, and per-rule fail
    * counts — the corpus-QA dashboard a curation pass reads per source.
    * Integer counts only, so the rollup is order-independent and
    * hash-exact.
    */
  def textQualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val rep = graft.operators.TextAnalysis.gopherQualityReport(
      d.select("doc_id", "text"), "doc_id", "text")
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    d.select(col("doc_id"), col("source")).join(rep, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        cnt(col("keep")).as("n_keep"),
        cnt(col("fail_word_count")).as("n_fail_word_count"),
        cnt(col("fail_mean_token_len")).as("n_fail_mean_token_len"),
        cnt(col("fail_punct_ratio")).as("n_fail_punct_ratio"),
        cnt(col("fail_dup_word")).as("n_fail_dup_word"),
        cnt(col("fail_top_word")).as("n_fail_top_word"),
        cnt(col("fail_top_bigram")).as("n_fail_top_bigram"))
  }

  /** Discrete per-language length quantiles (p50/p90/p99 of n_chars):
    * the value at sorted position floor(p·(n−1))+1 — no interpolation,
    * so the output is integer-deterministic across engines (continuous
    * quantiles interpolate in floating point and DuckDB's arithmetic
    * differs in the last bit). One grouped sort per stratum — the
    * formulation that scales is exactly this window, since each language
    * partition sorts independently.
    */
  def statsQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = t(spark, dir, "documents").select(col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy("n_chars")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    def pick(p: Double, name: String) =
      max(when(col("rn") === floor(lit(p) * (col("n") - 1)) + 1,
        col("n_chars"))).as(name)
    ranked.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
  }

  /** Deterministic corpus-shuffle keys (seed 7): where each document
    * lands in the epoch order, reproducible across runs and engines —
    * the sort/partition action itself is [[graft.operators.Sampling
    * .deterministicShuffle]]; registering the keys makes the order
    * oracle-checkable.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      graft.operators.Sampling.shuffleKey(col("doc_id"), seed = 7L)
        .as("shuffle_key"))

  /** Domain-blocklist filter over the synthesized URL column: drop docs
    * from src3/src7 domains (including subdomains); the oracle rebuilds
    * the same URLs and replays the domain extraction.
    */
  def urlDomainFilter(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("HTTPS://Src"), col("doc_id") % 20, lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs/"), col("doc_id") % 50)
    graft.operators.UrlOps.filterBlockedDomains(
      t(spark, dir, "documents").select("doc_id").withColumn("url", url),
      "url", Seq("src3.example.com", "src7.example.com", "blocked.net"))
      .select("doc_id", "url")
  }

  /** Per-domain quota over the same synthesized URLs (20 domains → 25
    * docs each at sf0.001): cap at 10 docs/domain, kept set = first 10
    * per domain in md5-key order.
    */
  def urlDomainQuota(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("HTTPS://Src"), col("doc_id") % 20, lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs/"), col("doc_id") % 50)
    graft.operators.UrlOps.capPerDomain(
      t(spark, dir, "documents").select("doc_id").withColumn("url", url),
      "doc_id", "url", maxDocs = 10)
  }

  /** Gopher-style repetition signals over the documents table. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.repetitionSignals(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text")

  /** The n-gram half of Gopher's repetition rules: top-2/3/4-gram and
    * duplicate-5..10-gram character fractions per document — one token
    * pass, one windowed gram build, one tall (id, n, gram) aggregation.
    */
  def textRepetitionNgrams(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.repetitionNgramSignals(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text")

  /** Paragraph-level dedup (corpus-wide keep-first + reassembly). The
    * synthetic documents have no blank-line paragraphs, so the registered
    * query splits on single spaces — every token a "paragraph" — which
    * drives the identical split → fingerprint-window → ordered-reassembly
    * plan and lets DuckDB replay it exactly; production use keeps the
    * `\n{2,}` default.
    */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dropDuplicateParagraphs(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text",
      sepRegex = " ", joinSep = " ")

  /** PRODUCTION simhash: xxhash64 token hash over the full 64 bits — the
    * default a user actually ships ([[graft.operators.Dedup
    * .simhashNearDupPairs]] defaults). xxhash64 has no DuckDB analog, so
    * this variant is registered BENCH-ONLY ([[benchOnly]]): algorithm
    * correctness is oracle-checked via `dedup_simhash`, which runs the
    * identical code path with the md5-prefix hasher swapped in. The
    * md5 variant is ~2.3× slower, so without this entry the headline
    * bench would misstate the production path's cost.
    */
  def dedupSimhashProd(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.simhashNearDupPairs(
      t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)

  /** Brute-force cosine top-5 for the first 10 vectors (exact baseline;
    * broadcast query set, corpus streamed).
    */
  def annBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.operators.Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** LSH-bucketed approximate top-5 (the scale path). The hyperplane
    * signs are driver-side literals, so the oracle embeds the same ±1
    * arrays and replays bucketing + bucket-local rank bit-exactly.
    */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.operators.Similarity.lshTopK(
      e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, planes = 4, dim = 64)
  }

  /** Multi-probe LSH top-5 (Lv et al. 2007): same 4-plane bucketing as
    * ann_lsh_topk, but each query also probes the 2 buckets reached by
    * flipping its smallest-margin sign bits — 3× the candidate budget
    * with no extra tables. The oracle replays the margin sort (|dot|
    * ASC, plane ASC), the pow(2,j) bit flips, and the bucket-local rank
    * bit-exactly from the same literal sign vectors.
    */
  def annLshMultiprobeTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    graft.operators.Similarity.lshTopK(
      e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, planes = 4, dim = 64, probes = 3)
  }

  /** Multi-probe LSH top-5 through the PERSISTED bucket index — the
    * production shape: (id, vector, norm) partitioned by bucket, the
    * probe reading only the probed-bucket union (partition-pruned).
    * Same planes/probes as ann_lsh_multiprobe_topk, so the SAME oracle
    * checks it — the store round trip must be value-exact.
    */
  def annLshStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val store = java.nio.file.Files
      .createTempDirectory("graft_lsh_store_").toString
    graft.operators.Similarity.writeLshBuckets(
      e, "vec_id", "embedding", store, planes = 4, dim = 64)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.lshTopKFromStore(
      spark, store, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, planes = 4, dim = 64, probes = 3)
  }

  /** Embedding-cosine near-dup pairs. The oracle replays all 8 tables'
    * bucketings from the same literal sign vectors (all-pairs with an
    * OR-of-bucket-equalities filter — identical candidate set to the
    * bucket self-join) and verifies cosine bit-exactly.
    */
  def annCosineNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.cosineNearDupPairs(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, planes = 4, tables = 8)

  /** Incremental EMBEDDING near-dup dedup: vectors < 250 are the
    * existing corpus, represented by its LSH bucket-key store (plus
    * candidate-pruned vector lookups for the exact-cosine verify); the
    * batch is vectors >= 250 plus planted corpus copies (dropped via the
    * store join) and NEGATED corpus vectors (cosine −1 → kept). The
    * oracle replays the bucketing from the same sign literals and walks
    * within-batch components with a recursive CTE.
    */
  def annNearDupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") < 250)
    val store = graft.operators.Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 8)
    val batch = e.filter(col("vec_id") >= 250)
      .union(e.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .union(e.filter(col("vec_id") < 15)
        .select((col("vec_id") + 30000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    graft.operators.Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "embedding", store, corpus,
      threshold = 0.4, planes = 4, tables = 8)
      .select("vec_id")
  }

  /** Incremental embedding dedup against a HALF-SIZE store (4 tables vs
    * the base query's 8) with the batch multi-probing its
    * smallest-margin flip bucket per table (probes=2): the persisted
    * (id, bk) store holds half the keys, the batch side recovers the
    * recall. Same corpus/batch construction as ann_neardup_incremental;
    * the oracle replays the 4 bucketings, the per-table margin argmin +
    * flip on the batch side, the within-batch recursive CC (single-probe
    * — the self-join is symmetric), and the exact-cosine verify.
    */
  def annNearDupIncrementalMultiprobe(spark: SparkSession,
      dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") < 250)
    val store = graft.operators.Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 4)
    val batch = e.filter(col("vec_id") >= 250)
      .union(e.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .union(e.filter(col("vec_id") < 15)
        .select((col("vec_id") + 30000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    graft.operators.Similarity.dropNearCorpusEmbeddings(
      batch, "vec_id", "embedding", store, corpus,
      threshold = 0.4, planes = 4, tables = 4, probes = 2)
      .select("vec_id")
  }

  /** Semantic decontamination: vec_id < 25 is the held-out benchmark;
    * corpus rows (vec_id >= 25) within 0.4 cosine of any benchmark
    * vector drop. The oracle replays all 8 LSH bucketings from the same
    * sign literals, then the exact-cosine verify.
    */
  def annDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.operators.Decontaminate.dropNearBenchmarkEmbeddings(
      e.filter(col("vec_id") >= 25), e.filter(col("vec_id") < 25),
      "vec_id", "embedding", threshold = 0.4, planes = 4, tables = 8)
      .select("vec_id")
  }

  /** Multi-probe semantic decontamination at HALF the tables (4×4,
    * probes=2 vs the base path's 4×8): the corpus is hashed/exploded
    * half as much, the benchmark side probes its kernel bucket plus the
    * smallest-margin flip per table. The oracle replays the per-table
    * margin argmin (ties → lower plane), the single bit flip, and the
    * OR-of-probed-bucket candidate test bit-exactly from the same sign
    * literals.
    */
  def annDecontaminateMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.operators.Decontaminate.dropNearBenchmarkEmbeddings(
      e.filter(col("vec_id") >= 25), e.filter(col("vec_id") < 25),
      "vec_id", "embedding", threshold = 0.4, planes = 4, tables = 4,
      probes = 2)
      .select("vec_id")
  }

  /** Deterministic Bernoulli sample: shuffle-free hash filter; the
    * oracle replays the identical hash + threshold, so the sampled SET
    * (not just its size) is checked.
    */
  def sampleBernoulli(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.bernoulliSample(
      t(spark, dir, "documents").select("doc_id", "lang", "source"),
      "doc_id", fraction = 0.2)

  /** Deterministic 80/10/10 train/val/test assignment over documents. */
  def sampleSplits(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.assignSplits(
      t(spark, dir, "documents").select("doc_id", "source"),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** Deterministic stratified sample: first 20 docs per language in
    * hash order (uniform without-replacement draw per stratum).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      t(spark, dir, "documents").select("doc_id", "lang"),
      "lang", "doc_id", n = 20)

  /** Weighted mixture sample: per-source keep fractions in one pass —
    * keep all of src0, half of src1, a tenth of src2, 5% of the rest.
    */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureSample(
      t(spark, dir, "documents").select("doc_id", "source"),
      "source", "doc_id",
      fractions = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1),
      defaultFraction = 0.05)

  /** Fractional epoch upsampling: every document 2.3× — two guaranteed
    * copies plus a seeded 30% draw for the third, 0-based copy index.
    * Shuffle-free literal-bounded explode; the oracle replays the draw
    * and the generate_series, so the exact multiset of copies is
    * checked.
    */
  def sampleUpsample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.upsample(
      t(spark, dir, "documents").select("doc_id", "source"),
      "doc_id", rate = 2.3, seed = 11L)

  /** DSIR importance resampling: every 10th document plays the target
    * domain; the full corpus is scored by hashed-unigram log-likelihood
    * ratio (64 buckets, micro-nat integer scores) and the top quarter
    * under Gumbel(id, seed=42) perturbation is kept. All output columns
    * are exact integers, so the oracle replay is hash-exact.
    */
  def sampleDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val k = math.ceil(0.25 * docs.count()).toInt
    graft.operators.Sampling.importanceResample(
      docs.select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text")),
      "doc_id", "text", k = k, buckets = 64, seed = 42L)
  }

  /** Benchmark decontamination: every 20th doc plays the held-out eval
    * set; the rest of the corpus is scored by shared 3-gram count.
    */
  def textDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.operators.Decontaminate.contaminationReport(
      corpus = docs.filter(col("doc_id") % 20 =!= 0),
      bench = docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", shingleN = 3)
  }

  /** Benchmark-side leakage report: per held-out example, how many
    * corpus docs share a 3-gram with it and how many of its shingles
    * leak — the eval-integrity dashboard (same split as
    * text_decontaminate).
    */
  def textLeakageReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.operators.Decontaminate.benchmarkLeakageReport(
      corpus = docs.filter(col("doc_id") % 20 =!= 0),
      bench = docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", shingleN = 3)
  }

  /** PII scrub: the corpus text carries no PII (verified — no digits or
    * '@' in testdata), so deterministic email/IP/phone spans are salted
    * in from doc_id (present or absent by mod, so counts vary), then
    * detected and redacted by the operator under test.
    */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val salted = t(spark, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 =!= 0, concat(
          lit(" mail user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 =!= 0, concat(
          lit(" ip 10.0."), col("doc_id") % 256, lit(".7")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 =!= 0, concat(
          lit(" call +1 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("pii_text"))
    graft.operators.PiiRedact.withRedaction(salted, "pii_text")
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "redacted")
  }

  /** Gopher-rule composite quality verdict per document (default
    * thresholds; booleans only, so no float formatting crosses engines).
    */
  def textGopherFilter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.gopherQualityReport(
      t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text")

  /** Token-window chunking: 32-token windows sliding by 24 (8-token
    * overlap) — documents become training-sequence-sized pieces.
    */
  def textChunk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunkByTokens(
      t(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", maxTokens = 32, overlap = 8)

  /** IVF ANN: 16 seed centroids (vec_id < 16), 4 probed lists, exact
    * cosine top-5 within the probed fraction of the corpus.
    */
  /** PQ ANN top-5 by asymmetric distance: codebook seeded from the first
    * 8 vectors sliced into 4×16-dim subspaces, corpus encoded to 4 codes
    * map-side, queries (vec_id < 10) carry their distance LUT. The
    * oracle replays encode (argmin per subspace, ties to the lower
    * code) and ADC (per-subspace `list_reduce` folds summed in subspace
    * order) bit-exactly.
    */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cb = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    graft.operators.Similarity.pqTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, codebook = cb,
      m = 4, numCodes = 8, dsub = 16)
  }

  /** IVF+PQ composed (the FAISS IVFPQ shape): the 16 seeded coarse
    * centroids prune to 4 probed lists per query, PQ codes + the query
    * LUT score the candidates. The oracle composes the ivf assignment
    * CTEs with the PQ encode/ADC CTEs — both replay bit-exactly, so the
    * composition does too.
    */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val cb = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    graft.operators.Similarity.ivfPqTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16)
  }

  /** IVFADC with RESIDUAL encoding (the full Jégou et al. 2011 shape):
    * corpus vectors PQ-encode their residual against their coarse
    * centroid, queries build one LUT per probed list from their own
    * residual, and the codebook is SEEDED ON RESIDUALS (first 8 ids'
    * residual slices). The oracle replays assignment, residual
    * subtraction (exact IEEE `e[i] − ce[i]` per dim), seed slices,
    * strict-< encode, per-list query residuals, and ADC bit-exactly.
    */
  def annIvfPqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val res = graft.operators.Similarity.residualFrame(
      emb, "vec_id", "embedding", cents)
    val cb = graft.operators.Similarity.seedPqCodebooks(
      res, "id", "res", m = 4, k = 8, dsub = 16)
    graft.operators.Similarity.ivfPqResidualTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16)
  }

  /** Weights of the demo linear quality model (fastText-style logit
    * scoring): micro-quantized ONCE here, shared verbatim by the Spark
    * query and the oracle's VALUES table. Common function words weigh
    * positive (prose signal), spam tokens negative — the shape a real
    * classifier learns; the values themselves are fixtures.
    */
  private val modelWeights: Seq[(String, Double)] = Seq(
    "the" -> 0.8, "and" -> 0.5, "of" -> 0.4, "to" -> 0.3,
    "data" -> 1.2, "model" -> 1.0, "learning" -> 1.1,
    "click" -> -2.0, "free" -> -1.5, "buy" -> -2.5, "winner" -> -3.0,
    "subscribe" -> -1.8)
  private val modelBias: Double = -0.2

  /** Model-based quality scoring (the CCNet/FineWeb-Edu classifier
    * stage, linear fastText shape): logit = bias + mean token weight,
    * OOV tokens weigh 0, zero-token docs unscorable. The oracle joins
    * the same micro-unit VALUES table and replays the BIGINT sum + the
    * two exact double divisions bit-for-bit.
    */
  def textModelScore(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.QualityModel.fromMap(
      spark, modelWeights.toMap, modelBias)
    graft.operators.QualityModel.scoreDocs(
      t(spark, dir, "documents"), m, "doc_id", "text")
  }

  /** The same scoring through a PERSISTED model store (save → load →
    * score): micro-unit longs and token strings round-trip parquet
    * exactly, so the SAME oracle checks the whole store cycle.
    */
  def textModelScoreStore(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.QualityModel.fromMap(
      spark, modelWeights.toMap, modelBias)
    val store = java.nio.file.Files
      .createTempDirectory("graft_qmodel_store_").toString
    graft.operators.QualityModel.saveModel(m, store)
    ivfStoreDirs.add(store)
    graft.operators.QualityModel.scoreDocs(
      t(spark, dir, "documents"),
      graft.operators.QualityModel.loadModel(spark, store),
      "doc_id", "text")
  }

  /** SQ8 compressed-flat ANN (FAISS QT_8bit): per-dim (min, max) trained
    * in one aggregate pass over the corpus, each vector encoded to 64
    * code BYTES, full-precision queries score by decode-on-the-fly
    * asymmetric L2². The oracle replays training (per-dim min/max GROUP
    * BY), the floor/clamp encode, and the decode-subtract-square
    * sequential fold bit-exactly — each scale/step division happens
    * exactly once on both sides.
    */
  def annSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    graft.operators.Similarity.sqTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, mins = mins, maxs = maxs)
  }

  /** SQ8 through the PERSISTED byte-code store: (id, codes binary) at 1
    * byte per dim, probed with the same params the store was trained
    * with (`_meta` fingerprint refuses a mismatch). Code bytes
    * round-trip parquet exactly, so the SAME oracle as ann_sq_topk
    * checks the whole build→store→probe path.
    */
  def annSqStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    val store = java.nio.file.Files
      .createTempDirectory("graft_sq_store_").toString
    graft.operators.Similarity.writeSqCodes(
      emb, "vec_id", "embedding", store, mins, maxs)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.sqTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, mins = mins, maxs = maxs)
  }

  /** IVF + SQ8: coarse-quantizer pruning (nprobe=4 of 16 seed lists)
    * over byte-compressed vectors — ivf_topk's sublinearity at
    * ann_sq_topk's compression. The oracle composes the IVF assignment/
    * probe CTEs with the SQ train/encode/decode/fold CTEs bit-exactly.
    */
  def annIvfSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    graft.operators.Similarity.ivfSqTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      mins = mins, maxs = maxs)
  }

  /** IVF-SQ8 through the PERSISTED index: (id, codes binary) partitioned
    * by list, probes read only probed-list partitions (literal IN →
    * partition-pruned scan). Code bytes round-trip parquet exactly, so
    * the SAME oracle as ann_ivfsq_topk checks build→store→probe.
    */
  def annIvfSqStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivfsq_store_").toString
    graft.operators.Similarity.writeIvfSqCodes(
      emb, "vec_id", "embedding", cents, store, mins, maxs)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.ivfSqTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      mins = mins, maxs = maxs)
  }

  /** SQ8 shortlist + exact refine (FAISS IndexRefineFlat shape): the
    * ADC top-20 per query re-scored with the exact L2² between the raw
    * vectors and re-ranked to top-5. The oracle replays the full ADC
    * chain at rank ≤ 20, then the exact per-dim sequential fold.
    */
  def annSqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    graft.operators.Similarity.sqRerankTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, mins = mins, maxs = maxs, factor = 4)
  }

  /** IVFPQ shortlist + exact refine: the probed lists' ADC top-20 per
    * query re-ranked by exact L2² — fixes what the lossy codes misorder
    * within the shortlist (it cannot resurrect unprobed lists).
    */
  def annIvfPqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val cb = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    graft.operators.Similarity.ivfPqRerankTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16, factor = 4)
  }

  /** Fully-persisted two-stage retrieval: compressed store shortlist +
    * exact refine from the raw IVF store, BOTH scans pruned to the
    * probed lists. Codes and raw floats round-trip parquet exactly, so
    * the SAME oracle as ann_ivfpq_rerank_topk checks the whole
    * build→stores→probe→refine chain.
    */
  def annIvfPqRerankStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val cb = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    val pqStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_pq_").toString
    val rawStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_raw_").toString
    graft.operators.Similarity.writeIvfPqAssignments(
      emb, "vec_id", "embedding", cents, cb, pqStore,
      m = 4, numCodes = 8, dsub = 16)
    graft.operators.Similarity.writeIvfAssignments(
      emb, "vec_id", "embedding", cents, rawStore)
    ivfStoreDirs.add(pqStore)
    ivfStoreDirs.add(rawStore)
    graft.operators.Similarity.ivfPqRerankTopKFromStores(
      spark, pqStore, rawStore, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16, factor = 4)
  }

  /** Binary (1-bit sign) quantization top-k through the PERSISTED
    * sign-bit store: 64 dims pack to two 32-bit words (dim/8 bytes per
    * vector — 32× under float32), candidates rank by exact-integer
    * Hamming distance. Packed longs round-trip parquet exactly, so one
    * oracle (sign-pack + xor/popcount replay) checks build→store→probe.
    */
  def annBinaryStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val store = java.nio.file.Files
      .createTempDirectory("graft_binary_store_").toString
    graft.operators.Similarity.writeSignBits(
      emb, "vec_id", "embedding", store, dim = 64)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.binaryTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64)
  }

  /** IVF + binary through the PERSISTED partition-pruned index:
    * ivf_topk's sublinearity at 32× compression (two longs per vector).
    * Build→store→probe under one oracle (IVF assignment/probe CTEs +
    * sign-pack + xor/popcount over probed-list candidates).
    */
  def annIvfBinaryStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivfbinary_store_").toString
    graft.operators.Similarity.writeIvfBinary(
      emb, "vec_id", "embedding", cents, store, dim = 64)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.ivfBinaryTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      dim = 64)
  }

  /** Fully-persisted binary two-stage retrieval: the sign-bit store
    * answers the Hamming top-20 shortlist, the raw IVF store answers
    * the exact refine, both scans pruned to the probed lists — the
    * smallest stage-one IO in the two-stage family (two longs per
    * vector). Packed longs and raw floats round-trip parquet exactly,
    * so one oracle replays build→stores→probe→refine.
    */
  def annIvfBinaryRerankStoreTopK(spark: SparkSession,
      dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val binStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_ivfbin_").toString
    val rawStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_ivfbinraw_").toString
    graft.operators.Similarity.writeIvfBinary(
      emb, "vec_id", "embedding", cents, binStore, dim = 64)
    graft.operators.Similarity.writeIvfAssignments(
      emb, "vec_id", "embedding", cents, rawStore)
    ivfStoreDirs.add(binStore)
    ivfStoreDirs.add(rawStore)
    graft.operators.Similarity.ivfBinaryRerankTopKFromStores(
      spark, binStore, rawStore, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      dim = 64, factor = 4)
  }

  /** Matryoshka prefix-dim two-stage: exact cosine over the first 16
    * dims (¼ of the stage-one bytes, zero index infrastructure) ranks
    * the top-20 shortlist, exact full-dim L2² re-ranks to top-5. The
    * oracle replays the 16-dim folds and the full-dim refine.
    */
  def annMatryoshkaRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.operators.Similarity.prefixRerankTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, prefixDim = 16, factor = 4)
  }

  /** Matryoshka prefix slice FEEDING an SQ8 first stage + exact
    * full-dim refine — the composed truncate×quantize two-stage (stage
    * one moves 16 bytes/row against the raw scan's 256): SQ grid
    * trained on the 16-dim slices, ADC top-20 per query, exact L2²
    * re-rank. The oracle replays slice → per-prefix-dim min/max grid →
    * encode/bin-center decode → ADC fold → full-dim refine.
    */
  def annMatryoshkaSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.operators.Similarity.prefixSqRerankTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, prefixDim = 16, factor = 4)
  }

  /** Binary stage + exact refine — the 1-bit "quantize + rescore"
    * deployment: Hamming top-20 per query re-ranked by exact L2².
    */
  def annBinaryRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    graft.operators.Similarity.binaryRerankTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, factor = 4)
  }

  /** Fully-persisted IVF-SQ8 two-stage retrieval — the PRODUCTION
    * configuration the RECALL harness pins (ivfsq shortlist recall
    * ~0.97–0.98 at nprobe=16; exact refine restores top-k order): the
    * byte-code store answers the ADC top-20 per query, the raw IVF
    * store answers the exact refine, both scans pruned to the probed
    * lists. Codes and raw floats round-trip parquet exactly, so one
    * oracle replays build→stores→probe→refine bit-for-bit.
    */
  def annIvfSqRerankStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      emb, "embedding", dim = 64)
    val sqStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_ivfsq_").toString
    val rawStore = java.nio.file.Files
      .createTempDirectory("graft_2stage_ivfsqraw_").toString
    graft.operators.Similarity.writeIvfSqCodes(
      emb, "vec_id", "embedding", cents, sqStore, mins, maxs)
    graft.operators.Similarity.writeIvfAssignments(
      emb, "vec_id", "embedding", cents, rawStore)
    ivfStoreDirs.add(sqStore)
    ivfStoreDirs.add(rawStore)
    graft.operators.Similarity.ivfSqRerankTopKFromStores(
      spark, sqStore, rawStore, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      mins = mins, maxs = maxs, factor = 4)
  }

  /** IVFPQ with a TRAINED codebook: the seed codebook refined by 2
    * iterations of per-subspace Lloyd over the vec_id < 256 sample —
    * the training half of Jégou et al. 2011 that the sampled-data
    * quantizer skips, and the knob the RECALL harness showed mattered
    * (8 sampled codes quantize near noise). The oracle replays the
    * refinement bit-for-bit: assignment = the same strict-< L2 argmin
    * CTEs the encode uses, update = per-dim sequential sums in vec_id
    * order divided by the member count.
    */
  def annIvfPqRefinedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val seed = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    val cb = graft.operators.Similarity.refinePqCodebooks(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", seed,
      m = 4, numCodes = 8, dsub = 16, iterations = 2)
    graft.operators.Similarity.ivfPqTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16)
  }

  /** Cluster-balanced sample: 10 vectors per coarse IVF cluster (16
    * literal centroids, ties to the lower list) in seeded-hash order —
    * diversity-aware subsampling over semantic space.
    */
  def sampleClusterBalanced(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    graft.operators.Similarity.clusterBalancedSample(
      emb, "vec_id", "embedding", cents, n = 10)
      .select(col("vec_id"), col("list").cast("long").as("list"))
  }

  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    graft.operators.Similarity.ivfTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4)
  }

  /** IVF ANN through the PERSISTED-ASSIGNMENT store — the production
    * index shape: assignments written once to a parquet store
    * partitioned by list, the probe reading only the probed-list union
    * (partition-pruned). Same centroids/probe mechanics as ann_ivf_topk,
    * so the SAME oracle checks it — the store round trip must be
    * value-exact.
    */
  def annIvfStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    // Per-RUN unique store directory: a fixed tmpdir path keyed by a
    // 32-bit hash let two concurrent verify/bench processes share one
    // store (overwrite racing a probe read) and silently reused stale
    // stores from crashed runs. createTempDirectory is collision-free
    // by construction; the run cleans up after itself.
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivf_store_").toString
    graft.operators.Similarity.writeIvfAssignments(
      emb, "vec_id", "embedding", cents, store)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.ivfTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4)
  }

  /** Store dirs created by the IVF/IVFPQ store queries this process, so
    * repeated bench reps don't accumulate tmp trees. Best-effort delete
    * on JVM exit (the frames returned above lazily READ the store, so
    * deletion can only happen after the consuming action).
    */
  private val ivfStoreDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    ivfStoreDirs.forEach { d =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator()
          .asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Exception => () }
    }
  }

  /** IVFPQ ANN through the PQ-COMPRESSED persisted index — the 100 TB
    * index shape: (id, codes, list) partitioned by list, probed via
    * LUT/ADC with partition pruning. Same centroids/codebook/probe
    * mechanics as ann_ivfpq_topk, so the SAME oracle checks it — codes
    * are ints and round-trip the store exactly.
    */
  def annIvfPqStoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val cb = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_store_").toString
    graft.operators.Similarity.writeIvfPqAssignments(
      emb, "vec_id", "embedding", cents, cb, store,
      m = 4, numCodes = 8, dsub = 16)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.ivfPqTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16)
  }

  /** IVFPQ through a TRAINED persisted index: the driver-twin Lloyd
    * refinement (bit-replayable, vec_id < 256 sample, 2 iterations)
    * produces the codebook, the store is built and `_meta`-fingerprinted
    * with it, and the probe presents the same trained codebook. Codes
    * are ints and round-trip the store exactly, so the SAME oracle as
    * ann_ivfpq_refined_topk checks the whole build→store→probe path.
    * (The distributed training twin is exercised by
    * `writeIvfPqAssignments(trainIterations)` in SimilaritySpec — its
    * partition-order float sums are deliberately NOT oracle material.)
    */
  def annIvfPqStoreTrainedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val seed = graft.operators.Similarity.seedPqCodebooks(
      emb, "vec_id", "embedding", m = 4, k = 8, dsub = 16)
    val cb = graft.operators.Similarity.refinePqCodebooks(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", seed,
      m = 4, numCodes = 8, dsub = 16, iterations = 2)
    val store = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_trained_store_").toString
    graft.operators.Similarity.writeIvfPqAssignments(
      emb, "vec_id", "embedding", cents, cb, store,
      m = 4, numCodes = 8, dsub = 16)
    ivfStoreDirs.add(store)
    graft.operators.Similarity.ivfPqTopKFromStore(
      spark, store, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = cents, nprobe = 4,
      codebook = cb, m = 4, numCodes = 8, dsub = 16)
  }

  /** IVF ANN over k-means-REFINED centroids: the 16 seeds (vec_id < 16)
    * Lloyd-refined for 2 iterations on the deterministic vec_id < 256
    * sample, then the same probe/top-k mechanics as ann_ivf_topk. The
    * oracle replays the refinement bit-exactly — every dot, norm, and
    * per-dimension member sum is a sequential double fold in vec_id
    * order, which DuckDB expresses as
    * `list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)`.
    */
  def annIvfRefinedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val seeds = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val refined = graft.operators.Similarity.refineCentroids(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", seeds,
      iterations = 2)
    graft.operators.Similarity.ivfTopK(
      corpus = emb,
      queries = emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, centroids = refined, nprobe = 4)
  }

  /** SemDeDup-style near-dup pairs: cluster-blocked by the SAME
    * k-means-refined 16-centroid quantizer as [[annIvfRefinedTopK]]
    * (so the oracle reuses its Lloyd-replay CTEs), exact cosine within
    * clusters at the [[annCosineNearDup]] threshold.
    */
  def annSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val seeds = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    val refined = graft.operators.Similarity.refineCentroids(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", seeds,
      iterations = 2)
    graft.operators.Similarity.semDedupPairs(
      emb, "vec_id", "embedding", refined, threshold = 0.4)
  }

  /** Embedding outlier scores: every vector's best-centroid cosine over
    * the same 16 seed centroids as ann_ivf_topk — low scores mark
    * embedding-space noise.
    */
  def annOutlierScores(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(
      emb, "vec_id", "embedding", numLists = 16)
    graft.operators.Similarity.centroidOutlierScores(
      emb, "vec_id", "embedding", cents)
      .withColumn("list", col("list").cast("long"))
  }

  /** Sequence packing: concatenate each source's docs (id order) into
    * one token stream, cut into 64-token training sequences.
    */
  def textPack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.packSequences(
      t(spark, dir, "documents").select("doc_id", "text", "source"),
      "doc_id", "text", "source", seqLen = 64)

  /** Packing-efficiency rollup per shard: sequences produced, tokens
    * packed, capacity, and utilization — the number a training run
    * checks before shipping a packed corpus. Utilization is one exact
    * integer division, so the double is cross-engine deterministic.
    */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    textPack(spark, dir).groupBy(col("source")).agg(
      count(lit(1)).as("n_sequences"),
      sum(col("n_tokens")).as("total_tokens"),
      (count(lit(1)) * lit(64L)).as("capacity"),
      (sum(col("n_tokens")).cast("double") /
        (count(lit(1)) * lit(64L)).cast("double")).as("utilization"))

  /** Cluster-id export: every document that participates in a minhash
    * near-dup pair, labeled with its transitive cluster's min id — the
    * inspectable artifact behind `dedup_minhash_drop`'s removal
    * decision. The oracle walks the same closure with a recursive CTE.
    */
  def dedupMinhashClusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.minhashNearDupPairs(
        t(spark, dir, "documents"), "doc_id", "text"))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))

  /** Document fingerprint: md5 of whitespace-normalized lowercased text. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"))

  /** Unicode/control/whitespace normalization over documents with a
    * deterministically-injected mess suffix (decomposed accent, C0
    * control, CRLF, run of spaces) — the clean testdata text alone
    * would make every step a no-op and the oracle vacuous.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      graft.operators.TextAnalysis.normalizeText(
        concat(col("text"), lit("  é x\r\nend "))).as("norm"))

  /** HTML → text extraction over deterministically-synthesized markup
    * wrapping documents.text (the raw text contains no `<`, `&` or
    * newlines — verified against the testdata — so the synthesis fully
    * controls what the chain must handle: a multi-line comment, a
    * script block with braces and a bare `>`, a style block, an
    * entity-encoded title, block-tag boundaries, and an entity-heavy
    * tail div on every third document).
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc &#39;"), col("doc_id").cast("string"),
      lit("&#39; &amp; more</title>"),
      lit("<style type=\"text/css\">p { color: #333; }</style>"),
      lit("<script>var n = "), col("doc_id").cast("string"),
      lit("; if (n > 0) { n--; }</script></head>"),
      lit("<body><!-- synthesized\ncomment --><h1>Section "),
      (col("doc_id") % 7).cast("string"),
      lit("</h1><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<div class=\"x\">tail &lt;kept&gt;&nbsp;&quot;quoted&quot;</div>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    t(spark, dir, "documents").select(
      col("doc_id"),
      graft.operators.HtmlExtract.htmlTitle(html).as("title"),
      graft.operators.HtmlExtract.htmlToText(html).as("body_text"))
  }

  /** C4 line-level cleanup over documents with deterministically-injected
    * lines (the raw word-soup text has no punctuation, so every rule
    * would be vacuously false on it alone): two good sentence lines, a
    * too-short line, a `javascript` line, an unterminated line, and —
    * keyed on doc_id mods — a third good line (survival), a curly brace
    * (code-page kill), a "Lorem Ipsum" line (document kill).
    */
  def textC4Filter(spark: SparkSession, dir: String): DataFrame = {
    val messy = concat(col("text"),
      lit("\nA good first sentence line here.\nshort.\n" +
        "this line mentions javascript badly.\n" +
        "Another full sentence line, with words!\nno terminal punct line\n"),
      when(col("doc_id") % 11 === 0,
        lit("Third proper sentence line for survival?")).otherwise(lit("tail")),
      when(col("doc_id") % 13 === 0, lit(" {")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("\nLorem Ipsum dolor sit.")).otherwise(lit("")))
    graft.operators.TextAnalysis.c4LineFilter(
      t(spark, dir, "documents").select(col("doc_id"), messy.as("text")),
      "doc_id", "text", minWords = 3, minLines = 3)
  }

  /** FineWeb-style line signals over documents with deterministically-
    * injected structure (the raw text is a single line): an ellipsis
    * stub and a bullet on every doc, a twice-repeated line on even
    * docs, a second bullet on every fifth, a plain tail line.
    */
  def textLineSignals(spark: SparkSession, dir: String): DataFrame = {
    val messy = concat(col("text"),
      lit("\nContinued on the next page...\n- first bullet item\n"),
      when(col("doc_id") % 2 === 0,
        lit("This exact line repeats twice.\nThis exact line repeats twice.\n"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("* second bullet\n")).otherwise(lit("")),
      lit("tail line without anything"))
    graft.operators.TextAnalysis.lineSignals(
      t(spark, dir, "documents").select(col("doc_id"), messy.as("text")),
      "doc_id", "text")
  }

  /** Multimodal plumbing: text → binary payload → size + content hash
    * (decode stays stubbed; this exercises the real binary column path).
    */
  def multimodalHash(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.assetsFromText(
      t(spark, dir, "documents"), "doc_id", "text")
      .select(
        col("asset_id"),
        graft.operators.Multimodal.payloadSize(col("payload")).as("payload_size"),
        graft.operators.Multimodal.contentHash(col("payload")).as("sha256_hex"))

  /** Binary-asset exact dedup: planted byte-identical copies (doc_id <
    * 50, re-keyed +10000) drop; each surviving asset is the min-id owner
    * of its sha256.
    */
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val assets = graft.operators.Multimodal.assetsFromText(d, "doc_id", "text")
      .union(graft.operators.Multimodal.assetsFromText(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")),
        "doc_id", "text"))
    graft.operators.Multimodal.dedupByContent(assets, "asset_id", "payload")
      .select("asset_id")
  }

  /** Batched decode through the partition-level decoder. The stub dims
    * are md5-derived (60-bit prefix), so the whole row is oracle-checked.
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets = graft.operators.Multimodal.assetsFromText(
      t(spark, dir, "documents"), "doc_id", "text")
      .as[graft.operators.Multimodal.MediaAsset]
    graft.operators.Multimodal.decodeFeatures(assets)
      .toDF().drop("byte_histogram")
  }

  /** Deterministic frame sampling over binary payloads (4 chunks). */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.frameSample(
      graft.operators.Multimodal.assetsFromText(
        t(spark, dir, "documents"), "doc_id", "text"),
      "payload", "asset_id", n = 4)
      .select(col("asset_id"), col("frame_no").cast(LongType).as("frame_no"),
        col("frame_payload").cast(StringType).as("frame_text"))

  /** Quality signals bundle over documents. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.withQualitySignals(
      t(spark, dir, "documents").select("doc_id", "text"), "text")
      .drop("text")

  /** Stopword-scoring language ID with per-language scores. */
  def textLangId(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.withDetectedLanguage(
      t(spark, dir, "documents").select("doc_id", "text"), "text")
      .drop("text")

  /** Token/char counting (whitespace tokenizer). */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast(LongType).as("token_count"),
      length(col("text")).cast(LongType).as("char_count"))

  // ------------------------------------------------------- markdown-kv M1-M5
  private val MdkvT0 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")

  /** M1: record → markdown-kv string on the documents table. */
  def mdkvRender(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MarkdownKv.toMarkdownKv(t(spark, dir, "documents"))

  /** M2–M4 roundtrip: render each documents row, reparse as row_per_kv. */
  def mdkvRoundtripKv(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MarkdownKv.parseRowPerKv(
      mdkvRender(spark, dir), "markdown_kv_content", "doc_id", MdkvT0)
      .toDF().select("doc_id", "section", "key", "value", "value_json", "ord")

  /** M5 flattened: document_level parse → one row per nested section. */
  def mdkvDocLevel(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.MarkdownKv.parseDocumentLevel(
      mdkvRender(spark, dir), "markdown_kv_content", "doc_id", MdkvT0).toDF()
    docs.select(col("doc_id"), col("title"), explode(col("sections")).as("s"))
      .select(col("doc_id"), col("title"),
        col("s.section").as("section"), col("s.level").as("level"),
        size(col("s.kv")).cast(LongType).as("n_kv"))
  }

  /** More-like-this BM25 retrieval: every 100th document (offset 7)
    * plays a seed set; the corpus is scored by BM25 over the seed's
    * distinct tokens (micro-nat integer per-term contributions, BIGINT
    * sums) and the top 10 lexical neighbors per seed are kept. The
    * oracle replays tf/len/df and the BM25 arithmetic token-for-token.
    */
  def searchBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.operators.Search.bm25TopK(
      docs, docs.filter(col("doc_id") % 100 === 7), "doc_id", "text", k = 10)
  }

  /** BM25 through the PERSISTED postings store — the production index
    * shape: postings partitioned by token-hash bucket with length and
    * document frequency denormalized into the row, probed with the
    * query terms' bucket union as a literal partition filter. Same
    * scoring mechanics as search_bm25_topk, so the SAME oracle checks
    * it — tf/len/df are longs and round-trip the store exactly.
    */
  def searchBm25StoreTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm25_store_").toString
    graft.operators.Search.writePostingsStore(
      docs, "doc_id", "text", store, buckets = 8)
    ivfStoreDirs.add(store)
    graft.operators.Search.bm25TopKFromStore(
      spark, store, docs.filter(col("doc_id") % 100 === 7),
      "doc_id", "text", k = 10)
  }

  /** BM25 through the SEGMENTED (appendable) index — three batches
    * append three immutable segments, the probe prunes buckets across
    * all of them, sums per-segment corpus stats, and recomputes df over
    * the matched postings. Segments partition the corpus, so the result
    * is identical to the monolithic index and the SAME oracle checks it.
    */
  def searchBm25Segmented(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm25_segs_").toString
    // one batched append (r22): all three segments land in ONE
    // postings-write job + ONE stats job + ONE _meta append — same
    // segments, same rows, same probe answer as three sequential
    // writeIndexSegment calls (SearchSpec pins the equivalence)
    graft.operators.Search.writeIndexSegments(
      (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i)),
      "doc_id", "text", store, buckets = 8)
    ivfStoreDirs.add(store)
    graft.operators.Search.bm25TopKSegmented(
      spark, store, docs.filter(col("doc_id") % 100 === 7),
      "doc_id", "text", k = 10)
  }

  /** Docs with at least one whitespace token — the `N` every BM25
    * oracle's `st` CTE counts; the df-ceiling entries derive their
    * threshold from it so the ceiling scales with the corpus.
    * "Has a token" ⇔ "contains a non-whitespace char": NOT
    * `trim(text) != ''` — Spark's trim strips only 0x20, so a
    * tab/newline-only document would count here while the oracle's
    * tokenizer (split on `\s+`, drop empties) yields no tokens for
    * it, and the two sides would disagree on the ceiling by exactly
    * those documents.
    */
  private def bm25NDocs(docs: DataFrame): Long =
    docs.filter(col("text").isNotNull &&
      col("text").rlike("\\S")).count()

  /** ⌊N/2⌋ df-ceiling for the maxdf entries. N < 2 derives a ceiling of
    * 0 — the engine's 'disabled' sentinel, which would silently flip
    * the entry to exact mode while the oracle's `HAVING df <= 0` prunes
    * every term: a ceiling of exactly 0 is inexpressible, so the
    * degenerate corpus fails loudly instead of diverging (ADVICE r20).
    */
  private[graft] def bm25MaxDfCeiling(n: Long): Long = {
    require(n >= 2, s"df-ceiling floor(N/2) needs N >= 2 token-bearing " +
      s"docs, got $n: a ceiling of 0 is the exact-mode sentinel")
    n / 2
  }

  /** BM25 with the documented-divergence df-ceiling (`maxDf = ⌊N/2⌋`):
    * query terms in more than half the corpus contribute nothing —
    * near-zero idf, but they alone make the exact probe's work Σdf ≈
    * |terms|·N (a stopword scores nearly every document), which is the
    * measured lexical-retrieval scale steepness. Kept-term scores are
    * bit-identical to the exact path and the oracle replays the same
    * ceiling, so the divergence itself is hash-checked.
    */
  def searchBm25TopKMaxDf(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.operators.Search.bm25TopK(
      docs, docs.filter(col("doc_id") % 100 === 7), "doc_id", "text",
      k = 10, maxDf = bm25MaxDfCeiling(bm25NDocs(docs)))
  }

  /** The df-ceiling through the PERSISTED store: df is denormalized in
    * every postings row, so the ceiling rides the scan as a pushed
    * long predicate (row groups dominated by stopword postings skip on
    * parquet statistics before any scoring work).
    */
  def searchBm25StoreMaxDf(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm25_maxdf_").toString
    graft.operators.Search.writePostingsStore(
      docs, "doc_id", "text", store, buckets = 8)
    ivfStoreDirs.add(store)
    graft.operators.Search.bm25TopKFromStore(
      spark, store, docs.filter(col("doc_id") % 100 === 7),
      "doc_id", "text", k = 10, maxDf = bm25MaxDfCeiling(bm25NDocs(docs)))
  }

  /** Hybrid retrieval: the BM25 lexical arm and the embedding cosine
    * arm (same query set — ids ≡ 7 mod 100, top 20 each) fused by
    * reciprocal-rank fusion into one top-10. Both arms are themselves
    * oracle-checked; the fusion is exact integer arithmetic over their
    * ranks, so the oracle replays the whole hybrid end-to-end.
    */
  def searchHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val emb = t(spark, dir, "embeddings")
    val lex = graft.operators.Search.bm25TopK(
      docs, docs.filter(col("doc_id") % 100 === 7), "doc_id", "text", k = 20)
    val sem = graft.operators.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") % 100 === 7), "vec_id", "embedding", k = 20)
    graft.operators.Search.rrfFuse(Seq(lex, sem), k = 10)
  }

  /** CCNet-style LM quality scoring: fit a Stupid-Backoff bigram model
    * on the even-id half of the corpus, score the odd-id half under the
    * frozen fit. Scores are exact micro-nat BIGINT sums (one double
    * division at the end for the per-bigram average), so the oracle
    * replays fit + backoff + scoring hash-exactly.
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.operators.LanguageModel.scoreAgainstCorpus(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
  }

  /** The same LM scoring through the PERSISTED model store — fit once,
    * write the count tables, reload, score. Counts are longs and tokens
    * strings, so the store round-trips bit-for-bit and the SAME oracle
    * checks it.
    */
  def textLmScoreStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_lm_store_").toString
    graft.operators.LanguageModel.saveModel(
      graft.operators.LanguageModel.fitBigramModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"), store)
    ivfStoreDirs.add(store)
    graft.operators.LanguageModel.scoreBigrams(
      docs.filter(col("doc_id") % 2 === 1),
      graft.operators.LanguageModel.loadModel(spark, store), "doc_id", "text")
  }

  /** Exact phrase search: the first five tokens of document 7 as a
    * verbatim phrase, matched as a consecutive token run across the
    * corpus with overlapping-occurrence counts. The phrase collect is
    * one row (documented-small); the oracle derives the same phrase in
    * SQL and replays the run-match by list-slice equality.
    */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val phrase = docs.filter(col("doc_id") === 7)
      .select(slice(filter(split(lower(trim(col("text"))), "\\s+"),
        t => t =!= lit("")), 1, 5))
      .collect()(0).getSeq[String](0)
    graft.operators.Search.phraseMatches(docs, "doc_id", "text", phrase)
  }

  /** Verbatim decontamination: every 150th document (offset 11) plays
    * a benchmark set; corpus documents containing any benchmark's
    * leading 8-token run verbatim are dropped (the exact-run complement
    * of the n-gram/embedding sweeps). Output: surviving doc ids.
    */
  def decontaminateVerbatim(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.operators.Search.verbatimDecontaminate(
      docs, "doc_id", "text",
      docs.filter(col("doc_id") % 150 === 11), "doc_id", "text",
      phraseLen = 8)
      .select("doc_id")
  }

  /** CCNet head/middle/tail perplexity buckets: the LM scores of the
    * odd-id half (same fit as text_lm_score) are rank-terciled within
    * each language. All-BIGINT output — the double score only orders
    * (hash-exact cross-engine), rank arithmetic assigns the bucket.
    */
  def textLmPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = graft.operators.LanguageModel.scoreAgainstCorpus(
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
      "doc_id", "text")
    graft.operators.LanguageModel.rankBuckets(
      scored.join(docs.select("doc_id", "lang"), "doc_id"),
      "lang", "doc_id", k = 3)
  }

  /** The full CCNet MIX: per-language perplexity terciles
    * ([[textLmPplBuckets]]) composed with the per-stratum deterministic
    * draw ([[graft.operators.Sampling.mixtureSample]]) — keep all of
    * the head, half the middle, a tenth of the tail. Bucket assignment
    * is integer rank arithmetic and the draw is the shared md5
    * threshold, so the whole mix is hash-exact end to end.
    */
  def samplePplStratified(spark: SparkSession, dir: String): DataFrame = {
    val buckets = textLmPplBuckets(spark, dir)
      .withColumn("bucket_s", col("bucket").cast("string"))
    graft.operators.Sampling.mixtureSample(
      buckets, "bucket_s", "doc_id",
      Map("0" -> 1.0, "1" -> 0.5, "2" -> 0.1))
      .select("doc_id", "lang", "bucket")
  }

  // ----------------------------------------------------------------- maps
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_roundtrip" -> csvRoundtrip _,
    "jsonl_roundtrip" -> jsonlRoundtrip _,
    "coerce_integer" -> coerceInteger _,
    "coerce_boolean" -> coerceBoolean _,
    "coerce_timestamp" -> coerceTimestamp _,
    "required_filter_strict" -> requiredFilterStrict _,
    "project_warn_extras" -> projectWarnExtras _,
    "error_summary" -> errorSummary _,
    "error_samples" -> errorSamples _,
    "partition_value_normalize" -> partitionValueNormalize _,
    "ingest_date" -> ingestDate _,
    "q1_agg" -> q1Agg _,
    "q3_join_agg" -> q3JoinAgg _,
    "q6_filter_agg" -> q6FilterAgg _,
    "events_latest_per_user" -> eventsLatestPerUser _,
    "events_asof_join" -> eventsAsofJoin _,
    "events_interval_join" -> eventsIntervalJoin _,
    "url_dedup" -> urlDedup _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_incremental_bloom" -> dedupIncrementalBloom _,
    "dedup_minhash_incremental" -> dedupMinhashIncremental _,
    "dedup_spans" -> dedupSpans _,
    "dedup_spans_remove" -> dedupSpansRemove _,
    "events_sessionize" -> eventsSessionize _,
    "events_hopping_window" -> eventsHoppingWindow _,
    "agg_rollup" -> aggRollup _,
    "agg_cube" -> aggCube _,
    "corpus_mix" -> corpusMix _,
    "events_json_extract" -> eventsJsonExtract _,
    "window_running_count" -> windowRunningCount _,
    "distinct_users" -> distinctUsers _,
    "mdkv_render" -> mdkvRender _,
    "mdkv_roundtrip_kv" -> mdkvRoundtripKv _,
    "mdkv_doc_level" -> mdkvDocLevel _,
    "dedup_exact" -> dedupExact _,
    "dedup_exact_keep" -> dedupExactKeep _,
    "dedup_minhash" -> dedupMinhash _,
    "dedup_minhash_drop" -> dedupMinhashDrop _,
    "dedup_minhash_keep_best" -> dedupMinhashKeepBest _,
    "dedup_ngram_block" -> dedupNgramBlock _,
    "dedup_containment" -> dedupContainment _,
    "dedup_paragraph" -> dedupParagraph _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_simhash_drop" -> dedupSimhashDrop _,
    "dedup_simhash_incremental" -> dedupSimhashIncremental _,
    "ann_brute_topk" -> annBruteTopK _,
    "ann_lsh_topk" -> annLshTopK _,
    "ann_lsh_multiprobe_topk" -> annLshMultiprobeTopK _,
    "ann_lsh_store_topk" -> annLshStoreTopK _,
    "ann_cosine_neardup" -> annCosineNearDup _,
    "ann_cosine_neardup_capped" -> annCosineNearDupCapped _,
    "ann_semdedup" -> annSemDedup _,
    "ann_decontaminate" -> annDecontaminate _,
    "ann_decontaminate_multiprobe" -> annDecontaminateMultiprobe _,
    "ann_neardup_incremental" -> annNearDupIncremental _,
    "ann_neardup_incremental_multiprobe" -> annNearDupIncrementalMultiprobe _,
    "ann_ivf_topk" -> annIvfTopK _,
    "ann_ivf_store_topk" -> annIvfStoreTopK _,
    "ann_pq_topk" -> annPqTopK _,
    "ann_ivfpq_topk" -> annIvfPqTopK _,
    "ann_ivfpq_residual_topk" -> annIvfPqResidualTopK _,
    "ann_sq_topk" -> annSqTopK _,
    "ann_sq_store_topk" -> annSqStoreTopK _,
    "ann_ivfsq_topk" -> annIvfSqTopK _,
    "ann_ivfsq_store_topk" -> annIvfSqStoreTopK _,
    "ann_sq_rerank_topk" -> annSqRerankTopK _,
    "ann_ivfpq_rerank_topk" -> annIvfPqRerankTopK _,
    "ann_ivfpq_rerank_store_topk" -> annIvfPqRerankStoreTopK _,
    "ann_ivfsq_rerank_store_topk" -> annIvfSqRerankStoreTopK _,
    "ann_binary_store_topk" -> annBinaryStoreTopK _,
    "ann_ivfbinary_store_topk" -> annIvfBinaryStoreTopK _,
    "ann_ivfbinary_rerank_store_topk" -> annIvfBinaryRerankStoreTopK _,
    "ann_binary_rerank_topk" -> annBinaryRerankTopK _,
    "ann_matryoshka_rerank_topk" -> annMatryoshkaRerankTopK _,
    "ann_matryoshka_sq_topk" -> annMatryoshkaSqTopK _,
    "ann_ivfpq_store_topk" -> annIvfPqStoreTopK _,
    "ann_ivfpq_store_trained_topk" -> annIvfPqStoreTrainedTopK _,
    "ann_ivf_refined_topk" -> annIvfRefinedTopK _,
    "ann_ivfpq_refined_topk" -> annIvfPqRefinedTopK _,
    "ann_outlier_scores" -> annOutlierScores _,
    "sample_bernoulli" -> sampleBernoulli _,
    "sample_splits" -> sampleSplits _,
    "sample_stratified" -> sampleStratified _,
    "sample_mixture" -> sampleMixture _,
    "sample_upsample" -> sampleUpsample _,
    "sample_cluster_balanced" -> sampleClusterBalanced _,
    "sample_dsir" -> sampleDsir _,
    "text_decontaminate" -> textDecontaminate _,
    "text_leakage_report" -> textLeakageReport _,
    "text_pii_redact" -> textPiiRedact _,
    "text_gopher_filter" -> textGopherFilter _,
    "text_chunk" -> textChunk _,
    "text_pack" -> textPack _,
    "pack_efficiency" -> packEfficiency _,
    "dedup_minhash_clusters" -> dedupMinhashClusters _,
    "text_fingerprint" -> textFingerprint _,
    "text_normalize" -> textNormalize _,
    "html_extract" -> htmlExtract _,
    "text_c4_filter" -> textC4Filter _,
    "text_line_signals" -> textLineSignals _,
    "text_tokens" -> textTokens _,
    "multimodal_hash" -> multimodalHash _,
    "multimodal_dedup" -> multimodalDedup _,
    "multimodal_features" -> multimodalFeatures _,
    "multimodal_frames" -> multimodalFrames _,
    "text_quality" -> textQuality _,
    "text_langid" -> textLangId _,
    "text_repetition" -> textRepetition _,
    "text_repetition_ngrams" -> textRepetitionNgrams _,
    "text_vocab_topk" -> textVocabTopK _,
    "text_compression_ratio" -> textCompressionRatio _,
    "text_token_entropy" -> textTokenEntropy _,
    "text_tfidf_vectors" -> textTfidfVectors _,
    "text_tfidf_vectors_store" -> textTfidfVectorsStore _,
    "tfidf_cosine_pairs" -> tfidfCosinePairs _,
    "dedup_tfidf_incremental" -> dedupTfidfIncremental _,
    "corpus_overlap" -> corpusOverlap _,
    "stats_length_hist" -> statsLengthHist _,
    "stats_quantiles" -> statsQuantiles _,
    "layout_zorder" -> layoutZorder _,
    "corpus_shuffle" -> corpusShuffle _,
    "url_domain_filter" -> urlDomainFilter _,
    "url_domain_quota" -> urlDomainQuota _,
    "text_quality_by_source" -> textQualityBySource _,
    "text_chunk_bpe" -> textChunkBpe _,
    "search_bm25_topk" -> searchBm25TopK _,
    "search_bm25_store_topk" -> searchBm25StoreTopK _,
    "search_bm25_segmented" -> searchBm25Segmented _,
    "search_bm25_topk_maxdf" -> searchBm25TopKMaxDf _,
    "search_bm25_store_maxdf" -> searchBm25StoreMaxDf _,
    "search_hybrid_rrf" -> searchHybridRrf _,
    "text_lm_score" -> textLmScore _,
    "text_lm_score_store" -> textLmScoreStore _,
    "text_model_score" -> textModelScore _,
    "text_model_score_store" -> textModelScoreStore _,
    "text_lm_ppl_buckets" -> textLmPplBuckets _,
    "sample_ppl_stratified" -> samplePplStratified _,
    "search_phrase" -> searchPhrase _,
    "decontaminate_verbatim" -> decontaminateVerbatim _
  )

  /** Benchmarked but not oracle-registered: variants whose hash function
    * has no DuckDB analog. Correctness is pinned by the oracle-checked
    * twin (same code path) + sbt specs; these exist so BENCH reflects
    * production defaults, not just oracle-replayable ones.
    */
  /** The deterministic letter-pair merge table for the BPE query and its
    * oracle: marker+letter merges first, then every letter pair in
    * for-comprehension order — rank = position. BOTH the Spark kernel
    * and the DuckDB replay derive from this one sequence.
    */
  private val bpeLetters = "etaoinshrdlu"
  private val bpeMerges: Seq[(String, String)] =
    bpeLetters.map(c => (graft.functions.BpeTokens.Marker, c.toString)) ++
      (for (a <- bpeLetters; b <- bpeLetters) yield (a.toString, b.toString))

  /** Token-window chunking cutting in BPE tokens through the native
    * greedy-merge kernel ([[graft.functions.BpeTokens]]) — the
    * production tokenizer path priced by the headline bench AND
    * oracle-checked: the greedy lowest-rank/leftmost merge loop is
    * replayed in DuckDB with a recursive CTE over the same literal merge
    * table (one merge per iteration; terminal rows have no ranked pair).
    */
  def textChunkBpe(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.BpeTokenizer(bpeMerges)
    graft.operators.Chunking.chunkByTokens(
      t(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", maxTokens = 64, overlap = 0, tokenizer = tok)
  }

  /** BENCH-ONLY: `dedup_minhash_drop` down the FORCED 100 TB fallback
    * plans — distributed pointer-jumping connected components, unhinted
    * verify joins, the loser shuffle-anti-join — so the scale tail is
    * priced every round, not just compiled. The thresholds are forced
    * THREAD-scoped via [[graft.operators.Dedup.withGuards]]
    * during plan construction (all pin decisions and the CC loop run
    * eagerly inside the call) — unlike the earlier JVM-global sys.props
    * toggle, concurrent jobs in the same session are unaffected.
    * ScaleFallbackSpec pins bit-identity of this path to the fast one.
    */
  def dedupMinhashForced(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.withGuards(
        _.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L)) {
      graft.operators.Dedup.dropNearDuplicates(
        t(spark, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.9)
        .select("doc_id")
    }

  /** BENCH-ONLY: `ann_neardup_incremental` with the FORCED
    * whole-corpus verify shape — broadcastMaxPairs at 0 disables the
    * fused broadcast verify (r19), so the in-batch stage runs the
    * candidate-bounded fallback: distinct over the Σdf² candidate
    * multiset, semi-join-pruned vector lookups, unhinted shuffle joins
    * past the pin. driverMaxPairs stays at its default — the
    * distributed-CC tail is already priced by `dedup_minhash_forced`,
    * and this entry isolates exactly the plan r19 changed so a
    * regression in EITHER verify shape is visible every round.
    * NearDupAttributionSpec pins this path bit-identical to the fused
    * one.
    */
  def annNearDupForced(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.withGuards(_.copy(broadcastMaxPairs = 0L)) {
      annNearDupIncremental(spark, dir)
    }

  /** `ann_cosine_neardup` with the hot-bucket df-cap ENGAGED (cap =
    * 1000, far above any healthy bucket at this SF, so the result set
    * is unchanged) — prices the cap's OVERHEAD (one partial-aggregated
    * bucket count + broadcast anti-join per capped join) on a healthy
    * corpus every round, and is oracle-checked against a SQL replay of
    * the cap itself ([[annCosineNearDupCappedOracle]]). The cap's
    * benefit case (degenerate mass-duplicate buckets) is pinned in
    * SimilaritySpec.
    */
  def annCosineNearDupCapped(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.cosineNearDupPairs(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, planes = 4, tables = 8, maxBucketDf = 1000)

  /** Frequent-items sketch roll-up: per-source token sketches merged to
    * one corpus sketch, top-20 off the merged state. Bench-only —
    * sketch bytes are library-specific (no DuckDB analog), so
    * correctness is spec-level (merge identity; exactness while the
    * tracked-item bound exceeds the vocabulary) and this entry prices
    * the partition-and-merge path, the shape that replaces exact global
    * token counts at 100 TB.
    */
  def sketchTopkRollup(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents").select(col("source"),
      explode(split(trim(col("text")), "\\s+")).as("tok"))
    graft.operators.Sketches.topKEstimate(
      graft.operators.Sketches.mergeTopKSketches(
        graft.operators.Sketches.topKSketch(toks, "source", "tok")
          .withColumn("all", lit("all")), "all"),
      "all", k = 20)
  }

  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_simhash_prod" -> dedupSimhashProd _,
    "dedup_minhash_forced" -> dedupMinhashForced _,
    "dedup_tfidf_forced" -> dedupTfidfForced _,
    "ann_neardup_forced" -> annNearDupForced _,
    "sketch_topk_rollup" -> sketchTopkRollup _,
    "curation_pipeline" -> curationPipeline _,
    "search_bm25_store_probe" -> searchBm25StoreProbe _,
    "search_bm25_store_probe_maxdf" -> searchBm25StoreProbeMaxdf _
  )

  /** Once-per-JVM-per-dir postings store for the PROBE-ONLY bench
    * entries: `search_bm25_store_topk` deliberately prices build +
    * probe together (the production maintenance cycle), which means
    * its artifact number can't say which half moved — exactly what
    * confused the r20 maxdf scale reading until ProfileBm25 split
    * them by hand. These entries memoize the build, so under
    * min-of-reps (the first rep pays the build, later reps reuse it)
    * the recorded value is the probe alone, and build-vs-probe
    * movement separates mechanically in every future artifact.
    */
  private val bm25ProbeStores =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private def bm25ProbeStore(spark: SparkSession,
      dir: String): (String, Long) =
    bm25ProbeStores.computeIfAbsent(dir, _ => {
      val store = java.nio.file.Files
        .createTempDirectory("graft_bm25_probe_").toString
      val docs = t(spark, dir, "documents").select("doc_id", "text")
      graft.operators.Search.writePostingsStore(
        docs, "doc_id", "text", store, buckets = 8)
      ivfStoreDirs.add(store) // shutdown-hook cleanup, like every store
      // N memoized WITH the store: the maxdf twin's ceiling derivation
      // is a full text-column regex count, and unlike the build it
      // would recur inside every timed rep — the probe-vs-probe
      // comparison these twins exist for must not charge one side a
      // corpus scan the other doesn't pay
      (store, bm25NDocs(docs))
    })

  /** BENCH-ONLY: the exact store probe with the build amortized (see
    * [[bm25ProbeStore]]); min-of-reps ≈ probe-only cost.
    */
  def searchBm25StoreProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    graft.operators.Search.bm25TopKFromStore(
      spark, bm25ProbeStore(spark, dir)._1,
      docs.filter(col("doc_id") % 100 === 7), "doc_id", "text", k = 10)
  }

  /** BENCH-ONLY: the ⌊N/2⌋ df-ceiling probe against the same amortized
    * store — prices what the pushed df predicate buys on the probe
    * alone (the oracle-checked `search_bm25_store_maxdf` prices the
    * full build+probe entry).
    */
  def searchBm25StoreProbeMaxdf(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val (store, n) = bm25ProbeStore(spark, dir)
    graft.operators.Search.bm25TopKFromStore(
      spark, store,
      docs.filter(col("doc_id") % 100 === 7), "doc_id", "text", k = 10,
      maxDf = bm25MaxDfCeiling(n))
  }

  /** BENCH-ONLY: the COMPOSED curation pipeline a pretraining ingest
    * actually runs as one job, driven end-to-end through the JobRunner
    * lifecycle (validate → curate → commit): html extract → NFC
    * normalize → gopher + entropy quality gates (stacked via the list
    * form of `quality_filter`) → within-batch MinHash near-dedupe →
    * Bernoulli sample → parquet commit, then packed into fixed-length
    * sequences from the committed output. Priced every round because
    * per-operator benches hide cross-stage costs: each curation stage
    * re-tokenizes `text` independently (gopher and entropy each
    * tokenize; the shingle pass tokenizes again), and this entry is the
    * artifact that measures whether that stacking is worth fusing.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val fix = java.nio.file.Files.createTempDirectory("graft-curation-bench-")
    def w(name: String, content: String): Unit = {
      java.nio.file.Files.writeString(fix.resolve(name), content); ()
    }
    w("recipe_parquet.yaml",
      "name: parquet\ntype: parquet\nroles: [source, target]\n" +
        "default_engine: {type: native}\n")
    w("asset.yaml",
      """asset:
        |  name: docs
        |  version: "1.0"
        |  domain: bench
        |  data_product: curation
        |  schema:
        |    - {name: doc_id, type: integer, required: true}
        |    - {name: text, type: string, required: true}
        |    - {name: lang, type: string, required: false}
        |    - {name: source, type: string, required: false}
        |    - {name: n_chars, type: integer, required: false}
        |""".stripMargin)
    val out = fix.resolve("out").toString
    w("job.yaml",
      s"""tenant_id: bench
         |source_connector_path: recipe_parquet.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |source:
         |  files:
         |    - {path: $dir/documents.parquet}
         |target:
         |  connection: {path: $out}
         |curation:
         |  id_field: doc_id
         |  text_field: text
         |  extract: html
         |  normalize: nfc
         |  quality_filter: [gopher, entropy]
         |  dedupe: near
         |  sample: bernoulli
         |  sample_fraction: "0.8"
         |""".stripMargin)
    val r = JobRunner.run(spark, fix.resolve("job.yaml").toString,
      log = _ => ())
    require(r.exitCode == 0, s"curation_pipeline job exited ${r.exitCode}")
    graft.operators.Chunking.packSequences(
      spark.read.parquet(r.outputPath).select("doc_id", "text", "source"),
      "doc_id", "text", "source", seqLen = 64)
  }

  /** BENCH-ONLY: `dedup_tfidf_incremental` down the forced 100 TB
    * fallback plans (distributed CC, unhinted pins, shuffle anti-joins)
    * — prices the TF-IDF family's scale tail every round;
    * ScaleFallbackSpec pins bit-identity to the fast path.
    */
  def dedupTfidfForced(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.withGuards(
        _.copy(broadcastMaxPairs = 0L, driverMaxPairs = 0L)) {
      dedupTfidfIncremental(spark, dir)
    }

  // ---------------------------------------------- generated oracle SQL
  // The LSH planes are driver-side ±1 literals (Similarity.planeSigns),
  // so the oracles embed the SAME arrays and replay bucketing with the
  // sequential-double fold idiom that ann_brute_topk already matches
  // bit-exactly. The simhash oracle replays votes→bits→hamming from the
  // md5-prefix hash; its chunked candidate pass is exact by pigeonhole,
  // so an all-pairs hamming filter is the identical result set.

  private def signsSql(j: Int): String =
    graft.operators.Similarity.planeSigns(j, 64)
      .map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(64), i -> $a[i+1] * $b[i+1]), (a, b) -> a + b)"

  private val annLshTopKOracle: String = {
    val planeCols = (0 until 4).map(j => s"${signsSql(j)} AS s$j").mkString(", ")
    val bucket = (0 until 4)
      .map(j => s"(CASE WHEN ${dotSql("e", s"s$j")} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucket AS bucket
       |  FROM v CROSS JOIN p),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket FROM d
       |  WHERE vec_id < 10),
       |s AS (SELECT query_id, d.vec_id AS neighbor_id,
       |  ${dotSql("qe", "d.e")} / (qn * d.nrm) AS sim
       |  FROM q JOIN d ON q.bucket = d.bucket AND d.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= 5""".stripMargin
  }

  /** Multi-probe replay: per query, the per-plane margins |q·s_j| are
    * the same sequential folds as the bucketing; the `probes − 1 = 2`
    * smallest (ties to the lower plane — the array_sort struct order)
    * flip bit j of the kernel bucket via xor(bucket, 1 << j). Probe
    * buckets are pairwise distinct, so the UNION ALL join is the exact
    * candidate multiset; then the single-probe cosine/rank mechanics.
    */
  private val annLshMultiprobeTopKOracle: String = {
    val planeCols = (0 until 4).map(j => s"${signsSql(j)} AS s$j").mkString(", ")
    val bucket = (0 until 4)
      .map(j => s"(CASE WHEN ${dotSql("e", s"s$j")} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val marginRows = (0 until 4)
      .map(j => s"SELECT query_id, $j AS j, abs(${dotSql("qe", s"s$j")}) AS a" +
        " FROM q CROSS JOIN p")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucket AS bucket
       |  FROM v CROSS JOIN p),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket FROM d
       |  WHERE vec_id < 10),
       |m AS ($marginRows),
       |f AS (SELECT query_id, j FROM (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY a, j) AS rn FROM m) WHERE rn <= 2),
       |qb AS (SELECT query_id, qe, qn, bucket FROM q
       |  UNION ALL
       |  SELECT q.query_id, q.qe, q.qn,
       |    xor(q.bucket, CAST(1 AS BIGINT) << f.j) AS bucket
       |  FROM q JOIN f ON f.query_id = q.query_id),
       |s AS (SELECT qb.query_id, d.vec_id AS neighbor_id,
       |  ${dotSql("qe", "d.e")} / (qn * d.nrm) AS sim
       |  FROM qb JOIN d ON qb.bucket = d.bucket AND d.vec_id <> qb.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= 5""".stripMargin
  }

  private val annCosineNearDupOracle: String = {
    val planeCols = (0 until 32).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 8).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val anyBucket = (0 until 8).map(tt => s"x.b$tt = y.b$tt").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols
       |  FROM v CROSS JOIN p),
       |c AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) AS cosine
       |  FROM d x JOIN d y ON x.vec_id < y.vec_id AND ($anyBucket))
       |SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.4""".stripMargin
  }

  /** The hot-bucket-capped variant, cap replayed exactly: unpivot the
    * per-table buckets to (vec_id, t, b) keys, keep keys with df <= cap
    * (capHotKeys drops STRICTLY greater), pair within surviving keys,
    * DISTINCT the pairs (a pair can survive in several tables), then the
    * same exact-cosine verify. At a healthy SF no bucket exceeds the
    * cap, so this must equal the uncapped result — but the oracle
    * replays the cap rather than assuming that, so it stays correct if
    * the testdata ever regenerates with a degenerate (mass-duplicate)
    * embedding distribution.
    */
  private val annCosineNearDupCappedOracle: String = {
    val planeCols = (0 until 32).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 8).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val unpivot = (0 until 8)
      .map(tt => s"SELECT vec_id, $tt AS t, b$tt AS b FROM d")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols
       |  FROM v CROSS JOIN p),
       |k AS ($unpivot),
       |ok AS (SELECT t, b FROM k GROUP BY t, b HAVING count(*) <= 1000),
       |kk AS (SELECT k.vec_id, k.t, k.b FROM k JOIN ok USING (t, b)),
       |pairs AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM kk x JOIN kk y ON x.vec_id < y.vec_id
       |    AND x.t = y.t AND x.b = y.b),
       |c AS (SELECT id_a, id_b,
       |  ${dotSql("a.e", "b.e")} / (a.nrm * b.nrm) AS cosine
       |  FROM pairs JOIN d a ON a.vec_id = pairs.id_a
       |  JOIN d b ON b.vec_id = pairs.id_b)
       |SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.4""".stripMargin
  }

  /** SemDeDup oracle: the SAME seed + 2-iteration Lloyd refinement CTEs
    * as [[annIvfRefinedTopKOracle]] (identical quantizer bits), best
    * list per vector with ties to the lower id, then exact-cosine pairs
    * within each list at the near-dup threshold.
    */
  private val annSemDedupOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c_0 AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |samp AS (SELECT vec_id, e FROM v WHERE vec_id < 256),
       |${lloydIterSql(1, "c_0")},
       |${lloydIterSql(2, "c_1")},
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c_2 c),
       |a AS (SELECT vec_id, e, l, sqrt(${dotSql("e", "e")}) AS nrm
       |  FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) AS cosine
       |  FROM a x JOIN a y ON x.l = y.l AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4""".stripMargin

  private val annNearDupIncrementalOracle: String = {
    val planeCols = (0 until 32).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 8).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val anyBucket = (0 until 8).map(tt => s"x.b$tt = y.b$tt").mkString(" OR ")
    s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |all0 AS (SELECT vec_id, e FROM v
       |  UNION ALL SELECT vec_id + 10000, e FROM v WHERE vec_id < 25
       |  UNION ALL SELECT vec_id + 30000, list_transform(e, x -> -x)
       |    FROM v WHERE vec_id < 15),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols
       |  FROM all0 CROSS JOIN p),
       |corp AS (SELECT * FROM d WHERE vec_id < 250),
       |bat AS (SELECT * FROM d WHERE vec_id >= 250),
       |pp AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bat x JOIN bat y ON x.vec_id < y.vec_id AND ($anyBucket)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM pp
       |  UNION SELECT id_b, id_a FROM pp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM eg
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN eg e2 ON r.dst = e2.src),
       |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src),
       |hits AS (SELECT DISTINCT x.vec_id
       |  FROM bat x JOIN corp y ON ($anyBucket)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4)
       |SELECT vec_id FROM bat
       |WHERE vec_id NOT IN (SELECT id FROM losers)
       |  AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin
  }

  /** Multi-probe incremental replay (4 tables × 4 planes, probes=2):
    * within-batch pairs keep the symmetric single-key test; the
    * store-hit test lets the BATCH row x match the corpus key y.b_t
    * against x's kernel bucket OR its argmin-|margin| flip per table.
    */
  private val annNearDupIncrementalMultiprobeOracle: String = {
    val planeCols = (0 until 16).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 4).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val marginCols = (0 until 4).flatMap { tt =>
      (0 until 4).map(pp =>
        s"abs(${dotSql("e", s"s${tt * 4 + pp}")}) AS m${tt}_$pp")
    }.mkString(",\n  ")
    val flipCols = (0 until 4).map { tt =>
      val m = (0 until 4).map(pp => s"m${tt}_$pp")
      s"""xor(b$tt, CAST(1 AS BIGINT) << (CASE
         |    WHEN ${m(0)} <= ${m(1)} AND ${m(0)} <= ${m(2)} AND ${m(0)} <= ${m(3)} THEN 0
         |    WHEN ${m(1)} <= ${m(2)} AND ${m(1)} <= ${m(3)} THEN 1
         |    WHEN ${m(2)} <= ${m(3)} THEN 2 ELSE 3 END)) AS f$tt""".stripMargin
    }.mkString(",\n  ")
    val anyBucket = (0 until 4).map(tt => s"x.b$tt = y.b$tt").mkString(" OR ")
    val anyProbe = (0 until 4)
      .map(tt => s"(y.b$tt = x.b$tt OR y.b$tt = x.f$tt)").mkString(" OR ")
    s"""WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |all0 AS (SELECT vec_id, e FROM v
       |  UNION ALL SELECT vec_id + 10000, e FROM v WHERE vec_id < 25
       |  UNION ALL SELECT vec_id + 30000, list_transform(e, x -> -x)
       |    FROM v WHERE vec_id < 15),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols,
       |  $marginCols
       |  FROM all0 CROSS JOIN p),
       |corp AS (SELECT * FROM d WHERE vec_id < 250),
       |bat AS (SELECT *,
       |  $flipCols
       |  FROM d WHERE vec_id >= 250),
       |pp AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bat x JOIN bat y ON x.vec_id < y.vec_id AND ($anyBucket)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4),
       |eg AS (SELECT id_a AS src, id_b AS dst FROM pp
       |  UNION SELECT id_b, id_a FROM pp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM eg
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN eg e2 ON r.dst = e2.src),
       |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src),
       |hits AS (SELECT DISTINCT x.vec_id
       |  FROM bat x JOIN corp y ON ($anyProbe)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4)
       |SELECT vec_id FROM bat
       |WHERE vec_id NOT IN (SELECT id FROM losers)
       |  AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin
  }

  private val annDecontaminateOracle: String = {
    val planeCols = (0 until 32).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 8).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val anyBucket = (0 until 8).map(tt => s"x.b$tt = y.b$tt").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols
       |  FROM v CROSS JOIN p),
       |hits AS (SELECT DISTINCT x.vec_id
       |  FROM d x JOIN d y ON x.vec_id >= 25 AND y.vec_id < 25
       |    AND ($anyBucket)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4)
       |SELECT vec_id FROM v
       |WHERE vec_id >= 25 AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin
  }

  /** Multi-probe decontamination replay (4 tables × 4 planes,
    * probes=2): per table, the benchmark row's flip bucket is its
    * kernel bucket with the argmin-|margin| bit (ties → lower plane)
    * flipped; a corpus row is a candidate when its single key matches
    * the benchmark's kernel OR flip bucket in ANY table.
    */
  private val annDecontaminateMultiprobeOracle: String = {
    val planeCols = (0 until 16).map(j => s"${signsSql(j)} AS s$j").mkString(",\n  ")
    val bucketCols = (0 until 4).map { tt =>
      val bits = (0 until 4)
        .map(pp => s"(CASE WHEN ${dotSql("e", s"s${tt * 4 + pp}")} > 0 THEN ${1L << pp} ELSE 0 END)")
        .mkString(" + ")
      s"($bits) AS b$tt"
    }.mkString(",\n  ")
    val marginCols = (0 until 4).flatMap { tt =>
      (0 until 4).map(pp =>
        s"abs(${dotSql("e", s"s${tt * 4 + pp}")}) AS m${tt}_$pp")
    }.mkString(",\n  ")
    val flipCols = (0 until 4).map { tt =>
      val m = (0 until 4).map(pp => s"m${tt}_$pp")
      s"""xor(b$tt, CAST(1 AS BIGINT) << (CASE
         |    WHEN ${m(0)} <= ${m(1)} AND ${m(0)} <= ${m(2)} AND ${m(0)} <= ${m(3)} THEN 0
         |    WHEN ${m(1)} <= ${m(2)} AND ${m(1)} <= ${m(3)} THEN 1
         |    WHEN ${m(2)} <= ${m(3)} THEN 2 ELSE 3 END)) AS f$tt""".stripMargin
    }.mkString(",\n  ")
    val anyBucket = (0 until 4)
      .map(tt => s"(x.b$tt = y.b$tt OR x.b$tt = y.f$tt)").mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT $planeCols),
       |d AS (SELECT vec_id, e, sqrt(${dotSql("e", "e")}) AS nrm,
       |  $bucketCols,
       |  $marginCols
       |  FROM v CROSS JOIN p),
       |bq AS (SELECT *,
       |  $flipCols
       |  FROM d WHERE vec_id < 25),
       |hits AS (SELECT DISTINCT x.vec_id
       |  FROM d x JOIN bq y ON x.vec_id >= 25
       |    AND ($anyBucket)
       |  WHERE ${dotSql("x.e", "y.e")} / (x.nrm * y.nrm) >= 0.4)
       |SELECT vec_id FROM v
       |WHERE vec_id >= 25 AND vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin
  }

  /** Greedy-BPE chunking replay: the EXACT merge loop of
    * [[graft.functions.BpeTokens.bpeWord]] as a recursive CTE — each
    * iteration merges the single lowest-rank (leftmost on tie) adjacent
    * pair, encoded as `rank * 100000 + position` so one `list_min` picks
    * it; terminal rows (no ranked pair left) are each word's final
    * segmentation. Words dedupe before the replay (the SQL mirror of the
    * kernel's per-executor memo), docs reassemble by word position, and
    * the chunk slicing + marker detokenization replays
    * [[graft.operators.Chunking.chunkByTokens]] with maxTokens=64.
    */
  private def textChunkBpeOracle: String = {
    val mk = bpeMerges.map { case (a, b) => s"'$a$b'" }.mkString("[", ",", "]")
    val M = graft.functions.BpeTokens.Marker
    s"""WITH RECURSIVE
       |tok AS (SELECT doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS t
       |  FROM documents),
       |words AS (SELECT DISTINCT '$M' || w AS mw
       |  FROM (SELECT unnest(t) AS w FROM tok)),
       |bpe AS (
       |  SELECT mw, string_split(mw, '') AS parts FROM words
       |  UNION ALL
       |  SELECT mw, parts[:bp-1] || [parts[bp] || parts[bp+1]] || parts[bp+2:]
       |  FROM (
       |    SELECT mw, parts,
       |      CAST(list_min(list_transform(range(1, CAST(len(parts) AS BIGINT)),
       |        i -> CASE WHEN list_position($mk, parts[i] || parts[i+1]) > 0
       |             THEN list_position($mk, parts[i] || parts[i+1]) * 100000 + i
       |             END))
       |        % 100000 AS INT) AS bp
       |    FROM bpe) WHERE bp IS NOT NULL
       |),
       |fin AS (
       |  SELECT mw, parts FROM bpe
       |  WHERE list_min(list_transform(range(1, CAST(len(parts) AS BIGINT)),
       |    i -> CASE WHEN list_position($mk, parts[i] || parts[i+1]) > 0
       |         THEN 1 END)) IS NULL
       |),
       |wx AS (SELECT doc_id, i, '$M' || t[i] AS mw
       |  FROM tok, unnest(range(1, CAST(len(t)+1 AS BIGINT))) AS u(i)),
       |doctoks AS (
       |  SELECT wx.doc_id, flatten(list(fin.parts ORDER BY wx.i)) AS toks
       |  FROM wx JOIN fin ON wx.mw = fin.mw GROUP BY wx.doc_id),
       |c AS (SELECT tok.doc_id, coalesce(doctoks.toks, []) AS t,
       |    CAST(len(coalesce(doctoks.toks, [])) AS BIGINT) AS n
       |  FROM tok LEFT JOIN doctoks ON tok.doc_id = doctoks.doc_id),
       |e AS (SELECT doc_id, t, n,
       |  unnest(range(0, CAST((greatest(n - 64, 0) + 63) // 64 AS BIGINT) + 1))
       |    AS chunk_idx
       |  FROM c)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  trim(replace(array_to_string(t[chunk_idx*64+1 : chunk_idx*64+64], ''),
       |    '$M', ' ')) AS chunk_text,
       |  CAST(least(64, n - chunk_idx*64) AS BIGINT) AS n_tokens
       |FROM e""".stripMargin
  }

  /** Per-shard sequence-packing replay — shared by `text_pack` and the
    * `pack_efficiency` rollup.
    */
  private val textPackOracle: String =
    """WITH tok AS (SELECT doc_id, source,
      |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |b AS (SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n
      |  FROM tok WHERE len(t) > 0),
      |s AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY source
      |  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |  0) AS BIGINT) AS strt FROM b),
      |e AS (SELECT doc_id, source, t, n, strt,
      |  unnest(range(strt // 64, (strt + n - 1) // 64 + 1)) AS seq_id FROM s),
      |p AS (SELECT source, seq_id,
      |  greatest(strt, seq_id * 64) AS ps,
      |  least(strt + n, (seq_id + 1) * 64) AS pe,
      |  t[(greatest(strt, seq_id*64) - strt + 1) :
      |    (least(strt+n, (seq_id+1)*64) - strt)] AS piece
      |  FROM e)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
      |  string_agg(array_to_string(piece, ' '), ' ' ORDER BY ps) AS seq_text,
      |  CAST(SUM(pe - ps) AS BIGINT) AS n_tokens
      |FROM p GROUP BY source, seq_id""".stripMargin

  /** Shared Gopher rule-replay CTE chain (quality signals → repetition
    * signals → per-rule fail booleans in `f`) — reused by the
    * `text_gopher_filter` and `text_quality_by_source` oracles.
    */
  private val gopherCtesSql: String = {
    val t = graft.operators.TextAnalysis.GopherThresholds()
    s"""tok AS (SELECT doc_id, text,
       |  string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
       |q AS (SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS token_count,
       |  CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) /
       |    CAST(len(t) AS DOUBLE) AS mean_token_len,
       |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
       |    AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio
       |  FROM tok),
       |words0 AS (SELECT doc_id, unnest(range(1, len(ws)+1)) AS pos,
       |    unnest(ws) AS w
       |  FROM (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents)),
       |ww AS (SELECT doc_id, pos, w,
       |  CASE WHEN lead(w) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
       |    THEN w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
       |  END AS bg
       |  FROM words0 WHERE w <> ''),
       |wa AS (SELECT doc_id, CAST(SUM(wc) AS BIGINT) AS n_words,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(wc) AS max_wc
       |  FROM (SELECT doc_id, w, count(*) AS wc FROM ww GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |ba AS (SELECT doc_id AS bdoc, CAST(SUM(bc) AS BIGINT) AS n_bigrams,
       |  MAX(bc) AS max_bc
       |  FROM (SELECT doc_id, bg, count(*) AS bc FROM ww
       |        WHERE bg IS NOT NULL GROUP BY doc_id, bg)
       |  GROUP BY doc_id),
       |r AS (SELECT wa.doc_id,
       |  1.0 - n_distinct * 1.0 / n_words AS dup_word_frac,
       |  max_wc * 1.0 / n_words AS top_word_frac,
       |  max_bc * 1.0 / n_bigrams AS top_bigram_frac
       |  FROM wa LEFT JOIN ba ON wa.doc_id = ba.bdoc),
       |f AS (SELECT q.doc_id,
       |  NOT (token_count BETWEEN ${t.minWords} AND ${t.maxWords})
       |    AS fail_word_count,
       |  NOT (mean_token_len BETWEEN ${t.minMeanTokenLen}
       |    AND ${t.maxMeanTokenLen}) AS fail_mean_token_len,
       |  punct_ratio > ${t.maxPunctRatio} AS fail_punct_ratio,
       |  COALESCE(dup_word_frac > ${t.maxDupWordFrac}, FALSE) AS fail_dup_word,
       |  COALESCE(top_word_frac > ${t.maxTopWordFrac}, FALSE) AS fail_top_word,
       |  COALESCE(top_bigram_frac > ${t.maxTopBigramFrac}, FALSE)
       |    AS fail_top_bigram
       |  FROM q LEFT JOIN r ON q.doc_id = r.doc_id)""".stripMargin
  }

  private val simhashVotesSql: String = (0 until 60).map(j =>
    s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS v$j")
    .mkString(",\n  ")
  private val simhashBitsSql: String = (0 until 60).map(j =>
    s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
    .mkString(" | ")

  /** tok → md5-60 hash → votes → sh chain over a docs CTE named `docs`
    * with (id, text) — the shared simhash replay for all three simhash
    * oracles.
    */
  private val simhashChainSql: String =
    s"""tok AS (SELECT id,
       |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM docs),
       |h AS (SELECT id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
       |  FROM tok),
       |v AS (SELECT id, $simhashVotesSql FROM h GROUP BY id),
       |s AS (SELECT id, $simhashBitsSql AS sh FROM v)""".stripMargin

  private val dedupSimhashOracle: String =
    s"""WITH docs AS (SELECT doc_id AS id, text FROM documents),
       |$simhashChainSql
       |SELECT x.id AS id_a, y.id AS id_b,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
       |FROM s x JOIN s y ON x.id < y.id
       |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin

  private val dedupSimhashDropOracle: String =
    s"""WITH RECURSIVE docs AS (SELECT doc_id AS id, text FROM documents),
       |$simhashChainSql,
       |p AS (SELECT x.id AS id_a, y.id AS id_b
       |  FROM s x JOIN s y ON x.id < y.id
       |  WHERE bit_count(xor(x.sh, y.sh)) <= 3),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin

  private val dedupSimhashIncrementalOracle: String =
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
       |  UNION ALL SELECT doc_id + 20000, text FROM documents
       |    WHERE doc_id BETWEEN 250 AND 274),
       |$simhashChainSql,
       |corp AS (SELECT * FROM s WHERE id < 250),
       |bat AS (SELECT * FROM s WHERE id >= 250),
       |p AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM bat a JOIN bat b ON a.id < b.id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src),
       |hits AS (SELECT DISTINCT b.id FROM bat b JOIN corp c
       |  ON bit_count(xor(b.sh, c.sh)) <= 3)
       |SELECT id AS doc_id FROM bat
       |WHERE id NOT IN (SELECT id FROM losers)
       |  AND id NOT IN (SELECT id FROM hits)""".stripMargin

  private def hash60Sql(expr: String): String =
    s"('0x' || substring(md5($expr), 1, 15))::BIGINT"

  /** Shared hashed-TF-IDF fit replay (64 buckets, milli-nat idf;
    * ln(N+1) − ln(df+1) left-assoc like the Scala fit) — reused by the
    * vector and cosine-pair oracles.
    */
  /** DuckDB replay of [[graft.operators.TextAnalysis.repetitionNgramSignals]]:
    * per gram size a lead()-window concat (NULL when the window runs off
    * the doc), one tall union, counts → coverage → per-n rollup → wide
    * conditional-max pivot, zero-filled per present doc, NULL for
    * tokenless docs via the final left join.
    */
  private def textRepetitionNgramsOracle: String = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val branches = (topNs ++ dupNs).map { n =>
      val parts = "w" +: (1 until n).map(k => s"l$k")
      s"""SELECT doc_id, total, $n AS n,
         |  CASE WHEN ${parts.last} IS NOT NULL
         |    THEN concat_ws(' ', ${parts.mkString(", ")}) END AS g
         |FROM ww""".stripMargin
    }.mkString("\nUNION ALL\n")
    val topCols = topNs.map(n =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN top_cov * 1.0 / total END), 0.0)
         |    AS top${n}gram_char_frac""".stripMargin)
    val dupCols = dupNs.map(n =>
      s"""COALESCE(MAX(CASE WHEN n = $n THEN dup_cov * 1.0 / total END), 0.0)
         |    AS dup${n}gram_char_frac""".stripMargin)
    val outCols = (topNs.map(n => s"w.top${n}gram_char_frac") ++
      dupNs.map(n => s"w.dup${n}gram_char_frac")).mkString(", ")
    s"""WITH words0 AS (
       |  SELECT doc_id,
       |    length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS total,
       |    unnest(range(1, len(ws)+1)) AS pos, unnest(ws) AS w
       |  FROM (SELECT doc_id, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents)
       |), ww AS (
       |  SELECT doc_id, total, pos, w,
       |    ${(1 to 9).map(k =>
           s"lead(w, $k) OVER (PARTITION BY doc_id ORDER BY pos) AS l$k")
          .mkString(",\n    ")}
       |  FROM words0 WHERE w <> ''
       |), tall AS (
       |$branches
       |), counts AS (
       |  SELECT doc_id, total, n, g, count(*) AS c,
       |    length(g) AS len, count(*) * length(g) AS cov
       |  FROM tall WHERE g IS NOT NULL GROUP BY doc_id, total, n, g
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id, n
       |    ORDER BY c DESC, len DESC) AS rn
       |  FROM counts
       |), pern AS (
       |  SELECT doc_id, total, n,
       |    MAX(CASE WHEN rn = 1 THEN cov END) AS top_cov,
       |    SUM(CASE WHEN c >= 2 THEN cov ELSE 0 END) AS dup_cov
       |  FROM ranked GROUP BY doc_id, total, n
       |), wide AS (
       |  SELECT doc_id,
       |  ${(topCols ++ dupCols).mkString(",\n  ")}
       |  FROM pern GROUP BY doc_id, total
       |)
       |SELECT d.doc_id, $outCols
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN wide w ON w.doc_id = d.doc_id""".stripMargin
  }

  private def tfidfCtesSql: String =
    s"""tb AS (SELECT doc_id, ${hash60Sql("x")} % 64 AS b FROM
       |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |     AS x FROM documents) WHERE x <> ''),
       |dfb AS (SELECT b, count(DISTINCT doc_id) AS df FROM tb GROUP BY b),
       |nn AS (SELECT count(*) AS n FROM documents),
       |idf AS (SELECT b, CAST(floor((ln(nn.n + 1) - ln(df + 1)) * 1000 + 0.5)
       |  AS BIGINT) AS idf FROM dfb CROSS JOIN nn),
       |tfc AS (SELECT doc_id, b, count(*) AS tf FROM tb GROUP BY doc_id, b),
       |v AS (SELECT tfc.doc_id, tfc.b, tfc.tf,
       |  LEAST(tfc.tf * idf.idf, ${graft.operators.Tfidf.wCap(64)}) AS w
       |  FROM tfc JOIN idf ON idf.b = tfc.b)""".stripMargin

  private val sampleBernoulliOracle: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} <
       |  ${graft.operators.Sampling.thresholdFor(0.2)}""".stripMargin

  private val sampleSplitsOracle: String = {
    // the SAME cumulative-threshold literals the Spark projection embeds
    // (0.8 + 0.1 ≠ 0.9 in doubles; sharing the accumulation makes the
    // boundary bit-identical cross-engine)
    val Seq(tTrain, tVal) = graft.operators.Sampling.splitThresholds(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    s"""SELECT doc_id, source,
       |CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} < $tTrain
       |  THEN 'train'
       |WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} < $tVal THEN 'val'
       |ELSE 'test' END AS split FROM documents""".stripMargin
  }

  private val sampleStratifiedOracle: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 20""".stripMargin

  private val sampleMixtureOracle: String = {
    import graft.operators.Sampling.thresholdFor
    s"""SELECT doc_id, source FROM documents
       |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} <
       |  CASE source WHEN 'src0' THEN ${thresholdFor(1.0)}
       |              WHEN 'src1' THEN ${thresholdFor(0.5)}
       |              WHEN 'src2' THEN ${thresholdFor(0.1)}
       |              ELSE ${thresholdFor(0.05)} END""".stripMargin
  }

  /** Sequential-double fold of ‖a−b‖² over a 16-dim subspace — the DuckDB
    * replay of [[graft.functions.PqKernels]]' subDist loop.
    */
  private def subDistSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(16), " +
      s"i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])), (x, y) -> x + y)"

  private val annPqTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |sub AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT sub.m, v.vec_id AS code,
       |  list_slice(v.e, sub.m*16+1, sub.m*16+16) AS cv
       |  FROM v CROSS JOIN sub WHERE v.vec_id < 8),
       |enc0 AS (SELECT v.vec_id, cb.m, cb.code,
       |  ${subDistSql("list_slice(v.e, cb.m*16+1, cb.m*16+16)", "cb.cv")} AS sd
       |  FROM v CROSS JOIN cb),
       |enc AS (SELECT vec_id, m, code FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, m ORDER BY sd, code) AS rn FROM enc0)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
       |ps AS (SELECT q.query_id, enc.vec_id AS neighbor_id, enc.m,
       |  ${subDistSql("list_slice(q.e, enc.m*16+1, enc.m*16+16)", "cb.cv")} AS sd
       |  FROM q JOIN enc ON enc.vec_id <> q.query_id
       |  JOIN cb ON cb.m = enc.m AND cb.code = enc.code),
       |adc0 AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(sd ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM ps GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  /** SQ8 replay: `p` trains the per-dim grid (min/max GROUP BY — order
    * independent, so plain aggregates match Spark's), `cd` encodes with
    * the floor/clamp formula (the 255/(mx−mn) scale division inline,
    * matching the one driver-side division), `rec` decodes at the BIN
    * CENTER — mn + (code + 0.5)·step with the (mx−mn)/255 step, the
    * FAISS QT_8bit reconstruction — and the distance folds
    * (q_i − rec_i)² in dim order — the [[graft.functions.SqKernels]]
    * loop verbatim.
    */
  private val sqAdcChainSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |p AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
       |  FROM v CROSS JOIN range(64) t(i) GROUP BY i),
       |cd AS (SELECT v.vec_id, p.i,
       |  CASE WHEN p.mx > p.mn THEN least(255, greatest(0,
       |    CAST(floor((v.e[p.i+1] - p.mn) * (255.0/(p.mx - p.mn))) AS INT)))
       |  ELSE 0 END AS code
       |  FROM v CROSS JOIN p),
       |rec AS (SELECT cd.vec_id, cd.i,
       |  p.mn + (CAST(cd.code AS DOUBLE) + 0.5) * (CASE WHEN p.mx > p.mn
       |    THEN (p.mx - p.mn)/255.0 ELSE 0.0 END) AS rv
       |  FROM cd JOIN p ON p.i = cd.i),
       |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 10),
       |d0 AS (SELECT q.query_id, rec.vec_id AS neighbor_id, rec.i,
       |  (q.e[rec.i+1] - rec.rv) * (q.e[rec.i+1] - rec.rv) AS t
       |  FROM q JOIN rec ON rec.vec_id <> q.query_id),
       |d AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(t ORDER BY i), (x, y) -> x + y) AS adc
       |  FROM d0 GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM d)""".stripMargin

  private val annSqTopKOracle: String =
    s"""$sqAdcChainSql
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  /** Exact-refine replay: the SQ ADC chain's top-20 shortlist re-scored
    * with the exact per-dim (q_i − c_i)² sequential fold and re-ranked.
    */
  private val annSqRerankTopKOracle: String =
    s"""$sqAdcChainSql,
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (q.e[i+1] - v2.e[i+1]) * (q.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN q ON q.query_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  /** IVF-SQ8 replay: the IVF assignment/probe CTEs (`c`/`a0`/`a`/`qp`,
    * identical to the IVFPQ oracle) composed with the SQ8
    * train/encode/decode CTEs (`p`/`cd`/`rec`, identical to the flat SQ
    * oracle); candidates are probed-list members, distance is the same
    * decode-subtract-square fold in dim order. Chain form (ends at the
    * ranked `r` CTE) so the two-stage rerank oracle composes it at a
    * wider shortlist, exactly like `sqAdcChainSql`.
    */
  private val ivfSqAdcChainSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |p AS (SELECT i, min(e[i+1]) AS mn, max(e[i+1]) AS mx
       |  FROM v CROSS JOIN range(64) t(i) GROUP BY i),
       |cd AS (SELECT v.vec_id, p.i,
       |  CASE WHEN p.mx > p.mn THEN least(255, greatest(0,
       |    CAST(floor((v.e[p.i+1] - p.mn) * (255.0/(p.mx - p.mn))) AS INT)))
       |  ELSE 0 END AS code
       |  FROM v CROSS JOIN p),
       |rec AS (SELECT cd.vec_id, cd.i,
       |  p.mn + (CAST(cd.code AS DOUBLE) + 0.5) * (CASE WHEN p.mx > p.mn
       |    THEN (p.mx - p.mn)/255.0 ELSE 0.0 END) AS rv
       |  FROM cd JOIN p ON p.i = cd.i),
       |cand AS (SELECT qp.query_id, qp.qe, a.vec_id AS neighbor_id
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |d0 AS (SELECT cd.query_id, cd.neighbor_id, rec.i,
       |  (cd.qe[rec.i+1] - rec.rv) * (cd.qe[rec.i+1] - rec.rv) AS t
       |  FROM cand cd JOIN rec ON rec.vec_id = cd.neighbor_id),
       |d AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(t ORDER BY i), (x, y) -> x + y) AS adc
       |  FROM d0 GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM d)""".stripMargin

  private val annIvfSqTopKOracle: String =
    s"""$ivfSqAdcChainSql
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  /** Two-stage IVF-SQ replay: the IVF-SQ ADC chain's top-20 shortlist
    * re-scored with the exact per-dim (q_i − c_i)² sequential fold and
    * re-ranked — `annSqRerankTopKOracle`'s refine CTEs over the
    * sublinear chain. Query vectors come from `v` (one row per query),
    * not `qp` (one row per probe).
    */
  private val annIvfSqRerankStoreTopKOracle: String =
    s"""$ivfSqAdcChainSql,
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (vq.e[i+1] - v2.e[i+1]) * (vq.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v vq ON vq.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  /** Binary sign-bit replay: pack bit i of word i/32 as
    * `1::BIGINT << (i % 32)` when e[i+1] > 0 (32-bit words — the long
    * sign bit is never touched in either engine, matching the kernel's
    * planesPerKey = 32), Hamming = popcount(xor) summed over words —
    * exact integers end-to-end. Chain form ends at the ranked `r` CTE
    * so the rerank oracle composes it at a wider shortlist.
    */
  private val binaryChainSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |b AS (SELECT vec_id,
       |  CAST(SUM(CASE WHEN i < 32 AND e[i+1] > 0
       |    THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS w1,
       |  CAST(SUM(CASE WHEN i >= 32 AND e[i+1] > 0
       |    THEN (1::BIGINT << (i-32)) ELSE 0 END) AS BIGINT) AS w2
       |  FROM v CROSS JOIN range(64) t(i) GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, w1 AS qw1, w2 AS qw2 FROM b
       |  WHERE vec_id < 10),
       |d AS (SELECT q.query_id, b.vec_id AS neighbor_id,
       |  CAST(bit_count(xor(q.qw1, b.w1)) + bit_count(xor(q.qw2, b.w2))
       |    AS BIGINT) AS hamming
       |  FROM q JOIN b ON b.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, hamming, row_number() OVER
       |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
       |  FROM d)""".stripMargin

  private val annBinaryStoreTopKOracle: String =
    s"""$binaryChainSql
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, hamming
       |FROM r WHERE rank <= 5""".stripMargin

  /** IVF-binary replay: the IVF assignment/probe CTEs (`c`/`a0`/`a`/
    * `qp`, identical to the IVF-SQ oracle) composed with the sign-pack
    * CTE (`b`, identical to the flat binary oracle); candidates are
    * probed-list members, distance is the word-XOR popcount sum.
    */
  private val ivfBinaryChainSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |b AS (SELECT vec_id,
       |  CAST(SUM(CASE WHEN i < 32 AND e[i+1] > 0
       |    THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS w1,
       |  CAST(SUM(CASE WHEN i >= 32 AND e[i+1] > 0
       |    THEN (1::BIGINT << (i-32)) ELSE 0 END) AS BIGINT) AS w2
       |  FROM v CROSS JOIN range(64) t(i) GROUP BY vec_id),
       |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |d AS (SELECT cand.query_id, cand.neighbor_id,
       |  CAST(bit_count(xor(qb.w1, nb.w1)) + bit_count(xor(qb.w2, nb.w2))
       |    AS BIGINT) AS hamming
       |  FROM cand
       |  JOIN b qb ON qb.vec_id = cand.query_id
       |  JOIN b nb ON nb.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, hamming, row_number() OVER
       |  (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
       |  FROM d)""".stripMargin

  private val annIvfBinaryStoreTopKOracle: String =
    s"""$ivfBinaryChainSql
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, hamming
       |FROM r WHERE rank <= 5""".stripMargin

  /** Persisted binary two-stage replay: the IVF-binary chain's top-20
    * shortlist re-scored with the exact per-dim fold — the same refine
    * CTEs as the SQ/IVF-SQ rerank oracles.
    */
  private val annIvfBinaryRerankStoreTopKOracle: String =
    s"""$ivfBinaryChainSql,
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (vq.e[i+1] - v2.e[i+1]) * (vq.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v vq ON vq.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  /** Matryoshka replay: prefix cosine over list_slice(e, 1, 16) with
    * 16-element folds (norms inline per pair — deterministic functions
    * of the row, same bits as the engine's precomputed norms), rank
    * DESC with id tie-break at the shortlist width, then the full-dim
    * exact-refine CTEs.
    */
  /** Composed replay: prefix slice (16 dims) → SQ8 grid trained on the
    * SLICES (per-dim min/max over the 16 prefix dims) → encode +
    * bin-center decode → ADC fold → top-20 shortlist → exact FULL-dim
    * (64) refine. The `p`/`cd`/`rec`/`d0`/`d`/`r` CTEs are the flat SQ
    * oracle's over `pv` instead of `v`; the refine tail is the shared
    * full-dim re-rank.
    */
  private val annMatryoshkaSqTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |pv AS (SELECT vec_id, list_slice(e, 1, 16) AS pe FROM v),
       |p AS (SELECT i, min(pe[i+1]) AS mn, max(pe[i+1]) AS mx
       |  FROM pv CROSS JOIN range(16) t(i) GROUP BY i),
       |cd AS (SELECT pv.vec_id, p.i,
       |  CASE WHEN p.mx > p.mn THEN least(255, greatest(0,
       |    CAST(floor((pv.pe[p.i+1] - p.mn) * (255.0/(p.mx - p.mn))) AS INT)))
       |  ELSE 0 END AS code
       |  FROM pv CROSS JOIN p),
       |rec AS (SELECT cd.vec_id, cd.i,
       |  p.mn + (CAST(cd.code AS DOUBLE) + 0.5) * (CASE WHEN p.mx > p.mn
       |    THEN (p.mx - p.mn)/255.0 ELSE 0.0 END) AS rv
       |  FROM cd JOIN p ON p.i = cd.i),
       |q AS (SELECT vec_id AS query_id, pe AS qpe FROM pv WHERE vec_id < 10),
       |d0 AS (SELECT q.query_id, rec.vec_id AS neighbor_id, rec.i,
       |  (q.qpe[rec.i+1] - rec.rv) * (q.qpe[rec.i+1] - rec.rv) AS t
       |  FROM q JOIN rec ON rec.vec_id <> q.query_id),
       |d AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(t ORDER BY i), (x, y) -> x + y) AS adc
       |  FROM d0 GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM d),
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (vq.e[i+1] - v2.e[i+1]) * (vq.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v vq ON vq.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  private val annMatryoshkaRerankTopKOracle: String = {
    def dot16(a: String, b: String): String =
      s"list_reduce(list_transform(range(16), i -> $a[i+1] * $b[i+1]), " +
        "(x, y) -> x + y)"
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |pv AS (SELECT vec_id, list_slice(e, 1, 16) AS pe FROM v),
       |q AS (SELECT vec_id AS query_id, pe AS qpe FROM pv
       |  WHERE vec_id < 10),
       |s AS (SELECT query_id, pv.vec_id AS neighbor_id,
       |  ${dot16("qpe", "pe")} /
       |  (sqrt(${dot16("qpe", "qpe")}) * sqrt(${dot16("pe", "pe")}))
       |    AS sim
       |  FROM q, pv WHERE pv.vec_id <> query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s),
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (vq.e[i+1] - v2.e[i+1]) * (vq.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v vq ON vq.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin
  }

  private val annBinaryRerankTopKOracle: String =
    s"""$binaryChainSql,
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (vq.e[i+1] - v2.e[i+1]) * (vq.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v vq ON vq.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  private val ivfPqAdcChainSql: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |sub AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT sub.m, v.vec_id AS code,
       |  list_slice(v.e, sub.m*16+1, sub.m*16+16) AS cv
       |  FROM v CROSS JOIN sub WHERE v.vec_id < 8),
       |enc0 AS (SELECT v.vec_id, cb.m, cb.code,
       |  ${subDistSql("list_slice(v.e, cb.m*16+1, cb.m*16+16)", "cb.cv")} AS sd
       |  FROM v CROSS JOIN cb),
       |enc AS (SELECT vec_id, m, code FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, m ORDER BY sd, code) AS rn FROM enc0)
       |  WHERE rn = 1),
       |cand AS (SELECT qp.query_id, qp.qe, a.vec_id AS neighbor_id
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |ps AS (SELECT cd.query_id, cd.neighbor_id, enc.m,
       |  ${subDistSql("list_slice(cd.qe, enc.m*16+1, enc.m*16+16)", "cb.cv")} AS sd
       |  FROM cand cd JOIN enc ON enc.vec_id = cd.neighbor_id
       |  JOIN cb ON cb.m = enc.m AND cb.code = enc.code),
       |adc0 AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(sd ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM ps GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc0)""".stripMargin

  private val annIvfPqTopKOracle: String =
    s"""$ivfPqAdcChainSql
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  /** Exact-refine replay over the IVFPQ chain: the probed lists' ADC
    * top-20 shortlist re-scored with the exact per-dim sequential fold.
    */
  private val annIvfPqRerankTopKOracle: String =
    s"""$ivfPqAdcChainSql,
       |rr0 AS (SELECT r.query_id, r.neighbor_id,
       |  list_reduce(list_transform(range(64), i ->
       |    (q2.e[i+1] - v2.e[i+1]) * (q2.e[i+1] - v2.e[i+1])),
       |    (x, y) -> x + y) AS dist
       |  FROM r JOIN v q2 ON q2.vec_id = r.query_id
       |  JOIN v v2 ON v2.vec_id = r.neighbor_id
       |  WHERE r.rank <= 20),
       |rr AS (SELECT query_id, neighbor_id, dist, row_number() OVER
       |  (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
       |  FROM rr0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist
       |FROM rr WHERE rank <= 5""".stripMargin

  /** IVFADC residual replay: `rs` subtracts each corpus vector's
    * assigned centroid per dim (exact IEEE), the codebook seeds from the
    * first 8 ids' RESIDUAL slices, `qr` builds the query residual per
    * probed list, and the encode/ADC chain runs on residuals throughout.
    */
  private val annIvfPqResidualTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, e, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |rs AS (SELECT a.vec_id, a.l,
       |  list_transform(range(64), i -> a.e[i+1] - c.ce[i+1]) AS r
       |  FROM a JOIN c ON c.l = a.l),
       |sub AS (SELECT unnest(range(4)) AS m),
       |cb AS (SELECT sub.m, rs.vec_id AS code,
       |  list_slice(rs.r, sub.m*16+1, sub.m*16+16) AS cv
       |  FROM rs CROSS JOIN sub WHERE rs.vec_id < 8),
       |enc0 AS (SELECT rs.vec_id, cb.m, cb.code,
       |  ${subDistSql("list_slice(rs.r, cb.m*16+1, cb.m*16+16)", "cb.cv")} AS sd
       |  FROM rs CROSS JOIN cb),
       |enc AS (SELECT vec_id, m, code FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, m ORDER BY sd, code) AS rn FROM enc0)
       |  WHERE rn = 1),
       |qr AS (SELECT qp.query_id, qp.l,
       |  list_transform(range(64), i -> qp.qe[i+1] - c.ce[i+1]) AS r
       |  FROM qp JOIN c ON c.l = qp.l),
       |cand AS (SELECT qr.query_id, qr.r, a.vec_id AS neighbor_id
       |  FROM qr JOIN a ON a.l = qr.l AND a.vec_id <> qr.query_id),
       |ps AS (SELECT cd.query_id, cd.neighbor_id, enc.m,
       |  ${subDistSql("list_slice(cd.r, enc.m*16+1, enc.m*16+16)", "cb.cv")} AS sd
       |  FROM cand cd JOIN enc ON enc.vec_id = cd.neighbor_id
       |  JOIN cb ON cb.m = enc.m AND cb.code = enc.code),
       |adc0 AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(sd ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM ps GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  private val annIvfTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, e, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |s AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
       |  ${dotSql("qe", "a.e")} /
       |  (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("a.e", "a.e")})) AS sim
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= 5""".stripMargin

  /** One Lloyd iteration as oracle CTEs: assign the sample to `prev`'s
    * centroids (argmax cosine, ties to the lower list), then replace each
    * non-empty list's centroid with the per-dimension sequential sum of
    * its members in vec_id order — the exact fold
    * [[graft.operators.Similarity.refineCentroids]] runs on the driver.
    */
  private def lloydIterSql(i: Int, prev: String): String =
    s"""a_$i AS (SELECT s.vec_id, s.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM samp s CROSS JOIN $prev c),
       |b_$i AS (SELECT vec_id, e, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a_$i)
       |  WHERE rn = 1),
       |s_$i AS (SELECT l, p.p AS pos,
       |  list_reduce(list(e[p.p + 1] ORDER BY vec_id), (a, b) -> a + b) AS sm
       |  FROM b_$i CROSS JOIN (SELECT UNNEST(range(64)) AS p) p
       |  GROUP BY l, p.p),
       |c_$i AS (SELECT c.l, COALESCE(m.ce, c.ce) AS ce FROM $prev c
       |  LEFT JOIN (SELECT l, list(sm ORDER BY pos) AS ce FROM s_$i
       |    GROUP BY l) m ON m.l = c.l)""".stripMargin

  private val annIvfRefinedTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c_0 AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |samp AS (SELECT vec_id, e FROM v WHERE vec_id < 256),
       |${lloydIterSql(1, "c_0")},
       |${lloydIterSql(2, "c_1")},
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c_2 c),
       |a AS (SELECT vec_id, e, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |s AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
       |  ${dotSql("qe", "a.e")} /
       |  (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("a.e", "a.e")})) AS sim
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= 5""".stripMargin

  /** One per-subspace PQ Lloyd iteration as oracle CTEs — the DuckDB
    * replay of [[graft.operators.Similarity.refinePqCodebooks]]:
    * assign every sample slice to its nearest code by the SAME strict-<
    * L2 argmin the encode kernel uses (sequential squared-diff fold,
    * ties to the lower code), then replace each non-empty code's
    * centroid with the per-dim sequential member sum in vec_id order
    * divided ONCE by the member count; empty codes keep `prev`'s entry.
    */
  private def pqLloydIterSql(i: Int, prev: String): String =
    s"""pa_$i AS (SELECT s.vec_id, s.e, c.m, c.code,
       |  ${subDistSql("list_slice(s.e, c.m*16+1, c.m*16+16)", "c.cv")} AS sd
       |  FROM samp s CROSS JOIN $prev c),
       |pb_$i AS (SELECT vec_id, e, m, code FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, m ORDER BY sd, code) AS rn FROM pa_$i)
       |  WHERE rn = 1),
       |ps_$i AS (SELECT m, code, pp.p AS pos,
       |  list_reduce(list(e[m*16 + pp.p + 1] ORDER BY vec_id),
       |    (x, y) -> x + y) AS sm,
       |  count(*) AS n
       |  FROM pb_$i CROSS JOIN (SELECT UNNEST(range(16)) AS p) pp
       |  GROUP BY m, code, pp.p),
       |pc_$i AS (SELECT c.m, c.code, COALESCE(w.cv, c.cv) AS cv FROM $prev c
       |  LEFT JOIN (SELECT m, code, list(sm / n ORDER BY pos) AS cv
       |    FROM ps_$i GROUP BY m, code) w
       |  ON w.m = c.m AND w.code = c.code)""".stripMargin

  /** [[annIvfPqTopKOracle]] with the codebook CTE replaced by the seed
    * codebook + 2 [[pqLloydIterSql]] iterations over the vec_id < 256
    * sample — the bit-exact replay of
    * [[graft.operators.Similarity.refinePqCodebooks]]'s driver fold.
    * Coarse centroids stay the un-refined seeds, as in the query.
    */
  private val annIvfPqRefinedTopKOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, v.e, c.l,
       |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
       |  FROM v CROSS JOIN c),
       |a AS (SELECT vec_id, l FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |  WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, e AS qe, l FROM (SELECT *,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn
       |  FROM a0 WHERE vec_id < 10) WHERE rn <= 4),
       |sub AS (SELECT unnest(range(4)) AS m),
       |pc_0 AS (SELECT sub.m, v.vec_id AS code,
       |  list_slice(v.e, sub.m*16+1, sub.m*16+16) AS cv
       |  FROM v CROSS JOIN sub WHERE v.vec_id < 8),
       |samp AS (SELECT vec_id, e FROM v WHERE vec_id < 256
       |  AND len(e) >= 64),
       |${pqLloydIterSql(1, "pc_0")},
       |${pqLloydIterSql(2, "pc_1")},
       |enc0 AS (SELECT v.vec_id, cb.m, cb.code,
       |  ${subDistSql("list_slice(v.e, cb.m*16+1, cb.m*16+16)", "cb.cv")} AS sd
       |  FROM v CROSS JOIN pc_2 cb),
       |enc AS (SELECT vec_id, m, code FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id, m ORDER BY sd, code) AS rn FROM enc0)
       |  WHERE rn = 1),
       |cand AS (SELECT qp.query_id, qp.qe, a.vec_id AS neighbor_id
       |  FROM qp JOIN a ON a.l = qp.l AND a.vec_id <> qp.query_id),
       |ps AS (SELECT cd.query_id, cd.neighbor_id, enc.m,
       |  ${subDistSql("list_slice(cd.qe, enc.m*16+1, enc.m*16+16)", "cb.cv")} AS sd
       |  FROM cand cd JOIN enc ON enc.vec_id = cd.neighbor_id
       |  JOIN pc_2 cb ON cb.m = enc.m AND cb.code = enc.code),
       |adc0 AS (SELECT query_id, neighbor_id,
       |  list_reduce(list(sd ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM ps GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc, row_number() OVER
       |  (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc0)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
       |FROM r WHERE rank <= 5""".stripMargin

  private val annOutlierScoresOracle: String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
       |a0 AS (SELECT v.vec_id, c.l,
       |  (${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}))
       |    / sqrt(${dotSql("e", "e")}) AS cs
       |  FROM v CROSS JOIN c)
       |SELECT vec_id, CAST(l AS BIGINT) AS list, cs AS centroid_sim
       |FROM (SELECT *, row_number() OVER
       |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
       |WHERE rn = 1""".stripMargin

  private val dedupIncrementalOracle: String =
    """WITH corpus AS (SELECT
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id < 250),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
      |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
      |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 25),
      |b AS (SELECT doc_id, text,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM batch),
      |k AS (SELECT doc_id, text, fp,
      |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM b)
      |SELECT doc_id, text FROM k
      |WHERE rn = 1 AND fp NOT IN (SELECT fp FROM corpus)""".stripMargin

  // BM25: per-term contributions quantized to micro-nats (the DSIR
  // half-up floor), summed as exact BIGINTs; every double op mirrors
  // the Scala side's literal values and left-association, so the replay
  // is bit-exact. One SQL serves both the in-flight and the stored
  // variant — the store round trip must be value-exact.
  private val searchBm25Oracle: String =
    """WITH tk AS (SELECT doc_id, x AS tok FROM
      |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
      |     AS x FROM documents) WHERE x <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id),
      |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |st AS (SELECT count(*) AS n_docs,
      |  CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
      |  WHERE doc_id % 100 = 7),
      |sc AS (SELECT qt.query_id, tf.doc_id AS neighbor_id,
      |  CAST(sum(CAST(floor(
      |    ln((st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
      |    * ((tf.tf * (1.2 + 1.0)) /
      |       (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.len / st.avgdl))))
      |    * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score
      |  FROM tf JOIN qt ON qt.tok = tf.tok
      |  JOIN dfc ON dfc.tok = tf.tok
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  WHERE qt.query_id <> tf.doc_id
      |  GROUP BY qt.query_id, tf.doc_id),
      |r AS (SELECT query_id, neighbor_id, score, row_number() OVER
      |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
      |FROM r WHERE rank <= 10""".stripMargin

  // The df-ceiling twin: identical replay with the dfc CTE filtered to
  // df ≤ ⌊N/2⌋ (DuckDB `//` = integer floor division, matching the
  // Spark side's Long division on a non-negative count). Built by
  // substitution so the two chains can never drift except in the one
  // clause that differs; the require guards the substitution itself.
  private val searchBm25MaxDfOracle: String = {
    val exact = "dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),"
    val ceiled = "dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok\n" +
      "  HAVING count(*) <= (SELECT count(DISTINCT doc_id)//2 FROM tk)),"
    val sql = searchBm25Oracle.replace(exact, ceiled)
    require(sql != searchBm25Oracle, "df-ceiling substitution failed")
    sql
  }

  // Hybrid RRF: the BM25 CTE chain (rank ≤ 20) and the brute-cosine CTE
  // chain (rank ≤ 20) fused by floor(1e9/(60+rank)) BIGINT
  // contributions — both arms replay their own oracles' arithmetic
  // verbatim, so the fused ranking is hash-exact end-to-end.
  private val searchHybridRrfOracle: String =
    """WITH tk AS (SELECT doc_id, x AS tok FROM
      |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
      |     AS x FROM documents) WHERE x <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id),
      |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |st AS (SELECT count(*) AS n_docs,
      |  CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
      |  WHERE doc_id % 100 = 7),
      |bsc AS (SELECT qt.query_id, tf.doc_id AS neighbor_id,
      |  CAST(sum(CAST(floor(
      |    ln((st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
      |    * ((tf.tf * (1.2 + 1.0)) /
      |       (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.len / st.avgdl))))
      |    * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score
      |  FROM tf JOIN qt ON qt.tok = tf.tok
      |  JOIN dfc ON dfc.tok = tf.tok
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
      |  WHERE qt.query_id <> tf.doc_id
      |  GROUP BY qt.query_id, tf.doc_id),
      |lex AS (SELECT query_id, neighbor_id, row_number() OVER
      |  (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM bsc),
      |v AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 100 = 7),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |  list_reduce(list_transform(range(64),
      |    i -> qe[i+1] * e[i+1]), (a, b) -> a + b) /
      |  (sqrt(list_reduce(list_transform(range(64),
      |    i -> qe[i+1] * qe[i+1]), (a, b) -> a + b)) *
      |   sqrt(list_reduce(list_transform(range(64),
      |    i -> e[i+1] * e[i+1]), (a, b) -> a + b))) AS sim
      |  FROM q, v WHERE vec_id <> query_id),
      |sem AS (SELECT query_id, neighbor_id, row_number() OVER
      |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM s),
      |arms AS (
      |  SELECT query_id, neighbor_id, CAST(floor(CAST(1000000000 AS DOUBLE)
      |    / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS c
      |  FROM lex WHERE rank <= 20
      |  UNION ALL
      |  SELECT query_id, neighbor_id, CAST(floor(CAST(1000000000 AS DOUBLE)
      |    / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS c
      |  FROM sem WHERE rank <= 20),
      |fused AS (SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT)
      |    AS rrf_score, CAST(count(*) AS BIGINT) AS n_arms
      |  FROM arms GROUP BY query_id, neighbor_id),
      |r AS (SELECT query_id, neighbor_id, rrf_score, n_arms, row_number()
      |  OVER (PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id)
      |  AS rank FROM fused)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
      |  rrf_score, n_arms
      |FROM r WHERE rank <= 10""".stripMargin

  /** Linear quality-model replay: the same micro-unit weights as
    * VALUES, the shared whitespace tokenizer, a LEFT join (OOV → 0),
    * BIGINT sum, and the two exact double divisions in the same order
    * as [[graft.operators.QualityModel.scoreDocs]].
    */
  private val textModelScoreOracle: String = {
    val vals = modelWeights.map { case (t, w) =>
      s"('$t', ${math.floor(w * 1e6 + 0.5).toLong})"
    }.mkString(", ")
    val biasMicros = math.floor(modelBias * 1e6 + 0.5).toLong
    s"""WITH w(token, wm) AS (VALUES $vals),
       |tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
       |  '\\s+')) AS token FROM documents),
       |t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
       |s AS (SELECT t2.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum(w.wm), 0) AS BIGINT) AS sum_micros
       |  FROM t2 LEFT JOIN w ON w.token = t2.token GROUP BY t2.doc_id)
       |SELECT doc_id, n_tokens, sum_micros,
       |  CAST(sum_micros AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)
       |    + CAST($biasMicros AS DOUBLE) / 1000000.0 AS logit
       |FROM s""".stripMargin
  }

  // Stupid-Backoff bigram LM: fit on even-id docs (exact integer count
  // tables), score odd-id docs — seen bigrams ln(cb/c1), unseen
  // ln(0.4·(cu+1)/(T+V)) — each quantized to micro-nats, summed as
  // exact BIGINTs, one double division for the average. One SQL serves
  // the in-flight and the stored variant (counts round-trip parquet
  // exactly).
  private val textLmScoreOracle: String =
    """WITH tl AS (SELECT doc_id, list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS l
      |  FROM documents),
      |fbg AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM
      |  (SELECT unnest(list_transform(range(1, len(l)),
      |     i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS p
      |   FROM tl WHERE doc_id % 2 = 0)),
      |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM fbg
      |  GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY w1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM
      |  (SELECT unnest(l) AS w FROM tl WHERE doc_id % 2 = 0) GROUP BY w),
      |meta AS (SELECT CAST(sum(cu) AS BIGINT) AS tt,
      |  CAST(count(*) AS BIGINT) AS v FROM uni),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM
      |  (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |     i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS p
      |   FROM tl WHERE doc_id % 2 = 1)),
      |bgn AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n FROM bg
      |  GROUP BY doc_id, w1, w2),
      |sc AS (SELECT bgn.doc_id, bgn.n,
      |  CASE WHEN cb.cb IS NOT NULL THEN
      |    CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT)
      |  ELSE
      |    CAST(floor(ln(0.4 * CAST(coalesce(uni.cu, 0) + 1 AS DOUBLE)
      |      / CAST(meta.tt + meta.v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  END AS lp
      |  FROM bgn
      |  LEFT JOIN cb ON cb.w1 = bgn.w1 AND cb.w2 = bgn.w2
      |  LEFT JOIN c1 ON c1.w1 = bgn.w1
      |  LEFT JOIN uni ON uni.w = bgn.w2
      |  CROSS JOIN meta)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |  CAST(sum(n * lp) AS BIGINT) AS lognat_sum,
      |  CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS avg_lognat
      |FROM sc GROUP BY doc_id""".stripMargin

  // CCNet ppl buckets: the LM scoring CTE chain (identical to
  // textLmScoreOracle), then per-language rank terciles — the double
  // score only orders (hash-exact), the bucket is rank arithmetic.
  private val textLmPplBucketsOracle: String =
    """WITH tl AS (SELECT doc_id, list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS l
      |  FROM documents),
      |fbg AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM
      |  (SELECT unnest(list_transform(range(1, len(l)),
      |     i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS p
      |   FROM tl WHERE doc_id % 2 = 0)),
      |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM fbg
      |  GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY w1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM
      |  (SELECT unnest(l) AS w FROM tl WHERE doc_id % 2 = 0) GROUP BY w),
      |meta AS (SELECT CAST(sum(cu) AS BIGINT) AS tt,
      |  CAST(count(*) AS BIGINT) AS v FROM uni),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM
      |  (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |     i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS p
      |   FROM tl WHERE doc_id % 2 = 1)),
      |bgn AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n FROM bg
      |  GROUP BY doc_id, w1, w2),
      |sc AS (SELECT bgn.doc_id, bgn.n,
      |  CASE WHEN cb.cb IS NOT NULL THEN
      |    CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      |      * 1000000 + 0.5) AS BIGINT)
      |  ELSE
      |    CAST(floor(ln(0.4 * CAST(coalesce(uni.cu, 0) + 1 AS DOUBLE)
      |      / CAST(meta.tt + meta.v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  END AS lp
      |  FROM bgn
      |  LEFT JOIN cb ON cb.w1 = bgn.w1 AND cb.w2 = bgn.w2
      |  LEFT JOIN c1 ON c1.w1 = bgn.w1
      |  LEFT JOIN uni ON uni.w = bgn.w2
      |  CROSS JOIN meta),
      |scored AS (SELECT doc_id,
      |  CAST(sum(n * lp) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS avg_lognat
      |  FROM sc GROUP BY doc_id),
      |j AS (SELECT s.doc_id, d.lang, s.avg_lognat
      |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
      |r AS (SELECT doc_id, lang, row_number() OVER
      |  (PARTITION BY lang ORDER BY avg_lognat DESC, doc_id) AS rank,
      |  count(*) OVER (PARTITION BY lang) AS n FROM j)
      |SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank,
      |  CAST(floor(CAST((rank - 1) * 3 AS DOUBLE) / CAST(n AS DOUBLE))
      |    AS BIGINT) AS bucket
      |FROM r""".stripMargin

  val oracles: Map[String, String] = Map(
    "decontaminate_verbatim" ->
      """WITH tl AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |bp AS (SELECT l[1:8] AS p, least(len(l), 8) AS m FROM tl
        |  WHERE doc_id % 150 = 11 AND len(l) >= 1),
        |hit AS (SELECT DISTINCT t.doc_id FROM tl t JOIN bp
        |  ON len(t.l) >= bp.m AND len(list_filter(
        |    range(1, len(t.l) - bp.m + 2), i -> t.l[i:i+bp.m-1] = bp.p)) > 0)
        |SELECT doc_id FROM tl
        |WHERE doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,
    "search_phrase" ->
      """WITH tl AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |ph AS (SELECT l[1:5] AS p FROM tl WHERE doc_id = 7),
        |m AS (SELECT t.doc_id, CAST(len(list_filter(range(1, len(t.l) - 3),
        |    i -> t.l[i:i+4] = ph.p)) AS BIGINT) AS n_matches
        |  FROM tl t CROSS JOIN ph WHERE len(t.l) >= 5)
        |SELECT doc_id, n_matches FROM m WHERE n_matches > 0""".stripMargin,
    "text_lm_ppl_buckets" -> textLmPplBucketsOracle,
    // CCNet mix: the buckets oracle as a subquery + the shared md5
    // threshold draw per bucket (thresholdFor literals shared with the
    // Spark CASE, like the mixture oracle)
    "sample_ppl_stratified" -> {
      import graft.operators.Sampling.thresholdFor
      s"""SELECT doc_id, lang, bucket FROM ($textLmPplBucketsOracle) q
         |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} <
         |  CASE CAST(bucket AS VARCHAR)
         |    WHEN '0' THEN ${thresholdFor(1.0)}
         |    WHEN '1' THEN ${thresholdFor(0.5)}
         |    WHEN '2' THEN ${thresholdFor(0.1)}
         |    ELSE ${thresholdFor(0.0)} END""".stripMargin
    },
    "search_bm25_topk" -> searchBm25Oracle,
    "search_bm25_store_topk" -> searchBm25Oracle,
    "search_bm25_segmented" -> searchBm25Oracle,
    "search_bm25_topk_maxdf" -> searchBm25MaxDfOracle,
    "search_bm25_store_maxdf" -> searchBm25MaxDfOracle,
    "search_hybrid_rrf" -> searchHybridRrfOracle,
    "text_lm_score" -> textLmScoreOracle,
    "text_lm_score_store" -> textLmScoreOracle,
    "text_model_score" -> textModelScoreOracle,
    // stored twin is value-identical (micro longs round-trip parquet)
    "text_model_score_store" -> textModelScoreOracle,
    "ann_ivf_topk" -> annIvfTopKOracle,
    "ann_ivf_store_topk" -> annIvfTopKOracle,
    "ann_pq_topk" -> annPqTopKOracle,
    "ann_ivfpq_topk" -> annIvfPqTopKOracle,
    "ann_ivfpq_residual_topk" -> annIvfPqResidualTopKOracle,
    "ann_sq_topk" -> annSqTopKOracle,
    // the stored twin is value-identical by construction (code bytes
    // round-trip parquet exactly), so the same oracle checks it
    "ann_sq_store_topk" -> annSqTopKOracle,
    "ann_ivfsq_topk" -> annIvfSqTopKOracle,
    "ann_ivfsq_store_topk" -> annIvfSqTopKOracle,
    "ann_sq_rerank_topk" -> annSqRerankTopKOracle,
    "ann_ivfpq_rerank_topk" -> annIvfPqRerankTopKOracle,
    // the two-store twin is value-identical by construction (codes and
    // raw floats round-trip parquet exactly), so the same oracle checks
    // the whole build→stores→probe→refine chain
    "ann_ivfpq_rerank_store_topk" -> annIvfPqRerankTopKOracle,
    "ann_ivfsq_rerank_store_topk" -> annIvfSqRerankStoreTopKOracle,
    "ann_binary_store_topk" -> annBinaryStoreTopKOracle,
    "ann_ivfbinary_store_topk" -> annIvfBinaryStoreTopKOracle,
    "ann_ivfbinary_rerank_store_topk" -> annIvfBinaryRerankStoreTopKOracle,
    "ann_binary_rerank_topk" -> annBinaryRerankTopKOracle,
    "ann_matryoshka_rerank_topk" -> annMatryoshkaRerankTopKOracle,
    "ann_matryoshka_sq_topk" -> annMatryoshkaSqTopKOracle,
    // the stored-index twin is value-identical by construction (codes
    // round-trip parquet exactly), so the same oracle checks it
    "ann_ivfpq_store_topk" -> annIvfPqTopKOracle,
    "ann_ivf_refined_topk" -> annIvfRefinedTopKOracle,
    "ann_ivfpq_refined_topk" -> annIvfPqRefinedTopKOracle,
    // trained store round trip is value-exact (int codes), so the
    // in-flight refined oracle checks the build→store→probe path too
    "ann_ivfpq_store_trained_topk" -> annIvfPqRefinedTopKOracle,
    "ann_outlier_scores" -> annOutlierScoresOracle,
    "sample_bernoulli" -> sampleBernoulliOracle,
    "sample_splits" -> sampleSplitsOracle,
    "sample_stratified" -> sampleStratifiedOracle,
    "sample_mixture" -> sampleMixtureOracle,
    // cluster-balanced: replay the IVF literal-centroid assignment
    // (argmax cosine, ties to the lower list — the annIvfTopK CTEs) then
    // the stratified window per list
    "sample_cluster_balanced" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |c AS (SELECT vec_id AS l, e AS ce FROM v WHERE vec_id < 16),
         |a0 AS (SELECT v.vec_id, c.l,
         |  ${dotSql("e", "ce")} / sqrt(${dotSql("ce", "ce")}) AS cs
         |  FROM v CROSS JOIN c),
         |a AS (SELECT vec_id, l FROM (SELECT *, row_number() OVER
         |  (PARTITION BY vec_id ORDER BY cs DESC, l) AS rn FROM a0)
         |  WHERE rn = 1)
         |SELECT vec_id, CAST(l AS BIGINT) AS list FROM (
         |  SELECT vec_id, l, row_number() OVER (PARTITION BY l
         |    ORDER BY ${hash60Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |  FROM a)
         |WHERE rn <= 10""".stripMargin,
    // fractional upsampling: 2 guaranteed copies + a seeded 30% third;
    // the threshold literal is computed by the SAME Scala expression the
    // operator uses (2.3 − 2.0 is not 0.3 in binary floating point)
    "sample_upsample" ->
      s"""WITH c AS (SELECT doc_id, source,
         |  2 + CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR) || ':11'")} <
         |    ${graft.operators.Sampling.thresholdFor(2.3 - math.floor(2.3))}
         |    THEN 1 ELSE 0 END AS n
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS copy_idx
         |FROM c""".stripMargin,
    "text_tfidf_vectors" ->
      s"""WITH $tfidfCtesSql
         |SELECT doc_id, b AS bucket, tf, w FROM v""".stripMargin,
    "text_tfidf_vectors_store" ->
      s"""WITH $tfidfCtesSql
         |SELECT doc_id, b AS bucket, tf, w FROM v""".stripMargin,
    // rare-token postings candidates + exact-integer cosine test:
    // den²·dot² ≥ num²·n2a·n2b over HUGEINTs (dot² needs 28 digits)
    "tfidf_cosine_pairs" ->
      s"""WITH $tfidfCtesSql,
         |tk AS (SELECT DISTINCT doc_id, x AS tok FROM
         |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |     AS x FROM documents) WHERE x <> ''),
         |dfc AS (SELECT tok FROM tk GROUP BY tok
         |  HAVING count(*) BETWEEN 2 AND 50),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM tk a JOIN dfc ON dfc.tok = a.tok
         |  JOIN tk b ON b.tok = a.tok AND a.doc_id < b.doc_id),
         |n2 AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS n2
         |  FROM v GROUP BY doc_id),
         |d AS (SELECT c.id_a, c.id_b, CAST(sum(va.w * vb.w) AS BIGINT) AS dot
         |  FROM cand c JOIN v va ON va.doc_id = c.id_a
         |  JOIN v vb ON vb.doc_id = c.id_b AND vb.b = va.b
         |  GROUP BY c.id_a, c.id_b)
         |SELECT d.id_a, d.id_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
         |FROM d JOIN n2 na ON na.doc_id = d.id_a
         |JOIN n2 nb ON nb.doc_id = d.id_b
         |WHERE d.dot > 0 AND 25 * CAST(d.dot AS HUGEINT) * d.dot >=
         |  16 * CAST(na.n2 AS HUGEINT) * nb.n2""".stripMargin,
    // incremental TF-IDF: corpus fit replayed (idf frozen over corpus
    // only; batch-only buckets take the unseen default ln(N+1), the
    // Tfidf.UnseenKey sentinel), store-join
    // candidates via the ≤50-df corpus postings, exact-integer cosine
    // for both the corpus hits and the within-batch recursive CC
    "dedup_tfidf_incremental" ->
      s"""WITH RECURSIVE
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL SELECT doc_id + 10000, text FROM documents
        |    WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, text FROM documents
        |    WHERE doc_id BETWEEN 250 AND 274),
        |ctb AS (SELECT doc_id,
        |  ('0x' || substring(md5(x), 1, 15))::BIGINT % 64 AS b FROM
        |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\\s+')) AS x FROM corpus) WHERE x <> ''),
        |cdfb AS (SELECT b, count(DISTINCT doc_id) AS df FROM ctb GROUP BY b),
        |nn AS (SELECT count(*) AS n FROM corpus),
        |idf AS (SELECT b, CAST(floor((ln(nn.n + 1) - ln(df + 1)) * 1000
        |  + 0.5) AS BIGINT) AS idf FROM cdfb CROSS JOIN nn),
        |dflt AS (SELECT CAST(floor(ln(n + 1) * 1000 + 0.5) AS BIGINT) AS d
        |  FROM nn),
        |ctf AS (SELECT doc_id, b, count(*) AS tf FROM ctb GROUP BY doc_id, b),
        |cv AS (SELECT ctf.doc_id, ctf.b,
        |  LEAST(ctf.tf * idf.idf, ${graft.operators.Tfidf.wCap(64)}) AS w
        |  FROM ctf JOIN idf ON idf.b = ctf.b),
        |cn2 AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS n2
        |  FROM cv GROUP BY doc_id),
        |btb AS (SELECT doc_id,
        |  ('0x' || substring(md5(x), 1, 15))::BIGINT % 64 AS b FROM
        |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\\s+')) AS x FROM batch) WHERE x <> ''),
        |btf AS (SELECT doc_id, b, count(*) AS tf FROM btb GROUP BY doc_id, b),
        |bv AS (SELECT btf.doc_id, btf.b,
        |  LEAST(btf.tf * COALESCE(idf.idf, dflt.d),
        |    ${graft.operators.Tfidf.wCap(64)}) AS w
        |  FROM btf LEFT JOIN idf ON idf.b = btf.b CROSS JOIN dflt),
        |bn2 AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS n2
        |  FROM bv GROUP BY doc_id),
        |ctk AS (SELECT DISTINCT doc_id, x AS tok FROM
        |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\\s+')) AS x FROM corpus) WHERE x <> ''),
        |cpost AS (SELECT tok FROM ctk GROUP BY tok HAVING count(*) <= 50),
        |btk AS (SELECT DISTINCT doc_id, x AS tok FROM
        |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\\s+')) AS x FROM batch) WHERE x <> ''),
        |cand AS (SELECT DISTINCT bt.doc_id AS id_b, ct.doc_id AS id_c
        |  FROM btk bt JOIN cpost cp ON cp.tok = bt.tok
        |  JOIN ctk ct ON ct.tok = bt.tok),
        |xd AS (SELECT cand.id_b, cand.id_c,
        |  CAST(sum(bv.w * cv.w) AS BIGINT) AS dot
        |  FROM cand JOIN bv ON bv.doc_id = cand.id_b
        |  JOIN cv ON cv.doc_id = cand.id_c AND cv.b = bv.b
        |  GROUP BY cand.id_b, cand.id_c),
        |hits AS (SELECT DISTINCT xd.id_b AS id FROM xd
        |  JOIN bn2 ON bn2.doc_id = xd.id_b
        |  JOIN cn2 ON cn2.doc_id = xd.id_c
        |  WHERE xd.dot > 0 AND 25 * CAST(xd.dot AS HUGEINT) * xd.dot >=
        |    16 * CAST(bn2.n2 AS HUGEINT) * cn2.n2),
        |bdf AS (SELECT tok FROM btk GROUP BY tok
        |  HAVING count(*) BETWEEN 2 AND 50),
        |bp0 AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM btk a JOIN bdf ON bdf.tok = a.tok
        |  JOIN btk b2 ON b2.tok = a.tok AND a.doc_id < b2.doc_id),
        |bd AS (SELECT bp0.id_a, bp0.id_b,
        |  CAST(sum(va.w * vb.w) AS BIGINT) AS dot
        |  FROM bp0 JOIN bv va ON va.doc_id = bp0.id_a
        |  JOIN bv vb ON vb.doc_id = bp0.id_b AND vb.b = va.b
        |  GROUP BY bp0.id_a, bp0.id_b),
        |bp AS (SELECT bd.id_a, bd.id_b FROM bd
        |  JOIN bn2 na ON na.doc_id = bd.id_a
        |  JOIN bn2 nb ON nb.doc_id = bd.id_b
        |  WHERE bd.dot > 0 AND 25 * CAST(bd.dot AS HUGEINT) * bd.dot >=
        |    16 * CAST(na.n2 AS HUGEINT) * nb.n2),
        |e AS (SELECT id_a AS src, id_b AS dst FROM bp
        |  UNION SELECT id_b, id_a FROM bp),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src)
        |SELECT doc_id FROM batch
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |  AND doc_id NOT IN (SELECT id FROM hits)""".stripMargin,
    // token entropy: per-term c·ln c quantized to micro-nats BEFORE the
    // sum (order-independent BIGINT), n·ln n term quantized identically
    "text_token_entropy" ->
      """WITH tc AS (SELECT doc_id, x AS tok, count(*) AS c FROM
        |  (SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
        |    '\s+')) AS x FROM documents)
        |  WHERE x <> '' GROUP BY doc_id, x),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CAST(floor(c * ln(c) * 1000000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS s
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(floor(n_tokens * ln(n_tokens) * 1000000.0 + 0.5) AS BIGINT)
        |    - s AS ent_micro
        |FROM a""".stripMargin,
    "corpus_overlap" ->
      """WITH tok AS (SELECT doc_id, source,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh0 AS (SELECT source, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |sh AS (SELECT DISTINCT source, unnest(s) AS g FROM sh0),
        |sizes AS (SELECT source, count(*) AS n_a FROM sh GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.source <> b.source
        |  GROUP BY a.source, b.source)
        |SELECT p.source_a, p.source_b, p.n_shared, s.n_a
        |FROM p JOIN sizes s ON s.source = p.source_a""".stripMargin,
    // DSIR: per-bucket log ratios from exact integer counts, quantized
    // to micro-nats (floor(x*1e6+0.5) — explicit half-up, round() and
    // Math.round disagree on negative halves); doc scores are exact
    // BIGINT sums, the Gumbel key a pure function of (doc_id, seed)
    "sample_dsir" ->
      """WITH rt AS (SELECT doc_id, x AS tok,
        |  ('0x' || substring(md5(x), 1, 15))::BIGINT % 64 AS b FROM
        |  (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
        |     AS x FROM documents) WHERE x <> ''),
        |tt AS (SELECT tok, b FROM rt WHERE doc_id % 10 = 0),
        |rb AS (SELECT b, count(*) AS cq FROM rt GROUP BY b),
        |tb AS (SELECT b, count(*) AS ct FROM tt GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM rt) AS nq,
        |               (SELECT count(*) FROM tt) AS nt),
        |iw AS (SELECT rb.b,
        |  CAST(floor((ln(COALESCE(tb.ct, 0) + 1) - ln(tot.nt + 64)
        |    - ln(rb.cq + 1) + ln(tot.nq + 64)) * 1000000 + 0.5) AS BIGINT) AS w
        |  FROM rb LEFT JOIN tb ON tb.b = rb.b CROSS JOIN tot),
        |sc AS (SELECT rt.doc_id, count(*) AS n_tokens,
        |  CAST(sum(iw.w) AS BIGINT) AS score
        |  FROM rt JOIN iw ON iw.b = rt.b GROUP BY rt.doc_id),
        |g AS (SELECT doc_id, n_tokens, score, score + CAST(floor(
        |  -ln(-ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |    1, 15))::BIGINT
        |    + 0.5) / 1152921504606846976.0)) * 1000000 + 0.5) AS BIGINT)
        |  AS gscore FROM sc)
        |SELECT doc_id, n_tokens, score, gscore FROM g
        |QUALIFY row_number() OVER (ORDER BY gscore DESC, doc_id)
        |  <= ceil(0.25 * (SELECT count(*) FROM documents))""".stripMargin,
    "dedup_simhash" -> dedupSimhashOracle,
    "dedup_simhash_drop" -> dedupSimhashDropOracle,
    "dedup_simhash_incremental" -> dedupSimhashIncrementalOracle,
    "ann_lsh_topk" -> annLshTopKOracle,
    "ann_lsh_multiprobe_topk" -> annLshMultiprobeTopKOracle,
    // the stored-index twin is value-identical by construction (vectors
    // and norms round-trip parquet exactly), so the same oracle checks it
    "ann_lsh_store_topk" -> annLshMultiprobeTopKOracle,
    "ann_cosine_neardup" -> annCosineNearDupOracle,
    "ann_cosine_neardup_capped" -> annCosineNearDupCappedOracle,
    "ann_semdedup" -> annSemDedupOracle,
    "ann_decontaminate" -> annDecontaminateOracle,
    "ann_decontaminate_multiprobe" -> annDecontaminateMultiprobeOracle,
    "ann_neardup_incremental" -> annNearDupIncrementalOracle,
    "ann_neardup_incremental_multiprobe" ->
      annNearDupIncrementalMultiprobeOracle,
    "csv_roundtrip" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |source, n_chars FROM documents""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |source, n_chars FROM documents""".stripMargin,
    "coerce_integer" ->
      """SELECT o_orderkey, o_orderkey AS i_pass, o_orderkey AS i_plus,
        |CAST(NULL AS BIGINT) AS i_frac, CAST(NULL AS BIGINT) AS i_text,
        |CAST(trunc(o_totalprice) AS BIGINT) AS i_trunc FROM orders""".stripMargin,
    "coerce_boolean" ->
      """SELECT o_orderkey,
        |CASE WHEN o_orderkey % 6 IN (0, 1) THEN TRUE
        |     WHEN o_orderkey % 6 IN (2, 3) THEN FALSE
        |     ELSE CAST(NULL AS BOOLEAN) END AS b_str,
        |(o_orderkey % 3) <> 0 AS b_num FROM orders""".stripMargin,
    "coerce_timestamp" ->
      """SELECT o_orderkey, o_orderdate AS t_iso, o_orderdate AS t_space,
        |date_trunc('day', o_orderdate) AS t_date, o_orderdate AS t_zulu,
        |o_orderdate - INTERVAL 1 HOUR AS t_offset,
        |CAST(NULL AS TIMESTAMP) AS t_bad_year,
        |CAST(NULL AS TIMESTAMP) AS t_bad_slash FROM orders""".stripMargin,
    "required_filter_strict" ->
      """SELECT doc_id, lang,
        |CASE WHEN doc_id % 5 = 0 THEN NULL ELSE text END AS text, source
        |FROM documents WHERE doc_id % 3 <> 0""".stripMargin,
    "project_warn_extras" ->
      """SELECT doc_id, lang, CAST(n_chars AS VARCHAR) AS n_chars, source, text
        |FROM documents""".stripMargin,
    "error_summary" ->
      """SELECT CAST(count(*) AS BIGINT) AS records,
        |CAST(0 AS BIGINT) AS missing_required_doc_id,
        |CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS missing_required_lang,
        |CAST(0 AS BIGINT) AS type_mismatch_doc_id,
        |CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS type_mismatch_n_chars
        |FROM documents""".stripMargin,
    "error_samples" ->
      """SELECT record_id, field, error_type, message FROM (
        |  SELECT doc_id AS record_id, 'lang' AS field,
        |    'missing_required' AS error_type,
        |    'Required field ''lang'' is missing' AS message
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'n_chars', 'type_mismatch',
        |    'Field ''n_chars'' type mismatch'
        |  FROM documents WHERE doc_id % 4 = 0)
        |ORDER BY record_id, field LIMIT 100""".stripMargin,
    "partition_value_normalize" ->
      """SELECT p_partkey,
        |regexp_replace(lower(p_type), '[^a-z0-9_-]', '_', 'g') AS v_type,
        |regexp_replace(lower(p_brand), '[^a-z0-9_-]', '_', 'g') AS v_brand,
        |'2021-03-04' AS v_date FROM part""".stripMargin,
    "ingest_date" ->
      """SELECT doc_id, CAST(current_date AS VARCHAR) AS ingest_date
        |FROM documents""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |sum(l_extendedprice) AS sum_price,
        |CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderpriority""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "events_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k,
        |CAST(props->>'$.k' AS BIGINT) % 10 AS k_bucket FROM events""".stripMargin,
    "corpus_mix" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+')))
        |    AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens, n_chars,
        |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |    AS token_frac
        |FROM s""".stripMargin,
    "window_running_count" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(count(*) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_orders
        |FROM orders""".stripMargin,
    "distinct_users" ->
      """SELECT event_type,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
        |CAST(count(*) AS BIGINT) AS events
        |FROM events GROUP BY event_type""".stripMargin,
    "q6_filter_agg" ->
      """SELECT sum(l_extendedprice * l_discount) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "events_latest_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "mdkv_render" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |'---' || chr(10) || 'doc_id: ' || doc_id || chr(10) || '---' ||
        |chr(10) || chr(10) || 'text:: ' || text || chr(10) || 'lang:: ' ||
        |lang || chr(10) || 'source:: ' || source || chr(10) ||
        |'n_chars:: ' || n_chars AS markdown_kv_content
        |FROM documents""".stripMargin,
    "mdkv_roundtrip_kv" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, '_front_matter' AS section,
        |  'doc_id' AS key, CAST(doc_id AS VARCHAR) AS value,
        |  CAST(NULL AS VARCHAR) AS value_json, CAST(0 AS BIGINT) AS ord
        |  FROM documents
        |UNION ALL SELECT CAST(doc_id AS VARCHAR), '_default', 'text', text,
        |  NULL, 1 FROM documents
        |UNION ALL SELECT CAST(doc_id AS VARCHAR), '_default', 'lang', lang,
        |  NULL, 2 FROM documents
        |UNION ALL SELECT CAST(doc_id AS VARCHAR), '_default', 'source', source,
        |  NULL, 3 FROM documents
        |UNION ALL SELECT CAST(doc_id AS VARCHAR), '_default', 'n_chars',
        |  CAST(n_chars AS VARCHAR), CAST(n_chars AS VARCHAR), 4
        |  FROM documents""".stripMargin,
    "mdkv_doc_level" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, '_default' AS title,
        |  '_front_matter' AS section, 0 AS level, CAST(1 AS BIGINT) AS n_kv
        |  FROM documents
        |UNION ALL SELECT CAST(doc_id AS VARCHAR), '_default', '_default', 0, 4
        |  FROM documents""".stripMargin,
    "events_hopping_window" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
        |  FROM events),
        |w AS (SELECT event_type, t,
        |  unnest([(t // 300000000) * 300000000,
        |          (t // 300000000) * 300000000 - 300000000]) AS ws
        |  FROM e)
        |SELECT make_timestamp(ws) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w WHERE t >= ws AND t < ws + 600000000
        |GROUP BY ws, event_type""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts,
        |  CASE WHEN prev IS NULL OR
        |    CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev)) AS BIGINT) > 1800
        |  THEN 1 ELSE 0 END AS new_s FROM g),
        |s AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) - 1 AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "dedup_exact" ->
      """SELECT text, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |GROUP BY text""".stripMargin,
    "dedup_exact_keep" ->
      "SELECT doc_id, text FROM documents",
    "dedup_minhash" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) * 1.0 /
        |  len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |  len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin,
    "dedup_minhash_drop" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,
    // same clusters, quality-aware survivor: per component keep the
    // longest member (n_chars DESC, ties to the lower id)
    "dedup_minhash_keep_best" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (SELECT src AS id, least(src, min(dst)) AS component
        |  FROM reach GROUP BY src),
        |win AS (SELECT id FROM (SELECT c.id, row_number() OVER
        |  (PARTITION BY c.component ORDER BY d.n_chars DESC, c.id) AS rn
        |  FROM comp c JOIN documents d ON d.doc_id = c.id) WHERE rn = 1)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp)
        |   OR doc_id IN (SELECT id FROM win)""".stripMargin,
    "dedup_ngram_block" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |  list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) * 1.0 /
        |  len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.lang = b.lang
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |  len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin,
    // directed containment: same shingle CTEs, asymmetric denominator
    // (the contained side's distinct-shingle count), both directions
    "dedup_containment" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |  list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3)
        |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS shared,
        |  CAST(len(a.s) AS BIGINT) AS n_contained,
        |  len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) AS containment
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id AND a.lang = b.lang
        |WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(a.s) >= 0.8""".stripMargin,
    // n-gram repetition: gram strings via lead() windows (same shape as
    // the Scala one-window build), counts → coverage → per-n rollup →
    // wide pivot; single integer division per cell keeps the doubles
    // cross-engine exact. Docs with no tokens restore as NULL via the
    // final left join; sizes a doc is too short for are 0.0.
    "text_repetition_ngrams" -> textRepetitionNgramsOracle,
    "text_repetition" ->
      """WITH words0 AS (
        |  SELECT doc_id, unnest(range(1, len(ws)+1)) AS pos, unnest(ws) AS w
        |  FROM (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents)
        |), ww AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN lead(w) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
        |      THEN w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
        |    END AS bg
        |  FROM words0 WHERE w <> ''
        |), wa AS (
        |  SELECT doc_id, CAST(SUM(wc) AS BIGINT) AS n_words,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(wc) AS max_wc
        |  FROM (SELECT doc_id, w, count(*) AS wc FROM ww GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), ba AS (
        |  SELECT doc_id AS bdoc, CAST(SUM(bc) AS BIGINT) AS n_bigrams,
        |    MAX(bc) AS max_bc
        |  FROM (SELECT doc_id, bg, count(*) AS bc FROM ww
        |        WHERE bg IS NOT NULL GROUP BY doc_id, bg)
        |  GROUP BY doc_id
        |)
        |SELECT wa.doc_id, n_words,
        |  1.0 - n_distinct * 1.0 / n_words AS dup_word_frac,
        |  max_wc * 1.0 / n_words AS top_word_frac,
        |  max_bc * 1.0 / n_bigrams AS top_bigram_frac
        |FROM wa LEFT JOIN ba ON wa.doc_id = ba.bdoc""".stripMargin,
    "dedup_paragraph" ->
      """WITH paras AS (
        |  SELECT doc_id, unnest(range(1, len(ps)+1)) AS idx, unnest(ps) AS para
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ps FROM documents) t
        |), kept AS (
        |  SELECT doc_id, idx, para,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY trim(regexp_replace(lower(para), '\s+', ' ', 'g'))
        |      ORDER BY doc_id, idx) AS rn
        |  FROM paras WHERE trim(para) <> ''
        |)
        |SELECT doc_id, string_agg(para, ' ' ORDER BY idx) AS text
        |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
        |csh AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 20 <> 0),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM csh JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  h.doc_id IS NOT NULL AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN hits h USING (doc_id)""".stripMargin,
    // benchmark-side leakage: DISTINCT corpus docs / shingles per bench
    // doc (string grouping here; the engine hashes map-side — the
    // documented 2^-64 gamble)
    "text_leakage_report" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |bsh AS (SELECT doc_id AS bid, unnest(s) AS g FROM sh
        |  WHERE doc_id % 20 = 0),
        |csh AS (SELECT doc_id AS cid, unnest(s) AS g FROM sh
        |  WHERE doc_id % 20 <> 0),
        |hits AS (SELECT bid,
        |  CAST(count(DISTINCT cid) AS BIGINT) AS n_corpus_docs,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_shared_shingles
        |  FROM csh JOIN bsh USING (g) GROUP BY bid)
        |SELECT b.doc_id, COALESCE(h.n_corpus_docs, 0) AS n_corpus_docs,
        |  COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles,
        |  h.bid IS NOT NULL AS leaked
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) b
        |LEFT JOIN hits h ON h.bid = b.doc_id""".stripMargin,
    "text_pii_redact" -> {
      import graft.operators.PiiRedact.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH salted AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 <> 0
         |    THEN ' mail user' || doc_id || '@mail.example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 4 <> 0
         |    THEN ' ip 10.0.' || (doc_id % 256) || '.7' ELSE '' END ||
         |  CASE WHEN doc_id % 5 <> 0
         |    THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    ELSE '' END AS pii_text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM salted""".stripMargin
    },
    "dedup_incremental" -> dedupIncrementalOracle,
    // the bloom path must be RESULT-invisible (sketch = prefilter only,
    // false positives removed exactly), so the identical oracle checks it
    "dedup_incremental_bloom" -> dedupIncrementalOracle,
    "dedup_minhash_incremental" ->
      """WITH RECURSIVE
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 20000, text FROM documents
        |    WHERE doc_id BETWEEN 250 AND 274),
        |bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM batch),
        |bs AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM bt WHERE len(t) >= 3),
        |ct AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM corpus),
        |cs AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM ct WHERE len(t) >= 3),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bs a JOIN bs b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |inbatch_losers AS (SELECT DISTINCT src AS id FROM reach WHERE dst < src),
        |survivors AS (SELECT doc_id FROM batch
        |  WHERE doc_id NOT IN (SELECT id FROM inbatch_losers)),
        |corpus_losers AS (SELECT DISTINCT a.doc_id FROM bs a JOIN cs c ON
        |  len(list_intersect(a.s, c.s)) * 1.0 /
        |    len(list_distinct(list_concat(a.s, c.s))) >= 0.9)
        |SELECT doc_id FROM survivors
        |WHERE doc_id NOT IN (SELECT doc_id FROM corpus_losers)""".stripMargin,
    "dedup_spans" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |    WHERE doc_id < 100),
        |tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM corpus),
        |p AS (SELECT doc_id, t, UNNEST(range(len(t) - 9)) AS pos
        |  FROM tok WHERE len(t) >= 10),
        |w AS (SELECT doc_id, pos,
        |  array_to_string(t[pos + 1 : pos + 10], ' ') AS wt FROM p),
        |d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
        |  COUNT(*) OVER (PARTITION BY wt) AS c FROM w) WHERE c > 1),
        |i AS (SELECT doc_id, pos, pos - row_number() OVER
        |  (PARTITION BY doc_id ORDER BY pos) AS isl FROM d)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 9 AS span_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM i GROUP BY doc_id, isl""".stripMargin,
    "dedup_spans_remove" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |    WHERE doc_id < 100),
        |tok AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |p AS (SELECT doc_id, t, UNNEST(range(len(t) - 9)) AS pos
        |  FROM tok WHERE len(t) >= 10),
        |w AS (SELECT doc_id, pos,
        |  lower(array_to_string(t[pos + 1 : pos + 10], ' ')) AS wt FROM p),
        |nc AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY wt ORDER BY doc_id, pos) AS rn
        |  FROM w) WHERE rn > 1),
        |mask AS (SELECT DISTINCT doc_id, UNNEST(range(pos, pos + 10)) AS idx
        |  FROM nc),
        |tr0 AS (SELECT doc_id, t, UNNEST(range(len(t))) AS idx FROM tok),
        |tr AS (SELECT doc_id, idx, t[idx + 1] AS tok FROM tr0),
        |kept AS (SELECT tr.doc_id, tr.idx, tr.tok
        |  FROM tr ANTI JOIN mask USING (doc_id, idx))
        |SELECT doc_id, array_to_string(list(tok ORDER BY idx), ' ') AS text
        |FROM kept GROUP BY doc_id""".stripMargin,
    "url_dedup" ->
      """WITH u0 AS (SELECT doc_id,
        |  'HTTPS://Src' || (doc_id % 20) || '.Example.COM' ||
        |  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
        |  '/Docs/' || (doc_id % 50) ||
        |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || (doc_id % 7)
        |       WHEN doc_id % 5 = 0 THEN '?id=' || (doc_id % 7) ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |n0 AS (SELECT doc_id, url,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(url, '#.*$', '', 'g'),
        |          '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|ref)=[^&]*', '\1', 'g'),
        |        '\?&+', '?', 'g'),
        |      '&&+', '&', 'g'),
        |    '[?&]+$', '', 'g') AS s
        |  FROM u0),
        |n1 AS (SELECT doc_id, url,
        |  regexp_replace(
        |    regexp_replace(lower(regexp_extract(s,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)), ':(80|443)$', '', 'g')
        |    || regexp_replace(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g'),
        |    '/$', '', 'g') AS norm_url
        |  FROM n0)
        |SELECT doc_id, url, norm_url,
        |  min(doc_id) OVER (PARTITION BY norm_url) AS keep_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY norm_url) AS is_canonical
        |FROM n1""".stripMargin,
    "events_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS p
        |  FROM e WHERE event_type = 'click'),
        |pu AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pe
        |  FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, purchase_id, click_id, pe - p AS gap_us
        |FROM c JOIN pu ON c.user_id = pu.user_id
        |  AND c.p >= pu.pe - 3600000000 AND c.p <= pu.pe""".stripMargin,
    "events_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |c AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "text_chunk" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok),
        |e AS (SELECT doc_id, t, n,
        |  unnest(range(0, CAST((greatest(n - 32, 0) + 23) // 24 AS BIGINT) + 1))
        |    AS chunk_idx
        |  FROM c)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  array_to_string(t[chunk_idx*24+1 : chunk_idx*24+32], ' ') AS chunk_text,
        |  CAST(least(32, n - chunk_idx*24) AS BIGINT) AS n_tokens
        |FROM e""".stripMargin,
    "text_chunk_bpe" -> textChunkBpeOracle,
    "text_pack" -> textPackOracle,
    "pack_efficiency" ->
      s"""WITH packed AS ($textPackOracle)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_sequences,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(count(*) * 64 AS BIGINT) AS capacity,
         |  CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) * 64 AS DOUBLE)
         |    AS utilization
         |FROM packed GROUP BY source""".stripMargin,
    "dedup_minhash_clusters" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
        |  FROM tok WHERE len(t) >= 3),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,
    "text_gopher_filter" ->
      s"""WITH $gopherCtesSql
         |SELECT doc_id, fail_word_count, fail_mean_token_len, fail_punct_ratio,
         |  fail_dup_word, fail_top_word, fail_top_bigram,
         |  NOT (fail_word_count OR fail_mean_token_len OR fail_punct_ratio OR
         |       fail_dup_word OR fail_top_word OR fail_top_bigram) AS keep
         |FROM f""".stripMargin,
    "text_quality_by_source" ->
      s"""WITH $gopherCtesSql,
         |k AS (SELECT doc_id, fail_word_count, fail_mean_token_len,
         |  fail_punct_ratio, fail_dup_word, fail_top_word, fail_top_bigram,
         |  NOT (fail_word_count OR fail_mean_token_len OR fail_punct_ratio OR
         |       fail_dup_word OR fail_top_word OR fail_top_bigram) AS keep
         |  FROM f)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN k.fail_word_count THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_word_count,
         |  CAST(sum(CASE WHEN k.fail_mean_token_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_mean_token_len,
         |  CAST(sum(CASE WHEN k.fail_punct_ratio THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_punct_ratio,
         |  CAST(sum(CASE WHEN k.fail_dup_word THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_dup_word,
         |  CAST(sum(CASE WHEN k.fail_top_word THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_top_word,
         |  CAST(sum(CASE WHEN k.fail_top_bigram THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fail_top_bigram
         |FROM documents d JOIN k ON d.doc_id = k.doc_id
         |GROUP BY d.source""".stripMargin,
    "ann_brute_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(64),
        |    i -> qe[i+1] * e[i+1]), (a, b) -> a + b) /
        |  (sqrt(list_reduce(list_transform(range(64),
        |    i -> qe[i+1] * qe[i+1]), (a, b) -> a + b)) *
        |   sqrt(list_reduce(list_transform(range(64),
        |    i -> e[i+1] * e[i+1]), (a, b) -> a + b))) AS sim
        |  FROM q, v WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
        |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        |FROM r WHERE rank <= 5""".stripMargin,
    "text_vocab_topk" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tfc AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
        |  FROM tok WHERE token <> '' GROUP BY token),
        |r AS (SELECT token, tf, df_docs,
        |  row_number() OVER (ORDER BY tf DESC, token) AS rank FROM tfc)
        |SELECT token, tf, df_docs, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 50""".stripMargin,
    "stats_length_hist" ->
      """SELECT CAST(floor(len(string_split_regex(lower(trim(text)), '\s+'))
        |  / 10.0) AS BIGINT) * 10 AS bucket_lo,
        |CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "url_domain_filter" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://Src' || (doc_id % 20) || '.Example.COM' ||
        |  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
        |  '/Docs/' || (doc_id % 50) AS url
        |  FROM documents),
        |d AS (SELECT doc_id, url,
        |  regexp_replace(regexp_extract(lower(url),
        |    '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1), '^www\.', '') AS dom
        |  FROM u)
        |SELECT doc_id, url FROM d
        |WHERE NOT coalesce(
        |  dom = 'src3.example.com' OR dom LIKE '%.src3.example.com'
        |  OR dom = 'src7.example.com' OR dom LIKE '%.src7.example.com'
        |  OR dom = 'blocked.net' OR dom LIKE '%.blocked.net', FALSE)""".stripMargin,
    // same URL synthesis + domain replay as url_domain_filter; the kept
    // set per domain is the first 10 doc ids in md5-key order
    "url_domain_quota" ->
      s"""WITH u AS (SELECT doc_id,
         |  'HTTPS://Src' || (doc_id % 20) || '.Example.COM' ||
         |  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
         |  '/Docs/' || (doc_id % 50) AS url
         |  FROM documents),
         |d AS (SELECT doc_id, url,
         |  regexp_replace(regexp_extract(lower(url),
         |    '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1), '^www\\.', '') AS domain
         |  FROM u)
         |SELECT doc_id, url, domain FROM d
         |QUALIFY row_number() OVER (PARTITION BY domain
         |  ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) <= 10""".stripMargin,
    "corpus_shuffle" ->
      s"""SELECT doc_id,
         |${hash60Sql("CAST(doc_id AS VARCHAR) || ':7'")} AS shuffle_key
         |FROM documents""".stripMargin,
    "layout_zorder" -> {
      val terms = (0 until 32).map(i =>
        s"(((u >> $i) & 1) << ${2 * i}) | (((e >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH b AS (SELECT event_id, user_id AS u,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events)
         |SELECT event_id, $terms AS z_value FROM b""".stripMargin
    },
    "stats_quantiles" ->
      """WITH r AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |    THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
        |    THEN n_chars END) AS p90,
        |  MAX(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1
        |    THEN n_chars END) AS p99
        |FROM r GROUP BY lang""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    // same injected mess as the Spark query; nfc_normalize and
    // java.text.Normalizer both implement UAX #15 NFC, and the regexes
    // are in the Java∩RE2 subset, so the chain replays byte-for-byte
    "text_normalize" ->
      """SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
        |  nfc_normalize(text || '  e' || chr(769) || ' ' || chr(1) ||
        |    'x' || chr(13) || chr(10) || 'end '),
        |  '\r\n?', chr(10), 'g'),
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |  '[ \t]+', ' ', 'g')) AS norm FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS token_count,
        |CAST(length(text) AS BIGINT) AS char_count FROM documents""".stripMargin,
    // same synthesized markup as the Spark query; every regex is in the
    // Java∩RE2 subset ((?i)/(?s), non-greedy, \b) so the whole chain
    // replays byte-for-byte. Entity decode order matters: &amp; LAST.
    "html_extract" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc &#39;' || doc_id || '&#39; &amp; more</title>'
        |  || '<style type="text/css">p { color: #333; }</style>'
        |  || '<script>var n = ' || doc_id || '; if (n > 0) { n--; }</script></head>'
        |  || '<body><!-- synthesized' || chr(10) || 'comment --><h1>Section '
        |  || (doc_id % 7) || '</h1><p>' || text || '</p>'
        |  || CASE WHEN doc_id % 3 = 0 THEN
        |       '<div class="x">tail &lt;kept&gt;&nbsp;&quot;quoted&quot;</div>'
        |     ELSE '' END
        |  || '</body></html>' AS html FROM documents),
        |s AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(html,
        |    '(?s)<!--.*?-->', '', 'g'),
        |    '(?is)<head\b.*?</head>', '', 'g'),
        |    '(?is)<script\b.*?</script>', '', 'g'),
        |    '(?is)<style\b.*?</style>', '', 'g'),
        |    '(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr|/table|/ul|/ol|/blockquote)\b[^>]*>',
        |    chr(10), 'g'),
        |    '<[^>]*>', '', 'g') AS x,
        |  regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS rawtitle
        |  FROM h),
        |d AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(x,
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS x,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(rawtitle,
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS ti
        |  FROM s)
        |SELECT doc_id,
        |  trim(regexp_replace(ti, '\s+', ' ', 'g')) AS title,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(x,
        |    '[ \t]+', ' ', 'g'),
        |    ' ?\n ?', chr(10), 'g'),
        |    '\n\n+', chr(10), 'g'),
        |    '^\n+|\n+$', '', 'g')) AS body_text
        |FROM d""".stripMargin,
    // same injected lines as the Spark query; trim/word-split/terminal
    // rules are pinned to semantics both engines share (space-only trim,
    // \s+ splitting), so the kept-line lists replay exactly
    "text_c4_filter" ->
      """WITH m AS (SELECT doc_id, text || chr(10) ||
        |  'A good first sentence line here.' || chr(10) ||
        |  'short.' || chr(10) ||
        |  'this line mentions javascript badly.' || chr(10) ||
        |  'Another full sentence line, with words!' || chr(10) ||
        |  'no terminal punct line' || chr(10) ||
        |  CASE WHEN doc_id % 11 = 0
        |    THEN 'Third proper sentence line for survival?' ELSE 'tail' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END ||
        |  CASE WHEN doc_id % 17 = 0
        |    THEN chr(10) || 'Lorem Ipsum dolor sit.' ELSE '' END AS text
        |  FROM documents),
        |k AS (SELECT doc_id, text,
        |  list_filter(
        |    list_transform(string_split(text, chr(10)), x -> trim(x)),
        |    x -> x <> '' AND regexp_matches(x, '[.!?"]$')
        |      AND len(string_split_regex(x, '\s+')) >= 3
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM m)
        |SELECT doc_id, CAST(len(kept) AS BIGINT) AS kept_lines,
        |  array_to_string(kept, chr(10)) AS text
        |FROM k WHERE len(kept) >= 3
        |  AND NOT contains(lower(text), 'lorem ipsum')
        |  AND NOT contains(text, '{')""".stripMargin,
    // same injected structure as the Spark query; each fraction is ONE
    // double division of exact integer sums (cross-engine IEEE exact)
    "text_line_signals" ->
      """WITH m AS (SELECT doc_id, text || chr(10) ||
        |  'Continued on the next page...' || chr(10) ||
        |  '- first bullet item' || chr(10) ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'This exact line repeats twice.'
        |    || chr(10) || 'This exact line repeats twice.' || chr(10)
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN '* second bullet' || chr(10)
        |    ELSE '' END ||
        |  'tail line without anything' AS text FROM documents),
        |l AS (SELECT doc_id, trim(x) AS line FROM
        |  (SELECT doc_id, unnest(string_split(text, chr(10))) AS x FROM m)
        |  WHERE trim(x) <> ''),
        |pl AS (SELECT doc_id, line, count(*) AS cnt
        |  FROM l GROUP BY doc_id, line)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN ends_with(line, '...') THEN cnt ELSE 0 END)
        |    AS BIGINT) / CAST(sum(cnt) AS BIGINT) AS ellipsis_line_frac,
        |  CAST(sum(CASE WHEN starts_with(line, '-') OR starts_with(line, '*')
        |    THEN cnt ELSE 0 END) AS BIGINT) / CAST(sum(cnt) AS BIGINT)
        |    AS bullet_line_frac,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN length(line) * cnt ELSE 0 END)
        |    AS BIGINT) / CAST(sum(length(line) * cnt) AS BIGINT)
        |    AS dup_line_char_frac
        |FROM pl GROUP BY doc_id""".stripMargin,
    "multimodal_dedup" ->
      """WITH a AS (SELECT doc_id AS asset_id, sha256(text) AS h FROM documents
        |  UNION ALL SELECT doc_id + 10000, sha256(text) FROM documents
        |  WHERE doc_id < 50),
        |r AS (SELECT asset_id, row_number() OVER
        |  (PARTITION BY h ORDER BY asset_id) AS rn FROM a)
        |SELECT asset_id FROM r WHERE rn = 1""".stripMargin,
    "multimodal_hash" ->
      """SELECT doc_id AS asset_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS payload_size,
        |sha256(text) AS sha256_hex FROM documents""".stripMargin,
    "multimodal_features" ->
      """WITH h AS (SELECT doc_id, encode(text) AS p,
        |  octet_length(encode(text)) AS n,
        |  ('0x' || substring(md5(text), 1, 15))::BIGINT AS h60 FROM documents)
        |SELECT doc_id AS asset_id, 'application/octet-stream' AS mime,
        |  CAST(n AS BIGINT) AS payload_size,
        |  CAST(64 + h60 % 1024 AS INTEGER) AS width_px,
        |  CAST(64 + (h60 >> 10) % 1024 AS INTEGER) AS height_px,
        |  CAST(1 AS INTEGER) AS n_frames,
        |  CASE WHEN n = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(range(n), i ->
        |      ('0x' || substr(hex(p), CAST(2*i+1 AS BIGINT), 2))::INT))
        |      AS DOUBLE) / n END AS mean_byte
        |FROM h""".stripMargin,
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, text,
        |  CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS ck
        |  FROM documents),
        |i AS (SELECT unnest(range(4)) AS frame_no)
        |SELECT d.doc_id AS asset_id, CAST(i.frame_no AS BIGINT) AS frame_no,
        |  substr(d.text, CAST(i.frame_no * d.ck + 1 AS BIGINT), d.ck)
        |    AS frame_text
        |FROM d CROSS JOIN i
        |WHERE length(substr(d.text, CAST(i.frame_no * d.ck + 1 AS BIGINT),
        |  d.ck)) > 0""".stripMargin,
    "text_quality" ->
      """WITH tok AS (SELECT doc_id, text,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS token_count,
        |  CAST(length(text) AS BIGINT) AS char_count,
        |  CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) /
        |    CAST(len(t) AS DOUBLE) AS mean_token_len,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |    AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(t, x -> x IN ('der','die','und','in','den','von',
        |    'zu','das','mit','sich','the','and','of','to','is','you','that','it',
        |    'for','el','la','de','que','y','en','un','ser','se','no','le','et',
        |    'les','des','du','une','的','是','不','了','在','人','有','我','他',
        |    '这'))) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS stopword_ratio
        |FROM tok""".stripMargin,
    "text_langid" ->
      """WITH tok AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(t, x -> x IN ('der','die','und','in','den','von','zu','das','mit','sich'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is','you','that','it','for'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','ser','se','no'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(t, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(t, x -> x IN ('的','是','不','了','在','人','有','我','他','这'))) AS BIGINT) AS s_zh
        |  FROM tok)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS detected_lang
        |FROM s""".stripMargin
  )

  /** Oracles the DRIVER's checker cannot run, kept for the repo-local
    * gate only. The driver's DuckDB compare is a fixed external script:
    * it registers no UDFs, and DuckDB 1.x core has no zlib, so
    * `text_compression_ratio`'s DEFLATE column is not expressible
    * there — shipping this SQL in `oracleSql` made the r14 driver gate
    * record a CatalogException traceback instead of the intended check.
    * The honest driver-side record is rows-only (query registered, no
    * oracle); the FULL hash check still runs every round through
    * `tools/check_correctness.py`, which registers `zlib_deflate_len`
    * (Python zlib level 6 == `functions.DeflateLen`'s Deflater config)
    * and merges this map from `oracle_sql_local.json`.
    */
  val localOracles: Map[String, String] = Map(
    "text_compression_ratio" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_bytes,
        |  zlib_deflate_len(text) AS deflate_bytes,
        |  CAST(strlen(text) AS DOUBLE) / zlib_deflate_len(text) AS ratio
        |FROM documents""".stripMargin
  )
}
