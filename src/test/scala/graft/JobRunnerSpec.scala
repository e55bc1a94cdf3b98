package graft

import graft.config._
import graft.core.ExitCodes
import java.nio.file.{Files, Path}

/** End-to-end §3.1 lifecycle: job yaml → csv source → validate → parquet
  * sink → exit code, matching the reference's smoke-test style
  * (tests/fixtures/jobs/csv_employee_to_iceberg.yaml + exit contract
  * cli.py:960-983,1123-1129).
  */
class JobRunnerSpec extends SparkSpec with ExecutedPlans {

  private def write(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private def fixture(csvRows: Seq[String], mode: String): (Path, String) = {
    val dir = Files.createTempDirectory("graft-job-")
    write(dir, "data.csv", ("id,name,score" +: csvRows).mkString("\n"))
    write(dir, "recipe_csv.yaml",
      """name: csv
        |type: csv
        |roles: [source, target]
        |default_engine:
        |  type: native
        |  options:
        |    native: {delimiter: ",", quote_char: '"'}
        |""".stripMargin)
    write(dir, "recipe_parquet.yaml",
      """name: parquet
        |type: parquet
        |roles: [source, target]
        |default_engine: {type: native}
        |""".stripMargin)
    write(dir, "asset.yaml",
      """asset:
        |  name: people
        |  version: "1.0"
        |  domain: hr
        |  data_product: core
        |  schema:
        |    - {name: id, type: integer, required: true}
        |    - {name: name, type: string, required: true}
        |    - {name: score, type: double, required: false}
        |""".stripMargin)
    val out = dir.resolve("out").toString
    val job = write(dir, "job.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: $mode
         |source:
         |  files:
         |    - {path: data.csv}
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    (dir, job)
  }

  test("clean strict run: exit 0, typed partitioned output") {
    val (dir, job) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Success
    r.records shouldBe 2
    r.validRecords shouldBe 2
    r.outputPath shouldBe s"$dir/out/hr/core/people"
    val back = spark.read.parquet(r.outputPath)
    back.count() shouldBe 2
    back.columns should contain("ingest_date") // M7 default partition
    back.schema("id").dataType.typeName shouldBe "long"
    // completion metrics (reference metrics.py:86-98 record_writing)
    r.filesWritten should be >= 1L
    r.bytesWritten should be > 0L
    r.commitBackend shouldBe "parquet_only"
  }

  test("tracing: job root span + phase spans with durations (tracing.py)") {
    val (tracer, spans) = graft.infra.Tracing.collector()
    val (_, job) = fixture(Seq("1,alice,9.5"), "strict")
    JobRunner.run(spark, job, tracer = tracer).exitCode shouldBe ExitCodes.Success
    val names = spans().map(_.name)
    names should contain allOf ("phase.configure", "phase.extract",
      "phase.validate", "phase.commit", "phase.state")
    names.last should startWith("job.") // root ends last
    spans().filter(_.name.startsWith("phase."))
      .foreach(_.parent.get should startWith("job."))
    all(spans().map(_.durationMs)) should be >= 0.0
    spans().find(_.name == "phase.extract").get
      .attributes("connector.type") shouldBe "csv"
  }

  test("strict run with errors: invalid rows dropped, exit 2") {
    val (_, job) = fixture(Seq("1,alice,9.5", ",bob,1.0", "3,carol,oops"), "strict")
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Failure
    r.validRecords shouldBe 1
    r.errors.keySet should contain("missing_required:id")
    r.errors.keySet should contain("type_mismatch:score")
  }

  test("warn run with errors: everything written, exit 1 (partial)") {
    val (_, job) = fixture(Seq("1,alice,9.5", ",bob,1.0", "3,carol,oops"), "warn")
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Partial
    r.validRecords shouldBe 3
    spark.read.parquet(r.outputPath).count() shouldBe 3
  }

  test("empty input: exit 2 (no valid records)") {
    val (_, job) = fixture(Seq.empty, "strict")
    JobRunner.run(spark, job).exitCode shouldBe ExitCodes.Failure
  }

  private def jsonlFixture(lines: Seq[String], mode: String): (Path, String) = {
    val dir = Files.createTempDirectory("graft-jsonl-job-")
    write(dir, "data.jsonl", lines.mkString("\n") + "\n")
    write(dir, "recipe_jsonl.yaml",
      "name: jsonl\ntype: jsonl\nroles: [source]\ndefault_engine: {type: native}\n")
    write(dir, "recipe_parquet.yaml",
      "name: parquet\ntype: parquet\nroles: [source, target]\n" +
        "default_engine: {type: native}\n")
    write(dir, "asset.yaml",
      """asset:
        |  name: docs
        |  version: "1.0"
        |  domain: hr
        |  data_product: core
        |  schema:
        |    - {name: id, type: integer, required: false}
        |    - {name: name, type: string, required: false}
        |""".stripMargin)
    val out = dir.resolve("out").toString
    val job = write(dir, "job.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_jsonl.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: $mode
         |source:
         |  files:
         |    - {path: data.jsonl}
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    (dir, job)
  }

  test("jsonl corrupt lines are COUNTED errors and trip the gate (never silent)") {
    // contract has NO required fields — the all-null shape of a corrupt
    // row would sail through required/type checks, so this pins the
    // corrupt_record metric itself as the gate
    val (_, job) = jsonlFixture(Seq(
      """{"id": 1, "name": "alice"}""",
      """{broken""",
      """also not json""",
      """{"id": 2, "name": "bob"}"""), "strict")
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Failure // strict + errors
    r.records shouldBe 4
    r.errors.getOrElse("corrupt_record:_corrupt_record", 0L) shouldBe 2L
    val back = spark.read.parquet(r.outputPath)
    back.count() shouldBe 2 // corrupt rows dropped by strict validation
    back.columns should not contain "_corrupt_record"
  }

  test("jsonl corrupt lines in warn mode: rows kept all-null, exit 1, column dropped") {
    val (_, job) = jsonlFixture(Seq(
      """{"id": 1, "name": "alice"}""",
      """{broken"""), "warn")
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Partial
    r.errors.getOrElse("corrupt_record:_corrupt_record", 0L) shouldBe 1L
    val back = spark.read.parquet(r.outputPath)
    back.count() shouldBe 2 // warn keeps every record
    back.columns should not contain "_corrupt_record"
  }

  test("registry: unknown connector type rejected") {
    val (dir, job) = fixture(Seq("1,a,2.0"), "strict")
    val bad = write(dir, "recipe_bad.yaml",
      "name: carrier\ntype: carrier_pigeon\nroles: [source]\n")
    val jb = Files.readString(java.nio.file.Paths.get(job))
      .replace("recipe_csv.yaml", "recipe_bad.yaml")
    val job2 = write(dir, "job2.yaml", jb)
    a[RegistryViolation] should be thrownBy JobRunner.run(spark, job2)
  }

  test("registry: cloud mode blocks database connectors") {
    Registry.default.validateConnectorType("postgres", "source")
    a[RegistryViolation] should be thrownBy
      Registry.default.validateModeRestriction("postgres", "cloud",
        Registry.default.connectors("postgres"))
  }

  test("recipe merge: job overrides recipe engine options one level deep") {
    val recipe = ConnectorRecipe.fromMap(Yaml.loadString(
      """type: csv
        |roles: [source]
        |default_engine:
        |  type: native
        |  options:
        |    native: {delimiter: ",", encoding: utf-8}
        |""".stripMargin))
    val job = JobConfig.fromMap(Yaml.loadString(
      """tenant_id: t9
        |source:
        |  engine:
        |    options:
        |      native: {delimiter: ";"}
        |""".stripMargin))
    val src = job.resolveSource(recipe)
    // Python {**a, **b} at the nested level: options replaced wholesale
    Yaml.map(Yaml.map(src.engine, "options"), "native")("delimiter") shouldBe ";"
    src.incremental shouldBe None // disabled unless job configures it
  }

  test("incremental: merged with recipe defaults + tenant state path") {
    val recipe = ConnectorRecipe.fromMap(Yaml.loadString(
      """type: postgres
        |roles: [source]
        |incremental: {strategy: updated_at, lookback_days_default: 7}
        |""".stripMargin))
    val job = JobConfig.fromMap(Yaml.loadString(
      """tenant_id: acme
        |source:
        |  tables:
        |    - {name: users, object: users}
        |  incremental: {cursor_field: updated_at}
        |""".stripMargin))
    val inc = job.resolveSource(recipe).incremental.get
    inc("strategy") shouldBe "updated_at"
    inc("cursor_field") shouldBe "updated_at"
    inc("state_path").toString should endWith("acme/postgres.users.state.json")
  }

  test("incremental file_modified_time: rerun skips unchanged files") {
    val (dir, _) = fixture(Seq("1,alice,9.5"), "strict")
    val out = dir.resolve("out2").toString
    val state = dir.resolve("state.json").toString
    val job = write(dir, "job_inc.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |source:
         |  files:
         |    - {path: data.csv}
         |  incremental:
         |    strategy: file_modified_time
         |    state_path: $state
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    val r1 = JobRunner.run(spark, job)
    r1.exitCode shouldBe ExitCodes.Success
    r1.records shouldBe 1
    // rerun: file unchanged -> skipped entirely -> zero records, exit 2
    val r2 = JobRunner.run(spark, job)
    r2.records shouldBe 0
    r2.exitCode shouldBe ExitCodes.Failure
    spark.read.parquet(r1.outputPath).count() shouldBe 1 // nothing appended
    // touch the file with new content -> processed again
    Thread.sleep(1100) // fs mtime granularity
    Files.writeString(dir.resolve("data.csv"), "id,name,score\n9,zoe,1.0\n")
    val r3 = JobRunner.run(spark, job)
    r3.records shouldBe 1
    spark.read.parquet(r1.outputPath).count() shouldBe 2
  }

  test("curation block: redact + dedupe + gopher chain, schema preserved") {
    import spark.implicits._
    val longClean = (1 to 40).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, longClean + " mail a@b.io", "x"),
      (2L, longClean.toUpperCase + "  mail A@B.IO", "y"), // normalized dup of 1
      (3L, "too short", "z")                              // gopher-dropped
    ).toDF("doc_id", "text", "extra")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "exact", "quality_filter" -> "gopher",
      "redact_pii" -> true))
    val out = JobRunner.applyCuration(df, raw)
    out.columns shouldBe df.columns // schema preserved for the contract
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1)))
    rows.map(_._1) shouldBe Array(1L) // dup and low-quality dropped
    rows(0)._2 should endWith("mail <EMAIL>") // scrubbed in place
    // absent block = identity
    JobRunner.applyCuration(df, Map.empty).collect().length shouldBe 3
  }

  test("curation extract: html strips markup in place before downstream steps") {
    import spark.implicits._
    val df = Seq(
      (1L, "<html><head><title>T</title></head><body><p>Real prose one.</p>" +
        "<script>var x=1;</script><p>Real prose two.</p></body></html>", "x"),
      (2L, "no markup at all", "y")
    ).toDF("doc_id", "text", "extra")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text", "extract" -> "html"))
    val out = JobRunner.applyCuration(df, raw)
    out.columns shouldBe df.columns
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byId(1L) shouldBe "Real prose one.\nReal prose two."
    byId(2L) shouldBe "no markup at all"
    intercept[IllegalArgumentException] {
      JobRunner.applyCuration(df, Map("curation" -> Map(
        "text_field" -> "text", "extract" -> "pdf")))
    }
  }

  test("curation quality_filter: c4 rewrites text to kept lines, drops failing pages") {
    import spark.implicits._
    val df = Seq(
      (1L, "Good line number one here.\nnoise\nGood line number two here.\n" +
        "Good line number three here.", "x"),
      (2L, "Only one good line here.", "y"),              // < min_lines
      (3L, "Good line number one here.\nGood line number two here.\n" +
        "Good line number three here.\nvar x = { broken", "z") // brace page
    ).toDF("doc_id", "text", "extra")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text", "quality_filter" -> "c4"))
    val out = JobRunner.applyCuration(df, raw)
    out.columns shouldBe df.columns
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1)))
    rows.map(_._1) shouldBe Array(1L)
    rows(0)._2 shouldBe "Good line number one here.\nGood line number two here.\n" +
      "Good line number three here."
    // knobs flow through: min_lines=1 keeps doc 2
    JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "c4", "c4_min_lines" -> "1")))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
  }

  test("curation quality_filter: lm gates on a persisted bigram LM store") {
    import spark.implicits._
    val fit = (0L until 20L)
      .map(i => (i, "the cat sat on the mat and the dog ran"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("lmstore-")
      .toString + "/lm"
    graft.operators.LanguageModel.saveModel(
      graft.operators.LanguageModel.fitBigramModel(fit, "doc_id", "text"), store)
    val df = Seq(
      (1L, "the cat sat on the mat", "x"),  // in-distribution
      (2L, "mat the on sat cat the", "y"),  // shuffled → all-backoff
      (3L, "solo", "z")                     // unscorable (< 2 tokens)
    ).toDF("doc_id", "text", "extra")
    val base = Map("id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "lm", "lm_store" -> store)
    // threshold between the two scores (≈ -0.44 vs ≈ -2.79 nats) keeps
    // only the fluent doc
    val out = JobRunner.applyCuration(df,
      Map("curation" -> (base + ("lm_min_avg_lognat" -> "-2.0"))))
    out.columns shouldBe df.columns
    out.collect().map(_.getLong(0)) shouldBe Array(1L)
    // a permissive threshold keeps both scorable docs, never doc 3
    JobRunner.applyCuration(df,
      Map("curation" -> (base + ("lm_min_avg_lognat" -> "-20.0"))))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    // a missing store is an error, not a silent pass-through
    intercept[Exception] {
      JobRunner.applyCuration(df, Map("curation" ->
        (base + ("lm_store" -> (store + "_missing"))))).collect()
    }
  }

  test("curation quality_filter: model gates on a persisted linear classifier store") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("qmstore-")
      .toString + "/model"
    graft.operators.QualityModel.saveModel(
      graft.operators.QualityModel.fromMap(spark,
        Map("data" -> 1.2, "click" -> -2.0), bias = -0.2), store)
    val df = Seq(
      (1L, "data data data", "x"), // logit 1.0
      (2L, "click click", "y"),    // logit −2.2
      (3L, "   ", "z")             // zero tokens: unscorable
    ).toDF("doc_id", "text", "extra")
    val base = Map("id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "model", "model_store" -> store)
    // default threshold 0.0 keeps only the positive-logit doc
    val out = JobRunner.applyCuration(df, Map("curation" -> base))
    out.columns shouldBe df.columns
    out.collect().map(_.getLong(0)) shouldBe Array(1L)
    // permissive threshold keeps both scorable docs, never the blank one
    JobRunner.applyCuration(df,
      Map("curation" -> (base + ("model_min_logit" -> "-10.0"))))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    // a missing store is an error, not a silent pass-through
    intercept[Exception] {
      JobRunner.applyCuration(df, Map("curation" ->
        (base + ("model_store" -> (store + "_missing"))))).collect()
    }
  }

  test("curation decontaminate: ngram and verbatim drop leaky docs") {
    import spark.implicits._
    val benchPath = java.nio.file.Files
      .createTempDirectory("bench-").toString + "/bench"
    Seq((100L, "what is the capital of france"))
      .toDF("doc_id", "text").write.parquet(benchPath)
    val df = Seq(
      (1L, "quiz asks what is the capital of france verbatim"),
      (2L, "france capital the what of is"),        // bag overlap, no run
      (3L, "clean document with original prose")
    ).toDF("doc_id", "text")
    val base = Map("id_field" -> "doc_id", "text_field" -> "text",
      "benchmark_path" -> benchPath)
    // verbatim: only the exact-run carrier drops
    JobRunner.applyCuration(df, Map("curation" ->
      (base + ("decontaminate" -> "verbatim",
        "decontaminate_phrase_len" -> "6"))))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
    // ngram (3-shingles): doc 1 shares shingles, doc 2 shares none
    JobRunner.applyCuration(df, Map("curation" ->
      (base + ("decontaminate" -> "ngram"))))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
    // missing benchmark_path refuses loudly
    intercept[IllegalArgumentException] {
      JobRunner.applyCuration(df, Map("curation" -> Map(
        "id_field" -> "doc_id", "text_field" -> "text",
        "decontaminate" -> "ngram")))
    }.getMessage should include("benchmark_path")
  }

  test("curation dedupe: incremental uses and survives a fingerprint store") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("fpstore-")
      .toString + "/fp"
    val day1 = Seq((1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "incremental", "fingerprint_store" -> store))
    // first run: store missing → nothing dropped; then persist fingerprints
    val out1 = JobRunner.applyCuration(day1, raw)
    out1.count() shouldBe 2
    graft.operators.Dedup.appendFingerprints(out1, "text", store)
    // second run: known text dropped, fresh kept
    val day2 = Seq((3L, "DOC  one"), (4L, "doc three")).toDF("doc_id", "text")
    JobRunner.applyCuration(day2, raw)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(4L)
  }

  test("curation normalize: nfc runs before dedupe so decomposed forms collapse") {
    import spark.implicits._
    val df = Seq((1L, "café au lait"), (2L, "café au lait"))
      .toDF("doc_id", "text")
    val out = JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "normalize" -> "nfc", "dedupe" -> "exact")))
    out.select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
    // without normalization the two byte sequences are distinct
    JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "exact"))).count() shouldBe 2
  }

  test("curation quality_filter: entropy drops keyword-stuffed pages") {
    import spark.implicits._
    val df = Seq(
      (1L, "a reasonably varied sentence with many different words here"),
      (2L, "buy buy buy buy buy buy buy buy")
    ).toDF("doc_id", "text")
    JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "entropy", "entropy_min_nats" -> "1.0")))
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("curation quality_filter: a LIST stacks gates, each one active") {
    import spark.implicits._
    val longVaried = (1 to 120).map(i => s"w${i * 7919 % 997}").mkString(" ") + "."
    val df = Seq(
      (1L, longVaried),  // varied + long: passes gopher and entropy@1.0
      (2L, "too short")  // gopher-dropped
    ).toDF("doc_id", "text")
    def run(gates: Seq[String], entropyMin: String) =
      JobRunner.applyCuration(df, Map("curation" -> Map(
        "id_field" -> "doc_id", "text_field" -> "text",
        "quality_filter" -> gates, "entropy_min_nats" -> entropyMin)))
        .select("doc_id").collect().map(_.getLong(0))
    run(Seq("gopher", "entropy"), "1.0") shouldBe Array(1L)
    // the SECOND gate genuinely executes: tightening only its threshold
    // changes the result (an impossible 10-nat floor kills everything)
    run(Seq("gopher", "entropy"), "10.0") shouldBe Array.empty[Long]
    // and an unknown name anywhere in the list refuses
    an[IllegalArgumentException] should be thrownBy
      run(Seq("gopher", "bogus"), "1.0")
  }

  test("curation quality_filter: gopher_ngrams drops n-gram-repetitive boilerplate") {
    import spark.implicits._
    val varied = (1 to 80).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val df = Seq(
      (1L, varied),
      (2L, ("click here to buy now " * 20).trim)
    ).toDF("doc_id", "text")
    JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "gopher_ngrams")))
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("curation quality_filter: compression drops templated boilerplate") {
    import spark.implicits._
    val varied = (1 to 60).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")
    val df = Seq((1L, varied), (2L, "spam spam spam " * 40))
      .toDF("doc_id", "text")
    JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "quality_filter" -> "compression", "compression_max_ratio" -> "4.0")))
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("curation dedupe: incremental_tfidf scores against the frozen store and appends") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("tfstore-")
      .toString + "/tfidf"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    graft.operators.Tfidf.saveStore(corpus, "doc_id", "text", store)
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "incremental_tfidf", "tfidf_store" -> store))
    val day1 = Seq(
      (10L, "alpha beta gamma delta epsilon"), // corpus hit → dropped
      (11L, "completely fresh sentence today")).toDF("doc_id", "text")
    val out1 = JobRunner.applyCuration(day1, raw)
    out1.select("doc_id").collect().map(_.getLong(0)) shouldBe Array(11L)
    // maintenance append: tomorrow's batch dedups against today's rows
    graft.operators.Tfidf.appendToStore(out1, "doc_id", "text", store)
    val day2 = Seq(
      (20L, "completely fresh sentence today"), // now a corpus hit
      (21L, "another unrelated new document")).toDF("doc_id", "text")
    JobRunner.applyCuration(day2, raw)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(21L)
  }

  test("curation dedupe: incremental_simhash uses and survives a simhash store") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("shstore-")
      .toString + "/sh"
    val day1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different words entirely here now today friends")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "incremental_simhash", "simhash_store" -> store))
    // first run: store missing → nothing dropped; then persist hashes
    val out1 = JobRunner.applyCuration(day1, raw)
    out1.count() shouldBe 2
    graft.operators.Dedup.appendSimhashes(out1, "doc_id", "text", store)
    // second run: near-identical of a stored doc dropped, fresh kept
    val day2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "a genuinely new document with its very own novel words")
    ).toDF("doc_id", "text")
    JobRunner.applyCuration(day2, raw)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(4L)
  }

  test("curation dedupe: incremental_simhash routes through the bucketed chunk store") {
    import spark.implicits._
    val table = "jrspec_sc_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val day1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different words entirely here now today friends")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "incremental_simhash", "store_format" -> "bucketed",
      "simhash_store" -> table))
    // day 1: missing TABLE bootstraps; then the bucketed maintenance half
    JobRunner.applyCuration(day1, raw).count() shouldBe 2
    graft.operators.Dedup.saveBucketedSimhashChunks(
      day1, "doc_id", "text", table)
    spark.table(table).columns shouldBe Array("sh", "ck") // pre-exploded
    val day2 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "a genuinely new document with its very own novel words")
    ).toDF("doc_id", "text")
    JobRunner.applyCuration(day2, raw)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(4L)
    spark.sql(s"DROP TABLE $table")
  }

  test("curation dedupe: near collapses in-batch minhash clusters") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "the quick brown fox jumps over the lazy dog by the river"),
      (3L, "some altogether different sentence about compilers and parsers")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text", "dedupe" -> "near"))
    JobRunner.applyCuration(df, raw)
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  test("curation dedupe: near with dedupe_keep best keeps the score_field winner") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river", 5L),
      (2L, "the quick brown fox jumps over the lazy dog by the river", 9L),
      (3L, "some altogether different sentence about compilers and parsers", 1L)
    ).toDF("doc_id", "text", "quality")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "near", "dedupe_keep" -> "best", "score_field" -> "quality"))
    JobRunner.applyCuration(df, raw)
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(2L, 3L)
  }

  test("curation sample: bernoulli after curation, upsample preserves schema") {
    import spark.implicits._
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val kept = JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "sample" -> "bernoulli", "sample_fraction" -> "0.2")))
    kept.columns.toSeq shouldBe df.columns.toSeq
    val n = df.count()
    kept.count() should (be > (n / 10) and be < (n / 2))
    val up = JobRunner.applyCuration(df, Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "sample" -> "upsample", "sample_rate" -> "2.0")))
    up.columns.toSeq shouldBe df.columns.toSeq
    up.count() shouldBe 2 * n
  }

  test("curation dedupe: tfidf_near collapses cosine clusters, min-id survives") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words entirely here")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text", "dedupe" -> "tfidf_near"))
    JobRunner.applyCuration(df, raw)
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  test("curation dedupe: spans cuts repeated passages in place") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five six seven eight alpha beta"),
      (2L, "zero one two three four five six seven eight gamma")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "spans", "span_window" -> "4"))
    val m = JobRunner.applyCuration(df, raw)
      .as[(Long, String)].collect().toMap
    m(1L) shouldBe "one two three four five six seven eight alpha beta"
    m(2L) shouldBe "zero gamma"
  }

  test("cursor state reflects PRE-curation max (dropped rows not re-extracted)") {
    // the highest-cursor row (id=3) is an exact-dup loser that curation
    // drops; persisting the post-curation max (2) would re-extract id=3
    // next run without its in-batch keeper present — it would then pass
    // dedupe and re-introduce the duplicate. The cursor must be 3.
    val (dir, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0", "3,alice,7.0"), "strict")
    val out = dir.resolve("out_cur").toString
    val state = dir.resolve("state_cur.json").toString
    val job = write(dir, "job_cursor.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |curation:
         |  id_field: id
         |  text_field: name
         |  dedupe: exact
         |source:
         |  files:
         |    - {path: data.csv, object: people}
         |  incremental:
         |    strategy: file_modified_time
         |    cursor_field: id
         |    state_path: $state
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Success
    r.validRecords shouldBe 2 // curation dropped the dup row id=3
    spark.read.parquet(r.outputPath).count() shouldBe 2
    new graft.state.StateStore(state, spark)
      .cursorLastValue("people", "id") shouldBe Some("3")
  }

  test("lifecycle drive: extract html + c4 quality filter from the job YAML") {
    val (dir, _) = fixture(Seq(
      "1,<p>A good sentence here.</p>,9.5",   // markup stripped → passes c4
      "2,nope,8.0"                            // no terminal punct → dropped
    ), "strict")
    val out = dir.resolve("out_c4").toString
    val job = write(dir, "job_c4.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |curation:
         |  id_field: id
         |  text_field: name
         |  extract: html
         |  quality_filter: c4
         |  c4_min_lines: 1
         |source:
         |  files:
         |    - {path: data.csv, object: people}
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Success
    r.validRecords shouldBe 1
    val row = spark.read.parquet(r.outputPath).select("id", "name").collect()
    row.map(x => (x.get(0), x.getString(1))).toSeq shouldBe
      Seq((1, "A good sentence here."))
  }

  test("lifecycle drive: lm quality gate from the job YAML") {
    import spark.implicits._
    val (dir, _) = fixture(Seq(
      "1,the cat sat on the mat,9.5",  // fluent under the fit
      "2,mat the on sat cat the,8.0"   // shuffled → below threshold
    ), "strict")
    val store = dir.resolve("lmstore").toString
    graft.operators.LanguageModel.saveModel(
      graft.operators.LanguageModel.fitBigramModel(
        (0L until 20L).map(i => (i, "the cat sat on the mat and the dog ran"))
          .toDF("doc_id", "text"), "doc_id", "text"), store)
    val out = dir.resolve("out_lm").toString
    val job = write(dir, "job_lm.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |curation:
         |  id_field: id
         |  text_field: name
         |  quality_filter: lm
         |  lm_store: $store
         |  lm_min_avg_lognat: -2.0
         |source:
         |  files:
         |    - {path: data.csv, object: people}
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Success
    r.validRecords shouldBe 1
    spark.read.parquet(r.outputPath).select("id").collect()
      .map(_.get(0)) shouldBe Array(1)
  }

  test("curation update_store: day-2 job dedups against day-1's store") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String): String =
      write(dir, "job_store.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  fingerprint_store: $store
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val store = dir1.resolve("fpstore").toString
    val r1 = JobRunner.run(spark,
      jobYaml(dir1, dir1.resolve("out1").toString, store))
    r1.exitCode shouldBe ExitCodes.Success
    r1.validRecords shouldBe 2
    // day 2: one already-committed text (alice), one new
    val (dir2, _) = fixture(Seq("3,alice,7.0", "4,carol,6.0"), "strict")
    val r2 = JobRunner.run(spark,
      jobYaml(dir2, dir2.resolve("out2").toString, store))
    r2.exitCode shouldBe ExitCodes.Success
    r2.validRecords shouldBe 1 // alice dropped via the day-1 store
    spark.read.parquet(r2.outputPath).select("id").collect()
      .map(_.get(0).toString) shouldBe Array("4")
    // and day-2's survivor was appended for day 3
    graft.operators.Dedup.readFingerprints(spark, store).count() shouldBe 3
  }

  test("curation compact_store_every: maintenance window compacts the flat store") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String): String =
      write(dir, "job_compact.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  fingerprint_store: $store
           |  update_store: true
           |  compact_store_every: 2
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    def storeFiles(store: String): Int = {
      val d = new java.io.File(store)
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val store = dir1.resolve("fpstore").toString
    JobRunner.run(spark, jobYaml(dir1, dir1.resolve("o1").toString, store))
      .exitCode shouldBe ExitCodes.Success
    val afterDay1 = storeFiles(store)
    val (dir2, _) = fixture(Seq("3,carol,7.0", "4,dave,6.0"), "strict")
    JobRunner.run(spark, jobYaml(dir2, dir2.resolve("o2").toString, store))
      .exitCode shouldBe ExitCodes.Success
    // day 2's append pushed the file count to >= 2 → the window
    // compacted it back down to one target-sized file
    storeFiles(store) shouldBe 1
    storeFiles(store) should be < (afterDay1 + 1)
    // and the compacted store still carries all four fingerprints + meta
    graft.operators.Dedup.readFingerprints(spark, store).count() shouldBe 4
    graft.core.StoreMeta.read(spark, store) should not be empty
  }

  test("curation search_index: two-day cycle appends probeable segments") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String,
        idx: String): String =
      write(dir, "job_idx.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  fingerprint_store: $store
           |  search_index: $idx
           |  search_index_buckets: 4
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val store = dir1.resolve("fpstore").toString
    val idx = dir1.resolve("bm25idx").toString
    JobRunner.run(spark, jobYaml(dir1, dir1.resolve("out1").toString,
      store, idx)).exitCode shouldBe ExitCodes.Success
    val (dir2, _) = fixture(Seq("3,alice,7.0", "4,carol,6.0"), "strict")
    JobRunner.run(spark, jobYaml(dir2, dir2.resolve("out2").toString,
      store, idx)).exitCode shouldBe ExitCodes.Success
    // two segments (day-1 two docs; day-2's sole survivor, carol —
    // alice deduped away, so she is not double-indexed)
    spark.read.parquet(s"$idx/_meta").count() shouldBe 2
    spark.read.parquet(s"$idx/_meta")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()
      .head.getLong(0) shouldBe 3
    // the merged index is probeable and finds the day-1 doc for a
    // day-2 query against it
    import spark.implicits._
    val hits = graft.operators.Search.bm25TopKSegmented(spark, idx,
      Seq((100L, "alice")).toDF("doc_id", "text").selectExpr(
        "cast(doc_id as string) as id", "text"), "id", "text", k = 5)
      .collect().map(_.get(1).toString)
    hits shouldBe Array("1")
    graft.core.CacheScope.releaseAll()
  }

  test("curation compact_store_every also compacts the segmented search index") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String,
        idx: String): String =
      write(dir, "job_idxc.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  fingerprint_store: $store
           |  search_index: $idx
           |  search_index_buckets: 4
           |  compact_store_every: 2
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val store = dir1.resolve("fpstore").toString
    val idx = dir1.resolve("bm25idx").toString
    JobRunner.run(spark, jobYaml(dir1, dir1.resolve("out1").toString,
      store, idx)).exitCode shouldBe ExitCodes.Success
    spark.read.parquet(s"$idx/_meta").count() shouldBe 1
    val (dir2, _) = fixture(Seq("3,carol,7.0", "4,dave,6.0"), "strict")
    JobRunner.run(spark, jobYaml(dir2, dir2.resolve("out2").toString,
      store, idx)).exitCode shouldBe ExitCodes.Success
    // day 2's append made 2 segments >= the cadence → merged to ONE,
    // stats preserved, still probeable
    spark.read.parquet(s"$idx/_meta").count() shouldBe 1
    spark.read.parquet(s"$idx/_meta")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()
      .head.getLong(0) shouldBe 4
    import spark.implicits._
    val hits = graft.operators.Search.bm25TopKSegmented(spark, idx,
      Seq((100L, "carol")).toDF("doc_id", "text").selectExpr(
        "cast(doc_id as string) as id", "text"), "id", "text", k = 5)
      .collect().map(_.get(1).toString)
    hits shouldBe Array("3")
    graft.core.CacheScope.releaseAll()
  }

  test("curation store_format bloom: three-day cycle maintains the sketch sidecar") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String): String =
      write(dir, "job_bloomstore.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  store_format: bloom
           |  bloom_expected_items: 1000
           |  fingerprint_store: $store
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val store = dir1.resolve("bloomstore").toString
    val r1 = JobRunner.run(spark,
      jobYaml(dir1, dir1.resolve("out1").toString, store))
    r1.exitCode shouldBe ExitCodes.Success
    r1.validRecords shouldBe 2
    // day 1 wrote the sidecar alongside the fingerprints
    graft.operators.Dedup.readBloomSidecar(spark, store) should not be empty
    // day 2: one corpus-known text (dropped through the sketch +
    // exact-verify path), one new
    val (dir2, _) = fixture(Seq("3,alice,7.0", "4,carol,6.0"), "strict")
    val r2 = JobRunner.run(spark,
      jobYaml(dir2, dir2.resolve("out2").toString, store))
    r2.exitCode shouldBe ExitCodes.Success
    r2.validRecords shouldBe 1
    spark.read.parquet(r2.outputPath).select("id").collect()
      .map(_.get(0).toString) shouldBe Array("4")
    graft.operators.Dedup.readFingerprints(spark, store).count() shouldBe 3
    // day 3: carol (day-2 commit) is now in the MERGED sidecar — a
    // sketch stuck at day-1 would let her bloom-negative straight through
    val (dir3, _) = fixture(Seq("5,carol,5.0", "6,dave,4.0"), "strict")
    val r3 = JobRunner.run(spark,
      jobYaml(dir3, dir3.resolve("out3").toString, store))
    r3.exitCode shouldBe ExitCodes.Success
    r3.validRecords shouldBe 1
    spark.read.parquet(r3.outputPath).select("id").collect()
      .map(_.get(0).toString) shouldBe Array("6")
  }

  test("curation store_format bloom rejects non-incremental dedupe") {
    val (dir, _) = fixture(Seq("1,alice,9.5"), "strict")
    val yaml = write(dir, "job_badbloom.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |curation:
         |  id_field: id
         |  text_field: name
         |  dedupe: exact
         |  store_format: bloom
         |source:
         |  files:
         |    - {path: data.csv, object: people}
         |target:
         |  connection: {path: ${dir.resolve("out")}}
         |""".stripMargin)
    an[IllegalArgumentException] should be thrownBy JobRunner.run(spark, yaml)
  }

  test("curation store_format bucketed: two-day cycle, day-2 store join has no store-side Exchange") {
    import spark.implicits._
    val table = "jrspec_fp_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def jobYaml(dir: java.nio.file.Path, out: String): String =
      write(dir, "job_bstore.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  store_format: bucketed
           |  fingerprint_store: $table
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    // day 1: missing TABLE bootstraps (nothing dropped), then the
    // update_store append creates the bucketed table
    val (dir1, _) = fixture(Seq("1,alice,9.5", "2,bob,8.0"), "strict")
    val r1 = JobRunner.run(spark, jobYaml(dir1, dir1.resolve("out1").toString))
    r1.exitCode shouldBe ExitCodes.Success
    r1.validRecords shouldBe 2
    spark.catalog.tableExists(table) shouldBe true
    // day 2: known text dropped via the bucketed store, fresh kept,
    // survivor appended bucket-aligned for day 3
    val (dir2, _) = fixture(Seq("3,alice,7.0", "4,carol,6.0"), "strict")
    val r2 = JobRunner.run(spark, jobYaml(dir2, dir2.resolve("out2").toString))
    r2.exitCode shouldBe ExitCodes.Success
    r2.validRecords shouldBe 1
    spark.read.parquet(r2.outputPath).select("id").collect()
      .map(_.get(0).toString) shouldBe Array("4")
    spark.table(table).count() shouldBe 3
    // the property that matters at 100 TB: day-2's curation plan reads
    // the store PRE-PARTITIONED on the join key — no Exchange above the
    // store scan, so the config-routed plan has exactly one fewer
    // shuffle than the same curation against a plain parquet store.
    // Auto-broadcast off so the tiny test store takes the sort-merge
    // shape a real corpus would.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val day2 = Seq(("5", "alice", "1.0"), ("6", "dave", "2.0"))
        .toDF("id", "name", "score")
      def curationShuffles(cur: Map[String, Any]): Int =
        "Exchange hashpartitioning".r.findAllIn(
          JobRunner.applyCuration(day2, Map("curation" -> cur))
            .queryExecution.executedPlan.toString).length
      val bucketedCur = Map[String, Any](
        "id_field" -> "id", "text_field" -> "name",
        "dedupe" -> "incremental", "store_format" -> "bucketed",
        "fingerprint_store" -> table)
      // plain-store twin with identical contents, written from the table
      val plainStore = dir2.resolve("fp_plain").toString
      spark.table(table).write.parquet(plainStore)
      val plainCur = Map[String, Any](
        "id_field" -> "id", "text_field" -> "name",
        "dedupe" -> "incremental", "fingerprint_store" -> plainStore)
      curationShuffles(bucketedCur) shouldBe curationShuffles(plainCur) - 1
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(s"DROP TABLE $table")
  }

  test("curation dedupe incremental_near: day-2 drops near-dups of day-1 corpus") {
    import spark.implicits._
    val table = "jrspec_bk_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val corpusDir = java.nio.file.Files.createTempDirectory("nearcorpus-")
      .toString + "/docs"
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "an altogether different sentence about compilers and parsers")
    ).toDF("doc_id", "text")
    val raw = Map("curation" -> Map(
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "incremental_near", "store_format" -> "bucketed",
      "band_key_store" -> table, "corpus_path" -> corpusDir))
    // day 1: missing store AND corpus → bootstrap, nothing dropped
    val out1 = JobRunner.applyCuration(day1, raw)
    out1.count() shouldBe 2
    // maintenance half (what update_store runs post-commit)
    graft.operators.Dedup.saveBucketedBandKeys(out1, "doc_id", "text", table)
    day1.write.mode("append").parquet(corpusDir)
    // day 2: near-identical of a stored doc dropped, fresh kept
    val day2 = Seq(
      (10L, "THE QUICK brown fox jumps over the lazy dog by the river"),
      (11L, "a genuinely new document about sailing across the open bay")
    ).toDF("doc_id", "text")
    JobRunner.applyCuration(day2, raw)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(11L)
    spark.sql(s"DROP TABLE $table")
  }

  test("curation store_format bloom: compact_store_every compacts the data, keeps the sidecars") {
    def jobYaml(dir: java.nio.file.Path, out: String, store: String,
        compact: Boolean): String =
      write(dir, s"job_bloomcompact_$compact.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental
           |  store_format: bloom
           |  bloom_expected_items: 1000
           |  fingerprint_store: $store
           |  update_store: true
           |${if (compact) "  compact_store_every: 1" else ""}
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    def dataFiles(store: String): Int =
      new java.io.File(store).listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def bytes(store: String, sidecar: String): Seq[Byte] =
      Files.readAllBytes(java.nio.file.Paths.get(store, sidecar)).toSeq
    val root = Files.createTempDirectory("bloomcompact-")
    val compacted = root.resolve("compacted").toString
    val plain = root.resolve("plain").toString // same cycle, never compacted
    var metaParams = Seq.empty[Byte]
    val days = Seq(
      Seq("1,alice,9.5", "2,bob,8.0"),
      Seq("3,alice,7.0", "4,carol,6.0"),
      Seq("5,carol,5.0", "6,dave,4.0"))
    for ((rows, day) <- days.zipWithIndex) {
      val (dir, _) = fixture(rows, "strict")
      val rc = JobRunner.run(spark,
        jobYaml(dir, dir.resolve("outc").toString, compacted, compact = true))
      val rp = JobRunner.run(spark,
        jobYaml(dir, dir.resolve("outp").toString, plain, compact = false))
      rc.exitCode shouldBe ExitCodes.Success
      rp.exitCode shouldBe ExitCodes.Success
      // the window ran: one data file, sidecars untouched by it
      dataFiles(compacted) shouldBe 1
      dataFiles(plain) should be >= day + 1 // one or more per append
      bytes(compacted, "_bloom") shouldBe bytes(plain, "_bloom")
      if (day == 0) metaParams = bytes(compacted, "_meta_params")
      else bytes(compacted, "_meta_params") shouldBe metaParams
      // same answers as the uncompacted store, day 3 included: carol
      // (day-2 commit) is dropped, dave kept
      spark.read.parquet(rc.outputPath).select("id").collect()
        .map(_.get(0).toString).sorted shouldBe
        spark.read.parquet(rp.outputPath).select("id").collect()
          .map(_.get(0).toString).sorted
      if (day == 2)
        spark.read.parquet(rc.outputPath).select("id").collect()
          .map(_.get(0).toString) shouldBe Array("6")
    }
    graft.operators.Dedup.readFingerprints(spark, compacted).count() shouldBe 4
  }

  test("curation store_format bucketed rejects a dedupe mode with no bucketed store") {
    val (dir, _) = fixture(Seq(
      "1,the quick brown fox jumps over the lazy dog by the river,1.0",
      "2,the quick brown fox jumps over the lazy dog by the river,2.0",
      "3,some altogether different sentence about compilers and parsers,3.0"),
      "strict")
    def jobYaml(name: String, storeFormat: String): String =
      write(dir, name,
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: near
           |$storeFormat
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: ${dir.resolve(name + "_out")}}
           |""".stripMargin)
    val e = the[IllegalArgumentException] thrownBy JobRunner.run(spark,
      jobYaml("job_nearbucketed.yaml", "  store_format: bucketed"))
    e.getMessage should include("dedupe: near")
    // the same mode without a store_format is the ingest_curate shape
    val r = JobRunner.run(spark, jobYaml("job_near.yaml", ""))
    r.exitCode shouldBe ExitCodes.Success
    r.validRecords shouldBe 2
  }

  test("curation store_format bucketed: incremental_near two-day cycle from YAML") {
    val table = "jrspec_near_bucketed_yaml"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val corpus = Files.createTempDirectory("nearbk-corpus-").toString + "/docs"
    def jobYaml(dir: java.nio.file.Path, out: String): String =
      write(dir, "job_nearbk.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: incremental_near
           |  store_format: bucketed
           |  band_key_store: $table
           |  corpus_path: $corpus
           |  update_store: true
           |source:
           |  files:
           |    - {path: data.csv, object: people}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
    // day 1: missing table and corpus bootstrap; the append creates a
    // bucketed band-key table and lands the documents
    val (dir1, _) = fixture(Seq(
      "1,the quick brown fox jumps over the lazy dog by the river,1.0",
      "2,an altogether different sentence about compilers and parsers,2.0"),
      "strict")
    val r1 = JobRunner.run(spark, jobYaml(dir1, dir1.resolve("out1").toString))
    r1.exitCode shouldBe ExitCodes.Success
    r1.validRecords shouldBe 2
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    meta.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames)) shouldBe
      Some((256, Seq("bk")))
    spark.table(table).count() shouldBe 32L // 16 bands per document
    spark.read.parquet(corpus).count() shouldBe 2L
    // day 2: the near-dup of a day-1 document is dropped through the
    // table, the fresh one kept and appended
    val (dir2, _) = fixture(Seq(
      "10,THE QUICK brown fox jumps over the lazy dog by the river,1.0",
      "11,a genuinely new document about sailing across the open bay,2.0"),
      "strict")
    val r2 = JobRunner.run(spark, jobYaml(dir2, dir2.resolve("out2").toString))
    r2.exitCode shouldBe ExitCodes.Success
    r2.validRecords shouldBe 1
    spark.read.parquet(r2.outputPath).select("id").collect()
      .map(_.get(0).toString) shouldBe Array("11")
    spark.table(table).count() shouldBe 48L
    spark.read.parquet(corpus).count() shouldBe 3L
    spark.sql(s"DROP TABLE $table")
  }

  test("curated job releases every cache it creates (long-lived session)") {
    // dedupe: near runs the persist-heaviest curation path (shingle +
    // band + candidate caches, connected components); a long-lived
    // Orchestrator/BatchRunner session runs MANY such jobs, so each run
    // must leave the block-manager exactly as it found it
    val (dir, _) = fixture(Seq(
      "1,the quick brown fox jumps over the lazy dog by the river,1.0",
      "2,the quick brown fox jumps over the lazy dog by the river,2.0",
      "3,some altogether different sentence about compilers and parsers,3.0"),
      "strict")
    val out = dir.resolve("out_cur").toString
    val job = write(dir, "job_cur.yaml",
      s"""tenant_id: t1
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |curation:
         |  id_field: id
         |  text_field: name
         |  dedupe: near
         |source:
         |  files:
         |    - {path: data.csv}
         |target:
         |  connection: {path: $out}
         |""".stripMargin)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = JobRunner.run(spark, job)
    r.exitCode shouldBe ExitCodes.Success
    r.validRecords shouldBe 2 // near-dup of id 1 collapsed
    (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before) shouldBe empty
  }

  test("repeated curated jobs keep storage stable (orchestrated regime)") {
    // the Orchestrator/BatchRunner production shape: one session, many
    // scheduled curated runs. Storage must not grow run-over-run — the
    // pre-scope behavior leaked every run's shingle/band/candidate
    // caches until eviction pressure
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val memBefore = spark.sparkContext.getRDDStorageInfo.length
    for (round <- 1 to 4) {
      val (dir, _) = fixture(Seq(
        s"1,the quick brown fox jumps over the lazy dog in round $round,1.0",
        s"2,the quick brown fox jumps over the lazy dog in round $round,2.0",
        s"3,a different sentence about compilers in round $round,3.0"),
        "strict")
      val out = dir.resolve("out").toString
      val job = write(dir, "job.yaml",
        s"""tenant_id: t$round
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  dedupe: near
           |source:
           |  files:
           |    - {path: data.csv}
           |target:
           |  connection: {path: $out}
           |""".stripMargin)
      JobRunner.run(spark, job).exitCode shouldBe ExitCodes.Success
      // stable after EVERY run, not just at the end
      (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before) shouldBe empty
      spark.sparkContext.getRDDStorageInfo.length shouldBe memBefore
    }
  }

  test("a small curated batch: four Spark jobs, no exchange, near-dups gone") {
    // the ingest_curate shape: nfc, PII, near dedupe, gopher + entropy,
    // a partitioned parquet target. The gather fills the rewritten-text
    // cache, the losers leave through a set filter, and the write reads
    // the cache: gather, two sizing jobs, one write job
    val rnd = new scala.util.Random(3)
    val docs = (1 to 60).map(i =>
      (i, Seq.fill(40 + rnd.nextInt(20))(s"w${rnd.nextInt(400)}").mkString(" ")))
    val copies = docs.take(5).map { case (i, t) => (100 + i, t) } ++
      docs.slice(5, 10).map { case (i, t) => (200 + i, t.replaceFirst("w", "v")) }
    val (dir, _) = fixture((docs ++ copies).map { case (i, t) =>
      s"$i,$t,${i % 7}.0" }, "strict")
    def run(name: String) = {
      val out = dir.resolve(s"out_$name").toString
      val job = write(dir, s"job_$name.yaml",
        s"""tenant_id: t1
           |source_connector_path: recipe_csv.yaml
           |target_connector_path: recipe_parquet.yaml
           |asset_path: asset.yaml
           |schema_validation_mode: strict
           |curation:
           |  id_field: id
           |  text_field: name
           |  normalize: nfc
           |  redact_pii: true
           |  dedupe: near
           |  quality_filter: [gopher, entropy]
           |source:
           |  files:
           |    - {path: data.csv}
           |target:
           |  connection: {path: $out}
           |  partitioning: [score]
           |""".stripMargin)
      executed(JobRunner.run(spark, job))
    }
    run("cold")
    val (r, ran) = run("warm")
    r.exitCode shouldBe ExitCodes.Success
    ran.jobs shouldBe 4
    ran.count("Exchange") shouldBe 0 // BroadcastExchange included
    val ids = spark.read.parquet(r.outputPath).select("id")
      .collect().map(_.getAs[Number](0).intValue).toSet
    ids should not be empty
    ids.intersect(copies.map(_._1).toSet) shouldBe empty
  }

  test("env-var expansion incl. ${VAR:-default}") {
    Yaml.expandEnv("x-${GRAFT_NOPE:-fallback}-y", Map.empty) shouldBe "x-fallback-y"
    Yaml.expandEnv("${HOME_X:-/a}/b", Map("HOME_X" -> "/h")) shouldBe "/h/b"
    Yaml.expandEnv("${UNSET_NO_DEFAULT}", Map.empty) shouldBe "${UNSET_NO_DEFAULT}"
  }
}
