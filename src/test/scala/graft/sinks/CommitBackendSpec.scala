package graft.sinks

import graft.SparkSpec
import graft.core.{ContractField, DataContract}
import java.nio.file.Files

class CommitBackendSpec extends SparkSpec {
  import spark.implicits._

  private val contract = DataContract(name = "commit_t1",
    domain = Some("d"), dataProduct = Some("p"),
    fields = Seq(ContractField("id", "integer", required = true),
      ContractField("name", "string")))

  private def data = Seq((1L, "a"), (2L, "b")).toDF("id", "name")

  test("catalog backend: create-on-first-commit, append, property diff") {
    val backend = CatalogTableBackend("spark_catalog", "default")
    val r1 = backend.commit(data, "/unused", contract, Nil,
      Map("governance.owner" -> "o@x"), 150, None)
    r1.committed shouldBe true
    r1.location shouldBe "spark_catalog.default.commit_t1"
    spark.table(r1.location).count() shouldBe 2
    // second commit appends + sets only changed properties
    backend.commit(data, "/unused", contract, Nil,
      Map("governance.owner" -> "o@x", "finops.project" -> "apollo"), 150, None)
    spark.table(r1.location).count() shouldBe 4
    val props = spark.sql(s"SHOW TBLPROPERTIES ${r1.location}").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    props("finops.project") shouldBe "apollo"
    props("governance.owner") shouldBe "o@x"
    props("write.target-file-size-bytes") shouldBe (150L * 1024 * 1024).toString
  }

  test("degradation: unknown catalog falls back to parquet-only, job succeeds") {
    val backend = CatalogTableBackend("no_such_catalog", "ns")
    val out = Files.createTempDirectory("degrade-").toString + "/t"
    val r = backend.commit(data, out, contract, Nil, Map("k" -> "v"), 150, None)
    r.committed shouldBe true
    r.backend shouldBe "parquet_only"
    spark.read.parquet(out).count() shouldBe 2
  }

  test("parquet-only commit reports files and bytes written") {
    val out = Files.createTempDirectory("metrics-").toString + "/t"
    val r = ParquetOnly.commit(data, out, contract, Nil, Map.empty, 150, None)
    r.filesWritten should be >= 1L
    r.bytesWritten should be > 0L
    // matches an independent listing of the data files on disk
    val listed = ParquetSink.writtenFiles(spark, out, 0L)
    r.filesWritten shouldBe listed.size.toLong
    r.bytesWritten shouldBe listed.map(_._2).sum
    // a second append reports only ITS OWN files, not the first commit's
    val r2 = ParquetOnly.commit(data, out, contract, Nil, Map.empty, 150, None)
    r2.filesWritten should be >= 1L
    (r.filesWritten + r2.filesWritten) shouldBe
      ParquetSink.writtenFiles(spark, out, 0L).size.toLong
  }

  test("transform partitioning degrades to derived identity dirs on parquet") {
    val out = Files.createTempDirectory("transform-").toString + "/t"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 11:00:00"))
    ).toDF("id", "ts")
    val r = ParquetOnly.commit(df, out, contract, Seq("days(ts)", "bucket(4, id)"),
      Map.empty, 150, None)
    r.committed shouldBe true
    val back = spark.read.parquet(out)
    back.columns should contain allOf ("ts_day", "id_bucket")
    // partition-dir values are type-re-inferred on read (DateType here)
    back.select(org.apache.spark.sql.functions.col("ts_day").cast("string"))
      .distinct().collect().map(_.getString(0)).sorted shouldBe
      Array("2024-03-01", "2024-03-02")
  }

  test("catalog commit with transform partitioning still lands data") {
    // the V1 session catalog can't store V2 transforms — the designed
    // degradation path must kick in and write parquet, job succeeding
    val backend = CatalogTableBackend("spark_catalog", "default")
    val out = Files.createTempDirectory("cat-transform-").toString + "/t"
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))
      .toDF("id", "ts")
    val c = DataContract(name = "commit_tf", domain = Some("d"),
      dataProduct = Some("p"), fields = contract.fields)
    val r = backend.commit(df, out, c, Seq("days(ts)"), Map.empty, 150, None)
    r.committed shouldBe true
    if (r.backend == "parquet_only") spark.read.parquet(out).count() shouldBe 1
    else spark.table(r.location).count() shouldBe 1
  }

  test("catalog commit evaluates the size estimate only when it degrades") {
    var evaluated = 0
    def estimate: Option[Long] = { evaluated += 1; Some(1000L) }
    // a catalog table sizes its own files: the estimate never runs
    val ok = CatalogTableBackend("spark_catalog", "default").commit(data,
      "/unused", contract.copy(name = "commit_lazy_estimate"), Nil,
      Map.empty, 150, estimate)
    ok.backend shouldBe "catalog:spark_catalog"
    evaluated shouldBe 0
    // degraded to parquet: the Parquet write reads it exactly once
    val out = Files.createTempDirectory("degrade-est-").toString + "/t"
    val degraded = CatalogTableBackend("no_such_catalog", "ns").commit(data,
      out, contract, Nil, Map.empty, 150, estimate)
    degraded.backend shouldBe "parquet_only"
    evaluated shouldBe 1
    spark.read.parquet(out).count() shouldBe 2
  }

  test("forTarget picks the catalog backend only when configured") {
    CommitBackend.forTarget(spark, Map.empty) shouldBe ParquetOnly
    CommitBackend.forTarget(spark,
      Map("name" -> "nessie", "namespace" -> "lake")) shouldBe
      CatalogTableBackend("nessie", "lake")
  }
}
