package graft.plugins

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A test reader plugin (Scala object form). */
object FixtureReader extends Reader {
  def read(spark: SparkSession, config: Map[String, Any]): DataFrame = {
    import spark.implicits._
    Seq((1L, "plugin-row")).toDF("id", "name")
  }
  override def discover(config: Map[String, Any]): DiscoveryResult =
    DiscoveryResult(Seq("fixture_table"), Map("kind" -> "test"))
}

class FixtureClassReader extends Reader {
  def read(spark: SparkSession, config: Map[String, Any]): DataFrame = {
    import spark.implicits._
    Seq((2L, "class-row")).toDF("id", "name")
  }
}

/** A test writer plugin: one parquet write, one FileMeta per file. */
object FixtureWriter extends Writer {
  def write(df: DataFrame, config: Map[String, Any]): Seq[FileMeta] = {
    val path = config("path").toString
    df.coalesce(1).write.mode("overwrite").parquet(path)
    new java.io.File(path).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => FileMeta(f.getPath, df.count(), f.length()))
  }
}

class PluginsSpec extends SparkSpec {

  test("loads a Scala object reader and reads through it") {
    val r = PluginLoader.loadReader("graft.plugins.FixtureReader")
    val df = r.read(spark, Map.empty)
    df.collect()(0).getString(1) shouldBe "plugin-row"
    r.discover(Map.empty).objects shouldBe Seq("fixture_table")
    r.checkConnection(Map.empty).success shouldBe true
  }

  test("loads a no-arg class reader") {
    PluginLoader.loadReader("graft.plugins.FixtureClassReader")
      .read(spark, Map.empty).collect()(0).getLong(0) shouldBe 2L
  }

  test("loads a Scala object writer: write lands files, default commit accepts") {
    import spark.implicits._
    val w = PluginLoader.loadWriter("graft.plugins.FixtureWriter")
    val dir = java.nio.file.Files.createTempDirectory("plugin-writer-")
      .resolve("out").toString
    val metas = w.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      Map("path" -> dir))
    metas.map(_.records) shouldBe Seq(2L)
    metas.head.bytes should be > 0L
    w.commit(metas, Map.empty) shouldBe true
    spark.read.parquet(dir).count() shouldBe 2L
    // a reader is not a writer
    an[IllegalArgumentException] should be thrownBy
      PluginLoader.loadWriter("graft.plugins.FixtureReader")
  }

  test("rejects classes that don't implement the trait") {
    an[IllegalArgumentException] should be thrownBy
      PluginLoader.loadReader("java.lang.StringBuilder")
  }

  test("custom_reader drives a whole job through JobRunner") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("plugin-job-")
    def w(n: String, c: String) = {
      Files.writeString(dir.resolve(n), c); dir.resolve(n).toString
    }
    w("recipe_csv.yaml",
      "name: csv\ntype: csv\nroles: [source]\ndefault_engine: {type: native}\n")
    w("recipe_parquet.yaml",
      "name: parquet\ntype: parquet\nroles: [source, target]\ndefault_engine: {type: native}\n")
    w("asset.yaml",
      """asset:
        |  name: plug
        |  schema:
        |    - {name: id, type: integer, required: true}
        |    - {name: name, type: string}
        |""".stripMargin)
    val job = w("job.yaml",
      s"""tenant_id: tp
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |source:
         |  custom_reader: graft.plugins.FixtureReader
         |target:
         |  connection: {path: ${dir.resolve("out")}}
         |""".stripMargin)
    val r = graft.JobRunner.run(spark, job)
    r.exitCode shouldBe 0
    r.validRecords shouldBe 1

    // cloud mode refuses the unsandboxed plugin (sandbox.py:1328-1360:
    // the reference would Docker-sandbox it; we have no sandbox runtime)
    val e = intercept[UnsupportedOperationException] {
      graft.JobRunner.run(spark, job, mode = "cloud")
    }
    e.getMessage should include("sandbox")

    // explicit opt-out accepts in-process execution even in cloud mode
    val job2 = w("job2.yaml",
      s"""tenant_id: tp
         |source_connector_path: recipe_csv.yaml
         |target_connector_path: recipe_parquet.yaml
         |asset_path: asset.yaml
         |schema_validation_mode: strict
         |source:
         |  custom_reader: graft.plugins.FixtureReader
         |  sandbox: {enabled: false}
         |target:
         |  connection: {path: ${dir.resolve("out2")}}
         |""".stripMargin)
    graft.JobRunner.run(spark, job2, mode = "cloud").exitCode shouldBe 0
  }

  test("sandbox policy: self_hosted in-process; sandbox.enabled=true refuses too") {
    noException should be thrownBy
      PluginLoader.requireSandboxPolicy("X", "self_hosted")
    an[UnsupportedOperationException] should be thrownBy
      PluginLoader.requireSandboxPolicy("X", "cloud")
    an[UnsupportedOperationException] should be thrownBy
      PluginLoader.requireSandboxPolicy("X", "self_hosted",
        Map("enabled" -> "true")) // explicit sandbox request: cannot honor
    noException should be thrownBy
      PluginLoader.requireSandboxPolicy("X", "cloud", Map("enabled" -> false))
  }
}
