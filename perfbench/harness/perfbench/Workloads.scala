package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{BuildIndex, JobRunner}
import graft.config.{AssetLoader, ConnectorRecipe, JobConfig}
import graft.core.{Validation, ValidationMode}
import graft.infra.Tracer
import graft.operators.{Search, Similarity}

/** `RunJob` over a generated file: one unit is one `JobRunner.run` into a
  * fresh output directory and state file. `events` selects the output
  * facts read back (typed-row digest and cursor state for the events CSV;
  * output ids and text hashes for the curated documents).
  */
final class IngestJob(spec: JsonNode, spark: SparkSession, events: Boolean)
    extends Workload {
  private val in = spec.get("inputs")
  private val work = Paths.get(spec.get("work").asText())
  private def unitDir(i: Int) = work.resolve(s"unit$i")

  def run(i: Int, tracer: Tracer): Any = {
    val job = Workload.instantiate(in.get("job").asText(), unitDir(i))
    JobRunner.run(spark, job, log = _ => (), tracer = tracer)
  }

  override def cleanup(i: Int): Unit = Workload.deleteTree(unitDir(i))
  override def attributable: Boolean = !events

  def inspect(i: Int, result: Any): Map[String, Any] = {
    val r = result.asInstanceOf[JobRunner.JobReport]
    val out = spark.read.parquet(r.outputPath)
    val (files, bytes) = Workload.footprint(r.outputPath)
    val cursor = new graft.state.StateStore(
      unitDir(i).resolve("state.json").toString, spark)
      .cursorLastValue(if (events) "events" else "docs", if (events) "ts" else "doc_id")
    val base = Map[String, Any]("exit" -> r.exitCode, "records" -> r.records,
      "valid" -> r.validRecords, "errors" -> r.errors,
      "files" -> files, "out_bytes" -> bytes, "cursor" -> cursor.orNull)
    if (events) {
      val d = out.agg(count(lit(1)), sum("event_id"), sum("user_id"),
        sum(length(col("event_type"))), sum(round(col("amount") * 100).cast("long")),
        sum("qty"), sum(unix_seconds(col("ts"))),
        sum(pmod(col("event_id") * col("qty"), lit(1000003L))),
        countDistinct(to_date(col("ts")))).collect()(0)
      base ++ Map("digest" -> (0 until 8).map(d.getLong), "days" -> d.getLong(8))
    } else {
      // one read of the output; the id, duplicate-group and digest checks
      // run in run.py
      val rows = out.select(col("doc_id"),
        pmod(xxhash64(col("text")), lit(1000000007L))).collect()
      base ++ Map("ids" -> rows.map(_.getAs[Number](0).longValue()).toSeq,
        "text_hashes" -> rows.map(_.getLong(1)).toSeq)
    }
  }

  /** Successive prefixes of the job's one fused action, each ending in a
    * noop write, built from the same public functions `JobRunner.run`
    * composes: source → +validate → +curate. */
  override def prefixes: Seq[(String, () => Unit)] = {
    val jobPath = Workload.instantiate(in.get("job").asText(), work.resolve("prefix"))
    val job = JobConfig.fromYaml(jobPath)
    val src = job.resolveSource(ConnectorRecipe.fromYaml(job.sourceConnectorPath.get))
    val contract = AssetLoader.fromYaml(job.assetPath.get)
    val jobDir = Paths.get(jobPath).getParent.toString
    val corrupt =
      if (src.connectorType == "jsonl") Some(graft.sources.JsonlOptions().corruptCol)
      else None
    def source(): DataFrame = JobRunner.planSource(spark, src, contract, jobDir)
    def validated(): DataFrame = Validation.validate(source(), contract,
      ValidationMode.parse(job.validationMode),
      Observation(s"prefix_${System.nanoTime}"), corrupt).data
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Seq("source" -> (() => noop(source())),
      "validate" -> (() => noop(validated()))) ++
      (if (events) Nil
       else Seq("curate" -> (() => noop(JobRunner.applyCuration(validated(), job.raw)))))
  }
}

/** `BuildIndex.run` twice per unit — `kind: bm25` over the documents, then
  * `kind: ivfsq` with `raw_store` over the clustered embeddings — into
  * fresh store paths. */
final class IndexBuild(spec: JsonNode, spark: SparkSession) extends Workload {
  private val in = spec.get("inputs")
  private val work = Paths.get(spec.get("work").asText())
  private def unitDir(i: Int) = work.resolve(s"unit$i")

  def run(i: Int, tracer: Tracer): Any = {
    val bm25 = Workload.instantiate(in.get("bm25").asText(), unitDir(i))
    val ivfsq = Workload.instantiate(in.get("ivfsq").asText(), unitDir(i))
    (tracer.span("BuildIndex.bm25")(BuildIndex.run(spark, bm25)),
      tracer.span("BuildIndex.ivfsq")(BuildIndex.run(spark, ivfsq)))
  }

  override def cleanup(i: Int): Unit = Workload.deleteTree(unitDir(i))

  def inspect(i: Int, result: Any): Map[String, Any] = {
    val (b, v) = result.asInstanceOf[(BuildIndex.BuildReport, BuildIndex.BuildReport)]
    IndexBuild.storeFacts(spark, b, v)
  }
}

object IndexBuild {
  /** Row counts read back from both stores and the raw twin, plus their
    * on-disk footprint. */
  def storeFacts(spark: SparkSession, b: BuildIndex.BuildReport,
      v: BuildIndex.BuildReport): Map[String, Any] = {
    val raw = v.rawStore.get
    val meta = spark.read.parquet(s"${b.store}/_meta").collect()(0)
    Map("bm25_rows" -> b.rows, "ivfsq_rows" -> v.rows,
      "bm25_docs" -> meta.getAs[Long]("n_docs"),
      "bm25_postings" -> spark.read.parquet(s"${b.store}/postings").count(),
      "ivfsq_read" -> spark.read.parquet(v.store).count(),
      "raw_read" -> spark.read.parquet(raw).count(),
      "bm25_store" -> footprint(b.store), "ivfsq_store" -> footprint(v.store),
      "raw_store" -> footprint(raw))
  }

  /** [data files, bytes] of a store. */
  def footprint(store: String): Seq[Long] = {
    val (n, bytes) = Workload.footprint(store)
    Seq(n, bytes)
  }
}

/** One client, closed loop: each unit is one round of two probe calls
  * of `batch` queries — `Search.bm25TopKFromStore`, then
  * `Similarity.ivfSqRerankTopKFromStores` — each timed on its own, against
  * stores built once in `prepare`. */
final class IndexProbe(spec: JsonNode, spark: SparkSession) extends Workload {
  private val in = spec.get("inputs")
  private val p = spec.get("params")
  private val k = p.get("k").asInt()
  private val batch = p.get("batch").asInt()
  private var bm25Store, sqStore, rawStore = ""
  private var centroids: Seq[Array[Double]] = Nil
  private var grid: (Array[Double], Array[Double]) = (Array.empty, Array.empty)
  private var textQ: IndexedSeq[Row] = IndexedSeq.empty
  private var vecQ: IndexedSeq[Row] = IndexedSeq.empty
  private var facts: Map[String, Any] = Map.empty
  private val textSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  override def gcBetweenUnits: Boolean = false

  private def queries(input: String, id: String): IndexedSeq[Row] =
    spark.read.parquet(in.get(input).asText()).orderBy(id).collect().toIndexedSeq

  /** Builds both stores and keeps their build times and on-disk
    * footprint, and the in-memory scorer's answers over the same corpus as
    * the bm25 reference. The probe rounds check that the stores read. */
  override def prepare(): Unit = {
    val dir = Paths.get(spec.get("work").asText()).resolve("stores")
    def build(cfg: String) = {
      val n0 = System.nanoTime()
      val r = BuildIndex.run(spark, Workload.instantiate(in.get(cfg).asText(), dir))
      (r, System.nanoTime() - n0)
    }
    val (b, bNs) = build("bm25")
    val (v, vNs) = build("ivfsq")
    val docs = spark.read.parquet(in.get("docs").asText())
    val reference = Search.bm25TopK(docs, spark.createDataFrame(
      queries("text_queries", "doc_id").asJava, textSchema), "doc_id", "text", k)
    bm25Store = b.store; sqStore = v.store; rawStore = v.rawStore.get
    centroids = Similarity.readCentroids(spark, sqStore)
    grid = Similarity.readSqTrainParams(spark, sqStore)
    textQ = queries("text_queries", "doc_id")
    vecQ = queries("vector_queries", "vec_id")
    facts = Map("bm25_store" -> IndexBuild.footprint(bm25Store),
      "ivfsq_store" -> IndexBuild.footprint(sqStore),
      "raw_store" -> IndexBuild.footprint(rawStore),
      "bm25_build_ns" -> bNs, "ivfsq_build_ns" -> vNs,
      "reference" -> IndexProbe.ranked(reference.collect(), "score"))
  }

  override def prepareFacts: Map[String, Any] = facts

  private def slice(qs: IndexedSeq[Row], i: Int): java.util.List[Row] = {
    val from = (i % (qs.size / batch)) * batch
    qs.slice(from, from + batch).asJava
  }

  private def timed[T](tracer: Tracer, name: String)(body: => T): (String, Long, T) = {
    val n0 = System.nanoTime()
    val r = tracer.span(name)(body)
    (name, System.nanoTime() - n0, r)
  }

  /** One round: a bm25 call, then an ivfsq call, each on batch `i`. */
  def run(i: Int, tracer: Tracer): Any = Seq(
    timed(tracer, "probe.bm25") {
      Search.bm25TopKFromStore(spark, bm25Store,
        spark.createDataFrame(slice(textQ, i), textSchema), "doc_id", "text", k)
        .collect()
    },
    timed(tracer, "probe.ivfsq") {
      Similarity.ivfSqRerankTopKFromStores(spark, sqStore, rawStore,
        spark.createDataFrame(slice(vecQ, i), vecSchema), "vec_id", "embedding", k,
        centroids, p.get("nprobe").asInt(), grid._1, grid._2,
        p.get("factor").asInt()).collect()
    })

  /** Each call's answers, per query id; run.py compares them with the
    * reference and the brute-force neighbours. */
  def inspect(i: Int, result: Any): Map[String, Any] = {
    val Seq((_, bm25Ns, bm25Rows), (_, ivfNs, ivfRows)) =
      result.asInstanceOf[Seq[(String, Long, Array[Row])]]
    def answers(qs: IndexedSeq[Row], rows: Array[Row], scoreCol: String) = {
      val got = IndexProbe.ranked(rows, scoreCol)
      slice(qs, i).asScala.map(_.getLong(0).toString)
        .map(q => q -> got.getOrElse(q, Nil)).toMap
    }
    Map("call_ns" -> Seq(bm25Ns, ivfNs),
      "bm25" -> answers(textQ, bm25Rows, "score"),
      "ivfsq" -> answers(vecQ, ivfRows, "dist"))
  }
}

object IndexProbe {
  /** query id → [[neighbour id, score]] in rank order. */
  def ranked(rows: Array[Row], scoreCol: String): Map[String, Seq[Seq[Any]]] =
    rows.toSeq.groupBy(_.getAs[Long]("query_id").toString).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank")).map(r =>
        Seq(r.getAs[Long]("neighbor_id"), r.getAs[Number](scoreCol).doubleValue()))
    }
}
