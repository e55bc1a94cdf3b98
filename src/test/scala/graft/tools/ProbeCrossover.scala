package graft.tools

import graft.operators.{Search, Similarity, StoreProbe}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: store-probe latency on the driver path and on the Spark
  * path against the probed bytes — where [[StoreProbe.DriverByteBudget]]
  * comes from. `Test/runMain graft.tools.ProbeCrossover <cores>
  * [scale…]` builds, per scale s, the `index_probe` shapes at s times
  * their size — a bm25 postings store (1500·s documents of 40–160 words
  * over a 20k vocabulary, 64 buckets) and an IVF-SQ8 + raw store pair
  * (3000·s vectors of dim 64 in 32 clusters, 32 lists) — and times the
  * two calls `index_probe` makes, with 8 queries each: bm25 top-10 of
  * 3-term queries, and IVF-SQ8 top-10 at nprobe 4 refined at factor 4.
  * Each call runs 3 warm-up probes, then the median of 7, on each path.
  * Prints one line per (scale, call): the bytes of the files the call
  * decodes (its probed files), driver ms and Spark ms.
  */
object ProbeCrossover {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.getOrElse("2")
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 2, 4, 8, 16)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("probe_crossover_")
    def median(f: => Any): Double = {
      (1 to 3).foreach(_ => f)
      val ms = (1 to 7).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      ms.sorted.apply(3)
    }
    def report(call: String, s: Int)(probe: => DataFrame): Unit = {
      val (_, files) = StoreProbe.withDriverByteBudget(Long.MaxValue)(
        graft.core.StoreScan.decodedFiles(probe))
      val bytes = files.filterNot(_.toString.contains("/_meta/"))
        .map(f => new java.io.File(f.toUri).length).sum
      val driver = median(StoreProbe.withDriverByteBudget(Long.MaxValue)(probe))
      val inSpark = median(StoreProbe.withDriverByteBudget(-1L)(probe))
      println(f"[crossover] local[$cores] scale=$s%3d $call%-5s " +
        f"bytes=$bytes%9d driver_ms=$driver%8.1f spark_ms=$inSpark%8.1f")
    }
    def local(df: DataFrame) = spark.createDataFrame(
      java.util.Arrays.asList(df.collect().toSeq: _*), df.schema)
    for (s <- scales) {
      val rng = new scala.util.Random(s.toLong)
      val docs = (0L until 1500L * s).map(i => (i, Seq.fill(40 +
        rng.nextInt(121))(s"w${rng.nextInt(20000)}").mkString(" ")))
        .toDF("doc_id", "text").repartition(4)
      val bm25 = s"$root/bm25-$s"
      Search.writePostingsStore(docs, "doc_id", "text", bm25, buckets = 64)
      val dq = local((0L until 8L).map(i => (1000000L + i,
        Seq.fill(3)(s"w${rng.nextInt(20000)}").mkString(" ")))
        .toDF("doc_id", "text"))
      report("bm25", s) {
        Search.bm25TopKFromStore(spark, bm25, dq, "doc_id", "text", k = 10)
      }
      val centres = Array.fill(32)(Array.fill(64)(rng.nextGaussian()))
      def near(c: Array[Double]) = c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat)
      val vecs = (0L until 3000L * s).map(i => (i, near(centres(rng.nextInt(32)))))
        .toDF("vec_id", "embedding").repartition(4).cache()
      val vq = local((0L until 8L).map(i => (1000000L + i,
        near(centres(rng.nextInt(32))))).toDF("vec_id", "embedding"))
      val cents = Similarity.seedCentroids(vecs, "vec_id", "embedding", 32)
      val (mins, maxs) = Similarity.trainSqParams(vecs, "embedding", 64)
      val sq = s"$root/sq-$s"
      val raw = s"$root/raw-$s"
      Similarity.writeIvfSqCodes(vecs, "vec_id", "embedding", cents, sq,
        mins, maxs)
      Similarity.writeIvfAssignments(vecs, "vec_id", "embedding", cents, raw)
      report("ivfsq", s) {
        Similarity.ivfSqRerankTopKFromStores(spark, sq, raw, vq, "vec_id",
          "embedding", k = 10, cents, nprobe = 4, mins, maxs, factor = 4)
      }
      vecs.unpersist()
    }
    spark.stop()
  }
}
