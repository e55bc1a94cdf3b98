package graft.tools

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: MinHash near-dup removal time on the driver path and on the
  * distributed path against the gathered bytes — where
  * [[Dedup.NearDupDriverBytes]] comes from. `Test/runMain
  * graft.tools.NearDupCrossover <cores> [scale…]` builds, per scale s, an
  * `ingest_curate`-shaped batch at s times its size: 2000·s documents of
  * 40–160 words over a 20k vocabulary, plus exact copies of 5% of them and
  * near copies (3 words replaced) of another 5%, with int ids, cached in 4
  * partitions like the job's rewritten text. It times
  * `Dedup.dropNearDuplicates` with the default plan (16 bands × 4 rows,
  * word 3-shingles, threshold 0.9) written to a noop sink, 2 warm-up runs
  * then the median of 5, on each path. Prints one line per scale: the
  * gathered bytes (the estimate the budget is compared with), driver ms
  * and distributed ms.
  */
object NearDupCrossover {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.getOrElse("2")
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 2, 4, 8, 16, 32)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def median(f: => Any): Double = {
      (1 to 2).foreach(_ => f)
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      ms.sorted.apply(2)
    }
    def removal(df: DataFrame): Unit = graft.core.CacheScope.scoped {
      Dedup.dropNearDuplicates(df, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    for (s <- scales) {
      val rng = new scala.util.Random(s.toLong)
      def words(n: Int) = Seq.fill(n)(s"w${rng.nextInt(20000)}")
      val base = (0 until 2000 * s).map(_ => words(40 + rng.nextInt(121)))
      val exact = base.take(base.length / 20)
      val near = base.slice(base.length / 20, base.length / 10).map { t =>
        (1 to 3).foldLeft(t)((d, _) => d.updated(rng.nextInt(d.length), words(1).head))
      }
      val docs = (base ++ exact ++ near).zipWithIndex
        .map { case (t, i) => (i, t.mkString(" ")) }
        .toDF("doc_id", "text").repartition(4).cache()
      docs.count()
      val bytes = docs.select(col("doc_id"),
          Dedup.wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"),
          graft.functions.MinhashBands(col("sh"), 16, 4).as("bk"))
        .collect().map(Dedup.gatheredBytes).sum
      val driver = median(Dedup.withGuards(
        _.copy(nearDupDriverBytes = Long.MaxValue))(removal(docs)))
      val distributed = median(Dedup.withGuards(
        _.copy(nearDupDriverBytes = -1L))(removal(docs)))
      println(f"[crossover] local[$cores] scale=$s%3d docs=${docs.count()}%6d " +
        f"bytes=$bytes%10d driver_ms=$driver%8.1f distributed_ms=$distributed%8.1f")
      docs.unpersist()
    }
    spark.stop()
  }
}
