package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver near-dup path (one gather, pairs verified on the driver)
  * equals the distributed path (band-key join, verify joins) — rows and
  * full schema — for every MinHash entry: pairs, min-id removal and
  * keep-best removal. The corpus has a chain A≈B≈C with A≉C, exact
  * copies, a repeated id, a hot band key, tokenless and null text, and
  * runs under Long, Int and String ids.
  */
class NearDupDriverSpec extends SparkSpec {
  import spark.implicits._

  private def onDriver[T](body: => T): T =
    Dedup.withGuards(_.copy(nearDupDriverBytes = Long.MaxValue))(body)

  /** `driverMaxPairs = 0` forces the distributed path; the broadcast
    * ceiling stays at its default, so the plans are the default ones.
    */
  private def distributed[T](body: => T): T =
    Dedup.withGuards(_.copy(driverMaxPairs = 0L))(body)

  private val base = Seq[(Long, String)](
    // chain: 1 ≈ 2 (last word), 2 ≈ 3 (first two words), 1 ≉ 3
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
    2L -> "alpha beta gamma delta epsilon zeta eta theta kappa",
    3L -> "omega psi gamma delta epsilon zeta eta theta kappa",
    // exact copies, one of them sharing an id with another row
    10L -> "the quick brown fox jumps over the lazy dog again",
    11L -> "the quick brown fox jumps over the lazy dog again",
    12L -> "the quick brown fox jumps over the lazy dog again",
    12L -> "the quick brown fox jumps over the lazy dog once",
    // a hot group: six copies share every band key
    20L -> "boilerplate footer text repeated on every page of site",
    21L -> "boilerplate footer text repeated on every page of site",
    22L -> "boilerplate footer text repeated on every page of site",
    23L -> "boilerplate footer text repeated on every page of site",
    24L -> "boilerplate footer text repeated on every page of site",
    25L -> "boilerplate footer text repeated on every page of sites",
    // tokenless and too short for a shingle
    30L -> "",
    31L -> "   ",
    32L -> "two words",
    40L -> "completely unrelated words appear in this document here")

  /** The corpus with ids of `idType` (plus `offset`), a null-text row
    * and a score.
    */
  private def corpus(idType: DataType, offset: Long = 0L): DataFrame = {
    val rows = (base.map { case (i, t) => (i, Option(t)) } :+ (50L -> None))
      .map { case (i, t) => (i + offset, t) }
    rows.toDF("id0", "text")
      .withColumn("score", functions.length(coalesce($"text", lit(""))).cast("long") +
        ($"id0" % 3))
      .select(idOf(idType).as("id"), $"text", $"score")
  }

  private def idOf(idType: DataType) = idType match {
    // the string ids sort differently from the numbers: 3 < 20 < 25 < 4…
    case StringType => concat(lit("d"), $"id0".cast("string"))
    case t => $"id0".cast(t)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(name: String)(run: => DataFrame): Unit = {
    val d = onDriver(run)
    val s = distributed(run)
    withClue(s"$name schema: ") { d.schema shouldBe s.schema }
    withClue(s"$name rows: ") { sorted(d) shouldBe sorted(s) }
    graft.core.CacheScope.releaseAll()
  }

  for (idType <- Seq(LongType, IntegerType, StringType); maxBandDf <- Seq(0, 4))
    test(s"driver path equals the distributed path: $idType ids, maxBandDf $maxBandDf") {
      val df = corpus(idType)
      assertSame("pairs")(Dedup.minhashNearDupPairs(df, "id", "text",
        shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6,
        maxBandDf = maxBandDf))
      assertSame("dropNearDuplicates")(Dedup.dropNearDuplicates(df, "id",
        "text", shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6,
        maxBandDf = maxBandDf))
      assertSame("dropNearDuplicatesKeepBest")(Dedup.dropNearDuplicatesKeepBest(
        df, "id", "text", "score", shingleN = 2, bands = 16, rowsPerBand = 2,
        threshold = 0.6, maxBandDf = maxBandDf))
    }

  test("the corpus exercises the cases: chain, copies, repeated id, hot key") {
    val df = corpus(LongType)
    val pairs = onDriver(Dedup.minhashNearDupPairs(df, "id", "text",
      shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain allOf ((1L, 2L), (2L, 3L), (10L, 12L), (20L, 21L))
    pairs should not contain ((1L, 3L))
    // a hot key of more than 4 rows pairs nothing: the six footer copies
    // share only hot keys, the near-copy 25 included
    val capped = onDriver(Dedup.minhashNearDupPairs(df, "id", "text",
      shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6,
      maxBandDf = 4)).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    capped.filter(_._1 >= 20L) shouldBe empty
    capped should contain((1L, 2L))
    // min-id survivors: 1, 10 (both rows of the loser id 12 leave, as
    // under left_anti), 20, then the tokenless, short, null-text and
    // unrelated rows
    onDriver(Dedup.dropNearDuplicates(df, "id", "text", shingleN = 2,
      bands = 16, rowsPerBand = 2, threshold = 0.6))
      .select("id").as[Long].collect().sorted shouldBe
      Array(1L, 10L, 20L, 30L, 31L, 32L, 40L, 50L)
    graft.core.CacheScope.releaseAll()
  }

  test("verified pairs are a subset of brute-force all-pairs Jaccard") {
    val df = corpus(LongType)
    val sh = df.select($"id", Dedup.wordShingles($"text", 2).as("sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val brute = (for {
      (a, sa) <- sh; (b, sb) <- sh
      if a < b && sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size.toDouble
      if j >= 0.6
    } yield (a, b, j)).toSet
    val got = onDriver(Dedup.minhashNearDupPairs(df, "id", "text",
      shingleN = 2, bands = 16, rowsPerBand = 2, threshold = 0.6))
      .as[(Long, Long, Double)].collect().toSet
    got should not be empty
    got.subsetOf(brute) shouldBe true
    graft.core.CacheScope.releaseAll()
  }

  test("a batch past the budget takes the distributed path") {
    // budget 0: every task overflows, so the pairs are the joined plan's
    val df = corpus(LongType)
    val pairs = Dedup.withGuards(_.copy(nearDupDriverBytes = 0L))(Dedup.minhashNearDupPairs(
      df, "id", "text", shingleN = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.6))
    pairs.queryExecution.executedPlan.toString should include("Join")
    sorted(pairs) shouldBe sorted(onDriver(Dedup.minhashNearDupPairs(
      df, "id", "text", shingleN = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.6)))
    graft.core.CacheScope.releaseAll()
  }

  test("losers leave through a filter that compiles no new class per batch") {
    // two batches with different losers run the same generated code: the
    // loser set is a referenced object, not literals in the source
    def survivors(df: DataFrame): Array[Row] = onDriver(
      Dedup.dropNearDuplicates(df, "id", "text", shingleN = 2, bands = 16,
        rowsPerBand = 2, threshold = 0.6)).collect()
    val a = corpus(IntegerType)
    val b = corpus(IntegerType, offset = 1000L)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val n = survivors(a).length
    val before = compiles.getCount
    survivors(b).length shouldBe n
    compiles.getCount shouldBe before
    graft.core.CacheScope.releaseAll()
  }
}
