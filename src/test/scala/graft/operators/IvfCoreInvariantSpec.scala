package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Family-wide invariants of [[Similarity]]'s vector core, one table
  * row per codec (and, for the raw codec, per coarse stage):
  *  (a) probing every list (nprobe = numLists) answers exactly what the
  *      codec's flat scan answers, in memory and from a store; an LSH
  *      store answers what the in-memory LSH probe answers;
  *  (b) recall@k against brute force never drops as the probe widens
  *      (a seeded property over random corpora);
  *  (c) appending a batch to a store probes the same as building the
  *      store from both batches at once.
  */
class IvfCoreInvariantSpec extends SparkSpec {
  import spark.implicits._

  private val id = "vec_id"
  private val vec = "embedding"
  // 8-dim vectors with no zero vector (zero-norm rows are dropped by the
  // raw codec, which would make its flat scan differ from brute force)
  private val corpus = (0L until 150L).map { i =>
    (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.13).toFloat))
  }.toDF(id, vec)
  private val queries = corpus.filter(col(id) < 6)
  // k spans every other corpus row, so a probe that skipped any list (or
  // a store missing any row) changes the answer, not just its tail
  private val k = 149
  private lazy val cents = Similarity.seedCentroids(corpus, id, vec, 4)
  private def ivf(nprobe: Int) = Coarse.Ivf(cents, nprobe)
  private lazy val (mins, maxs) = Similarity.trainSqParams(corpus, vec, 8)

  private case class Case(name: String, codec: Codec,
      append: Option[(DataFrame, String) => Unit])

  private lazy val cases = Seq(
    Case("raw", Codec.Flat, Some((df, p) =>
      Similarity.appendIvfAssignments(df, id, vec, cents, p))),
    Case("sq8", Codec.Sq8(mins, maxs), Some((df, p) =>
      Similarity.appendIvfSqCodes(df, id, vec, cents, p, mins, maxs))),
    Case("pq", Codec.Pq(Similarity.seedPqCodebooks(corpus, id, vec,
      m = 2, k = 8, dsub = 4), 2, 8, 4), None),
    Case("pq-residual", Codec.Pq(Similarity.seedPqCodebooks(
      Similarity.residualFrame(corpus, id, vec, cents), "id", "res",
      m = 2, k = 8, dsub = 4), 2, 8, 4, residual = true), None),
    Case("sign", Codec.Sign(8), Some((df, p) =>
      Similarity.appendIvfBinary(df, id, vec, cents, p, dim = 8))))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))

  private def tmp(tag: String) = java.nio.file.Files
    .createTempDirectory(s"ivf-core-$tag-").toString + "/idx"

  private def fromStore(path: String, codec: Codec, coarse: Coarse) =
    rows(Similarity.stageFromStore(spark, path, queries, id, vec, k, codec,
      coarse)._1)

  /** A residual codec has no flat scan; its exhaustive answer is the
    * flat PQ scan of each list's residuals against that list's
    * centroid, merged and re-ranked.
    */
  private def residualExhaustive(pq: Codec.Pq): Seq[Seq[Any]] = {
    val listed = corpus.withColumn("list", Similarity.listAssignment(col(vec),
      cents))
    def res(df: DataFrame, c: Array[Double]) = df.select(col(id),
      zip_with(col(vec), lit(c), (a, b) => a - b).as(vec))
    val perList = cents.indices.map { l =>
      Similarity.pqTopK(res(listed.filter(col("list") === l), cents(l)),
        res(queries, cents(l)), id, vec, k, pq.codebook, pq.m, pq.numCodes,
        pq.dsub)
    }.reduce(_ union _)
    val w = Window.partitionBy("query_id").orderBy(col("adc"),
      col("neighbor_id"))
    rows(perList.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adc"))
  }

  test("(a) nprobe = numLists ≡ the codec's flat scan, in memory and from a store") {
    for (c <- cases) withClue(s"${c.name}: ") {
      val exhaustive =
        if (c.codec.residual) residualExhaustive(c.codec.asInstanceOf[Codec.Pq])
        else {
          val flat = rows(Similarity.codecTopK(corpus, queries, id, vec, k,
            c.codec, Coarse.Scan))
          val flatStore = tmp(s"${c.name}-flat")
          Similarity.writeStore(corpus, id, vec, c.codec, Coarse.Scan,
            flatStore)
          fromStore(flatStore, c.codec, Coarse.Scan) shouldBe flat
          flat
        }
      exhaustive should have size (queries.count() * k)
      rows(Similarity.codecTopK(corpus, queries, id, vec, k, c.codec,
        ivf(cents.size))) shouldBe exhaustive
      val store = tmp(c.name)
      Similarity.writeStore(corpus, id, vec, c.codec, ivf(1), store)
      fromStore(store, c.codec, ivf(cents.size)) shouldBe exhaustive
    }
  }

  test("(a) raw IVF at nprobe = numLists ≡ bruteForceTopK") {
    def ranks(df: DataFrame) = df.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    ranks(Similarity.ivfTopK(corpus, queries, id, vec, k, cents,
      cents.size)) shouldBe
      ranks(Similarity.bruteForceTopK(corpus, queries, id, vec, k))
  }

  test("(a) lsh: store ≡ in-memory probe for probes ∈ {1, 2, planes}") {
    val planes = 4
    val store = tmp("lsh")
    Similarity.writeStore(corpus, id, vec, Codec.Flat,
      Coarse.Lsh(planes, 8, 1), store)
    for (probes <- Seq(1, 2, planes)) withClue(s"probes=$probes: ") {
      val lsh = Coarse.Lsh(planes, 8, probes)
      val inMemory = rows(Similarity.codecTopK(corpus, queries, id, vec, k,
        Codec.Flat, lsh))
      inMemory should not be empty
      fromStore(store, Codec.Flat, lsh) shouldBe inMemory
    }
  }

  test("(b) recall@k vs bruteForceTopK never drops as nprobe or probes grows") {
    // the probed lists (buckets) are prefixes of one fixed order and the
    // scores are exact, so a wider probe only adds candidates: every true
    // top-k neighbor found at width p is still found at p + 1
    import org.scalacheck.{Gen, Prop, Test => Check}
    val (n, dim, numLists, planes, kk) = (60, 8, 4, 4, 10)
    def recall(truth: Set[(Long, Long)], approx: DataFrame): Double =
      approx.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .count(truth.contains).toDouble / truth.size
    val prop = Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rng = new scala.util.Random(seed)
      val df = (0L until n.toLong).map(i => (i, Array.fill(dim)(
        (rng.nextDouble() * 2 - 1).toFloat))).toDF(id, vec)
      val qs = df.filter(col(id) < 4)
      val truth = Similarity.bruteForceTopK(df, qs, id, vec, kk)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val cs = Similarity.seedCentroids(df, id, vec, numLists)
      val ivfRecall = (1 to numLists).map(p => recall(truth,
        Similarity.codecTopK(df, qs, id, vec, kk, Codec.Flat,
          Coarse.Ivf(cs, p))))
      val lshRecall = (1 to planes).map(p => recall(truth,
        Similarity.lshTopK(df, qs, id, vec, kk, planes, dim, p)))
      def monotone(r: Seq[Double]) = r.zip(r.tail).forall(t => t._1 <= t._2)
      Prop(monotone(ivfRecall) && monotone(lshRecall) &&
        ivfRecall.last == 1.0) :|
        s"seed $seed: ivf $ivfRecall lsh $lshRecall"
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(5).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20260517L)), prop)
    withClue(result.status.toString) { result.passed shouldBe true }
  }

  test("(c) append(b2) after write(b1) probes the same as write(b1 ∪ b2)") {
    val b1 = corpus.filter(col(id) < 90)
    val b2 = corpus.filter(col(id) >= 90)
    for (c <- cases; append <- c.append) withClue(s"${c.name}: ") {
      val appended = tmp(s"${c.name}-append")
      Similarity.writeStore(b1, id, vec, c.codec, ivf(1), appended)
      append(b2, appended)
      val rebuilt = tmp(s"${c.name}-rebuild")
      Similarity.writeStore(b1.union(b2), id, vec, c.codec, ivf(1), rebuilt)
      for (nprobe <- Seq(2, cents.size))
        fromStore(appended, c.codec, ivf(nprobe)) shouldBe
          fromStore(rebuilt, c.codec, ivf(nprobe))
    }
  }
}
