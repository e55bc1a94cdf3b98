package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Family-wide invariants of [[Similarity]]'s IVF core, one table row
  * per codec:
  *  (a) probing every list (nprobe = numLists) answers exactly what the
  *      codec's flat scan answers, in memory and from a store;
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
  private lazy val all = Some(cents)
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

  private def fromStore(path: String, codec: Codec,
      centroids: Option[Seq[Array[Double]]], nprobe: Int) =
    rows(Similarity.stageFromStore(spark, path, queries, id, vec, k, codec,
      centroids, nprobe)._1)

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
            c.codec, None, 0))
          val flatStore = tmp(s"${c.name}-flat")
          Similarity.writeStore(corpus, id, vec, c.codec, None, flatStore)
          fromStore(flatStore, c.codec, None, 0) shouldBe flat
          flat
        }
      exhaustive should have size (queries.count() * k)
      rows(Similarity.codecTopK(corpus, queries, id, vec, k, c.codec, all,
        cents.size)) shouldBe exhaustive
      val store = tmp(c.name)
      Similarity.writeStore(corpus, id, vec, c.codec, all, store)
      fromStore(store, c.codec, all, cents.size) shouldBe exhaustive
    }
  }

  test("(a) raw IVF at nprobe = numLists ≡ bruteForceTopK") {
    def ranks(df: DataFrame) = df.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    ranks(Similarity.ivfTopK(corpus, queries, id, vec, k, cents,
      cents.size)) shouldBe
      ranks(Similarity.bruteForceTopK(corpus, queries, id, vec, k))
  }

  test("(c) append(b2) after write(b1) probes the same as write(b1 ∪ b2)") {
    val b1 = corpus.filter(col(id) < 90)
    val b2 = corpus.filter(col(id) >= 90)
    for (c <- cases; append <- c.append) withClue(s"${c.name}: ") {
      val appended = tmp(s"${c.name}-append")
      Similarity.writeStore(b1, id, vec, c.codec, all, appended)
      append(b2, appended)
      val rebuilt = tmp(s"${c.name}-rebuild")
      Similarity.writeStore(b1.union(b2), id, vec, c.codec, all, rebuilt)
      for (nprobe <- Seq(2, cents.size))
        fromStore(appended, c.codec, all, nprobe) shouldBe
          fromStore(rebuilt, c.codec, all, nprobe)
    }
  }
}
