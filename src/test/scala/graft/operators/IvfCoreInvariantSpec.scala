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
  *      store from both batches at once;
  *  (d) a store probe's top-k is the same on the driver (files decoded
  *      and scored there), gathered from Spark tasks (per-task heaps
  *      merged on the driver) and from the in-memory window, ties
  *      included, with one schema — for every codec × coarse value and
  *      for bm25, monolithic and segmented; the per-task heap keeps at
  *      most k rows per query.
  */
class IvfCoreInvariantSpec extends SparkSpec with graft.TempDirs {
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

  private def tmp(tag: String) = tempDir(s"ivf-core-$tag-") + "/idx"

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
    // seeded Gaussian vectors: the sin-family corpus spans a 2-D plane
    // and leaves most buckets empty, so a probe skipping a bucket
    // directory could still match the in-memory answer
    val planes = 4
    val rng = new scala.util.Random(5L)
    val spread = (0L until 150L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toDF(id, vec)
    val qs = spread.filter(col(id) < 6)
    val store = tmp("lsh")
    Similarity.writeStore(spread, id, vec, Codec.Flat,
      Coarse.Lsh(planes, 8, 1), store)
    for (probes <- Seq(1, 2, planes)) withClue(s"probes=$probes: ") {
      val lsh = Coarse.Lsh(planes, 8, probes)
      val inMemory = rows(Similarity.codecTopK(spread, qs, id, vec, k,
        Codec.Flat, lsh))
      inMemory should not be empty
      rows(Similarity.stageFromStore(spark, store, qs, id, vec, k,
        Codec.Flat, lsh)._1) shouldBe inMemory
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

  /** An answer as comparable values: rows as strings (binary ids by
    * their bytes), sorted — rank is a column, so order is compared too.
    */
  private def answer(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.mkString("|")).sorted.toSeq

  /** The three answers of one store probe — on the driver, gathered
    * from Spark tasks, and the in-memory `window` — agree in rows; the
    * two store paths in full schema (names, types, nullability), the
    * window in names and types (a parquet read makes every stored
    * column nullable). Returns the driver's answer.
    */
  private def threeWay(window: DataFrame)(probe: => DataFrame): DataFrame = {
    val driver = StoreProbe.withDriverByteBudget(Long.MaxValue)(probe)
    val gather = StoreProbe.withDriverByteBudget(-1L)(probe)
    withClue("driver vs gather: ") {
      driver.schema shouldBe gather.schema
      answer(driver) shouldBe answer(gather)
    }
    withClue("gather vs window: ") {
      gather.schema.map(f => f.name -> f.dataType) shouldBe
        window.schema.map(f => f.name -> f.dataType)
      answer(gather) shouldBe answer(window)
    }
    driver
  }

  test("(d) driver ≡ gather ≡ window, every codec × coarse: ties across rank k and tasks, k past the candidates, absent lists, null vectors, binary ids") {
    import org.apache.spark.sql.types._
    // seeded Gaussian vectors, each planted four times under the ids
    // i, i+40, i+80, i+120: copies score identically in every codec, so
    // each query's three copies tie and k = 2 cuts through them; the
    // second half is an appended batch, so tied copies sit in different
    // files, and one file per scan task makes them meet only in the
    // driver merge. Row 160 has a null vector, and so has query 998.
    val rng = new scala.util.Random(17L)
    val base = Array.fill(40)(Array.fill(8)(rng.nextGaussian().toFloat))
    val tied = ((0L until 160L).map(i => (i, base((i % 40).toInt))) :+
      ((160L, null: Array[Float]))).toDF(id, vec)
    val cs = Similarity.seedCentroids(tied.filter(col(vec).isNotNull), id,
      vec, 4)
    val lists = tied.withColumn("l", Similarity.listAssignment(col(vec), cs))
    // no row of list 3 is stored, and the query at centroid 3 probes
    // only list 3: its answer is empty
    val kept = lists.filter(col("l").isNull || col("l") =!= 3).drop("l")
    val qs = kept.filter(col(id) < 5).union(
      Seq((999L, cs(3).map(_.toFloat)), (998L, null: Array[Float]))
        .toDF(id, vec))
    val nonNull = tied.filter(col(vec).isNotNull)
    val (sqMins, sqMaxs) = Similarity.trainSqParams(nonNull, vec, 8)
    val codecs = Seq("raw" -> Codec.Flat, "sq8" -> Codec.Sq8(sqMins, sqMaxs),
      "pq" -> Codec.Pq(Similarity.seedPqCodebooks(nonNull, id, vec, m = 2,
        k = 8, dsub = 4), 2, 8, 4),
      "pq-residual" -> Codec.Pq(Similarity.seedPqCodebooks(
        Similarity.residualFrame(nonNull, id, vec, cs), "id", "res", m = 2,
        k = 8, dsub = 4), 2, 8, 4, residual = true),
      "sign" -> Codec.Sign(8))
    // binary ids: the same vectors under their decimal strings' bytes,
    // so id order ("10" < "2") differs from the long order
    def binary(df: DataFrame) =
      df.withColumn(id, col(id).cast("string").cast("binary"))
    val conf = "spark.sql.files.openCostInBytes"
    val prevConf = spark.conf.getOption(conf)
    spark.conf.set(conf, 128L * 1024 * 1024)
    try for ((name, codec) <- codecs;
         coarse <- Seq[Coarse](Coarse.Scan, Coarse.Ivf(cs, 1),
           Coarse.Ivf(cs, 2), Coarse.Lsh(4, 8, 1), Coarse.Lsh(4, 8, 2))
         if !(codec.residual && !coarse.isInstanceOf[Coarse.Ivf]);
         ids <- Seq("long", "binary")
         if ids == "long" || (coarse == Coarse.Ivf(cs, 2) && !codec.residual)) {
      val (label, write) = coarse match {
        case Coarse.Ivf(c, p) => (s"ivf$p", Coarse.Ivf(c, 1))
        case Coarse.Lsh(pl, d, p) => (s"lsh$p", Coarse.Lsh(pl, d, 1))
        case other => ("flat", other)
      }
      val as = if (ids == "long") identity[DataFrame] _ else binary _
      val (corpus, queries) = (as(kept), as(qs))
      val store = tmp(s"gather-$name-$label-$ids")
      Similarity.writeStore(as(kept.filter(col(id) < 80 || col(id) === 160L)),
        id, vec, codec, write, store)
      Similarity.writeStore(as(kept.filter(col(id) >= 80 && col(id) =!= 160L)),
        id, vec, codec, write, store, append = true)
      for (kk <- Seq(1, 2, 3, 1000)) withClue(s"$name $coarse $ids k=$kk: ") {
        val window = Similarity.codecTopK(corpus, queries, id, vec, kk, codec,
          coarse)
        val got = threeWay(window) {
          Similarity.stageFromStore(spark, store, queries, id, vec, kk, codec,
            coarse)._1
        }
        answer(got) should not be empty
        if (ids == "long") {
          got.schema shouldBe StructType(Seq(
            StructField("query_id", LongType, nullable = false),
            StructField("neighbor_id", LongType, nullable = true),
            StructField("rank", LongType, nullable = false),
            StructField(codec.score, if (codec.score == "hamming") LongType
              else DoubleType, nullable = true)))
          val byQuery = rows(window).groupBy(_.head)
          // the query at the unstored list's centroid, and the null query
          if (label == "ivf1") byQuery.get(999L) shouldBe None
          byQuery.get(998L) shouldBe None
          // of the three tied copies, the two ranked are the lower ids
          if (kk == 2 && name == "raw")
            byQuery(0L).map(_(1)) shouldBe Seq(40L, 80L)
        }
      }
    } finally prevConf.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("(d) bm25 driver ≡ gather ≡ window, monolithic and segmented: summed terms, ties across rank k, k past the candidates, absent buckets, binary ids") {
    // every document is planted twice (ids i and i+30) so each query's
    // copies tie; queries share terms, so two queries meet the same
    // posting rows; a query of only unseen terms probes buckets with no
    // directory and answers nothing
    val rng = new scala.util.Random(29L)
    val vocab = Array.tabulate(40)(i => s"t$i")
    val texts = Array.fill(30)(Seq.fill(6)(vocab(rng.nextInt(vocab.length)))
      .mkString(" "))
    val docs = (0L until 60L).map(i => (i, texts((i % 30).toInt)))
      .toDF("doc_id", "text")
    val present = vocab.toSet
    val unseen = Iterator.from(0).map(i => s"zz$i").filterNot(present)
      .take(2).mkString(" ")
    val queries = docs.filter(col("doc_id") < 4).union(
      Seq((998L, unseen)).toDF("doc_id", "text"))
    def binary(df: DataFrame) =
      df.withColumn("doc_id", col("doc_id").cast("string").cast("binary"))
    for (ids <- Seq("long", "binary")) {
      val as = if (ids == "long") identity[DataFrame] _ else binary _
      val (d, q) = (as(docs), as(queries))
      val mono = tmp(s"bm25-mono-$ids")
      Search.writePostingsStore(d, "doc_id", "text", mono, buckets = 32)
      // two segments, each holding one copy of some documents
      val segs = tmp(s"bm25-segs-$ids")
      Search.writeIndexSegments(Seq(0, 1).map(r =>
        as(docs.filter(col("doc_id") % 2 === r))), "doc_id", "text", segs,
        buckets = 32)
      for (kk <- Seq(1, 2, 3, 1000)) withClue(s"$ids k=$kk: ") {
        val window = Search.bm25TopK(d, q, "doc_id", "text", kk)
        val got = threeWay(window) {
          Search.bm25TopKFromStore(spark, mono, q, "doc_id", "text", kk)
        }
        answer(threeWay(window) {
          Search.bm25TopKSegmented(spark, segs, q, "doc_id", "text", kk)
        }) shouldBe answer(got)
        answer(got) should not be empty
        if (ids == "long") rows(window).map(_.head).toSet should not contain 998L
      }
    }
    graft.core.CacheScope.releaseAll()
  }

  test("(d) the per-task heap keeps at most k rows per query, and merged task lists equal one sort") {
    // scores from a small range so ties are everywhere, ids shuffled,
    // rows dealt to tasks at random: the merge of every task's bounded
    // list is the global top-k under (score, id)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(23L)
    val all = rng.shuffle((0L until 600L).map(n =>
      Row(n % 3, n, if (n % 17 == 0) null else (rng.nextInt(7) - 3).toDouble)))
    for (ascending <- Seq(true, false); dropNull <- Seq(true, false);
         k <- Seq(1, 4, 250)) withClue(s"asc=$ascending drop=$dropNull k=$k: ") {
      val order = CandidateOrder(LongType, LongType, DoubleType, ascending)
      val tasks = all.groupBy(_ => rng.nextInt(5)).values.toSeq
      val perTask = tasks.map(t => order.taskTopK(t.iterator, k, dropNull).toSeq)
      perTask.zip(tasks).foreach { case (out, in) =>
        out.size should be <= in.map(_.get(0)).distinct.size * k }
      val merged = order.merge(perTask.flatten.toArray, k).toSeq
      // the reference: SQL order with nulls first ascending and last
      // descending, ties to the lower id
      val expected = all.filter(r => !(dropNull && r.get(2) == null))
        .groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
          val scored = rs.filter(_.get(2) != null)
            .sortBy(r => (if (ascending) r.getDouble(2) else -r.getDouble(2),
              r.getLong(1)))
          val nulls = rs.filter(_.get(2) == null).sortBy(_.getLong(1))
          (if (ascending) nulls ++ scored else scored ++ nulls).take(k)
            .zipWithIndex.map { case (r, i) =>
              Row(r.get(0), r.get(1), i + 1L, r.get(2)) }
        }
      merged shouldBe expected
    }
  }
}
