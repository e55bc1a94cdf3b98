package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Family-wide invariants of the near-dup core ([[Dedup.NearDup]]), one
  * row per family — MinHash, SimHash, embedding LSH buckets and SemDeDup
  * clusters — on seeded random batches and corpora with planted near
  * copies (in the batch and of corpus rows), under the default guards
  * and under forced-distributed ones:
  *  (i) `pairs(batch)` ⊆ brute-force all-pairs verification;
  *  (ii) with exhaustive keying (every row shares one key) `pairs`
  *       equals brute force exactly;
  *  (iii) `dropIncremental` with exhaustive keying equals a driver
  *       replay: min-id survivors of the brute-force in-batch clusters,
  *       minus every survivor within the threshold of a corpus row.
  * The brute force verifies on the driver, in Scala, over the family
  * table's collected rows (distinct-shingle Jaccard, popcount Hamming,
  * sequential-double cosine), not with the core's verify expressions.
  * Each threshold is the score of a planted pair, so a pair sits exactly
  * on it in every trial and a `>=` turned `>` shows.
  */
class NearDupInvariantSpec extends SparkSpec {
  import spark.implicits._
  import org.scalacheck.{Gen, Prop, Test => Check}

  private val forced: Dedup.Guards => Dedup.Guards = _.copy(
    broadcastMaxPairs = 0L, driverMaxPairs = 0L, nearDupDriverBytes = -1L)

  /** One family on one seeded data set: its core value, source column,
    * batch and corpus (`id` + source), whether a store row's id is its
    * own payload (stored simhashes), a planted exact copy, and the
    * driver-side verifier over collected table rows (the score when the
    * pair passes the family's threshold).
    */
  private case class Trial(name: String, nd: Dedup.NearDup, src: String,
      batch: DataFrame, corpus: DataFrame, hashIsStoreId: Boolean,
      exact: (Long, Long), verified: (Row, Row) => Option[Any])

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Fresh rows, near copies of some batch and corpus rows (one value
    * changed), one exact copy; batch ids from 0, corpus ids from 1000.
    */
  private def planted[T](rng: scala.util.Random, fresh: () => T,
      near: T => T): (Seq[(Long, T)], Seq[(Long, T)], (Long, Long)) = {
    val corpus = (1000L until 1008L).map(_ -> fresh())
    val base = (0L until 10L).map(_ -> fresh())
    val copies = (base.take(4) ++ corpus.take(4)).map(r => near(r._2))
    val batch = base ++ copies.zipWithIndex.map { case (v, i) => (20L + i) -> v } :+
      (40L -> base(5)._2)
    (batch, corpus, (5L, 40L))
  }

  private def jaccard(a: Row, b: Row): Double = {
    val (sa, sb) = (a.getSeq[String](1).toSet, b.getSeq[String](1).toSet)
    val inter = sa.count(sb.contains)
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  private def hamming(a: Row, b: Row): Int =
    java.lang.Long.bitCount(a.getLong(1) ^ b.getLong(1))

  private def dot(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    a.indices.foreach(i => acc += a(i).toDouble * b(i).toDouble)
    acc
  }

  private def cosine(a: Row, b: Row): Option[Double] = {
    val (va, vb) = (a.getSeq[Float](1), b.getSeq[Float](1))
    val (na, nb) = (math.sqrt(dot(va, va)), math.sqrt(dot(vb, vb)))
    if (na == 0.0 || nb == 0.0) None else Some(dot(va, vb) / (na * nb))
  }

  private def tableRows(nd: Dedup.NearDup, src: String,
      df: DataFrame): Seq[Row] =
    nd.table(df, "id", src).collect().toSeq

  /** Score of the first planted near-copy pair that has one. */
  private def tie[S](t: Seq[(Long, Long)], rows: Seq[Row],
      score: (Row, Row) => Option[S]): Option[S] = {
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    t.iterator.flatMap { case (a, b) =>
      for (ra <- byId.get(a); rb <- byId.get(b); s <- score(ra, rb)) yield s
    }.nextOption()
  }

  private val nearPairs = (0 until 4).map(i => (i.toLong, 20L + i)) ++
    (0 until 4).map(i => (1000L + i, 24L + i))

  private def textTrials(seed: Long): Seq[Trial] = {
    val rng = new scala.util.Random(seed)
    val (b, c, exact) = planted[Seq[String]](rng,
      () => Seq.fill(4 + rng.nextInt(5))(words(rng.nextInt(words.size))),
      d => d.updated(rng.nextInt(d.size), words(rng.nextInt(words.size))))
    def df(rows: Seq[(Long, Seq[String])]) =
      rows.map { case (i, d) => (i, d.mkString(" ")) }.toDF("id", "text")
    val (batch, corpus) = (df(b :+ (41L -> Seq("solo"))), df(c))
    val all = batch.union(corpus)
    val t = tie(nearPairs, tableRows(Dedup.minhash(2, 8, 2, 0.5, 0), "text",
      all), (x, y) => Some(jaccard(x, y))).getOrElse(0.5)
    val h = tie(nearPairs, tableRows(Dedup.simhash(3, 64,
      Dedup.SimhashHasher.Xx), "text", all),
      (x, y) => Some(hamming(x, y))).getOrElse(3)
    Seq(
      Trial("minhash", Dedup.minhash(2, 8, 2, t, 0), "text", batch, corpus,
        false, exact, (x, y) => Some(jaccard(x, y)).filter(_ >= t)),
      Trial("simhash", Dedup.simhash(h, 64, Dedup.SimhashHasher.Xx), "text",
        batch, corpus, true, exact,
        (x, y) => Some(hamming(x, y)).filter(_ <= h)))
  }

  private def vectorTrials(seed: Long): Seq[Trial] = {
    val rng = new scala.util.Random(seed)
    val dim = 4
    val (batch, corpus, exact) = planted[Array[Float]](rng,
      () => Array.fill(dim)((rng.nextInt(5) - 2).toFloat),
      v => v.updated(rng.nextInt(dim), v(rng.nextInt(dim)) + 1f))
    val (bdf, cdf) = (batch.toDF("id", "v"), corpus.toDF("id", "v"))
    val t = tie(nearPairs, tableRows(Similarity.embeddingNearDup(
      Similarity.lshKeys(2, 3, dim, 0), 0.9, dim), "v", bdf.union(cdf)),
      cosine).getOrElse(0.9)
    // nonzero centroids: a centroid's norm divides its cosine score
    val centroids = batch.map(_._2).filter(_.exists(_ != 0f)).take(3)
      .map(_.map(_.toDouble))
    def verified(x: Row, y: Row) = cosine(x, y).filter(_ >= t)
    Seq(
      Trial("embedding lsh", Similarity.embeddingNearDup(
        Similarity.lshKeys(2, 3, dim, 0), t, dim), "v", bdf, cdf, false,
        exact, verified),
      Trial("semdedup", Similarity.embeddingNearDup(Dedup.Keys(
        _.select(col("id"), Similarity.listAssignment(col("v"), centroids)
          .as("bk")), 1), t, dim), "v", bdf, cdf, false, exact, verified))
  }

  private def trials(seed: Long): Seq[Trial] =
    textTrials(seed) ++ vectorTrials(seed)

  /** Every key is 0: each pair of rows is a candidate. */
  private def exhaustive(nd: Dedup.NearDup): Dedup.NearDup =
    nd.copy(keys = Dedup.Keys(_.select(col("id"), lit(0L).as("bk")), 1),
      driver = _ => None)

  private def brute(t: Trial, rows: Seq[Row]): Set[(Long, Long, Any)] =
    (for {
      a <- rows; b <- rows if a.getLong(0) < b.getLong(0)
      s <- t.verified(a, b)
    } yield (a.getLong(0), b.getLong(0), s)).toSet

  private def pairsOf(nd: Dedup.NearDup, t: Trial): Set[(Long, Long, Any)] =
    nd.pairsOf(t.batch, "id", t.src).pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet

  /** Min-id survivors of the brute-force clusters, minus every survivor
    * within the threshold of a corpus row.
    */
  private def replay(t: Trial): Set[Long] = {
    val (bt, ct) = (tableRows(t.nd, t.src, t.batch), tableRows(t.nd, t.src, t.corpus))
    val root = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = root.get(x) match {
      case Some(p) if p != x => find(p)
      case _ => x
    }
    brute(t, bt).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      root(ra) = ra; root(rb) = rb
      if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = t.batch.select("id").as[Long].collect().toSet
    val survivors = ids.filter(i => find(i) == i)
    survivors.filterNot(i => bt.exists(r => r.getLong(0) == i &&
      ct.exists(c => t.verified(r, c).nonEmpty)))
  }

  private def dropIncremental(t: Trial): Set[Long] = {
    val keyed = tableRows(t.nd, t.src, t.corpus).map(r => r.getLong(if (t.hashIsStoreId) 1 else 0))
    exhaustive(t.nd).dropIncremental(t.batch, "id", t.src,
      keyed.map(_ -> 0L).toDF("cid", "cbk"),
      if (t.hashIsStoreId) None else Some(t.corpus))
      .select("id").as[Long].collect().toSet
  }

  /** `check` holds on every family for 3 seeded trials. */
  private def property(guards: Dedup.Guards => Dedup.Guards)(
      check: Trial => Prop): Unit = {
    val prop = Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { seed =>
      Dedup.withGuards(guards) {
        Prop.all(trials(seed).map(t => check(t) :| s"seed $seed ${t.name}"): _*)
      }
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(3).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261021L)), prop)
    graft.core.CacheScope.releaseAll()
    withClue(result.status.toString) { result.passed shouldBe true }
  }

  for ((regime, guards) <- Seq[(String, Dedup.Guards => Dedup.Guards)](
      "default guards" -> identity, "forced-distributed guards" -> forced)) {
    test(s"(i) pairs ⊆ brute-force verification, exact copies found ($regime)") {
      property(guards) { t =>
        val got = pairsOf(t.nd, t)
        val all = brute(t, tableRows(t.nd, t.src, t.batch))
        val copy = all.find(p => (p._1, p._2) == t.exact)
        Prop(got.subsetOf(all) && copy.forall(got.contains)) :|
          s"extra ${got -- all}, exact copy $copy"
      }
    }

    test(s"(ii) exhaustive keying = brute-force verification ($regime)") {
      property(guards) { t =>
        val got = pairsOf(exhaustive(t.nd), t)
        val all = brute(t, tableRows(t.nd, t.src, t.batch))
        Prop(got == all && all.nonEmpty) :| s"missing ${all -- got}, extra ${got -- all}"
      }
    }

    test(s"(iii) exhaustive dropIncremental = driver replay ($regime)") {
      property(guards) { t =>
        val (got, want) = (dropIncremental(t), replay(t))
        Prop(got == want) :| s"kept ${got -- want}, dropped ${want -- got}"
      }
    }
  }
}
