package graft.operators

import graft.SparkSpec

/** Decontamination: hand-checked hit counts, short-doc handling, the
  * drop variant, and the broadcast plan shape (the corpus must never be
  * the shuffled side of the shingle join).
  */
class DecontaminateSpec extends SparkSpec {

  import spark.implicits._

  // bench doc 100 has shingles {"a b c", "b c d"}; bench doc 101 is too
  // short to shingle at n=3.
  private def bench = Seq(
    (100L, "a b c d"),
    (101L, "x y")
  ).toDF("doc_id", "text")

  private def corpus = Seq(
    (1L, "a b c q r s"),     // shares "a b c" -> 1 hit
    (2L, "z a b c d w"),     // shares "a b c" and "b c d" -> 2 hits
    (3L, "p q r s t"),       // no overlap
    (4L, "x y")              // too short to shingle -> 0 hits, still reported
  ).toDF("doc_id", "text")

  test("contaminationReport: distinct shared-shingle counts, all rows kept") {
    val out = Decontaminate.contaminationReport(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    out shouldBe Map(
      1L -> ((1L, true)),
      2L -> ((2L, true)),
      3L -> ((0L, false)),
      4L -> ((0L, false)))
  }

  test("benchmarkLeakageReport: per-example corpus-doc and shingle counts") {
    val out = Decontaminate.benchmarkLeakageReport(corpus, bench, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // bench 100: corpus docs 1 and 2 share with it (2 docs); its leaked
    // shingles are {"a b c", "b c d"} (2). bench 101: too short → clean.
    out shouldBe Map(
      100L -> ((2L, 2L, true)),
      101L -> ((0L, 0L, false)))
    // plan: benchmark side broadcast, corpus never shuffled pre-join
    val p = Decontaminate.benchmarkLeakageReport(corpus, bench, "doc_id", "text")
      .queryExecution.sparkPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("dropContaminated keeps only clean docs; maxHits loosens the cut") {
    Decontaminate.dropContaminated(corpus, bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(3L, 4L)
    Decontaminate.dropContaminated(corpus, bench, "doc_id", "text", maxHits = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L, 4L)
  }

  test("plan: benchmark shingles are the broadcast build side") {
    val p = Decontaminate.contaminationReport(corpus, bench, "doc_id", "text")
      .queryExecution.sparkPlan.toString // initial plan: the hint itself, pre-AQE
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("embedding decontamination drops benchmark-similar vectors only") {
    import spark.implicits._
    val bmk = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val corp = Seq(
      (1L, Array(0.99f, 0.05f, 0.0f, 0.0f)),  // ≈ benchmark → dropped
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),    // orthogonal → kept
      (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)),    // identical → dropped
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))    // opposite → kept
    ).toDF("id", "v")
    val out = Decontaminate.dropNearBenchmarkEmbeddings(
      corp, bmk, "id", "v", threshold = 0.9, planes = 2, tables = 4, dim = 4)
    out.select("id").as[Long].collect().sorted shouldBe Array(2L, 4L)
    // plan: benchmark side broadcast, no cartesian
    val p = out.queryExecution.sparkPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("multi-probe embedding decontamination: probes=1 ≡ single-probe; flip recovers a cross-plane leak") {
    import spark.implicits._
    import graft.operators.Similarity
    // probes=1 is the single-probe path: a corpus row drops iff it
    // shares its kernel bucket with a benchmark row in SOME table and
    // verifies — replayed on the driver with the kernel's sequential
    // double folds, so any extra probe bucket shows as an extra drop
    // seeded random directions: the sin-family vectors used elsewhere
    // span a 2-D plane, which leaves most buckets empty
    val n = 80
    val rng = new scala.util.Random(7)
    val vecs = (0L until n.toLong).map { i =>
      (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat))
    }
    val corp = vecs.toDF("id", "v")
    val bmk = corp.filter($"id" < 5)
      .select(($"id" + 500).as("id"), $"v")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted
    val (p1, d1) = (4, 8)
    val allSigns = (0 until 3 * p1).map(Similarity.planeSigns(_, d1))
    def fold(a: Array[Float], b: Int => Double): Double = {
      var s = 0.0
      var i = 0
      while (i < d1) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    def buckets(v: Array[Float], tables: Int) = (0 until tables).map(t =>
      (0 until p1).map(p =>
        if (fold(v, allSigns(t * p1 + p)(_)) > 0) 1L << p else 0L).sum)
    def cos(a: Array[Float], b: Array[Float]) =
      fold(a, b(_).toDouble) / (math.sqrt(fold(a, a(_).toDouble)) *
        math.sqrt(fold(b, b(_).toDouble)))
    val bench = vecs.take(5).map(_._2)
    // threshold -1 keeps every candidate pair, so on one table the drop
    // set IS the shared-bucket set and any extra key shows; 3 tables at
    // 0.4 check the verify too
    for ((threshold, tables) <- Seq((0.4, 3), (-1.0, 1)))
        withClue(s"threshold $threshold, tables $tables: ") {
      val replayKept = vecs.filterNot { case (_, c) =>
        bench.exists(b => buckets(c, tables).zip(buckets(b, tables))
          .exists(x => x._1 == x._2) && cos(c, b) >= threshold)
      }.map(_._1).sorted.toArray
      ids(Decontaminate.dropNearBenchmarkEmbeddings(
        corp, bmk, "id", "v", threshold = threshold,
        planes = p1, tables = tables, dim = d1)) shouldBe replayKept
      // the replay both keeps and drops rows, so the comparison has teeth
      replayKept.length should (be > 0 and be < n)
    }
    // single-table plant: corpus vector = benchmark vector shifted
    // across ONLY its smallest-margin plane (shift orthogonal to the
    // other three sign vectors) — invisible at probes=1 (different
    // bucket, cosine ≈ 1 never verified), caught at probes=2
    val planes = 4
    val dim = 8
    val signs = (0 until planes).map(Similarity.planeSigns(_, dim))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def orthoDir(jmin: Int): Array[Double] = {
      val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      for (j <- 0 until planes if j != jmin) {
        var b = signs(j).clone()
        basis.foreach { e =>
          val c = dot(b, e) / dot(e, e)
          b = b.zip(e).map { case (x, y) => x - c * y }
        }
        if (dot(b, b) > 1e-9) basis += b
      }
      var u = signs(jmin).map(identity)
      basis.foreach { e =>
        val c = dot(u, e) / dot(e, e)
        u = u.zip(e).map { case (x, y) => x - c * y }
      }
      u
    }
    val bv = Array.tabulate(dim)(j => math.sin(7 * 0.37 + j * 1.13))
    val margins = signs.map(s => math.abs(dot(bv, s)))
    val jmin = margins.indexOf(margins.min)
    val d0 = dot(bv, signs(jmin))
    val u = orthoDir(jmin)
    val t = -(2.0 * d0 + math.signum(d0) * 1e-3) / dot(u, u)
    val leaked = bv.zip(u).map { case (a, ui) => (a + t * ui).toFloat }
    val corp2 = Seq((1L, leaked),
      (2L, Array.tabulate(dim)(j => math.cos(j * 2.3).toFloat))).toDF("id", "v")
    val bmk2 = Seq((900L, bv.map(_.toFloat))).toDF("id", "v")
    def kept(probes: Int) = ids(
      Decontaminate.dropNearBenchmarkEmbeddings(
        corp2, bmk2, "id", "v", threshold = 0.9,
        planes = planes, tables = 1, dim = dim, probes = probes))
    kept(1) should contain(1L) // leak survives single-probe
    kept(2) should not contain 1L // the flip probe catches it
    kept(2) should contain(2L) // unrelated vector still kept
  }
}
