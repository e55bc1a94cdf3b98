package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Randomized parity: the map-side signature kernels must be
  * bit-identical to the explode+aggregate Column formulations they
  * replaced, across random texts including unicode, odd whitespace,
  * empty and single-token documents — the kernels' correctness story is
  * exact replay, so fuzz the replay.
  */
class SignatureKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(1234)
  private val vocab = Seq("alpha", "Beta", "GAMMA", "ärger", "été", "ß",
    "word", "的话", "x1", "2x", "a", "", "  ", "\ttabbed")

  private def randomText(): String = {
    val n = rng.nextInt(30)
    (0 until n).map(_ => vocab(rng.nextInt(vocab.length)))
      .mkString(if (rng.nextBoolean()) " " else "  ")
  }

  private val docs =
    (1L to 60L).map(i => (i, randomText())).toDF("id", "text")

  test("SimhashBits matches the Custom explode+agg path on random text") {
    def table(h: Dedup.SimhashHasher, bits: Int) =
      Dedup.simhashTable(docs, "id", "text", bits, h)
        .as[(Long, Long)].collect().toMap
    table(Dedup.SimhashHasher.Xx, 64) shouldBe
      table(Dedup.SimhashHasher.Custom(xxhash64(_)), 64)
    table(Dedup.SimhashHasher.Md5_60, 60) shouldBe
      table(Dedup.SimhashHasher.Custom(Dedup.md5Hash60), 60)
  }

  test("MinhashBands matches the legacy aggregate formulation on random text") {
    val (bands, rpb) = (8, 4)
    val k = bands * rpb
    val sh = docs.select($"id", Dedup.wordShingles($"text", 3).as("sh"))
      .filter(org.apache.spark.sql.functions.size($"sh") > 0)
    val kernel = sh.select($"id",
      explode(MinhashBands($"sh", bands, rpb)).as("bk"))
      .as[(Long, Long)].collect().sorted
    val exploded = sh.select($"id", explode($"sh").as("s"))
      .select($"id", xxhash64($"s").as("h"))
    val minAggs = (0 until k).map(i => min(xxhash64($"h", lit(i))).as(s"m$i"))
    val sig = exploded.groupBy("id").agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      val slice = (b * rpb until (b + 1) * rpb).map(i => col(s"m$i"))
      xxhash64(array(slice: _*), lit(b))
    }
    val legacy = sig.select($"id", explode(array(bandCols: _*)).as("bk"))
      .as[(Long, Long)].collect().sorted
    kernel shouldBe legacy
  }

  test("bucketKeys matches a driver-side margin/flip replay on random vectors") {
    import graft.operators.Similarity
    val (planes, tables, dim) = (4, 3, 8)
    val signs = (0 until tables * planes).map(Similarity.planeSigns(_, dim))
    val vecs = (1L to 60L).map { i =>
      (i, Array.tabulate(dim)(j =>
        (rng.nextDouble() * 2 - 1).toFloat))
    }
    def refKeys(v: Array[Float], probes: Int): Set[String] =
      (0 until tables).flatMap { t =>
        // same sequential double folds as VecDot / HyperplaneBits
        def dot(g: Int): Double = {
          var s = 0.0
          var i = 0
          while (i < dim) { s += v(i).toDouble * signs(g)(i); i += 1 }
          s
        }
        val bucket = (0 until planes)
          .map(p => if (dot(t * planes + p) > 0) 1L << p else 0L).sum
        val flips = (0 until planes)
          .map(p => (math.abs(dot(t * planes + p)), p))
          .sorted.take(probes - 1).map(_._2)
        (bucket +: flips.map(p => bucket ^ (1L << p)))
          .map(b => s"$t:$b")
      }.toSet
    for (probes <- Seq(1, 2, 3)) {
      val got = Similarity.bucketKeys(
        vecs.toDF("id", "v"), "v", Seq("id"), planes, tables, dim, probes)
        .as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      vecs.foreach { case (id, v) =>
        withClue(s"probes=$probes id=$id: ") {
          got(id) shouldBe refKeys(v, probes)
          got(id).size shouldBe tables * probes // pairwise distinct
        }
      }
    }
  }

  test("TextShinglesHashed matches per-size TextShinglesAll + xxhash64/length on random text") {
    val ns = Seq(2, 3, 5, 9)
    val fused = docs.select($"id",
        explode(TextShinglesHashed($"text", ns)).as("s"))
      .select($"id", $"s.n", $"s.h", $"s.len")
      .as[(Long, Int, Long, Long)].collect().sorted
    val unfused = ns.map { n =>
      docs.select($"id", explode(TextShinglesAll($"text", n)).as("g"))
        .select($"id", lit(n).as("n"), xxhash64($"g").as("h"),
          org.apache.spark.sql.functions.length($"g").cast("long").as("len"))
        .as[(Long, Int, Long, Long)].collect()
    }.reduce(_ ++ _).sorted
    fused shouldBe unfused
  }
}
