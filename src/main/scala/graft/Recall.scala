package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall regression harness — the artifact that catches a silent
  * recall cliff. Every ANN oracle pins BIT-EXACT replay of its own
  * configuration, so an innocent default change (nprobe, planes,
  * codebook size) could halve real recall-vs-brute-force while every
  * correctness row stays green. This main measures recall against the
  * exact brute-force ground truth at the bench scale factor and emits
  * one JSON file (`RECALL_r{N}.json` via GRAFT_RECALL_OUT, default
  * RECALL.json) recorded per round:
  *
  *  - top-k recall (k=50, 50 queries): |approx ∩ exact| / |exact|,
  *    pooled over queries — for LSH (several plane counts), IVF and
  *    IVFPQ (several nprobe), so the file shows the recall/cost CURVE,
  *    not one point: the right operating point at 100 TB is a
  *    deployment choice, and the curve is what makes a regression vs
  *    last round's file visible at every point.
  *  - pair recall for SemDeDup: fraction of exact cosine-≥τ pairs the
  *    cluster-blocked pass finds (its blocking misses cross-cluster
  *    pairs by design — the measured number is the price of that
  *    design, tracked so it never silently degrades).
  */
object Recall {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("GRAFT_RECALL_OUT", "RECALL.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, out)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, sfDir: String, out: String): Unit = {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 50)
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", numLists = 16)
    val cb = Similarity.seedPqCodebooks(emb, "vec_id", "embedding",
      m = 4, k = 8, dsub = 16)
    val (sqMins, sqMaxs) = Similarity.trainSqParams(emb, "embedding", 64)
    // k-independent fits hoisted out of curves(k) — re-running the
    // full-corpus distributed Lloyd (the harness's most expensive
    // stage) once per k would produce bit-identical codebooks twice
    val cbTrained = Similarity.refinePqCodebooks(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", cb,
      m = 4, numCodes = 8, dsub = 16, iterations = 2)
    val resFrame = Similarity.residualFrame(emb, "vec_id", "embedding", cents)
    val cbRes = Similarity.seedPqCodebooks(resFrame, "id", "res",
      m = 4, k = 8, dsub = 16)
    val cb64 = Similarity.seedPqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 64, dsub = 8)
    val cb64T = Similarity.refinePqCodebooksDistributed(emb, "vec_id",
      "embedding", cb64, m = 8, numCodes = 64, dsub = 8, iterations = 2)

    // the prefix-SQ grids are fits: train ONCE per prefix dim, reuse
    // across every (factor, k) combination in the sweep
    val prefixGrids = Seq(16, 32).map { d =>
      d -> Similarity.trainSqParams(
        emb.select(col("vec_id"), slice(col("embedding"), 1, d)
          .as("embedding")), "embedding", d)
    }.toMap
    // k=5 is the oracle queries' operating point; k=50 stresses the
    // candidate budget (a single LSH bucket at 8 planes holds fewer
    // than 50 vectors at this sf, so its recall@50 is structurally
    // capped — the curve shows it instead of hiding it)
    def curves(k: Int): Map[String, Double] = {
      val truth = graft.core.CacheScope.persist(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
          .select("query_id", "neighbor_id"))
      val nTruth = truth.count().toDouble
      def topkRecall(approx: DataFrame): Double =
        approx.select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .count() / nTruth
      val lsh = (for (planes <- Seq(2, 4, 8)) yield {
        s"lsh_planes$planes" -> topkRecall(Similarity.lshTopK(
          emb, queries, "vec_id", "embedding", k, planes = planes, dim = 64))
      }).toMap
      // multi-probe: the fix for the single-table cliff at 8 planes —
      // probes=1 is the single-bucket probe (spec-pinned), and recall
      // should climb with the probe budget at fixed index cost
      val lshMp = (for {
        planes <- Seq(4, 8)
        probes <- Seq(1, 2, 4, 8) if probes <= planes
      } yield {
        s"lsh_multiprobe_planes${planes}_probes$probes" -> topkRecall(
          Similarity.lshTopK(emb, queries, "vec_id", "embedding",
            k, planes = planes, dim = 64, probes = probes))
      }).toMap
      val ivf = (for (nprobe <- Seq(2, 4, 8, 16)) yield {
        s"ivf_nprobe$nprobe" -> topkRecall(Similarity.ivfTopK(
          emb, queries, "vec_id", "embedding", k, cents, nprobe = nprobe))
      }).toMap
      val ivfpq = (for (nprobe <- Seq(4, 8, 16)) yield {
        s"ivfpq_nprobe$nprobe" -> topkRecall(Similarity.ivfPqTopK(
          emb, queries, "vec_id", "embedding", k, cents, nprobe,
          cb, m = 4, numCodes = 8, dsub = 16))
      }).toMap
      // trained codebook (2-iteration per-subspace Lloyd on the
      // vec_id < 256 sample, the ann_ivfpq_refined_topk configuration)
      // vs the seed rows above: the r14 file measured 0.05–0.16 —
      // this row is the proof the training half actually buys recall
      val ivfpqRef = (for (nprobe <- Seq(4, 8, 16)) yield {
        s"ivfpq_refined_nprobe$nprobe" -> topkRecall(Similarity.ivfPqTopK(
          emb, queries, "vec_id", "embedding", k, cents, nprobe,
          cbTrained, m = 4, numCodes = 8, dsub = 16))
      }).toMap
      // IVFADC residual encoding (r16, Jégou 2011) at the oracle config —
      // measured HONESTLY: on this unclustered unit-norm synthetic table
      // residuals against seed centroids are no smaller than raw vectors,
      // so residual encoding does NOT beat raw here (it pays on clustered
      // real data); recorded so the claim stays empirical.
      val ivfadc = (for (nprobe <- Seq(4, 8, 16)) yield {
        s"ivfadc_nprobe$nprobe" -> topkRecall(
          Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding",
            k, cents, nprobe, cbRes, m = 4, numCodes = 8, dsub = 16))
      }).toMap
      // The ACTUAL recall lever (r16 finding): a FAISS-realistic code
      // budget (m=8, 64 codes, dsub=8 — 64⁸ cells vs the oracle config's
      // 8⁴) plus FULL-CORPUS distributed Lloyd training. Training on the
      // 256-row sample with 64 codes (4 samples/code) OVERFITS and loses
      // recall — the distributed trainer over the whole corpus is the
      // right tool at this code count.
      val rich = (for {
        (cbr, tag) <- Seq(cb64 -> "", cb64T -> "_trained")
        nprobe <- Seq(4, 16)
      } yield {
        s"ivfpq_m8k64$tag${"_nprobe"}$nprobe" -> topkRecall(
          Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
            k, cents, nprobe, cbr, m = 8, numCodes = 64, dsub = 8))
      }).toMap
      // END-TO-END two-stage retrieval over the trained m8k64 first
      // stage (r16 verdict): the exact refine can only reorder what the
      // ADC shortlist surfaced, so recall@k of the two-stage equals the
      // first stage's recall@(k·factor) — these rows measure whether a
      // production (factor, nprobe) choice RESCUES the PQ stage or
      // whether its shortlist recall is below rescue at any sane factor.
      val richRerank = (for {
        factor <- Seq(2, 4, 8)
        nprobe <- Seq(4, 16)
      } yield {
        s"ivfpq_m8k64_trained_rerank_f${factor}_nprobe$nprobe" -> topkRecall(
          Similarity.ivfPqRerankTopK(emb, queries, "vec_id", "embedding",
            k, cents, nprobe, cb64T, m = 8, numCodes = 64, dsub = 8,
            factor = factor))
      }).toMap
      // IVF-SQ + exact refine — the sublinear two-stage candidate: the
      // SQ stage's shortlist recall is ~the IVF probe ceiling, so refine
      // at a small factor should sit within noise of exact inside the
      // probed lists. The deployable configuration at 100 TB if any is.
      val ivfsqRerank = (for {
        factor <- Seq(2, 4)
        nprobe <- Seq(4, 16)
      } yield {
        s"ivfsq_rerank_f${factor}_nprobe$nprobe" -> topkRecall(
          Similarity.ivfSqRerankTopK(emb, queries, "vec_id", "embedding",
            k, cents, nprobe, sqMins, sqMaxs, factor = factor))
      }).toMap
      // SQ8 compressed-flat (r16): dim bytes per vector, decode-on-the-fly
      // asymmetric L2². The table's vectors are unit-norm, so L2 order
      // coincides with cosine order and the cosine ground truth applies;
      // the row measures how much the 8-bit grid perturbs exact ranking.
      val sq = Map("sq8_flat" -> topkRecall(Similarity.sqTopK(
        emb, queries, "vec_id", "embedding", k, sqMins, sqMaxs))) ++
        // IVF-SQ: recall ≈ the IVF probe ceiling × the tiny SQ loss —
        // the sublinear operating points of the compressed index
        (for (nprobe <- Seq(4, 16)) yield {
          s"ivfsq_nprobe$nprobe" -> topkRecall(Similarity.ivfSqTopK(
            emb, queries, "vec_id", "embedding", k, cents, nprobe,
            sqMins, sqMaxs))
        }).toMap ++
        // exact refine over the SQ shortlist: the misses left are ONLY
        // true neighbors outside the ADC top-(k·4) — the production
        // two-stage shape's residual error
        Map("sq8_rerank_f4" -> topkRecall(Similarity.sqRerankTopK(
          emb, queries, "vec_id", "embedding", k, sqMins, sqMaxs,
          factor = 4)))
      // 1-bit sign quantization (r17): the 32× compression point —
      // Hamming rank alone, then the production rescore shape. For sign
      // bits E[hamming] = dim·θ/π, so on unit-norm data the Hamming
      // order is a full-rank angle proxy (unlike bucket-equality LSH,
      // whose recall is capped by bucket population).
      val binary = Map(
        "binary_hamming" -> topkRecall(Similarity.binaryTopK(
          emb, queries, "vec_id", "embedding", k, dim = 64))) ++
        (for (factor <- Seq(4, 8)) yield {
          s"binary_rerank_f$factor" -> topkRecall(
            Similarity.binaryRerankTopK(emb, queries, "vec_id",
              "embedding", k, dim = 64, factor = factor))
        }).toMap ++
        // IVF × binary: sublinear probe over the Hamming rank, and the
        // full two-stage (probe ceiling × Hamming proxy × exact refine)
        (for (nprobe <- Seq(4, 16)) yield {
          s"ivfbinary_nprobe$nprobe" -> topkRecall(
            Similarity.ivfBinaryTopK(emb, queries, "vec_id", "embedding",
              k, cents, nprobe, dim = 64))
        }).toMap ++
        Map("ivfbinary_rerank_f8_nprobe16" -> topkRecall(
          Similarity.rerankExact(
            Similarity.ivfBinaryTopK(emb, queries, "vec_id", "embedding",
              k * 8, cents, nprobe = 16, dim = 64),
            emb, queries, "vec_id", "embedding", k)))
      // Matryoshka prefix-dim two-stage (r17): stage one reads d'/64 of
      // the bytes with ZERO index infrastructure. On this synthetic
      // table the leading dims are NOT informative by construction
      // (every dim is iid — the anti-MRL case), so these rows measure
      // the floor: real MRL-trained embeddings concentrate signal in
      // the prefix and sit far above it.
      val matry = (for {
        d <- Seq(16, 32)
        factor <- Seq(4, 8)
      } yield {
        s"matryoshka_d${d}_rerank_f$factor" -> topkRecall(
          Similarity.prefixRerankTopK(emb, queries, "vec_id",
            "embedding", k, prefixDim = d, factor = factor))
      }).toMap
      // the COMPOSED truncate×quantize stage (r18): prefix slice feeds
      // an SQ8 first stage — d'/64 of the bytes, then 4× again from the
      // codes. Compare against the raw-prefix rows above: the delta IS
      // the quantization cost on top of the truncation floor.
      val matrySq = (for {
        d <- Seq(16, 32)
        factor <- Seq(4, 8)
      } yield {
        val (pm, px) = prefixGrids(d)
        s"matryoshka_sq_d${d}_rerank_f$factor" -> topkRecall(
          Similarity.prefixSqRerankTopK(emb, queries, "vec_id",
            "embedding", k, prefixDim = d, factor = factor,
            mins = pm, maxs = px))
      }).toMap
      lsh ++ lshMp ++ ivf ++ ivfpq ++ ivfpqRef ++ ivfadc ++ rich ++
        richRerank ++ ivfsqRerank ++ sq ++ binary ++ matry ++ matrySq
    }
    val byK = Seq(5, 50).map(k => k -> curves(k)).toMap

    // Pair recall vs the exact cosine-pair ground truth, at two
    // thresholds: τ=0.4 (the oracle queries' setting — deep into the
    // random-angle regime, where single-bucket blocking is theoretically
    // weak) and τ=0.8 (the near-dup regime dedup actually runs at, where
    // recall is a design guarantee). The exact set is an all-pairs pass
    // — fine at bench scale, the whole reason the blocked variants
    // exist at 100 TB.
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      Similarity.norm(col("embedding")).as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      Similarity.norm(col("embedding")).as("nb"))
    val seeds = Similarity.seedCentroids(emb, "vec_id", "embedding", numLists = 16)
    val refined = Similarity.refineCentroids(
      emb.filter(col("vec_id") < 256), "vec_id", "embedding", seeds,
      iterations = 2)
    def pairRecalls(tau: Double): (Long, Map[String, Double]) = {
      val exactPairs = graft.core.CacheScope.persist(
        a.join(b, col("id_a") < col("id_b"))
          .filter(Similarity.dotDouble(col("va"), col("vb")) /
            (col("na") * col("nb")) >= tau)
          .select("id_a", "id_b"))
      val nPairs = exactPairs.count().toDouble
      def recallOf(pairs: DataFrame): Double =
        if (nPairs == 0) 1.0
        else pairs
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .join(exactPairs, Seq("id_a", "id_b"), "left_semi")
          .count() / nPairs
      val sem = recallOf(Similarity.semDedupPairs(
        emb, "vec_id", "embedding", refined, threshold = tau))
      val lshMt = recallOf(Similarity.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold = tau,
        planes = 4, tables = 8, dim = 64))
      (nPairs.toLong,
        Map("semdedup" -> sem, "lsh_multitable" -> lshMt))
    }
    val (nPairs04, rec04) = pairRecalls(0.4)
    // τ=0.8 has NO natural pairs in the synthetic table (vacuous 1.0),
    // so the near-dup regime is measured against PLANTED dups: a
    // deterministic jittered copy of 200 vectors (cos ≈ 0.999). This is
    // the regime the dedup operators are designed for, where recall is
    // a guarantee, not a curve point.
    val planted = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(1.05f) + lit(0.01f)).as("embedding"))
    val planted2 = emb.unionByName(planted)
    val pa = planted2.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      Similarity.norm(col("embedding")).as("na"))
    val pb = planted2.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      Similarity.norm(col("embedding")).as("nb"))
    val exact08 = graft.core.CacheScope.persist(
      pa.join(pb, col("id_a") < col("id_b"))
        .filter(Similarity.dotDouble(col("va"), col("vb")) /
          (col("na") * col("nb")) >= 0.8)
        .select("id_a", "id_b"))
    val nPairs08 = exact08.count()
    def recall08(pairs: DataFrame): Double =
      if (nPairs08 == 0) 1.0
      else pairs
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .join(exact08, Seq("id_a", "id_b"), "left_semi")
        .count().toDouble / nPairs08
    val seeds08 = Similarity.seedCentroids(planted2, "vec_id", "embedding",
      numLists = 16)
    val refined08 = Similarity.refineCentroids(
      planted2.filter(col("vec_id") < 256), "vec_id", "embedding", seeds08,
      iterations = 2)
    val rec08 = Map(
      "semdedup" -> recall08(Similarity.semDedupPairs(
        planted2, "vec_id", "embedding", refined08, threshold = 0.8)),
      "lsh_multitable" -> recall08(Similarity.cosineNearDupPairs(
        planted2, "vec_id", "embedding", threshold = 0.8,
        planes = 4, tables = 8, dim = 64)))

    // Decontamination recall: fraction of corpus rows TRULY within τ of
    // any benchmark vector that each LSH configuration actually drops.
    // The row the multi-probe operator exists for: 4 tables + 2 probes
    // should sit near 8 tables single-probe (same candidate-bucket
    // budget, HALF the corpus-side keys) and above 4 tables alone.
    val dBench = emb.filter(col("vec_id") < 50)
    val dCorpus = emb.filter(col("vec_id") >= 50)
    val trueHits = graft.core.CacheScope.persist(
      dCorpus.select(col("vec_id"), col("embedding").as("cv"),
          Similarity.norm(col("embedding")).as("cn"))
        .join(broadcast(dBench.select(col("embedding").as("bv"),
          Similarity.norm(col("embedding")).as("bn"))))
        .filter(Similarity.dotDouble(col("cv"), col("bv")) /
          (col("cn") * col("bn")) >= 0.4)
        .select("vec_id").distinct())
    val nTrueHits = trueHits.count()
    def deconRecall(tables: Int, probes: Int): Double = {
      if (nTrueHits == 0) return 1.0
      val kept = graft.operators.Decontaminate
        .dropNearBenchmarkEmbeddings(dCorpus, dBench,
          "vec_id", "embedding", threshold = 0.4,
          planes = 4, tables = tables, dim = 64, probes = probes)
      val dropped = dCorpus.select("vec_id")
        .join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
      dropped.join(trueHits, Seq("vec_id"), "left_semi").count()
        .toDouble / nTrueHits
    }
    val decon = Map(
      "t8_p1" -> deconRecall(8, 1),
      "t4_p1" -> deconRecall(4, 1),
      "t4_p2" -> deconRecall(4, 2))

    def fmt(d: Double) = Bench.fmt(d, 4)
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (kk, v) => "\"" + kk + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val topk = byK.toSeq.sortBy(_._1)
      .map { case (kk, m) => "\"k" + kk + "\":" + obj(m) }
      .mkString("{", ",", "}")
    val json =
      s"""{"n_queries":50,"sf":"$sfDir",""" +
        s""""topk_recall":$topk,""" +
        s""""pair_recall":{""" +
        s""""tau0.4":{"n_exact_pairs":$nPairs04,${obj(rec04).drop(1)},""" +
        s""""tau0.8_planted":{"n_exact_pairs":$nPairs08,${obj(rec08).drop(1)}},""" +
        s""""decon_recall":{""" +
        s""""tau0.4":{"n_true_hits":$nTrueHits,${obj(decon).drop(1)}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }
}
