package graft

/** Plan audits: the plans we ship must be the plans we'd want at 100 TB —
  * pushdown reaching the scan, broadcast where a side is small, codegen
  * spans wide, and never a cartesian product.
  */
class PlanAuditSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.executedPlan.toString

  test("q3 join broadcasts the dimension side") {
    val p = plan("q3_join_agg")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("q1 agg has partial aggregation (map-side combine)") {
    val p = plan("q1_agg")
    p should include("HashAggregate")
    "Exchange".r.findAllIn(p).length shouldBe 1 // one shuffle, after partial agg
  }

  test("no cartesian products anywhere in registered queries") {
    for ((name, fn) <- Queries.all ++ Queries.benchOnly) {
      withClue(s"$name: ") {
        fn(spark, dir).queryExecution.executedPlan.toString should
          not include "CartesianProduct"
      }
    }
  }

  test("maxDf store probe pushes the df ceiling into the parquet scan") {
    // the df-ceiling's store-side claim: df is denormalized per row,
    // so the ceiling must reach the SCAN as a data filter (row groups
    // dominated by a stopword's postings then skip on parquet
    // statistics) — not evaluate post-scan. Inspect the scan node
    // directly: the rendered PushedFilters string truncates mid-list
    // (the tok IN (...) set is long), so string-matching the plan
    // would flake on vocabulary size.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def postingsFilters(name: String): String =
      Queries.all(name)(spark, dir).queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }
        .filter(_.metadata.get("Location").exists(_.contains("postings")))
        .flatMap(_.dataFilters).map(_.sql).mkString(" ")
    val ceiled = postingsFilters("search_bm25_store_maxdf")
    withClue(ceiled) { ceiled should include regex "df.* <= " }
    // ...and the exact entry pushes no df bound (maxDf = 0 is exact)
    postingsFilters("search_bm25_store_topk") should not include "<="
  }

  test("parquet scans prune columns (ReadSchema is narrow)") {
    val p = plan("text_fingerprint")
    val read = p.split("\n").find(_.contains("ReadSchema")).getOrElse("")
    read should include("doc_id")
    read should include("text")
    read should not include "n_chars" // unused column pruned from the scan
  }

  test("simhash table is a map-side kernel projection, not a vote aggregate") {
    // the SimhashBits kernel computes tokenize→hash→votes→bits in one
    // call per row, so the (id, sh) table is a PROJECTION: no token
    // explode, no vote HashAggregate, no shuffle until the chunk-key
    // join. Generate appears only for the chunk-key explode.
    val p = plan("dedup_simhash")
    p should include("simhashbits")
    p should not include "SortAggregate"
    p should not include "ObjectHashAggregate"
    // the old explode+60-conditional-sum vote shape is gone
    p should not include "v59"
  }

  test("tfidf postings prune hot tokens via pinned broadcast; vectors never re-shuffle wide") {
    val p = plan("tfidf_cosine_pairs")
    // the hot-token removal must be broadcast in the INITIAL plan —
    // at 100 TB the postings join is the only wide exchange we accept
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // EVERY broadcast HINT in the tfidf plan must hang off a LeftAnti
    // of the hot/loser sets (small by definition: a hot token needs
    // > cap docs). A hinted non-anti broadcast would mean the plan
    // pins a kept-side (df ≤ cap) aggregate for broadcast — df-capped
    // per key but vocabulary-scale in cardinality, an OOM at 100 TB
    // (the r13 scale-defect this guards against regressing).
    // Stats-estimated broadcasts are exempt: the estimator reverts to
    // shuffle joins on real corpus sizes, a hint does not.
    assertHintedBroadcastsAreAnti("tfidf_cosine_pairs")
  }

  test("incremental tfidf: store joins stay candidate-bounded, hits anti-join broadcast") {
    val p = plan("dedup_tfidf_incremental")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // within-batch + corpus-hit removals end as anti-joins, never a
    // distinct-over-union rewrite that would shuffle the batch wide
    p should include("LeftAnti")
    // no kept-set (uncapped-cardinality) relation is ever PINNED for
    // broadcast — same guard as the pair plan
    assertHintedBroadcastsAreAnti("dedup_tfidf_incremental")
  }

  /** Every EXPLICIT broadcast() hint in the query's optimized logical
    * plan must sit on a LeftAnti join — the only relations these plans
    * may pin for broadcast are hot-token / loser / hit sets, all small
    * by construction. A non-anti hint means some aggregate-derived
    * kept set (unbounded cardinality at scale) got broadcast: correct
    * at sf0.001, an OOM at 100 TB. Planner-estimated broadcasts (no
    * hint) are fine — the estimator self-corrects with real stats.
    */
  private def assertHintedBroadcastsAreAnti(name: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = Queries.all(name)(spark, dir)
      .queryExecution.optimizedPlan.collect { case j: Join => j }
    for (j <- joins
         if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined))
      withClue(s"$name hinted non-anti join: ${j.joinType} ${j.hint}\n") {
        j.joinType.sql shouldBe "LEFT ANTI"
      }
  }

  test("candidate-verify joins are pinned broadcast (not AQE-dependent)") {
    // the executedPlan printed before execution is the INITIAL plan — a
    // BroadcastHashJoin here proves the explicit broadcast() hint, not a
    // runtime AQE conversion that could mispredict at 100 TB. Two verify
    // hops per query → at least two broadcast joins in each plan.
    for (name <- Seq("dedup_minhash", "dedup_simhash", "ann_cosine_neardup")) {
      withClue(s"$name: ") {
        val p = plan(name)
        "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
      }
    }
  }

  test("n-gram repetition is ONE map-side kernel projection — zero shuffles") {
    val p = plan("text_repetition_ngrams")
    // r21: all nine fractions come from the per-row RepetitionNgramStats
    // kernel (the per-document aggregation the former tall explode +
    // two exchanges re-derived corpus-wide — the r20 scale probe
    // measured that shape super-linear at 10× from aggregation/spill
    // pressure); the plan must stay a pure scan + project
    p.toLowerCase should include("repetitionngramstats")
    p should not include "Exchange"
    p should not include "Window"
    p should not include "Generate"
    p should not include "CartesianProduct"
  }

  test("repetition signals are ONE map-side kernel projection — zero shuffles") {
    val p = plan("text_repetition")
    // r21: word/bigram counts from the per-row WordRepetitionStats
    // kernel; no token explode, no (doc, word) exchange
    p.toLowerCase should include("wordrepetitionstats")
    p should not include "Exchange"
    p should not include "Generate"
    p should not include "CartesianProduct"
  }

  test("kernel gates evaluate the stats kernel ONCE per row") {
    // the gate filters reference many fields of the kernel struct; if
    // alias substitution ever inlines the kernel into each reference
    // (predicate pushdown through the materializing projection), the
    // scan pays 6+ tokenize passes per row — pin one kernel occurrence
    for (name <- Seq("text_gopher_filter", "text_token_entropy")) {
      withClue(s"$name: ") {
        val p = plan(name).toLowerCase
        "wordrepetitionstats".r.findAllIn(p).length shouldBe 1
      }
    }
  }

  test("paragraph dedup shuffles fingerprints, not paragraph-free text") {
    val p = plan("dedup_paragraph")
    p should include("md5") // window partitions on the 16-byte fingerprint
    p should not include "CartesianProduct"
  }

  test("sampling filters and PII scrub are shuffle-free map-side plans") {
    for (name <- Seq("sample_bernoulli", "sample_mixture", "text_pii_redact")) {
      withClue(s"$name: ") {
        plan(name) should not include "Exchange"
      }
    }
  }

  test("decontamination broadcasts the benchmark shingles (initial plan)") {
    val p = plan("text_decontaminate")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // the corpus-side scan prunes to (doc_id, text); n_chars never read
    val read = p.split("\n").filter(_.contains("ReadSchema")).mkString
    read should not include "n_chars"
  }

  test("multi-probe decontamination: benchmark broadcast, corpus hashed once") {
    val p = plan("ann_decontaminate_multiprobe")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // probes multiply only the benchmark side: the corpus contributes
    // exactly ONE posexplode of its per-table kernel buckets — the
    // probe fan-out (explode of flip-bucket arrays) must never land on
    // the corpus branch. 3 Generates total: corpus buckets, benchmark
    // per-table probe structs, benchmark per-table bucket lists.
    "Generate".r.findAllIn(p).length shouldBe 3
  }

  test("sequence packing shuffles on the group key only, bounded times") {
    val p = plan("text_pack")
    // running-sum window + per-(group, seq) reassembly: the offset
    // window's sort and the aggregation — never a global (RangePartitioning)
    // sort of the corpus
    p should not include "rangepartitioning"
    "Exchange hashpartitioning".r.findAllIn(p).length should be <= 2
  }

  test("incremental near-dup keeps corpus-side work candidate-bounded") {
    // the corpus band store streams against a broadcast batch; the corpus
    // text table is semi-join pruned to candidates; the loser anti-join is
    // broadcast — all pinned in the INITIAL plan
    val p = plan("dedup_minhash_incremental")
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 3
    p should not include "CartesianProduct"
  }

  test("span dedup shuffles 8-byte window hashes, never window text") {
    // windows hash map-side; the occurrence count rides the wh window's
    // partitioning and the island merge reuses the doc-id partitioning,
    // so the whole operator is a bounded number of narrow shuffles
    val p = plan("dedup_spans")
    p should not include "CartesianProduct"
    "Exchange hashpartitioning".r.findAllIn(p).length should be <= 3
  }

  test("quality signals contain no interpreted HOF lambdas") {
    // higher-order array functions (filter/transform/aggregate) print as
    // lambdafunction(...) in the plan and are interpreted per element —
    // the quality/langid/gopher family must run the native StopwordCounts
    // kernel and plain length arithmetic instead
    for (name <- Seq("text_quality", "text_langid", "text_gopher_filter")) {
      withClue(s"$name: ") {
        plan(name) should not include "lambdafunction"
      }
    }
  }

  test("strict-filter pipeline stays in whole-stage codegen") {
    // executedPlan.toString marks codegen stages with "*(n)"; the observe
    // CollectMetrics node is the only barrier in the pipeline
    val p = plan("required_filter_strict")
    "\\*\\(\\d+\\)".r.findAllIn(p).length should be >= 2
  }

  test("PQ plans broadcast the query side and never sort-merge the corpus") {
    for (name <- Seq("ann_pq_topk", "ann_ivfpq_topk")) {
      withClue(s"$name: ") {
        val p = plan(name)
        p should (include("BroadcastNestedLoopJoin") or include("BroadcastHashJoin"))
        p should not include "SortMergeJoin"
        p should not include "CartesianProduct"
        p should include("pqcodes") // corpus encoded map-side
        p should include("pqlut")   // query LUT computed map-side
      }
    }
  }

  test("SQ8 plans broadcast the query side and score straight from code bytes") {
    for (name <- Seq("ann_sq_topk", "ann_ivfsq_topk")) {
      withClue(s"$name: ") {
        val p = plan(name)
        p should (include("BroadcastNestedLoopJoin") or include("BroadcastHashJoin"))
        p should not include "SortMergeJoin"
        p should not include "CartesianProduct"
        p should include("sqcodes") // corpus encoded map-side
        p should include("sqdist")  // pair distance fused over the bytes
      }
    }
  }

  test("binary plans broadcast the query bits and score by XOR+popcount on packed words") {
    // ann_binary_store_topk: the sign-bit corpus streams against the
    // broadcast query words — never shuffled, never cross-joined; the
    // pair score is bit_count over packed longs (codegen'd built-ins,
    // no doubles, no arrays in the hot path). ann_ivfbinary_store_topk
    // adds the probed-list partition prune (pinned in SimilaritySpec)
    // and joins on the list key — still broadcast, still no sort-merge.
    for (name <- Seq("ann_binary_store_topk", "ann_ivfbinary_store_topk")) {
      withClue(s"$name: ") {
        val p = plan(name)
        p should (include("BroadcastNestedLoopJoin") or include("BroadcastHashJoin"))
        p should not include "SortMergeJoin"
        p should not include "CartesianProduct"
        p should include("bit_count") // pair score on packed words
        p should include("hyperplanebits") // sign-pack kernel, map-side
      }
    }
  }

  test("quality-model scoring broadcasts the weight table; per-doc agg partial-aggregates") {
    // the vocab-bounded weight table must broadcast (a misprediction
    // would shuffle every token posting in the corpus), and the per-doc
    // sum must map-side combine so the one shuffle carries one row/doc
    val p = plan("text_model_score")
    p should include("BroadcastHashJoin")
    p should include("HashAggregate")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("exact-refine plans broadcast the shortlist; the raw corpus is never shuffled or crossed") {
    for (name <- Seq("ann_sq_rerank_topk", "ann_ivfpq_rerank_topk")) {
      withClue(s"$name: ") {
        val p = plan(name)
        // the refine join must stream the corpus against the broadcast
        // (shortlist × query-vector) table — candidate-bounded by
        // construction — never sort-merge or cross it
        p should include("BroadcastHashJoin")
        p should not include "SortMergeJoin"
        p should not include "CartesianProduct"
      }
    }
  }

  test("incremental dedup computes signatures map-side (kernel projections)") {
    plan("dedup_simhash_incremental") should include("simhashbits")
    plan("dedup_minhash_incremental") should include("minhashbands")
    // the old k-column min/vote aggregates are gone
    plan("dedup_minhash_incremental") should not include "m63"
    plan("dedup_simhash_incremental") should not include "v59"
  }

  test("hybrid RRF keeps both arms' broadcast pins and bounded fusion") {
    // the BM25 arm broadcasts its query-term set and the ANN arm its
    // query vectors (explicit hints, visible in the INITIAL plan); the
    // fusion itself adds only narrow (query, neighbor, long) traffic
    val p = plan("search_hybrid_rrf")
    "BroadcastHashJoin".r.findAllIn(p).length should be >= 2
    p should not include "CartesianProduct"
  }

  test("LM fit counts partial-aggregate; scoring joins on token keys") {
    // every groupBy in fit (bigram, context, unigram) and score (per-doc
    // sum) must map-side combine — at 100 TB the (w1, w2) count table is
    // built from partial aggregates, never raw token rows at one reducer
    val p = plan("text_lm_score")
    p should include("HashAggregate")
    p should not include "SortAggregate"
    p should not include "CartesianProduct"
  }

  test("containment shuffles 8-byte shingle hashes, never text") {
    val p = plan("dedup_containment")
    p should include("xxhash64")
    // the postings join carries (blk, id, n, s) only — no text column
    // survives past the projection feeding the self-join
    val exchanges = p.split("\n").filter(_.contains("Exchange"))
    exchanges.foreach(l => l should not include "text#")
  }

  test("broadcast byte-doctrine audit: every main-source broadcast( site is vetted") {
    // The r20-r22 verdicts' standing item: an explicit broadcast() hint
    // ships the side UNCONDITIONALLY — past Spark's 8 GB / 512M-row
    // relation ceiling it fails, and below it it can still OOM the
    // driver — so every hint must be one of
    //   QUERY  : query/benchmark/batch-side, small by construction
    //            (seed sets, probed-list unions, phrase rows)
    //   GATED  : behind a measured row guard (broadcastMaxPairs) and,
    //            for vector-bearing frames, the byte gate
    //            (broadcastMaxVecBytes)
    //   CAPPED : hot-key sets bounded by construction (≤ N/cap
    //            distinct over-cap keys)
    //   MODEL  : fixed-size model/dimension tables (bounded vocabulary)
    //   LITERAL: literal-bounded frames (driver-built, a few rows)
    // This audit enumerates the call sites FROM SOURCE and fails on any
    // site not in the vetted list below — an injected unguarded
    // broadcast fails the suite until it is vetted with a category.
    val src = new java.io.File("src/main/scala")
    assume(src.isDirectory, "main sources visible from the launch dir")
    val vetted: Map[(String, String), (Int, String)] = Map(
      ("Recall.scala", "broadcast(dBench.select(col(\"embedding\").as(\"bv\"),") -> (1, "QUERY benchmark side"),
      ("operators/Decontaminate.scala", "broadcast(benchSh), \"g\")") -> (1, "QUERY benchmark shingles"),
      ("operators/Decontaminate.scala", "broadcast(benchSh), \"gh\")") -> (1, "QUERY benchmark shingles"),
      ("operators/Decontaminate.scala", "broadcast(bmk), Seq(\"bk\"))") -> (1, "QUERY benchmark bucket keys"),
      ("operators/Dedup.scala", "broadcast(comps) else comps") -> (1, "GATED losersBroadcastMax"),
      ("operators/Dedup.scala", "broadcast(d) else d") -> (1, "GATED broadcastMaxPairs"),
      ("operators/Dedup.scala", "broadcast(df) else df") -> (1, "GATED broadcastMaxPairs"),
      ("operators/Dedup.scala", "broadcast(hot), Seq(\"blk\", \"s\"), \"left_anti\")") -> (1, "CAPPED hot band keys"),
      ("operators/Dedup.scala", "broadcast(hot), Seq(keyCol), \"left_anti\")") -> (1, "CAPPED hot keys <= N/cap"),
      ("operators/Dedup.scala", "broadcast(losers)") -> (2, "GATED losersBroadcastMax/guard"),
      ("operators/QualityModel.scala", "broadcast(model.weights), Seq(\"token\"), \"left\")") -> (1, "MODEL fixed vocabulary"),
      ("operators/Search.scala", "broadcast(dfc), \"tok\"), qt,") -> (2, "QUERY <= |query terms| df rows"),
      ("operators/Search.scala", "broadcast(pt), \"tok\")") -> (2, "QUERY phrase/benchmark rows"),
      ("operators/Search.scala", "broadcast(qt), \"tok\")") -> (1, "QUERY seed-set terms"),
      ("operators/Search.scala", "broadcast(qt.select(\"tok\").distinct()), Seq(\"tok\"), \"left_semi\"))") -> (1, "QUERY seed-set terms"),
      ("operators/Similarity.scala", "broadcast(bBuckets), col(\"bk\") === col(\"cbk\"))") -> (1, "QUERY batch bucket keys (ingest-batch bounded)"),
      ("operators/Similarity.scala", "broadcast(d)") -> (2, "GATED pinVec row+byte gate"),
      ("operators/Similarity.scala", "broadcast(d) else d") -> (2, "GATED broadcastMaxPairs"),
      ("operators/Similarity.scala", "broadcast(probes), Seq(\"list\"))") -> (1, "QUERY probed-list union"),
      ("operators/Similarity.scala", "broadcast(q), col(\"query_id\") =!= col(\"neighbor_id\"))") -> (1, "QUERY seed vectors"),
      ("operators/Similarity.scala", "broadcast(vecs.select(col(\"id\").as(\"id_a\"),") -> (1, "GATED fused-branch row+byte gate"),
      ("operators/Similarity.scala", "broadcast(vecs.select(col(\"id\").as(\"id_b\"),") -> (1, "GATED fused-branch row+byte gate"),
      ("operators/Similarity.scala", "broadcast(withQ), Seq(\"neighbor_id\"))") -> (1, "QUERY shortlist x query vectors (k-bounded)"),
      ("operators/TextAnalysis.scala", "broadcast(sizes.select(col(\"source\").as(\"source_a\"), col(\"n_a\"))),") -> (1, "MODEL per-source counts (low cardinality)"),
      ("operators/Tfidf.scala", "broadcast(hits) else hits") -> (1, "GATED broadcastMaxPairs"),
      ("operators/Tfidf.scala", "broadcast(hot), Seq(\"t\"), \"left_anti\")") -> (2, "CAPPED hot tokens <= N/cap"),
      ("operators/Tfidf.scala", "broadcast(hot), Seq(\"t\"), \"left_anti\").select(\"t\", \"id\")") -> (2, "CAPPED hot tokens <= N/cap"),
      ("operators/Tfidf.scala", "broadcast(wHot), Seq(\"t\"), \"left_anti\")") -> (1, "CAPPED hot tokens <= N/cap"),
      ("tools/ScaleCorpus.scala", "broadcast(reps))") -> (2, "LITERAL factor-many replica rows")
    )
    val siteRe = new scala.util.matching.Regex("(?<![.\\w])broadcast\\(")
    val found = scala.collection.mutable.Map[(String, String), Int]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val rel = f.getPath.replace("src/main/scala/graft/", "")
          .replace("src/main/scala/", "") // non-graft sources keep org/... keys
        scala.io.Source.fromFile(f, "UTF-8").getLines().foreach { raw =>
          val s = raw.trim
          siteRe.findAllMatchIn(s).foreach { m =>
            if (!s.substring(0, m.start).endsWith("sparkContext.")) {
              val key = (rel, s.substring(m.start))
              found(key) = found.getOrElse(key, 0) + 1
            }
          }
        }
      }
    walk(new java.io.File("src/main/scala"))
    val unvetted = found.keys.filterNot(vetted.contains).toSeq.sorted
    withClue(s"UNVETTED broadcast sites (add to the audit with a doctrine " +
        s"category only after checking the bound): $unvetted\n") {
      unvetted shouldBe empty
    }
    val gone = vetted.keys.filterNot(found.contains).toSeq.sorted
    withClue(s"vetted sites no longer in source (remove from the audit): " +
        s"$gone\n") { gone shouldBe empty }
    found.foreach { case (k, n) =>
      withClue(s"$k count drifted: ") { n shouldBe vetted(k)._1 }
    }
  }

  test("mdkv parse/render runs as native kernels, no encoder round-trip") {
    // the typed-Dataset formulation paid DeserializeToObject /
    // SerializeFromObject stage breaks per parse (the engine's last
    // non-codegen surface); the MdkvRender/MdkvKvRows/MdkvDoc kernels
    // must keep the whole pipeline in Tungsten rows
    for (name <- Seq("mdkv_render", "mdkv_roundtrip_kv", "mdkv_doc_level")) {
      withClue(s"$name: ") {
        val p = plan(name)
        p should not include "DeserializeToObject"
        p should not include "SerializeFromObject"
        p should not include "MapElements"
        p should not include "MapPartitions"
      }
    }
  }
}
