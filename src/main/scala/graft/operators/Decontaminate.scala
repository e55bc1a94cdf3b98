package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the train/test hygiene pass every LLM
  * data pipeline runs before training: find corpus documents that share
  * word n-grams with a held-out evaluation set, so they can be dropped
  * (or down-weighted) to avoid leaking test data into the train mix.
  *
  * Scale shape (corpus = 100 TB, benchmark = thousands of docs, i.e.
  * wildly asymmetric by construction):
  *  - the benchmark side is shingled, dedup'd, and BROADCAST — the only
  *    full pass over the corpus is one broadcast hash join on the
  *    exploded shingles, entirely map-side; the corpus text/shingles are
  *    never shuffled.
  *  - only matching (doc, shingle) rows survive into the per-doc count,
  *    so the single shuffle is bounded by the contamination volume, not
  *    the corpus.
  * Shingles join on their strings (not an 8-byte hash) so the DuckDB
  * oracle replays the operator exactly; the join build side is the tiny
  * benchmark set, so the string width costs CPU, not network.
  *
  * Nearest reference analog: none (SURVEY.md §2.6) — scale-extension
  * surface alongside [[Dedup]]/[[Sampling]].
  */
object Decontaminate {

  /** Per-document contamination report for `corpus` against `bench`:
    * `(id, n_hits, contaminated)` where `n_hits` counts the DISTINCT
    * shingles shared with ANY benchmark document. Every corpus row
    * appears (docs too short to shingle report 0 hits).
    */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    val benchSh = bench
      .select(explode(Dedup.wordShingles(col(textCol), shingleN)).as("g"))
      .distinct()
    val corpusSh = corpus.select(
      col(idCol), explode(Dedup.wordShingles(col(textCol), shingleN)).as("g"))
    // wordShingles is per-doc distinct, so count(*) here = distinct hits
    val hits = corpusSh.join(broadcast(benchSh), "g")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_hits").isNotNull.as("contaminated"))
  }

  /** BENCHMARK-side leakage report — the eval-integrity view the
    * corpus-side [[contaminationReport]] can't answer: for each
    * held-out example, HOW compromised is it? Returns
    * `(id, n_corpus_docs, n_shared_shingles, leaked)` per benchmark
    * document: the number of corpus documents sharing ≥ 1 word
    * n-gram with it, and how many of its distinct shingles appear
    * anywhere in the corpus. An eval set owner reads this before
    * trusting a benchmark score: an example with thousands of corpus
    * matches measures memorization, not ability, even after the
    * corpus-side drop (which may be run with a hit tolerance).
    *
    * Scale shape: same as the drop path — benchmark shingles broadcast,
    * one map-side probe pass over the corpus shingles, and the single
    * shuffle carries only MATCHING (bench_id, corpus_id, shingle-hash)
    * rows (bounded by the contamination volume, never the corpus; the
    * shingle is hashed to 8 bytes map-side before the shuffle, the
    * postings-family rule — the DuckDB oracle counts the strings, the
    * usual 2⁻⁶⁴ collision gamble).
    */
  def benchmarkLeakageReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    val benchSh = bench
      .select(col(idCol).as("__bid"),
        explode(Dedup.wordShingles(col(textCol), shingleN)).as("g"))
      .select(col("__bid"), xxhash64(col("g")).as("gh"))
    val corpusSh = corpus
      .select(col(idCol).as("__cid"),
        explode(Dedup.wordShingles(col(textCol), shingleN)).as("g"))
      .select(col("__cid"), xxhash64(col("g")).as("gh"))
    val agg = corpusSh.join(broadcast(benchSh), "gh")
      .groupBy("__bid").agg(
        countDistinct(col("__cid")).as("n_corpus_docs"),
        countDistinct(col("gh")).as("n_shared_shingles"))
    bench.select(col(idCol))
      .join(agg.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        col("n_corpus_docs").isNotNull.as("leaked"))
  }

  /** The train-mix cut: corpus rows with fewer than `maxHits` shared
    * shingles (default: none at all). Same plan as the report plus one
    * map-side filter.
    */
  def dropContaminated(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      maxHits: Long = 0L): DataFrame =
    corpus.join(
      contaminationReport(corpus, bench, idCol, textCol, shingleN)
        .filter(col("n_hits") > maxHits)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** SEMANTIC decontamination: drop corpus rows whose EMBEDDING is
    * within `threshold` cosine of any benchmark embedding — catches the
    * paraphrased/translated leakage the n-gram overlap above misses.
    * Multi-table hyperplane LSH buckets both sides through
    * [[Similarity.bucketKeys]] (a pair is a candidate when it shares a
    * bucket in ANY table, recall 1 − (1 − (1−θ/π)^planes)^tables); the
    * benchmark side is broadcast (small by definition), the benchmark
    * vector rides the joined row so the exact-cosine verify is INLINE —
    * the corpus is never shuffled and never scanned twice. A corpus row
    * identical to a benchmark row drops, as decontamination semantics
    * require.
    *
    * Multi-probe (Lv et al. 2007, `probes > 1`): the corpus keeps
    * exactly ONE key per (row, table) — the side whose hashing/explode
    * volume matters at 100 TB — while each BENCHMARK vector also probes,
    * per table, the `probes − 1` buckets reached by flipping its
    * smallest-|margin| sign bits within that table. Table recall per
    * pair rises toward the multi-probe union, so `tables` can shrink
    * ~probes× at equal recall; probes multiply only the broadcast side
    * (|benchmark|·tables·probes rows). Margins, flip order and the
    * `probes = 1` single-key contract are [[Similarity.probeBuckets]]'.
    */
  def dropNearBenchmarkEmbeddings(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 4,
      tables: Int = 8,
      dim: Int = 64,
      probes: Int = 1): DataFrame = {
    import Similarity.{bucketKeys, dotDouble, norm}
    def keyed(df: DataFrame, side: String, sideProbes: Int) = {
      val cols = Seq(s"${side}id", s"${side}v", s"${side}n")
      bucketKeys(df.select(col(idCol).as(cols(0)), col(vecCol).as(cols(1)),
        norm(col(vecCol)).as(cols(2))), cols(1), cols, planes, tables, dim,
        sideProbes)
    }
    val bmk = keyed(benchmark, "b", probes)
    val hits = keyed(corpus, "c", 1).join(broadcast(bmk), Seq("bk"))
      .filter(Similarity.cosineOrNull(dotDouble(col("cv"), col("bv")),
        col("cn"), col("bn")) >= threshold)
      .select(col("cid").as(idCol))
      .distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }
}
