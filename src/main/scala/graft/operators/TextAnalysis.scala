package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality signals, stopword-based language identification, and content
  * fingerprinting. Pure Column expressions (codegen-friendly, no UDFs);
  * every output is deterministic so the DuckDB oracle can replicate it.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword segment count: word runs + isolated non-word chars
    * (the usual pre-tokenizer regex `\w+|[^\w\s]`).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Mean token length (characters per token). The numerator — the sum of
    * token lengths — is computed as `length(text with all whitespace
    * removed)`: split on `\s+` partitions the string into tokens and
    * separators, so the two are identical, and the length arithmetic
    * stays in whole-stage codegen where the equivalent
    * `aggregate(transform(...))` HOF is interpreted per token.
    */
  def meanTokenLen(text: Column): Column = {
    val lt = lower(trim(text))
    length(regexp_replace(lt, "\\s+", "")).cast("double") /
      size(split(lt, "\\s+")).cast("double")
  }

  /** Ratio of punctuation characters (ASCII punct class). NULL for empty
    * text: a 0/0 here is an ANSI DIVIDE_BY_ZERO that would kill a whole
    * job on one empty document (real corpora have them); consumers
    * treat the null as "rule does not apply" via coalesce.
    */
  def punctRatio(text: Column): Column = {
    val len = length(text).cast("double")
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
      .cast("double") / when(len > 0, len)
  }

  /** Per-language stopword lists (tiny, classic top-10 function words). */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Count of tokens found in a stopword list — a native codegen'd kernel
    * ([[graft.functions.StopwordCounts]]); the HOF `filter` + `isin`
    * formulation it replaced was interpreted per token with a linear
    * word-list scan per token.
    */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    graft.functions.StopwordCounts(text, Seq(words)).getItem(0)

  /** Stopword ratio against the union of all lists (a generic fluency
    * signal).
    */
  def stopwordRatio(text: Column): Column = {
    val all = Stopwords.flatMap(_._2).distinct
    val tc = tokenCount(text).cast("double")
    // null (not ANSI 0/0) on tokenless text, same contract as punctRatio
    stopwordCount(text, all).cast("double") / when(tc > 0, tc)
  }

  /** Winner-takes-all over (lang, score) columns; ties broken by the
    * given order (language code ascending).
    */
  def detectFromScores(scores: Seq[(String, Column)]): Column =
    scores.foldRight(lit(scores.last._1)) { case ((lang, s), elseCol) =>
      val isMax = scores.filter(_._1 != lang)
        .map { case (_, o) => s >= o }
        .reduce(_ && _)
      when(isMax, lit(lang)).otherwise(elseCol)
    }

  /** Stopword-scoring language ID. ONE [[graft.functions.StopwordCounts]]
    * kernel call tokenizes each row once and scores all five lists; the
    * score columns are element extractions and the argmax a second
    * projection — so tokenization runs once per row, not once per
    * language or comparison.
    */
  def withDetectedLanguage(df: DataFrame, textCol: String,
      outCol: String = "detected_lang"): DataFrame = {
    val counts = df.withColumn("__sw",
      graft.functions.StopwordCounts(col(textCol), Stopwords.map(_._2)))
    val scored = Stopwords.zipWithIndex.foldLeft(counts) {
      case (d, ((lang, _), i)) => d.withColumn(s"s_$lang", col("__sw").getItem(i))
    }
    scored.withColumn(outCol,
        detectFromScores(Stopwords.map { case (l, _) => l -> col(s"s_$l") }))
      .drop("__sw")
  }

  /** Quality-signal bundle, one column each.
    *
    * NOTE for pipeline authors: each signal references `textCol`
    * independently, so if the column is an EXPENSIVE derived expression
    * (an html-extract/normalize regex chain), Catalyst's alias
    * substitution can inline that chain once per signal — recomputing
    * it ~6× per row and, past ~10 KB of generated code per copy,
    * busting the JVM's 64 KB method limit (Spark then silently runs
    * the stage interpreted). Materialize the derived text first
    * (persist / write) before stacking signal consumers — the curation
    * block does this automatically (JobRunner.applyCuration's rewrite
    * barrier, pinned by CodegenCompileSpec).
    */
  def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    df.withColumn("token_count", tokenCount(c))
      .withColumn("char_count", length(c).cast("long"))
      .withColumn("mean_token_len", meanTokenLen(c))
      .withColumn("punct_ratio", punctRatio(c))
      .withColumn("stopword_ratio", stopwordRatio(c))
  }

  /** 128-bit content fingerprint (md5 of whitespace-normalized lowercase
    * text) — same definition as Dedup.fingerprint.
    */
  def fingerprint(text: Column): Column = Dedup.fingerprint(text)

  /** Canonical text cleanup before fingerprinting/shingling: Unicode
    * NFC (native kernel — composed and decomposed forms of the same
    * grapheme must fingerprint identically), CRLF/CR → LF, control
    * characters stripped (C0 except tab/newline, plus DEL), horizontal
    * whitespace collapsed, ends trimmed. Every step is codegen'd
    * (kernel + regexp_replace) — map-side, shuffle-free, scan-speed at
    * 100 TB — and each regex is in the Java∩RE2 subset so DuckDB
    * replays the whole chain byte-for-byte (`nfc_normalize` and
    * java.text.Normalizer both implement UAX #15).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      graft.functions.NfcNormalize(text),
      "\\r\\n?", "\n"),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /** Kept lines of a document under the C4 line rules (Raffel et al.
    * 2020 §2.2), joined by `\n` — native codegen'd kernel, one static
    * call per row ([[graft.functions.C4KeepLines]]).
    */
  def c4KeepLines(text: Column, minWords: Int = 3): Column =
    graft.functions.C4KeepLines(text, minWords)

  /** Full C4 document cleanup: line-level filtering (terminal
    * punctuation, `minWords`, no `javascript`) plus the document-level
    * cuts — fewer than `minLines` surviving lines, "lorem ipsum"
    * anywhere (case-insensitive), or a curly brace (code markers are
    * judged on the ORIGINAL text, like C4, so a brace on a dropped line
    * still kills the page). Survivors keep (id, kept_lines, cleaned
    * text). Map-side filter + projection: NO shuffle at any scale —
    * the whole pass runs at scan speed over 100 TB.
    */
  private def c4DocKeep(cleanCol: Column, origCol: Column, minLines: Int): Column =
    cleanCol =!= "" &&
      size(split(cleanCol, "\n")) >= minLines &&
      !contains(lower(origCol), lit("lorem ipsum")) &&
      !contains(origCol, lit("{"))

  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 3, minLines: Int = 3): DataFrame =
    df.withColumn("__c4_clean", c4KeepLines(col(textCol), minWords))
      .filter(c4DocKeep(col("__c4_clean"), col(textCol), minLines))
      .select(col(idCol),
        size(split(col("__c4_clean"), "\n")).cast("long").as("kept_lines"),
        col("__c4_clean").as(textCol))

  /** FineWeb-style line-structure signals (Penedo et al. 2024 §3.1 —
    * the filters FineWeb adds on top of the C4/Gopher families judge
    * LINE composition, not word composition): per document over its
    * non-empty space-trimmed lines,
    *  - `n_lines` — line count,
    *  - `ellipsis_line_frac` — lines ending in `...` (truncated
    *    previews / "read more" stubs),
    *  - `bullet_line_frac` — lines starting with `-` or `*`
    *    (list-dominated pages),
    *  - `dup_line_char_frac` — fraction of line CHARACTER mass on
    *    lines occurring more than once in the document (nav chrome,
    *    repeated footers).
    * Shape: one explode + two-level aggregation — (doc, line) then
    * doc — so everything partial-aggregates; only (id, line-hash
    * width) rows shuffle, and each fraction is ONE double division of
    * exact integer sums (cross-engine deterministic, same as the
    * packing-efficiency rollup). Docs with no non-empty lines have no
    * row (nothing to judge).
    */
  def lineSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__l"))
      .select(col(idCol), trim(col("__l")).as("__l"))
      .filter(col("__l") =!= "")
    val perLine = lines.groupBy(col(idCol), col("__l"))
      .agg(count(lit(1)).as("__cnt"))
    val chars = length(col("__l")) * col("__cnt")
    perLine.groupBy(col(idCol)).agg(
      sum(col("__cnt")).cast("long").as("n_lines"),
      (sum(when(col("__l").endsWith("..."), col("__cnt")).otherwise(0L)) /
        sum(col("__cnt"))).as("ellipsis_line_frac"),
      (sum(when(col("__l").startsWith("-") || col("__l").startsWith("*"),
        col("__cnt")).otherwise(0L)) /
        sum(col("__cnt"))).as("bullet_line_frac"),
      (sum(when(col("__cnt") >= 2, chars).otherwise(0L)) /
        sum(chars)).as("dup_line_char_frac"))
  }

  /** Schema-preserving C4 cleanup for the in-job `curation:` block:
    * same rules as [[c4LineFilter]], but failing documents are dropped
    * and survivors keep EVERY original column with `textCol` rewritten
    * to the kept lines — a sink row must still match the asset
    * contract. Map-side filter + projection, shuffle-free.
    */
  def c4QualityFilterRows(df: DataFrame, textCol: String,
      minWords: Int = 3, minLines: Int = 3): DataFrame =
    df.withColumn("__c4_clean", c4KeepLines(col(textCol), minWords))
      .filter(c4DocKeep(col("__c4_clean"), col(textCol), minLines))
      .withColumn(textCol, col("__c4_clean"))
      .drop("__c4_clean")

  /** Gopher-style REPETITION signals (Rae et al. 2021 §A1.1 quality
    * filters; also used by C4/RefinedWeb-class pipelines): documents
    * dominated by a few repeated words/n-grams are boilerplate or spam.
    * Per document:
    *  - `n_words` — whitespace token count,
    *  - `dup_word_frac` — 1 − distinct/total words (repeated-token mass),
    *  - `top_word_frac` — occurrences of the most frequent word / total,
    *  - `top_bigram_frac` — occurrences of the most frequent word bigram
    *    / total bigrams (null when the document has < 2 words).
    *
    * Scale shape: one explode + two hash aggregations (doc×word, then
    * doc) — partial aggregation keeps the shuffle narrow; the bigram
    * needs one window over (doc, position), which shares the doc-id
    * shuffle. No raw text is shuffled, only (id, word) pairs.
    *
    * Ties on the max count resolve identically in any engine (max of
    * counts, not argmax of words), so the whole bundle oracles exactly.
    */
  /** Thresholds for [[gopherQualityReport]] — the Gopher §A1.1 rule
    * shapes (word-count window, mean-word-length window, symbol and
    * repetition caps), with defaults tuned so the synthetic corpus
    * splits rather than all-passing. Every rule is a pure comparison
    * over signals this file already defines.
    */
  case class GopherThresholds(
      minWords: Long = 30,
      maxWords: Long = 100000,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 12.0,
      maxPunctRatio: Double = 0.2,
      maxDupWordFrac: Double = 0.6,
      maxTopWordFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.2)

  /** Composite Gopher-style quality verdict: one row per document with a
    * boolean per failed rule plus the overall `keep`. Rules over
    * missing repetition signals (docs too short for bigrams) count as
    * passed, matching Gopher's "rule does not apply" reading.
    *
    * Scale shape: the per-row signals are map-side; repetition adds its
    * usual narrow (id, word) shuffle; the final join shuffles only
    * (id, 3 doubles) rows. Booleans-only output keeps the oracle free
    * of cross-engine float formatting.
    */
  def gopherQualityReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      t: GopherThresholds = GopherThresholds()): DataFrame = {
    // The repetition signals come from the per-row kernel (see
    // [[repetitionSignalsWithEntropy]]), so the former base ⋈ rep left
    // join — one exchange per side — collapses into a single map-side
    // projection: a tokenless doc's kernel fields are null exactly
    // where the left join found no rep row. One pass, zero shuffles.
    val base = withQualitySignals(df.select(col(idCol), col(textCol)), textCol)
      .withColumn("__r", graft.functions.WordRepetitionStats(col(textCol)))
      .select((col(idCol) +: col("token_count") +: col("mean_token_len") +:
        col("punct_ratio") +: repFracCols): _*)
    val failWordCount = !col("token_count").between(t.minWords, t.maxWords)
    val failMeanLen = !col("mean_token_len")
      .between(t.minMeanTokenLen, t.maxMeanTokenLen)
    val failPunct =
      coalesce(col("punct_ratio") > t.maxPunctRatio, lit(false))
    val failDupWord =
      coalesce(col("dup_word_frac") > t.maxDupWordFrac, lit(false))
    val failTopWord =
      coalesce(col("top_word_frac") > t.maxTopWordFrac, lit(false))
    val failTopBigram =
      coalesce(col("top_bigram_frac") > t.maxTopBigramFrac, lit(false))
    base
      .select(col(idCol),
        failWordCount.as("fail_word_count"),
        failMeanLen.as("fail_mean_token_len"),
        failPunct.as("fail_punct_ratio"),
        failDupWord.as("fail_dup_word"),
        failTopWord.as("fail_top_word"),
        failTopBigram.as("fail_top_bigram"),
        (!(failWordCount || failMeanLen || failPunct || failDupWord ||
          failTopWord || failTopBigram)).as("keep"))
  }

  /** The corpus cut: documents passing every Gopher rule, original
    * columns intact (left-semi against the report).
    */
  def gopherQualityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      t: GopherThresholds = GopherThresholds()): DataFrame =
    filterByGopherKeep(df, textCol, t, entropyMinNats = None)

  /** The gate form shared by [[gopherQualityFilter]] and
    * [[gopherEntropyFilter]]: judge each ROW's text with the per-row
    * kernel signals and keep survivors — a map-side filter running at
    * scan speed, replacing the former report semi-join (whose report
    * side re-derived the same per-row verdict and then paid an
    * exchange + join to apply it). Verdicts per row are identical to
    * the former keep set; `__r` materializes in its own projection so
    * the kernel runs once per row (CollapseProject keeps multi-use
    * non-cheap aliases; pinned by PlanAuditSpec).
    *
    * ONE token pass: the word-count, mean-length and punctuation rules
    * read the kernel's `n_pieces`, `n_nonspace`, `n_punct` and `n_chars`
    * — the integers [[tokenCount]], [[meanTokenLen]] and [[punctRatio]]
    * compute with two regex splits and two `regexp_replace` passes —
    * through the same casts and divisions, so every double and every
    * verdict is bit-equal. Null text gives null fields, as those
    * expressions give null, so the filter's three-valued logic is
    * unchanged.
    */
  private def filterByGopherKeep(df: DataFrame, textCol: String,
      t: GopherThresholds, entropyMinNats: Option[Double]): DataFrame = {
    val c = col(textCol)
    val failWordCount = !col("__r.n_pieces").between(t.minWords, t.maxWords)
    val failMeanLen = !(col("__r.n_nonspace").cast("double") /
      col("__r.n_pieces").cast("double"))
      .between(t.minMeanTokenLen, t.maxMeanTokenLen)
    val chars = col("__r.n_chars")
    val failPunct = coalesce(col("__r.n_punct").cast("double") /
      when(chars > 0, chars.cast("double")) > t.maxPunctRatio, lit(false))
    val dupWord = lit(1.0) - col("__r.n_distinct").cast("double") /
      col("__r.n_words").cast("double")
    val topWord = col("__r.max_wc").cast("double") /
      col("__r.n_words").cast("double")
    val topBigram = col("__r.max_bc").cast("double") /
      col("__r.n_bigrams").cast("double")
    val failDupWord = coalesce(dupWord > t.maxDupWordFrac, lit(false))
    val failTopWord = coalesce(topWord > t.maxTopWordFrac, lit(false))
    val failTopBigram = coalesce(topBigram > t.maxTopBigramFrac, lit(false))
    val gopherKeep = !(failWordCount || failMeanLen || failPunct ||
      failDupWord || failTopWord || failTopBigram)
    val keep = entropyMinNats match {
      case None => gopherKeep
      case Some(minNats) =>
        // entropyFilter's keep, verbatim: tokenless docs (null fields) drop
        val entMicro = floor(col("__r.n_words") * log(col("__r.n_words"))
          * 1e6 + 0.5).cast("long") - col("__r.ent_s")
        gopherKeep && coalesce(entMicro.cast("double") /
          (col("__r.n_words").cast("double") * 1e6) >= minNats, lit(false))
    }
    df.withColumn("__r", graft.functions.OptimizerBarrier(
        graft.functions.WordRepetitionStats(c)))
      .filter(keep)
      .drop("__r")
  }

  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    repetitionSignalsWithEntropy(df, idCol, textCol).drop("__ent_micro")

  /** [[repetitionSignals]] plus a hidden exact-integer entropy column
    * (`__ent_micro`, the [[tokenEntropySignals]] micro-nat sum) computed
    * from the SAME (id, word)-count aggregation — the shared token pass
    * behind [[gopherEntropyFilter]]. The per-(id, word) counts here and
    * in tokenEntropySignals are the same multiset (same tokenizer, same
    * empty-token filter), and the floor/log expression is byte-identical,
    * so the fused entropy is bit-equal to the standalone one.
    */
  private def repetitionSignalsWithEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // ONE per-row kernel call ([[graft.functions.WordRepetitionStats]])
    // inside whole-stage codegen replaces two explode → groupBy(id,
    // token) → groupBy(id) chains and their join: every replaced group
    // key contained the id, so the aggregation only ever mixed rows of
    // the same document — per-row work paying two corpus-wide
    // exchanges. Counts group by the exact token/bigram string (same
    // keys), the entropy quantization is the same floor(c·ln c·1e6+0.5)
    // per term, and the frac arithmetic below is the identical Column
    // expression over the kernel's integers, so outputs are bit-equal.
    // Tokenless docs return null fields and are filtered exactly where
    // the former aggregation produced no row. Zero shuffles.
    df.select(col(idCol),
        graft.functions.OptimizerBarrier(
          graft.functions.WordRepetitionStats(col(textCol))).as("__r"))
      .filter(col("__r.n_words").isNotNull)
      .select(col(idCol) +: repFracCols: _*)

  /** The repetition/entropy output columns from a `__r` kernel struct —
    * shared by [[repetitionSignalsWithEntropy]] and the fused gate
    * below so the arithmetic exists once. `top_bigram_frac` is a null
    * division for sub-2-token docs, matching the former left join's
    * missing bigram row.
    */
  private def repFracCols: Seq[Column] = Seq(
    col("__r.n_words").as("n_words"),
    (lit(1.0) - col("__r.n_distinct").cast("double") /
      col("__r.n_words").cast("double")).as("dup_word_frac"),
    (col("__r.max_wc").cast("double") / col("__r.n_words").cast("double"))
      .as("top_word_frac"),
    (col("__r.max_bc").cast("double") / col("__r.n_bigrams").cast("double"))
      .as("top_bigram_frac"),
    (floor(col("__r.n_words") * log(col("__r.n_words")) * 1e6 + 0.5)
      .cast("long") - col("__r.ent_s")).as("__ent_micro"))

  /** FUSED gopher + entropy gate: both are per-document predicates over
    * token statistics, so stacking them as separate stages pays two full
    * tokenize/explode/aggregate passes over the corpus for one
    * conjunction. This computes the Gopher report AND the token-entropy
    * floor from ONE shared (id, word)-count pass ([[
    * repetitionSignalsWithEntropy]]) and semi-joins once. Results are
    * bit-identical to `entropyFilter(gopherQualityFilter(df))` — the
    * predicates commute (each reads only the untouched text column) and
    * the entropy arithmetic is expression-identical; the curation block
    * applies this automatically when `quality_filter: [gopher, entropy]`
    * are adjacent (GopherEntropyFusionSpec pins equality and the saved
    * exchanges).
    */
  def gopherEntropyFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      entropyMinNats: Double,
      t: GopherThresholds = GopherThresholds()): DataFrame =
    filterByGopherKeep(df, textCol, t, Some(entropyMinNats))

  /** The n-gram half of Gopher's repetition rules (Rae et al. 2021,
    * Table A1) — the word-level signals above cover duplicate/top WORD
    * fractions; these cover the n-gram CHARACTER fractions:
    *
    *  - `top{n}gram_char_frac`, n ∈ {2,3,4}: characters covered by the
    *    MOST FREQUENT word n-gram — g* = argmax count(g), tie-broken by
    *    the longer gram (then the coverages coincide) — giving
    *    count(g*)·charlen(g*) / total, where charlen is the length of
    *    the space-joined n-gram and total is the length of the
    *    whitespace-normalized lowercase text (= the 1-gram sequence's
    *    char length). Selection is COUNT-based (Rae et al. 2021's
    *    "most frequent n-gram", cf. DataTrove's `most_common(1)`), not
    *    max coverage: a longer-but-rarer gram never wins, so the
    *    published 0.20/0.18/0.16 thresholds apply to the published
    *    signal.
    *  - `dup{n}gram_char_frac`, n ∈ {5..10}: characters covered by ALL
    *    n-grams occurring ≥ 2 times — Σ_{count(g)≥2} count(g)·charlen(g)
    *    / total.
    *
    * Overlapping occurrences each contribute their full char length
    * (the simple exact-counting definition, deterministic and
    * SQL-replayable), so values CAN exceed 1.0 on degenerate repetition
    * — thresholds still order documents correctly. Docs with no tokens
    * yield NULL (rule does not apply), same contract as punctRatio.
    *
    * Scale shape: gram building is fully MAP-SIDE — ONE
    * [[graft.functions.TextShinglesHashed]] kernel call per row
    * tokenizes the text once and emits every (n, xxhash64, charlen)
    * for all nine sizes with multiplicity, pre-hashed (no token
    * explode, no window sort, no gram strings EVER materialized — the
    * r15 formulation re-tokenized per size and allocated each gram to
    * hash it), then the one tall (id, n, gram-hash) count shuffle
    * (the postings-family rule: the shuffle never carries gram
    * strings). One per-doc rollup after.
    * 64-bit collision odds ~|grams per doc|²/2⁶⁴ — the same accepted
    * gamble as every postings join here (the DuckDB oracle groups the
    * strings themselves; a collision surfaces as a hash mismatch, not
    * a silent pass).
    */
  def repetitionNgramSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // ONE per-row kernel call ([[graft.functions.RepetitionNgramStats]])
    // computes every fraction inside whole-stage codegen: the former
    // plan exploded 9 grams per token into a corpus-wide tall stream
    // and hash-aggregated it back per document across two exchanges —
    // per-DOCUMENT work by construction (the group keys all contained
    // the id), and the r20 scale probe measured it super-linear at the
    // 10× leg (interval exponent 1.15) from aggregation/spill pressure
    // on the tall side. The kernel keeps the identical grouping keys
    // (seed-42 xxhash64 of the gram bytes, max-len collision merge) and
    // the identical packed-max/dup-sum arithmetic, so outputs are
    // bit-equal; docs with no grams (fewer than 2 tokens — the left
    // join's NULL restore) come back as the kernel's all-null fields.
    // Zero shuffles at any scale.
    val names = Seq(2, 3, 4).map(n => s"top${n}gram_char_frac") ++
      (5 to 10).map(n => s"dup${n}gram_char_frac")
    df.select(col(idCol),
      graft.functions.RepetitionNgramStats(col(textCol)).as("__g"))
      .select(col(idCol) +: names.map(f => col(s"__g.$f").as(f)): _*)
  }

  /** Gopher's published n-gram repetition thresholds (Rae et al. 2021,
    * Table A1): documents whose top-n-gram char fraction exceeds
    * 0.20/0.18/0.16 (n = 2/3/4) or whose duplicate-n-gram char fraction
    * exceeds 0.15/0.14/0.13/0.12/0.11/0.10 (n = 5..10) are dropped.
    */
  final case class NgramRepetitionThresholds(
      top: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
      dup: Map[Int, Double] = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
        8 -> 0.12, 9 -> 0.11, 10 -> 0.10))

  /** Drop documents failing any n-gram repetition rule (schema
    * preserved, semi-join like the other gates). NULL signals
    * (tokenless docs) pass the n-gram rules — they fail word-count
    * rules elsewhere.
    */
  def gopherNgramFilter(df: DataFrame, idCol: String, textCol: String,
      t: NgramRepetitionThresholds = NgramRepetitionThresholds()): DataFrame = {
    // per-row kernel gate (see filterByGopherKeep): the former signal
    // semi-join re-derived the same per-row verdict and paid an
    // exchange + join to apply it; NULL signals (sub-2-token docs) pass
    // exactly as before (coalesce(null > thr, false) fails nothing)
    val fails = (t.top.toSeq.map { case (n, thr) =>
      coalesce(col(s"__g.top${n}gram_char_frac") > thr, lit(false))
    } ++ t.dup.toSeq.map { case (n, thr) =>
      coalesce(col(s"__g.dup${n}gram_char_frac") > thr, lit(false))
    }).reduce(_ || _)
    df.withColumn("__g", graft.functions.OptimizerBarrier(
        graft.functions.RepetitionNgramStats(col(textCol))))
      .filter(!fails)
      .drop("__g")
  }

  // ------------------------------------------------------ corpus analytics

  /** Corpus vocabulary: term frequency + document frequency per token —
    * the input to tokenizer/vocab training and data-driven stopword
    * derivation. Two-level aggregation so BOTH counts partial-aggregate:
    * the (token, doc) pre-aggregate shuffles once on the pair, then one
    * narrow shuffle per distinct token; raw postings never move twice.
    * Empty tokens (blank documents) are excluded.
    */
  def vocabCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("id"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("token"))
      .agg(sum(col("__tf")).as("tf"), count(lit(1)).as("df_docs"))

  /** Top-`k` vocabulary by term frequency (ties → token ascending), with
    * a rank column. `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject — each partition keeps a k-bounded heap and
    * the driver merges k-item heaps, so the full vocab is never globally
    * sorted or moved to one partition; the rank window then runs over
    * exactly k rows.
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = vocabCounts(df, idCol, textCol)
      .orderBy(col("tf").desc, col("token"))
      .limit(k)
    val w = Window.orderBy(col("tf").desc, col("token"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Token-count histogram of the corpus (bucket lower bounds, width
    * `bucketWidth`) — the length-distribution diagnostic a curation pass
    * reads before choosing chunk/filter thresholds. Map-side bucket
    * assignment + one narrow count shuffle.
    */
  def tokenLengthHistogram(df: DataFrame, textCol: String,
      bucketWidth: Int = 10): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    df.select((floor(tokenCount(col(textCol)) / bucketWidth) * bucketWidth)
        .cast("long").as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Token-entropy quality signals (the Dolma-family lexical-diversity
    * measure): per document, token count, distinct-token count, and
    * `ent_micro` = n·ln n·1e6 − Σ_tokens c·ln c·1e6 with each term
    * half-up quantized to micro-nats BEFORE summing — so the sum is an
    * order-independent exact BIGINT and the whole row hash-checks
    * across engines (unquantized double sums are order-dependent).
    * `ent_micro / (n_tokens · 1e6)` is the per-token Shannon entropy in
    * nats; low values flag keyword-stuffed or degenerate pages. Two
    * narrow count shuffles, both partial-aggregated.
    */
  def tokenEntropySignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // per-row kernel (see [[repetitionSignalsWithEntropy]] — the same
    // shared (id, word)-count pass, now one codegen call per row): the
    // per-term floor(c·ln c·1e6+0.5) quantization and the n·ln n
    // numerator below are the identical expressions, so ent_micro is
    // bit-equal; tokenless docs had no aggregation row and are filtered
    // on the kernel's null fields. Zero shuffles.
    df.select(col(idCol),
        graft.functions.OptimizerBarrier(
          graft.functions.WordRepetitionStats(col(textCol))).as("__r"))
      .filter(col("__r.n_words").isNotNull)
      .select(col(idCol),
        col("__r.n_words").as("n_tokens"),
        col("__r.n_distinct").as("n_distinct"),
        (floor(col("__r.n_words") * log(col("__r.n_words")) * 1e6 + 0.5)
          .cast("long") - col("__r.ent_s")).as("ent_micro"))

  /** Drop rows whose per-token entropy (nats) falls below `minNats`
    * (schema preserved; docs with no tokens drop — entropy of nothing
    * has no semantics). Semi-join on the id like the LM gate.
    */
  def entropyFilter(df: DataFrame, idCol: String, textCol: String,
      minNats: Double): DataFrame = {
    // per-row kernel gate (see filterByGopherKeep): map-side filter at
    // scan speed instead of the former signal semi-join; docs with no
    // tokens drop on the null comparison, as the missing signal row did
    val entMicro = floor(col("__r.n_words") * log(col("__r.n_words"))
      * 1e6 + 0.5).cast("long") - col("__r.ent_s")
    df.withColumn("__r", graft.functions.OptimizerBarrier(
        graft.functions.WordRepetitionStats(col(textCol))))
      .filter(entMicro.cast("double") /
        (col("__r.n_words").cast("double") * 1e6) >= minNats)
      .drop("__r")
  }

  /** Compression-ratio quality signals: raw UTF-8 bytes, DEFLATE bytes
    * ([[graft.functions.DeflateLen]] native kernel), and their ratio —
    * high ratios flag repetitive templated boilerplate that token-level
    * repetition rules miss. Pure map-side projection; no DuckDB replay
    * exists (no zlib), so this is spec-tested + rows-only checked, like
    * the sketch family.
    */
  def compressionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("raw_bytes"),
        graft.functions.DeflateLen(col(textCol)).as("deflate_bytes"))
      .withColumn("ratio",
        col("raw_bytes").cast("double") / col("deflate_bytes"))

  /** Drop rows whose compression ratio exceeds `maxRatio` (schema
    * preserved) — the curation-block form of the signal.
    */
  def compressionFilter(df: DataFrame, textCol: String,
      maxRatio: Double): DataFrame =
    df.filter(
      octet_length(col(textCol)).cast("double") /
        graft.functions.DeflateLen(col(textCol)) <= maxRatio)

  /** Cross-source shingle-overlap matrix: for each ordered source pair
    * (a, b) the number of distinct word-`n`-gram shingles of `a` that
    * also occur in `b`, plus `a`'s distinct-shingle count — so
    * containment C(a→b) = n_shared / n_a is one division away. The
    * corpus-level twin of [[Dedup.containmentPairs]]: where that asks
    * "which DOCUMENTS include each other", this asks "how much of source
    * A's n-gram mass is already in source B" — the cross-corpus
    * contamination / redundancy dashboard read before mixing corpora.
    *
    * Scale shape: shingles collapse to distinct (source, 8-byte hash)
    * rows — ONE shuffle keyed by the hash; the self-join's per-key
    * fan-out is bounded by the number of SOURCES (each hash appears once
    * per source after the distinct), so the pair stream is ≤ |sources|²
    * per shingle no matter how hot the shingle is in documents. Pairs
    * with zero overlap are absent (sparse matrix).
    */
  def sourceShingleOverlap(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(sourceCol).as("source"),
        explode(Dedup.wordShingles(col(textCol), shingleN)).as("s"))
      .select(col("source"), xxhash64(col("s")).as("h"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_a"))
    sh.select(col("source").as("source_a"), col("h"))
      .join(sh.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_a"))),
        Seq("source_a"))
  }
}
