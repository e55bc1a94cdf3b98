package graft.functions

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The token kernels against the Column formulations they replace:
  *  - [[WordRepetitionStats]]' Gopher fields equal the regex splits and
  *    `regexp_replace` passes of `tokenCount`, `meanTokenLen` and
  *    `punctRatio`, and the one-pass gate keeps the same rows;
  *  - the kernels lowercase as Spark's `lower` does (ICU), where the
  *    JDK's tables differ.
  */
class TokenKernelParitySpec extends SparkSpec {
  import spark.implicits._

  // `size` and `length` are shadowed by scalatest matcher words
  private val asize = org.apache.spark.sql.functions.size _
  private val alength = org.apache.spark.sql.functions.length _

  private val edges: Seq[Option[String]] = Seq(
    Some("\n\tleading newline and tab before the words"),
    Some("trailing vertical tab and newline\u000B\n"),
    Some("\u000B\f\r\n"),
    Some("     "),
    Some(""),
    None,
    Some("inner\t\tmixed \u000B\f runs\r\nof whitespace"),
    Some("non-ASCII punctuation ¡¿ «quotes» — dash… and ASCII: a, b; c!"),
    Some("supplementary 😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 characters, 𝟘𝟙𝟚 here!!"),
    Some("Ⱟx İstanbul ΟΔΟΣ ΣΟΦΟΣ."),
    Some("!!!???...,,,"),
    Some(" single "))

  private def lt(c: Column): Column = lower(trim(c))

  test("WordRepetitionStats' Gopher fields equal the Column formulations") {
    val rows = edges.toDF("text").select(
      WordRepetitionStats($"text").as("r"),
      asize(split(lt($"text"), "\\s+")).cast("long").as("pieces"),
      alength(regexp_replace(lt($"text"), "\\s+", "")).cast("long").as("nonspace"),
      (alength($"text") - alength(regexp_replace($"text", "[\\p{Punct}]", "")))
        .cast("long").as("punct"),
      alength($"text").cast("long").as("chars"),
      asize(filter(split(lt($"text"), "\\s+"), t => t =!= "")).cast("long")
        .as("words")).collect()
    rows.length shouldBe edges.length
    rows.foreach { r =>
      val k = r.getStruct(0)
      withClue(s"${r.getAs[Any]("pieces")} / $k: ") {
        Option(k.getAs[Any]("n_pieces")) shouldBe Option(r.getAs[Any]("pieces"))
        Option(k.getAs[Any]("n_nonspace")) shouldBe Option(r.getAs[Any]("nonspace"))
        Option(k.getAs[Any]("n_punct")) shouldBe Option(r.getAs[Any]("punct"))
        Option(k.getAs[Any]("n_chars")) shouldBe Option(r.getAs[Any]("chars"))
        // tokenless text has null word fields
        val words = Option(r.getAs[Any]("words")).filter(_ != 0L)
        Option(k.getAs[Any]("n_words")) shouldBe words
      }
    }
  }

  test("the one-pass Gopher gate keeps the rows the regex gate keeps") {
    val df = edges.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // thresholds loose enough that every rule decides some edge row
    val t = TextAnalysis.GopherThresholds(minWords = 3, maxWords = 9,
      minMeanTokenLen = 2.0, maxMeanTokenLen = 7.0, maxPunctRatio = 0.05,
      maxDupWordFrac = 0.6, maxTopWordFrac = 0.5, maxTopBigramFrac = 0.5)
    val c = $"text"
    val regexKeep = !(!TextAnalysis.tokenCount(c).between(t.minWords, t.maxWords) ||
      !TextAnalysis.meanTokenLen(c).between(t.minMeanTokenLen, t.maxMeanTokenLen) ||
      coalesce(TextAnalysis.punctRatio(c) > t.maxPunctRatio, lit(false)) ||
      coalesce(lit(1.0) - $"r.n_distinct".cast("double") /
        $"r.n_words".cast("double") > t.maxDupWordFrac, lit(false)) ||
      coalesce($"r.max_wc".cast("double") / $"r.n_words".cast("double") >
        t.maxTopWordFrac, lit(false)) ||
      coalesce($"r.max_bc".cast("double") / $"r.n_bigrams".cast("double") >
        t.maxTopBigramFrac, lit(false)))
    val want = df.withColumn("r", WordRepetitionStats(c)).filter(regexKeep)
      .select("doc_id").as[Long].collect().sorted
    val got = TextAnalysis.gopherQualityFilter(df, "doc_id", "text", t)
      .select("doc_id").as[Long].collect().sorted
    got shouldBe want
    got should not be empty
    got.length should be < edges.length
  }

  // ---- case mapping: Spark's lower (ICU) where the JDK differs

  private val cased = Seq("Ⱟx Ⱟy", "İstanbul İzmir", "ΟΔΟΣ ΣΟΦΟΣ. ΟΔΟΣ")

  test("lower() maps U+2C2F to U+2C5F, which the JDK's tables do not") {
    val got = Seq("Ⱟx").toDF("t").select(lower($"t")).as[String].collect().head
    got shouldBe "ⱟx"
  }

  test("TextShingles tokenizes with Spark's lower") {
    val rows = cased.toDF("text").select(TextShingles($"text", 1).as("k"),
      array_distinct(split(lt($"text"), "\\s+")).as("c")).collect()
    rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
  }

  test("TokenStatKernels tokenize with Spark's lower") {
    val toks = array_distinct(filter(split(lt($"text"), "\\s+"), t => t =!= ""))
    val rows = cased.toDF("text").select(
      DistinctTokenHashes($"text").as("kh"),
      transform(toks, t => xxhash64(t)).as("ch"),
      TokenTfLen($"text").getField("tfs").getField("tok").as("kt"),
      toks.as("ct"),
      WordRepetitionStats($"text").getField("n_distinct").as("kd"),
      asize(toks).cast("long").as("cd")).collect()
    rows.foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
      r.getSeq[String](2) shouldBe r.getSeq[String](3)
      r.getLong(4) shouldBe r.getLong(5)
    }
    // the n-gram kernel lowers the same way: Ⱟx and ⱟx are one token, so
    // the top bigram "ⱟx ⱟx" covers 3 × 5 of 11 characters (with JDK
    // lowering the two tokens differ and it would be 2 × 5)
    val ng = Seq("Ⱟx ⱟx Ⱟx ⱟx").toDF("text")
      .select(RepetitionNgramStats($"text").getField("top2gram_char_frac"))
      .as[Double].collect().head
    ng shouldBe (3 * 5).toDouble / 11.0
  }
}
