package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of lowercased text as a native
  * expression.
  *
  * Drop-in equivalent of the Column formulation
  * `when(size(t) >= n, array_distinct(transform(sequence(0, size(t)-n),
  * i => array_join(slice(t, i+1, n), " ")))).otherwise(array())` with
  * `t = split(lower(trim(text)), "\\s+")` — same tokens (Spark's
  * trim/lower via [[SparkLower]], Java regex split), same
  * first-occurrence distinct order, same null contract (null text →
  * EMPTY array, because the HOF's `when` falls through to `otherwise`
  * on null). The HOF version is interpreted per shingle (a boxed
  * lambda dispatch per slice, plus an O(k²) array_distinct); this
  * runs one static call per row inside
  * whole-stage codegen and was the dominant cost of every shingling
  * pipeline at bench scale.
  */
case class TextShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextShingles.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = TextShingles.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $cls.shingles(${childGen.isNull} ? null : ${childGen.value}, $n);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TextShingles =
    copy(child = newChild)
}

/** ALL word n-grams of lowercased text WITH multiplicity, in document
  * order — the repetition-counting twin of [[TextShingles]] (whose
  * first-occurrence distinct is right for Jaccard/minhash set
  * semantics but destroys exactly the duplicate counts Gopher's
  * n-gram rules measure). Same tokenizer, same null/short-doc → empty
  * contract; one static call per row in whole-stage codegen, no token
  * explode, no window sort.
  */
case class TextShinglesAll(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextShingles.allShingles(child.eval(input).asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = TextShingles.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $cls.allShingles(${childGen.isNull} ? null : ${childGen.value}, $n);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TextShinglesAll =
    copy(child = newChild)
}

object TextShinglesAll {
  /** Column-API entry point. */
  def apply(text: Column, n: Int): Column =
    GraftExpressionBridge.column(
      TextShinglesAll(GraftExpressionBridge.expression(text), n))
}

/** ALL word n-grams for SEVERAL sizes in one pass, pre-hashed — the
  * repetition pipeline's fused kernel. One call tokenizes the text
  * ONCE (vs one regex split per size) and emits a flat
  * array<struct<n:int, h:long, len:long>> where `h` is Spark's
  * `xxhash64` (seed 42, same UTF-8 bytes as the gram string
  * `tok_i ⧺ " " ⧺ … ⧺ tok_{i+n−1}`) and `len` its `length()` char
  * count — bit-identical to hashing the materialized gram, without
  * ever allocating it (no StringBuilder, no String, no UTF8String per
  * gram; a reused byte scratch is hashed in place). Same tokenizer and
  * leading-empty-token skip as [[TextShingles.allShingles]], same
  * null/short-doc → empty contract per size.
  */
case class TextShinglesHashed(child: Expression, ns: Seq[Int])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("len", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextShingles.hashedShingles(
      child.eval(input).asInstanceOf[UTF8String], ns.toArray)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = TextShingles.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val nsRef = ctx.addReferenceObj("shingleNs", ns.toArray, "int[]")
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $cls.hashedShingles(
            ${childGen.isNull} ? null : ${childGen.value}, $nsRef);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TextShinglesHashed = copy(child = newChild)
}

object TextShinglesHashed {
  /** Column-API entry point. */
  def apply(text: Column, ns: Seq[Int]): Column =
    GraftExpressionBridge.column(
      TextShinglesHashed(GraftExpressionBridge.expression(text), ns))
}

object TextShingles {

  /** Column-API entry point. */
  def apply(text: Column, n: Int): Column =
    GraftExpressionBridge.column(
      TextShingles(GraftExpressionBridge.expression(text), n))

  private val Empty = new GenericArrayData(Array.empty[Any])

  private def tokensOf(text: UTF8String): Array[String] =
    // Spark's own trim()/lower() case mapping, so tokens match the Column
    // formulation bit-for-bit
    SparkLower.lowerTrimmed(text).split("\\s+")

  private def gram(toks: Array[String], i: Int, n: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(i + j))
      j += 1
    }
    sb.toString
  }

  /** Row kernel — called once per row from generated code. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return Empty
    val toks = tokensOf(text)
    if (toks.length < n) return Empty
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      seen.add(gram(toks, i, n, sb))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** [[TextShinglesAll]] row kernel: every n-gram, duplicates kept.
    *
    * `split("\\s+")` yields a leading EMPTY token when the text starts
    * with non-space whitespace (tab/newline — `UTF8String.trim` strips
    * only 0x20); that token is skipped here so grams like `" word"`
    * never enter the repetition counts (the DuckDB oracle's
    * `WHERE w <> ''` and the word-level repetition tokenizer both
    * already exclude it — this keeps engine and oracle agreeing on
    * leading-whitespace documents). [[shingles]] above deliberately
    * keeps its historical token stream untouched: its dedup oracles
    * replay that exact convention on both sides, so the contract is
    * consistent there and changing it would churn every minhash store.
    */
  def allShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return Empty
    val toks = tokensOf(text)
    val off = if (toks.length > 0 && toks(0).isEmpty) 1 else 0
    val m = toks.length - off
    if (m < n) return Empty
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= m - n) {
      out(i) = UTF8String.fromString(gram(toks, off + i, n, sb))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[TextShinglesHashed]] row kernel: one tokenize, every size's
    * grams hashed straight from a reused byte scratch. Hash/length are
    * bit-identical to `xxhash64(gram)` / `length(gram)` on the string
    * [[allShingles]] would build: same UTF-8 bytes (tokens joined by
    * 0x20), same seed-42 XXH64, `len` = code-point count = Σ token
    * chars + (n−1).
    */
  def hashedShingles(text: UTF8String, ns: Array[Int]): ArrayData = {
    if (text == null) return Empty
    val toks = tokensOf(text)
    val off = if (toks.length > 0 && toks(0).isEmpty) 1 else 0
    val m = toks.length - off
    if (m <= 0) return Empty
    val tokBytes = new Array[Array[Byte]](m)
    val tokChars = new Array[Int](m)
    var i = 0
    while (i < m) {
      val s = toks(off + i)
      tokBytes(i) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      tokChars(i) = s.codePointCount(0, s.length)
      i += 1
    }
    var total = 0
    var t = 0
    while (t < ns.length) {
      if (m >= ns(t)) total += m - ns(t) + 1
      t += 1
    }
    if (total == 0) return Empty
    val out = new Array[Any](total)
    var scratch = new Array[Byte](256)
    var k = 0
    t = 0
    while (t < ns.length) {
      val n = ns(t)
      if (m >= n) {
        // rolling byte/char lengths: gram(i+1) = gram(i) − tok(i) + tok(i+n)
        var blen = n - 1
        var chars = (n - 1).toLong
        var j = 0
        while (j < n) { blen += tokBytes(j).length; chars += tokChars(j); j += 1 }
        var g = 0
        while (g <= m - n) {
          if (g > 0) {
            blen += tokBytes(g + n - 1).length - tokBytes(g - 1).length
            chars += tokChars(g + n - 1) - tokChars(g - 1)
          }
          if (scratch.length < blen)
            scratch = new Array[Byte](math.max(blen, scratch.length * 2))
          var p = 0
          j = 0
          while (j < n) {
            if (j > 0) { scratch(p) = ' '.toByte; p += 1 }
            val b = tokBytes(g + j)
            System.arraycopy(b, 0, scratch, p, b.length)
            p += b.length
            j += 1
          }
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(scratch,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, p, 42L)
          out(k) = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](n, h, chars))
          k += 1
          g += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }
}
