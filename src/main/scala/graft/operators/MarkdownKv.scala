package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Markdown-KV document format (SURVEY.md §2.3 M1–M5; reference
  * src/dativo_ingest/markdown_kv.py:1-451 + pipeline hook cli.py:856-931).
  *
  * The pure parsing/rendering core is plain Scala (deterministic, no Spark
  * deps) so it runs identically on driver and executors; the Spark layer
  * exposes it as Dataset transforms (`flatMap` with case-class encoders —
  * a one-to-many parse is a black-box function either way, and typed
  * flatMap keeps the nested `document_level` schema native where the
  * reference JSON-stringifies it, markdown_kv.py:231-234).
  */
object MarkdownKv {

  final case class Section(name: String, level: Int, content: String, startLine: Int)
  final case class KvPair(key: String, value: String, value_json: Option[String], ord: Long)
  final case class KvRow(doc_id: String, section: String, key: String, value: String,
      value_json: Option[String], ord: Long, extracted_at: Timestamp)
  final case class DocSection(section: String, level: Int, kv: Seq[KvPair])
  final case class DocRow(doc_id: String, title: String, sections: Seq[DocSection],
      raw_md: String, extracted_at: Timestamp)

  // ---------------------------------------------------------------- pure core

  private val FrontMatterRe =
    "(?s)\\A---[ \\t]*\\n(.*?)\\n---[ \\t]*\\n".r
  private val HeaderRe = "^(#{1,6})\\s+(.+)$".r
  private val KvRe = "^([^:]+)::\\s*(.*)$".r

  /** markdown_kv.py:9-31 — YAML front matter split. */
  def extractFrontMatter(content: String): (Option[Seq[(String, Any)]], String) =
    FrontMatterRe.findFirstMatchIn(content) match {
      case Some(m) =>
        try {
          val y = new org.yaml.snakeyaml.Yaml()
          val parsed = y.load[Any](m.group(1))
          parsed match {
            case jm: java.util.Map[_, _] =>
              import scala.jdk.CollectionConverters._
              val pairs = jm.asScala.toSeq.map { case (k, v) => k.toString -> v }
              (Some(pairs), content.substring(m.end))
            case _ => (None, content)
          }
        } catch { case _: Exception => (None, content) }
      case None => (None, content)
    }

  /** markdown_kv.py:34-98 — header-delimited sections; `_default` when none. */
  def extractSections(content: String): Seq[Section] = {
    val out = Seq.newBuilder[Section]
    var name: String = null
    var level = 0
    var startLine = 1
    val buf = Vector.newBuilder[String]
    var lineNum = 0
    for (line <- content.split("\n", -1)) {
      lineNum += 1
      HeaderRe.findFirstMatchIn(line) match {
        case Some(h) =>
          if (name != null)
            out += Section(name, level, buf.result().mkString("\n").trim, startLine)
          level = h.group(1).length
          name = h.group(2).trim
          buf.clear()
          startLine = lineNum
        case None => buf += line
      }
    }
    if (name != null)
      out += Section(name, level, buf.result().mkString("\n").trim, startLine)
    val res = out.result()
    if (res.isEmpty) Seq(Section("_default", 0, content.trim, 1)) else res
  }

  /** Python json.loads validity probe (value_json detection,
    * markdown_kv.py:128-134) — bare numbers/true/false/null count as JSON.
    */
  private[operators] def jsonOrNone(s: String): Option[String] = {
    val t = s.trim
    if (t.isEmpty) None
    else try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      m.readValue(t, classOf[Object])
      Some(s)
    } catch { case _: Exception => None }
  }

  /** markdown_kv.py:101-200 — `key:: value` pairs with indented/blank-line
    * continuation; a non-indented non-kv line terminates the open pair.
    */
  def parseKvPairs(content: String): Seq[KvPair] = {
    val out = Seq.newBuilder[KvPair]
    var key: String = null
    var value = Vector.empty[String]
    var ord = 0L
    def flush(): Unit = if (key != null) {
      val v = value.mkString("\n").trim
      out += KvPair(key.trim, v, jsonOrNone(v), ord)
      ord += 1
      key = null
      value = Vector.empty
    }
    for (line <- content.split("\n", -1)) {
      KvRe.findFirstMatchIn(line) match {
        case Some(m) =>
          flush()
          key = m.group(1).trim
          val head = m.group(2).trim
          value = if (head.nonEmpty) Vector(head) else Vector.empty
        case None =>
          if (key != null && (line.startsWith(" ") || line.startsWith("\t")))
            value :+= line
          else if (key != null && line.trim.isEmpty)
            value :+= line
          else if (key != null)
            flush() // non-indented line after a kv closes it
      }
    }
    flush()
    out.result()
  }

  /** Python `str(value)` rendering parity for the value types that appear
    * in rows (markdown_kv.py:231-234, :393-418).
    */
  private[operators] def pyStr(v: Any): String = v match {
    case null                 => ""
    case b: Boolean           => if (b) "True" else "False"
    case b: java.lang.Boolean => if (b) "True" else "False"
    case t: Timestamp =>
      val s = t.toString // "yyyy-mm-dd hh:mm:ss.f..." — Python omits .0
      if (s.endsWith(".0")) s.dropRight(2) else s
    case d: java.util.Date => // snakeyaml dates; PyYAML yields date/datetime
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      val s = fmt.format(d)
      if (s.endsWith(" 00:00:00")) s.take(10) else s + "+00:00"
    // Python str(list/dict) is repr, with single-quoted strings
    case m: Map[_, _]  => pyRepr(m)
    case s: Seq[_]     => pyRepr(s)
    case other         => other.toString
  }

  /** Python repr() for the container values str() delegates to. */
  private[operators] def pyRepr(v: Any): String = v match {
    case null          => "None"
    case b: Boolean    => if (b) "True" else "False"
    case s: String     => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case m: Map[_, _]  => m.map { case (k, x) => pyRepr(k.toString) + ": " + pyRepr(x) }
      .mkString("{", ", ", "}")
    case s: Seq[_]     => s.map(pyRepr).mkString("[", ", ", "]")
    case other         => other.toString
  }

  /** json.dumps with Python's default separators (", ", ": "). */
  private[operators] def pyJson(v: Any): String = v match {
    case null          => "null"
    case b: Boolean    => if (b) "true" else "false"
    case s: String     => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case m: Map[_, _]  => m.map { case (k, x) => pyJson(k.toString) + ": " + pyJson(x) }
      .mkString("{", ", ", "}")
    case s: Seq[_]     => s.map(pyJson).mkString("[", ", ", "]")
    case other         => other.toString
  }

  /** markdown_kv.py:396-451 transform_to_markdown_kv (compact): front
    * matter from title/id/doc_id fields present in the record, then one
    * `key:: value` line per remaining field, record order preserved.
    */
  def renderRecord(fields: Seq[(String, Any)]): String = {
    val byName = fields.toMap
    // front matter holds title/id/doc_id when present; yaml.dump sorts
    // keys (sort_keys=True default), so emit in alphabetical order
    val fm = Seq("doc_id", "id", "title").flatMap(k => byName.get(k).map(k -> _))
    val lines = Seq.newBuilder[String]
    if (fm.nonEmpty) {
      lines += "---"
      fm.foreach { case (k, v) => lines += s"$k: ${pyStr(v)}" }
      lines += "---"
      lines += ""
    }
    fields.foreach { case (k, v) =>
      if (!(fm.nonEmpty && (k == "id" || k == "doc_id" || k == "title"))) {
        val s = v match {
          case m: Map[_, _] => pyJson(m)
          case sq: Seq[_]   => pyJson(sq)
          case _            => pyStr(v)
        }
        lines += s"$k:: $s"
      }
    }
    lines.result().mkString("\n")
  }

  /** markdown_kv.py:203-269 — flattened row-per-kv parse; ord is global
    * across front matter + all sections.
    */
  def parseToRowPerKv(content: String, docId: String, extractedAt: Timestamp): Seq[KvRow] = {
    val (fm, body) = extractFrontMatter(content)
    val rows = Seq.newBuilder[KvRow]
    var n = 0L
    fm.foreach(_.foreach { case (k, v) =>
      val vj = v match {
        case _: java.util.Map[_, _] | _: java.util.List[_] => Some(pyJson(fromJava(v)))
        case _ => None
      }
      rows += KvRow(docId, "_front_matter", k, pyStr(fromJava(v)), vj, n, extractedAt)
      n += 1
    })
    for (s <- extractSections(body); kv <- parseKvPairs(s.content)) {
      rows += KvRow(docId, s.name, kv.key, kv.value, kv.value_json, n, extractedAt)
      n += 1
    }
    rows.result()
  }

  /** markdown_kv.py:272-366 — nested document-level parse (Spark keeps the
    * nesting native; the reference stringifies it at write time).
    */
  def parseToDocumentLevel(content: String, docId: String, extractedAt: Timestamp): DocRow = {
    val (fm, body) = extractFrontMatter(content)
    val sectionsData = extractSections(body)
    var title: Option[String] =
      fm.flatMap(_.collectFirst { case ("title", v) => pyStr(fromJava(v)) })
    val sections = Seq.newBuilder[DocSection]
    fm.foreach { pairs =>
      val kv = pairs.filter(_._1 != "title").zipWithIndex.map { case ((k, v), i) =>
        val vj = v match {
          case _: java.util.Map[_, _] | _: java.util.List[_] => Some(pyJson(fromJava(v)))
          case _ => None
        }
        KvPair(k, pyStr(fromJava(v)), vj, i.toLong)
      }
      if (kv.nonEmpty) sections += DocSection("_front_matter", 0, kv)
    }
    for (s <- sectionsData) {
      val kv = parseKvPairs(s.content)
      if (kv.nonEmpty) sections += DocSection(s.name, s.level, kv)
    }
    if (title.isEmpty && sectionsData.nonEmpty) title = Some(sectionsData.head.name)
    DocRow(docId, title.getOrElse(docId), sections.result(), content, extractedAt)
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      l.asScala.map(fromJava).toSeq
    case other => other
  }

  // ------------------------------------------------------- native kernel bodies
  //
  // Row kernels for the [[graft.functions.MdkvKvRows]] / [[graft.functions.MdkvDoc]]
  // Catalyst expressions: same pure core as the typed-Dataset path above, but
  // emitting InternalRows directly so the parse runs inside whole-stage codegen
  // with no encoder round-trip (no DeserializeToObject/SerializeFromObject
  // stage breaks — the parse was the engine's only non-codegen surface).

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  private val EmptyArr = new GenericArrayData(Array.empty[Any])
  private def u(s: String): UTF8String = UTF8String.fromString(s)
  private val FrontMatterU = u("_front_matter")

  private def frontValueJson(v: Any, sv: Any): UTF8String = v match {
    case _: java.util.Map[_, _] | _: java.util.List[_] => u(pyJson(sv))
    case _ => null
  }

  /** Kernel twin of [[parseToRowPerKv]] minus doc_id/extracted_at (those are
    * plain columns composed outside): array of
    * `struct<section,key,value,value_json,ord>` per document.
    */
  def kvRowsKernel(content: UTF8String): ArrayData = {
    if (content == null) return EmptyArr
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var n = 0L
    val (fm, body) = extractFrontMatter(content.toString)
    fm.foreach(_.foreach { case (k, v) =>
      val sv = fromJava(v)
      out += new GenericInternalRow(Array[Any](
        FrontMatterU, u(k), u(pyStr(sv)), frontValueJson(v, sv), n))
      n += 1
    })
    for (s <- extractSections(body); kv <- parseKvPairs(s.content)) {
      out += new GenericInternalRow(Array[Any](
        u(s.name), u(kv.key), u(kv.value), kv.value_json.map(u).orNull, n))
      n += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Kernel twin of [[parseToDocumentLevel]] minus doc_id/raw_md/extracted_at:
    * `struct<title, sections:array<struct<section,level,kv>>>`; title is null
    * when neither front matter nor a first section provides one (the caller
    * coalesces with doc_id, matching `title.getOrElse(docId)`).
    */
  def docKernel(content: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (content == null) return null
    val (fm, body) = extractFrontMatter(content.toString)
    val sectionsData = extractSections(body)
    var title: String =
      fm.flatMap(_.collectFirst { case ("title", v) => pyStr(fromJava(v)) }).orNull
    val sections = scala.collection.mutable.ArrayBuffer.empty[Any]
    fm.foreach { pairs =>
      val kv = pairs.filter(_._1 != "title").zipWithIndex.map { case ((k, v), i) =>
        val sv = fromJava(v)
        new GenericInternalRow(Array[Any](
          u(k), u(pyStr(sv)), frontValueJson(v, sv), i.toLong)): Any
      }
      if (kv.nonEmpty) sections += new GenericInternalRow(Array[Any](
        FrontMatterU, 0, new GenericArrayData(kv.toArray)))
    }
    for (s <- sectionsData) {
      val kv = parseKvPairs(s.content).map(p =>
        new GenericInternalRow(Array[Any](
          u(p.key), u(p.value), p.value_json.map(u).orNull, p.ord)): Any)
      if (kv.nonEmpty) sections += new GenericInternalRow(Array[Any](
        u(s.name), s.level, new GenericArrayData(kv.toArray)))
    }
    if (title == null && sectionsData.nonEmpty) title = sectionsData.head.name
    new GenericInternalRow(Array[Any](
      if (title == null) null else u(title),
      new GenericArrayData(sections.toArray)))
  }

  /** Catalyst → external value with the same representations the typed
    * `Row.getAs[Any]` path produced, so [[renderRecord]] renders identically
    * (String, java.sql.Timestamp/Date, java.math.BigDecimal, Seq, Map).
    */
  private[graft] def externalValue(dt: org.apache.spark.sql.types.DataType, v: Any): Any = {
    import org.apache.spark.sql.types._
    if (v == null) null
    else dt match {
      case StringType    => v.toString
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
      case DateType      =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
      case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
      case ArrayType(et, _) =>
        v.asInstanceOf[ArrayData].toObjectArray(et).toSeq.map(externalValue(et, _))
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray.toObjectArray(kt).map(externalValue(kt, _))
        val vs = m.valueArray.toObjectArray(vt).map(externalValue(vt, _))
        ks.zip(vs).toMap
      case st: StructType =>
        val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        // Row.toString is mkString("[",",","]") for any Row impl, so pyStr
        // parity with the old GenericRowWithSchema holds
        org.apache.spark.sql.Row.fromSeq(
          st.fields.toSeq.zipWithIndex.map { case (f, i) =>
            externalValue(f.dataType, r.get(i, f.dataType)) })
      case _ => v // primitives arrive as their boxed Java types already
    }
  }

  // --------------------------------------------------------------- Spark layer

  /** doc_id fallback chain (cli.py:868-878). */
  val DocIdFields: Seq[String] = Seq("businessentityid", "productid", "customerid",
    "salesorderid", "addressid", "productcategoryid", "id", "doc_id")

  /** M1: record → `{doc_id, markdown_kv_content}` (mode "string",
    * cli.py:884-890). Row order of fields = column order. One
    * [[graft.functions.MdkvRender]] kernel call per row inside
    * whole-stage codegen (the typed-Dataset map paid an encoder
    * round-trip of the whole row).
    */
  def toMarkdownKv(df: DataFrame): DataFrame =
    df.select(graft.functions.MdkvRender(
        struct(df.columns.map(col).toIndexedSeq: _*)).as("r"))
      .select(col("r.doc_id").as("doc_id"),
        col("r.markdown_kv_content").as("markdown_kv_content"))

  /** M2–M4: parse a content column into row-per-kv. Kernel parse +
    * codegen'd explode; doc_id/extracted_at ride as plain columns.
    */
  def parseRowPerKv(df: DataFrame, contentCol: String, docIdCol: String,
      extractedAt: Timestamp): Dataset[KvRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(docIdCol).cast("string").as("doc_id"),
        explode(graft.functions.MdkvKvRows(col(contentCol))).as("kv"))
      .select(col("doc_id"), col("kv.section").as("section"),
        col("kv.key").as("key"), col("kv.value").as("value"),
        col("kv.value_json").as("value_json"), col("kv.ord").as("ord"),
        lit(extractedAt).as("extracted_at"))
      .as[KvRow]
  }

  /** M5: parse a content column into nested document-level rows; title
    * falls back to doc_id exactly as `title.getOrElse(docId)` did.
    */
  def parseDocumentLevel(df: DataFrame, contentCol: String, docIdCol: String,
      extractedAt: Timestamp): Dataset[DocRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(docIdCol).cast("string").as("doc_id"),
        col(contentCol).as("raw_md"),
        graft.functions.MdkvDoc(col(contentCol)).as("d"))
      .select(col("doc_id"),
        coalesce(col("d.title"), col("doc_id")).as("title"),
        col("d.sections").as("sections"),
        col("raw_md"), lit(extractedAt).as("extracted_at"))
      .as[DocRow]
  }
}
