package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders,
  GraftExpressionBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{element_at, explode}
import org.apache.spark.sql.types._

/** The two halves every store probe shares ([[Search]]'s bm25 probes and
  * [[Similarity]]'s stage and refine): the query side shipped IN the plan
  * as a literal, and the per-query top-k gathered to the driver.
  *
  * A probe's answer is driver-small by contract (≤ queries × k rows), so
  * it needs no shuffle and no window: each task of the one map-only scan
  * keeps a bounded per-query heap, and the driver merges at most
  * tasks × queries × k rows into a local relation. The query side rides
  * in the task binary, which Spark ships once per stage, instead of a
  * broadcast exchange with its own job.
  */
private[operators] object StoreProbe {

  /** The query rows matching each scanned row, as one exploded column:
    * `rows` are (key, query row) pairs shipped as ONE literal —
    * key → [query rows] looked up with `element_at(map, key)`, or, with
    * no key, every query row for every scanned row.
    *
    * This is the QUERY bound of the store paths: the literal holds the
    * collected query side (≤ |queries| × probe width rows, or
    * |queries| × k × factor for a refine), which the driver already
    * holds, so it is small by the same construction the broadcast it
    * replaces assumed. Every call site is vetted in PlanAuditSpec. A
    * non-primitive literal is a reference in generated code, so warm
    * probes with other query values reuse the compiled classes.
    */
  def queryLiteral(key: Option[Column], keyType: DataType,
      rowType: StructType, rows: Seq[(Any, Row)]): Column = {
    val arr = ArrayType(rowType, containsNull = false)
    key match {
      case None => explode(literal(arr, rows.map(_._2)))
      case Some(k) =>
        val byKey = rows.groupMap(_._1)(_._2)
        explode(element_at(literal(MapType(keyType, arr,
          valueContainsNull = false), byKey), k))
    }
  }

  private def literal(dt: DataType, v: Any): Column = GraftExpressionBridge
    .column(Literal(CatalystTypeConverters.createToCatalystConverter(dt)(v), dt))

  /** The per-query top-k of `scored` (query_id, neighbor_id, `score`, …)
    * as a local relation (query_id, neighbor_id, rank, `score`): `score`
    * in the given direction, ties to the lower `neighbor_id`, by Spark's
    * SQL ordering (ascending puts a null score first, descending last;
    * −0.0 and NaN as `SQLOrderingUtil`). `dropNull` skips null scores
    * inside the heap, so the score is computed once, in the projection
    * that makes it. Rows and schema equal a `row_number` window over the
    * same frame.
    *
    * It comes in two halves so that the one Spark action is written in
    * the probe itself, `val g = gatherTopK(…); g.answer(g.tasks.collect())`:
    * Spark names a job after the first frame outside Spark on the
    * calling thread, and the UI, event logs and per-module traces should
    * name the probe, not this helper.
    */
  def gatherTopK(scored: DataFrame, score: String, ascending: Boolean,
      k: Int, dropNull: Boolean): Gather = {
    val in = scored.select("query_id", "neighbor_id", score)
    val Array(q, n, s) = in.schema.fields
    val order = CandidateOrder(q.dataType, n.dataType, s.dataType, ascending)
    new Gather(in.mapPartitions(rows => order.taskTopK(rows, k, dropNull))(
      Encoders.row(in.schema)), order, k,
      StructType(Seq(q, n, StructField("rank", LongType, nullable = false), s)))
  }

  /** [[gatherTopK]]'s two halves: `tasks`, each scan task's best ≤ k rows
    * per query (one map-only Dataset), and `answer`, the driver merge of
    * the collected task rows into the local relation.
    */
  final class Gather private[StoreProbe] (val tasks: Dataset[Row],
      order: CandidateOrder, k: Int, schema: StructType) {
    def answer(rows: Array[Row]): DataFrame =
      tasks.sparkSession.createDataFrame(
        java.util.Arrays.asList(order.merge(rows, k): _*), schema)
  }
}

/** The candidate order of [[StoreProbe.gatherTopK]] over (query_id,
  * neighbor_id, score) rows, with the per-task heap and the driver merge.
  * Values compare as Spark compares them internally
  * ([[GraftExpressionBridge.internalOrdering]], nulls first), so a gathered answer
  * equals the windowed one for every column type.
  */
private[operators] final case class CandidateOrder(queryType: DataType,
    idType: DataType, scoreType: DataType, ascending: Boolean) {

  /** `key` groups by query (binary ids by value), `q`, `n`, `s` are the
    * internal values the orderings compare.
    */
  private final class Cand(val row: Row, val key: Any, val q: Any,
      val n: Any, val s: Any)

  @transient private lazy val qIn =
    CatalystTypeConverters.createToCatalystConverter(queryType)
  @transient private lazy val nIn =
    CatalystTypeConverters.createToCatalystConverter(idType)
  @transient private lazy val sIn =
    CatalystTypeConverters.createToCatalystConverter(scoreType)
  @transient private lazy val qOrd = nullsFirst(queryType)
  @transient private lazy val nOrd = nullsFirst(idType)
  @transient private lazy val sOrd = nullsFirst(scoreType)

  private def nullsFirst(dt: DataType): Ordering[Any] = {
    val ord = GraftExpressionBridge.internalOrdering(dt)
    (a: Any, b: Any) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(a, b)
  }

  /** Best first: score in the query's direction (descending is the
    * reverse of ascending-nulls-first, i.e. nulls last), then
    * neighbor_id ascending.
    */
  @transient private lazy val best: Ordering[Cand] = (a: Cand, b: Cand) => {
    val c = sOrd.compare(a.s, b.s)
    if (c != 0) { if (ascending) c else -c } else nOrd.compare(a.n, b.n)
  }

  private def cand(r: Row): Cand = {
    val q = qIn(r.get(0))
    val key = q match {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    new Cand(r, key, q, nIn(r.get(1)), sIn(r.get(2)))
  }

  /** One task's candidates: at most `k` rows per query, the best ones. */
  def taskTopK(rows: Iterator[Row], k: Int, dropNull: Boolean): Iterator[Row] = {
    val heaps = new java.util.HashMap[Any, java.util.PriorityQueue[Cand]]()
    val worstFirst = best.reverse
    if (k > 0) rows.foreach { r =>
      if (!(dropNull && r.isNullAt(2))) {
        val c = cand(r)
        var h = heaps.get(c.key)
        if (h == null) {
          h = new java.util.PriorityQueue[Cand](worstFirst)
          heaps.put(c.key, h)
        }
        if (h.size < k) h.add(c)
        else if (best.compare(c, h.peek) < 0) { h.poll(); h.add(c) }
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.values.iterator.asScala.flatMap(_.iterator.asScala.map(_.row))
  }

  /** The driver merge of every task's rows: per query the `k` best,
    * ranked from 1; queries in query_id order.
    */
  def merge(rows: Array[Row], k: Int): Array[Row] =
    rows.map(cand).groupBy(_.key).values.toArray
      .sortBy(_.head.q)(qOrd)
      .flatMap(_.sorted(best).take(k).zipWithIndex.map { case (c, i) =>
        Row(c.row.get(0), c.row.get(1), i + 1L, c.row.get(2)) })
}
