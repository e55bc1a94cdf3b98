package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders,
  GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate,
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions.{col, element_at, explode, sum}
import org.apache.spark.sql.types._

/** The two halves every store probe shares ([[Search]]'s bm25 probes and
  * [[Similarity]]'s stage and refine): the query side shipped IN the plan
  * as a literal, and the per-query top-k of a scoring written ONCE, as a
  * function over the stored frame, answered on one of two paths.
  *
  * A probe's answer is driver-small by contract (≤ queries × k rows), so
  * it needs no shuffle and no window. When the probed files are small
  * (their bytes, known from the listing, at most [[driverByteBudget]])
  * the driver decodes them with the scan's own parquet reader and
  * evaluates the scoring's analyzed plan interpreted over those rows:
  * no Spark job at all. Above the budget the scoring runs in Spark: each
  * task of the one map-only scan keeps a bounded per-query heap, and the
  * driver merges at most tasks × queries × k rows. Both paths share the
  * heap and the merge ([[CandidateOrder]]), so their answers and schemas
  * are the same. The query side rides in the plan (on the Spark path in
  * the task binary, which Spark ships once per stage) instead of a
  * broadcast exchange with its own job.
  */
private[graft] object StoreProbe {

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

  /** Probed files of at most this many bytes are decoded and scored on
    * the driver. Below it a Spark job's scheduling round trip and task
    * set-up cost more than decoding on one thread; SCALE.md has the
    * measured crossover.
    */
  val DriverByteBudget: Long = 2L * 1024 * 1024

  /** The driver-path ceiling in force: [[DriverByteBudget]], or the
    * [[withDriverByteBudget]] override on this thread.
    */
  def driverByteBudget: Long =
    budgetOverride.get().getOrElse(DriverByteBudget)

  // plain ThreadLocal, not DynamicVariable — same child-thread
  // inheritance reasoning as Dedup.guardRecord
  private val budgetOverride = new ThreadLocal[Option[Long]] {
    override def initialValue: Option[Long] = None
  }

  /** Run `body` with a thread-scoped driver-path byte ceiling — how
    * specs force either path: −1 scores every probe in Spark,
    * `Long.MaxValue` every probe on the driver.
    */
  def withDriverByteBudget[T](maxBytes: Long)(body: => T): T = {
    val prev = budgetOverride.get()
    budgetOverride.set(Some(maxBytes))
    try body finally budgetOverride.set(prev)
  }

  /** The rows a probe scores, on one of the two paths. */
  sealed trait Stored { def frame: DataFrame }

  /** Scored in Spark: `frame` is the store scan. */
  final case class InSpark(frame: DataFrame) extends Stored

  /** Scored on the driver: `rows` yields the stored rows of `schema`,
    * and `frame` is an EMPTY local relation of that schema — a scoring
    * over it is only analyzed, never run.
    */
  final class OnDriver(spark: SparkSession, schema: StructType,
      val rows: () => Iterator[InternalRow]) extends Stored {
    val frame: DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** A listed store on the path its probed bytes choose. */
  def stored(scan: graft.core.StoreScan.Scan): Stored =
    if (scan.bytes <= driverByteBudget) new OnDriver(scan.frame.sparkSession,
      scan.frame.schema, () => scan.decode())
    else InSpark(scan.frame)

  /** The rows of `out`, a frame built over `d.frame`, evaluated over
    * `d.rows`: `out` is analyzed over the empty frame (the analyzer's
    * work is per plan, not per row — a frame holding the rows would have
    * every rule walk them), and its analyzed Project / Filter / Generate
    * chain runs interpreted. One reused row object per step: copy a row
    * to keep it.
    */
  def evaluate(d: OnDriver, out: DataFrame): Iterator[InternalRow] =
    interpret(out.queryExecution.analyzed)(d.rows())

  /** [[evaluate]]'s rows as external rows of `out.schema`. */
  private def external(d: OnDriver, out: DataFrame): Iterator[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(out.schema)
    evaluate(d, out).map(r => toRow(r).asInstanceOf[Row])
  }

  private def interpret(plan: LogicalPlan)
      : Iterator[InternalRow] => Iterator[InternalRow] = plan match {
    case l: LocalRelation if l.data.isEmpty => identity
    case Project(list, child) =>
      val in = interpret(child)
      val exprs = list.map(prepare(_, child.output))
      rows => {
        val p = InterpretedMutableProjection.createProjection(exprs)
        p.initialize(0)
        in(rows).map(p)
      }
    case Filter(cond, child) =>
      val in = interpret(child)
      val c = prepare(cond, child.output)
      rows => {
        val p = Predicate.createInterpreted(c)
        p.initialize(0)
        in(rows).filter(p.eval)
      }
    case g: Generate if g.unrequiredChildIndex.isEmpty =>
      val in = interpret(g.child)
      val gen = prepare(g.generator, g.child.output).asInstanceOf[Generator]
      val nulls = new GenericInternalRow(g.generatorOutput.length)
      rows => {
        val joined = new JoinedRow
        in(rows).flatMap { r =>
          val it = gen.eval(r).iterator
          (if (g.outer && !it.hasNext) Iterator.single(nulls) else it)
            .map(o => joined(r, o))
        }
      }
    case other => throw new UnsupportedOperationException(
      s"driver-side probe evaluation of ${other.nodeName}")
  }

  /** An expression ready to evaluate over `input` rows: runtime
    * replacements substituted and a literal `IN` list made a hash set
    * (what the optimizer's `ReplaceExpressions` and `OptimizeIn` do on
    * the Spark path — `In.eval` scans its list per row), then bound.
    */
  private def prepare(e: Expression, input: Seq[Attribute]): Expression =
    BindReferences.bindReference(e.transformDown {
      case r: RuntimeReplaceable => r.replacement
      case In(v, list) if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        InSet(v, list.map(_.eval()).toSet)
    }, AttributeSeq.fromNormalOutput(input))

  /** The per-query top-k of `score(stored)` — (query_id, neighbor_id,
    * `scoreCol`, …) — as a local relation (query_id, neighbor_id, rank,
    * `scoreCol`): `scoreCol` in the given direction, ties to the lower
    * `neighbor_id`, by Spark's SQL ordering (ascending puts a null score
    * first, descending last; −0.0 and NaN as `SQLOrderingUtil`).
    * `dropNull` skips null scores inside the heap, so the score is
    * computed once, in the projection that makes it. Rows and schema
    * equal a `row_number` window over the same frame, on either path.
    */
  def topK(stored: Stored, score: DataFrame => DataFrame, scoreCol: String,
      ascending: Boolean, k: Int, dropNull: Boolean): Gather = {
    val in = score(stored.frame).select("query_id", "neighbor_id", scoreCol)
    val order = orderOf(in.schema, ascending)
    new Gather(stored.frame.sparkSession, in.schema, order, k, stored match {
      case InSpark(_) => collect => collect(in.mapPartitions(rows =>
        order.taskTopK(rows, k, dropNull))(Encoders.row(in.schema)))
      case d: OnDriver => _ =>
        order.taskTopK(external(d, in), k, dropNull).toArray
    })
  }

  /** The per-query top-k of summed weights, descending, nulls last:
    * `weights(stored)` has (query_id, doc_id, `__w`, …) rows, and each
    * (query_id, doc_id) scores the `sum` of its `__w` (BIGINT, null
    * weights ignored, all-null null) as `neighbor_id`, `score`. In Spark
    * that is one sum shuffle before the gather; on the driver the sums
    * are exact long additions (overflow fails, as ANSI `sum` does).
    */
  def sumTopK(stored: Stored, weights: DataFrame => DataFrame,
      k: Int): Gather = {
    def summed(w: DataFrame) = w
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum("__w").as("score"))
    stored match {
      case InSpark(_) => topK(stored, d => summed(weights(d)), "score",
        ascending = false, k, dropNull = false)
      case d: OnDriver =>
        val w = weights(d.frame).select("query_id", "doc_id", "__w")
        val schema = summed(w).schema
        val order = orderOf(schema, ascending = false)
        new Gather(d.frame.sparkSession, schema, order, k, _ =>
          order.taskTopK(sumByPair(external(d, w)), k, dropNull = false)
            .toArray)
    }
  }

  /** (query, doc, Σ weight) per distinct (query, doc) of (query, doc,
    * weight) rows; binary ids group by value.
    */
  private def sumByPair(rows: Iterator[Row]): Iterator[Row] = {
    def key(v: Any): Any = v match {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    val sums = new java.util.HashMap[(Any, Any), Array[Any]]()
    rows.foreach { r =>
      val acc = sums.computeIfAbsent((key(r.get(0)), key(r.get(1))),
        _ => Array(r.get(0), r.get(1), null))
      if (!r.isNullAt(2)) acc(2) =
        if (acc(2) == null) r.getLong(2)
        else Math.addExact(acc(2).asInstanceOf[Long], r.getLong(2))
    }
    import scala.jdk.CollectionConverters._
    sums.values.iterator.asScala.map(a => Row(a(0), a(1), a(2)))
  }

  private def orderOf(scored: StructType, ascending: Boolean) = {
    val Array(q, n, s) = scored.fields
    CandidateOrder(q.dataType, n.dataType, s.dataType, ascending)
  }

  /** A probe's top-k, answered by [[answer]]. On the Spark path the
    * probe passes the one Spark action, written in the probe itself —
    * `top.answer(_.collect())` — because Spark names a job after the
    * first frame outside Spark on the calling thread, and the UI, event
    * logs and per-module traces should name the probe, not this helper.
    * On the driver path nothing is collected.
    */
  final class Gather private[StoreProbe] (spark: SparkSession,
      scored: StructType, order: CandidateOrder, k: Int,
      candidates: (Dataset[Row] => Array[Row]) => Array[Row]) {
    private val schema = {
      val Array(q, n, s) = scored.fields
      StructType(Seq(q, n, StructField("rank", LongType, nullable = false), s))
    }

    /** The merge of every candidate into the local relation. */
    def answer(collect: Dataset[Row] => Array[Row]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(order.merge(candidates(collect), k): _*),
        schema)
  }
}

/** The candidate order of [[StoreProbe.topK]] over (query_id,
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
