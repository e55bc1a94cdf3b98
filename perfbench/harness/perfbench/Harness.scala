package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.infra.{Span, Tracer, Tracing}

/** JVM side of the end-to-end benchmark. `run.py` writes a spec, starts
  * this in a fresh JVM and reads back one JSON document of raw samples.
  *
  *   Harness setup <spec.json>   time SparkSession start → ready, exit
  *   Harness run   <spec.json>   the same set-up, the workload's untimed
  *                               `prepare`, one cold unit, `warmup`
  *                               units, measured units for `seconds`
  *                               (at least `min_warm`), output facts
  *                               per unit
  *
  * With `trace: 1` a [[Recorder]] listens during traced units only; warm
  * units alternate traced and untraced, so untraced units run exactly as
  * in an untraced run and the result carries its own tracing overhead.
  * The ingest workloads then add their prefix runs.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Paths.get(args(1)).toFile)
    val t0 = System.nanoTime()
    val spark = session(spec)
    val setupNs = System.nanoTime() - t0
    try {
      val result =
        if (args(0) == "setup") Map[String, Any]()
        else measure(spark, spec)
      Files.writeString(Paths.get(spec.get("result").asText()),
        Json.write(result + ("setup_ns" -> setupNs)))
    } finally spark.stop()
  }

  private def session(spec: JsonNode): SparkSession = {
    val cpus = spec.get("cpus").asText()
    val work = spec.get("work").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def measure(spark: SparkSession, spec: JsonNode): Map[String, Any] = {
    OldGenPeak.install()
    val wl = Workload(spec, spark)
    wl.prepare()
    // the garbage of the set-up must not count toward the units' old-gen peak
    System.gc()
    val traced = spec.get("trace").asInt() == 1
    val recorder = new Recorder
    val units = ArrayBuffer[Map[String, Any]]()

    def unit(i: Int, trace: Boolean, attributed: Boolean = false,
        warmup: Boolean = false): Unit = {
      if (wl.gcBetweenUnits) System.gc()
      val (tracer, spans) =
        if (trace) Tracing.collector() else (Tracing.disabled, () => Seq.empty[Span])
      if (trace) recorder.attach(spark)
      val c0 = JvmCounters.snapshot()
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      OldGenPeak.armed = true
      val r =
        try Right(if (attributed) graft.JobRunner.withCurationAttribution(wl.run(i, tracer))
                  else wl.run(i, tracer))
        catch { case e: Exception => Left(e) }
      val ns = System.nanoTime() - n0
      OldGenPeak.armed = false
      val counters = JvmCounters.delta(c0, JvmCounters.snapshot())
      val events = if (trace) recorder.detach(spark) else Nil
      val facts = r match {
        case Left(e) => Map[String, Any]("error" -> s"${e.getClass.getName}: ${e.getMessage}")
        case Right(x) =>
          try wl.inspect(i, x)
          catch { case e: Exception => Map[String, Any]("error" -> s"check: ${e.getMessage}") }
      }
      wl.cleanup(i)
      units += Map("i" -> i, "ns" -> ns, "traced" -> trace, "warmup" -> warmup,
        "attributed" -> attributed, "facts" -> facts, "counters" -> counters,
        "events" -> events,
        "spans" -> spans().map(s => Map("name" -> s.name,
          "start_ms" -> (w0 + (s.startNanos - n0) / 1e6),
          "end_ms" -> (w0 + (s.endNanos - n0) / 1e6))),
        "start_ms" -> w0, "end_ms" -> (w0 + ns / 1e6))
    }

    val seconds = spec.get("seconds").asDouble()
    val minWarm = spec.get("min_warm").asInt()
    val warmups = spec.get("warmup").asInt()
    unit(0, traced)
    // checked but not measured: for many units after the cold one the C2
    // compiler is still working through its queue and unit times fall; a
    // count rather than a time keeps the measured units at about the same
    // point of that slope when the host is busy
    (1 to warmups).foreach(i => unit(i, trace = false, warmup = true))
    val loop0 = System.nanoTime()
    var i = warmups + 1
    while (i <= warmups + minWarm || (System.nanoTime() - loop0) / 1e9 < seconds) {
      // traced runs alternate, from a traced unit, so traced and untraced
      // units share one JVM
      unit(i, traced && (i - warmups) % 2 == 1)
      i += 1
    }
    val heapPeak = OldGenPeak.peakBytes

    val prefixes = if (!traced) Map.empty[String, Seq[Long]] else {
      if (wl.attributable) unit(i, trace = true, attributed = true)
      wl.prefixes.map { case (name, body) =>
        name -> (1 to spec.get("prefix_reps").asInt()).map { _ =>
          System.gc()
          val n0 = System.nanoTime()
          graft.core.CacheScope.scoped(body())
          System.nanoTime() - n0
        }
      }.toMap
    }
    Map("units" -> units.toSeq, "heap_peak_b" -> heapPeak, "prefix_ns" -> prefixes,
      "prepare" -> wl.prepareFacts)
  }
}

/** One workload: untimed `prepare`, the timed `run` of unit `i`, and the
  * untimed `inspect` that reads back what the unit produced. */
trait Workload {
  def prepare(): Unit = ()
  def prepareFacts: Map[String, Any] = Map.empty
  def run(i: Int, tracer: Tracer): Any
  def inspect(i: Int, result: Any): Map[String, Any]
  def cleanup(i: Int): Unit = ()
  def gcBetweenUnits: Boolean = true
  def attributable: Boolean = false
  def prefixes: Seq[(String, () => Unit)] = Nil
}

object Workload {
  def apply(spec: JsonNode, spark: SparkSession): Workload =
    spec.get("workload").asText() match {
      case "ingest_events" => new IngestJob(spec, spark, events = true)
      case "ingest_curate" => new IngestJob(spec, spark, events = false)
      case "index_build"   => new IndexBuild(spec, spark)
      case "index_probe"   => new IndexProbe(spec, spark)
    }

  /** A per-unit copy of a template file with `@UNIT@` replaced. */
  def instantiate(template: String, unitDir: Path): String = {
    Files.createDirectories(unitDir)
    val text = Files.readString(Paths.get(template))
      .replace("@UNIT@", unitDir.toString)
    val p = unitDir.resolve(Paths.get(template).getFileName)
    Files.writeString(p, text)
    p.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }

  /** (data files, bytes) under a directory, skipping Spark's marker and
    * checksum files. */
  def footprint(dir: String): (Long, Long) = {
    val all = Files.walk(Paths.get(dir))
    try {
      val files = all.iterator().asScala.filter(Files.isRegularFile(_))
        .filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_SUCCESS")
        }.toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally all.close()
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  private val mapper = new ObjectMapper()

  def write(v: Any): String = v match {
    case null                     => "null"
    case s: String                => mapper.writeValueAsString(s)
    case b: Boolean               => b.toString
    case d: Double                => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number                => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]           => s.map(write).mkString("[", ",", "]")
    case other                    => write(other.toString)
  }
}
