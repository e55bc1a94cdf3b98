package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Per-query self-adjudication record, emitted INTO the benchmark
    * artifact so a reader can distinguish an environmental slowdown
    * from a plan regression without any builder-side prose:
    *
    *  - `pos`: position in the suite's run order — a query that only
    *    inflates when it runs late points at within-session
    *    accumulation, not at its own plan.
    *  - `uptimeS`: JVM uptime when the query's first rep started.
    *  - `gcMs` / `jitMs`: GC collection time and JIT compilation time
    *    that landed INSIDE each timed rep (deltas across the rep; the
    *    between-rep System.gc() is outside the timed region). A rep
    *    whose wall time is dominated by gc/jit is the session's cost,
    *    not the plan's.
    *  - `ccUsedMb`: code-cache occupancy at query start. A full code
    *    cache disables the JIT for everything after it — the one
    *    mechanism that gets WORSE every round as the suite grows and
    *    that a fresh-JVM isolated run never sees.
    */
  private[graft] case class QueryDiag(pos: Int, uptimeS: Double,
      gcMs: Seq[Long], jitMs: Seq[Long], ccUsedMb: Long)

  private[graft] case class Timed(name: String, times: Seq[Double],
      diag: QueryDiag)

  /** Every mode-selector env var, stripped from EVERY forked child so
    * the forking modes can never nest: a child must always run the
    * plain suite. Keeping the list in one place is the fix's point —
    * when the list lived inline at each fork site, adding the sessions
    * mode left the other two sites forwarding it, and
    * `GRAFT_BENCH_SCALE=1 GRAFT_BENCH_SESSIONS=3` made every scale leg
    * silently fork N grandchild sessions.
    */
  private val ModeVars =
    Seq("GRAFT_BENCH_ISOLATED", "GRAFT_BENCH_SCALE", "GRAFT_BENCH_SESSIONS")
  private def stripModeVars(pb: ProcessBuilder): Unit =
    ModeVars.foreach(pb.environment().remove(_))

  private def gcTimeMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def jitTimeMs: Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def uptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** (usedMb, maxMb) summed over the JIT code-cache pools ("CodeHeap
    * 'non-profiled nmethods'" etc. on segmented caches, "Code Cache"
    * otherwise).
    */
  private[graft] def codeCacheMb: (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("Code Cache"))
    val used = pools.map(_.getUsage.getUsed).sum
    val max = pools.map(p => math.max(0L, p.getUsage.getMax)).sum
    (used >> 20, max >> 20)
  }

  def main(args: Array[String]): Unit = {
    // Isolated mode — the mechanized adjudication protocol: a fresh
    // JVM per query, so no within-session state (code cache, heap,
    // block manager, JIT profile pollution) carries between queries.
    // This is what four rounds of NOTES prose did by hand; now it is
    // one env var and its output is the same two-line artifact.
    if (sys.env.contains("GRAFT_BENCH_ISOLATED")) { runIsolated(args); return }
    // Scale mode — the mechanized scale probe: synthesize N× corpora
    // (graft.tools.ScaleCorpus), run the priciest families at each
    // scale in a fresh JVM per leg, emit ratios + interval exponents.
    // What BENCH_SCALE.json was as a one-shot hand-driven artifact,
    // now one env var — so a scale regression in a touched family is
    // caught the round it lands.
    if (sys.env.contains("GRAFT_BENCH_SCALE")) { runScale(args); return }
    // Sessions mode — min-of-fresh-JVM-sessions for the SUITE bench:
    // the scale probe's interleaved-sessions machinery applied to the
    // whole suite, so the committed artifact is a floor measurement
    // instead of one session's I/O-weather sample.
    val sessionsN = sys.env.get("GRAFT_BENCH_SESSIONS")
      .flatMap(_.trim.toIntOption).getOrElse(1)
    if (sessionsN > 1) { runSessions(args, sessionsN); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // min over `reps` runs per query: single-run local[32] timings swing
    // ±20% with GC/JIT noise; the minimum is the stable "cost of the
    // plan" estimate. Per-rep times are ALSO emitted so a contended run
    // (uniform inflation across untouched queries — the r9 failure mode)
    // is distinguishable from a real plan regression after the fact.
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Janino generated-class cache (STATIC conf, default 100 entries).
      // Measured (r22, JitProbe): ann_neardup_forced alone generates
      // ~130 distinct codegen sources per repetition, so at the default
      // the cache thrashes and EVERY rep recompiles all of them —
      // 3-10 s of C2 JIT inside every timed rep, which is session cost,
      // not plan cost (min-of-reps exists to strip exactly this). With
      // room for the suite's working set, reps 2..n recompile ~0 and
      // shared shapes reuse ACROSS queries. Same setting is justified
      // on production drivers/executors: a long-lived JVM running a
      // multi-operator pipeline holds > 100 codegen units, and an
      // entry is a few KB of source + bytecode (thousands of entries ≪
      // one task's working memory). Parameterized, not local[32]-tuned.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time JVM/codegen/IO warm-up outside the timed region
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // Contention sentinel: time a tiny fixed probe before the suite,
    // after every 10th query, and after — a SERIES, because a two-point
    // before/after check is blind to load that starts and ends mid-run
    // (measured: a concurrent test suite inflated 15 queries and still
    // left before ≈ after). Its plan never changes, so on a quiet
    // machine the series is flat after the first (still-warming) probe.
    // min-of-3 per probe so the sentinel isn't noisier than what it
    // guards.
    // Option, not a bare Double: if the probe file is missing the bench
    // must still run (without the contention check), matching the
    // swallow-Throwable warm-up above — a dev pointing SPARK_GRAFT_SF_DIR
    // at a partial dataset shouldn't crash at startup.
    def sentinelProbe(): Option[Double] =
      try {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.read.parquet(s"$sfDir/region.parquet").count()
          (System.nanoTime() - t0) / 1e9
        }
        Some(ts.min)
      } catch { case _: Throwable => None }
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    sentinels ++= sentinelProbe()
    // optional args filter to isolated queries (dev loop; driver passes none)
    val only = args.toSet
    val registered = (SparkEntry.queries ++ Queries.benchOnly).toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val (timed, errors) = timeSuite(spark, sfDir, registered, reps,
      onTick = qi => if (qi > 0 && qi % 10 == 0) sentinels ++= sentinelProbe())
    sentinels ++= sentinelProbe()
    val perRep = timed.map(t => t.name -> t.times)
    val spreads = perRep.map { case (n, ts) =>
      n -> (if (ts.min > 0) median(ts) / ts.min else 1.0)
    }
    val contended =
      contentionVerdict(sentinels.toSeq, spreads.map(_._2), reps)
    val results = perRep.map { case (n, ts) => n -> ts.min }
    val total = results.map(_._2).sum
    val swing = swingFlags(sfDir, results)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val repJson = perRep.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(fmt(_, 4)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val sentinelJson = sentinels.map(fmt(_, 4)).mkString("[", ",", "]")
    val sentinelObj =
      if (sentinels.isEmpty) s"""{"series":[]}"""
      else s"""{"series":$sentinelJson,"before":${fmt(sentinels.head, 4)},"after":${fmt(sentinels.last, 4)}}"""
    val errJson = errors.map { case (k, m) => "\"" + k + "\":" + jsonStr(m) }
      .mkString("{", ",", "}")
    val diagJson = timed.map { t =>
      "\"" + t.name + "\":" + diagObj(t.diag)
    }.mkString("{", ",", "}")
    // A thrown query must be LOUD: the r11/r12 benches recorded
    // time-to-throw for two analysis-broken queries as if they ran.
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    val jvm = jvmSummary()
    val swingJson = swing.map(s => jsonStr(s._1) + ":" + fmt(s._2, 2))
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec","mode":"suite","queries":$qs,"rep_times":$repJson,"spread":$spreadJson,"diag":$diagJson,"jvm":$jvm,"sentinel":$sentinelObj,"contended":$contended,"swing_flagged":$swingJson,"errors":$errJson,"sf":"$sfDir","reps":$reps,"agg":"min"}"""
    // Full detail also lands in a FILE: the driver that collects this
    // run keeps only a bounded tail of stdout, so the per-rep evidence
    // must survive somewhere a reviewer can always reach.
    writeDetail(full)
    // Two stdout lines, full first, compact LAST. The collector keeps
    // only the final ~2000 characters of output and parses a line that
    // starts with '{': the full line alone is ~4 kB and gets its head
    // truncated away, so the parseable record must be the short one.
    // The compact line keeps the slowest queries (where the perf signal
    // lives) under a hard byte budget; the full map is one line up and
    // in the detail file.
    println(full)
    println(compactLine(total, sfDir, contended, results, reps,
      errors.size, diag = timed.map(t => t.name -> t.diag).toMap,
      jvm = Some(jvm), swing = swing))
    spark.stop()
  }

  /** Mechanical session-swing adjudication: a query is flagged when its
    * min-of-reps exceeds 1.5× its committed FLOOR — the per-query min
    * across recent committed artifacts of the same sf
    * (`GRAFT_BENCH_FLOOR`, default `BENCH_FLOOR.json` in the launch
    * directory; regenerate it from new artifacts when plans genuinely
    * change). The 1.5× band is what the r18 isolated-baseline work
    * measured for same-day I/O swing on the store-building families.
    * Returns (name → value/floor ratio), worst first. Empty when the
    * floor file is absent, unreadable, or for a DIFFERENT sf — a dev
    * run at sf0.01 must not flag against sf0.1 floors.
    */
  private[graft] def swingFlags(sfDir: String,
      results: Seq[(String, Double)],
      path: String =
        sys.env.getOrElse("GRAFT_BENCH_FLOOR", "BENCH_FLOOR.json"))
      : Seq[(String, Double)] = {
    val sfName = sfDir.replaceAll("/+$", "").split('/').lastOption
      .getOrElse(sfDir)
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      if (node.get("sf") == null || node.get("sf").asText() != sfName) Nil
      else {
        val floors = node.get("floors")
        results.flatMap { case (n, v) =>
          Option(floors.get(n)).map(_.asDouble()).filter(_ > 0)
            .map(f => n -> v / f).filter(_._2 > 1.5)
        }.sortBy(-_._2)
      }
    } catch {
      // NonFatal only (ADVICE r20): the intended scope is a missing/
      // unreadable/wrong-shape floor file. Swallowing a fatal throwable
      // (OOM, linkage error) here would silently disable the
      // adjudication machinery — let those propagate. The benign path
      // is logged once so an absent floor file is visible, not silent.
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] swing floors unavailable ($path): " +
          s"${e.getClass.getSimpleName}; swing flags disabled this run")
        Nil
    }
  }

  /** `GRAFT_BENCH_SESSIONS=N` (N ≥ 2): run the whole suite N times,
    * each a FRESH JVM (same isolation reasoning as the scale probe's
    * interleaved legs), and report the per-query MIN across sessions —
    * the committed artifact then measures the plan's floor, not one
    * session's I/O weather, and the per-session maps ride along as the
    * variance exhibit. `contended` ORs the children's verdicts;
    * swing flags are recomputed on the MERGED values, so a family that
    * is slow in every session (a real regression) stays flagged while
    * one slow window disappears into the min.
    */
  private def runSessions(args: Array[String], sessions: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt.max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-X") ||
        a.startsWith("-D") || a.startsWith("--add-exports"))
    val cp = System.getProperty("java.class.path")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val perSession =
      scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val jvms = scala.collection.mutable.ArrayBuffer[String]()
    val errors = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // per-session verdicts kept alongside the OR: one flagged session
    // out of N is exactly the case the min absorbs, and the artifact
    // should show WHICH session was noisy rather than just "some were"
    val sessionContended = scala.collection.mutable.ArrayBuffer[Boolean]()
    var contended = false
    for (s <- 1 to sessions) {
      val detail = java.nio.file.Files
        .createTempFile(s"bench-sess-$s-", ".json")
      val logFile = java.io.File.createTempFile(s"bench-sess-$s-", ".log")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ args
      val pb = new ProcessBuilder(cmd.asJava)
      stripModeVars(pb)
      pb.environment().put("GRAFT_BENCH_DETAIL", detail.toString)
      pb.environment().put("GRAFT_BENCH_REPS", reps.toString)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(logFile))
      System.err.println(s"[bench-sessions] session $s/$sessions")
      val rc = pb.start().waitFor()
      val body = try new String(java.nio.file.Files.readAllBytes(detail),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: Throwable => "" }
      if (rc != 0 || body.isEmpty) {
        errors += s"session_$s" -> (s"child exit $rc, log: $logFile | " +
          logTail(logFile))
        // keep the per-session arrays index-aligned with the session
        // NUMBER: a reader correlating session_contended[i] with a
        // session_N error key must not see session 3's verdict in
        // slot 2 because session 2 died. Empty placeholders fall out
        // of the min-merge naturally (no values to contribute).
        perSession += Map.empty[String, Double]
        sessionContended += false
        jvms += "{}"
        java.nio.file.Files.deleteIfExists(detail) // log kept for autopsy
      } else {
        val node = mapper.readTree(body)
        // a zero-exit child whose detail lacks a queries object is a
        // MALFORMED session, not an NPE that aborts the sessions the
        // other children already paid for (ADVICE r20) — route it into
        // the errors map like a dead child, placeholders keep the
        // per-session arrays index-aligned
        Option(node.get("queries")).filter(_.isObject) match {
          case None =>
            // same autopsy strength as the dead-child branch (ADVICE
            // r21): the log tail rides along, not just the path
            errors += s"session_$s" ->
              (s"child exit 0 but detail has no queries object, " +
                s"log: $logFile | " + logTail(logFile))
            perSession += Map.empty[String, Double]
            sessionContended += false
            jvms += "{}"
            java.nio.file.Files.deleteIfExists(detail)
          case Some(qs) =>
            perSession += qs.fieldNames().asScala
              .map(q => q -> qs.get(q).asDouble()).toMap
            val c = Option(node.get("contended")).exists(_.asBoolean())
            sessionContended += c
            contended ||= c
            jvms += Option(node.get("jvm")).map(_.toString).getOrElse("{}")
            val errs = node.get("errors")
            if (errs != null) errs.fieldNames().asScala.foreach(q =>
              errors += s"${q}_s$s" -> errs.get(q).asText())
            java.nio.file.Files.deleteIfExists(detail)
            logFile.delete()
        }
      }
    }
    val names = perSession.flatMap(_.keys).distinct.sorted
    val merged = names.map(n => n -> perSession.flatMap(_.get(n)).min)
    val total = merged.map(_._2).sum
    val swing = swingFlags(sfDir, merged.toSeq)
    def qmap(m: Map[String, Double]): String =
      names.flatMap(n => m.get(n).map(v => "\"" + n + "\":" + fmt(v, 4)))
        .mkString("{", ",", "}")
    val qs = merged.map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val sessJson = perSession.map(qmap).mkString("[", ",", "]")
    val jvmJson = jvms.mkString("[", ",", "]")
    val errJson = errors.map { case (k, m) => "\"" + k + "\":" + jsonStr(m) }
      .mkString("{", ",", "}")
    val swingJson = swing.map(s => jsonStr(s._1) + ":" + fmt(s._2, 2))
      .mkString("{", ",", "}")
    if (errors.nonEmpty)
      System.err.println(s"[bench-sessions] ${errors.size} failures: " +
        errors.map(_._1).mkString(", "))
    val full = s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec","mode":"sessions","sessions":$sessions,"queries":$qs,"session_queries":$sessJson,"session_jvm":$jvmJson,"contended":$contended,"session_contended":${sessionContended.mkString("[", ",", "]")},"swing_flagged":$swingJson,"errors":$errJson,"sf":"$sfDir","reps":$reps,"agg":"min-of-sessions"}"""
    writeDetail(full)
    println(full)
    println(compactLine(total, sfDir, contended, merged.toSeq, reps,
      errors.size, mode = "sessions", swing = swing))
    // when EVERY session failed there is no measurement: "value":0.0
    // with exit 0 would read as a vacuous 0-second floor downstream
    // (ADVICE r20) — the artifact above still prints (the errors map is
    // the autopsy), but the process must not claim success
    if (names.isEmpty && errors.nonEmpty) sys.exit(1)
  }

  private def writeDetail(full: String): Unit = {
    val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
  }

  /** Suite-level JVM state at emit time. `gc_s`/`jit_s` are
    * since-JVM-start totals; `cc_used_mb` vs `cc_max_mb` shows how
    * close the code cache came to disabling compilation.
    */
  private[graft] def jvmSummary(): String = {
    val (ccUsed, ccMax) = codeCacheMb
    s"""{"up_s":${fmt(uptimeS, 1)},"gc_s":${fmt(gcTimeMs / 1e3, 1)},"jit_s":${fmt(jitTimeMs / 1e3, 1)},"cc_used_mb":$ccUsed,"cc_max_mb":$ccMax}"""
  }

  private def diagObj(d: QueryDiag): String =
    s"""{"pos":${d.pos},"up_s":${fmt(d.uptimeS, 1)},"gc_ms":${d.gcMs.mkString("[", ",", "]")},"jit_ms":${d.jitMs.mkString("[", ",", "]")},"cc_mb":${d.ccUsedMb}}"""

  /** Fresh-JVM-per-query benchmark: forks this same main once per
    * registered query (optionally filtered by args), with the parent's
    * own JVM flags and classpath, and merges the children's detail
    * files into one artifact with `"mode":"isolated"`. The merged
    * per-query value is each child's min-of-reps — measured with zero
    * within-session state, which is the number four rounds of manual
    * adjudication sessions kept reconstructing by hand.
    */
  private def runIsolated(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt.max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet
    val names = (SparkEntry.queries ++ Queries.benchOnly).keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-X") ||
        a.startsWith("-D") || a.startsWith("--add-exports"))
    val cp = System.getProperty("java.class.path")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val repTimes = scala.collection.mutable.ArrayBuffer[(String, Seq[Double])]()
    val diags = scala.collection.mutable.Map[String, String]()
    val errors = scala.collection.mutable.ArrayBuffer[(String, String)]()
    names.zipWithIndex.foreach { case (name, i) =>
      val detail = java.nio.file.Files
        .createTempFile(s"bench-iso-$name-", ".json")
      val logFile = java.io.File.createTempFile(s"bench-iso-$name-", ".log")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench", name))
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("GRAFT_BENCH_DETAIL", detail.toString)
      pb.environment().put("GRAFT_BENCH_REPS", reps.toString)
      stripModeVars(pb)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(logFile))
      System.err.println(s"[bench-isolated] ${i + 1}/${names.size} $name")
      val rc = pb.start().waitFor()
      val body = try new String(java.nio.file.Files.readAllBytes(detail),
        java.nio.charset.StandardCharsets.UTF_8) catch { case _: Throwable => "" }
      var failed = true
      if (rc != 0 || body.isEmpty)
        // a dead child's evidence is its LOG — name the path, and echo
        // the tail so the failure is diagnosable from this output alone
        errors += name -> (s"child exit $rc, detail " +
          s"${if (body.isEmpty) "empty" else "present"}, log: $logFile | " +
          logTail(logFile))
      else {
        val node = mapper.readTree(body)
        val errs = node.get("errors")
        if (errs != null && errs.has(name))
          errors += name -> errs.get(name).asText()
        else {
          results += name -> node.get("queries").get(name).asDouble()
          val rts = node.get("rep_times").get(name)
          repTimes += name ->
            (0 until rts.size()).map(j => rts.get(j).asDouble())
          // the child's jvm summary IS the query's isolation evidence:
          // uptime ≈ startup + warm-up + reps, code cache near-empty
          diags += name -> node.get("jvm").toString
          failed = false
        }
      }
      // successful children leave no debris (~140 queries × 2 temp
      // files per run otherwise); failures keep their log for autopsy
      if (!failed) {
        java.nio.file.Files.deleteIfExists(detail)
        logFile.delete()
      }
    }
    val total = results.map(_._2).sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 4) }
      .mkString("{", ",", "}")
    val repJson = repTimes.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(fmt(_, 4)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val diagJson = diags.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => "\"" + k + "\":" + jsonStr(m) }
      .mkString("{", ",", "}")
    if (errors.nonEmpty)
      System.err.println(s"[bench-isolated] ${errors.size} queries FAILED: " +
        errors.map(_._1).mkString(", "))
    val full = s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec","mode":"isolated","queries":$qs,"rep_times":$repJson,"child_jvm":$diagJson,"contended":false,"errors":$errJson,"sf":"$sfDir","reps":$reps,"agg":"min"}"""
    writeDetail(full)
    println(full)
    println(compactLine(total, sfDir, contended = false, results.toSeq,
      reps, errors.size, mode = "isolated"))
  }

  /** The scale probe's default family set — the priciest bench
    * families, kept identical to r18's hand-driven BENCH_SCALE.json so
    * the curves stay comparable round over round. Override by passing
    * query names as args.
    */
  private[graft] val DefaultScaleFamilies = Seq(
    "ann_neardup_incremental", "dedup_minhash_forced",
    "dedup_tfidf_forced", "dedup_tfidf_incremental",
    "search_bm25_segmented", "search_bm25_store_topk",
    // probe-only twin (r20): store build amortized once per leg JVM,
    // so this curve is the 100 TB-relevant PROBE scaling while
    // search_bm25_store_topk above keeps pricing build+probe
    "search_bm25_store_probe")
  // NOT in the default set: the df-ceiling twins
  // (search_bm25_*_maxdf). ScaleCorpus deliberately splits vocabulary
  // per replica (dfs stay constant as N grows), which makes any
  // N-relative ceiling inert at factor > 1 — their curves here would
  // measure the corpus model, not the knob. The knob's scale value is
  // measured under the production df model (stopword df ∝ N, fixed
  // queries) by graft.tools.ProfileBm25's verbatim-duplication factor
  // mode; pass the names as args to probe them here anyway.

  /** Mechanized scale probe (`GRAFT_BENCH_SCALE=1`): for each factor in
    * `GRAFT_SCALE_FACTORS` (default "3,10"), fork
    * [[graft.tools.ScaleCorpus]] to synthesize the N× corpus under
    * `GRAFT_SCALE_DIR` (default `<tmpdir>/graft_scale`; set
    * `GRAFT_SCALE_REUSE=1` to keep corpora across runs — synthesis is
    * deterministic), then run the family set at 1× and at each factor,
    * each leg a FRESH JVM (the same isolation reasoning as
    * `GRAFT_BENCH_ISOLATED`: a scale curve polluted by the previous
    * leg's JIT/heap state measures the session, not the scaling).
    * Each leg runs `GRAFT_SCALE_SESSIONS` times (default 2) and the
    * reported time is the per-query MIN across sessions: the I/O-heavy
    * store-building families measurably swing ~2× across same-day
    * sessions (r18's isolated-baseline finding — a slow window taxes
    * the 64-partition store rewrites, not the compute-bound probes),
    * and a single slow leg would otherwise print a fake exponent.
    * Sessions interleave legs (1×,3×,10×, 1×,3×,10×) so one slow
    * window cannot bias one scale point; per-session values are kept
    * in the artifact as the variance exhibit. Emits one JSON line with
    * per-leg query times, ratios vs 1×, and interval exponents
    * e = ln(t_b/t_a)/ln(f_b/f_a) (1.0 linear, 0.0 flat); detail also
    * lands in `GRAFT_BENCH_DETAIL` (default BENCH_SCALE_DETAIL.json).
    */
  private def runScale(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "2").toInt.max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("GRAFT_SCALE_FACTORS", "3,10")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .filter(_ > 1).distinct.sorted.toSeq
    val families = if (args.nonEmpty) args.toSeq else DefaultScaleFamilies
    // corpus model (r22): "split" = per-replica vocabulary (default,
    // the no-artificial-near-dups model); "dup" = verbatim doc replicas
    // (df ∝ N - the regime where the BM25 maxDf ceiling is live; BM25
    // families only). Each model keeps its own default corpus tree, and
    // a reused corpus must carry this model's marker, so
    // GRAFT_SCALE_REUSE cannot serve one model's corpus to the other even
    // under an explicit GRAFT_SCALE_DIR.
    val model = sys.env.getOrElse("GRAFT_SCALE_MODEL", "split")
    graft.tools.ScaleCorpus.requireModel(model)
    val work = sys.env.getOrElse("GRAFT_SCALE_DIR",
      System.getProperty("java.io.tmpdir") +
        (if (model == "split") "/graft_scale" else s"/graft_scale_$model"))
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-X") ||
        a.startsWith("-D") || a.startsWith("--add-exports"))
    val cp = System.getProperty("java.class.path")
    def fork(mainClass: String, mainArgs: Seq[String],
        env: Map[String, String], label: String): (Int, java.io.File) = {
      val logFile = java.io.File.createTempFile(s"bench-scale-$label-", ".log")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, mainClass) ++ mainArgs
      val pb = new ProcessBuilder(cmd.asJava)
      stripModeVars(pb)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(logFile))
      (pb.start().waitFor(), logFile)
    }
    // 1. corpora (fresh JVM each — synthesis must not warm the legs)
    val legs = scala.collection.mutable.ArrayBuffer[(Int, String)]((1, sfDir))
    val errors = scala.collection.mutable.ArrayBuffer[(String, String)]()
    factors.foreach { f =>
      val out = s"$work/sf${f}x"
      if (sys.env.contains("GRAFT_SCALE_REUSE") &&
          graft.tools.ScaleCorpus.reusable(out, model)) {
        System.err.println(s"[bench-scale] reuse ${f}x corpus at $out")
        legs += f -> out
      } else {
        System.err.println(s"[bench-scale] synthesize ${f}x corpus -> $out")
        val (rc, log) = fork("graft.tools.ScaleCorpus",
          Seq(sfDir, out, f.toString, model), Map.empty, s"corpus-$f")
        if (rc != 0)
          errors += s"corpus_${f}x" -> s"synthesis exit $rc, log: $log | ${logTail(log)}"
        else { legs += f -> out; log.delete() }
      }
    }
    // 2. fresh-JVM bench legs, `sessions` passes interleaved over the
    // scales; reported value = per-query min across a leg's sessions
    val sessions = sys.env.getOrElse("GRAFT_SCALE_SESSIONS", "2").toInt.max(1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val sessionResults = scala.collection.mutable
      .LinkedHashMap[Int, List[Map[String, Double]]]().withDefaultValue(Nil)
    val legDiags = scala.collection.mutable
      .LinkedHashMap[Int, List[String]]().withDefaultValue(Nil)
    for (s <- 1 to sessions; (f, dir) <- legs) {
      val detail = java.nio.file.Files
        .createTempFile(s"bench-scale-$f-s$s-", ".json")
      System.err.println(s"[bench-scale] leg ${f}x session $s/$sessions " +
        s"(${families.size} families, reps=$reps)")
      val (rc, log) = fork("graft.Bench", families,
        Map("SPARK_GRAFT_SF_DIR" -> dir,
          "GRAFT_BENCH_REPS" -> reps.toString,
          "GRAFT_BENCH_DETAIL" -> detail.toString), s"leg-$f-s$s")
      val body = try new String(java.nio.file.Files.readAllBytes(detail),
        java.nio.charset.StandardCharsets.UTF_8) catch { case _: Throwable => "" }
      if (rc != 0 || body.isEmpty)
        errors += s"leg_${f}x_s$s" -> s"child exit $rc, log: $log | ${logTail(log)}"
      else {
        val node = mapper.readTree(body)
        val qs = node.get("queries")
        sessionResults += f -> (sessionResults(f) :+ families.flatMap(q =>
          Option(qs.get(q)).map(q -> _.asDouble())).toMap)
        legDiags += f -> (legDiags(f) :+
          Option(node.get("diag")).map(_.toString).getOrElse("{}"))
        val errs = node.get("errors")
        if (errs != null) errs.fieldNames().asScala.foreach(q =>
          errors += s"${q}_${f}x_s$s" -> errs.get(q).asText())
        java.nio.file.Files.deleteIfExists(detail)
        log.delete()
      }
    }
    val legResults = sessionResults.map { case (f, ms) =>
      f -> families.flatMap { q =>
        val vs = ms.flatMap(_.get(q))
        if (vs.isEmpty) None else Some(q -> vs.min)
      }.toMap
    }
    // 3. ratios vs 1x + interval exponents between consecutive legs
    def qmap(m: Map[String, Double]): String =
      families.flatMap(q => m.get(q).map(v => "\"" + q + "\":" + fmt(v, 4)))
        .mkString("{", ",", "}")
    val legKeys = legResults.keys.toSeq
    val base = legResults.getOrElse(1, Map.empty)
    val ratios = legKeys.filter(_ > 1).map { f =>
      "\"" + f + "x\":" + qmap(legResults(f).flatMap { case (q, t) =>
        base.get(q).filter(_ > 0).map(b => q -> t / b) })
    }.mkString("{", ",", "}")
    val exponents = legKeys.zip(legKeys.drop(1)).map { case (a, b) =>
      val scale = math.log(b.toDouble / a) // factor ratio
      "\"" + a + "x->" + b + "x\":" + qmap(
        legResults(b).flatMap { case (q, t) =>
          legResults(a).get(q).filter(_ > 0)
            .map(p => q -> math.log(t / p) / scale) })
    }.mkString("{", ",", "}")
    val queriesJson = legKeys.map(f => "\"" + f + "x\":" + qmap(legResults(f)))
      .mkString("{", ",", "}")
    // the variance exhibit: every session's per-query values + diag
    val sessionsJson = legKeys.map { f =>
      "\"" + f + "x\":" + sessionResults(f).map(qmap)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val diagJson = legDiags.map { case (f, ds) =>
      "\"" + f + "x\":" + ds.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => "\"" + k + "\":" + jsonStr(m) }
      .mkString("{", ",", "}")
    if (errors.nonEmpty)
      System.err.println(s"[bench-scale] ${errors.size} legs/queries FAILED: " +
        errors.map(_._1).mkString(", "))
    val modelDesc =
      if (model == "dup")
        "corpus model 'dup' (graft.tools.ScaleCorpus): verbatim doc " +
          "replicas - dfs grow with N (stopword df proportional to N), " +
          "the production regime where N-relative df ceilings are live; " +
          "embeddings still rotated. BM25/maxdf families only - every " +
          "doc is an N-way verbatim duplicate under this model"
      else
        "corpus model 'split' (graft.tools.ScaleCorpus): token-prefixed " +
          "doc replicas, rotated embeddings - no artificial near-dup " +
          "pairs; dfs constant per replica, so N-relative df ceilings " +
          "are deliberately inert here"
    val what = "mechanized scale probe: priciest bench families at 1x " +
      "(driver testdata) vs ScaleCorpus-synthesized factors; fresh JVM " +
      "per leg, legs interleaved over " + sessions + " sessions, value " +
      "= per-query min across sessions (store-building families swing " +
      "~2x across same-day sessions; session_queries is the variance " +
      "exhibit); interval exponent e = ln(t_b/t_a)/ln(f_b/f_a), 1.0 " +
      "linear, 0.0 flat; " + modelDesc
    val full = s"""{"metric":"scale","unit":"sec","mode":"scale","what":${jsonStr(what)},"corpus_model":${jsonStr(model)},"sf":"$sfDir","reps":$reps,"sessions":$sessions,"agg":"min","factors":${legKeys.mkString("[", ",", "]")},"queries":$queriesJson,"ratio":$ratios,"interval_exponent":$exponents,"session_queries":$sessionsJson,"diag":$diagJson,"errors":$errJson}"""
    val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL",
      "BENCH_SCALE_DETAIL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    println(full)
  }

  /** Last ~3 non-blank lines of a child log, flattened for the error
    * map (stack-trace head lines usually carry the message).
    */
  private def logTail(f: java.io.File): String =
    try {
      val ls = scala.io.Source.fromFile(f, "UTF-8")
      try ls.getLines().filter(_.trim.nonEmpty).toSeq.takeRight(3)
        .mkString(" / ").take(400)
      finally ls.close()
    } catch { case _: Throwable => "(log unreadable)" }

  /** Time each registered query `reps` times. A query whose execution
    * THROWS lands in the returned error map (exception class + first
    * message line) instead of the timing map, and its remaining reps are
    * skipped — recording time-to-throw as a legitimate number made two
    * analysis-broken queries look benched for two rounds (r11/r12).
    *
    * Each timed run is isolated: operators that persist() intermediates
    * (dedup/ANN families) would otherwise leave cached blocks that tax
    * every query after them in the alphabetical order — the r7 bench
    * showed code-unchanged small queries slowing 2-8x from exactly this.
    * Cache clear + GC happen OUTSIDE the timed region, then a 200 ms
    * drain so the async ContextCleaner's broadcast/shuffle cleanup does
    * not land inside whichever small query runs next (mdkv_doc_level
    * measured 0.7 s isolated vs ~3 s mid-suite from exactly this).
    *
    * The noop sink, not count(): count() lets Catalyst prune every
    * unreferenced projection, so projection-heavy queries would time a
    * bare scan instead of the operator. The noop sink consumes every row
    * and column with zero write cost.
    *
    * Each successful query also carries a [[QueryDiag]]: suite
    * position, JVM uptime at start, per-rep in-region GC/JIT time, and
    * code-cache occupancy — the fields that let the committed artifact
    * adjudicate an inflated number as environmental (late position +
    * high gc/jit share + hot code cache) or real (clean diag, still
    * slow) without a separate isolated session.
    */
  private[graft] def timeSuite(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      reps: Int, onTick: Int => Unit = _ => ())
      : (Seq[Timed], Seq[(String, String)]) = {
    val timed = queries.zipWithIndex.map { case ((name, fn), qi) =>
      onTick(qi)
      var err: Option[String] = None
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val gcs = scala.collection.mutable.ArrayBuffer[Long]()
      val jits = scala.collection.mutable.ArrayBuffer[Long]()
      val up0 = uptimeS
      val cc0 = codeCacheMb._1
      var rep = 0
      while (rep < reps && err.isEmpty) {
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val gc0 = gcTimeMs
        val jit0 = jitTimeMs
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times += (System.nanoTime() - t0) / 1e9
          gcs += gcTimeMs - gc0
          jits += jitTimeMs - jit0
        } catch {
          case e: Throwable =>
            err = Some(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("")
                .linesIterator.take(1).mkString.take(200))
        }
        rep += 1
      }
      (name, times.toSeq,
        QueryDiag(qi, up0, gcs.toSeq, jits.toSeq, cc0), err)
    }
    (timed.collect { case (n, ts, d, None) => Timed(n, ts, d) },
      timed.collect { case (n, _, _, Some(m)) => n -> m })
  }

  /** Minimal JSON string escape for exception messages. */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")

  /** Locale.ROOT: the f-interpolator honors the JVM default locale, and
    * a comma-decimal locale would emit invalid JSON.
    */
  private[graft] def fmt(d: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** The machine-readable benchmark record, sized to survive tail
    * truncation: one line, starting at column zero with '{', at most
    * [[CompactBudget]] bytes INCLUDING everything that follows it on a
    * collector's 2000-byte tail (sbt's trailing "[success] ..." line).
    *
    * Queries are admitted slowest-first until the budget is reached —
    * regressions surface in the slow tail, so those names must always
    * be present — and the count of dropped fast queries is recorded as
    * `omitted` (their time is still inside `value`). Values carry 2
    * decimals: at the ≥50 ms magnitude where queries can be omitted,
    * ±5 ms resolution is already below run-to-run noise.
    *
    * When per-query diag is available, the SLOWEST [[DiagTop]] queries
    * also carry `[pos, up_s, gc_ms, jit_ms, cc_mb]` under `"diag"` and
    * the suite-level JVM summary rides along under `"jvm"` — the
    * self-adjudication data must reach the artifact the collector
    * actually keeps, and the collector keeps only this line. The cost
    * is a few more omitted fast queries; the slow tail (where the
    * adjudication question ever arises) always keeps its evidence.
    */
  private[graft] val CompactBudget = 1800
  private[graft] val DiagTop = 8
  private[graft] def compactLine(total: Double, sfDir: String,
      contended: Boolean, results: Seq[(String, Double)], reps: Int,
      errors: Int = 0, diag: Map[String, QueryDiag] = Map.empty,
      jvm: Option[String] = None, mode: String = "suite",
      swing: Seq[(String, Double)] = Nil): String = {
    val sfName = sfDir.replaceAll("/+$", "").split('/').lastOption.getOrElse(sfDir)
    val bySlowest = results.sortBy(-_._2)
    val diagJson =
      if (diag.isEmpty) ""
      else bySlowest.take(DiagTop).flatMap { case (n, _) =>
        diag.get(n).map { d =>
          "\"" + n + s"\":[${d.pos},${fmt(d.uptimeS, 0)},${d.gcMs.sum},${d.jitMs.sum},${d.ccUsedMb}]"
        }
      }.mkString(",\"diag\":{", ",", "}")
    val jvmJson = jvm.map(j => s""","jvm":$j""").getOrElse("")
    // swing names (mechanical adjudication verdict) always survive the
    // budget loop — worst DiagTop ratios only, so a pathological run
    // can't flood the line
    val swingJson = swing.take(DiagTop)
      .map(s => jsonStr(s._1) + ":" + fmt(s._2, 2))
      .mkString(",\"swing\":{", ",", "}")
    def render(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","sf":"$sfName","reps":$reps,"agg":"min","mode":"$mode","contended":$contended,"errors":$errors$jvmJson$diagJson$swingJson,"omitted":$omitted,"detail":"BENCH_DETAIL.json","queries":$qs}"""
    }
    // admit slowest-first until the rendered line fits the budget
    var keep = bySlowest.size
    while (keep > 0 &&
        render(bySlowest.take(keep), bySlowest.size - keep).length > CompactBudget)
      keep -= 1
    render(bySlowest.take(keep), bySlowest.size - keep)
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Contention verdict from two independent signals; flagged when
    * EITHER fires (each alone can miss a load shape):
    *
    *  - Sentinel drift: any post-warm-up probe (the FIRST probe still
    *    carries JIT/IO warm-up and is excluded) exceeding 2.5× the
    *    series minimum means the machine slowed mid-run even if it was
    *    quiet at both ends.
    *  - Spread: per-query median/min over the reps. A quiet full run
    *    measures ~5% of queries above 1.5 and none above 2.0; a run
    *    co-loaded with a test suite measures 18% / 11%. Thresholds sit
    *    between: >10% above 1.5 or >5% above 2.0. Needs >= 3 reps
    *    (with 2, the median averages in the first rep's legitimate
    *    warm-up residual) and >= 20 queries (on a dev-loop subset one
    *    GC-unlucky query dominates the fraction; the driver's full run
    *    always qualifies).
    */
  private[graft] def contentionVerdict(sentinels: Seq[Double],
      spreads: Seq[Double], reps: Int): Boolean = {
    val post = sentinels.drop(1).filter(_ > 0)
    val sentinelDrift = post.size >= 2 && post.max / post.min > 2.5
    def frac(thr: Double): Double =
      if (spreads.nonEmpty) spreads.count(_ > thr).toDouble / spreads.size
      else 0.0
    val spreadFlag = reps >= 3 && spreads.size >= 20 &&
      (frac(1.5) > 0.10 || frac(2.0) > 0.05)
    sentinelDrift || spreadFlag
  }
}
