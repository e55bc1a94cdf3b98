package graft.sources

import graft.core.{Coercion, DataContract}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV source (SURVEY.md §2.1 S1).
  *
  * Reference behavior (src/dativo_ingest/connectors/csv_extractor.py:13-222):
  * every column is read as a string; the null markers "", "NULL", "null",
  * "None" become real nulls; options delimiter/quote/encoding/header are
  * honored; chunked reading is the reference's manual parallelism, which
  * Spark replaces with file-split parallel scans (vectorized reader), so no
  * chunk_size knob is needed here.
  *
  * Coercion to the contract types is deliberately NOT done here — it is the
  * separate T1 operator (graft.core.Coercion), exactly like the reference
  * splits extraction from validation.
  */
final case class CsvOptions(
    delimiter: String = ",",
    quoteChar: String = "\"",
    encoding: String = "utf-8",
    header: Boolean = true
)

object CsvSource {

  /** All-string scan with reference null-marker semantics.
    *
    * With a header row the FILE's own column names are used (every column
    * string-typed) and the contract is applied BY NAME downstream —
    * forcing the contract schema positionally would silently mis-assign
    * values when the file reorders or adds columns, where the reference
    * (pandas read_csv + per-record dict validation) matches by name.
    * Headerless files fall back to the contract's declared order.
    */
  def read(
      spark: SparkSession,
      paths: Seq[String],
      contract: DataContract,
      opts: CsvOptions = CsvOptions()
  ): DataFrame = {
    def scan(ps: Seq[String]): DataFrame = {
      var reader = spark.read
        .option("header", opts.header.toString)
        .option("sep", opts.delimiter)
        .option("quote", opts.quoteChar)
        .option("encoding", opts.encoding)
        .option("inferSchema", "false") // every column lands as string
        // Spark's own null handling is disabled so the reference's marker
        // list is the single source of truth:
        .option("nullValue", null: String)
        .option("emptyValue", "")
      if (!opts.header) reader = reader.schema(contract.rawStructType)
      reader.csv(ps: _*)
    }
    // Multi-file scans take the FIRST file's header and map the others
    // positionally — silent column mis-assignment when files disagree.
    // Expand dirs/globs to leaf files, probe each raw header line
    // driver-side, and run ONE scan per distinct header, unioned by name
    // — which is the reference's semantics exactly (pandas parses every
    // file independently; a header spelled differently IS a different
    // column there too). Zero-byte files contribute nothing, like the
    // old single-scan behavior.
    val raw =
      if (!opts.header) scan(paths)
      else {
        val hconf = spark.sessionState.newHadoopConf()
        val leafFiles = paths.flatMap { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(hconf)
          Option(fs.globStatus(hp)).toSeq.flatten.flatMap { st =>
            if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
            else Seq(st)
          }.map(_.getPath)
        }
        // Probe headers with a bounded driver pool: each probe is one
        // remote open+readLine round-trip, so a serial loop over an
        // object store costs O(n_files) latencies (minutes at 100k
        // files); 32-wide it's seconds. Results keep file order.
        val probed = {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(32, math.max(1, leafFiles.size)))
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence(leafFiles.map { f =>
            Future {
              val fs = f.getFileSystem(hconf)
              val in = new java.io.BufferedReader(
                new java.io.InputStreamReader(fs.open(f), opts.encoding))
              val header = try Option(in.readLine()).getOrElse("") finally in.close()
              header -> f.toString
            }
          }), Duration.Inf)
          finally pool.shutdown()
        }
        val byHeader = probed
          .filter(_._1.nonEmpty) // empty files: no header, no data
          .groupBy(_._1).values.map(_.map(_._2)).toSeq
        byHeader match {
          case Seq()       => scan(paths) // nothing non-empty; 0-row scan
          case Seq(single) => scan(single)
          case groups => groups.map(scan)
            .reduce(_.unionByName(_, allowMissingColumns = true))
        }
      }
    // "", NULL, null, None → real NULL (csv_extractor.py null markers)
    raw.select(raw.columns.map(c => Coercion.nullifyMarkers(col(c)).as(c)): _*)
  }
}
