package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session; sbt forks
  * a single test JVM, so `getOrCreate` dedupes across suites).
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Temporary directories a spec creates with [[tempDir]], deleted after
  * the spec's last test so store fixtures do not pile up under the
  * system temp directory run after run.
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory named `prefix…`, removed after the spec. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
