package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The committed swing-floor file and its mechanized refresh verb
  * (tools/refresh_bench_floor.py, r22 — closes the r20/r21 verdicts'
  * "floor regeneration is an editorial act" item).
  *
  * Shape cases pin the committed BENCH_FLOOR.json against the query
  * registry; verb cases run the script on synthetic fixtures and pin
  * the two rules it owns: the same-sf guard and the elementwise-min
  * (never-raise) merge.
  */
class FloorRefreshSpec extends AnyFunSuite with Matchers {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("BENCH_FLOOR.json: sf0.1, positive floors, keys == registered bench entries") {
    val f = new java.io.File("BENCH_FLOOR.json")
    assume(f.exists(), "floor file present in launch dir")
    val node = mapper.readTree(f)
    node.get("sf").asText() shouldBe "sf0.1"
    val floors = node.get("floors")
    import scala.jdk.CollectionConverters._
    val names = floors.fieldNames().asScala.toSet
    val registered =
      (graft.SparkEntry.queries ++ graft.Queries.benchOnly).keySet
    // every floor belongs to a live bench entry (stale floors would
    // silently never flag) and every entry has a floor (a new entry
    // without one is unadjudicated)
    names shouldBe registered
    names.foreach(n => floors.get(n).asDouble() should be > 0.0)
  }

  private def havePython: Boolean =
    try new ProcessBuilder("python3", "--version").start().waitFor() == 0
    catch { case _: Exception => false }

  private def run(args: Seq[String]): (Int, String) = {
    val pb = new ProcessBuilder(
      (Seq("python3", "tools/refresh_bench_floor.py") ++ args): _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }

  private def write(path: java.nio.file.Path, s: String): Unit =
    java.nio.file.Files.writeString(path, s)

  test("refresh verb: elementwise min lowers and adds, never raises") {
    assume(havePython, "python3 available")
    val dir = java.nio.file.Files.createTempDirectory("floor-spec-")
    val floor = dir.resolve("floor.json")
    write(floor,
      """{"floors": {"a": 2.0, "b": 1.0}, "sf": "sf0.1", "source": "s", "what": "w"}""")
    val art = dir.resolve("art.json")
    write(art,
      """{"metric":"total","queries":{"a":1.5,"b":4.0,"c":0.7},"sf":"/root/testdata/sf0.1"}""")
    val (rc, out) = run(Seq(floor.toString, art.toString, "--source", "t"))
    rc shouldBe 0
    withClue(out) {
      val node = mapper.readTree(floor.toFile)
      node.get("floors").get("a").asDouble() shouldBe 1.5 // lowered
      node.get("floors").get("b").asDouble() shouldBe 1.0 // NOT raised to 4.0
      node.get("floors").get("c").asDouble() shouldBe 0.7 // new entry added
    }
    // idempotent: --check against the same artifact now matches
    val (rc2, _) = run(Seq("--check", floor.toString, art.toString))
    rc2 shouldBe 0
  }

  test("refresh verb: a different-sf artifact is refused, file untouched") {
    assume(havePython, "python3 available")
    val dir = java.nio.file.Files.createTempDirectory("floor-spec-")
    val floor = dir.resolve("floor.json")
    val before =
      """{"floors": {"a": 2.0}, "sf": "sf0.1", "source": "s", "what": "w"}"""
    write(floor, before)
    val art = dir.resolve("art.json")
    write(art, """{"queries":{"a":0.1},"sf":"/root/testdata/sf0.01"}""")
    val (rc, out) = run(Seq(floor.toString, art.toString))
    withClue(out) { rc should not be 0 }
    java.nio.file.Files.readString(floor) shouldBe before
  }

  test("refresh verb: reads pretty-printed artifacts; the default note is replaced, not chained") {
    assume(havePython, "python3 available")
    val dir = java.nio.file.Files.createTempDirectory("floor-spec-")
    val floor = dir.resolve("floor.json")
    write(floor,
      """{"floors": {"a": 2.0}, "sf": "sf0.1", "source": "s", "what": "w"}""")
    val art = dir.resolve("art.json")
    write(art, "{\n \"queries\": {\"a\": 1.0},\n \"sf\": \"/data/sf0.1\"\n}\n")
    def source(): String = mapper.readTree(floor.toFile).get("source").asText()
    val (rc, out) = run(Seq(floor.toString, art.toString))
    withClue(out) { rc shouldBe 0 }
    mapper.readTree(floor.toFile).get("floors").get("a").asDouble() shouldBe 1.0
    val first = source()
    first should not include "s + "
    val (rc2, out2) = run(Seq(floor.toString, art.toString))
    withClue(out2) { rc2 shouldBe 0 }
    source() shouldBe first
  }
}
