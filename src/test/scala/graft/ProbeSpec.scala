package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.apps.Probe
import graft.engine.{ContentAddress, Tiers}

/** The query-name selector every main shares, and each `Probe` mode run
  * in the shared session, which `Probe.run` must leave running. */
class ProbeSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  private def probe(args: String*): Seq[String] = {
    val lines = Probe.run(spark, args)
    assert(!spark.sparkContext.isStopped, "Probe.run stopped the session it was given")
    assert(spark.range(3).count() == 3)
    lines
  }

  test("select: an exact name selects that query") {
    assert(SparkEntry.select("q02_project_cast") == Seq("q02_project_cast"))
  }

  test("select: a bare qN or qNN selects the query with that number, never a prefix") {
    assert(SparkEntry.select("q1") == Seq("q01_hourly_agg"))
    assert(SparkEntry.select("q01") == Seq("q01_hourly_agg"))
    assert(SparkEntry.select("q2") == Seq("q02_project_cast"))
    assert(SparkEntry.select("q10") == Seq("q10_describe"))
    assert(SparkEntry.select("q100") == Seq("q100_chunk_docs"))
  }

  test("select: anything else is a name prefix, and the result is in numeric order") {
    assert(SparkEntry.select("q25_,q24_") ==
      Seq("q24_validity_routing", "q25_response_envelope"))
    assert(SparkEntry.select("q100,q10,q9,q10") ==
      Seq("q09_null_counts", "q10_describe", "q100_chunk_docs"))
    assert(SparkEntry.names.size == SparkEntry.queries.size)
    assert(SparkEntry.names.map(SparkEntry.number) == (1 to SparkEntry.names.size))
  }

  test("select: an item that matches nothing fails with a message") {
    val e = intercept[IllegalArgumentException](SparkEntry.select("q02,nosuch_"))
    assert(e.getMessage.contains("no query matches 'nosuch_'"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select("q9999"))
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }

  test("time runs the selected query for the given reps") {
    val lines = probe("time", "q02", sfDir, "1")
    assert(lines.size == 1, lines)
    assert(lines.head.startsWith("PROBE time q02_project_cast rep 1: "), lines)
    assert(lines.head.endsWith(" rows"), lines)
  }

  test("plan writes each query's formatted plan as a section") {
    val out = Files.createTempDirectory("graft-probe-plan").resolve("plans/PLANS.md")
    val lines = probe("plan", "q2,q3", out.toString, sfDir)
    assert(lines == Seq(s"PROBE plan 2 plans -> $out"), lines)
    val text = Files.readString(out)
    assert(text.contains("## q02_project_cast") && text.contains("## q03_filter_conj"))
    assert(text.contains("`q2,q3`"), "the header must record the names")
    assert(text.contains("ReadSchema"), text.take(400))
  }

  test("build wipes a tier and rebuilds it readable") {
    val props = Tiers.props(spark, sfDir)
    val marker = new java.io.File(props, "marker")
    marker.getParentFile.mkdirs()
    assert(marker.createNewFile() || marker.exists())
    val lines = probe("build", "props", sfDir, "1")
    assert(!marker.exists(), "build did not wipe the tier directory")
    assert(lines.size == 1, lines)
    assert(lines.head.startsWith("PROBE build props rep 1: ") &&
      lines.head.contains("built=true"), lines)
    assert(ContentAddress.hasSuccess(spark, s"$props/kv"))
    assert(spark.read.parquet(s"$props/kv").count() > 0)
    // the rebuilt tier serves its queries
    assert(SparkEntry.queries("q173_props_profile")(spark, sfDir).count() > 0)
  }

  test("ccsize labels a small graph on the driver") {
    val lines = probe("ccsize", "auto", "1000")
    assert(lines.size == 1, lines)
    assert(lines.head.startsWith("PROBE ccsize mode=auto edges=1000 seconds="), lines)
    assert(lines.head.endsWith("plan=LocalRelation"), lines)
  }

  test("an unknown mode, name, tier or ccsize mode fails with a message") {
    def fails(args: String*): String =
      intercept[IllegalArgumentException](probe(args: _*)).getMessage
    assert(fails("layers", "q02").startsWith("usage: Probe"))
    assert(fails().startsWith("usage: Probe"))
    assert(fails("time", "nosuch_", sfDir).contains("no query matches 'nosuch_'"))
    assert(fails("time", "q02").startsWith("usage: Probe"))
    assert(fails("build", "nosuch", sfDir).contains("no tier 'nosuch'"))
    assert(fails("build", "cccmp", sfDir).contains("no tier 'cccmp'"))
    assert(fails("ccsize", "fast", "10").contains("not driver|loop|auto"))
    assert(!spark.sparkContext.isStopped)
  }
}
