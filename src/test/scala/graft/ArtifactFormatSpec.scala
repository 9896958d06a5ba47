package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's JSON must be byte-valid regardless of the
  * box's default locale — the `f` interpolator renders comma decimals
  * on e.g. de_DE, which silently breaks the driver's json parse (a
  * real failure mode from an earlier round). These tests pin the
  * formatting helpers under a hostile default locale.
  */
class ArtifactFormatSpec extends AnyFunSuite {

  private def withLocale[A](l: Locale)(body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  test("dec/num emit dot decimals even under a comma-decimal default locale") {
    withLocale(Locale.GERMANY) {
      assert(Bench.dec(4.3, 2) == "4.30")
      assert(Bench.num(4.3) == "4.3")
      assert(Bench.dec(-1.0, 2) == "-1.00") // the failed-probe sentinel
      // the f interpolator really is locale-sensitive here — the guard
      // exists because this would otherwise reach the artifact
      assert(f"${4.3}%.2f" == "4,30")
    }
  }

  test("num strips trailing zeros but never the integer part") {
    assert(Bench.num(1.50) == "1.5")
    assert(Bench.num(3.00) == "3")
    assert(Bench.num(0.07) == "0.07")
    assert(Bench.num(10.0) == "10")
  }

  test("qnum never exceeds 3 chars; rounding can't add a digit") {
    assert(Bench.qnum(0.07) == "0.1")
    assert(Bench.qnum(0.04) == "0")       // sub-50ms rounds to the bare zero
    assert(Bench.qnum(1.50) == "1.5")
    assert(Bench.qnum(9.94) == "9.9")     // still 1-decimal side
    assert(Bench.qnum(9.95) == "10")      // integer side
    assert(Bench.qnum(31.06) == "31")
    assert(Bench.qnum(151.3) == "151")
    assert(Bench.qnum(999.5) == "999")    // display cap, never 4 chars
    assert(Bench.qnum(123456.7) == "999")
    for (v <- Seq(0.004, 0.5, 9.9449, 9.95, 42.42, 99.95, 999.4,
        999.5, 1e7, Double.MaxValue))
      assert(Bench.qnum(v).length <= 3, s"$v -> ${Bench.qnum(v)}")
  }

  test("jsonStr escapes quotes/backslashes and flattens newlines") {
    assert(Bench.jsonStr("""a"b\c""") == "\"a\\\"b\\\\c\"")
    assert(Bench.jsonStr("x\ny\rz\tw") == "\"x y z w\"")
  }

  test("the artifact tail fits the driver's 2000-char window at 300 queries") {
    // the artifact of record keeps only the LAST 2000 chars of the run
    // output: the main line and the sbt success trailer must fit
    // together or it loses the line's front. The model runs at max(real,
    // 300) queries so additions can't outrun it silently, with every
    // field at its widest: each query at the 2-char cap, every build
    // cell at 3 chars, errs present, value at its cap.
    val n = math.max(SparkEntry.names.size, 300)
    val names = (1 to n).map(i => s"q${i}_x")
    val worst = names.map(_ -> 999.0)
    val qs = Bench.queriesJson(worst)
    // builds_sec keys MUST track Bench's real list — a stale literal
    // under-models, so the literal is checked against the registry
    val buildKeys = Seq("ivf", "cc", "cco", "sh", "sho", "pq", "pqo", "fam",
        "props", "gt", "ah", "tok", "arm", "km", "post", "tr", "blm",
        "scc", "scco", "touch")
    assert(graft.engine.Tiers.built.map(_.key) :+ "touch" == buildKeys)
    val builds = buildKeys
      .map(k => s""""$k":${Bench.qnum(9.9)}""").mkString("{", ",", "}")
    val mainLine = s"""{"metric":"total","unit":"sec","queries":$qs,"builds_sec":$builds,"errs":999,"value":9999.999,"sf":"sf0.001"}"""
    // "[success] Total time: 1391 s (23:11), completed <date>" is a
    // measured 70-75 chars; 80 holds the 4-digit-seconds case
    val trailerBudget = 80
    val infoPrefix = 8                // "[info] " on the main line
    assert(mainLine.length + infoPrefix + trailerBudget + 4 <= 2000,
      s"artifact tail over budget: main=${mainLine.length}")
    // the SURVIVAL ORDER contract: value trails the queries string, so
    // a truncation that does happen eats per-query detail, never the
    // suite total
    assert(mainLine.indexOf("\"value\":") > mainLine.indexOf("\"queries\":"))
    // the contiguous contract really takes the base36-string path
    // (fixed width: 2 chars per query)
    assert(qs.startsWith("\"") && qs.endsWith("\"") &&
      qs.length == n * 2 + 2, qs.take(40))
  }

  test("perQueryJson is a valid FULL-NAME-keyed map under a hostile locale") {
    withLocale(Locale.GERMANY) {
      val j = Bench.perQueryJson(
        Seq("q1_hourly_agg" -> 0.42, "q2_project_cast" -> 1.0),
        1.42, "32", "sf0.1")
      assert(j ==
        """{"metric":"per_query","unit":"sec","per_query":{"q1_hourly_agg":0.42,"q2_project_cast":1.00},"value":1.420,"cpus":"32","sf":"sf0.1"}""",
        j)
    }
    // the sidecar exists because the 2000-char tail cannot carry this:
    // at the real contract size the line is far over the window on its
    // own — pin that premise so a future shrink revisits the design
    val real = SparkEntry.queries.keys.toSeq.map(_ -> 0.5)
    assert(Bench.perQueryJson(real, 137.0, "32", "sf0.1").length > 2000)
  }

  test("queriesJson falls back to the dict when query numbers have gaps") {
    // a non-contiguous contract must never mis-attribute positions
    val gapped = Seq("q1_a" -> 1.0, "q3_b" -> 2.0)
    val qs = Bench.queriesJson(gapped)
    assert(qs == """{"1":1,"3":2}""", qs)
    // the contiguous form is fixed-width base36 deciseconds: 1.24 s →
    // 12 ds → "0c", 0.06 s → 1 ds → "01", 130 s → cap 1295 → "zz"
    assert(Bench.queriesJson(Seq("q1_a" -> 1.24, "q2_b" -> 0.06)) == "\"0c01\"")
    assert(Bench.queriesJson(Seq("q1_a" -> 999.0)) == "\"zz\"")
    assert(Bench.queriesJson(Seq("q1_a" -> 0.0)) == "\"00\"")
    // decode round-trip at an awkward value: 45.1 s = 451 ds = 12*36+19
    val enc = Bench.queriesJson(Seq("q1_a" -> 45.1))
    assert(java.lang.Integer.parseInt(enc.drop(1).dropRight(1), 36) == 451)
  }
}
