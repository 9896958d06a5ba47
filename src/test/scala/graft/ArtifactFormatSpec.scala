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
    // the driver archives the LAST 2000 chars of the run output: the
    // BENCH_CAL line, the main line, and the sbt success trailer must
    // fit together or the artifact of record loses its front — r16's
    // suite total was truncated out of BENCH_r16.json at 263 queries
    // because the model only covered the real count and the line led
    // with `value`. The model now runs at max(real, 300) queries so
    // the next ~35 additions can't outrun it silently, with every
    // r17 field at worst case: a storm run (eio present, retried and
    // p2 at their caps, slowest at its 12-entry cap, obx spilled).
    val realNames = SparkEntry.queries.keys.toSeq
      .sortBy(n => (n.drop(1).takeWhile(_.isDigit).toInt, n))
    val n = math.max(realNames.size, 300)
    val names = (1 to n).map(i => s"q${i}_x")
    val worst = names.map(_ -> 99.9)           // 999 ds — widest cell
    val qs = Bench.queriesJson(worst)
    // slowest at WORST WIDTH (the r18 review catch: the first 99-cap
    // model used 2-char cells, but qnum renders any sub-10 s value at
    // 3 chars — "9.9" — and 3-digit query numbers are the widest
    // keys): 12 entries, 3-digit keys, 9.9 everywhere
    val worstSlow = (289 to 300).map(i => s"q${i}_x" -> 9.9)
    val slow = Bench.slowestJson(worstSlow,
      worstSlow.map(r => r._1 -> 9.9).toMap, mustInclude = worstSlow.map(_._1).toSet)
    assert(slow.count(_ == '[') == 12, slow)
    assert(slow.contains("\"300\":[9.9,9.9]"), slow)
    // the r18 spill record at ITS 22-record cap (3 chars each)
    val ob = Bench.obJson(worst, names.map(_ -> 99.9).toMap)
    assert(ob.length == 22 * 3 + 2, ob)
    // builds_sec at worst width (3-char cells; keys MUST track
    // Bench's real list — a stale literal under-models, so the
    // literal is checked against the registry-derived keys, in order)
    val buildKeys = Seq("ivf", "cc", "cco", "sh", "sho", "pq", "pqo", "fam",
        "props", "gt", "ah", "tok", "arm", "km", "post", "tr", "blm",
        "scc", "scco", "touch")
    assert(graft.engine.Tiers.built.map(_.key) :+ "touch" == buildKeys)
    val builds = buildKeys
      .map(k => s""""$k":9.9""").mkString("{", ",", "}")
    // contention digit strings: one char per 10-query block (r18 —
    // the honest worst-width model no longer fits three 60-char
    // strings; per-row specifics live in slowest/ob/retried/p2)
    val envLen = (n + 9) / 10
    val el = "9" * envLen
    // retried / p2 at worst case: their 5-entry caps, 3-digit keys,
    // every cell at the 3-char width (the 99 s display cap bounds the
    // width at "9.9"/"99" — sub-10 s readings are the wide case)
    val retried = (296 to 300)
      .map(v => s""""$v":[9.9,9.9,9.9]""").mkString("{", ",", "}")
    val p2 = (296 to 300)
      .map(v => s""""$v":[9.9,9.9]""").mkString("{", ",", "}")
    val enc = "q=b36 ds; el,eio,ecpu=10q-blk load,log2MB,cores; " +
      "slowest=[s,cores] top8+>2xband; ob=q2c1 spill; obx=no-evid; " +
      "retried=[a,b,c] 5x; p2=[a,b] end 2x; eio cut if 0"
    val mainLine = s"""{"metric":"total","unit":"sec","enc":"$enc","queries":$qs,"el":"$el","ecpu":"$el","eio":"$el","l0":99,"q41_fit_sec":9.9,"builds_sec":$builds,"retried":$retried,"p2":$p2,"errs":99,"slowest_sec":$slow,"ob":$ob,"obx":99,"value":9999.999,"sf":"sf0.1"}"""
    // probe count follows Bench's cadence: start + every-30 + the
    // dedicated post-q41 probe + final
    val nProbes = 2 + n / 30 + 1
    // decisecond-integer quadruples, display-capped at 99 per value:
    // worst case "[99,99,99,99]," = exactly 14 chars + the
    // "BENCH_CAL [...]" frame + [info]
    val calBudget = nProbes * 14 + 13 + 8
    // "[success] Total time: 1391 s (23:11), completed <date>" is a
    // measured 70-75 chars; 80 holds the 4-digit-seconds case without
    // hoarding the window the ob record now needs
    val trailerBudget = 80
    val infoPrefix = 8                // "[info] " on the main line
    assert(mainLine.length + infoPrefix + calBudget + trailerBudget + 4 <= 2000,
      s"artifact tail over budget: main=${mainLine.length}")
    // the SURVIVAL ORDER contract: value and the adjudication dicts
    // trail the queries string, so a truncation that does happen eats
    // per-query detail, never the suite total
    assert(mainLine.indexOf("\"value\":") > mainLine.indexOf("\"queries\":"))
    assert(mainLine.indexOf("\"slowest_sec\":") > mainLine.indexOf("\"queries\":"))
    assert(mainLine.indexOf("\"value\":") > mainLine.indexOf("\"ob\":"))
    // the contiguous contract really takes the base36-string path
    // (fixed width: 2 chars per query), and the slowest dict keeps
    // bare-number keys
    assert(qs.startsWith("\"") && qs.endsWith("\"") &&
      qs.length == n * 2 + 2, qs.take(40))
    assert(slow.contains("\"") && !slow.contains("\"q"), slow)
  }

  test("envDigits compresses per-query samples into capped 10-query block digits") {
    // 12 queries -> 2 blocks; block 1: max load 3.6 -> '4',
    // io 2+5+0+1+7 = 15 MB -> log2(16) = 4
    val samples = Seq((1.0, 2.0), (3.6, 5.0), (2.0, 0.0), (0.4, 1.0),
      (1.0, 7.0), (0.2, 0.0), (0.1, 0.0), (0.3, 0.0), (0.2, 0.0),
      (0.1, 0.0),
      (0.2, 600.0), (0.1, 0.0))
    val (el, eio) = Bench.envDigits(samples)
    assert(el == "40", el)  // block 2: max load 0.2 rounds to 0
    assert(eio == "49", eio)  // block 2: 600 MB -> log2(601)=9.2 -> capped 9
    // an all-failed block reads '-', never a fake zero; a block with
    // any valid load sample still reports it (max skips the -1)
    val (el2, eio2) = Bench.envDigits(Seq((-1.0, -1.0)))
    assert(el2 == "-" && eio2 == "-")
    val (el3, eio3) = Bench.envDigits(Seq((-1.0, -1.0), (2.0, 3.0)))
    assert(el3 == "2" && eio3 == "-")
    // load caps at 9 even on a thrashing box
    assert(Bench.envDigits(Seq((40.0, 1e9)))._1 == "9")
    assert(Bench.envDigits(Seq((40.0, 1e9)))._2 == "9")
  }

  test("diskSectorsRead returns a positive monotone counter on Linux, -1 elsewhere") {
    val a = Bench.diskSectorsRead()
    if (new java.io.File("/proc/diskstats").canRead) {
      assert(a > 0, s"expected positive sectors-read, got $a")
      val b = Bench.diskSectorsRead()
      assert(b >= a, s"counter went backwards: $a -> $b")
    } else assert(a == -1L)
  }

  test("cpuDigits reports the block's slowest query's ratio, capped, '-' on no reading") {
    // block 1 (10 samples): slowest is (5.0 wall, 3.6 cores) -> '4';
    // block 2: slowest is the 9 s query, whose bean gave no reading
    val s = Seq((1.0, 9.0), (5.0, 3.6), (0.1, 1.0), (0.2, 2.0), (0.3, 8.0),
      (0.1, 1.0), (0.1, 1.0), (0.1, 1.0), (0.1, 1.0), (0.1, 1.0),
      (2.0, 31.2), (9.0, -1.0))
    assert(Bench.cpuDigits(s.take(10)) == "4")
    assert(Bench.cpuDigits(s) == "4-", Bench.cpuDigits(s))
    // a block whose slowest ratio is huge caps at 9
    assert(Bench.cpuDigits(Seq((2.0, 31.2))) == "9")
    assert(Bench.cpuDigits(Seq((9.0, -1.0))) == "-")
  }

  test("slowestJson pairs seconds with effective cores; missing ratio reads -1") {
    val res = Seq("q7_x" -> 8.5, "q12_y" -> 1.0, "q3_z" -> 2.4)
    val j = Bench.slowestJson(res, Map("q7_x" -> 12.34))
    assert(j == """{"7":[8.5,12],"3":[2.4,-1]}""", j)
  }

  test("slowestJson includes every mustInclude row (sub-2s too), capped, worst first") {
    // q12 is under the 2 s floor but over its band — mustInclude pulls
    // it in so every over-band row carries a cores figure (r17)
    val res = Seq("q7_x" -> 8.5, "q12_y" -> 1.0, "q3_z" -> 2.4)
    val j = Bench.slowestJson(res, Map("q12_y" -> 0.9), Set("q12_y"))
    assert(j == """{"7":[8.5,-1],"3":[2.4,-1],"12":[1,0.9]}""", j)
    // the cap drops the TAIL (least-slow) and the caller's obx counts
    // exactly the dropped rows via the shared selection
    val many = (1 to 40).map(i => s"q${i}_x" -> (i / 10.0))
    val sel = Bench.slowestSelect(many, many.map(_._1).toSet)
    assert(sel.size == 40 && sel.head._1 == "q40_x")
    assert(Bench.slowestJson(many, Map.empty, many.map(_._1).toSet)
      .count(_ == '[') == 12)
  }

  test("overBandRows: factor gate, worst-overshoot order, bandless rows never flagged") {
    val bands = Map(1 -> 5, 2 -> 10, 3 -> 2)
    val res = Seq("q1_a" -> 1.2,   // 12 ds / 5 = 2.4x -> flagged
                  "q2_b" -> 1.9,   // 19 ds / 10 = 1.9x -> under the gate
                  "q3_c" -> 2.0,   // 20 ds / 2 = 10x -> worst
                  "q4_d" -> 99.0)  // no band row -> never flagged
    val ob = Bench.overBandRows(res, bands)
    assert(ob.map(_._1) == Seq("q3_c", "q1_a"), ob)
    // the 5x in-flight gate is the same rule at a different factor
    assert(Bench.overBandRows(res, bands, factor = 5.0).map(_._1) == Seq("q3_c"))
    assert(Bench.overBandRows(res, Map.empty).isEmpty)
  }

  test("obJson packs [qnum, cores] as fixed-width 3-char base36 records") {
    // q136 / 3.2 cores: 136 = 3*36+28 -> "3s"; cores rounds to 3 (the
    // row's seconds are NOT repeated — the queries string carries them
    // by position)
    val j = Bench.obJson(Seq("q136_x" -> 1.3), Map("q136_x" -> 3.2))
    assert(j == "\"3s3\"", j)
    // decode round-trip on a 2-record string; '-' = no cores reading
    val j2 = Bench.obJson(Seq("q136_x" -> 1.3, "q9_y" -> 0.55),
      Map("q136_x" -> 3.2))
    assert(j2.length == 2 + 2 * 3, j2)
    val rec2 = j2.drop(1).dropRight(1).drop(3)
    assert(Integer.parseInt(rec2.take(2), 36) == 9)
    assert(rec2.last == '-')
    // caps: cores digit at 9, record count at 22 with the TAIL dropped
    // (rows arrive worst-first from overBandRows)
    assert(Bench.obJson(Seq("q1_a" -> 500.0), Map("q1_a" -> 31.0))
      == "\"019\"")
    val many = (1 to 30).map(i => s"q${i}_x" -> 1.0)
    assert(Bench.obJson(many, Map.empty).length == 2 + 22 * 3)
    assert(Bench.obJson(many, Map.empty).drop(1).take(2) == "01")
  }

  test("slowestJson display-caps seconds at 99 (queries string keeps ds truth)") {
    val j = Bench.slowestJson(Seq("q7_x" -> 150.0), Map("q7_x" -> 2.0))
    assert(j == """{"7":[99,2]}""", j)
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
