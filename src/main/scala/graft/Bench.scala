package graft

import scala.util.control.NonFatal

import graft.engine.Tiers

/** The suite benchmark main: times every [[SparkEntry.queries]] entry
  * once against SPARK_GRAFT_SF_DIR, in numeric order, and prints ONE
  * JSON line
  * `{"metric":"total","unit":"sec","queries":…,"builds_sec":…,"value":N,"sf":…}`.
  * Field order is SURVIVAL order: the run's artifact of record keeps
  * only the LAST 2000 characters of its output, so the suite total
  * trails the bulky per-query string and a truncation eats per-query
  * detail, never `value` (ArtifactFormatSpec pins the budget).
  *
  * Before the timed pass:
  *  - a SQL and an MLlib warm-up absorb JIT, codegen and MLlib class
  *    loading (`mlwarm_sec` in BENCH_META), so no query pays them;
  *  - every tier in [[Tiers.built]] is built (content-addressed: the
  *    build amortizes across every query that probes it) and its files
  *    are read once, so no query pays a build or a cold first read.
  *    Each build reads 0 when reused, its seconds when built and -1 when
  *    it failed (with a WARN on stderr), under `<key>_build_sec` in
  *    BENCH_META and `builds_sec` on the main line.
  *
  * Between queries every cache and persisted RDD is dropped
  * ([[SparkEntry.dropAllState]]), so no measurement inherits its
  * predecessor's state. A query that throws keeps its elapsed time and
  * is counted on the main line (`"errs":N`, omitted at zero), with the
  * exceptions on a `BENCH_ERRORS` line before it: a crash never reads
  * as a fast timing. The full name-keyed record goes to a `BENCH_PERQ`
  * line and the `BENCH_PERQUERY.json` sidecar ([[perQueryJson]]).
  */
object Bench {

  private[graft] def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ") + "\""

  /** Locale-independent fixed-point format: the f interpolator uses
    * the JVM default locale, which renders comma decimals (4,3) on
    * e.g. de_DE boxes — invalid JSON. Everything this main emits must
    * go through here or jsonStr.
    */
  private[graft] def dec(v: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))

  /** 2-decimal number with trailing zeros stripped (1.50 → 1.5,
    * 3.00 → 3) — valid JSON in fewer chars.
    */
  private[graft] def num(v: Double): String = {
    val s = dec(v, 2)
    if (!s.contains('.')) s
    else {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
  }

  /** A value at ≤3 chars: 1 decimal under 10 s, integer seconds above.
    * The threshold sits at the rounding boundary (9.95) so the string
    * can never gain a digit by rounding up across it.
    */
  private[graft] def qnum(v: Double): String = {
    // display cap at 999: a ≥17-minute reading is a hang, and "1000"
    // would be the one 4-char value the window budget doesn't model
    val vv = math.min(v, 999.0)
    if (vv >= 9.95) dec(vv, 0)
    else {
      val s = dec(vv, 1)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
  }

  /** Main-line per-query encoding: query numbers are CONTIGUOUS 1..N by
    * SparkEntry key discipline, so the record is a fixed-width STRING
    * of 2 base36 chars per query in numeric order, value = deciseconds
    * capped at zz = 1295 ds (~130 s — beyond it a query is a hang).
    * Decode: i-th pair, base36, ÷10 = sec. If the contract ever
    * un-contiguifies, it falls back to a number-keyed dict so values
    * can never silently mis-attribute.
    */
  private[graft] def queriesJson(results: Seq[(String, Double)]): String = {
    val nums = results.map { case (k, _) => SparkEntry.number(k) }
    if (nums == (1 to results.size)) {
      val sb = new StringBuilder(results.size * 2 + 2)
      sb += '"'
      results.foreach { case (_, v) =>
        val ds = math.min(math.max(math.rint(v * 10).toLong, 0L), 1295L)
        sb += java.lang.Character.forDigit((ds / 36).toInt, 36)
        sb += java.lang.Character.forDigit((ds % 36).toInt, 36)
      }
      sb += '"'
      sb.toString
    } else
      results.map { case (k, v) =>
        jsonStr(SparkEntry.number(k).toString) + ":" + qnum(v)
      }.mkString("{", ",", "}")
  }

  /** Full name-keyed per-query record: the 2000-char tail window cannot
    * carry 270 name-keyed entries (~7 KB), so this map rides OUTSIDE
    * it, as a `BENCH_PERQ` line printed before the artifact lines plus
    * a `BENCH_PERQUERY.json` sidecar in the working directory. The
    * base36 `queries` string stays the in-window record.
    */
  private[graft] def perQueryJson(results: Seq[(String, Double)],
                                  total: Double, cpus: String,
                                  sf: String): String =
    s"""{"metric":"per_query","unit":"sec","per_query":{""" +
      results.map { case (k, v) => jsonStr(k) + ":" + dec(v, 2) }
        .mkString(",") +
      s"""},"value":${dec(math.min(total, 9999.999), 3)},"cpus":${jsonStr(cpus)},"sf":${jsonStr(sf)}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    val sf = new java.io.File(sfDir).getName
    val rt = Runtime.getRuntime

    // warm-ups are GUARDED: a failure (heap pressure, broken classpath)
    // degrades to a cold first query, never aborts the run before its
    // artifact lines exist. A failed MLlib warm-up reads mlwarm_sec -1
    try spark.range(1000000).selectExpr("sum(id * 2)").collect()
    catch { case NonFatal(e) => System.err.println(s"WARN: SQL warm-up failed: $e") }
    val mlWarmT0 = System.nanoTime()
    val mlWarmSec = try {
      import org.apache.spark.sql.functions.col
      val warm = spark.range(200).selectExpr("cast(id as double) a",
        "cast(id % 7 as double) b", "cast(id % 3 as double) c",
        "cast(id % 2 as double) label")
      val warmModel = new org.apache.spark.ml.Pipeline().setStages(Array(
        new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(Array("a", "b", "c")).setOutputCol("features_raw"),
        new org.apache.spark.ml.feature.StandardScaler()
          .setInputCol("features_raw").setOutputCol("features"),
        new org.apache.spark.ml.classification.LogisticRegression()
          .setMaxIter(1))).fit(warm)
      warmModel.transform(warm).select(
        org.apache.spark.ml.functions.vector_to_array(col("probability"))(1)).count()
      // the fit leaves MLlib-persisted RDDs behind; q01 starts from the
      // same empty state every measured query gets
      SparkEntry.dropAllState(spark)
      (System.nanoTime() - mlWarmT0) / 1e9
    } catch { case NonFatal(_) => -1.0 }

    def tierStep[A](t: Tiers.Tier, what: String)(f: => A): Option[A] =
      try Some(f) catch { case NonFatal(e) =>
        System.err.println(s"WARN: tier ${t.key} $what failed: $e")
        None
      }
    val tierBuildSec = Tiers.built.map { t =>
      val t0 = System.nanoTime()
      t.key -> tierStep(t, "build") {
        val built = t.build(spark, sfDir)
        SparkEntry.dropAllState(spark)
        if (built) (System.nanoTime() - t0) / 1e9 else 0.0
      }.getOrElse(-1.0)
    }
    // pre-touch: stream every byte of every built tier's files once (a
    // raw read warms the page cache with no Spark overhead), per tier,
    // so one failed build never leaves the remaining frames cold
    val touchT0 = System.nanoTime()
    var touchedBytes = 0L
    val buf = new Array[Byte](1 << 20)
    def touch(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(touch))
      else if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try {
          var n = in.read(buf)
          while (n >= 0) { touchedBytes += n; n = in.read(buf) }
        } finally in.close()
      }
    val touched = scala.collection.mutable.Set.empty[String]
    Tiers.built.foreach { t =>
      tierStep(t, "pre-touch") {
        val dir = t(spark, sfDir)
        if (touched.add(dir)) touch(new java.io.File(dir))
      }
    }
    val pretouchSec = (System.nanoTime() - touchT0) / 1e9
    val buildsMeta = tierBuildSec
      .map { case (k, v) => s""""${k}_build_sec":${num(v)}""" }.mkString(",")
    println(s"""BENCH_META {"available_processors":${rt.availableProcessors()},"heap_max_gb":${dec(rt.maxMemory() / 1e9, 1)},"spark_cpus":${jsonStr(cpus)},"mlwarm_sec":${num(mlWarmSec)},$buildsMeta,"pretouch_sec":${num(pretouchSec)},"pretouch_mb":${dec(touchedBytes / 1e6, 1)},"sf":${jsonStr(sfDir)}}""")

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val queries = SparkEntry.queries
    val results = SparkEntry.names.map { name =>
      val t0 = System.nanoTime()
      try queries(name)(spark, sfDir).count()
      catch { case NonFatal(e) =>
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"
      }
      val sec = (System.nanoTime() - t0) / 1e9
      SparkEntry.dropAllState(spark)
      // a heavy query's garbage is collected before the next one starts
      if (sec > 5.0) System.gc()
      name -> sec
    }
    val total = results.map(_._2).sum

    // the name-keyed record prints FIRST so its bulk stays outside the
    // tail window; a failed sidecar write warns instead of costing the run
    val perqLine = perQueryJson(results, total, cpus, sf)
    println("BENCH_PERQ " + perqLine)
    try {
      val pq = new java.io.PrintWriter("BENCH_PERQUERY.json")
      try pq.write(perqLine + "\n") finally pq.close()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"WARN: could not write BENCH_PERQUERY.json: $e")
    }
    // the artifact lines must be the LAST output, inside the 2000-char
    // tail: stop Spark first (its shutdown path logs WARNs under
    // load) with the logger silenced; a broken stop never costs them
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"WARN: spark.stop() failed: $e") }
    if (errors.nonEmpty)
      println("BENCH_ERRORS {" +
        errors.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }.mkString(",") + "}")
    val errs = if (errors.isEmpty) "" else s""","errs":${errors.size}"""
    // 3-char cells (a build past 99 s is pathology; BENCH_META has the
    // exact figure), plus the pre-touch cost under "touch"
    val buildsJson = (tierBuildSec :+ ("touch" -> pretouchSec))
      .map { case (k, v) => jsonStr(k) + ":" + qnum(math.min(v, 99.0)) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","unit":"sec","queries":${queriesJson(results)},"builds_sec":$buildsJson$errs,"value":${dec(math.min(total, 9999.999), 3)},"sf":${jsonStr(sf)}}""")
  }
}
