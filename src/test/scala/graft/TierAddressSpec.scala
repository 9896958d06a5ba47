package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContentAddress, Tiers}
import graft.operators.Dedup

/** Pins every materialized tier's address: tiers already on disk are
  * reused only while base names, prefixes and hashes stay
  * byte-identical, so any drift here rebuilds (and orphans) them. Also
  * pins the commit gate every tier writes through
  * ([[ContentAddress.commitOnce]]).
  */
class TierAddressSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  /** key -> (family base kind, address prefix before the content hash) */
  private val expected = Seq(
    "ivf" -> ("ivf", "ivf_"),
    "ivfcmp" -> ("ivf", "ivf_cmp_"),
    "cc" -> ("cc", "cc200b4_"),
    "cco" -> ("cc", "ccoldm10r7_200b4_"),
    "cccmp" -> ("cc", "cccmp_200b4_"),
    "sh" -> ("sh", "sh3_"),
    "sho" -> ("sh", "sh3_oldm10r7_"),
    "shcmp" -> ("sh", "sh3_cmp_"),
    "pq" -> ("pq", "pq2x4i3_"),
    "pqo" -> ("pq", "pq2x4i3_oldm10r7_"),
    "pqapn" -> ("pq", "pq2x4i3_apnm10r7_"),
    "pqcmp" -> ("pq", "pq2x4i3_cmp_"),
    "fam" -> ("cc", "cc200b4_"),
    "props" -> ("props", "props_"),
    "gt" -> ("anngt", "anngt_n8k10_"),
    "ah" -> ("ah", "ah_b48_"),
    "tok" -> ("tok", "tok_"),
    "toko" -> ("tok", "tok_oldm10r7_"),
    "arm" -> ("arms", "arms_n8k10v1_"),
    "km" -> ("km", "km_k4i3_"),
    "post" -> ("post", "post_n3_"),
    "tr" -> ("tr", "tr_v50d85i10_"),
    "blm" -> ("blm", "blm_n2_"),
    "scc" -> ("scc", "semcc_t300_"),
    "scco" -> ("scc", "semcc_t300_oldm10r7_"),
    "scccmp" -> ("scc", "semcc_t300_cmp_"))

  private def withTmpdir[A](f: String => A): A = {
    val prev = System.getProperty("java.io.tmpdir")
    val tmp = java.nio.file.Files.createTempDirectory("graft-tiers").toFile
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    try f(tmp.getAbsolutePath)
    finally {
      System.setProperty("java.io.tmpdir", prev)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }

  private def resolveAll(): Map[String, String] =
    Tiers.all.map(t => t.key -> t(spark, sfDir)).toMap

  test("every tier resolves to <tmpdir>/graft_<kind>_<sf>_<8 hex>/<prefix><16 hex>") {
    assert(Tiers.all.map(_.key) == expected.map(_._1))
    val ph = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(sfDir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    withTmpdir { tmp =>
      val got = resolveAll()
      for ((key, (kind, prefix)) <- expected) {
        val addr = got(key)
        val base = s"$tmp/graft_${kind}_sf0.001_$ph/"
        assert(addr.startsWith(base + prefix), s"$key: $addr")
        assert(addr.drop(base.length + prefix.length).matches("[0-9a-f]{16}"),
          s"$key: $addr")
      }
      // fam's frames live under the cascade's own address
      assert(got("fam") == got("cc"))
      assert(got.values.toSet.size == 25)
    }
  }

  test("a family's variant tiers share the main tier's base and content hash") {
    withTmpdir { _ =>
      val got = resolveAll()
      def parent(k: String) = new java.io.File(got(k)).getParent
      def hash(k: String) = got(k).takeRight(16)
      for ((main, variants) <- Seq(
          "ivf" -> Seq("ivfcmp"), "cc" -> Seq("cco", "cccmp", "fam"),
          "sh" -> Seq("sho", "shcmp"), "pq" -> Seq("pqo", "pqapn", "pqcmp"),
          "tok" -> Seq("toko"), "scc" -> Seq("scco", "scccmp"));
          v <- variants) {
        assert(parent(v) == parent(main), s"$v vs $main")
        assert(hash(v) == hash(main), s"$v vs $main")
      }
      // one content hash per source table
      for (tiers <- Tiers.all.groupBy(_.source).values)
        assert(tiers.map(t => hash(t.key)).distinct.size == 1,
          tiers.map(_.key))
    }
  }

  test("resolution reads java.io.tmpdir at call time") {
    val first = withTmpdir(tmp => (tmp, resolveAll()))
    withTmpdir { tmp =>
      val again = resolveAll()
      assert(tmp != first._1)
      for (t <- Tiers.all) {
        assert(first._2(t.key).startsWith(first._1 + "/"), t.key)
        assert(again(t.key).startsWith(tmp + "/"), t.key)
        assert(again(t.key).drop(tmp.length) ==
          first._2(t.key).drop(first._1.length), t.key)
      }
    }
  }

  private def withScratch[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toFile
    try f(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def rows(dir: String): Seq[Long] =
    spark.read.parquet(dir).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq.sorted

  test("commitOnce: a first call writes the frame, commits it and returns true") {
    withScratch { base =>
      val dir = s"$base/t"
      assert(ContentAddress.commitOnce(spark, dir)(spark.range(3).toDF("x")))
      assert(ContentAddress.hasSuccess(spark, dir))
      assert(rows(dir) == Seq(0L, 1L, 2L))
    }
  }

  test("commitOnce: a committed dir returns false without evaluating the frame") {
    withScratch { base =>
      val dir = s"$base/t"
      ContentAddress.commitOnce(spark, dir)(spark.range(3).toDF("x"))
      assert(!ContentAddress.commitOnce(spark, dir)(
        throw new AssertionError("the frame of a committed tier was built")))
      assert(rows(dir) == Seq(0L, 1L, 2L))
    }
  }

  test("commitOnce: a torn dir (part files, no _SUCCESS) is overwritten and committed") {
    withScratch { base =>
      val dir = s"$base/t"
      spark.range(10, 15).toDF("x").write.parquet(dir)
      assert(new java.io.File(dir, "_SUCCESS").delete())
      java.nio.file.Files.write(new java.io.File(dir, "part-torn.parquet").toPath,
        "not parquet".getBytes("UTF-8"))
      assert(!ContentAddress.hasSuccess(spark, dir))
      assert(ContentAddress.commitOnce(spark, dir)(spark.range(3).toDF("x")))
      assert(ContentAddress.hasSuccess(spark, dir))
      assert(rows(dir) == Seq(0L, 1L, 2L))
    }
  }

  test("prebuildPairFamilies: a lost _SUCCESS rebuilds that family alone") {
    import spark.implicits._
    withScratch { base =>
      val corpusDir = s"$base/corpus"
      val rnd = new scala.util.Random(11)
      (1L to 30L).map(i => (i, Seq.fill(12)("t" + rnd.nextInt(7)).mkString(" ")))
        .toDF("doc_id", "text").write.parquet(corpusDir)
      val docs = spark.read.parquet(corpusDir)
      val dir = Dedup.cascadeDir(spark, corpusDir, s"$base/tiers")
      val families = Seq("pjpairs_t80", "cjpairs_t90", "snmpairs_t20",
        "winpairs_n3_w4", "candcap_50", "candr2_b4r2")
      def marker(f: String) = new java.io.File(s"$dir/$f/_SUCCESS")
      assert(Dedup.prebuildPairFamilies(docs, dir), "first call must build")
      assert(families.forall(f => marker(f).exists()))
      val mtimes = families.map(f => f -> marker(f).lastModified()).toMap
      assert(marker("winpairs_n3_w4").delete())
      Thread.sleep(20)
      assert(Dedup.prebuildPairFamilies(docs, dir), "a lost family must rebuild")
      assert(marker("winpairs_n3_w4").exists())
      for (f <- families if f != "winpairs_n3_w4")
        assert(marker(f).lastModified() == mtimes(f), s"$f was rewritten")
      assert(!Dedup.prebuildPairFamilies(docs, dir), "a third call must reuse")
      spark.catalog.clearCache()
    }
  }
}
