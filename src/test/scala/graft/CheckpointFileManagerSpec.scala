package graft

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamPipeline

/** The java.nio checkpoint file manager against Spark's default
  * (`FileContextBasedCheckpointFileManager`): the same contract on the
  * same trees, checkpoints that resume across the two in either
  * direction, the same log files, and a crash's leftover temp file.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val key = LocalCheckpointFileManager.ConfKey
  private val nio = classOf[LocalCheckpointFileManager].getName
  private val default = classOf[FileContextBasedCheckpointFileManager].getName

  private def tempDir(prefix: String) = Files.createTempDirectory(prefix).toFile

  /** Runs `body` with the session's manager class set to `cls`, then
    * puts the session's setting back. */
  private def withManager[T](cls: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def writeAtomic(m: CheckpointFileManager, p: Path, text: String,
                          overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    try out.write(text.getBytes(UTF_8)) catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path) = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file name under `dir`, relative, hidden ones included. */
  private def tree(dir: File): Seq[String] =
    FileUtils.listFiles(dir, null, true).asScala.toSeq
      .map(f => dir.toPath.relativize(f.toPath).toString).sorted

  private val numeric: PathFilter = p => p.getName.forall(_.isDigit)
  private val notTemp: PathFilter = p => !p.getName.endsWith(".tmp")

  /** A Hadoop checksum sidecar or a temp file: names a manager may
    * leave next to the files it publishes. */
  private def sidecar(path: String) = {
    val name = path.split('/').last
    name.endsWith(".tmp") || name.startsWith(".") && name.endsWith(".crc")
  }

  test("LocalCheckpointFileManager agrees with Spark's default manager on the same trees") {
    val nioDir = tempDir("graft-cfm-nio")
    val defDir = tempDir("graft-cfm-default")
    def root(dir: File) = new Path("file", null, dir.getAbsolutePath)
    val nioFm = new LocalCheckpointFileManager(root(nioDir), new Configuration())
    val defFm = CheckpointFileManager.create(root(defDir), new Configuration())
    assert(defFm.getClass.getName == default)
    def observe(m: CheckpointFileManager, dir: File) = {
      def p(name: String) = new Path(root(dir), name)
      assert(m.isLocal)
      assert(m.createCheckpointDirectory() == root(dir))
      writeAtomic(m, p("1"), "old", overwrite = false)
      // without overwrite an existing file wins, and the writer hears so
      intercept[FileAlreadyExistsException](writeAtomic(m, p("1"), "new", overwrite = false))
      val kept = read(m, p("1"))
      // with overwrite the file is replaced
      writeAtomic(m, p("2"), "first", overwrite = true)
      writeAtomic(m, p("2"), "second", overwrite = true)
      val replaced = read(m, p("2"))
      // cancel leaves neither the target nor a temp file
      val out = m.createAtomic(p("3"), overwriteIfPossible = false)
      out.write("torn".getBytes(UTF_8))
      out.cancel()
      val cancelled = (m.exists(p("3")), dir.list().exists(_.startsWith(".3.")))
      // a subdir, a non-numeric file and a hidden checksum file
      m.mkdirs(p("sub/deeper"))
      m.mkdirs(p("sub"))
      writeAtomic(m, p("a.txt"), "x", overwrite = true)
      Files.write(new File(dir, ".1.crc").toPath, Array[Byte](1, 2))
      val filtered = m.list(root(dir), numeric).map(_.getPath.getName).sorted.toSeq
      // (the default manager leaves its temp file behind when a
      // publish without overwrite fails; this one deletes it)
      val all = m.list(root(dir), notTemp).map(s => (s.getPath.getName, s.isDirectory,
        if (s.isDirectory) -1L else s.getLen)).sortBy(_._1).toSeq
      // listed paths are qualified
      val qualified = m.list(root(dir), numeric).map(_.getPath).toSet == Set(p("1"), p("2"))
      val listedFile = m.list(p("1")).map(_.getPath.getName).toSeq
      val exists = Seq("1", "sub", "sub/deeper", "missing").map(n => m.exists(p(n)))
      val missingOpen = intercept[FileNotFoundException](m.open(p("missing"))).getClass.getName
      val missingList = intercept[FileNotFoundException](m.list(p("missing"))).getClass.getName
      m.delete(p("missing"))
      m.delete(p("a.txt"))
      m.delete(p("sub"))
      val afterDelete = Seq("a.txt", "sub").map(n => m.exists(p(n)))
      (kept, replaced, cancelled, filtered, all, qualified, listedFile, exists, missingOpen,
        missingList, afterDelete)
    }
    val fromNio = observe(nioFm, nioDir)
    val fromDefault = observe(defFm, defDir)
    assert(fromNio == fromDefault)
    assert(!nioDir.list().exists(_.endsWith(".tmp")))
    assert(fromNio._1 == "old" && fromNio._2 == "second")
    assert(fromNio._3 == ((false, false)))
    assert(fromNio._4 == Seq("1", "2"))
    assert(fromNio._5 == Seq(("1", false, 3L), ("2", false, 6L), ("a.txt", false, 1L),
      ("sub", true, -1L)))
    assert(fromNio._6)
    assert(fromNio._8 == Seq(true, true, true, false))
    assert(fromNio._11 == Seq(false, false))
    // a file the default manager wrote (with its checksum sidecar) and
    // this one replaced still reads through Hadoop's checksummed local
    // filesystem, which fails on a stale sidecar; deleting the file
    // takes the sidecar along
    val f = new Path(root(defDir), "4")
    writeAtomic(defFm, f, "by default", overwrite = true)
    assert(defDir.list().contains(".4.crc"))
    writeAtomic(nioFm, f, "by java.nio, longer", overwrite = true)
    val checksummed = org.apache.hadoop.fs.FileSystem.getLocal(new Configuration())
    val in = checksummed.open(f)
    try assert(new String(in.readAllBytes(), UTF_8) == "by java.nio, longer") finally in.close()
    assert(read(defFm, f) == "by java.nio, longer")
    writeAtomic(defFm, f, "by default again", overwrite = true)
    nioFm.delete(f)
    assert(!defDir.list().exists(_.startsWith(".4")), defDir.list().mkString(", "))
  }

  test("LocalCheckpointFileManager serves a non-file scheme with Spark's default pick") {
    val conf = new Configuration()
    conf.set("fs.graftlocal.impl", classOf[GraftLocalFileSystem].getName)
    conf.setBoolean("fs.graftlocal.impl.disable.cache", true)
    conf.set(key, nio)
    val dir = tempDir("graft-cfm-scheme")
    val remote = new Path(s"graftlocal://${dir.getAbsolutePath}")
    val fm = new LocalCheckpointFileManager(remote, conf)
    val unset = new Configuration(conf)
    unset.unset(key)
    val expected = CheckpointFileManager.create(remote, unset).getClass
    assert(fm.underlying.getClass == expected)
    assert(!expected.getName.startsWith(classOf[LocalCheckpointFileManager].getName))
    // and it works: a file written through it is read back
    writeAtomic(fm, new Path(remote, "0"), "v1", overwrite = false)
    assert(read(fm, new Path(remote, "0")) == "v1")
    // a file: path, or a path without a scheme on the default (local)
    // filesystem, is served by the java.nio manager
    for (p <- Seq(new Path(dir.toURI), new Path(dir.getAbsolutePath))) {
      val local = new LocalCheckpointFileManager(p, conf).underlying.getClass.getName
      assert(local.startsWith(classOf[LocalCheckpointFileManager].getName + "$"), local)
    }
  }

  test("the checkpointed sinks install the java.nio manager only when no class is set") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Long].toDF()
    val ckpt = tempDir("graft-cfm-install").toString
    val before = spark.conf.getOption(key)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    try {
      spark.conf.unset(key)
      StreamPipeline.appendSink(stream, "memory", ckpt, "cfm_install")
      assert(spark.conf.get(key) == nio)
      // a class the user set on the session is never replaced
      spark.conf.set(key, default)
      StreamPipeline.exactlyOnceSink(stream, ckpt, ckpt)
      StreamPipeline.foreachBatchSink(stream, ckpt)((_, _) => ())
      assert(spark.conf.get(key) == default)
      // nor one set on the Hadoop conf the session's conf is built on
      spark.conf.unset(key)
      hadoopConf.set(key, default)
      StreamPipeline.exactlyOnceSink(stream, ckpt, ckpt)
      assert(spark.conf.getOption(key).isEmpty)
    } finally {
      hadoopConf.unset(key)
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("consoleSink installs the java.nio manager on a fresh session, never over a set class") {
    def startConsole(session: org.apache.spark.sql.SparkSession): Unit = {
      implicit val sqlCtx = session.sqlContext
      val query = StreamPipeline.consoleSink(MemoryStream[Long].toDF()).start()
      try query.processAllAvailable() finally query.stop()
    }
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(key).isEmpty)
    startConsole(fresh)
    assert(fresh.conf.get(key) == nio)
    val userSet = spark.newSession()
    userSet.conf.set(key, default)
    startConsole(userSet)
    assert(userSet.conf.get(key) == default)
  }

  /** Runs `batches` through [[StreamPipeline.exactlyOnceSink]] on one
    * query: one micro-batch per batch, then stops. */
  private def runSink(mem: MemoryStream[(Long, String)], out: String, ckpt: String,
                      batches: Seq[Seq[(Long, String)]]): Unit = {
    val query = StreamPipeline.exactlyOnceSink(mem.toDF().toDF("id", "payload"), out, ckpt)
      .start()
    try {
      query.processAllAvailable()
      for (b <- batches) { mem.addData(b); query.processAllAvailable() }
    } finally query.stop()
  }

  private def epochs(out: String) =
    spark.read.parquet(out).select("epoch", "id").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (e, rs) => e -> rs.map(_._2).sorted.toSeq }

  private val run1 = Seq(Seq(1L -> "a", 2L -> "b"), Seq(3L -> "c"))
  private val run2 = Seq(Seq(4L -> "d", 5L -> "e"))
  private val expected = Map(0 -> Seq(1L, 2L), 1 -> Seq(3L), 2 -> Seq(4L, 5L))

  for ((first, second) <- Seq("default" -> "java.nio", "java.nio" -> "default"))
    test(s"exactlyOnceSink: a $first checkpoint replays and resumes under the $second manager") {
      implicit val sqlCtx = spark.sqlContext
      val cls = Map("default" -> default, "java.nio" -> nio)
      val mem = MemoryStream[(Long, String)]
      val out = tempDir("graft-cfm-out").toString
      val ckpt = tempDir("graft-cfm-ckpt").toString
      withManager(cls(first))(runSink(mem, out, ckpt, run1))
      // a crash after epoch 1's sink write but before its commit-log
      // entry: the restart re-delivers epoch 1, which must write nothing
      assert(new File(ckpt, "commits/1").delete())
      withManager(cls(second))(runSink(mem, out, ckpt, run2))
      assert(epochs(out) == expected)
      assert(new File(ckpt, "commits").list().filterNot(sidecar).sorted.toSeq ==
        Seq("0", "1", "2"))
    }

  test("exactlyOnceSink writes the same offset and commit log files under either manager") {
    implicit val sqlCtx = spark.sqlContext
    val trees = Seq(default, nio).map { cls =>
      val mem = MemoryStream[(Long, String)]
      val out = tempDir("graft-cfm-out").toString
      val ckpt = tempDir("graft-cfm-ckpt")
      withManager(cls)(runSink(mem, out, ckpt.toString, run1 ++ run2))
      assert(epochs(out) == expected)
      val commits = (0 to 2).map(i =>
        new String(Files.readAllBytes(new File(ckpt, s"commits/$i").toPath), UTF_8))
      (tree(ckpt), commits)
    }
    // the default manager also leaves a `.<name>.crc` next to each file
    val Seq((defFiles, defCommits), (nioFiles, nioCommits)) = trees
    assert(defFiles.filterNot(sidecar) == nioFiles && defCommits == nioCommits)
    assert(nioFiles == Seq("commits/0", "commits/1", "commits/2", "metadata",
      "offsets/0", "offsets/1", "offsets/2"))
  }

  test("a temp file left by a crash before the link is ignored; the next batch commits") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = tempDir("graft-cfm-out").toString
    val ckpt = tempDir("graft-cfm-ckpt")
    withManager(nio) {
      runSink(mem, out, ckpt.toString, run1)
      // what a crash between writing batch 2's log entry and linking it
      // leaves behind: a half-written dot-prefixed temp file
      val leftovers = Seq("offsets", "commits").map(d =>
        new File(ckpt, s"$d/.2.${java.util.UUID.randomUUID()}.tmp"))
      leftovers.foreach(f => Files.write(f.toPath, "v1\n{\"bat".getBytes(UTF_8)))
      runSink(mem, out, ckpt.toString, run2)
      assert(epochs(out) == expected)
      for (d <- Seq("offsets", "commits"))
        assert(new File(ckpt, d).list().filterNot(_.startsWith(".")).sorted.toSeq ==
          Seq("0", "1", "2"), d)
      assert(leftovers.forall(_.exists()), "a leftover is ignored, not consumed")
    }
  }

  test("windowedCounts keeps its state across a restart with the java.nio manager installed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val ckpt = tempDir("graft-cfm-state")
    val emitted = mutable.ArrayBuffer.empty[(Timestamp, String, Long)]
    def run(rows: Seq[(Long, Timestamp, Long, String, Double, String)]*): Unit = {
      val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val query = StreamPipeline.foreachBatchSink(StreamPipeline.windowedCounts(stream),
        ckpt.toString) { (b, _) =>
        emitted.synchronized(emitted ++= b.as[(Timestamp, String, Long)].collect())
      }.start()
      try rows.foreach { r => mem.addData(r); query.processAllAvailable() }
      finally query.stop()
    }
    def ev(id: Long, ts: String, tpe: String) =
      (id, Timestamp.valueOf(s"2026-01-01 $ts"), 7L, tpe, 1.0, "{}")
    withManager(nio) {
      run(Seq(ev(1, "10:00:00", "click"), ev(2, "10:30:00", "view"), ev(3, "10:50:00", "view")))
      assert(emitted.isEmpty, "no window is final before the watermark passes it")
      // the 10:00 window's counts now live only in the state store
      // files the first run wrote through the manager; the restart
      // adds one more view to it, then closes it and the 11:00 window
      run(Seq(ev(4, "10:55:00", "view"), ev(5, "11:10:00", "view")), Seq(ev(6, "13:00:00", "view")))
    }
    val h = (s: String) => Timestamp.valueOf(s"2026-01-01 $s")
    assert(emitted.sortBy(r => (r._1.getTime, r._2)).toSeq == Seq(
      (h("10:00:00"), "click", 1L), (h("10:00:00"), "view", 3L), (h("11:00:00"), "view", 1L)))
    val state = tree(new File(ckpt, "state"))
    assert(state.exists(_.endsWith(".delta")), state)
    assert(!state.exists(sidecar), state)
  }
}

/** The local filesystem under its own scheme, `graftlocal:`, for which
  * Hadoop has no `FileContext` binding. */
class GraftLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}
