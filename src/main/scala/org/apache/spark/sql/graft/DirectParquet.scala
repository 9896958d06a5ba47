package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.util.Utils

/** Parquet files written by a DataFrame's own tasks straight into one
  * local directory: one job, no Hadoop FileSystem and no output
  * committer. Each file is what `df.write.parquet` writes for the same
  * partition — Spark's [[ParquetWriteSupport]], the settings
  * [[ParquetFileFormat.prepareWrite]] takes from the session (codec,
  * timestamp type, legacy format, the Spark schema footer) — but goes
  * through java.nio ([[LocalOutputFile]]), so a create costs no
  * permission call on the local filesystem. Lives under
  * org.apache.spark.sql because the task's output metrics and the SQL
  * conf propagation are package-private.
  */
object DirectParquet {

  /** Writes `df` into the existing local directory `dir` and returns
    * the names of the files written. Task `p` writes its partition as
    * `part-<p>-<write uuid>-c000.<codec>.parquet` in overwrite mode, so
    * a retried attempt replaces its own file. As in Spark's writer, an
    * empty partition writes nothing except partition 0, which always
    * writes (schema-only when empty); an empty frame is one file.
    * Each task reports its file's bytes and rows in its output
    * metrics.
    */
  def write(df: DataFrame, dir: java.io.File): Seq[String] = {
    val session = castToImpl(df.sparkSession)
    // a defaults-free conf: what ships to the tasks is only the keys
    // prepareWrite sets from the session
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(session, job, Map.empty, df.schema)
    val settings = job.getConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val codec = CompressionCodecName.fromConf(settings(ParquetOutputFormat.COMPRESSION))
    val suffix = s"-${UUID.randomUUID()}-c000${codec.getExtension}.parquet"
    val path = dir.getAbsolutePath
    val rows = castToImpl(df).queryExecution.toRdd
    val rdd = if (rows.partitions.nonEmpty) rows
      else session.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    SQLExecution.withSQLConfPropagated(session) {
      session.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
        writePartition(ctx, it, path, suffix, settings, codec))
    }.toSeq.flatten
  }

  private def writePartition(ctx: TaskContext, rows: Iterator[InternalRow], dir: String,
                             suffix: String, settings: Map[String, String],
                             codec: CompressionCodecName): Option[String] = {
    val pid = ctx.partitionId()
    if (pid != 0 && !rows.hasNext) return None
    val name = f"part-$pid%05d$suffix"
    val file = Paths.get(dir, name)
    val conf = new Configuration(false)
    settings.foreach { case (k, v) => conf.set(k, v) }
    val writer = new Builder(new LocalOutputFile(file)).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).withCompressionCodec(codec)
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf)).build()
    var n = 0L
    Utils.tryWithSafeFinally(rows.foreach { r => writer.write(r); n += 1 })(writer.close())
    val out = ctx.taskMetrics().outputMetrics
    out.setBytesWritten(Files.size(file))
    out.setRecordsWritten(n)
    Some(name)
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
