package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** The data schema `spark.read.options(options).parquet(path)` would
  * infer, read on the driver. Spark's non-merging inference reads one
  * footer (`_common_metadata`, else `_metadata`, else the first data
  * file by path), but always through a one-task job
  * (`SchemaMergeUtils.mergeSchemasInParallel`). This picks the same
  * footer from the same listing and converts it with the same
  * `ParquetFileFormat.readSchema` (hence this package: the helpers are
  * `private[parquet]`), so the schema is identical and no job runs.
  *
  * `None` leaves the decision to Spark's own read: a merged schema was
  * asked for (option or session conf), the path is a streaming sink's
  * output (Spark lists it from the sink's log), the path does not exist
  * or holds no file, or the chosen footer cannot be read (Spark's read
  * then raises its own error). A footer that converts badly (e.g.
  * TIMESTAMP(NANOS) without the legacy conf) throws the converter's
  * error, as Spark's inference does.
  */
object DriverSchema {

  def apply(spark: SparkSession, path: String,
      options: Map[String, String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val root = new Path(path)
    if (new ParquetOptions(options, sqlConf).mergeSchema ||
        FileStreamSink.hasMetadata(Seq(path), conf, sqlConf) ||
        !root.getFileSystem(conf).exists(root)) return None
    val files = new InMemoryFileIndex(spark, Seq(root), options, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName)))
      .flatMap(footer(_, conf))
      .flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark))
  }

  private def footer(file: FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Option[Footer] =
    try Some(new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)))
    catch { case scala.util.control.NonFatal(_) => None }
}
