package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Narrow bridge to Spark's parquet schema inference, run on the
  * driver. `spark.read.parquet(path)` without a schema infers one
  * through `ParquetUtils.inferSchema`, which touches ONE footer (when
  * schema merging is off) but always reads it inside a Spark job — a
  * job launch per table read, the whole cost of an ad-hoc query's
  * table resolution. This reads the same footer the same way on the
  * driver: the same file choice (summary files first, then the first
  * data file in path order, over the file index's hidden-name filter),
  * the same row-group-free footer read, the same error for an
  * unreadable footer, and a converter built from the same four session
  * flags inference reads. Same auditability contract as ColumnBridge:
  * this file is the single sanctioned crossing point for it.
  */
object ParquetBridge {
  /** The data schema `spark.read.parquet(path)` would infer, or None
    * when Spark must decide: schema merging on, a path with no data
    * file (missing, empty, hidden files only — Spark raises its own
    * error), or an unreadable footer under ignoreCorruptFiles. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val files = scala.util.Try(leafFiles(root.getFileSystem(hadoopConf), root))
      .getOrElse(Nil).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .flatMap { f =>
        val footer =
          try Some(new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)))
          catch {
            case _: RuntimeException if conf.ignoreCorruptFiles => None
            case e: RuntimeException =>
              throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
          }
        footer.map(ParquetFileFormat.readSchemaFromFooter(_,
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)))
      }
  }

  /** Leaf files under `p` (or `p` itself when it is a file), skipping
    * the names Spark's file index skips. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))
}
