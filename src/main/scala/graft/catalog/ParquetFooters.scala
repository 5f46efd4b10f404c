package graft.catalog

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet tables opened from their footers, read in this process.
  *
  * `spark.read.parquet(path)` without a schema runs a Spark job to infer
  * it, even for one file: the reference's `DESCRIBE TABLE`
  * (forecast_script.py:106-111) is a metadata read, and so is this. The
  * footer read picks the file Spark's `ParquetUtils.inferSchema` picks
  * (`_common_metadata`, then `_metadata`, then the first data file by
  * sorted path) and converts it with Spark's own converter under the
  * session's `SQLConf`, so a Spark-written row-metadata schema and the
  * `nanosAsLong` / `inferTimestampNTZ` confs apply exactly as in the
  * inference job. [[ParquetCatalog.load]] and
  * [[graft.sources.Fixtures.table]] open every table through [[read]].
  */
object ParquetFooters {

  private val Summaries = Set("_common_metadata", "_metadata")

  /** Spark's listing rule (`InMemoryFileIndex.shouldFilterOutPathName`):
    * `_`- and `.`-prefixed names are not part of the table, except the
    * two summary files.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !Summaries(name)

  /** `spark.read.parquet(path)`, with the schema handed over from
    * [[schemaOf]] so no inference job runs; Spark's own inference (and
    * its errors) wherever [[schemaOf]] declines.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark would infer for the parquet table at `path`, read
    * from one footer with no Spark job. `None`, so that the caller falls
    * back to Spark's inference, when inference would read more than that
    * one footer or cannot succeed: `spark.sql.parquet.mergeSchema` is on,
    * the table has subdirectories (hive partitions, whose columns come
    * from the paths), it has no data file, or the path or footer cannot
    * be read (Spark then reports the error as it always has).
    */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else
      try {
        val conf = spark.sessionState.newHadoopConf()
        val root = new Path(path)
        val fs = root.getFileSystem(conf)
        val status = fs.getFileStatus(root)
        val files =
          if (!status.isDirectory) Seq(status)
          else fs.listStatus(root).filterNot(s => hidden(s.getPath.getName)).toSeq
        if (files.exists(_.isDirectory)) None
        else {
          val sorted = files.sortBy(_.getPath.toString)
          def named(n: String) = sorted.find(_.getPath.getName == n)
          named("_common_metadata")
            .orElse(named("_metadata"))
            .orElse(sorted.find(s => !Summaries(s.getPath.getName)))
            .map { f =>
              val footer = ParquetFooterReader.readFooter(
                HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
              ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
                new ParquetToSparkSchemaConverter(spark.sessionState.conf))
            }
        }
      } catch { case NonFatal(_) => None }

  /** Whether any of `files` holds a row, from the row counts of their
    * footers' row groups. Reads footers until the first non-empty file.
    */
  def hasRows(spark: SparkSession, files: Seq[FileStatus]): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    files.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount > 0 finally reader.close()
    }
  }
}
