package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{
  MetadataFilter, NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their schema from one footer read on the
  * driver. `spark.read.parquet(p)` infers the schema with a one-task Spark
  * job that reads one footer (without `mergeSchema`, the default); here the
  * driver picks the file that job would pick (`_common_metadata`, then
  * `_metadata`, then the first data file by path) and converts its footer
  * with Spark's own rules under the session's settings, so the frame is the
  * one `spark.read.parquet` gives.
  *
  * Anything but files and flat directories of files (a glob, a missing
  * path, a partitioned directory) falls back to `spark.read.parquet`, its
  * inference job and its errors included.
  */
object ParquetFooters {

  /** `spark.read.parquet(paths: _*)` without the schema-inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths: _*).fold(spark.read.parquet(paths: _*))(
      spark.read.schema(_).parquet(paths: _*))

  /** The footer schema of the file Spark's inference would read; None
    * where [[read]] falls back to inference. */
  private def schema(spark: SparkSession, paths: String*): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val leaves = paths.map(p => listing(new Path(p), conf))
    if (leaves.exists(_.isEmpty)) None
    else {
      val files = leaves.flatten.flatten.sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => isData(f.getPath.getName)))
        .map(f => ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer(f, conf, SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }

  /** The rows of the data files directly under `dir`, summed from their
    * footers; 0 when `dir` is absent. */
  def rows(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    listing(dir, conf).getOrElse(Seq.empty)
      .filter(f => isData(f.getPath.getName))
      .map(footer(_, conf, NO_FILTER).getBlocks.stream()
        .mapToLong(_.getRowCount).sum())
      .sum
  }

  private def footer(file: FileStatus, conf: Configuration, filter: MetadataFilter) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), filter)

  /** The files a Spark listing of `path` reads: `path` itself, or the
    * visible entries of a flat directory. None for anything else. */
  private def listing(path: Path, conf: Configuration): Option[Seq[FileStatus]] = {
    val fs = path.getFileSystem(conf)
    val st = try fs.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) Some(Seq(st))
    else {
      val kids = fs.listStatus(path).toSeq.filterNot(f => hidden(f.getPath.getName))
      if (kids.exists(_.isDirectory)) None else Some(kids)
    }
  }

  /** The names Spark's file listing skips (InMemoryFileIndex), summary
    * files aside. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** A file Spark reads rows from: visible, and no summary file. */
  def isData(name: String): Boolean = !hidden(name) &&
    !Set("_SUCCESS", "_metadata", "_common_metadata").contains(name)
}
