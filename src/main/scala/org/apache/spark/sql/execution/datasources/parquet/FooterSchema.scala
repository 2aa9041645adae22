// Lives in Spark's parquet package to reach the private[parquet]
// ParquetFileFormat.readSchema (same access route as the helpers in
// org.apache.spark.sql.graft).
package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** The data schema of a Parquet file or directory, read on the driver from
  * one data file's footer. The conversion is schema inference's own
  * (`ParquetFileFormat.readSchema` under `spark`'s session conf: binary as
  * string, INT96, NTZ inference, nanosAsLong), and without `mergeSchema`
  * inference also reads a single footer, so a reader given this schema
  * resolves the same columns as `spark.read.parquet` without its job.
  * Partition columns are not in the footer: the reader still discovers
  * them from `key=value` directory names. */
object FooterSchema {

  def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"no Parquet data file under $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
      .getOrElse(throw new IllegalStateException(s"no schema in ${file.getPath}"))
  }

  /** The first data file in name order: files before directories, names
    * starting `_` or `.` (markers, checksums, summaries) skipped, and only
    * `key=value` partition directories entered. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val visible = fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      val (files, dirs) = visible.partition(_.isFile)
      files.headOption.orElse(dirs.iterator
        .filter(_.getPath.getName.contains("="))
        .map(firstDataFile(fs, _)).collectFirst { case Some(f) => f })
    }
}
