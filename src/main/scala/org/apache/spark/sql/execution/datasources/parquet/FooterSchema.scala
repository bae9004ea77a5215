package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's parquet inference would give `path`, read from one
  * footer on the driver. Inference (`ParquetUtils.inferSchema`) reads one
  * footer too, but inside a Spark job (`mergeSchemasInParallel`), even for a
  * single file. The footer reader and `ParquetFileFormat.readSchema` (Spark's
  * row-metadata key, `nanosAsLong`, `binaryAsString`, `inferTimestampNTZ`)
  * are `private[parquet]`, hence this package, in the same role as
  * `graftbridge.ColumnBridge`.
  */
object FooterSchema {

  /** None when inference would merge schemas, or when `path` is missing,
    * holds no file, or its footer cannot be read: the caller then lets
    * `spark.read.parquet` infer, and raise its own error, as before.
    */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the leaves Spark's file index lists: hidden names skipped below the root
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files =
      if (sqlConf.isParquetSchemaMergingEnabled) Nil
      else try leaves(fs.getFileStatus(root)) catch { case _: java.io.FileNotFoundException => Nil }
    // inferSchema's pick without merging: a summary file, else the first
    // data file in path order
    val summaries = Seq("_common_metadata", "_metadata")
    val sorted = files.sortBy(_.getPath.toString)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { file =>
        try ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), sqlConf.ignoreCorruptFiles),
          spark)
        catch { case NonFatal(_) => None }
      }
  }
}
