package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.util.SerializableConfiguration

/** Hadoop-FileSystem plumbing shared by the custom sources (`sbe-frames`,
  * `avro-ocf`, the bronze re-anchor pointer). The reference's storage layer
  * is object storage (`s3_writer.py:216-230`, `s3_reader.py:37-72`); binding
  * these sources to `java.io.File` would make them correct in a single-node
  * sandbox but unrunnable on a real cluster, where executors cannot see the
  * driver's local paths at all. Routing every path through
  * `org.apache.hadoop.fs.FileSystem` keeps `file:` working unchanged while
  * gaining `hdfs:` / `s3a:` for free — the scheme on the user's path picks
  * the implementation, and `spark.hadoop.*` session configs (credentials,
  * endpoints) flow through the session's `hadoopConfiguration`.
  *
  * Executor-side access: `Configuration` is not Java-serializable, so scan
  * and write factories carry a broadcast [[SerializableConfiguration]]
  * ([[broadcastConf]]), as Spark's own `FileScan` does, and tasks
  * re-resolve the FileSystem from it per partition. Driver-side listing
  * and boundary walks use the plain [[conf]].
  *
  * Local writes: sessions from [[graft.GraftSession]] resolve `file:` to
  * [[NioLocalFileSystem]] / [[NioLocalFs]], which set permissions and test
  * for symlinks through `java.nio.file` instead of forking `chmod` and
  * `readlink` (Hadoop's `chmod` fallback on hosts without native
  * `libhadoop`, and its `readlink` on every host), which were the bulk of
  * the streaming hot path's per-batch cost (SCALE.md, streaming). Only
  * `file:` is affected; `hdfs:` and `s3a:` resolve as configured.
  */
object GraftFs {

  /** The active session's Hadoop configuration (driver side), which carries
    * `spark.hadoop.*` overrides — credentials, endpoints, timeouts. Falls
    * back to classpath defaults plus the local-filesystem choice
    * ([[graft.GraftSession.hadoopConf]]) when no session exists on this JVM
    * (an edge-side capture process journaling without Spark), so a capture
    * that runs before the session cannot pin Hadoop's cached `file:`
    * FileSystem to the forking stock class.
    */
  def conf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(graft.GraftSession.hadoopConf())

  /** `hadoopConf` broadcast once, for reader and writer factories to carry.
    *
    * Why not the configuration itself: even a bare `Configuration` is
    * ~360 properties, ~34 KB Java-serialized, and a factory goes into more
    * task binaries than its own scan's — `MicroBatchScanExec` keeps the
    * reader factory as a field, and every stateful operator's task closure
    * captures its own exec node, scan subtree included. Each task of each
    * micro-batch then wrote and read the whole configuration; a broadcast
    * ships as its id and is fetched once per executor. Callers create it
    * once per scan, stream or write job, not per batch.
    */
  def broadcastConf(hadoopConf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))

  /** `spark.read.parquet(path)` without the Spark job its schema inference
    * starts on every load: the schema comes from one footer read on the
    * driver ([[FooterSchema]]), through the function inference applies, so
    * the DataFrame's schema, plan and rows are unchanged. Hive partition
    * columns still come from the paths (the given schema holds only data
    * columns, as the inferred one does). The footer is read on every call,
    * so a rewritten file is never read stale. When no schema can be read
    * (no data file, a missing path, an unreadable footer) Spark infers and
    * raises its own error.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema.of(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** FileSystem for `path`. The local scheme resolves to the RAW local
    * filesystem, not the checksumming `LocalFileSystem` wrapper: the wrapper
    * refuses `append` (the capture journal's contract), strews `.crc`
    * sidecars through capture directories, and adds nothing here — the
    * length-prefixed/container formats carry their own integrity framing.
    * Raw local ([[NioRawLocalFileSystem]] under a [[graft.GraftSession]]
    * configuration) preserves the exact `java.io` byte semantics this API
    * replaced; every other scheme (`hdfs:`, `s3a:`, ...) is returned as
    * configured.
    */
  def fs(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case l: LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  /** Non-empty data files under `dir` whose name ends with `suffix`, sorted
    * by name (the offset/replay order contract of both custom sources). A
    * missing directory lists as empty — sources treat "not created yet" as
    * "no data yet", matching the previous `File.listFiles == null` handling.
    * `keepEmpty` admits zero-length files (a frame journal's just-rolled
    * active file is legitimately empty; an Avro container never is — no
    * header).
    */
  def listBySuffix(
      dir: String,
      suffix: String,
      conf: Configuration,
      keepEmpty: Boolean = true): Array[FileStatus] = {
    val p = new Path(dir)
    val f = fs(p, conf)
    val statuses =
      try f.listStatus(p)
      catch {
        // "not created yet" AND "deleted between exists-check and list" both
        // mean "no data yet" — the java.io Option(listFiles) semantics this
        // replaced never threw on either
        case _: java.io.FileNotFoundException => Array.empty[FileStatus]
      }
    statuses
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix) &&
        (keepEmpty || s.getLen > 0))
      .sortBy(_.getPath.getName)
  }
}
