package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeUnits

/** Bronze-layer IO — the reference's partitioned object store
  * (SURVEY §2.1 K2/S6/S7/S8/K7, §2.9 T7).
  *
  * - Hive-style `yyyy=/mm=/dd=/hh=` partition layout (`s3_writer.py:216-230`)
  *   becomes `partitionBy` columns: partition pruning is then free — a
  *   time-range predicate touches only matching directories, the 100 TB
  *   replacement for the reference's manual key-prefix listing.
  * - Incremental consumption becomes a high-watermark predicate with a
  *   re-read overlap (`scheduler.py:72-81`) + downstream dedup, instead of
  *   LastModified bookkeeping.
  * - The JSON checkpoint file (`checkpoint.py`) becomes a one-row parquet
  *   watermark table.
  */
object Bronze {

  /** P7: tolerant alias normalization at the bronze boundary — for each
    * target column, coalesce over its known aliases (`qty`|`volume`,
    * `bid_px`|`bid_price`, `feature_builder.py:110,209-212`). An EXISTING
    * target column always heads its own coalesce chain (aliases only fill
    * its nulls — they can never overwrite real values), and entries apply
    * in sorted-target order so overlapping chains resolve identically on
    * every JVM (Map iteration order is not deterministic).
    */
  def normalizeAliases(df: DataFrame, aliases: Map[String, Seq[String]]): DataFrame =
    aliases.toSeq.sortBy(_._1).foldLeft(df) { case (d, (target, names)) =>
      val fromAliases = names.filter(n => n != target && d.columns.contains(n))
      val chain =
        (if (d.columns.contains(target)) Seq(target) else Nil) ++ fromAliases
      if (fromAliases.isEmpty) d
      else d.withColumn(target, coalesce(chain.map(col): _*))
    }

  /** K2: partitioned write with derived calendar partition columns.
    * Dynamic partition overwrite: a landing replaces ONLY the calendar
    * partitions present in `df` — under the default static mode, every
    * incremental landing would truncate the whole path first, silently
    * destroying previously landed days.
    */
  def writePartitioned(df: DataFrame, tsMs: Column, path: String): Unit = {
    val withParts = TimeUnits.partitionCols(tsMs).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    withParts.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("yyyy", "mm", "dd", "hh")
      .parquet(path)
  }

  /** S6/T7: incremental read — everything after (watermark - overlap).
    * The predicate lands on the partition columns first (directory pruning)
    * and then on the row timestamp.
    */
  def readIncremental(
      spark: SparkSession,
      path: String,
      tsMsCol: String,
      watermarkMs: Long,
      overlapMs: Long): DataFrame = {
    val cutoff = watermarkMs - overlapMs
    val cutoffDay = TimeUnits.millisToTimestamp(lit(cutoff)).cast("date")
    GraftFs.readParquet(spark, path)
      // partition-level prune (yyyy/mm/dd are strings; compare lexicographically via a derived date)
      .filter(
        to_date(concat_ws("-", col("yyyy"), col("mm"), col("dd"))) >= cutoffDay)
      .filter(col(tsMsCol) > cutoff)
  }

  /** Bucketed table write — pre-shuffles once at write time so every later
    * equi-join/aggregation on the bucket key is exchange-free (the 100 TB
    * answer to "this join shuffles the fact table every day"). Requires the
    * table catalog (`saveAsTable`); bucket counts should match downstream
    * parallelism (SCALE.md).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** T6: re-anchor — rebuild state offline, then swap atomically
    * (the reference writes `*:new:*` Redis keys and RENAMEs,
    * `ARCHITECTURE.md:191-231`). Here: write the rebuilt state to a fresh
    * versioned directory, then flip a one-row pointer file; readers resolve
    * the pointer first, so they always see a complete version.
    *
    * IO goes through the Hadoop FileSystem API, so `basePath` may live on
    * `file:`, `hdfs:`, or `s3a:`. The pointer swap relies on directory
    * rename being atomic — true on POSIX and HDFS; on S3A a rename is a
    * copy, so host the POINTER directory (tiny) on a consistent store and
    * keep only the bulk v* state on the object store if that matters.
    */
  def reAnchor(spark: SparkSession, basePath: String, newState: DataFrame): Long = {
    val pointer = s"$basePath/_current"
    val prior = s"$basePath/_current_prior"
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = GraftFs.fs(base, conf)
    // Next version = 1 + max(pointer, shelved pointer, existing v* dirs):
    // the directory scan recovers from a crash that wrote v(N) but died
    // before the pointer swap — without it, the next re-anchor would
    // recompute N and trip errorifexists on the orphan.
    val fromDirs =
      (if (fs.exists(base)) fs.listStatus(base) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
        .map(_.getPath.getName.drop(1).toLong)
    val version = (loadWatermark(spark, pointer, "version").toSeq ++
      loadWatermark(spark, prior, "version").toSeq ++ fromDirs)
      .foldLeft(0L)(math.max) + 1L
    // errorifexists: a version directory is immutable history — if the
    // pointer was lost but v$version survived, fail loudly rather than
    // rewrite a directory a reader may be resolving.
    newState.write.mode("errorifexists").parquet(s"$basePath/v$version")
    // Pointer swap via renames (each atomic on POSIX/HDFS), not a parquet
    // overwrite (delete-then-write would expose readers to a torn pointer
    // for the whole write): stage the new pointer, shelve the old one, move
    // the staged one in. readCurrent falls back to the shelved pointer, so
    // the only mid-swap observation is the PREVIOUS complete version.
    // The shelved prior is NOT deleted here — it survives until the NEXT
    // re-anchor's shelving step, so a reader that missed `_current`
    // mid-swap always finds a complete pointer to fall back on (deleting it
    // eagerly reopened exactly that race at the tail of the swap).
    val staging = s"$basePath/_current_staging"
    saveWatermark(spark, staging, "version", version)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    def mv(src: String, dst: String): Unit =
      if (!fs.rename(path(src), path(dst)))
        throw new java.io.IOException(s"bronze re-anchor: rename failed: $src -> $dst")
    if (fs.exists(path(prior))) fs.delete(path(prior), true)
    if (fs.exists(path(pointer))) mv(pointer, prior)
    mv(staging, pointer)
    version
  }

  /** Resolve the current version via the pointer, falling back to the
    * shelved prior pointer (and then retrying the pointer once) so a reader
    * racing [[reAnchor]]'s swap window — `_current` renamed away but the
    * staged replacement not yet in, or `_current_prior` being reclaimed by
    * the NEXT re-anchor — lands on a complete version instead of None or a
    * half-deleted-directory AnalysisException.
    */
  def readCurrent(spark: SparkSession, basePath: String): Option[DataFrame] = {
    val pointer = s"$basePath/_current"
    val prior = s"$basePath/_current_prior"
    // The prior read tolerates ANY analysis error (it may legitimately be
    // mid-delete under the next re-anchor); the pointer reads keep
    // loadWatermark's strict contract — only PROVABLY ABSENT maps to None.
    def tolerant(p: String): Option[Long] =
      try loadWatermark(spark, p, "version")
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    loadWatermark(spark, pointer, "version")
      .orElse(tolerant(prior))
      .orElse(loadWatermark(spark, pointer, "version"))
      .map(v => GraftFs.readParquet(spark, s"$basePath/v$v"))
  }

  /** K7: durable watermark (one-row parquet). */
  def saveWatermark(spark: SparkSession, path: String, key: String, valueMs: Long): Unit = {
    import spark.implicits._
    Seq((key, valueMs)).toDF("key", "watermark_ms").write.mode("overwrite").parquet(path)
  }

  /** None means PROVABLY ABSENT (no checkpoint at `path`); any other read
    * failure propagates. Swallowing transient errors as None would make
    * callers silently reprocess full history (readIncremental) or reset the
    * re-anchor version counter onto existing directories.
    */
  def loadWatermark(spark: SparkSession, path: String, key: String): Option[Long] =
    try {
      GraftFs.readParquet(spark, path).filter(col("key") === key)
        .select("watermark_ms").collect().headOption.map(_.getLong(0))
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") ||
            e.getMessage.contains("Path does not exist") =>
        None
    }
}
