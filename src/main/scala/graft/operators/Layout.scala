package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftFs

/** Z-order (Morton) data layout — multi-dimensional clustering for parquet
  * lakes. At 100 TB the scan cost of a two-predicate query is decided by
  * FILE layout, not the plan: sorting by `(a, b)` clusters only `a`, while
  * interleaving the bits of both keys gives every file a tight min/max on
  * BOTH columns, so either predicate prunes row groups. This is the same
  * layout OPTIMIZE ZORDER performs in lakehouse table formats, expressed
  * as plain Spark: compute the z-value, range-partition on it, sort within
  * partitions. (No reference counterpart — the reference's hive-style
  * yyyy/mm/dd/hh layout, `s3_writer.py:216-230`, clusters time only;
  * extension per the 100 TB mandate.)
  */
object Layout {

  /** Morton interleave of two dimensions in [0, 65535]: x occupies even
    * bits, y odd bits. Pure integer codegen expressions — zero shuffle; the
    * z-value is a scan-time column. Out-of-range inputs FAIL the job: a
    * silent low-16-bit mask would alias distant values (5 and 65541) onto
    * one z-cell, making every file's (x, y) rectangle claim false and
    * quietly destroying the pruning the layout exists for — quantize wider
    * domains into 16 bits (scale/shift/bucket) before calling.
    */
  def zValue16(x: Column, y: Column): Column = {
    def checked(c: Column, name: String): Column = {
      val l = c.cast("long")
      when(l < 0L || l > 65535L,
        raise_error(concat(
          lit(s"zValue16: $name outside [0, 65535] (quantize first): "),
          l.cast("string"))).cast("long"))
        .otherwise(l)
    }
    val xm = checked(x, "x")
    val ym = checked(y, "y")
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }
  }

  /** The identical interleave as DuckDB SQL (for cross-engine oracles). */
  def zValue16Sql(x: String, y: String): String =
    (0 until 16)
      .map(i =>
        s"((((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1}))")
      .mkString(" + ")

  /** Z-order-clustered write: range-partition on the z-value (sampled range
    * boundaries keep files equal-sized under skew), sort within partitions,
    * one parquet file per range. Each output file then has a tight z-range —
    * equivalently a small rectangle in (x, y) space — so min/max row-group
    * stats prune on either dimension.
    */
  def clusteredWrite(
      df: DataFrame,
      x: Column,
      y: Column,
      path: String,
      numFiles: Int): Unit = {
    val z = zValue16(x, y)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Before/after shape of a [[Layout.compactParquet]] run. */
  case class CompactionStats(filesIn: Int, bytesIn: Long, filesOut: Int)

  /** Small-file compaction — OPTIMIZE for a plain parquet directory. Long
    * micro-batch/streaming ingestion (the bronze writer's per-trigger
    * commits) accretes thousands of KB-scale files; at 100 TB that layout is
    * a scan killer — task-per-file scheduling overhead, no row-group
    * pruning leverage, and NameNode/listing pressure — so lakehouse engines
    * all ship a compaction pass. This is that pass as plain Spark: size the
    * output file count from the directory's actual bytes
    * (`ceil(bytes / targetBytes)`, the same sizing OPTIMIZE uses), round-
    * robin `repartition` for equal-sized outputs, one parquet file per
    * partition.
    *
    * Listing goes through the Hadoop FS API, so `src`/`dst` may be
    * `file:`/`hdfs:`/`s3a:` — and the rewrite is a distributed job; no
    * bytes pass through the driver. `repartition` (round-robin) is the
    * right shuffle here: it equalizes output sizes regardless of input
    * skew. When a clustered layout is wanted instead, compose with
    * [[clusteredWrite]] — compaction then comes free with the range
    * partitioning.
    */
  def compactParquet(
      spark: SparkSession,
      src: String,
      dst: String,
      targetBytes: Long): CompactionStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = GraftFs.conf()
    val in = GraftFs.listBySuffix(src, ".parquet", conf, keepEmpty = false)
    val bytesIn = in.map(_.getLen).sum
    val nOut = math.max(1L, (bytesIn + targetBytes - 1) / targetBytes).toInt
    GraftFs.readParquet(spark, src).repartition(nOut).write.mode("overwrite").parquet(dst)
    val out = GraftFs.listBySuffix(dst, ".parquet", conf, keepEmpty = false)
    CompactionStats(in.length, bytesIn, out.length)
  }
}
