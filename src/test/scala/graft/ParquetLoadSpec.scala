package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.sources.{Bronze, GraftFs}

/** One parquet read path: [[GraftFs.readParquet]] takes the schema from one
  * footer on the driver, so a load keeps `spark.read.parquet`'s schema and
  * rows but starts no Spark job (inference starts one per load).
  */
class ParquetLoadSpec extends SparkSpec {

  private val Tables10 = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_parquet_load_").toString

  /** Jobs that `body` starts from this thread, counted once the listener
    * bus is drained. A thread-local tag keeps other threads' jobs out.
    */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"parquet-load-${System.nanoTime()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.load") == tag))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.load", tag)
    try {
      val out = body
      ColumnBridge.drainListenerBus(sc)
      (out, started.get)
    } finally {
      sc.setLocalProperty("graft.test.load", null)
      sc.removeSparkListener(listener)
    }
  }

  /** Row hashes as a sorted multiset: equal iff the rows are equal. */
  private def rowHashes(df: DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*)).collect().map(_.getLong(0))
      .toSeq.sorted

  private def assertSameAsInference(path: String, loaded: DataFrame): Unit = {
    val inferred = spark.read.parquet(path)
    assert(loaded.schema === inferred.schema, path)
    assert(rowHashes(loaded) === rowHashes(inferred), path)
  }

  test("Tables.load: every table keeps the inferred schema and rows, and starts no job") {
    Tables10.foreach { name =>
      val (loaded, jobs) = jobsStartedBy(Tables.load(spark, sf, name))
      assert(jobs === 0, s"$name: Tables.load started $jobs job(s)")
      assertSameAsInference(s"$sf/$name.parquet", loaded)
    }
  }

  test("multi-file, hive-partitioned and single-file layouts match inference, no job") {
    val trades = Tables.trades(spark, sf)
    val multi = s"${tmp()}/multi"
    trades.repartition(3).write.parquet(multi)
    val hive = s"${tmp()}/bronze"
    Bronze.writePartitioned(trades, col("ts_ms"), hive)
    val single = s"$sf/events.parquet"
    for (path <- Seq(multi, hive, single)) {
      val (loaded, jobs) = jobsStartedBy(GraftFs.readParquet(spark, path))
      assert(jobs === 0, s"$path: the load started $jobs job(s)")
      assertSameAsInference(path, loaded)
    }
    // the hive layout's partition columns still come from the paths
    assert(GraftFs.readParquet(spark, hive).columns.takeRight(4) === Array("yyyy", "mm", "dd", "hh"))
  }

  test("an empty directory or a missing path fails as spark.read.parquet does") {
    val empty = tmp()
    for (path <- Seq(empty, s"$empty/missing")) {
      val expected = intercept[Exception](spark.read.parquet(path))
      val got = intercept[Exception](GraftFs.readParquet(spark, path))
      assert(got.getClass === expected.getClass, path)
      assert(got.getMessage === expected.getMessage, path)
    }
  }
}
