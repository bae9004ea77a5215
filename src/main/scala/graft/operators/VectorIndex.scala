package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.VectorOps.IvfPqModel
import graft.sources.GraftFs

/** Persistence for the IVF-PQ index — the missing half of the production
  * ANN lifecycle: [[VectorOps.ivfPqTrain]] builds offline, this writes the
  * index as plain parquet, and a serving job loads it and runs
  * [[VectorOps.ivfPqSearch]] without ever retraining. Four tables under one
  * directory: `params` (1 row), `centroids` (nCells rows), `books` (m·ks
  * rows), `codes` (corpus-sized, the only big one — written distributed,
  * read with full scan parallelism). Parquet round-trips DOUBLE columns
  * bit-exactly, so a loaded index scores identically to the just-trained
  * one — x_v12's oracle (the same unrolled SQL as x_v11) is the
  * end-to-end losslessness proof.
  *
  * Paths are plain Spark parquet locations — `file:`/`hdfs:`/`s3a:` all
  * work; the driver-sized tables are written `coalesce(1)` (one footer
  * each), the codes keep their upstream partitioning.
  */
object VectorIndex {

  def save(model: IvfPqModel, codes: DataFrame, dir: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    // The three driver-sized tables are independent one-task write jobs;
    // running them from a small thread pool overlaps their fixed job
    // latency (scheduling + commit) instead of paying it three times
    // sequentially (r17 opt, guide §2.6 "overlap independent jobs" — job
    // descriptions and the FIFO scheduler handle concurrent actions fine).
    // The corpus-sized codes write stays on the caller thread.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val small = Seq(
      Future {
        Seq((model.nCells, model.dim, model.m, model.ks))
          .toDF("n_cells", "dim", "m", "ks")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
      },
      Future {
        // toVector: Row.getSeq hands back mutable ArraySeq, which the
        // immutable-Seq product encoder rejects at runtime in Scala 2.13
        model.cents.map { case (cid, c) => (cid, c.toVector) }
          .toDF("cid", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      },
      Future {
        model.books.zipWithIndex
          .flatMap { case (book, s) => book.map { case (cid, c) => (s, cid, c.toVector) } }
          .toDF("s", "cid", "c")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
      })
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    Await.result(Future.sequence(small), Duration.Inf)
  }

  /** Incremental growth: encode `newVecs` with the persisted model's frozen
    * quantizers ([[VectorOps.ivfPqEncode]]) and APPEND their codes — the
    * between-retrains arrival path. The model tables are untouched; only
    * the distributed codes table grows, and a search over the appended
    * index scores the new rows exactly as if they had been present at
    * train time (the encode is training-state-free).
    */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame): Unit = {
    val (model, _) = load(spark, dir)
    VectorOps.ivfPqEncode(model, newVecs)
      .write.mode("append").parquet(s"$dir/codes")
  }

  def load(spark: SparkSession, dir: String): (IvfPqModel, DataFrame) = {
    // the three dimension reads are independent one-task collect jobs —
    // overlap them like save() overlaps the writes (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val pF = Future(GraftFs.readParquet(spark, s"$dir/params").head())
    val centsF = Future(GraftFs.readParquet(spark, s"$dir/centroids").collect()
      .map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Double]]("c").toVector: Seq[Double]))
      .sortBy(_._1).toSeq)
    val bookRowsF = Future(GraftFs.readParquet(spark, s"$dir/books").collect()
      .map(r => (r.getAs[Int]("s"), r.getAs[Int]("cid"),
        r.getAs[Seq[Double]]("c").toVector: Seq[Double])))
    val p = Await.result(pF, Duration.Inf)
    val cents = Await.result(centsF, Duration.Inf)
    val bookRows = Await.result(bookRowsF, Duration.Inf)
    val m = p.getAs[Int]("m")
    val books = (0 until m).map(s =>
      bookRows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1).toSeq)
    val model = IvfPqModel(
      p.getAs[Int]("n_cells"), p.getAs[Int]("dim"), m, p.getAs[Int]("ks"),
      cents, books)
    (model, GraftFs.readParquet(spark, s"$dir/codes"))
  }
}
