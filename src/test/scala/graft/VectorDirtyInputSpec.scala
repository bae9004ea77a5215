package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** What each public ANN entry point does with a dirty embedding: a null
  * array, a null element, and a wrong-width vector. The fixtures hold no
  * such row, so these tests are what keeps a shared null filter or encoder
  * from changing the answer on them:
  *  - brute force (`annTopK`) keeps the row, with a null `cos_sim` ranked
  *    last; `nearDupPairs` never pairs it (a null score fails the threshold);
  *  - IVF/PQ training drops null and null-element rows; a wrong-width row
  *    passes the null guard, gets a null cell, and the driver-side regroup
  *    of the means fails on that null;
  *  - `ivfPqEncode` drops all three (the null cid fails the centroid join);
  *    `ivfPqSearch` drops null, null-element and wrong-width queries.
  */
class VectorDirtyInputSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(i: Int): Seq[java.lang.Float] = (0 until dim).map(d =>
    java.lang.Float.valueOf((((i * 31 + d * 17) % 97) / 97.0 - 0.5).toFloat))
  private val cleanRows = (0 until 60).map(i => (i.toLong, vec(i)))
  private val nullArray = (1000L, null: Seq[java.lang.Float])
  private val nullElement = (1001L, vec(7).updated(3, null: java.lang.Float))
  private val wrongWidth = (1002L, vec(9).take(3))
  private val dirtyIds = Seq(1000L, 1001L, 1002L)
  private val qs = Seq(0L, 1L, 2L) ++ dirtyIds

  private def corpus(extra: (Long, Seq[java.lang.Float])*): DataFrame =
    (cleanRows ++ extra).toDF("id", "embedding")
  private val clean = corpus()
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("annTopK keeps a dirty row with a null cos_sim, ranked last") {
    val all = corpus(nullArray, nullElement, wrongWidth)
    val n = 63
    def run(c: DataFrame) = VectorOps.annTopK(
      c.filter(col("id").isin(qs: _*)).select(col("id").as("query_id"), col("embedding")),
      c.select(col("id").as("vec_id"), col("embedding")), k = n)
    val got = run(all).collect().map(r => ((r.getLong(0), r.getLong(1)), r)).toMap
    val base = run(clean).collect()
    assert(base.length === 3 * 60)
    // clean query x clean row: unchanged, ranks 1..60
    base.foreach(r => assert(got((r.getLong(0), r.getLong(1))) === r))
    // clean query x dirty row: null score, ranks 61..63 in vec_id order
    for (q <- Seq(0L, 1L, 2L); (d, i) <- dirtyIds.zipWithIndex)
      assert(got((q, d)) === Row(q, d, null, 61L + i))
    // dirty query: every score null (ties rank in vec_id order), except the
    // wrong-width vector against itself
    val byQuery = got.values.groupBy(_.getLong(0))
    for (q <- Seq(1000L, 1001L)) {
      val rs = byQuery(q).toSeq.sortBy(_.getLong(3))
      assert(rs.size === n && rs.forall(_.isNullAt(2)))
      assert(rs.map(_.getLong(1)) === (0L until 60L) ++ dirtyIds)
    }
    val ww = byQuery(1002L).toSeq.sortBy(_.getLong(3))
    assert(ww.head === Row(1002L, 1002L, 1.0, 1L))
    assert(ww.tail.forall(_.isNullAt(2)))
  }

  test("nearDupPairs never pairs a dirty row") {
    def run(c: DataFrame) = VectorOps.nearDupPairs(
      c.select(col("id"), col("embedding"), (col("id") % 2).as("block")), threshold = -2.0)
    val base = rows(run(clean))
    assert(base.size === 2 * (30 * 29 / 2))
    assert(rows(run(corpus(nullArray, nullElement, wrongWidth))) === base)
  }

  /** The IVF/PQ entry points as one map: each trains on its input. */
  private val trained: Seq[(String, DataFrame => DataFrame)] = Seq(
    "annTopKIvf exact" -> (c => VectorOps.annTopKIvf(c, qs, k = 3, nCells = 4, nProbe = 2)),
    "annTopKIvf fast" -> (c => VectorOps.annTopKIvf(c, qs, k = 3, nCells = 4, exactMeans = false)),
    "annTopKPq" -> (c => VectorOps.annTopKPq(c, qs, k = 5, dim = dim, m = 2, ks = 4)),
    "ivfPqTrain+ivfPqSearch" -> { c =>
      val (model, codes) = VectorOps.ivfPqTrain(c, nCells = 4, dim = dim, m = 2, ks = 4)
      VectorOps.ivfPqSearch(model, codes, c, qs, k = 5, nProbe = 2)
    },
    "ivfPqTrain codes" -> (c => VectorOps.ivfPqTrain(c, nCells = 4, dim = dim, m = 2, ks = 4)._2))

  test("IVF/PQ training drops null and null-element rows, fails on a wrong width") {
    for ((name, f) <- trained) {
      val base = rows(f(clean))
      assert(base.nonEmpty, name)
      for (dirty <- Seq(nullArray, nullElement))
        assert(rows(f(corpus(dirty))) === base, s"$name / id ${dirty._1}")
      val err = intercept[Exception](f(corpus(wrongWidth)).collect())
      assert(err.getClass.getName === "org.apache.spark.SparkRuntimeException", name)
      assert(err.getMessage.contains("ROW_VALUE_IS_NULL"), s"$name: ${err.getMessage}")
    }
  }

  test("ivfPqEncode drops every dirty row; ivfPqSearch answers no dirty query") {
    val (model, codes) = VectorOps.ivfPqTrain(clean, nCells = 4, dim = dim, m = 2, ks = 4)
    val all = corpus(nullArray, nullElement, wrongWidth)
    assert(rows(VectorOps.ivfPqEncode(model, all)) === rows(codes))
    val k = 5
    val base = rows(VectorOps.ivfPqSearch(model, codes, clean, qs, k, nProbe = 2))
    val got = rows(VectorOps.ivfPqSearch(model, codes, all, qs, k, nProbe = 2))
    // a wrong-width query has no distance to any cell, so it probes none
    assert(got === base)
    assert(!got.exists(r => dirtyIds.contains(r.getLong(0))))
    val reranked = VectorOps.ivfPqSearchRerank(model, codes, all, qs, k, shortlist = 8, nProbe = 2)
    assert(rows(reranked) ===
      rows(VectorOps.ivfPqSearchRerank(model, codes, clean, qs, k, shortlist = 8, nProbe = 2)))
  }
}
