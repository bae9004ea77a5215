package graft

import org.apache.spark.sql.SparkSession

import graft.plans.{AsOfDsl, AsOfJoinNode, GraftExtensions, ResolveAsOfJoin}

class PlansSpec extends SparkSpec {
  import spark.implicits._

  private def leftDf = Seq(("K", 1000L, 1L), ("K", 9000L, 2L)).toDF("k", "lts", "lid")
  private def rightDf =
    Seq(("K", 900L, 10.0), ("K", 1100L, 11.0), ("K", 8000L, 12.0)).toDF("k", "rts", "v")

  test("AsOfDsl node expands to the same result as the direct operator") {
    val viaNode = AsOfDsl
      .asofNearest(leftDf, rightDf, "k", "lts", "rts", 2000L, "lid", Seq("v"))
      .select("lid", "v").collect().map(_.toString).sorted
    val direct = operators.AsOf
      .nearest(leftDf, rightDf, "k", "lts", "rts", 2000L, "lid", Seq("v"))
      .select("lid", "v").collect().map(_.toString).sorted
    assert(viaNode.toSeq === direct.toSeq)
    assert(viaNode.nonEmpty)
  }

  test("ResolveAsOfJoin leaves plans without the node untouched") {
    val plan = leftDf.queryExecution.analyzed
    assert(ResolveAsOfJoin(spark)(plan) eq plan)
  }

  test("a session built with GraftExtensions resolves the node during analysis") {
    // carve out a session with extensions on the shared SparkContext
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = GraftSession.withEngineConfs(SparkSession.builder())
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val node = AsOfJoinNode(
          leftDf.queryExecution.analyzed, rightDf.queryExecution.analyzed,
          "k", "lts", "rts", 2000L, "lid", Seq("v"))
        // no eager rule application: the session's own analyzer must expand it
        val out = ColumnBridge.ofRows(s2, node).select("lid", "v").collect()
        assert(out.length === 2)
      } finally {
        // leave s2 alive (shared context) but restore session slots below
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
