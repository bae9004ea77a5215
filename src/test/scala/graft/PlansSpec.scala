package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

class PlansSpec extends SparkSpec {

  test("a session built with GraftExtensions plans AsOfMergeJoinNode without the DSL's self-registration") {
    // carve out a session with extensions on the shared SparkContext
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = GraftSession.builder("local[4]", shufflePartitions = 4)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // leave s2 alive (shared context) but restore session slots below
      val l = s2.createDataFrame(Seq(("K", 1000L, 1L), ("K", 9000L, 2L))).toDF("k", "lts", "lid")
      val r = s2.createDataFrame(Seq(("K", 900L, 10.0), ("K", 1100L, 11.0), ("K", 8000L, 12.0)))
        .toDF("k", "rts", "v")
      val df = operators.AsOf.nearest(l, r, "k", "lts", "rts", 2000L, Seq("v"))
      val out = df.select("lid", "v").collect().map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._1)
      assert(out.toSeq === Seq((1L, 10.0), (2L, 12.0)))
      val cs2 = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      assert(cs2.experimental.extraStrategies.isEmpty)
      assert(df.queryExecution.executedPlan.toString.contains("AsOfMergeJoin"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
