package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AsOf
import graft.plans.AsOfMergeJoinExec

/** Adversarial coverage for [[graft.plans.AsOfMergeJoinExec]]: exact
  * tolerance boundaries, equal-distance ties, duplicate right timestamps
  * with tie-breaks, null join columns, self-joins, pre-shuffled children
  * with UNEQUAL partition counts (EnsureRequirements must co-partition the
  * sides before zipPartitions — the AQE/ValidateRequirements interaction the
  * hand-rolled physical operator is most exposed to), range edges, and a
  * nested-loop reference over random data.
  */
class AsOfMergeJoinSpec extends SparkSpec {
  import spark.implicits._

  private val tol = 1000L

  // left: (k, lts, lid) — includes a null key and a null ts row (dropped).
  private def leftDf: DataFrame =
    Seq(
      (Some("A"), Some(1000L), 1L), // tie: rights at 0 and 2000 both d=1000
      (Some("A"), Some(5000L), 2L), // tie: rights at 4000 and 6000
      (Some("A"), Some(9000L), 3L), // exactly tol after right@8000
      (Some("B"), Some(500L), 4L),  // nearest right is AFTER (forward match)
      (Some("C"), Some(100L), 5L),  // no right within tol -> dropped
      (None, Some(1L), 6L),
      (Some("A"), None, 7L)
    ).toDF("k", "lts", "lid")

  // right: duplicate ts on key A at 4000 (rid 40 vs 41) and nulls.
  private def rightDf: DataFrame =
    Seq(
      (Some("A"), Some(0L), 10L, 10.0),
      (Some("A"), Some(2000L), 20L, 20.0),
      (Some("A"), Some(4000L), 40L, 40.0),
      (Some("A"), Some(4000L), 41L, 41.0),
      (Some("A"), Some(6000L), 60L, 60.0),
      (Some("A"), Some(8000L), 80L, 80.0),
      (Some("B"), Some(1400L), 90L, 90.0),
      (Some("C"), Some(5000L), 91L, 91.0),
      (None, Some(3L), 92L, 92.0),
      (Some("A"), None, 93L, 93.0)
    ).toDF("k", "rts", "rid", "v")

  test("nearest: tolerance boundary inclusive, equal-distance tie -> earlier right ts") {
    val out = AsOf
      .nearest(leftDf, rightDf, "k", "lts", "rts", tol, Seq("v"))
      .select("lid", "__right_ts", "v")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // lid=1: d(0)=1000=tol, d(2000)=1000 -> tie -> earlier (0); lid=2: ts 4000
    // ties internally on rid but both rows share ts -> distance tie vs 6000
    // broken toward earlier ts 4000; lid=3: 8000 at exactly tol; lid=4:
    // forward-only match at 1400; lid=5/6/7 dropped.
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 0L), (2L, 4000L), (3L, 8000L), (4L, 1400L)))
  }

  test("backward: duplicate right ts -> max tieBreak; future rights ignored") {
    val out = AsOf
      .backward(leftDf, rightDf, "k", "lts", "rts", tol, Seq("rid", "v"), "rid")
      .select("lid", "__right_ts", "rid")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // lid=1: latest <=1000 within tol is 2000? no (future) -> 0 at exactly tol
    // lid=2: rights at 4000 (dup) -> rid 41 wins the tie
    // lid=3: 8000 (exactly tol before 9000)
    // lid=4: only right is at 1400 (future) -> dropped
    assert(out.toSeq === Seq((1L, 0L, 10L), (2L, 4000L, 41L), (3L, 8000L, 80L)))
  }

  /** Nested-loop reference: every same-key pair inside the tolerance, best
    * by the documented rule — nearest: min |Δt|, then earlier ts, then
    * smaller rid; backward: latest ts, then larger rid. Returns (lid, ts, rid).
    */
  private def reference(
      l: Seq[(String, Long, Long)], r: Seq[(String, Long, Long)],
      tol: Long, backward: Boolean): Seq[(Long, Long, Long)] =
    l.flatMap { case (k, lts, lid) =>
      val in = r.filter { case (rk, rts, _) =>
        rk == k && (if (backward) rts <= lts && lts - rts <= tol else math.abs(rts - lts) <= tol)
      }
      val best =
        if (backward) in.maxByOption { case (_, rts, rid) => (rts, rid) }
        else in.minByOption { case (_, rts, rid) => (math.abs(rts - lts), rts, rid) }
      best.map { case (_, rts, rid) => (lid, rts, rid) }
    }.sorted

  test("random data matches a nested-loop reference: both directions, range edges, negative epochs, one hot key") {
    for ((tol, seed) <- Seq((1L, 1), (7L, 2), (250L, 3))) {
      val rnd = new scala.util.Random(seed)
      val span = tol * AsOf.SpanTolerances
      // timestamps over [-12, 12) ranges, a third of them on or next to an
      // edge (offsets -tol-1 .. tol+1 around a range boundary)
      def ts(): Long = {
        val edge = (rnd.nextInt(24) - 12) * span
        if (rnd.nextInt(3) == 0) edge + Seq(-tol - 1, -tol, -1, 0, 1, tol - 1, tol, tol + 1)(rnd.nextInt(8))
        else edge + rnd.nextLong(span)
      }
      // "H" is hot (~80 % of rows), c0..c3 cold
      def key(): String = if (rnd.nextInt(5) > 0) "H" else s"c${rnd.nextInt(4)}"
      val l = (0 until 400).map(i => (key(), ts(), i.toLong))
      val r = (0 until 600).map(i => (key(), ts(), 1000L + i))
      val lDf = l.toDF("k", "lts", "lid")
      val rDf = r.toDF("k", "rts", "rid").withColumn("v", col("rid") * 0.5)
      for (backward <- Seq(false, true)) {
        val out =
          (if (backward) AsOf.backward(lDf, rDf, "k", "lts", "rts", tol, Seq("rid", "v"), "rid")
           else AsOf.nearest(lDf, rDf, "k", "lts", "rts", tol, Seq("rid", "v")))
            .select("lid", "__right_ts", "rid").as[(Long, Long, Long)].collect().toSeq.sorted
        val want = reference(l, r, tol, backward)
        assert(want.size > 100, s"tol=$tol backward=$backward: too few matches to test")
        assert(out === want, s"tol=$tol backward=$backward")
      }
    }
  }

  test("nearest: rows sharing (key, ts) resolve to the smallest value, whatever the input order") {
    val l = Seq(("A", 1000L, 1L)).toDF("k", "lts", "lid")
    // one row per input partition, read back in descending value order
    val r = Seq(("A", 1000L, 3.0), ("A", 1000L, 2.0), ("A", 1000L, 1.0)).toDF("k", "rts", "v")
    val out = AsOf.nearest(l, r, "k", "lts", "rts", tol, Seq("v")).select("v").as[Double].collect()
    assert(out.toSeq === Seq(1.0))
  }

  test("one hot key spanning 8 ranges reaches the exec through several partitions") {
    val span = tol * AsOf.SpanTolerances
    val l = (0 until 8).map(i => ("H", i * span + 5, i.toLong)).toDF("k", "lts", "lid")
    val r = (0 until 8).map(i => ("H", i * span, i.toDouble)).toDF("k", "rts", "v")
    // without AQE the executed plan holds the exec with its planned
    // exchanges, which AQE's coalescing would merge on inputs this small
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = AsOf.nearest(l, r, "k", "lts", "rts", tol, Seq("v"))
      assert(df.count() === 8)
      val exec = df.queryExecution.executedPlan.collectFirst { case e: AsOfMergeJoinExec => e }.get
      val nonEmpty = exec.left.execute()
        .mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).collect().sum
      assert(nonEmpty >= 2, exec.left.treeString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("children pre-shuffled to UNEQUAL partition counts are re-co-partitioned") {
    // HashPartitioning(5) vs HashPartitioning(3): both satisfy
    // ClusteredDistribution, so EnsureRequirements must still equalize the
    // counts or zipPartitions throws at runtime.
    val l5 = leftDf.repartition(5, col("k"))
    val r3 = rightDf.repartition(3, col("k"))
    val out = AsOf
      .nearest(l5, r3, "k", "lts", "rts", tol, Seq("v"))
      .select("lid", "__right_ts")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 0L), (2L, 4000L), (3L, 8000L), (4L, 1400L)))
  }

  test("self-join: both sides from the same DataFrame resolve and match") {
    val base = Seq(
      ("A", 1000L, 1L, 1.0), ("A", 3000L, 2L, 2.0), ("A", 6000L, 3L, 3.0)
    ).toDF("k", "ts", "id", "px")
    val out = AsOf
      .backward(
        base.select(col("k"), col("ts"), col("id")),
        base.select(col("k"), col("ts"), col("id").as("rid"), col("px")),
        "k", "ts", "ts", 5000L, Seq("rid", "px"), "rid")
      .select("id", "rid")
      .as[(Long, Long)].collect().sortBy(_._1)
    // each row's latest at-or-before match is itself (rid ties -> max rid = own)
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }
}
