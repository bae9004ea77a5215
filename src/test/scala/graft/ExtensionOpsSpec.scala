package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Layout, Scd, Sessionize, TextDedup, TextRank, VectorOps}

/** Golden + property tests for the round-3 extension operators:
  * sessionization, SCD2 history, BM25, z-order layout, per-dim
  * standardization.
  */
class ExtensionOpsSpec extends SparkSpec {
  import spark.implicits._

  /** The same rows over an RDD leaf. A local Seq lets ConvertToLocalRelation
    * evaluate a kernel at optimization time, interpreted, so a test pinned
    * to CODEGEN_ONLY would never run the generated call.
    */
  private def overRdd(local: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(local.collect().toSeq, 2), local.schema)

  // --- Sessionize ---------------------------------------------------------

  test("sessionize: gap strictly greater than threshold starts a new session") {
    val df = Seq(
      ("u1", 0L, 1L, 1.0),
      ("u1", 100L, 2L, 1.0), // gap == 100 → same session (boundary inclusive)
      ("u1", 201L, 3L, 1.0), // gap == 101 > 100 → new session
      ("u2", 5L, 4L, 2.0) // separate key
    ).toDF("k", "ts", "id", "v")
    val out = Sessionize
      .sessions(df, col("k"), col("ts"), col("id"), col("v"), gapMs = 100L)
      .orderBy("key", "session_seq")
      .collect()
    assert(out.length === 3)
    val s1 = out(0)
    assert(s1.getAs[Long]("session_seq") === 1L)
    assert(s1.getAs[Long]("n_events") === 2L)
    assert(s1.getAs[Long]("session_start") === 0L)
    assert(s1.getAs[Long]("session_end") === 100L)
    val s2 = out(1)
    assert(s2.getAs[Long]("session_seq") === 2L)
    assert(s2.getAs[Long]("n_events") === 1L)
    assert(out(2).getAs[String]("key") === "u2")
  }

  test("sessionize: tied timestamps fall in one session deterministically") {
    val df = Seq(
      ("u", 10L, 1L, 1.0),
      ("u", 10L, 2L, 2.0),
      ("u", 10L, 3L, 3.0)
    ).toDF("k", "ts", "id", "v")
    val out = Sessionize
      .sessions(df, col("k"), col("ts"), col("id"), col("v"), gapMs = 1L)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_events") === 3L)
    assert(out.head.getAs[Double]("total_value") === 6.0)
  }

  // --- Scd ----------------------------------------------------------------

  test("scd2: intervals tile the timeline, exactly one current row per key") {
    val changes = Seq(
      ("k1", 100L, 1L, 10.0),
      ("k1", 200L, 2L, 20.0),
      ("k1", 300L, 3L, 30.0),
      ("k2", 50L, 4L, 5.0)
    ).toDF("k", "ts", "id", "price")
    val h = Scd
      .history(changes, col("k"), col("ts"), col("id"),
        attrs = Seq("price" -> col("price")))
      .orderBy("key", "valid_from")
      .collect()
    assert(h.length === 4)
    // valid_to == successor's valid_from (exclusive tiling, no overlap)
    assert(h(0).getAs[Long]("valid_to") === h(1).getAs[Long]("valid_from"))
    assert(h(1).getAs[Long]("valid_to") === h(2).getAs[Long]("valid_from"))
    assert(h(2).isNullAt(h(2).fieldIndex("valid_to")))
    assert(h.count(r => r.getAs[Boolean]("is_current")) === 2)
    // as-of lookup at t=250 lands in the second interval
    val asOf = h.filter(r =>
      r.getAs[String]("key") == "k1" &&
        r.getAs[Long]("valid_from") <= 250L &&
        (r.isNullAt(r.fieldIndex("valid_to")) || 250L < r.getAs[Long]("valid_to")))
    assert(asOf.length === 1 && asOf.head.getAs[Double]("price") === 20.0)
  }

  test("mergeUpsert: insert/update/keep classification, update wins wholesale") {
    val base = Seq(
      ("k1", 100L, 1L, java.lang.Double.valueOf(10.0)),
      ("k2", 100L, 2L, java.lang.Double.valueOf(20.0))
    ).toDF("k", "ts", "id", "price")
    val updates = Seq(
      ("k2", java.lang.Long.valueOf(200L), 3L, null.asInstanceOf[java.lang.Double]), // null attr must WIN
      ("k2", java.lang.Long.valueOf(150L), 4L, java.lang.Double.valueOf(99.0)), // older within batch, loses
      ("k3", java.lang.Long.valueOf(300L), 5L, java.lang.Double.valueOf(30.0)),
      // an update row with a NULL ts must still BE an update (presence flag,
      // not a ts-null sentinel) — its attrs win over the base
      ("k4", null.asInstanceOf[java.lang.Long], 6L, java.lang.Double.valueOf(7.0))
    ).toDF("k", "ts", "id", "price")
    val out = Scd.mergeUpsert(
        base, updates, col("k"), col("ts"), col("id"), attrs = Seq("price"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getString(3))).toMap
    assert(out.size === 4)
    assert(out("k1") === ((Some(100L), Some(10.0), "keep")))
    // latest update (ts 200) carries a null price — the null must replace
    // the base value, not leak 20.0 (or the losing 99.0) through
    assert(out("k2") === ((Some(200L), None, "update")))
    assert(out("k3") === ((Some(300L), Some(30.0), "insert")))
    // null-ts update row still classifies as an update-side row
    assert(out("k4") === ((None, Some(7.0), "insert")))
  }

  test("verifyEditDistance: similarity filter over candidate pairs only") {
    val docs = Seq(
      (1L, "abcdefghij"),
      (2L, "abcdefghiX"), // dist 1 of 10 → sim 0.9
      (3L, "zzzzzzzzzz") // far
    ).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = TextDedup.verifyEditDistance(cands, docs, minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 2L, 1L, 0.9)))
  }

  test("scd2: consecutive identical attribute tuples compress to one interval") {
    val changes = Seq(
      ("k1", 100L, 1L, 10.0), // open @100
      ("k1", 200L, 2L, 10.0), // no-op — dropped
      ("k1", 300L, 3L, 10.0), // no-op — dropped
      ("k1", 400L, 4L, 20.0), // change @400
      ("k1", 500L, 5L, 10.0), // back to 10.0: a REAL change (not merged with row 1)
      ("k2", 50L, 6L, 5.0)
    ).toDF("k", "ts", "id", "price")
    val h = Scd
      .history(changes, col("k"), col("ts"), col("id"),
        attrs = Seq("price" -> col("price")))
      .orderBy("key", "valid_from")
      .collect()
    assert(h.length === 4)
    val k1 = h.filter(_.getAs[String]("key") == "k1")
    assert(k1.map(r => (r.getAs[Long]("valid_from"), r.getAs[Double]("price"))).toSeq ===
      Seq((100L, 10.0), (400L, 20.0), (500L, 10.0)))
    // the compressed first interval spans to the next CHANGE, not next row
    assert(k1(0).getAs[Long]("valid_to") === 400L)
    assert(k1(1).getAs[Long]("valid_to") === 500L)
    assert(k1(2).isNullAt(k1(2).fieldIndex("valid_to")))
    assert(h.count(_.getAs[Boolean]("is_current")) === 2)
  }

  // --- Materialize: RDD-level cache (the cluster-without-dir mode) --------

  test("Materialize.cached preserves results, bounds the plan, keeps lineage") {
    val base = Tables.trades(spark, sf)
      .select(col("symbol"), col("trade_id"), col("price"))
      .filter(col("trade_id") < 500)
    val cached = graft.operators.Materialize.cached(base, eager = false)
    // bit-identical rows
    assert(cached.collect().map(_.mkString("|")).sorted.toSeq ===
      base.collect().map(_.mkString("|")).sorted.toSeq)
    // the plan is bounded at an ExistingRDD scan (compute-once barrier)...
    assert(cached.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    // ...but unlike localCheckpoint the RDD keeps its parent lineage, so an
    // executor loss recomputes instead of failing
    assert(cached.queryExecution.toRdd.toDebugString.linesIterator.size > 1,
      "lineage truncated")
  }

  test("Materialize.cached survives simulated block loss (unpersist mid-use)") {
    // Closest sandbox analog to an executor loss taking cached blocks with
    // it: evict the persisted RDD's blocks AFTER eager computation, then
    // keep consuming the wrapped frame. The lineage-preserving cache must
    // RECOMPUTE the lost partitions, not fail — localCheckpoint in its
    // place would die on the truncated lineage, which is exactly why the
    // cluster default is this cache.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val base = Tables.trades(spark, sf)
      .select(col("symbol"), col("trade_id"), col("price"))
      .filter(col("trade_id") < 300)
    val cached = graft.operators.Materialize.cached(base, eager = true)
    val expected = cached.groupBy(col("symbol")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val added = spark.sparkContext.getPersistentRDDs.filterNot(kv => before(kv._1))
    assert(added.nonEmpty, "materialization did not persist an RDD")
    added.values.foreach(_.unpersist(blocking = true)) // the "block loss"
    val after = cached.groupBy(col("symbol")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after === expected, "recompute-from-lineage changed the result")
  }

  test("fixed-point fast means are partition-invariant (merge-order-free)") {
    // The claim that lets x_v4_fast carry a DuckDB oracle: integer sums
    // merge identically under ANY partitioning, where the avg() this
    // replaced drifted in low-order bits with shuffle arrival order.
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    def run(parts: Int): Seq[String] = VectorOps
      .annTopKIvf(e.repartition(parts), queryIds = (0L until 6L).toSeq,
        k = 5, nCells = 8, iterations = 2, exactMeans = false)
      .collect().map(_.toString).sorted.toSeq
    assert(run(3) === run(13), "fast-means result depends on partitioning")
  }

  test("neardupClusters: reliable-checkpoint and RDD-cache modes match local") {
    val pairs = Seq(
      ("a", "b"), ("b", "c"), // one component {a,b,c}
      ("x", "y")              // another {x,y}
    ).toDF("doc_a", "doc_b")
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = canon(graft.operators.TextDedup.neardupClusters(pairs))
    assert(expected === Set(("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_t10_ck_").toString
    assert(canon(graft.operators.TextDedup.neardupClusters(
      pairs, checkpointDir = Some(ckDir))) === expected)
    assert(new java.io.File(ckDir).listFiles().nonEmpty)
  }

  test("neardupClusters: the r18 round-1 fold equals the unfolded BSP at every iteration count") {
    // random sparse graphs: the folded seed (min over self + neighbors in
    // one groupBy) must equal identity-labels + one join round, and the
    // remaining rounds must compose identically
    val rnd = new scala.util.Random(11L)
    val pairs = (1 to 60).map { _ =>
      val a = rnd.nextInt(40).toLong
      val b = a + 1 + rnd.nextInt(5)
      (a, b)
    }.distinct.toDF("doc_a", "doc_b")
    // the pre-r18 reference: identity seed + `iters` generic join rounds
    def unfolded(iters: Int): Set[(Long, Long)] = {
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id"))
      for (_ <- 0 until iters) {
        val neigh = edges.join(labels, edges("dst") === labels("doc_id"))
          .select(edges("src").as("doc_id"), col("cluster_id"))
        labels = labels.unionByName(neigh)
          .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      }
      labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    for (iters <- Seq(0, 1, 3)) {
      val folded = TextDedup.neardupClusters(pairs, iterations = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(folded === unfolded(iters), s"fold drift at iterations=$iters")
    }
  }

  test("correlations: the r18 in-plan matrix equals the driver-side moment assembly") {
    import graft.operators.Profile
    val rnd = new scala.util.Random(7L)
    val data = (1 to 400).map { i =>
      (rnd.nextDouble() * 100,
       rnd.nextDouble() * 10 + 5,
       if (i % 7 == 0) None else Some(rnd.nextDouble() - 0.5),
       1.0) // constant column: corr must be null against everything
    }
    val df = data.toDF("a", "b", "c", "k")
    val cols = Seq("a", "b", "c", "k")
    // the pre-r18 reference: collect the one moment row, assemble on the
    // driver with BigDecimal HALF_UP rounding at 6 dp
    def dsum(e: org.apache.spark.sql.Column) = sum(e.cast("decimal(38,12)")).cast("double")
    val pairsIdx = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    val aggs =
      cols.indices.map(i => dsum(col(cols(i)))).zipWithIndex.map { case (c, i) => c.as(s"s_$i") } ++
        cols.indices.map(i => dsum(col(cols(i)) * col(cols(i))).as(s"ss_$i")) ++
        pairsIdx.map { case (i, j) => dsum(col(cols(i)) * col(cols(j))).as(s"sp_${i}_$j") }
    val row = df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = row.getAs[Long]("n").toDouble
    val expected = pairsIdx.map { case (i, j) =>
      val (sa, sb) = (row.getAs[Double](s"s_$i"), row.getAs[Double](s"s_$j"))
      val cov = n * row.getAs[Double](s"sp_${i}_$j") - sa * sb
      val va = n * row.getAs[Double](s"ss_$i") - sa * sa
      val vb = n * row.getAs[Double](s"ss_$j") - sb * sb
      val r = if (va <= 0.0 || vb <= 0.0) null
        else java.lang.Double.valueOf(BigDecimal(cov / math.sqrt(va) / math.sqrt(vb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (cols(i), cols(j), r, n.toLong)
    }.toSet
    val got = Profile.correlations(df, cols).collect().map { r =>
      (r.getString(0), r.getString(1),
       if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)),
       r.getLong(3))
    }.toSet
    assert(got === expected)
    // and the constant column really produces null correlations
    assert(got.filter(t => t._1 == "k" || t._2 == "k").forall(_._3 == null))
  }

  // --- Momentum materialization modes -------------------------------------

  test("momentumBucketed: all materialization modes match the per-symbol plan") {
    val t = Tables.trades(spark, sf).select("symbol", "ts_ms", "trade_id", "price")
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] = df
      .select("symbol", "ts_ms", "trade_id", "ma_w", "momentum", "acceleration")
      .collect().map(_.mkString("|")).toSet
    val expected = canon(graft.operators.Rolling.momentum(
      t, col("symbol"), col("ts_ms"), col("price"), col("trade_id"),
      windowMs = 300000L))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_w6b_ck_").toString
    def bucketed(mat: Boolean, dir: Option[String]) =
      canon(graft.operators.Rolling.momentumBucketed(
        t, col("symbol"), col("ts_ms"), col("price"), col("trade_id"),
        windowMs = 300000L, chunkMs = 3600000L,
        materializeSharedStage = mat, checkpointDir = dir))
    assert(bucketed(mat = true, None) === expected)   // localCheckpoint (local mode)
    assert(bucketed(mat = true, Some(ckDir)) === expected) // reliable checkpoint
    assert(bucketed(mat = false, None) === expected)  // pure recompute plan
    // the reliable-checkpoint mode actually wrote to the given directory
    assert(new java.io.File(ckDir).listFiles().nonEmpty)
  }

  test("momentumBucketed: null moving averages at chunk tails stitch as null") {
    // Null out the last windowMs of EVERY chunk: the chunk-last row's
    // trailing window is then entirely null -> ma_w null at the tail, and
    // the next chunk's first momentum must be null (w6 semantics), not
    // computed against an older promoted ma.
    val t = Tables.trades(spark, sf)
      .select("symbol", "ts_ms", "trade_id", "price")
      .withColumn(
        "price",
        when(col("ts_ms") % 3600000L >= 3300000L, lit(null).cast("double"))
          .otherwise(col("price")))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select("symbol", "ts_ms", "trade_id", "ma_w", "momentum", "acceleration")
      .collect().map(_.mkString("|")).sorted.toSeq
    val viaW6 = canon(graft.operators.Rolling.momentum(
      t, col("symbol"), col("ts_ms"), col("price"), col("trade_id"),
      windowMs = 300000L))
    assert(viaW6.exists(_.contains("null")), "fixture failed to produce null ma rows")
    val viaW6b = canon(graft.operators.Rolling.momentumBucketed(
      t, col("symbol"), col("ts_ms"), col("price"), col("trade_id"),
      windowMs = 300000L, chunkMs = 3600000L))
    assert(viaW6b === viaW6)
  }

  // --- Interval (range) join ----------------------------------------------

  test("pointInInterval: overlaps multiply, boundaries are inclusive, misses drop") {
    val points = Seq(
      ("u1", 100L, 1L),  // inside A only
      ("u1", 250L, 2L),  // inside A AND B (overlap) -> 2 rows
      ("u1", 300L, 3L),  // == A.end == B bounds -> inclusive both -> 2 rows
      ("u1", 999L, 4L),  // in no interval -> dropped
      ("u2", 100L, 5L),  // right key-range, wrong key -> dropped
      ("u1", 5000L, 6L)  // interval C spans many cells (chunk=1000)
    ).toDF("k", "ts", "pid")
    val intervals = Seq(
      ("u1", 50L, 300L, "A"),
      ("u1", 200L, 300L, "B"),
      ("u1", 4000L, 9000L, "C") // 6 cells at chunkMs=1000
    ).toDF("k", "s", "e", "iid")
    val out = graft.operators.Interval.pointInInterval(
      points, intervals,
      pointKey = col("k"), ts = col("ts"),
      intervalKey = col("k"), start = col("s"), end = col("e"),
      chunkMs = 1000L)
      .select(col("pid"), col("iid")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set(
      (1L, "A"), (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B"), (6L, "C")))
  }

  test("pointInInterval: shared column names keep the points side, once") {
    val points = Seq(("u1", 100L, 1L)).toDF("k", "ts", "pid")
    val intervals = Seq(("u1", 50L, 300L, "A")).toDF("k", "s", "e", "iid")
    val out = graft.operators.Interval.pointInInterval(
      points, intervals, col("k"), col("ts"), col("k"), col("s"), col("e"),
      chunkMs = 1000L)
    // exactly one 'k' (points side), no scratch columns, no ambiguity
    assert(out.columns.count(_ == "k") === 1)
    assert(!out.columns.exists(_.startsWith("__graft_iv_")))
    val r = out.head()
    assert(r.getAs[String]("k") === "u1" && r.getAs[String]("iid") === "A")
  }

  test("pointInInterval: runaway interval span fails loudly, nulls just drop") {
    val points = Seq(("u1", 100L, 1L)).toDF("k", "ts", "pid")
    // 10^9 ms span at chunkMs=1000 -> 10^6 cells >> maxCellsPerInterval
    val runaway = Seq(("u1", 0L, 1000000000L, "bad")).toDF("k", "s", "e", "iid")
    val e = intercept[Exception] { // SparkRuntimeException (USER_RAISED_EXCEPTION)
      graft.operators.Interval.pointInInterval(
        points, runaway, col("k"), col("ts"), col("k"), col("s"), col("e"),
        chunkMs = 1000L).count()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("pointInInterval")) ||
        mentions(t.getCause))
    assert(mentions(e))
    // null bounds are a non-match, never a spurious guard error
    val nullEnd = Seq(("u1", 50L, Option.empty[Long], "N")).toDF("k", "s", "e", "iid")
    val n = graft.operators.Interval.pointInInterval(
      points, nullEnd, col("k"), col("ts"), col("k"), col("s"), col("e"),
      chunkMs = 1000L).count()
    assert(n === 0L)
    // reserved scratch prefix in an input is rejected up-front
    intercept[IllegalArgumentException] {
      graft.operators.Interval.pointInInterval(
        points.withColumnRenamed("pid", "__graft_iv_pid"), runaway,
        col("k"), col("ts"), col("k"), col("s"), col("e"), chunkMs = 1000L)
    }
  }

  test("pointInInterval: no duplicate matches from multi-cell replication") {
    // interval spans 10 cells; every point inside must match exactly once
    val points = (0L until 50L).map(i => ("k", 1000L + i * 100L, i)).toDF("k", "ts", "pid")
    val intervals = Seq(("k", 0L, 10000L, "I")).toDF("k", "s", "e", "iid")
    val out = graft.operators.Interval.pointInInterval(
      points, intervals, col("k"), col("ts"), col("k"), col("s"), col("e"),
      chunkMs = 1000L)
    assert(out.count() === 50L)
    assert(out.select("pid").distinct().count() === 50L)
  }

  // --- TextRank -----------------------------------------------------------

  test("bm25: matches the hand-computed Okapi score on a 3-doc corpus") {
    val docs = Seq(
      (1L, "spark spark fast"),
      (2L, "slow merge"),
      (3L, "other words here entirely")
    ).toDF("doc_id", "text")
    val out = TextRank
      .bm25(docs, col("doc_id"), col("text"), queryTerms = Seq("spark", "merge"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25"))
      .toMap
    // N=3, avgdl=3. doc1: tf(spark)=2, dl=3, df=1:
    //   idf = ln((3-1+0.5)/(1+0.5)+1) = ln(8/3)
    //   s = idf * 2*2.2 / (2 + 1.2*(0.25 + 0.75*3/3)) = idf * 4.4 / 3.2
    val idf = math.log(8.0 / 3.0)
    val d1 = BigDecimal(idf * 4.4 / 3.2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L) - d1) < 1e-9)
    // doc2: tf(merge)=1, dl=2: s = idf * 2.2 / (1 + 1.2*(0.25 + 0.75*2/3))
    val d2 = BigDecimal(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2.0 / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(2L) - d2) < 1e-9)
    assert(!out.contains(3L)) // no query term → no row
  }

  // --- Layout -------------------------------------------------------------

  test("zValue16 interleaves bits (x even, y odd)") {
    val r = spark.range(1)
      .select(
        Layout.zValue16(lit(0b1010L), lit(0b0110L)).as("z"),
        Layout.zValue16(lit(65535L), lit(0L)).as("zx_only"),
        Layout.zValue16(lit(0L), lit(65535L)).as("zy_only"))
      .head()
    // x=1010 → bits at even positions 2,6; y=0110 → odd positions 3,5:
    // z = 0b01101100 = 108
    assert(r.getAs[Long]("z") === 108L)
    // 16 ones interleaved: x fills even bits, y odd bits
    assert(r.getAs[Long]("zx_only") === 0x55555555L)
    assert(r.getAs[Long]("zy_only") === 0xaaaaaaaaL)
  }

  test("clusteredWrite: z-ranges of output files are disjoint and prune both dims") {
    val n = 4096
    val df = spark.range(n).select(
      col("id"),
      (col("id") * 37 % 256).as("x"),
      (col("id") * 101 % 256).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.clusteredWrite(df, col("x"), col("y"), s"$dir/t", numFiles = 8)
    val back = spark.read.parquet(s"$dir/t")
      .withColumn("f", input_file_name())
      .withColumn("z", Layout.zValue16(col("x"), col("y")))
    val ranges = back.groupBy("f")
      .agg(min("z").as("lo"), max("z").as("hi"),
        min("x").as("xlo"), max("x").as("xhi"))
      .collect()
    assert(ranges.length === 8)
    val sorted = ranges.sortBy(_.getAs[Long]("lo"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          "file z-ranges must not overlap")
      case _ => ()
    }
    // Each file covers a z-contiguous rectangle, so its x-span is much
    // smaller than the full domain (256): layout clusters BOTH dims.
    val avgSpan = sorted.map(r => r.getAs[Long]("xhi") - r.getAs[Long]("xlo"))
      .sum.toDouble / sorted.length
    assert(avgSpan < 200.0, s"x-span $avgSpan should beat the unclustered 255")
  }

  test("fillGrid: completes the grid, flags gaps, LOCF + linear interpolation") {
    val obs = Seq(
      ("a", 0L, 10.0),
      ("a", 300L, 13.0), // 2-step hole at 100, 200 → interp 11.0, 12.0
      ("a", 400L, 20.0),
      ("b", 50L, 5.0) // single point: grid of one, no gaps
    ).toDF("k", "ts", "px")
    val out = graft.operators.Resample
      .fillGrid(obs, col("k"), col("ts"), col("px"), stepMs = 100L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(2)), r.getBoolean(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out.size === 6) // a: 0,100,200,300,400; b: 50
    assert(out(("a", 0L)) === ((Some(10.0), false, 10.0, 10.0)))
    // linear between 10.0@0 and 13.0@300
    assert(out(("a", 100L)) === ((None, true, 10.0, 11.0)))
    assert(out(("a", 200L)) === ((None, true, 10.0, 12.0)))
    assert(out(("a", 300L)) === ((Some(13.0), false, 13.0, 13.0)))
    assert(out(("a", 400L)) === ((Some(20.0), false, 20.0, 20.0)))
    assert(out(("b", 50L)) === ((Some(5.0), false, 5.0, 5.0)))
    // an observation OFF the min-anchored grid must fail the job loudly,
    // not silently vanish from the joined series
    val offGrid = Seq(("a", 0L, 10.0), ("a", 250L, 13.0)).toDF("k", "ts", "px")
    val e = intercept[Exception] {
      graft.operators.Resample
        .fillGrid(offGrid, col("k"), col("ts"), col("px"), stepMs = 100L)
        .collect()
    }
    assert(e.getMessage.contains("off the min-anchored step grid") ||
      Option(e.getCause).exists(_.getMessage.contains("off the min-anchored step grid")))
  }

  test("ewmaFeatures: recurrence matches the hand-rolled fold, frame bounded") {
    val df = Seq(
      ("a", 0L, 1L, 10.0),
      ("a", 10L, 2L, 20.0),
      ("a", 20L, 3L, 30.0),
      ("b", 0L, 4L, 5.0) // separate key restarts the recurrence
    ).toDF("k", "ts", "id", "px")
    val out = graft.operators.Rolling
      .ewmaFeatures(df, col("k"), col("ts"), col("px"), col("id"),
        fastAlpha = 0.25, slowAlpha = 0.0625, lookback = 32)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("ewma_fast"), r.getAs[Double]("ewma_slow"), r.getAs[Double]("macd")))
      .toMap
    // y0 = x0; yt = 0.75*y(t-1) + 0.25*xt
    assert(out(1L)._1 === 10.0)
    assert(out(2L)._1 === 12.5) // 0.75*10 + 0.25*20
    assert(out(3L)._1 === 16.875) // 0.75*12.5 + 0.25*30
    assert(out(1L)._2 === 10.0)
    assert(out(2L)._2 === 10.625) // 0.9375*10 + 0.0625*20
    assert(out(3L)._2 === 11.835938) // round(0.9375*10.625 + 0.0625*30, 6)
    assert(out(3L)._3 === 5.039062) // round(16.875 - 11.835938, 6)
    assert(out(4L) === ((5.0, 5.0, 0.0)))
    // lookback bounds the frame: with lookback=2 the third row's recurrence
    // restarts from x1 (20.0), so ewma_fast = 0.75*20 + 0.25*30 = 22.5
    val short = graft.operators.Rolling
      .ewmaFeatures(df, col("k"), col("ts"), col("px"), col("id"), lookback = 2)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("ewma_fast"))
      .toMap
    assert(short(3L) === 22.5)
    // EWMA is a convex combination: always inside the frame's [min, max]
    val trades = graft.Tables.trades(spark, "/root/testdata/sf0.001")
    val checked = graft.operators.Rolling
      .ewmaFeatures(trades, col("symbol"), col("ts_ms"), col("price"), col("trade_id"))
      .withColumn(
        "__lo",
        min(col("price")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("symbol")).orderBy(col("ts_ms"), col("trade_id"))
            .rowsBetween(-31, 0)))
      .withColumn(
        "__hi",
        max(col("price")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("symbol")).orderBy(col("ts_ms"), col("trade_id"))
            .rowsBetween(-31, 0)))
      .filter(
        col("ewma_fast") < col("__lo") - 1e-6 || col("ewma_fast") > col("__hi") + 1e-6 ||
          col("ewma_slow") < col("__lo") - 1e-6 || col("ewma_slow") > col("__hi") + 1e-6)
    assert(checked.count() === 0)
    // alphas whose complement is not exactly representable are rejected
    intercept[IllegalArgumentException] {
      graft.operators.Rolling
        .ewmaFeatures(df, col("k"), col("ts"), col("px"), col("id"), fastAlpha = 0.3)
    }
    // an input already using a reserved output/scratch name is rejected, not
    // silently clobbered-then-dropped
    intercept[IllegalArgumentException] {
      graft.operators.Rolling.ewmaFeatures(
        df.withColumn("ewma_fast", lit(1.0)),
        col("k"), col("ts"), col("px"), col("id"))
    }
    // a null price fails loudly: collect_list would silently drop it and
    // shift the frame against the oracle's null-preserving list()
    val withNull = Seq(("a", 0L, 1L, Some(10.0)), ("a", 10L, 2L, None))
      .toDF("k", "ts", "id", "px")
    val err = intercept[Exception] {
      graft.operators.Rolling
        .ewmaFeatures(withNull, col("k"), col("ts"), col("px"), col("id"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("null price")))
  }

  test("ewmaFeaturesBucketed: bit-identical to ewmaFeatures across sparse chunks") {
    // Adversarial chunking: key "a" has exactly ONE row per chunk, so each
    // frame's context spans up to lookback−1 PREVIOUS chunks (the case a
    // boundary-band replication cannot serve); key "b" is dense inside a
    // single chunk (pure local-frame path); key "c" straddles a boundary
    // mid-frame. lookback=8 keeps the hand-checkable scale.
    val rows =
      (0 until 40).map(i => ("a", i * 100L, i.toLong, 100.0 + (i * 37 % 101))) ++
        (0 until 30).map(i => ("b", 1000L + i, 100L + i, 50.0 + (i * 13 % 29))) ++
        (0 until 12).map(i => ("c", 50L + i * 10, 200L + i, 10.0 + i))
    val df = rows.toDF("k", "ts", "id", "px")
    val plain = graft.operators.Rolling
      .ewmaFeatures(df, col("k"), col("ts"), col("px"), col("id"), lookback = 8)
    val bucketed = graft.operators.Rolling
      .ewmaFeaturesBucketed(
        df, col("k"), col("ts"), col("px"), col("id"),
        lookback = 8, chunkMs = 100L)
      .select(plain.columns.map(col): _*)
    assert(bucketed.count() === plain.count())
    assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty)
  }

  test("compactParquet: bin-packs small files to the byte-sized count, content intact") {
    val df = spark.range(20000).select(
      col("id"), (col("id") % 97).as("k"), (col("id") * 31 % 1000).cast("double").as("v"))
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    df.repartition(24).write.parquet(s"$root/src")
    val srcFiles = new java.io.File(s"$root/src").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val totalBytes = srcFiles.map(_.length).sum
    // target = half the total → exactly ceil(total / (total/2)) = 2 outputs
    val stats = Layout.compactParquet(
      spark, s"$root/src", s"$root/dst", targetBytes = (totalBytes + 1) / 2)
    assert(stats.filesIn === srcFiles.length)
    assert(stats.bytesIn === totalBytes)
    assert(stats.filesOut === 2, s"expected 2 outputs, got ${stats.filesOut}")
    // multiset content preserved exactly through the rewrite
    val back = spark.read.parquet(s"$root/dst")
    assert(back.count() === 20000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  // --- VectorOps.perDimStandardize ---------------------------------------

  test("perDimStandardize: output has zero mean and unit variance per dim") {
    val vecs = Tables.embeddings(spark, sf)
    val out = VectorOps.perDimStandardize(vecs, col("vec_id"), col("embedding"))
    val moments = out.groupBy("dim")
      .agg(avg("x_norm").as("m"), (avg(col("x_norm") * col("x_norm"))).as("m2"))
      .collect()
    assert(moments.length === 64)
    moments.foreach { r =>
      assert(math.abs(r.getAs[Double]("m")) < 1e-4)
      assert(math.abs(r.getAs[Double]("m2") - 1.0) < 1e-3)
    }
  }

  // --- VectorOps IVF assignment k-threshold guard -------------------------

  test("ivf assignment at k=128: join path matches the kernel path bit-for-bit") {
    // At k=128 the default path is now the early-exit argmin kernel (the
    // reference-object table removed the old codegen-tree-size ceiling);
    // forcing the broadcast-join + rank path via maxExprK = 0 must give
    // identical assignments — same d2 fold when computed in full, and the
    // kernel's monotone prune can only drop candidates the (d2, cid) rank
    // would have lost anyway.
    assert(VectorOps.NearestCidExprMaxK >= 128)
    val dim = 8
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(d => ((seed * 31 + d * 17) % 97).toDouble / 97.0)
    val vecs = (0 until 300).map(i => (i.toLong, vec(i))).toDF("id", "embedding")
    val v = vecs.select(col("id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = (0 until 128).map(c => (c, vec(c * 7 + 3)))
    val kernel = VectorOps.assignCids(v, cents)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val joined = VectorOps.assignCids(v, cents, maxExprK = 0)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(kernel.size === 300)
    assert(kernel === joined)
  }

  // The kernel's contract edges, on both eval paths: ties go to the smaller
  // cid, dirty vectors (null element / wrong width / null array) are null,
  // and an all-NaN scoring row falls back to the smallest cid (array_min's
  // NaN-equal struct order, kept explicit).
  test("nearestCid kernel: tie-break, dirty-input nulls, NaN fallback") {
    import graft.functions.VectorKernels.nearestCidCall
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
    def expr(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(nearestCidCall(ColumnBridge.expression(c), Seq(0, 1, 2), cents))
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.0)),      // exact on cids 0 AND 2 → 0
      (2L, Seq[java.lang.Double](0.1, 0.9)),      // nearest cid 1
      (3L, Seq[java.lang.Double](1.0, null)),     // null element → null
      (4L, Seq[java.lang.Double](1.0)),           // wrong width → null
      (5L, null),                                 // null array → null
      (6L, Seq[java.lang.Double](Double.NaN, 0.0)) // NaN poisons all → cid 0
    ).toDF("id", "v").transform(overRdd)
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.select(col("id"), expr(transform(col("v"), x => x.cast("double"))).as("cid"))
        .orderBy("id").collect()
        .map(r => if (r.isNullAt(1)) None else Some(r.getInt(1)))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    val expected = Array[Option[Int]](Some(0), Some(1), None, None, None, Some(0))
    assert(run("CODEGEN_ONLY") === expected)
    assert(run("NO_CODEGEN") === expected)
  }

  // The fused ADC kernel must be bit-identical to the m-deep element_at
  // chain it replaced (same left subspace add order) on BOTH eval paths,
  // and reproduce the chain's null-on-miss semantics.
  test("adcSum kernel: bit-equal to the element_at chain, null on a missing code") {
    import graft.functions.VectorKernels.adcSumCall
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val m = 3
    val rows = Seq(
      (1L, Seq(Map(0 -> 0.125, 2 -> 1.75), Map(1 -> 2.5, 3 -> 0.0625), Map(0 -> 3.25)),
        Seq(0, 3, 0)), // all present
      (2L, Seq(Map(0 -> 0.125, 2 -> 1.75), Map(1 -> 2.5), Map(0 -> 3.25)),
        Seq(2, 1, 0)), // all present, different picks
      (3L, Seq(Map(0 -> 0.125), Map(1 -> 2.5), Map(0 -> 3.25)),
        Seq(5, 1, 0)) // code 5 missing from table 0 -> null
    ).toDF("id", "tbl", "codes").transform(overRdd)
    val fused = ColumnBridge.column(adcSumCall(
      ColumnBridge.expression(col("tbl")), ColumnBridge.expression(col("codes"))))
    val chain = (0 until m)
      .map(s => element_at(element_at(col("tbl"), s + 1), element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try rows.select(col("id"), fused.as("f"), chain.as("c")).orderBy("id").collect()
        .map(r => (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"); (f, c) <- run(mode)) {
      assert(f === c, s"fused vs chain diverged under $mode")
    }
    assert(run("NO_CODEGEN").last._1 === None) // the missing-code row
  }

  test("ivf fast-means path (fixed-point sums) matches exact-means results at sf0.001") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qs = (0L until 6L).toSeq
    def run(exact: Boolean) = VectorOps
      .annTopKIvf(e, queryIds = qs, k = 5, nCells = 8, iterations = 2,
        nProbe = 2, exactMeans = exact)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = run(true)
    val fast = run(false)
    // the fixed-point mean differs from the ordered double fold only by the
    // 1e-8 per-element quantization; a boundary assignment can flip in
    // principle, so assert high overlap, not identity.
    val overlap = (exact & fast).size.toDouble / exact.size
    assert(overlap >= 0.8, s"fast-means recall vs exact collapsed: $overlap")
    assert(fast.groupBy(_._1).forall(_._2.size == 5), "k results per query")
  }

  test("pq codebooks: m books of <=ks entries, subvector width dim/m") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val books = VectorOps.pqTrain(e, dim = 64, m = 4, ks = 8, iterations = 2)
    assert(books.size === 4)
    books.foreach { b =>
      assert(b.nonEmpty && b.size <= 8)
      assert(b.map(_._1).distinct.size === b.size) // cids unique
      b.foreach { case (_, c) => assert(c.size === 16) } // dim/m subvector
    }
  }

  test("pq/adc top-k: shortlist recalls the true neighborhood at sf0.001") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qs = (0L until 6L).toSeq
    // ADC with a deeper shortlist must recover most of the exact top-3 by
    // d2. PQ is lossy by design, so assert recall of the approximate
    // shortlist against the exact ranking, not identity — and use the
    // realistic 8×8-dim codebook shape (finer than the declared query's
    // compact 4×16 oracle shape): on near-random synthetic embeddings the
    // coarse shape's distortion swamps a tiny sf0.001 corpus.
    val adc = VectorOps
      .annTopKPq(e, queryIds = qs, k = 10, dim = 64, m = 8, ks = 8)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = e.select(col("id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = v.filter(col("id").isin(qs: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    val exact = v.filter(!col("id").isin(qs: _*))
      .select(col("id").as("vec_id"), col("v"))
      .crossJoin(broadcast(queries))
      .withColumn("d2", VectorOps.d2(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & adc).size.toDouble / exact.size
    assert(recall >= 0.5, s"ADC shortlist lost the true neighborhood: $recall")
    assert(adc.groupBy(_._1).forall(_._2.size == 10), "k rows per query")
  }

  test("ivf-pq: residual ADC estimates at least as well as pure ADC") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val qs = (0L until 6L).toSeq
    // The claim residual encoding buys is ESTIMATION quality: spending the
    // codebook on within-cell displacement should approximate true d2 at
    // least as well as direct PQ with the same (m, ks) budget. Top-k recall
    // is too noisy a proxy on this near-random sf0.001 corpus (the exact
    // top-3 barely separates from the bulk), so assert on the estimator
    // error itself over EVERY pair — probe all 4 cells so both sides score
    // the identical candidate set (the nProbe pruning dial is IVF-spec
    // territory).
    val v = e.select(col("id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = v.filter(col("id").isin(qs: _*))
      .select(col("id").as("query_id"), col("v").as("qv"))
    val exact = v.filter(!col("id").isin(qs: _*))
      .select(col("id").as("vec_id"), col("v"))
      .crossJoin(broadcast(queries))
      .withColumn("d2", VectorOps.d2(col("qv"), col("v")))
      .select("query_id", "vec_id", "d2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def medianErr(approx: Map[(Long, Long), Double]): Double = {
      assert(approx.keySet === exact.keySet, "both paths must score every pair")
      val errs = approx.toSeq.map { case (k2, a) => math.abs(a - exact(k2)) }.sorted
      errs(errs.size / 2)
    }
    val deep = exact.size // shortlist deeper than the corpus = keep all pairs
    val pure = VectorOps.annTopKPq(e, qs, k = deep, dim = 64, m = 8, ks = 8)
      .select("query_id", "vec_id", "approx_d2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val residual = VectorOps.annTopKIvfPq(e, qs, k = deep, nCells = 4,
        dim = 64, m = 8, ks = 8, nProbe = 4)
      .select("query_id", "vec_id", "approx_d2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (pe, re) = (medianErr(pure), medianErr(residual))
    // 5% slack: the property is "refinement, not regression", not strict
    // dominance on one tiny corpus.
    assert(re <= pe * 1.05, s"residual ADC estimated worse than pure: $re vs $pe")
  }

  test("ivf-pq index: save/load round-trips the model exactly") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val (model, codes) = VectorOps.ivfPqTrain(
      e, nCells = 4, dim = 64, m = 4, ks = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    graft.operators.VectorIndex.save(model, codes, dir)
    val (loaded, loadedCodes) = graft.operators.VectorIndex.load(spark, dir)
    // structural equality: params, every centroid double, every codebook
    // entry — parquet round-trips doubles bit-exactly
    assert(loaded.nCells === model.nCells && loaded.dim === model.dim &&
      loaded.m === model.m && loaded.ks === model.ks)
    assert(loaded.cents === model.cents)
    assert(loaded.books === model.books)
    // the corpus-side half: same (vec_id, cid, codes) multiset
    val a = codes.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val b = loadedCodes.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(a === b && a.nonEmpty)
  }

  test("ivf-pq incremental append: frozen-quantizer encode, lossless index growth") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    val evens = e.filter(col("id") % 2 === 0)
    val odds = e.filter(col("id") % 2 === 1)
    // index built on the evens only
    val (model, codesA) = VectorOps.ivfPqTrain(evens, nCells = 4, dim = 64, m = 4, ks = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    graft.operators.VectorIndex.save(model, codesA, dir)
    // the odds arrive later: encode with the persisted frozen quantizers
    graft.operators.VectorIndex.append(spark, dir, odds)
    val (loaded, grown) = graft.operators.VectorIndex.load(spark, dir)
    // growth is lossless: appended codes are EXACTLY what the model's own
    // encode pass produces — training state lives entirely in the model
    val expected = codesA.unionByName(VectorOps.ivfPqEncode(model, odds))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val got = grown.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(got === expected)
    assert(got.size === e.count())
    // and the appended rows are genuinely searchable: an odd query probing
    // the grown index gets odd candidates ranked alongside the originals
    val hits = VectorOps.ivfPqSearch(
      loaded, grown, e, queryIds = Seq(1L), k = 5, nProbe = 2)
    assert(hits.filter(col("vec_id") % 2 === 1).count() > 0)
  }

  test("ivf end-to-end at nCells=128 plans without codegen blowup") {
    val e = Tables.embeddings(spark, sf)
    val out = VectorOps.annTopKIvf(
      e.select(col("vec_id").as("id"), col("embedding")),
      queryIds = (0L until 4L).toSeq, k = 2, nCells = 128, iterations = 1)
    assert(out.count() > 0)
  }

  // dot's contract (r4 ADVICE): null on length mismatch or null element,
  // same as the builtin aggregate(zip_with(...)) fold it replaced — never a
  // silent truncation or a garbage read. Pinned on both eval paths.
  test("dot: null on mismatched lengths and null elements, value otherwise") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)), // 11.0
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),      // len mismatch
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)), // null elem
      (4L, null, Seq[java.lang.Double](1.0))                                  // null array
    ).toDF("id", "a", "b").transform(overRdd)
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try rows.select(col("id"), VectorOps.dot(col("a"), col("b")).as("d"))
        .orderBy("id").collect().map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    val expected = Array[Option[Double]](Some(11.0), None, None, None)
    assert(run("CODEGEN_ONLY") === expected)
    assert(run("NO_CODEGEN") === expected)
    // and it agrees with the builtin fold on the defined case
    val builtin = rows.filter(col("id") === 1)
      .select(expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, x) -> s + x)"))
      .head().getDouble(0)
    assert(builtin === 11.0)
  }
}
