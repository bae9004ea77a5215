package graft

/** Physical-plan regression guards — the scale-critical plan shapes from
  * SCALE.md, asserted so a future refactor can't silently regress them.
  */
class PlanQualitySpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Plan text with every InMemoryRelation SUBTREE removed: the cached
    * repeated-set of Corpus.sizeAwareSetJoin prints its build-time plan
    * (scan -> explode -> aggregate) inside the InMemoryTableScan node, but
    * those nodes are NOT re-executed — an InMemoryTableScan reads cached
    * blocks — so node-count guards must not see them as live operators.
    * Subtree extent is judged by indentation (first letter position), the
    * plan printer's own nesting contract.
    */
  private def livePlan(p: String): String = {
    var skipBelow = -1
    p.linesIterator.filter { l =>
      val d = l.indexWhere(_.isLetter)
      if (skipBelow >= 0 && d > skipBelow) false
      else if (l.contains("InMemoryRelation")) { skipBelow = d; true }
      else { skipBelow = -1; true }
    }.mkString("\n")
  }

  test("j5 star join broadcasts every dimension (no sort-merge, no cartesian)") {
    val p = plan("j5_star_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(500))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("j1 as-of join is an equi-join, never a cartesian/range join") {
    val p = plan("j1_asof_outcomes")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("t3 LSH candidate generation never degenerates to a cartesian") {
    val p = plan("t3_lsh_neardup_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("t24/t27 redaction splices per-doc span arrays — no corpus re-explode, no nested loop") {
    for (q <- Seq("t24_span_redaction", "t27_char_redaction")) {
      val p = livePlan(plan(q))
      assert(!p.contains("CartesianProduct"), p.take(600))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
      // The only explode nodes are the DETECTION pass's positioned-hash
      // posexplodes (the shared kernel feeds two consumers: the repeated-set
      // aggregate and the hits join). The r9 redaction-side re-explode of the
      // corpus (one row per token/char before reassembly) must stay gone —
      // its return would show up as a third explode. Match the Generate NODE
      // with its explode generator, not the bare substring "Generate" (which
      // any future plan-format change or unrelated node name could shift).
      assert("Generate (pos)?explode".r.findAllIn(p).size <= 2, p.take(900))
      assert("Generate ".r.findAllIn(p).size ===
        "Generate (pos)?explode".r.findAllIn(p).size,
        "a non-explode Generate appeared — re-derive this guard: " + p.take(900))
    }
  }

  test("j1c merge-exec as-of shuffles each side once, no bucket fan-out or rank window") {
    val p = plan("j1c_asof_merge_exec")
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(p.contains("AsOfMergeJoin"), p.take(500))
    // the exec's subtree: no explode replication and no row_number dedup —
    // the whole point of the physical operator vs. the bucketed rewrite.
    // (j1's surrounding COALESCE query still joins bars separately, so scope
    // the assertions to the merge-join subtree.)
    val sub = p.substring(p.indexOf("AsOfMergeJoin"))
    assert(!sub.contains("Generate explode"), sub.take(400))
    // the as-of itself needs no Window; only the oracle-shaped outer query
    // parts may sort. Count exchanges feeding the exec: exactly 2 (one per
    // side), inserted by EnsureRequirements from the declared distribution.
    assert(!sub.contains("row_number"))
    // merge columns survive column pruning (regression guard for the
    // references fix): both children project symbol + timestamps
    assert(sub.contains("close_time_ms") || sub.contains("__right_ts"))
    // both sides read only the predictions' symbol: the bars side gets the
    // filter from the query itself (Catalyst cannot infer it through the
    // as-of node), so no other symbol's bars are aggregated into the merge
    val merge = SparkEntry.queries("j1c_asof_merge_exec")(spark, sf)
      .queryExecution.sparkPlan.collect { case m: graft.plans.AsOfMergeJoinExec => m }
    assert(merge.size === 1)
    val scans = merge.head.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 2, merge.head.toString.take(800))
    // `symbol` is the events table's `event_type` (Tables.trades)
    for (s <- scans)
      assert(s.dataFilters.map(_.sql).contains("(event_type = 'purchase')"),
        s"scan without the symbol filter: ${s.dataFilters.map(_.sql)}")
  }

  test("t12/t28 contamination joins stay hash-keyed — never a cartesian") {
    for (q <- Seq("t12_contamination", "t28_char_contamination")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(600))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    }
  }

  test("t14i packed-stream export keeps t14b's corpus-pass shape and its documented exchange budget") {
    // the toks array rides packSequences' carry path, so the marked-stream
    // variant must not add corpus scans over t14b's two prefix-sum branches
    // (a naive join-back of the exploded stream against a separately
    // counted packing table would read the corpus a third time)
    def scans(name: String): Int = SparkEntry.queries(name)(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.size
    assert(scans("t14i_bpe_packed_streams") === scans("t14b_bpe_packing"))
    val p = plan("t14i_bpe_packed_streams")
    // the PAYLOAD-bearing exchanges are exactly the two the operator doc
    // claims: the phase-2 bucket window's (carried arrays, 64 docs/key)
    // and the final seq_id assembly's (exploded tokens, 256/key); the
    // phase-1 branch adds only narrow rows — a (bucket, sum) exchange and
    // the bucket table's single-partition ordered window — so bucket-keyed
    // exchanges count exactly 2 and seq_id-keyed exactly 1, with nothing
    // else shuffling
    def count(re: String): Int = re.r.findAllIn(p).size
    assert(count("hashpartitioning\\(bucket") === 2, p.take(1200))
    assert(count("hashpartitioning\\(seq_id") === 1, p.take(1200))
    assert(count("Exchange hashpartitioning") === 3, p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("p1 projection pushes filters into the parquet scan") {
    val p = plan("p1_projection_validation")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(800))
  }

  test("j5 scan prunes to the referenced lineitem columns only") {
    val p = plan("j5_star_join_revenue")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_shipdate") && !read.contains("l_comment"))
  }

  test("a5b bucketed rolling window partitions by (symbol, chunk), not symbol alone") {
    val p = plan("a5b_rolling_stats_bucketed")
    // the heavy per-row windows must carry the chunk key in their partition
    // spec so parallelism = symbols × chunks, not the symbol cardinality
    assert(p.contains("__chunk"), p.take(800))
    assert("hashpartitioning\\([^)]*__chunk".r.findFirstIn(p).nonEmpty, p.take(800))
    // and the chunked key space is genuinely wider than the symbol space
    val t = Tables.trades(spark, sf)
    val nSym = t.select("symbol").distinct.count()
    val nParts = t
      .select(
        org.apache.spark.sql.functions.col("symbol"),
        graft.functions.TimeUnits.bucketIndex(
          org.apache.spark.sql.functions.col("ts_ms"), 3600000L))
      .distinct.count()
    assert(nParts > nSym, s"chunking added no parallelism: $nParts vs $nSym")
  }

  test("a5b bucketed rolling window output equals the per-symbol a5 window") {
    val a5 = SparkEntry.queries("a5_rolling_stats")(spark, sf)
    val a5b = SparkEntry.queries("a5b_rolling_stats_bucketed")(spark, sf)
    assert(a5b.count() === a5.count())
    assert(a5b.exceptAll(a5).isEmpty && a5.exceptAll(a5b).isEmpty)
  }

  // w6b/w9b default plans hide the big stage behind a localCheckpoint scan,
  // so their shapes are asserted on the materializeSharedStage=false twins
  // (same logical plan, no checkpoint barrier).
  private def w6bPlain: String = graft.operators.Rolling.momentumBucketed(
    Tables.trades(spark, sf),
    symbol = org.apache.spark.sql.functions.col("symbol"),
    tsMs = org.apache.spark.sql.functions.col("ts_ms"),
    price = org.apache.spark.sql.functions.col("price"),
    tieBreak = org.apache.spark.sql.functions.col("trade_id"),
    windowMs = 300000L, chunkMs = 3600000L,
    materializeSharedStage = false)
    .queryExecution.executedPlan.toString

  private def w9bPlain: String = graft.operators.Rolling.ewmaFeaturesBucketed(
    Tables.trades(spark, sf).select("symbol", "ts_ms", "trade_id", "price"),
    symbol = org.apache.spark.sql.functions.col("symbol"),
    tsMs = org.apache.spark.sql.functions.col("ts_ms"),
    price = org.apache.spark.sql.functions.col("price"),
    tieBreak = org.apache.spark.sql.functions.col("trade_id"),
    chunkMs = 3600000L,
    materializeSharedStage = false)
    .queryExecution.executedPlan.toString

  test("w5b/w6b/w9b bucketed windows partition by (symbol, chunk), not symbol alone") {
    for ((name, p) <- Seq(
        "w5b_path_stats_bucketed" -> plan("w5b_path_stats_bucketed"),
        "w6b_momentum_bucketed(materialize=false)" -> w6bPlain,
        "w9b_ewma_macd_bucketed(materialize=false)" -> w9bPlain)) {
      assert(p.contains("__chunk"), s"$name: ${p.take(800)}")
      assert(
        "hashpartitioning\\([^)]*__chunk".r.findFirstIn(p).nonEmpty,
        s"$name: ${p.take(800)}")
    }
  }

  test("rolling plans keep their shuffle and broadcast exchange counts") {
    // (shuffle exchanges, broadcast exchanges) per plan. Every per-symbol
    // fork shuffles once on symbol. The bucketed stitches do not reuse the
    // (symbol, chunk) exchange of the rows they stitch: a5b's per-chunk
    // summary re-reads the scan under an exchange of its own (column
    // pruning makes the subtree differ), and the w6b/w9b twins plan the
    // windowed stage again under the tail side (the materialized default
    // runs it once). Each stitch adds one symbol exchange for its per-chunk
    // lag and one broadcast of the per-chunk table.
    for ((name, p, want) <- Seq(
        ("a5_rolling_stats", plan("a5_rolling_stats"), (1, 0)),
        ("a5b_rolling_stats_bucketed", plan("a5b_rolling_stats_bucketed"), (4, 1)),
        ("w5_path_stats", plan("w5_path_stats"), (1, 0)),
        ("w5b_path_stats_bucketed", plan("w5b_path_stats_bucketed"), (1, 0)),
        ("w6_momentum", plan("w6_momentum"), (1, 0)),
        ("w6b_momentum_bucketed(materialize=false)", w6bPlain, (3, 1)),
        ("w9_ewma_macd", plan("w9_ewma_macd"), (1, 0)),
        ("w9b_ewma_macd_bucketed(materialize=false)", w9bPlain, (3, 1)))) {
      val got = ("\\bExchange ".r.findAllIn(p).size, "BroadcastExchange ".r.findAllIn(p).size)
      assert(got === want, s"$name:\n${p.take(3000)}")
    }
  }

  test("w6b materializes the shared windowed stage once (no double pipeline)") {
    val p = plan("w6b_momentum_bucketed")
    // both consumers read the checkpointed stage: the scan/explode/window
    // pipeline must NOT appear in the final plan (it runs once inside the
    // checkpoint), and the stitch join must broadcast the tiny tail side.
    assert(p.contains("Scan ExistingRDD"), p.take(800))
    assert(!p.contains("Generate explode"), "shared stage computed twice:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("w5b/w6b/w9b bucketed windows output equals the per-symbol w5/w6/w9 windows") {
    for ((a, b) <- Seq(
        "w5_path_stats" -> "w5b_path_stats_bucketed",
        "w6_momentum" -> "w6b_momentum_bucketed",
        "w9_ewma_macd" -> "w9b_ewma_macd_bucketed")) {
      val plain = SparkEntry.queries(a)(spark, sf)
      val bucketed = SparkEntry.queries(b)(spark, sf)
      assert(bucketed.count() === plain.count(), s"$a vs $b")
      assert(
        bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty,
        s"$a vs $b")
    }
  }

  test("a1b packed-ordering open/close picks hash-aggregate, not sort-aggregate") {
    val p = plan("a1b_trade_stats_packed")
    assert(p.contains("partial_min_by"), p.take(500))
    assert(!p.contains("SortAggregate"), "packed ordering should restore HashAggregate")
    assert(p.contains("HashAggregate"))
  }

  test("a4 bars aggregate partially before its single shuffle") {
    val p = plan("a4_bars_1m")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(500))
    // min_by(struct ordering) plans as SortAggregate (see SCALE.md); the
    // invariant that matters is partial-before-shuffle, not the agg flavor.
    assert(p.contains("partial_min_by"))
  }

  test("w7 sessionization shares ONE shuffle across lag, island sum, and rollup") {
    val p = plan("w7_sessionization")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("k8 scd2 history is one shuffle + one lead pass, no self-join") {
    val p = plan("k8_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(800))
    assert(!p.contains("Join"), "SCD2 must not plan a self-join")
  }

  test("z1 z-value keys are a pure scan-side projection (zero shuffle)") {
    val p = plan("z1_zorder_keys")
    assert(!p.contains("Exchange"), p.take(500))
  }

  test("j6 interval join is an equi-join on (key, cell), never a cartesian/BNLJ") {
    val p = plan("j6_interval_join")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("Generate explode"), "interval cell replication missing")
  }

  test("t17 repetition ratio is per-row (zero shuffle, no UDF)") {
    val p = plan("t17_repetition")
    assert(!p.contains("Exchange"), p.take(500))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(500))
  }

  test("t16 bm25 broadcasts df and corpus stats; only tf x doc-length shuffles") {
    val p = plan("t16_bm25")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "df/stats sides must broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("v8 per-dim standardization broadcasts the 64-row stats table") {
    val p = plan("v8_embed_standardize")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("fleet-wide: no query funnels unbounded data through one partition") {
    // Every declared query's physical plan, audited for the two shapes that
    // silently stop scaling: an Exchange SinglePartition (all data to one
    // task) and an unpartitioned Window. The allowlist is the audited set
    // whose single-partition input is PROVABLY bounded:
    //   a9b — global scalar max (map-side partials, 1-row final)
    //   t14 — bucket-summary prefix sum (rows/bucketWidth rows; the dial is
    //         the documented two-phase scale contract)
    //   t16 — global scalar sum/count for average doc length (1-row final)
    // A new query landing here must either partition or join this list with
    // a boundedness argument.
    val allowed = Set("a9b_service_health", "t14_sequence_packing", "t16_bm25")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString
      if (p.contains("SinglePartition") && !allowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unaudited single-partition plans: ${offenders.mkString(", ")}")
  }

  // AQE wraps the tree (collect cannot descend into AdaptiveSparkPlan),
  // so assert on the printed plan: the single-partition Window must sit
  // ABOVE the vocab HashAggregate — its sort then runs over O(vocab)
  // rows — and the token explode must sit BELOW the aggregate, never
  // between the aggregate and the window. Shared by the plain (t14c) and
  // end-of-word-marked (t14d, r14) vocab emissions: the marker must not
  // change the plan shape, only the token strings.
  private def assertVocabWindowShape(query: String): Unit = {
    val p = plan(query)
    val w = p.indexOf("Window ")
    assert(w >= 0, p.take(500))
    val below = p.substring(w)
    assert(below.contains("HashAggregate"),
      "rank window not above the vocab aggregate:\n" + p.take(900))
    val agg = below.indexOf("HashAggregate")
    assert(!below.substring(0, agg).contains("Generate"),
      "corpus explode feeds the rank window directly:\n" + p.take(900))
  }

  test("t14c vocab rank window sorts the AGGREGATED vocab, never corpus rows") {
    assertVocabWindowShape("t14c_bpe_vocab")
  }

  test("t14d marked-vocab emission keeps t14c's bounded-window plan shape") {
    assertVocabWindowShape("t14d_bpe_vocab_marked")
  }

  test("t14e encode resolves token ids via a BROADCAST of the bounded vocab") {
    // the corpus-sized encode stream must never shuffle for the id lookup:
    // the vocab side is bounded by alphabet + merge table (each token at
    // most doubled by its marked form), so the join is an explicit
    // broadcast — and the rank window keeps t14c's bounded shape (sorts
    // the AGGREGATED vocab, never corpus rows)
    val p = plan("t14e_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assertVocabWindowShape("t14e_bpe_encode")
  }

  test("t25 repeated-set join: broadcast under the budget, pinned sort-merge above it") {
    // Small-data fast path (the default budget dwarfs sf0.001's repeated
    // set): the hits join must be an EXPLICIT broadcast — the exploded
    // corpus is never shuffled for it.
    val small = plan("t25_char_spans")
    assert(small.contains("BroadcastHashJoin"), small.take(800))
    // Large-input strategy (budget forced to zero = the measured set prices
    // over ANY heap): the join must plan as sort-merge — spillable, never an
    // OOM-able broadcast build — and AQE must NOT flip the user hint back to
    // broadcast at runtime, so assert on the FINAL executed plan.
    spark.conf.set(graft.operators.Corpus.BroadcastBudgetConf, "0")
    try {
      val df = SparkEntry.queries("t25_char_spans")(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(900))
      assert(!p.contains("BroadcastHashJoin"),
        "AQE re-broadcast the over-budget repeated set:\n" + p.take(900))
    } finally spark.conf.unset(graft.operators.Corpus.BroadcastBudgetConf)
  }

  test("t8 boilerplate joins the over-threshold set only (anti-join, no corpus-freq join)") {
    val p = plan("t8_boilerplate_spans")
    // the span stream must anti-join the tiny boilerplate set (broadcast at
    // test scale), not equi-join the O(distinct spans) frequency table
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).nonEmpty, p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("m1/m4 image pipeline never shuffles the binary payload") {
    for (q <- Seq("m1_multimodal_meta", "m4_image_thumb")) {
      // the only legal Exchange is the r17 ScanFill's pre-encode doc_id
      // repartition (one 8-byte column/row), so no Exchange may output a
      // binary column: the encoded bytes and everything derived from them
      // stay strictly above the last exchange. The executed plan is an
      // AdaptiveSparkPlanExec, a leaf to a plain plan `collect`;
      // AdaptiveSparkPlanHelper's collect descends into it
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      import org.apache.spark.sql.execution.exchange.Exchange
      val exchanges = collect(qe.executedPlan) { case e: Exchange => e }
      assert(exchanges.nonEmpty, s"$q: no Exchange inspected in\n${qe.executedPlan}")
      for (e <- exchanges; attr <- e.output)
        assert(
          attr.dataType != org.apache.spark.sql.types.BinaryType,
          s"$q shuffles a binary payload column ${attr.name}:\n$e")
    }
  }
}

