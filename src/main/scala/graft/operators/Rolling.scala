package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Event-time rolling (range-frame) statistics — the reference's 1 s/5 s
  * sliding trade stats (SURVEY §2.4 A5, `docs/architecture/DATA_PIPELINE.md:109-157`)
  * and the forward path-stats used for 10 s-ahead labels (W5,
  * `docs/schemas/S3_SCHEMA.md:648-653`).
  *
  * Scale shape: window functions shuffle once on the partition key (symbol)
  * and then run a single ordered scan per partition — O(rows log rows) local
  * sort, no self-join. Range frames on the epoch-ms long axis express
  * "last N seconds" exactly (event-time, not row-count).
  *
  * Every statistic comes in two plans over one body: the per-symbol window
  * (a5/w5/w6/w9) and the (symbol, time-chunk) bucketed plan (a5b/w5b/w6b/
  * w9b), whose parallelism is symbols × chunks instead of the symbol
  * cardinality. The bodies take their window, so the only difference is
  * the partition — `symbol`, or `(__sym, __chunk)` plus the chunk
  * stitching. Both stay: the per-symbol plan is faster at sf0.01, the
  * bucketed one at 10× (SCALE.md).
  *
  * Per SURVEY §7.5.5 the reference's `trades_per_second` floors the time span
  * at 1 s, underestimating sub-second intensity; here intensity uses the true
  * window span with a small epsilon.
  */
object Rolling {

  /** A5: per-row trailing-window trade stats over `windowMs`.
    *
    * Adds: `n_w` (count), `vol_w` (exact sum), `vwap_w`, `price_std_w`,
    * `price_range_w`, `interarrival_ms` (this row vs previous),
    * `trade_intensity_w` (trades/sec over true span).
    */
  def trailingStats(
      trades: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      qty: Column,
      tieBreak: Column,
      windowMs: Long = 5000L): DataFrame = {
    val wRange = Window.partitionBy(symbol).orderBy(tsMs).rangeBetween(-windowMs, 0)
    val wSeq = Window.partitionBy(symbol).orderBy(tsMs, tieBreak)
    priceFrameStats(trades, wRange, price, qty)
      .withColumn("interarrival_ms", tsMs - lag(tsMs, 1).over(wSeq))
      .transform(arrivalFrameStats(_, wRange, tsMs))
  }

  /** A5's price and volume frame stats: `n_w`, `vol_w`, `vwap_w`,
    * `price_std_w`, `price_range_w` over the trailing frame `wRange`.
    */
  private def priceFrameStats(
      rows: DataFrame, wRange: WindowSpec, price: Column, qty: Column): DataFrame =
    rows
      .withColumn("n_w", count(lit(1)).over(wRange))
      .withColumn("vol_w", sum(qty.cast("decimal(27,8)")).over(wRange).cast("double"))
      .withColumn(
        "vwap_w",
        sum((price * qty).cast("decimal(27,10)")).over(wRange).cast("double") /
          nullif(col("vol_w"), lit(0.0)))
      .withColumn("price_std_w", round(stddev_samp(price).over(wRange), 4))
      .withColumn(
        "price_range_w",
        round(max(price).over(wRange) - min(price).over(wRange), 8))

  /** A5's arrival frame stats over the trailing frame `wRange`, from the
    * rows' `interarrival_ms` and `n_w`: `interarrival_mean_s_w`,
    * `interarrival_var_s_w` and `trade_intensity_w`.
    */
  private def arrivalFrameStats(rows: DataFrame, wRange: WindowSpec, tsMs: Column): DataFrame = {
    val spanSec = (tsMs - min(tsMs).over(wRange)).cast("double") / 1000.0
    rows
      // Interarrival mean/variance from EXACT integer power sums: windowed
      // var_samp differs across engines at ~1e-6 relative (segment-tree vs
      // streaming accumulation), which no output rounding survives. Integer
      // Σx and Σx² are exact everywhere; the textbook formula then runs in
      // deterministic double arithmetic. (Σx² stays in int64 for gaps up to
      // ~34 days per key.)
      .withColumn("__ia_n", count(col("interarrival_ms")).over(wRange))
      .withColumn("__ia_s1", sum(col("interarrival_ms")).over(wRange).cast("double"))
      .withColumn(
        "__ia_s2",
        sum(col("interarrival_ms") * col("interarrival_ms")).over(wRange).cast("double"))
      // No rounding here: the values are already bit-deterministic (pure
      // double arithmetic over exact integer sums), and round() itself is
      // the non-portable part — integer-derived ratios sit exactly on .5
      // boundaries where Spark's BigDecimal rounding and a scaled-multiply
      // rounding disagree.
      .withColumn(
        "interarrival_mean_s_w",
        col("__ia_s1") / col("__ia_n") / 1000.0)
      .withColumn(
        "interarrival_var_s_w",
        when(
          col("__ia_n") >= 2,
          (col("__ia_s2") - col("__ia_s1") * col("__ia_s1") / col("__ia_n")) /
            (col("__ia_n") - 1) / 1.0e6))
      .drop("__ia_n", "__ia_s1", "__ia_s2")
      .withColumn(
        "trade_intensity_w",
        col("n_w").cast("double") / greatest(spanSec, lit(0.001)))
  }

  /** A5 at firehose scale: [[trailingStats]] partitions by `symbol`, so its
    * parallelism collapses to the key cardinality — the reference streams ONE
    * symbol, the classic single-hot-partition window. This variant
    * pre-buckets by (symbol, time-chunk) and stitches the chunk boundaries,
    * producing BIT-IDENTICAL output to [[trailingStats]] (same oracle) with
    * parallelism = symbols × chunks:
    *
    *   1. interarrival: chunk-local `lag`, then the first row of each chunk
    *      is stitched from a per-chunk boundary summary (one row per
    *      non-empty chunk — the only per-symbol window runs on THAT tiny
    *      table, not the stream).
    *   2. trailing range frames: every row whose trailing `windowMs` window
    *      can be seen from the next chunk (the boundary band) is replicated
    *      into it as a non-owned context row; frames then compute
    *      chunk-locally and context rows are dropped.
    *
    * Requires `chunkMs >= windowMs` so context only ever comes from the
    * immediately-previous chunk. Duplication factor = windowMs / chunkMs.
    */
  def trailingStatsBucketed(
      trades: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      qty: Column,
      tieBreak: Column,
      windowMs: Long = 5000L,
      chunkMs: Long = 60000L): DataFrame = {
    require(chunkMs >= windowMs, s"chunkMs ($chunkMs) must be >= windowMs ($windowMs)")
    val base = chunked(trades, symbol, tsMs, Some(tieBreak), chunkMs)

    // 1 — exact interarrival: chunk-local lag + boundary stitch. The only
    // per-symbol window runs over the per-chunk summary (one row per
    // non-empty chunk), not the stream. Column pruning gives the summary
    // its own scan and (symbol, chunk) exchange (PlanQualitySpec pins it).
    val local = base.withColumn("__ia_local", col("__ts") - lag(col("__ts"), 1).over(chunkSeq))
    val prevBounds = local
      .groupBy(col("__sym"), col("__chunk"))
      .agg(max(col("__ts")).as("__chunk_last_ts"))
      .withColumn("__prev_last_ts", lag(col("__chunk_last_ts"), 1).over(chunkOrder))
      .select(col("__sym"), col("__chunk"), col("__prev_last_ts"))
    val withIa = local
      .join(prevBounds, Seq("__sym", "__chunk"))
      .withColumn(
        "interarrival_ms",
        coalesce(col("__ia_local"), col("__ts") - col("__prev_last_ts")))
      .drop("__ia_local", "__prev_last_ts")

    // 2 — trailing frames over (symbol, chunk) with boundary-band context:
    // a row in chunk c sees back to ts - windowMs >= c*chunkMs - windowMs,
    // all of which lives in chunk c-1's trailing band.
    val wRange = chunkFrame(-windowMs, 0)
    withBandContext(withIa, col("__ts") >= (col("__chunk") + 1) * chunkMs - windowMs, step = 1)
      .transform(priceFrameStats(_, wRange, price, qty))
      .transform(arrivalFrameStats(_, wRange, col("__ts")))
      .filter(col("__owner"))
      .drop("__owner", "__chunk", "__tie", "__sym", "__ts")
  }

  /** W5: forward path stats over `(t, t + horizonMs]` — the label-side
    * max/min/range/volume/count of the 10 s window after each feature tick.
    */
  def forwardPathStats(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      qty: Column,
      horizonMs: Long = 10000L): DataFrame =
    // (t, t+h]: exclude the current instant, include the horizon end.
    pathStats(rows, Window.partitionBy(symbol).orderBy(tsMs).rangeBetween(1, horizonMs), price, qty)

  /** W5's path stats over the forward frame `w`. */
  private def pathStats(rows: DataFrame, w: WindowSpec, price: Column, qty: Column): DataFrame =
    rows
      .withColumn("path_max", max(price).over(w))
      .withColumn("path_min", min(price).over(w))
      .withColumn("path_range", round(col("path_max") - col("path_min"), 8))
      .withColumn("path_volume", sum(qty.cast("decimal(27,8)")).over(w).cast("double"))
      .withColumn("path_trades", count(price).over(w))

  /** W5 at firehose scale: [[forwardPathStats]] partitions by `symbol` only,
    * collapsing to one task on a single-symbol stream. Mirror image of
    * [[trailingStatsBucketed]]: rows bucket into (symbol, time-chunk) and the
    * FORWARD frame's context comes from the next chunk's LEADING band — every
    * row whose `ts < chunkStart + horizonMs` is also replicated into the
    * previous chunk as a non-owned context row, frames compute chunk-locally,
    * context rows drop. Bit-identical to [[forwardPathStats]] (same oracle);
    * parallelism = symbols × chunks. Requires `chunkMs >= horizonMs` so
    * context only ever comes from the immediately-next chunk.
    */
  def forwardPathStatsBucketed(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      qty: Column,
      horizonMs: Long = 10000L,
      chunkMs: Long = 60000L): DataFrame = {
    require(chunkMs >= horizonMs, s"chunkMs ($chunkMs) must be >= horizonMs ($horizonMs)")
    // A row in chunk c reaches forward to ts + horizonMs, all of which lives
    // in chunk c+1's leading band — so the band rows of chunk c+1 replicate
    // back into chunk c.
    withBandContext(
      chunked(rows, symbol, tsMs, None, chunkMs),
      col("__ts") < col("__chunk") * chunkMs + horizonMs,
      step = -1)
      .transform(pathStats(_, chunkFrame(1, horizonMs), price, qty))
      .filter(col("__owner"))
      .drop("__owner", "__chunk", "__sym", "__ts")
  }

  /** W6: momentum / acceleration — differences of lagged rolling means
    * (`S3_SCHEMA.md:569-578`). `momentum` = current trailing mean minus the
    * trailing mean one row earlier; `acceleration` = diff of momentum.
    */
  def momentum(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      tieBreak: Column,
      windowMs: Long = 5000L): DataFrame = {
    val wRange = Window.partitionBy(symbol).orderBy(tsMs).rangeBetween(-windowMs, 0)
    val wSeq = Window.partitionBy(symbol).orderBy(tsMs, tieBreak)
    rows
      .withColumn("ma_w", movingMean(price, wRange))
      .withColumn("momentum", col("ma_w") - lag(col("ma_w"), 1).over(wSeq))
      .withColumn("acceleration", col("momentum") - lag(col("momentum"), 1).over(wSeq))
  }

  /** W6's `ma_w` over the trailing frame `wRange`. Decimal-accumulated mean:
    * exact under any evaluation order, so the momentum diffs are engine-
    * and partition-order-independent, and the bucketed doubles are
    * bit-identical to the per-symbol ones.
    */
  private def movingMean(price: Column, wRange: WindowSpec): Column =
    sum(price.cast("decimal(27,8)")).over(wRange).cast("double") / count(lit(1)).over(wRange)

  /** W6 at firehose scale: [[momentum]]'s per-symbol windows bucketed by
    * (symbol, time-chunk), bit-identical output (same oracle). Two stitches:
    *
    *   1. `ma_w` (trailing range frame) — the same boundary-band replication
    *      as [[trailingStatsBucketed]]: trailing-band rows of chunk c are
    *      context rows of chunk c+1, frames compute chunk-locally, context
    *      drops.
    *   2. the lag chain — `momentum = ma - lag(ma)` and `acceleration =
    *      momentum - lag(momentum) = (ma - l1) - (l1 - l2)` need the last TWO
    *      `ma_w` values before each chunk's first row. A per-chunk tail
    *      summary (last ≤2 rows' ma, one row per non-empty chunk) carries
    *      them: the only per-symbol window runs over THAT tiny table, and
    *      concatenating `lag(tail, 2) ++ lag(tail, 1)` handles 1-row chunks
    *      (where the second-back row lives two non-empty chunks away).
    *
    * The identity `lag(momentum) = lag(ma,1) - lag(ma,2)` holds bitwise
    * because momentum at every row IS that very subtraction of the same
    * doubles. Requires `chunkMs >= windowMs`.
    *
    * `materializeSharedStage`: the windowed stage feeds TWO consumers (the
    * output rows and the per-chunk tail summary). Unmaterialized, Catalyst
    * plans the full scan→explode→shuffle→window pipeline twice — column
    * pruning makes the subtrees differ, so ReuseExchange can't dedupe them
    * (measured 2× the runtime at sf0.1). When enabled, the stage is lazily
    * materialized once and both consumers read the stored blocks (unlike
    * `persist`, which leaks pinned cache entries — measured degrading
    * UNRELATED queries in the same JVM). HOW it materializes is
    * fault-tolerance-aware:
    *
    *   - `checkpointDir` set → reliable `checkpoint` into that directory:
    *     survives executor loss, the production shape for long cluster jobs.
    *   - else, local master → `localCheckpoint` (executor-local blocks,
    *     ContextCleaner-reclaimed). Truncates lineage — an executor loss
    *     would fail the query — which is moot in one-JVM local mode.
    *   - else (cluster, no dir) → [[Materialize.cached]]: an RDD-level
    *     cache that computes once but KEEPS lineage, so an executor loss
    *     recomputes instead of failing, with no CacheManager pinning.
    *
    * Pass `materializeSharedStage = false` to force the recompute plan —
    * also what the plan-shape specs introspect, since a checkpointed stage
    * hides its subtree behind a Scan ExistingRDD.
    *
    * Width note: the materialized stage carries EVERY input column (the
    * checkpoint barrier blocks Catalyst column pruning above the scan), so
    * project `rows` down to the columns you need first — at 100 TB the
    * difference between materializing 4 columns and 40 is the job.
    */
  def momentumBucketed(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      tieBreak: Column,
      windowMs: Long = 5000L,
      chunkMs: Long = 60000L,
      materializeSharedStage: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(chunkMs >= windowMs, s"chunkMs ($chunkMs) must be >= windowMs ($windowMs)")
    // 1 — trailing ma over (symbol, chunk) with boundary-band context rows.
    val owned = withBandContext(
      chunked(rows, symbol, tsMs, Some(tieBreak), chunkMs),
      col("__ts") >= (col("__chunk") + 1) * chunkMs - windowMs,
      step = 1)
      .withColumn("ma_w", movingMean(price, chunkFrame(-windowMs, 0)))
      .filter(col("__owner"))
      .drop("__owner")
    // 2 — lag stitch. Chunk-local lags reuse the (symbol, chunk) exchange;
    // only the first two rows of a chunk read the stitched tail values.
    val withRn = sharedStage(
      withChunkPosition(owned)
        .withColumn("__ma_l1_local", lag(col("ma_w"), 1).over(chunkSeq))
        .withColumn("__ma_l2_local", lag(col("ma_w"), 2).over(chunkSeq))
        // ordering scratch is consumed by the windows above; keep it out of
        // the materialized stage
        .drop("__ts", "__tie"),
      materializeSharedStage, checkpointDir)
    // The tail length is decided by __cnt, NOT by null-filtering: a chunk
    // whose last ma_w is genuinely null (every price in its trailing window
    // null) must keep that null positionally — the next chunk's first
    // momentum is then null, exactly as w6's lag over the full partition
    // computes it. Filtering nulls would promote an OLDER ma into the
    // stitch and silently shift it.
    val tails = chunkTails(
      withRn,
      when(col("__cnt") >= 2, array(col("__ma_l1_local"), col("ma_w")))
        .otherwise(array(col("ma_w"))))
    val empty = array().cast("array<double>")
    val prev = tails
      .withColumn(
        "__prevcat",
        concat(
          coalesce(lag(col("__tail"), 2).over(chunkOrder), empty),
          coalesce(lag(col("__tail"), 1).over(chunkOrder), empty)))
      .select(
        col("__sym"), col("__chunk"),
        when(size(col("__prevcat")) >= 1, element_at(col("__prevcat"), -1)).as("__prev1"),
        when(size(col("__prevcat")) >= 2, element_at(col("__prevcat"), -2)).as("__prev2"))
    withRn
      .join(prev, Seq("__sym", "__chunk"))
      .withColumn("__ma_l1", coalesce(col("__ma_l1_local"), col("__prev1")))
      .withColumn(
        "__ma_l2",
        when(col("__rn") === 1, col("__prev2"))
          .when(col("__rn") === 2, col("__prev1"))
          .otherwise(col("__ma_l2_local")))
      .withColumn("momentum", col("ma_w") - col("__ma_l1"))
      .withColumn("acceleration", col("momentum") - (col("__ma_l1") - col("__ma_l2")))
      .drop(
        "__rn", "__cnt", "__ma_l1_local", "__ma_l2_local", "__prev1", "__prev2",
        "__ma_l1", "__ma_l2", "__chunk", "__tie", "__sym", "__ts")
  }

  /** W9 default parameters. [[graft.queries.MarketQueries]] derives the
    * oracle SQL's frame size and alpha/complement literals from these (the
    * same way `duckBucket` shares hash params), so the query wiring and the
    * oracle cannot silently drift apart.
    */
  val EwmaFastAlpha = 0.25
  val EwmaSlowAlpha = 0.0625
  val EwmaLookback = 32

  /** 1−α must round-trip exactly (true for dyadic α: 1/4, 1/16, …) so a
    * human writing the complement as a literal in oracle SQL gets the same
    * double the fold uses. `(1−a)+a == 1` is too weak (0.3 passes it by
    * re-rounding); the inverse subtraction is the faithful test.
    */
  private def requireExactAlphas(fastAlpha: Double, slowAlpha: Double): Unit = {
    def exactComplement(a: Double): Boolean = 1.0 - (1.0 - a) == a
    require(
      exactComplement(fastAlpha) && exactComplement(slowAlpha),
      s"alphas must have exactly representable complements (got $fastAlpha, $slowAlpha)")
  }

  /** The prices of the row frame `w`, in frame order.
    *
    * collect_list silently DROPS nulls while DuckDB's `list()` window
    * aggregate keeps them, so a null price would shift the Spark frame one
    * slot and silently desync lookback alignment from the oracle. The EWMA
    * contract is therefore non-null price, enforced loudly per row (the
    * Corpus precondition style) instead of diverging quietly.
    */
  private def framePrices(price: Column, w: WindowSpec): Column =
    collect_list(coalesce(price, raise_error(lit("ewmaFeatures: null price")).cast("double")))
      .over(w)

  /** The EWMA left fold `y₀ = xs(1); yₜ = (1−α)·yₜ₋₁ + α·xs(t)` over an
    * already-materialized frame array — the identical IEEE double sequence
    * DuckDB's `list_reduce` executes.
    */
  private def ewmaFold(xs: Column, alpha: Double, lookback: Int): Column = {
    val decay = lit(1.0 - alpha)
    round(
      aggregate(
        slice(xs, 2, lookback - 1),
        element_at(xs, 1),
        (acc, x) => acc * decay + x * lit(alpha)),
      6)
  }

  /** W9's `ewma_fast`, `ewma_slow` and `macd` from each row's price frame. */
  private def withEwma(
      rows: DataFrame, frame: Column, fastAlpha: Double, slowAlpha: Double,
      lookback: Int): DataFrame =
    rows
      .withColumn("ewma_fast", ewmaFold(frame, fastAlpha, lookback))
      .withColumn("ewma_slow", ewmaFold(frame, slowAlpha, lookback))
      .withColumn("macd", round(col("ewma_fast") - col("ewma_slow"), 6))

  /** Output/scratch names both EWMA variants claim; an input already using
    * one would be silently clobbered (then dropped) — fail loudly instead.
    */
  private def requireNoReservedEwmaColumns(rows: DataFrame): Unit = {
    val reserved = Set(
      "__xs", "__xs_local", "__frame", "__ctx", "__tail", "__rn", "__cnt",
      "__sym", "__ts", "__tie", "__chunk", "ewma_fast", "ewma_slow", "macd")
    val clash = rows.columns.toSet.intersect(reserved)
    require(
      clash.isEmpty,
      s"input already defines reserved EWMA column(s): ${clash.mkString(", ")}")
  }

  /** W9 (extension): bounded-lookback EWMA features — the online exponential
    * smoothing a price-prediction feature set runs next to the plain moving
    * averages of [[momentum]] (`S3_SCHEMA.md:569-578` specifies MA-family
    * momentum; EWMA is its standard recency-weighted sibling, e.g. MACD).
    *
    * Semantics: over the last `lookback` rows per key (ordered by the TOTAL
    * (ts, tieBreak) key), the recurrence `y₀ = x₀; yₜ = (1−α)·yₜ₋₁ + α·xₜ`
    * — the adjust-free online form a streaming feature builder computes.
    * Restarting the recurrence at the frame edge bounds both state and the
    * influence horizon (at α ≥ 0.0625 a 32-row frame carries ≥ 87% of the
    * unbounded EWMA's weight mass).
    *
    * Exactness: the frame is materialized with `collect_list` over the
    * ordered window (frame order = window order, deterministic under the
    * total order) and folded left with the `aggregate` higher-order function
    * — the same IEEE double sequence DuckDB's `list_reduce` executes, so
    * results are bit-identical cross-engine before the final round(6).
    * Alphas must be exactly representable doubles with exactly representable
    * complements (0.25/0.75, 0.0625/0.9375) so neither engine re-derives
    * `1−α` differently.
    *
    * Scale shape: one shuffle on the key, one ordered scan per partition —
    * identical to the rest of the rolling family; the per-row frame list is
    * bounded at `lookback` doubles (32 ⇒ 256 bytes) regardless of data
    * volume, and the fold is codegen'd per row with zero extra shuffle.
    * When a single key dominates, [[ewmaFeaturesBucketed]] computes the
    * same output over (symbol, time-chunk) partitions.
    */
  def ewmaFeatures(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      tieBreak: Column,
      fastAlpha: Double = EwmaFastAlpha,
      slowAlpha: Double = EwmaSlowAlpha,
      lookback: Int = EwmaLookback): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    requireExactAlphas(fastAlpha, slowAlpha)
    requireNoReservedEwmaColumns(rows)
    val w = Window.partitionBy(symbol).orderBy(tsMs, tieBreak)
      .rowsBetween(-(lookback - 1), Window.currentRow)
    rows
      .withColumn("__xs", framePrices(price, w))
      .transform(withEwma(_, col("__xs"), fastAlpha, slowAlpha, lookback))
      .drop("__xs")
  }

  /** W9 at firehose scale: [[ewmaFeatures]]'s per-symbol ROW frame bucketed
    * by (symbol, time-chunk), bit-identical output (same oracle). Unlike the
    * RANGE-frame stitches (a5b/w5b/w6b), a `lookback−1`-row frame is not
    * time-bounded — the rows preceding a sparse chunk can sit arbitrarily
    * many chunks back — so a boundary-band replication cannot carry the
    * context. Instead:
    *
    *   1. within-chunk frames: `collect_list` over the chunk-local
    *      (ts, tieBreak)-ordered row window — already complete for every row
    *      at chunk position ≥ lookback.
    *   2. context: one tail row per non-empty chunk — the chunk's trailing
    *      `lookback−1` prices, read for FREE off the last row's local frame
    *      (no extra aggregation; the momentumBucketed tail trick). The only
    *      per-symbol window runs over THAT tiny table: concatenating the
    *      previous `lookback−1` non-empty chunks' tails (each carries ≥ 1
    *      price, so `lookback−1` of them always cover the `lookback−1` rows
    *      needed) and keeping the trailing `lookback−1` values yields each
    *      chunk's incoming context.
    *   3. stitch: rows in the first `lookback−1` chunk positions prepend the
    *      context and keep the trailing `lookback` values — exactly the
    *      global frame, because the chunk index is monotone in ts, so
    *      (chunk, ts, tie) order IS the per-symbol (ts, tie) order.
    *
    * The fold then consumes identical IEEE sequences, so outputs are
    * bit-identical to [[ewmaFeatures]]. Context state is bounded at
    * (lookback−1)² doubles per tail row worst-case, independent of data
    * volume. Same shared-stage materialization contract as
    * [[momentumBucketed]] (two consumers: output rows + tails); project the
    * input down to needed columns first for the same width reason.
    */
  def ewmaFeaturesBucketed(
      rows: DataFrame,
      symbol: Column,
      tsMs: Column,
      price: Column,
      tieBreak: Column,
      fastAlpha: Double = EwmaFastAlpha,
      slowAlpha: Double = EwmaSlowAlpha,
      lookback: Int = EwmaLookback,
      chunkMs: Long = 60000L,
      materializeSharedStage: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(
      lookback >= 2,
      s"lookback must be >= 2 (a 1-row frame has no cross-chunk context — " +
        s"use ewmaFeatures), got $lookback")
    require(chunkMs > 0, s"chunkMs must be positive, got $chunkMs")
    requireExactAlphas(fastAlpha, slowAlpha)
    requireNoReservedEwmaColumns(rows)
    val ctxLen = lookback - 1
    val emptyTails = array().cast("array<array<double>>")
    // trailing n elements (all of them if the array is shorter)
    def lastN(arr: Column, n: Int): Column =
      slice(arr, greatest(size(arr) - (n - 1), lit(1)), lit(n))
    val stage = sharedStage(
      chunked(rows, symbol, tsMs, Some(tieBreak), chunkMs)
        .withColumn(
          "__xs_local",
          framePrices(price, chunkSeq.rowsBetween(-(lookback - 1), Window.currentRow)))
        .transform(withChunkPosition)
        // ordering scratch is consumed by the windows above; keep it out of
        // the materialized stage
        .drop("__ts", "__tie"),
      materializeSharedStage, checkpointDir)
    // the last row's local frame holds the chunk's trailing min(cnt,
    // lookback) prices in order — its last ctxLen values ARE the tail
    val tails = chunkTails(stage, lastN(col("__xs_local"), ctxLen))
    val ctx = tails
      .withColumn(
        "__ctx",
        lastN(
          flatten(
            coalesce(collect_list(col("__tail")).over(chunkOrder.rowsBetween(-ctxLen, -1)),
              emptyTails)),
          ctxLen))
      .select(col("__sym"), col("__chunk"), col("__ctx"))
    stage
      .join(ctx, Seq("__sym", "__chunk"))
      .withColumn(
        "__frame",
        // deep-in-chunk rows never touch the context array
        when(size(col("__xs_local")) >= lookback, col("__xs_local"))
          .otherwise(lastN(concat(col("__ctx"), col("__xs_local")), lookback)))
      .transform(withEwma(_, col("__frame"), fastAlpha, slowAlpha, lookback))
      .drop("__xs_local", "__rn", "__cnt", "__ctx", "__frame", "__chunk", "__sym")
  }

  // The chunk machinery every bucketed plan shares.

  /** Adds the bucketed plans' scratch keys: `__sym`, `__ts`, `__tie` (when
    * the plan orders ties) and `__chunk`, the row's `chunkMs` time bucket.
    */
  private def chunked(
      rows: DataFrame, symbol: Column, tsMs: Column, tieBreak: Option[Column],
      chunkMs: Long): DataFrame = {
    val keyed = rows.withColumn("__sym", symbol).withColumn("__ts", tsMs)
    tieBreak.fold(keyed)(keyed.withColumn("__tie", _))
      .withColumn("__chunk", graft.functions.TimeUnits.bucketIndex(tsMs, chunkMs))
  }

  private def chunkPartition: WindowSpec = Window.partitionBy(col("__sym"), col("__chunk"))

  /** The chunk-local counterpart of the per-symbol `(ts, tieBreak)` order. */
  private def chunkSeq: WindowSpec = chunkPartition.orderBy(col("__ts"), col("__tie"))

  /** The chunk-local range frame `[ts + from, ts + to]`. */
  private def chunkFrame(from: Long, to: Long): WindowSpec =
    chunkPartition.orderBy(col("__ts")).rangeBetween(from, to)

  /** Each symbol's chunks in time order: the one per-symbol window of a
    * stitch, run over one row per non-empty chunk.
    */
  private def chunkOrder: WindowSpec = Window.partitionBy(col("__sym")).orderBy(col("__chunk"))

  /** Range-frame boundary band: every row for which `inBand` holds also
    * goes into the neighbouring chunk (`step` +1 the next one, −1 the
    * previous one) as a context row. `__chunk` becomes the chunk the copy
    * lives in and `__owner` marks the original, so frames compute
    * chunk-locally and a filter on `__owner` drops the context. A single
    * explode — one pass over the input, not a self-union, which would
    * execute its lineage twice.
    */
  private def withBandContext(rows: DataFrame, inBand: Column, step: Int): DataFrame = {
    val home = col("__chunk")
    rows
      .withColumn("__dests", when(inBand, array(home, home + step)).otherwise(array(home)))
      .withColumn("__home", home)
      .withColumn("__chunk", explode(col("__dests")))
      .withColumn("__owner", col("__chunk") === col("__home"))
      .drop("__dests", "__home")
  }

  /** Adds `__rn`, the row's position in its chunk's (ts, tieBreak) order,
    * and `__cnt`, the chunk's row count: what the tail stitch selects on.
    */
  private def withChunkPosition(rows: DataFrame): DataFrame =
    rows
      .withColumn("__rn", row_number().over(chunkSeq))
      .withColumn("__cnt", count(lit(1)).over(chunkPartition))

  /** One `__tail` row per non-empty chunk, taken off the chunk's LAST row,
    * which already carries everything the next chunks need from it (its
    * value and its chunk-local lags or frame) — a filter and a select, no
    * aggregation (the collect_list formulation cost two exchanges and an
    * ObjectHashAggregate pair for the same ≤2 values).
    */
  private def chunkTails(stage: DataFrame, tail: Column): DataFrame =
    stage
      .filter(col("__rn") === col("__cnt"))
      .select(col("__sym"), col("__chunk"), tail.as("__tail"))

  /** The windowed stage a tail stitch reads twice, materialized once unless
    * `materialize` is off (see [[momentumBucketed]]).
    */
  private def sharedStage(
      plan: DataFrame, materialize: Boolean, checkpointDir: Option[String]): DataFrame =
    if (materialize) Materialize.stage(plan, checkpointDir, eager = false) else plan
}
