package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the per-column data-quality summary (row count, null
  * count, distinct cardinality, range, moments, string lengths) an ingest
  * pipeline runs over every new partition before it is admitted to training
  * (the reference's validation layer stops at per-row required-field checks,
  * `transformer.py:71-76`; this is its dataset-level complement).
  *
  * Scale design: the input is unpivoted into (col_name, value) entries — one
  * `explode` of a k-element struct array per row — and aggregated
  * `groupBy(col_name)`. That keeps the whole computation a single shuffle
  * keyed by column name (k groups, two-phase distinct underneath), instead
  * of either k separate scans or one global scalar aggregate funneling into
  * a single partition. Row amplification is ×k but each exploded entry is a
  * name tag plus one value — at 100 TB the scan still dominates and the
  * shuffle carries only partial aggregates per (col_name, value).
  *
  * Distinct counts are EXACT (count-distinct over the exploded layout) so
  * the result is oracle-checkable; at deployment scale swap in
  * `approxDistinct = true` (HyperLogLog++, no distinct sub-shuffle) — same
  * plan shape minus the distinct expansion, the standard trade the x_a12
  * sketch family documents.
  */
object Profile {

  /** Pairwise Pearson correlation matrix over `cols` — the feature-selection
    * pass before training (drop one of each highly-correlated pair). ONE
    * aggregate computes every moment the k·(k−1)/2 pairs need — n, Σxᵢ,
    * Σxᵢ², Σxᵢxⱼ — with map-side partial aggregation, so the shuffle carries
    * a single row of k·(k+3)/2 sums regardless of input size; the plan
    * then explodes that one row into the k·(k−1)/2 pair rows (k is a column
    * count, never data-sized), so the query runs as one job and nothing is
    * collected while it is built. Sums accumulate in DECIMAL (exact under
    * any partial-agg order), and the correlation arithmetic then runs in
    * deterministic doubles — the same engine-portability discipline as the
    * interarrival variance (rounded to 6 dp at the edge).
    *
    * Null contract: rows with a null in ANY of `cols` are excluded from
    * every moment (listwise deletion), so each pair sees the same n and the
    * matrix is positive-semidefinite-consistent; per-pair deletion would
    * mix incomparable populations silently.
    *
    * Non-finite moments: if `cov`, `va` or `vb` comes out NaN or ±Infinity
    * (inputs of extreme magnitude), `corr_r` is NaN, not an error — Spark's
    * `round` passes non-finite doubles through and NaN compares greater
    * than 0.0, so the constant-column guard does not catch it.
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val complete = df
      .filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
    def dsum(e: org.apache.spark.sql.Column) =
      sum(e.cast("decimal(38,12)")).cast("double")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    // moment aliases by POSITION, not name: name-derived aliases like
    // sp_${a}_${b} collide for underscore-bearing columns (("a","b_c") and
    // ("a_b","c") both yield sp_a_b_c) and a name lookup would then silently
    // read one pair's cross-moment for another
    val aggs =
      cols.indices.map(i => dsum(col(cols(i))).as(s"s_$i")) ++
        cols.indices.map(i => dsum(col(cols(i)) * col(cols(i))).as(s"ss_$i")) ++
        pairs.map { case (i, j) =>
          dsum(col(cols(i)) * col(cols(j))).as(s"sp_${i}_$j")
        }
    // Matrix assembly IN THE PLAN (r18, guide §2.6/§5 — no driver-side jobs
    // in a query path): the pre-r18 form collected the moment row with
    // .head() at CONSTRUCTION time — a full-scan driver job serializing
    // every downstream consumer — and built the matrix on the driver. The
    // k·(k−1)/2 pair rows now come from exploding a literal pair list over
    // the single aggregate row, so the whole query is ONE job at execution
    // time. Arithmetic is the identical IEEE sequence (n·sp − sa·sb etc.,
    // same association), and `round` on a double is the same
    // BigDecimal-HALF_UP-at-6dp the driver-side code ran — bit-identical
    // output, oracle-verified.
    val moments = complete.agg(count(lit(1)).as("n"), aggs: _*)
    val nD = col("n").cast("double")
    val pairStructs = pairs.map { case (i, j) =>
      val sa = col(s"s_$i")
      val sb = col(s"s_$j")
      val cov = nD * col(s"sp_${i}_$j") - sa * sb
      val va = nD * col(s"ss_$i") - sa * sa
      val vb = nD * col(s"ss_$j") - sb * sb
      struct(
        lit(cols(i)).as("col_a"),
        lit(cols(j)).as("col_b"),
        // a constant column has no correlation (va/vb <= 0 -> null);
        // non-finite moments give NaN (see the scaladoc)
        when(va > 0.0 && vb > 0.0, round(cov / sqrt(va) / sqrt(vb), 6)).as("corr_r"),
        col("n").as("n_rows"))
    }
    moments.select(explode(array(pairStructs: _*)).as("p")).select("p.*")
  }

  /** One output row per profiled column:
    * `col_name, n_rows, n_present, n_distinct` for every column;
    * `min_num, max_num, mean, std` for numeric columns (null on string
    * rows); `min_str, max_str, avg_len` for string columns (null on numeric
    * rows). Numeric mean comes from an exact DECIMAL(27,8) sum so it is
    * evaluation-order independent; std is stddev_samp rounded to 4 (the
    * repo-wide cross-engine contract for variance-family floats).
    */
  def columns(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(
      numericCols.nonEmpty || stringCols.nonEmpty,
      "at least one column to profile")
    val overlap = numericCols.toSet.intersect(stringCols.toSet)
    require(overlap.isEmpty, s"columns listed as both numeric and string: $overlap")
    // Integer-typed columns additionally carry their EXACT value in a
    // decimal slot: a bare double cast is only faithful to 2^53, above which
    // distinct values collapse and sums drift — while the DuckDB oracle
    // computes count(DISTINCT) and the decimal sum on the raw column. The
    // double slot stays the min/max/std input because the oracle's own
    // min/max/std explicitly CAST AS DOUBLE. decimal(38,8) holds every int64
    // exactly (19 integer digits needed, 30 available).
    val integralTypes: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    val integral = df.schema.fields
      .filter(f => integralTypes.contains(f.dataType))
      .map(_.name)
      .toSet
    val nullDec = lit(null).cast("decimal(38,8)")
    val entries =
      numericCols.map(c =>
        struct(
          lit(c).as("col_name"),
          col(c).cast("double").as("xd"),
          (if (integral(c)) col(c).cast("decimal(38,8)") else nullDec).as("xe"),
          lit(null).cast("string").as("xs"))) ++
        stringCols.map(c =>
          struct(
            lit(c).as("col_name"),
            lit(null).cast("double").as("xd"),
            nullDec.as("xe"),
            col(c).as("xs")))
    // Per column exactly one REPRESENTATION ever contributes to distinct:
    // xe for integral numerics (exact), xd for fractional numerics (raw
    // doubles — a decimal cast would collapse values beyond 8 dp), xs for
    // strings — so the three-term sum is THE column's cardinality with no
    // cross-type formatting and no double counting (integral rows are
    // excluded from the xd term via the xe-null guard).
    val xdOnly = when(col("xe").isNull, col("xd"))
    val distinctCount =
      if (approxDistinct)
        (approx_count_distinct(col("xe")) + approx_count_distinct(xdOnly) +
          approx_count_distinct(col("xs"))).as("n_distinct")
      else
        (countDistinct(col("xe")) + countDistinct(xdOnly) +
          countDistinct(col("xs"))).as("n_distinct")
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name"), col("e.xd"), col("e.xe"), col("e.xs"))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("xd").isNotNull || col("xs").isNotNull, 1)).as("n_present"),
        distinctCount,
        min(col("xd")).as("min_num"),
        max(col("xd")).as("max_num"),
        // integral columns sum their exact decimal slot (int64-safe); the
        // fractional ones take the oracle's own DECIMAL(27,8) value cast
        (sum(coalesce(col("xe"), col("xd").cast("decimal(27,8)"))).cast("double") /
          when(count(col("xd")) > 0, count(col("xd")))).as("__mean_raw"),
        round(stddev_samp(col("xd")), 4).as("std"),
        min(col("xs")).as("min_str"),
        max(col("xs")).as("max_str"),
        (sum(length(col("xs")).cast("long")).cast("double") /
          when(count(col("xs")) > 0, count(col("xs")))).as("__avg_len_raw"))
      .withColumn("mean", round(col("__mean_raw"), 6))
      .withColumn("avg_len", round(col("__avg_len_raw"), 6))
      .select(
        "col_name", "n_rows", "n_present", "n_distinct", "min_num", "max_num",
        "mean", "std", "min_str", "max_str", "avg_len")
  }
}
