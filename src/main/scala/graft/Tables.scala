package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftFs

/** Loaders for the driver-generated test tables (TESTDATA.md) plus the
  * column-normalized "trade stream" view used by the market-data operators.
  *
  * The reference's entities map onto the synthetic tables as documented in
  * FIXTURES.md §8: `events` stands in for the trade/quote stream, `lineitem`/
  * `orders` for the curated analytics layer, and the small dimensions for
  * broadcast joins.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftFs.readParquet(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events` normalized to the trade-stream shape the reference's feature
    * builder consumes (FIXTURES.md §1): epoch-ms event time, a "symbol" key,
    * a price, and a stable tie-break id. Timestamps are reduced to epoch ms
    * exactly once here (SURVEY §7.5.7 "timestamp unit chaos" — one
    * normalization point).
    *
    * The project's `events.ts` (every scale slice and perfbench's copy) is
    * INT64 `TIMESTAMP(MICROS, isAdjustedToUTC=false)`, which Spark reads as
    * `timestamp_ntz`. The `LongType` branch serves only a NANOS file from
    * outside the project: Spark reads one only with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by [[GraftSession]]),
    * as a nanos LONG. `ts div 1000000` is integral division (a double
    * division would lose precision above 2^53 ns).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    val tsMs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => graft.functions.TimeUnits.asMillis(col("ts"))
    }
    raw.withColumn("ts_ms", tsMs)
  }

  /** `events` projected to the normalized trade shape (P1/P7 boundary
    * normalization): symbol = event_type, price = value, qty pulled out of the
    * JSON props (covers the reference's from_json surface, SURVEY §2.8), and
    * event_id as the stable trade id / tie-break.
    */
  def trades(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_type").as("symbol"),
      col("ts_ms"),
      col("value").as("price"),
      get_json_object(col("props"), "$.k").cast("double").as("qty"),
      col("event_id").as("trade_id"),
      col("user_id"))

  /** DuckDB-side equivalent of [[trades]], used as a CTE in oracle SQL. */
  val tradesOracleCte: String =
    """SELECT event_type AS symbol, epoch_ms(ts) AS ts_ms, value AS price,
      |       CAST(props->>'$.k' AS DOUBLE) AS qty, event_id AS trade_id, user_id
      |FROM events""".stripMargin

  // ------------------------------------------------- high-entropy documents

  /** Syllable inventory for the doc_id-seeded corpus expansion (r12): the
    * driver's synthetic documents carry only 31 DISTINCT words at every SF,
    * so the BPE trainer saturated at 89 merges and the vocab/LM family
    * (t14b/t14c/t19/t20/t21) operated over a toy vocabulary. [[richText]]
    * appends 24-32 deterministic syllable-composed words per document —
    * ~30k possible distinct words corpus-wide — with the SAME formula
    * emitted as a DuckDB CTE ([[richDocsOracleCte]]), the m4 fixture
    * convention: derived inputs are fine as long as oracle and engine
    * derive them from shared constants and can never drift.
    */
  val Syllables: Seq[String] = Seq(
    "ka", "to", "ri", "mu", "se", "no", "va", "li",
    "po", "da", "fe", "gu", "hy", "zo", "ben", "cat",
    "dor", "el", "fin", "gro", "han", "ix", "jul", "kor",
    "lem", "mi", "nu", "or", "pra", "qua", "rol", "sta")

  /** Lehmer-LCG constants for the per-word seed `v = (doc_id*A + i*B) % M`
    * (M = 2^31-1; products stay far under 2^63 for any doc_id the scale
    * slices produce). Word i has 2 or 3 syllables (v odd -> 3), selected by
    * bit-slices of v — pure integer arithmetic both engines compute
    * identically.
    */
  private val RichA = 48271L
  private val RichB = 16807L
  private val RichM = 2147483647L

  private def sylAt(idx: Column): Column =
    element_at(array(Syllables.map(lit): _*), (idx % 32L).cast("int") + 1)

  /** The enriched text column: original text, a space, then the expansion.
    * NULL text stays NULL (concat's null-propagation matches SQL `||`), so
    * the family's null-doc contracts are unchanged.
    *
    * `doc_id` feeds the seed as `abs(doc_id)` — and [[richDocsOracleCte]]
    * applies the same `abs` — because the two engines' `%` disagree on
    * negatives (Spark `pmod` is always non-negative, DuckDB `%` keeps the
    * sign) and the series length `23 + doc_id % 9` would diverge the same
    * way: with `abs` on both sides every remainder operand is non-negative,
    * where `pmod` and `%` agree, for ANY doc_id a fixture might carry (all
    * current fixtures are >= 0, so `abs` is the identity on real data).
    */
  def richText(docId: Column, text: Column): Column = {
    val d = abs(docId)
    val vs = transform(
      sequence(lit(0L), lit(23L) + pmod(d, lit(9L))),
      i => pmod(d * RichA + i * RichB, lit(RichM)))
    val words = transform(vs, v =>
      concat(
        sylAt(v),
        sylAt(shiftright(v, 5)),
        when(v % 2L === 1L, sylAt(shiftright(v, 10))).otherwise(lit(""))))
    concat(text, lit(" "), array_join(words, " "))
  }

  /** [[documents]] with `text` replaced by the enriched column — the input
    * to the BPE/vocab/LM family.
    */
  def richDocuments(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).withColumn("text", richText(col("doc_id"), col("text")))

  /** DuckDB twin of [[richDocuments]] as a CTE named `documents` is NOT
    * possible (self-shadowing), so oracles splice this as `docs_rich` and
    * read FROM docs_rich. Generated from the same Syllables/RichA/RichB/
    * RichM constants as the Spark column.
    */
  val richDocsOracleCte: String = {
    val syl = Syllables.map(s => s"'$s'").mkString("[", ", ", "]")
    def sylSql(e: String) = s"list_extract($syl, 1 + (($e) % 32))"
    s"""docs_rich AS (
       |  SELECT doc_id, n_chars, lang, source,
       |    text || ' ' || array_to_string(list_transform(
       |      list_transform(generate_series(0, 23 + abs(doc_id) % 9),
       |        i -> (abs(doc_id) * $RichA + i * $RichB) % $RichM),
       |      v -> ${sylSql("v")} || ${sylSql("v // 32")} ||
       |           CASE WHEN v % 2 = 1 THEN ${sylSql("v // 1024")} ELSE '' END),
       |      ' ') AS text
       |  FROM documents)""".stripMargin
  }
}
