package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stateful streaming output identity across JVM topologies.
  *
  * In `local[N]` state encoders never serialize across a JVM boundary,
  * the RocksDB provider only ever instantiates in the driver, and
  * streaming shuffles never leave the process — the one place a genuine
  * serialization/classpath bug could hide after `clusterverify.json`
  * covered the batch surface. This check runs the five
  * [[StatefulWorkload]] paths (`hot_path`, `book_state`, `ewma`, `dedup`
  * and the fixed-cadence LOCF ticker `grid`) under BOTH state-store
  * providers in two modes over IDENTICAL input (same generators, same
  * chunk boundaries, so the micro-batch sequence — and with it watermark
  * progression and state transitions — is the same):
  *
  *   - `local[4]` — the in-process baseline;
  *   - `local-cluster[2,4,…]` ([[GraftSession.builder]]) — real
  *     executor processes: typed state encoders and streaming shuffles
  *     serialize, the state-store provider (incl. RocksDB's native lib)
  *     instantiates on remote executors, generated code recompiles per
  *     executor.
  *
  * Each run writes its streaming OUTPUT to parquet and the check compares
  * per-row fingerprints across modes: row count + order-independent XOR
  * and sum of `xxhash64` over the deterministic columns. `hot_path`'s
  * float aggregates (volume/vwap) are excluded from the hash and compared
  * as totals within 1e-9 relative instead: `sum(double)` merges partial
  * aggregates in partition order, and the two modes legitimately split
  * MemoryStream batches differently (defaultParallelism 4 vs 8), so the
  * merge tree — not the semantics — may differ in the last ULP, and
  * hashing a rounded value would still fail spuriously at rounding
  * boundaries. The per-key sequential paths (`book_state`, `ewma` —
  * explicit in-batch sort by update/trade id), `grid` and the
  * row-passthrough `dedup` are compared bit-exact, all columns.
  *
  * Emits one JSON line and writes `clusterstream.json`: per row, the
  * output row count, both fingerprints and `identity: true/false`; a row
  * that fails in either mode records `completed:false` with
  * [[ChildJvm.whyOf]]'s walked root cause — a serialization failure
  * surfacing here is the finding, not a crash.
  */
object ClusterStream {

  private val Chunks = 20
  private val Symbols = 64

  /** Output fingerprint: row count + order-independent XOR and sum of
    * xxhash64 over the DETERMINISTIC columns, plus (hot_path only) the
    * totals of its float-aggregate columns for tolerance comparison —
    * rounding floats INTO the hash would fail spuriously whenever a 1-ULP
    * merge-order difference straddles a rounding boundary, and a false
    * alarm here would read as a serialization bug. The hash sum runs in
    * decimal(38,0): summing raw Long hashes overflows almost surely past a
    * few thousand rows, which under Spark 4's default ANSI mode is an
    * ARITHMETIC_OVERFLOW error, not a wrap. Computed distributively; only
    * one small row is collected.
    */
  private final case class Fp(n: Long, xor: Long, sum: String, floatSums: Seq[Double]) {
    /** Exact on (n, xor, sum); float totals within 1e-9 relative. */
    def matches(o: Fp): Boolean =
      n == o.n && xor == o.xor && sum == o.sum &&
        floatSums.size == o.floatSums.size &&
        floatSums.zip(o.floatSums).forall { case (a, b) =>
          math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
        }
  }

  private def fingerprint(spark: SparkSession, dir: String, path: String): Fp = {
    val raw = spark.read.parquet(dir)
    // hot_path's volume/vwap are sum(double)-derived: partial-aggregate
    // merge order differs legitimately across topologies (defaultParallelism
    // 4 vs 8), so they are compared as tolerance-checked totals, not hashed
    val (df, floatCols) =
      if (path == "hot_path")
        (raw.select(col("symbol"), col("open_time"), col("trade_count"),
          col("min_price"), col("max_price")),
          Seq(raw.agg(sum("volume")).head().getDouble(0),
            raw.agg(sum("vwap")).head().getDouble(0)))
      else (raw, Seq.empty[Double])
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    val row = df.select(
      count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("s")).head()
    Fp(row.getLong(0), row.getLong(1), row.getDecimal(2).toBigInteger.toString, floatCols)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.get("SPARK_GRAFT_STREAM_N").map(_.toInt).getOrElse(200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val clusterMaster = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,4,4096]")
    val base = java.nio.file.Files.createTempDirectory("clusterstream")
    val rows = for (p <- StatefulWorkload.Paths; rocks <- Seq(false, true))
      yield (p, rocks, s"$p${if (rocks) "_rocksdb" else ""}")

    // (mode, rowName) -> Right(fingerprint) | Left(why)
    val results = scala.collection.mutable.LinkedHashMap.empty[(String, String), Either[String, Fp]]

    for ((mode, master) <- Seq("local" -> s"local[$cpus]", "cluster" -> clusterMaster)) {
      val spark = GraftSession.builder(master, cpus.toInt).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val OnHeapProvider =
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        for ((p, rocks, name) <- rows) {
          if (rocks) GraftSession.configureRocksDbState(spark)
          else spark.conf.set("spark.sql.streaming.stateStore.providerClass", OnHeapProvider)
          val outDir = s"$base/$mode/$name"
          try {
            StatefulWorkload.workload(spark, p, Symbols)
              .run(Chunks, n / Chunks, format = "parquet", path = Some(outDir))
            val fp = fingerprint(spark, outDir, p)
            require(fp.n > 0, s"$name/$mode produced an EMPTY output — identity would be vacuous")
            results((mode, name)) = Right(fp)
            System.err.println(s"[clusterstream] $mode/$name: " +
              s"rows=${fp.n} xor=${fp.xor} sum=${fp.sum}" +
              (if (fp.floatSums.nonEmpty)
                 fp.floatSums.map(Bench.num(_, 6)).mkString(" floats=[", ",", "]")
               else ""))
          } catch {
            case scala.util.control.NonFatal(e) =>
              results((mode, name)) = Left(ChildJvm.whyOf(e))
              System.err.println(s"[clusterstream] $mode/$name FAILED: $e")
          }
        }
      } finally {
        spark.stop()
        // local-cluster leaves the static SparkContext slot dirty for ~a beat
        Thread.sleep(1000)
      }
    }
    StatefulWorkload.deleteRecursively(base)

    def pair(name: String) = (results.get(("local", name)), results.get(("cluster", name)))
    val rowJson = rows.map { case (_, _, name) =>
      pair(name) match {
        case (Some(Right(lFp)), Some(Right(cFp))) =>
          // [xor, hashSum, floatTotals...] — float totals last, tolerance-
          // compared (not part of the exact hash). BOTH identity tokens are
          // JSON STRINGS: the decimal(38,0) hash sum exceeds 2^53, and the
          // xor — a full-range 64-bit xxhash64 fold — almost surely does
          // too, so double-based parsers (JS, jq defaults) would silently
          // round a bare integer; they are identity tokens, not quantities.
          def fpJson(f: Fp) =
            (Seq("\"" + f.xor + "\"", "\"" + f.sum + "\"") ++ f.floatSums.map(Bench.num(_, 6)))
              .mkString("[", ",", "]")
          "\"" + name + "\":" +
            s"""{"completed":true,"identity":${lFp.matches(cFp)},"rows":${lFp.n},""" +
            s""""fp_local":${fpJson(lFp)},"fp_cluster":${fpJson(cFp)}}"""
        case (l, c) =>
          def why(r: Option[Either[String, _]]) = r match {
            case Some(Left(w)) => "\"" + w + "\""
            case Some(Right(_)) => "null"
            case None => "\"not run\""
          }
          "\"" + name + "\":" +
            s"""{"completed":false,"why_local":${why(l)},"why_cluster":${why(c)}}"""
      }
    }
    val comparable = rows.map { case (_, _, name) =>
      pair(name) match {
        case (Some(Right(l)), Some(Right(c))) => Some(l.matches(c))
        case _ => None
      }
    }
    val allIdentical = comparable.forall(_.contains(true))
    val json =
      s"""{"metric":"stateful_streaming_multijvm_identity",""" +
        s""""events_per_row":$n,"chunks":$Chunks,"symbols":$Symbols,"cpus":$cpus,""" +
        s""""cluster_master":"$clusterMaster","all_identical":$allIdentical,""" +
        rowJson.mkString("\"rows\":{", ",", "}}")
    java.nio.file.Files.write(
      Bench.recordPath("clusterstream",
        smoke = n != 200000 || cpus != "4" || sys.env.contains("SPARK_GRAFT_MASTER")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    // an identity MISMATCH is the record's finding, not a harness failure —
    // exiting nonzero would abort the measurement pipeline's remaining
    // steps under set -e. Only a harness-level wipeout (no row produced a
    // comparable pair at all) exits nonzero.
    if (comparable.forall(_.isEmpty)) sys.exit(2)
  }
}
