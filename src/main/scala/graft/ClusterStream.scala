package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stateful streaming under REAL multi-JVM executors (r13, verdict item 1).
  *
  * Every prior streaming measurement ran in-process (`local[N]`), where
  * state encoders never serialize across a JVM boundary, the RocksDB
  * provider only ever instantiates in the driver, and streaming shuffles
  * never leave the process — the one remaining place a genuine
  * serialization/classpath bug could hide after `clusterverify.json`
  * covered the batch surface. This harness runs the four stateful
  * streambench paths (`hot_path`, `book_state`, `ewma`, `dedup`) plus the
  * fixed-cadence LOCF ticker (`grid`, r15 — the watermark-timer emission
  * mechanism none of the four exercises) under
  * BOTH state-store providers in two modes over IDENTICAL input (same
  * generators, same chunk boundaries, so the micro-batch sequence — and
  * with it watermark progression and state transitions — is the same):
  *
  *   - `local[4]` — the in-process baseline;
  *   - `local-cluster[2,4,…]` ([[GraftSession.builder]]) — real
  *     executor processes: typed state encoders and streaming shuffles
  *     serialize, the state-store provider (incl. RocksDB's native lib)
  *     instantiates on remote executors, generated code recompiles per
  *     executor.
  *
  * Each run writes its streaming OUTPUT to parquet (not noop) and the
  * harness compares per-row fingerprints across modes: row count +
  * order-independent XOR and sum of `xxhash64` over the deterministic
  * columns — an identity check in the EwmaStreamSpec batch-vs-stream
  * mold, but across JVM topologies. `hot_path`'s float aggregates
  * (volume/vwap) are excluded from the hash and compared as totals
  * within 1e-9 relative instead: `sum(double)` merges partial aggregates
  * in partition order, and the two modes legitimately split MemoryStream
  * batches differently (defaultParallelism 4 vs 8), so the merge tree —
  * not the semantics — may differ in the last ULP, and hashing a rounded
  * value would still fail spuriously at rounding boundaries. The per-key
  * sequential paths (`book_state`, `ewma` — explicit in-batch sort by
  * update/trade id) and the row-passthrough `dedup` are compared
  * bit-exact, all columns.
  *
  * Emits one JSON line and writes `clusterstream.json`: per row, the
  * local and cluster rates, their ratio, the output row count, and
  * `identity: true/false`; a row that fails in either mode records
  * `completed:false` with [[StreamBench.whyOf]]'s walked root cause —
  * a serialization failure surfacing here is the finding, not a crash.
  */
object ClusterStream {

  private def num(v: Double, dp: Int): String =
    s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)

  private val Chunks = 20
  private val Symbols = 64

  /** (seconds, events) for one path run; output lands in `outDir`. The
    * workload definition is [[StreamBench.statefulRow]] — the SAME object
    * the throughput bench runs, so the identity check's "identical input,
    * identical chunk boundaries" premise holds by construction.
    */
  private def runPath(
      spark: SparkSession, path: String, n: Int, outDir: String): (Double, Long) = {
    val perChunk = n / Chunks
    val sec = StreamBench.statefulRow(spark, path, Symbols)
      .time(Chunks, perChunk, format = "parquet", path = Some(outDir))._1
    (sec, (perChunk * Chunks).toLong)
  }

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
    // the four throughput paths PLUS the fixed-cadence LOCF ticker (r15,
    // verdict item 8): grid lives outside StatefulPaths so the committed
    // streambench row set is untouched, but its watermark-timer emission
    // (EventTimeTimeout re-arming) is the one stateful mechanism the other
    // rows don't exercise across real executors
    val paths = StreamBench.StatefulPaths :+ "grid"
    val rows = for (p <- paths; rocks <- Seq(false, true))
      yield (p, rocks, s"$p${if (rocks) "_rocksdb" else ""}")

    // (mode, rowName) -> Right((sec, events, fingerprint)) | Left(why)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Either[String, (Double, Long, Fp)]]

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
            val (sec, events) = runPath(spark, p, n, outDir)
            val fp = fingerprint(spark, outDir, p)
            require(fp.n > 0, s"$name/$mode produced an EMPTY output — identity would be vacuous")
            results((mode, name)) = Right((sec, events, fp))
            System.err.println(s"[clusterstream] $mode/$name: ${num(events / sec, 0)} ev/s, " +
              s"rows=${fp.n} xor=${fp.xor} sum=${fp.sum}" +
              (if (fp.floatSums.nonEmpty)
                 fp.floatSums.map(num(_, 6)).mkString(" floats=[", ",", "]")
               else ""))
          } catch {
            case scala.util.control.NonFatal(e) =>
              results((mode, name)) = Left(StreamBench.whyOf(e))
              System.err.println(s"[clusterstream] $mode/$name FAILED: $e")
          }
        }
      } finally {
        spark.stop()
        // local-cluster leaves the static SparkContext slot dirty for ~a beat
        Thread.sleep(1000)
      }
    }
    StreamBench.deleteRecursively(base)

    val rowJson = rows.map { case (_, _, name) =>
      (results.get(("local", name)), results.get(("cluster", name))) match {
        case (Some(Right((lSec, ev, lFp))), Some(Right((cSec, _, cFp)))) =>
          val identity = lFp.matches(cFp)
          // [xor, hashSum, floatTotals...] — float totals last, tolerance-
          // compared (not part of the exact hash). BOTH identity tokens are
          // emitted as JSON STRINGS (r14/r15 advice): the decimal(38,0) hash
          // sum exceeds 2^53, and the xor — a full-range 64-bit xxhash64
          // fold — almost surely does too, so double-based parsers (JS, jq
          // defaults) would silently round a bare integer and cross-tool
          // consumers could see false mismatches; they are identity tokens,
          // not quantities.
          def fpJson(f: Fp) =
            (Seq("\"" + f.xor + "\"", "\"" + f.sum + "\"") ++ f.floatSums.map(num(_, 6)))
              .mkString("[", ",", "]")
          "\"" + name + "\":" +
            s"""{"completed":true,"identity":$identity,"rows":${lFp.n},""" +
            s""""rate_local":${num(ev / lSec, 0)},"rate_cluster":${num(ev / cSec, 0)},""" +
            // a SECONDS ratio (>1 = cluster slower) — named so it cannot be
            // misread as a rate ratio next to the ev/s fields
            s""""slowdown_cluster_over_local":${num(cSec / lSec, 2)},""" +
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
    val allIdentical = rows.forall { case (_, _, name) =>
      (results.get(("local", name)), results.get(("cluster", name))) match {
        case (Some(Right((_, _, l))), Some(Right((_, _, c)))) => l.matches(c)
        case _ => false
      }
    }
    val json =
      s"""{"metric":"stateful_streaming_multijvm_identity","unit":"events/sec",""" +
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
    val comparablePairs = rows.count { case (_, _, name) =>
      results.get(("local", name)).exists(_.isRight) &&
        results.get(("cluster", name)).exists(_.isRight)
    }
    if (comparablePairs == 0) sys.exit(2)
  }
}
