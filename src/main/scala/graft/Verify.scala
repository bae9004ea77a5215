package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the same dump with
    // REAL multi-JVM executors (serialized exchanges, RPC broadcasts,
    // per-executor codegen) — the r12 cluster-mode hash-exactness gate;
    // needs SPARK_HOME pointing at a full distribution.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = GraftSession.withEngineConfs(SparkSession.builder())
      .master(master)
      // bytes-aware initial partition count (r15) — at the verify SFs
      // (0.01/0.001) this returns exactly `cpus`, so the correctness
      // basis is unchanged; it exists here so Verify and Bench share
      // ONE sizing rule rather than drifting.
      .config("spark.sql.shuffle.partitions", GraftSession
        .sizedShufflePartitions(GraftSession.dirBytes(sfDir), cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_SPAN_PARTITIONS mirrors Bench's knob for the char-span
    // stage pin (Corpus.SpanPartitionsConf: 0 = off, >0 = forced): the
    // r15 scale-identity check dumps the same query pinned and unpinned
    // and diffs the parquet — partitioning must never change results.
    val b1 = sys.env.get("SPARK_GRAFT_SPAN_PARTITIONS").fold(b0) { v =>
      // validate at env-read time, mirroring Bench: a malformed value would
      // otherwise surface later as a bare NumberFormatException from deep
      // inside query construction
      require(v.trim.matches("[0-9]+"),
        s"SPARK_GRAFT_SPAN_PARTITIONS must be a non-negative whole number, got '$v'")
      b0.config(graft.operators.Corpus.SpanPartitionsConf, v.trim)
    }
    val spark =
      (if (master.startsWith("local-cluster")) GraftSession.withMultiJvm(b1) else b1)
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (local iteration aid);
    // unset = the driver's full sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
