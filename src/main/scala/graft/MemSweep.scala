package graft

import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Constrained-memory completion sweep: runs the heaviest queries one child
  * JVM each with the heap CAPPED (default `-Xmx2g` — replacing the inherited
  * sbt `-Xmx`), recording wall time plus the executor-side pressure metrics:
  * memory/disk bytes spilled (summed over all tasks) and the largest single
  * TASK's peak execution memory (a per-task peak — concurrent tasks mean
  * simultaneous JVM-wide pressure can reach ~cpus x this value).
  *
  * Why: every other measurement in this repo runs inside a 128 GiB sandbox,
  * so "completes by SPILLING, not OOM, when the working set exceeds the
  * executor heap" was a design claim with zero data. A 100 TB deployment
  * lives in that regime permanently — executors are sized for throughput,
  * not for the largest intermediate. One child per query so an OOM is an
  * isolated per-query verdict (recorded, nonfatal to the sweep), exactly
  * the semantics of a task-level failure on a real cluster.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default the x10 slice at /tmp/graft_scale/x10
  * — build it with tools/make_scale.py first), `SPARK_GRAFT_MEM_XMX`
  * (default 2g), `SPARK_GRAFT_CPUS` (default 8 — 32 threads' concurrent
  * working sets in a 2 GiB heap would measure thread count, not operator
  * spill), `SPARK_GRAFT_ONLY` (query subset). Each child runs the bench's
  * session ([[Bench.buildSession]]), so `SPARK_GRAFT_MASTER` and
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` apply too (and smoke-name the record).
  * Writes `memsweep.json` and prints one JSON line.
  */
object MemSweep {

  /** The committed top-10 by bench cost (VERDICT r10 plan audit order),
    * extended r12 (verdict item 5) with the next ~15 heaviest — the
    * explode/window-heavy text families where a second OOM cliff would
    * hide — plus t23/t28, the heaviest siblings of the "AQE broadcasts the
    * tiny set" audit (t23 shares t25's now-size-aware join; t28's bench
    * side is bounded by construction and this is the datum that shows it).
    */
  private val DefaultQueries = Seq(
    "t25_char_spans", "x_v13_index_rerank", "a7_prediction_rollup",
    "t27_char_redaction", "x_v12_ivfpq_index", "a1_trade_batch_stats",
    "j5_star_join_revenue", "w9_ewma_macd", "x_a12_approx_stats",
    "t26_winnowed_spans",
    "t21_bigram_ppl", "t23_repeated_spans", "t28_char_contamination",
    "b2_book_timeline", "g2_training_records", "j6_interval_join",
    "t24_span_redaction", "t16_bm25", "d4_feature_corr", "a5_rolling_stats",
    "w5_path_stats", "t10_neardup_clusters", "t22_fuzzy_pairs_edit",
    "x_v11_ivfpq", "x_v5_ann_ivf_probe2", "u3_union_evolve")

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_scale/x10")
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
  private def xmx: String = sys.env.getOrElse("SPARK_GRAFT_MEM_XMX", "2g")

  private def num(v: Double, dp: Int): String =
    s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit =
    if (sys.env.get("SPARK_GRAFT_CHILD").contains("1")) childMain() else parentMain()

  // ----------------------------------------------------------------- child

  /** One capped-heap JVM, one query: run to the noop sink with a listener
    * summing task pressure metrics; emit one `#GRAFT MEM` stdout line.
    */
  private def childMain(): Unit = {
    val name = sys.env("SPARK_GRAFT_MEM_QUERY")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    // the bench's session, so a query that completes here completes in
    // the configuration the bench times (the parent passes its cpus down)
    val spark = Bench.buildSession(sfDir)
    if (sys.env.get("SPARK_GRAFT_MEM_NO_BROADCAST").contains("1")) {
      // degraded-mode retry: broadcast builds need the whole build side
      // deserialized in the driver heap — under a capped heap AQE can pick
      // a broadcast whose BUILD no longer fits and the job dies instead of
      // degrading. Forcing shuffle joins trades that cliff for spillable
      // sort-merge work.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    var spillMem = 0L
    var spillDisk = 0L
    var peakExec = 0L
    var failedTasks = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          spillMem += m.memoryBytesSpilled
          spillDisk += m.diskBytesSpilled
          peakExec = math.max(peakExec, m.peakExecutionMemory)
        }
        if (e.reason != org.apache.spark.Success) failedTasks += 1
      }
    })
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // listener events are async — drain before reading the counters
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)
    println(s"#GRAFT MEM $name ${num(sec, 3)} $spillMem $spillDisk $peakExec $failedTasks")
    spark.stop()
  }

  // ---------------------------------------------------------------- parent

  private def parentMain(): Unit = {
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
      .filter { q =>
        val known = SparkEntry.queries.contains(q)
        if (!known) System.err.println(s"[memsweep] skipping unknown query $q")
        known
      }
    require(new java.io.File(sfDir).isDirectory,
      s"SPARK_GRAFT_SF_DIR $sfDir missing — build the slice with tools/make_scale.py first")
    val deadline = Bench.roundTimeoutMin(default = 30L).minutes

    def runOne(name: String, noBroadcast: Boolean): String = {
      // the child heap cap IS the experiment: the inherited -Xmx/-Xms (sbt's
      // 16 GiB would void the measurement) is replaced by the capped value
      val res = ChildJvm.run("graft.MemSweep",
        Map("SPARK_GRAFT_CHILD" -> "1", "SPARK_GRAFT_MEM_QUERY" -> name,
          "SPARK_GRAFT_CPUS" -> cpus) ++
          (if (noBroadcast) Map("SPARK_GRAFT_MEM_NO_BROADCAST" -> "1") else Map.empty),
        deadline, s"memsweep-$name", xmx = Some(xmx))
      val row = res.lines.collectFirst { case l if l.startsWith("#GRAFT MEM ") => l.drop(11) } match {
        case Some(rec) =>
          val Array(n, sec, sm, sd, pk, ft) = rec.split(" ")
          require(n == name, s"child answered for $n, asked $name")
          s"""{"completed":true,"seconds":$sec,"spill_memory_bytes":$sm,""" +
            s""""spill_disk_bytes":$sd,"peak_task_execution_memory":$pk,"failed_tasks":$ft}"""
        case None =>
          // OOM / watchdog kill: the FINDING, not a sweep failure — keep the
          // diagnostic cause so the record says why
          s"""{"completed":false,"exit":${res.exit},"why":"${res.why}"}"""
      }
      System.err.println(
        s"[memsweep] $name${if (noBroadcast) " (no-broadcast retry)" else ""} -> $row")
      row
    }

    val rows = selected.map { name =>
      val first = runOne(name, noBroadcast = false)
      val row =
        if (first.contains("\"completed\":true")) first
        else {
          // the failure IS the record — and so is whether the job completes
          // once broadcast joins are disabled (the documented degraded mode
          // for memory-constrained executors)
          val retry = runOne(name, noBroadcast = true)
          first.dropRight(1) + s""","retry_no_broadcast":$retry}"""
        }
      name -> row
    }

    val json =
      s"""{"metric":"constrained_memory_sweep","xmx":"$xmx","cpus":$cpus,""" +
        s""""sf":"$sfDir",""" +
        rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("\"queries\":{", ",", "}}")
    val smoke = sys.env.contains("SPARK_GRAFT_ONLY") ||
      sfDir != "/tmp/graft_scale/x10" || xmx != "2g" || cpus != "8" ||
      sys.env.contains("SPARK_GRAFT_MASTER") ||
      sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    java.nio.file.Files.write(
      Bench.recordPath("memsweep", smoke),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    val failed = rows.count(!_._2.contains("\"completed\":true"))
    if (failed == rows.size && rows.nonEmpty) sys.exit(2)
  }
}
