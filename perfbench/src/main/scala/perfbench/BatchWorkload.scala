package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.SparkEntry

/** The batch workload: each query is built through `SparkEntry.queries`
  * and written out, one at a time, on a cleared cache. A pass runs every
  * query once, in an order drawn from the seed. The first pass writes each
  * result as parquet and is timed alone; then, after a pass that lets the
  * JIT settle, a fixed number of warm passes write to the `noop` sink,
  * and their medians are the result.
  *
  * The queries are a fixed sample of the pipeline (Market, Microstructure,
  * Join, Gold, Analytics) and corpus (Text, Corpus, Vector, Multimodal)
  * families: one per module whose cost a change is expected to move, plus
  * the second as-of algorithm, so that a first pass, the warm passes and
  * the oracle check fit one run. Queries whose DuckDB oracle alone takes
  * seconds (the BPE vocabulary/encode family, t10, t20) are left out for
  * the same reason.
  */
object BatchWorkload {
  type Query = (SparkSession, String) => DataFrame

  /** Query -> the module its heaviest call goes into. */
  val Queries: Seq[(String, String)] = Seq(
    "j1_asof_outcomes" -> "operators.AsOf",
    "j1c_asof_merge_exec" -> "operators.AsOf",
    "a5_rolling_stats" -> "operators.Rolling",
    "a4_bars_1m" -> "operators.Bars",
    "b1b_book_metrics" -> "operators.BookReplay",
    "g2_training_records" -> "operators.FeatureVectors",
    "a7_prediction_rollup" -> "operators.Analytics",
    "k9_compaction" -> "sources",
    "t3_lsh_neardup_pairs" -> "operators.TextDedup",
    "t25_char_spans" -> "operators.Corpus",
    "t14_sequence_packing" -> "operators.Bpe",
    "v1_ann_topk" -> "operators.VectorOps",
    "m4_image_thumb" -> "operators.Multimodal")

  /** Nominal length of one warm pass; sets the timed warm-pass count. */
  val WarmPassSeconds = 3.3
  /** Untimed passes between the first pass and the timed ones: the second
    * pass in a JVM is still some 20 % slower than the later ones.
    */
  val SettlePasses = 1

  final case class Call(pass: Int, query: String, buildNs: Long, execNs: Long,
      startNs: Long, error: Option[String])

  def run(o: Opts, spark: SparkSession, setupS: Double, spans: Spans): Map[String, Any] = {
    val names = Queries.map(_._1).sorted
    val order = new scala.util.Random(o.seed).shuffle(names)
    val queries: Map[String, Query] = names.map(n => n -> injected(o, n, SparkEntry.queries(n))).toMap
    val sc = spark.sparkContext
    val listener = if (o.trace) Some(new JobListener) else None
    val calls = mutable.ArrayBuffer.empty[Call]

    val checkDir = s"${o.out}/check"
    Files.createDirectories(Paths.get(checkDir))

    // the listener is registered once at most (Spark would deliver every
    // event twice to a listener added twice), and the bus is drained before
    // it is removed, so the end of a traced pass is not lost
    var listening = false
    def listen(on: Boolean): Unit = listener.foreach { l =>
      if (on && !listening) sc.addSparkListener(l)
      if (!on && listening) { ColumnBridge.drainListenerBus(sc); sc.removeSparkListener(l) }
      listening = on
    }

    def runPass(pass: Int, traced: Boolean): Double = {
      listen(traced)
      sc.setLocalProperty("perfbench.pass", pass.toString)
      val t0 = System.nanoTime()
      order.foreach { name =>
        spark.catalog.clearCache()
        sc.setLocalProperty("perfbench.query", name)
        val s0 = System.nanoTime()
        var s1 = s0
        val err = try {
          sc.setLocalProperty("perfbench.phase", "build")
          val df = queries(name)(spark, o.data)
          s1 = System.nanoTime()
          sc.setLocalProperty("perfbench.phase", "exec")
          if (pass == 0) df.write.mode("overwrite").parquet(s"$checkDir/$name")
          else df.write.format("noop").mode("overwrite").save()
          None
        } catch { case NonFatal(e) =>
          if (s1 == s0) s1 = System.nanoTime()
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
        }
        val s2 = System.nanoTime()
        calls += Call(pass, name, s1 - s0, s2 - s1, s0, err)
      }
      (System.nanoTime() - t0) / 1e9
    }

    // pass 0: the first pass in this JVM. It writes each result as parquet,
    // as a nightly job writes its tables; those files are checked against
    // the DuckDB oracle after the run. Then come the untimed settle passes
    // and a fixed number of timed warm passes, one per WarmPassSeconds of
    // the run's seconds and at least two. A fixed count keeps the work of a
    // run the same however fast it goes. A traced run makes whole groups of
    // four, untraced-traced-traced-untraced, so that run order weighs the
    // same on both sides of trace.overhead_ratio.
    val first = runPass(0, traced = o.trace)
    val settle = (1 to SettlePasses).map(p => runPass(p, traced = false))
    val nWarm = math.max(2, math.round(o.seconds / WarmPassSeconds).toInt)
    val warm = (1 to (if (o.trace) (nWarm + 3) / 4 * 4 else nWarm)).map { i =>
      val traced = o.trace && (i % 4 == 2 || i % 4 == 3)
      val p = SettlePasses + i
      (p, traced, runPass(p, traced))
    }
    listen(false)

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.write(oracle))

    val errors = calls.flatMap(c => c.error.map(c.query -> _)).toMap
    // a warm pass is summed from each query's median over the untraced
    // warm passes, which keeps one slow call from moving the figure;
    // latency is the median and the slowest of those medians
    val timedPasses = warm.filterNot(_._2).map(_._1).toSet
    val perQuery = names.map { n =>
      n -> Stats.median(calls.filter(c => c.query == n && timedPasses(c.pass))
        .map(c => (c.buildNs + c.execNs) / 1e6).toSeq)
    }.toMap
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "first_pass_s" -> first,
      "wall_s" -> perQuery.values.sum / 1e3,
      "latency_p50_ms" -> Stats.median(perQuery.values.toSeq),
      "latency_p99_ms" -> perQuery.values.max)

    val layers = listener.map(l => perLayer(o, l, calls.toSeq, warm.toSeq, spans)).getOrElse(Map.empty)
    Map(
      "e2e" -> e2e,
      "per_layer" -> layers,
      "attempted" -> names.size,
      "query_errors" -> errors,
      "check_dir" -> checkDir,
      "queries_without_oracle" -> names.filterNot(oracle.contains),
      "not_applicable" -> Map("latency_p99_ms" ->
        s"the slowest of ${names.size} per-query medians: too few samples for a p99"),
      "details" -> Map(
        "queries" -> names.size,
        "order_head" -> order.take(5),
        "settle_passes_s" -> settle,
        "warm_passes_s" -> warm.map(_._3),
        "first_pass_query_ms" -> calls.filter(_.pass == 0).map(c => c.query -> (c.buildNs + c.execNs) / 1e6).toMap,
        "first_pass_s" -> first,
        "latency_samples" -> perQuery.size,
        "per_query_median_ms" -> perQuery))
  }

  /** Self-test hooks: one query made to throw, or to return one extra row. */
  private def injected(o: Opts, name: String, q: Query): Query = {
    val target = Queries.map(_._1).min
    if (name != target) q
    else o.inject match {
      case "fail" => (_, _) => throw new IllegalStateException("injected failure")
      case "wrong" => (s, d) => { val df = q(s, d); df.union(df.limit(1)) }
      case _ => q
    }
  }

  /** Per-layer numbers from the traced warm passes, as per-pass medians. */
  private def perLayer(o: Opts, l: JobListener, calls: Seq[Call],
      warm: Seq[(Int, Boolean, Double)], spans: Spans): Map[String, Double] = {
    val tracedPasses = warm.filter(_._2).map(_._1).toSet
    val jobs = l.jobList
    val mb = 1024.0 * 1024.0
    def perPass(f: Int => Double): Double = Stats.median(tracedPasses.toSeq.sorted.map(f))
    def passJobs(p: Int) = jobs.filter(_.pass == p.toString)
    def passCalls(p: Int) = calls.filter(_.pass == p)
    val moduleOf = Queries.toMap
    val modules = Queries.map(_._2).distinct
    recordSpans(calls, jobs, l.stageList, spans, moduleOf)

    val base = Map[String, Double](
      "queries.build_s" -> perPass(p => passCalls(p).map(_.buildNs).sum / 1e9),
      "queries.build_self_s" -> perPass { p =>
        val eager = passJobs(p).filter(_.phase == "build").map(j => j.endMs - j.startMs).sum / 1e3
        passCalls(p).map(_.buildNs).sum / 1e9 - eager
      },
      "queries.eager_jobs" -> perPass(p => passJobs(p).count(_.phase == "build").toDouble),
      "spark.exec_s" -> perPass(p => passCalls(p).map(_.execNs).sum / 1e9),
      "spark.jobs" -> perPass(p => passJobs(p).size.toDouble),
      "spark.stages" -> perPass(p => passJobs(p).map(_.stages).sum.toDouble),
      "spark.tasks" -> perPass(p => passJobs(p).map(_.tasks).sum.toDouble),
      "spark.task_cpu_s" -> perPass(p => passJobs(p).map(_.taskCpuNs).sum / 1e9),
      "spark.task_gc_s" -> perPass(p => passJobs(p).map(_.taskGcMs).sum / 1e3),
      "spark.busy_ratio" -> perPass { p =>
        val execS = passCalls(p).map(_.execNs).sum / 1e9
        passJobs(p).filter(_.phase == "exec").map(_.taskRunMs).sum / 1e3 / (execS * o.cores)
      },
      "spark.input_mb" -> perPass(p => passJobs(p).map(_.inputBytes).sum / mb),
      "spark.shuffle_write_mb" -> perPass(p => passJobs(p).map(_.shuffleWriteBytes).sum / mb),
      "spark.shuffle_read_mb" -> perPass(p => passJobs(p).map(_.shuffleReadBytes).sum / mb),
      "spark.spill_mb" -> perPass(p => passJobs(p).map(_.spillBytes).sum / mb))
    val perModule = modules.map { m =>
      s"$m.wall_s" -> perPass(p => passCalls(p).filter(c => moduleOf(c.query) == m)
        .map(c => c.buildNs + c.execNs).sum / 1e9)
    }.toMap
    val tracedWall = Stats.median(warm.filter(_._2).map(_._3))
    val untracedWall = Stats.median(warm.filterNot(_._2).map(_._3))
    base ++ perModule ++ Map(
      "trace.wall_s" -> tracedWall,
      "trace.overhead_ratio" -> tracedWall / untracedWall)
  }

  private def recordSpans(calls: Seq[Call], jobs: Seq[JobListener.JobRec],
      stages: Seq[JobListener.StageRec], spans: Spans, moduleOf: Map[String, String]): Unit = {
    // span times are nanoTime; listener times are epoch ms: map one onto the other
    val nsAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val jobSpan = mutable.HashMap.empty[Int, Long]
    calls.foreach { c =>
      val qid = spans.nextId()
      spans.add(Span(qid, 0, s"query:${c.query}", c.startNs, c.startNs + c.buildNs + c.execNs,
        Map("pass" -> c.pass, "module" -> moduleOf(c.query))))
      val bid = spans.nextId()
      spans.add(Span(bid, qid, "build", c.startNs, c.startNs + c.buildNs))
      val eid = spans.nextId()
      spans.add(Span(eid, qid, "exec", c.startNs + c.buildNs, c.startNs + c.buildNs + c.execNs))
      jobs.filter(j => j.pass == c.pass.toString && j.query == c.query).foreach { j =>
        val jid = spans.nextId()
        jobSpan(j.jobId) = jid
        spans.add(Span(jid, if (j.phase == "build") bid else eid, s"job:${j.jobId}",
          j.startMs * 1000000L + nsAtEpoch, j.endMs * 1000000L + nsAtEpoch,
          Map("tasks" -> j.tasks, "task_cpu_ms" -> j.taskCpuNs / 1e6,
            "shuffle_write_bytes" -> j.shuffleWriteBytes, "input_bytes" -> j.inputBytes)))
      }
    }
    stages.foreach { s =>
      jobSpan.get(s.jobId).foreach { parent =>
        spans.add(Span(spans.nextId(), parent, s"stage:${s.stageId}",
          s.startMs * 1000000L + nsAtEpoch, s.endMs * 1000000L + nsAtEpoch,
          Map("tasks" -> s.tasks, "stage_name" -> s.name)))
      }
    }
  }
}
