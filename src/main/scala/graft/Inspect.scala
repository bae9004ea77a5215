package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Plan and stage inspection of declared queries:
  * `runMain graft.Inspect <plan|final|stages> <sfDir> <q1,q2,...> [outDir]`.
  *
  *   - `plan`: the static plan Catalyst chose from file stats
  *     (`explain("formatted")`).
  *   - `final`: the query's OWN QueryExecution is executed to completion
  *     first, so the printed tree is the AQE-re-planned physical plan
  *     (`isFinalPlan=true`: join-strategy switches, coalesced partitions).
  *     A `df.write` would not do: the writer builds a separate
  *     QueryExecution and the DataFrame's own AdaptiveSparkPlanExec would
  *     still print un-executed.
  *   - `stages`: runs the query to a noop sink and prints one row per
  *     completed stage (tasks, wall, task time, CPU, input/shuffle bytes,
  *     spill), so a wall-vs-CPU gap can be pinned to the stage that
  *     serializes instead of argued about from per-query totals.
  *
  * With `outDir`, each query's text goes to `<outDir>/<query>_<mode>.txt`;
  * otherwise to stdout. All queries share one session, the bench's
  * ([[Bench.buildSession]]) sized for `sfDir`, so the inspected plan is the
  * plan the bench runs at that size.
  */
object Inspect {
  private val Modes = Set("plan", "final", "stages")

  def main(args: Array[String]): Unit = {
    val usage = "usage: Inspect <plan|final|stages> <sfDir> <q1,q2,...> [outDir]"
    require((args.length == 3 || args.length == 4) && Modes(args(0)), usage)
    val Array(mode, dir, qcsv) = args.take(3)
    val outDir = args.lift(3)
    val names = qcsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query '$n' (${SparkEntry.queries.size} declared)"))
    val spark = Bench.buildSession(dir)
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = mode match {
        case "plan" =>
          s"=== $name @ $dir — static plan ===\n" +
            df.queryExecution.explainString(FormattedMode)
        case "final" =>
          val qe = df.queryExecution
          // materialize THIS QueryExecution's plan: AQE re-plans as stages
          // complete, and afterwards the same tree prints isFinalPlan=true
          qe.executedPlan.execute().foreach(_ => ())
          s"=== $name @ $dir — FINAL (post-AQE, executed) plan ===\n${qe.executedPlan}\n"
        case "stages" => stageTable(name, dir, df)
      }
      outDir match {
        case Some(d) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${name}_$mode.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[inspect] wrote $name ($mode)")
        case None => print(txt)
      }
    }
    spark.stop()
  }

  private final case class St(
      name: String, tasks: Int, wallMs: Long, taskMs: Long, cpuMs: Long,
      input: Long, sRead: Long, sWrite: Long, spillMem: Long, spillDisk: Long)

  private def stageTable(name: String, dir: String, df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    // appended on the listener-bus thread, read on the main thread: a
    // concurrent queue gives the memory barrier a plain ArrayBuffer lacks
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages add St(
          i.name.takeWhile(_ != '\n'),
          i.numTasks,
          (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L),
          m.executorRunTime,
          m.executorCpuTime / 1000000L,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled,
          m.diskBytesSpilled)
      }
    }
    ColumnBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // the listener bus is async; completion events for the last stage can
    // trail the job end
    ColumnBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    val sb = new StringBuilder
    sb ++= f"=== $name @ $dir — ${wall}%.1f s, ${stages.size} stages ===\n"
    sb ++= f"${"stage"}%-44s ${"tasks"}%5s ${"wall_s"}%7s ${"task_s"}%7s ${"cpu_s"}%7s " +
      f"${"in_mb"}%7s ${"sr_mb"}%7s ${"sw_mb"}%7s ${"spl_mem"}%8s ${"spl_dsk"}%8s\n"
    stages.asScala.foreach { s =>
      sb ++= f"${s.name.take(44)}%-44s ${s.tasks}%5d ${s.wallMs / 1000.0}%7.1f " +
        f"${s.taskMs / 1000.0}%7.1f ${s.cpuMs / 1000.0}%7.1f " +
        f"${s.input >> 20}%7d ${s.sRead >> 20}%7d ${s.sWrite >> 20}%7d " +
        f"${s.spillMem >> 20}%8d ${s.spillDisk >> 20}%8d\n"
    }
    sb.toString
  }
}
