package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage attribution main: run ONE declared query to completion in the
  * bench session and print a stage table — tasks, wall, task-time sum,
  * input/shuffle bytes, spill — so a wall-vs-CPU gap can be pinned to the
  * STAGE that serializes instead of argued about from totals.
  * `runMain graft.StageProfile <query> <sfDir>`.
  *
  * Built r15 while attributing the stage-pin experiment: t25's pinned
  * variant read LOWER task CPU and ZERO spill than the adaptive session
  * yet a WORSE wall, which only a per-stage timeline can explain (the
  * per-query diag in bench_diag.json aggregates over the whole query).
  * Same session builder as Bench/Explain, so profiled stages are the
  * committed records' stages.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <query> <sfDir>")
    val (name, dir) = (args(0), args(1))
    val spark = Bench.buildSession()
    val fn = SparkEntry.queries.getOrElse(
      name, sys.error(s"unknown query '$name' (${SparkEntry.queries.size} declared)"))

    case class St(
        name: String, tasks: Int, wallMs: Long, taskMs: Long, cpuMs: Long,
        input: Long, sRead: Long, sWrite: Long, spillMem: Long, spillDisk: Long)
    // appended on the listener-bus thread, drained on the main thread: a
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
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)

    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // the listener bus is async; completion events for the last stage can
    // trail the job end
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)

    println(f"=== $name @ $dir — ${wall}%.1f s, ${stages.size} stages ===")
    println(f"${"stage"}%-44s ${"tasks"}%5s ${"wall_s"}%7s ${"task_s"}%7s ${"cpu_s"}%7s " +
      f"${"in_mb"}%7s ${"sr_mb"}%7s ${"sw_mb"}%7s ${"spl_mem"}%8s ${"spl_dsk"}%8s")
    stages.asScala.foreach { s =>
      println(f"${s.name.take(44)}%-44s ${s.tasks}%5d ${s.wallMs / 1000.0}%7.1f " +
        f"${s.taskMs / 1000.0}%7.1f ${s.cpuMs / 1000.0}%7.1f " +
        f"${s.input >> 20}%7d ${s.sRead >> 20}%7d ${s.sWrite >> 20}%7d " +
        f"${s.spillMem >> 20}%8d ${s.spillDisk >> 20}%8d")
    }
    spark.stop()
  }
}
