package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point. `run.py` launches it once per run; it writes
  * `result.json` into `--out` and the runner turns that into the result
  * line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.out))
    val spans = new Spans
    val batch = o.workload == "batch"
    require(batch || o.workload == "hot_path", s"unknown workload ${o.workload}")
    val inputBytes = if (batch) graft.GraftSession.dirBytes(o.data) else 0L
    val spark = Session.build(o, inputBytes)
    val sessionS = (Session.nowEpochMs() - o.launchEpochMs) / 1000.0
    val result: Map[String, Any] =
      try {
        if (batch) BatchWorkload.run(o, spark, sessionS, spans)
        else HotPathWorkload.run(o, spark, spans)
      } catch {
        case e: Throwable =>
          Map("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    val full = result ++ Map(
      "peak_rss_mb" -> Session.peakRssMb(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "master" -> o.master,
      "confs" -> Session.nonDefaultConfs(spark))
    Files.writeString(Paths.get(s"${o.out}/result.json"), Json.write(full))
    if (o.trace)
      Files.writeString(Paths.get(s"${o.out}/spans.json"), Json.write(spans.all.map(_.toMap)))
    spark.stop()
    System.exit(0)
  }
}
