package graft

import scala.concurrent.duration._

/** State cost per key under a capped heap: the `book_state` path of
  * [[StatefulWorkload]] at 262,144, 524,288 and 1,048,576 live keys under
  * the on-heap and the RocksDB state-store providers, one child JVM per
  * point at a constant `-Xmx2g`.
  *
  * The design claim under test: RocksDB keeps state in native memory +
  * SSTs, so a capped HEAP should not touch it, while the on-heap provider
  * holds every key's state as JVM objects and may legitimately die — the
  * documented reason for [[GraftSession.withRocksDbStateStore]]. One child
  * per point makes an OOM an isolated verdict: the point records
  * `completed:false` and its cause, and the sweep goes on.
  *
  * Each point feeds 32 events per key in 20 chunks (one
  * `processAllAvailable` each) on local[4], so high-cardinality books hold
  * a comparable number of levels per key. A completed row records the
  * rate, the state store's own rows and bytes from the final progress, and
  * bytes/key.
  *
  * Env: `SPARK_GRAFT_CPUS` (default 4), `SPARK_GRAFT_ONLY` (point subset,
  * e.g. `book_262144_rocksdb`); either smoke-names the record. Writes
  * `statesweep.json` and prints one JSON line.
  */
object StateSweep {

  private val Keys = Seq(262144, 524288, 1048576)
  private val Xmx = "2g"
  private val Chunks = 20
  private val EventsPerKey = 32
  private val OnHeapProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** (name, keys, rocksdb) per point, in sweep order. */
  private val Points: Seq[(String, Int, Boolean)] =
    for (k <- Keys; rocks <- Seq(false, true))
      yield (s"book_$k${if (rocks) "_rocksdb" else ""}", k, rocks)

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  private def perChunk(keys: Int): Int = EventsPerKey * keys / Chunks

  def main(args: Array[String]): Unit =
    if (sys.env.get("SPARK_GRAFT_CHILD").contains("1")) childMain() else parentMain()

  /** One capped-heap JVM, one point (named by `SPARK_GRAFT_ONLY`): emits
    * one `#GRAFT STATE <row>` line. */
  private def childMain(): Unit = {
    val name = sys.env("SPARK_GRAFT_ONLY")
    val (_, keys, rocks) =
      Points.find(_._1 == name).getOrElse(sys.error(s"unknown state sweep point $name"))
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (rocks) GraftSession.configureRocksDbState(spark)
    else spark.conf.set("spark.sql.streaming.stateStore.providerClass", OnHeapProvider)
    val row =
      try {
        val (sec, so) =
          StatefulWorkload.workload(spark, "book_state", keys).run(Chunks, perChunk(keys))
        val s = so.getOrElse(sys.error("no state operator in the final progress"))
        s"""{"completed":true,"rate":${Bench.num(perChunk(keys).toLong * Chunks / sec, 0)},""" +
          s""""state_rows":${s.numRowsTotal},"state_bytes":${s.memoryUsedBytes},""" +
          s""""bytes_per_key":${Bench.num(s.memoryUsedBytes.toDouble / math.max(s.numRowsTotal, 1), 1)}}"""
      } catch {
        case scala.util.control.NonFatal(e) =>
          s"""{"completed":false,"why":"${ChildJvm.whyOf(e)}"}"""
      }
    println(s"#GRAFT STATE $row")
    spark.stop()
  }

  private def parentMain(): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = Points.filter(p => only.forall(_(p._1)))
    require(selected.nonEmpty,
      s"SPARK_GRAFT_ONLY names no state sweep point (points: ${Points.map(_._1).mkString(",")})")
    val rows = selected.map { case (name, keys, rocks) =>
      val res = ChildJvm.run("graft.StateSweep",
        // cpus pinned explicitly: an ambient SPARK_GRAFT_CPUS=32 must not
        // silently move a child off the parent's basis
        Map("SPARK_GRAFT_CHILD" -> "1", "SPARK_GRAFT_ONLY" -> name, "SPARK_GRAFT_CPUS" -> cpus),
        Bench.roundTimeoutMin(default = 30L).minutes, s"statesweep-$name", xmx = Some(Xmx))
      val body = res.lines.collectFirst { case l if l.startsWith("#GRAFT STATE ") => l.drop(13) }
        .getOrElse(s"""{"completed":false,"exit":${res.exit},"why":"${res.why}"}""")
      val row = s"""{"keys":$keys,"provider":"${if (rocks) "rocksdb" else "heap"}",""" +
        s""""events":${perChunk(keys).toLong * Chunks},""" + body.drop(1)
      System.err.println(s"[statesweep] $name -> $row")
      name -> row
    }
    val json =
      s"""{"metric":"state_cost_per_key","xmx":"$Xmx","cpus":$cpus,"chunks":$Chunks,""" +
        rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("\"rows\":{", ",", "}}")
    java.nio.file.Files.write(
      Bench.recordPath("statesweep", smoke = only.isDefined || cpus != "4"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    if (rows.forall(!_._2.contains("\"completed\":true"))) sys.exit(2)
  }
}
