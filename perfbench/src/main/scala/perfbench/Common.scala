package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options the runner passes to the benchmark JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    out: String,
    launchEpochMs: Double,
    inject: String) {
  val cores: Int = 4
  val master: String = s"local[$cores]"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      data = m.getOrElse("data", ""),
      work = need("work"),
      out = need("out"),
      launchEpochMs = need("launch-epoch-ms").toDouble,
      inject = m.getOrElse("inject", "none"))
  }
}

/** JSON for the result and span records (Spark's own Jackson). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile (the `statistics` module's inclusive
    * method); NaN for an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** One traced interval. Spans are kept in memory and written out when the
  * run ends; `parent` links a span to the one that caused it.
  */
final case class Span(
    id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> startNs / 1e6, "dur_ms" -> (endNs - startNs) / 1e6) ++ attrs
}

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

object Session {
  /** Builds the session through the program's own factory, sized by its
    * own shuffle-partition rule, with Spark's local dirs inside the work dir.
    */
  def build(o: Opts, inputBytes: Long): SparkSession = {
    val parts = graft.GraftSession.sizedShufflePartitions(inputBytes, o.cores)
    val s = graft.GraftSession.builder(o.master, parts)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // keep every micro-batch's progress: the hot-path check sums the
      // rows each batch dropped behind the watermark
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** SQL and core settings that differ from Spark's defaults. */
  def nonDefaultConfs(spark: SparkSession): Map[String, String] = {
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !k.startsWith("spark.app.") }
  }

  /** Peak resident set size of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Wall-clock time in epoch milliseconds, with microsecond digits. */
  def nowEpochMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}
