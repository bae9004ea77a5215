package graft

import scala.concurrent.duration.FiniteDuration
import scala.jdk.CollectionConverters._

/** The one child-JVM launcher behind every forking main: [[Bench]]'s
  * rounds, [[MemSweep]]'s capped-heap queries and [[StateSweep]]'s points.
  *
  * The child mirrors THIS JVM — same java binary, input arguments and
  * classpath — so sbt's javaOptions (--add-opens, the session timezone)
  * apply identically; `xmx` replaces the inherited `-Xmx`/`-Xms` when the
  * heap cap is the experiment. The child inherits this process's
  * environment plus `env`. Results come back on stdout as `#GRAFT` lines
  * (Spark logs go to stderr, so stdout is the child's own channel).
  *
  * stderr streams through so a hung child is diagnosable from the
  * parent's log; while it streams, the first memory-fatal line, the first
  * `SparkException` line and a 50-line tail are kept, because a child that
  * dies emits no result line and its stderr is the only account of why.
  * The deadline watchdog starts BEFORE the stdout read loop: a wedged child
  * that never closes stdout would keep `readLine` blocked forever, so only
  * a kill that EOFs stdout lets the parent go on.
  */
private[graft] object ChildJvm {

  /** @param lines          the child's `#GRAFT` stdout lines, in order
    * @param exit           the child's exit code (nonzero when the watchdog
    *                       killed it)
    * @param memoryFatal    the first OutOfMemoryError / "Not enough memory" /
    *                       "Killed" stderr line
    * @param sparkException the first stderr line naming a SparkException
    * @param tail           the last 50 stderr lines
    */
  final case class Result(
      lines: Seq[String],
      exit: Int,
      memoryFatal: Option[String],
      sparkException: Option[String],
      tail: Seq[String]) {

    /** The likeliest cause of a death, JSON-safe: a memory-fatal line wins
      * over a generic SparkException (a benign wrapped exception logged
      * early would otherwise mask the real OOM), then the last stderr line.
      */
    def why: String =
      jsonSafe(memoryFatal.orElse(sparkException).orElse(tail.lastOption)
        .getOrElse("no stderr"), 500)
  }

  def run(
      mainClass: String,
      env: Map[String, String],
      deadline: FiniteDuration,
      label: String,
      xmx: Option[String] = None): Result = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val jvmArgs = xmx.fold(inherited)(x =>
      inherited.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms")) :+ s"-Xmx$x")
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", sys.props("java.class.path"), mainClass)): _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()

    val memoryFatal = new java.util.concurrent.atomic.AtomicReference[String](null)
    val sparkException = new java.util.concurrent.atomic.AtomicReference[String](null)
    // concurrent: the parent reads the tail on exactly the failure path
    // where the drainer may still be flushing
    val tail = new java.util.concurrent.ConcurrentLinkedDeque[String]()
    val drainer = new Thread(() => {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(p.getErrorStream))
      var line = r.readLine()
      while (line != null) {
        System.err.println(line)
        if (line.contains("OutOfMemoryError") || line.contains("Not enough memory") ||
          line.contains("Killed")) memoryFatal.compareAndSet(null, line)
        else if (line.contains("SparkException")) sparkException.compareAndSet(null, line)
        if (tail.size >= 50) tail.pollFirst()
        tail.addLast(line)
        line = r.readLine()
      }
    }, s"$label-stderr")
    drainer.setDaemon(true)
    drainer.start()
    val watchdog = new Thread(() => {
      if (!p.waitFor(deadline.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS))
        p.destroyForcibly()
    }, s"$label-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
    var line = reader.readLine()
    while (line != null) {
      if (line.startsWith("#GRAFT ")) lines += line
      line = reader.readLine()
    }
    // stdout is at EOF: the child is done or was killed, so this only reaps
    if (!p.waitFor(1, java.util.concurrent.TimeUnit.MINUTES)) p.destroyForcibly().waitFor()
    drainer.join(5000) // let the stderr tail finish flushing before reading it
    Result(lines.toSeq, p.exitValue(), Option(memoryFatal.get), Option(sparkException.get),
      tail.asScala.toSeq)
  }

  /** JSON-safe bounded failure text (control chars / quotes / backslashes
    * stripped, hard length cap) — the one sanitizer for every failure
    * record ([[whyOf]], [[Result.why]]). */
  def jsonSafe(s: String, max: Int): String =
    s.replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(max)

  /** Failure description for a record row: the top exception plus the ROOT
    * of its cause chain, JSON-safe. Streaming failures wrap the interesting
    * cause (e.g. an executor OutOfMemoryError) three levels deep, and a
    * 200-char top-message cut truncates exactly before it — a record that
    * says a point failed must also say why. The top and root are truncated
    * SEPARATELY: a combined cap eats the root segment exactly when the
    * wrapper message is long, which is when the root matters most (a
    * 500-char StreamingQueryException wrapper left no room for it). The
    * walk is cycle-guarded by identity, not depth-capped: a depth cap would
    * LABEL a mid-chain wrapper as the root. */
  def whyOf(e: Throwable): String = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    var root = e
    while (root.getCause != null && seen.add(root)) root = root.getCause
    val top = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    if (root eq e) jsonSafe(top, 500)
    else {
      val rootTxt =
        s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
      jsonSafe(top, 355) + " | root: " + jsonSafe(rootTxt, 136)
    }
  }
}
