package graft

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Child main for the launcher spec: `#GRAFT` lines in a fixed order with
  * other stdout between them, its `-Xmx` arguments and heap ceiling, two
  * classifiable stderr lines, then a nonzero exit. */
object ChildJvmProbe {
  def main(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("-Xmx"))
    println("#GRAFT A 1")
    println("not a result line")
    println("#GRAFT B 2")
    println(s"#GRAFT XMX ${xmx.mkString(",")} ${Runtime.getRuntime.maxMemory}")
    System.err.println("org.apache.spark.SparkException: probe wrapper")
    System.err.println("java.lang.OutOfMemoryError: probe heap")
    System.err.println("probe last line")
    System.out.flush()
    System.exit(3)
  }
}

/** Child main for the launcher spec: outlives any test deadline. */
object ChildJvmSleeper {
  def main(args: Array[String]): Unit = {
    println("#GRAFT STARTED")
    System.out.flush()
    Thread.sleep(10.minutes.toMillis)
  }
}

/** The child-JVM launcher (two forks, to keep the suite fast) and the
  * failure-text helpers every record row uses. A record row that says a
  * point failed must carry the ROOT cause, not just the top wrapper (a
  * StreamingQueryException's 200-char top message once truncated exactly
  * before the executor OutOfMemoryError three causes down — and a combined
  * 500-char cap lost the root segment again whenever the wrapper alone
  * exceeded it).
  */
class ChildJvmSpec extends AnyFunSuite {

  test("launcher: #GRAFT lines in order, nonzero exit surfaced, -Xmx replaced, stderr classified") {
    val parentMax = Runtime.getRuntime.maxMemory
    assume(parentMax > 512L * 1024 * 1024, "the test JVM must run with a heap above the override")
    val res = ChildJvm.run("graft.ChildJvmProbe", Map.empty, 2.minutes, "probe",
      xmx = Some("256m"))
    assert(res.lines.take(2) == Seq("#GRAFT A 1", "#GRAFT B 2"))
    assert(res.exit == 3)
    val Array(_, _, xmxArgs, childMax) = res.lines(2).split(" ")
    assert(xmxArgs == "-Xmx256m", "the inherited -Xmx must be replaced, not shadowed")
    assert(childMax.toLong <= 256L * 1024 * 1024)
    assert(res.memoryFatal.contains("java.lang.OutOfMemoryError: probe heap"))
    assert(res.sparkException.contains("org.apache.spark.SparkException: probe wrapper"))
    assert(res.tail.lastOption.contains("probe last line"))
    assert(res.why == "java.lang.OutOfMemoryError: probe heap")
  }

  test("launcher: the watchdog kills a child that sleeps past its deadline") {
    val t0 = System.nanoTime()
    val res = ChildJvm.run("graft.ChildJvmSleeper", Map.empty, 5.seconds, "sleeper")
    val sec = (System.nanoTime() - t0) / 1e9
    assert(res.lines == Seq("#GRAFT STARTED"))
    assert(res.exit != 0)
    assert(sec < 120, s"launcher returned after $sec s; the child sleeps 600 s")
  }

  test("whyOf surfaces the root of a nested cause chain") {
    val root = new OutOfMemoryError("Java heap space")
    val mid  = new RuntimeException("Job aborted due to stage failure", root)
    val top  = new RuntimeException("Query terminated with exception", mid)
    val why = ChildJvm.whyOf(top)
    assert(why.startsWith("RuntimeException: Query terminated with exception"))
    assert(why.contains("root: OutOfMemoryError: Java heap space"))
  }

  test("whyOf on a causeless exception has no root segment") {
    val why = ChildJvm.whyOf(new IllegalStateException("boom"))
    assert(why == "IllegalStateException: boom")
  }

  test("whyOf preserves the root segment under a long wrapper message") {
    // Spark's StreamingQueryException wrapper alone can exceed 500 chars,
    // so a combined cap would truncate the '| root:' segment away. Top and
    // root budgets are separate, so the root must survive any wrapper
    // length.
    val root = new OutOfMemoryError("Java heap space")
    val top  = new RuntimeException("Job aborted due to stage failure: " + ("x" * 900), root)
    val why = ChildJvm.whyOf(top)
    assert(why.contains("| root: OutOfMemoryError: Java heap space"))
    assert(why.length <= 500)
  }

  test("whyOf is JSON-safe and bounded") {
    val nasty = new RuntimeException("line1\nline2\t\"quoted\\path\"",
      new RuntimeException("x" * 2000))
    val why = ChildJvm.whyOf(nasty)
    assert(!why.exists(c => c < ' ' || c == '"' || c == '\\'))
    assert(why.length <= 500)
  }

  test("whyOf reports the REAL root of a deep chain, not a mid-chain wrapper") {
    // 20 wrappers over the interesting root: a depth-capped walk would
    // label wrapper #10 as 'root', silently replacing the actual cause.
    val deep = (1 to 20).foldLeft[Throwable](new OutOfMemoryError("Java heap space")) {
      (cause, i) => new RuntimeException(s"level$i", cause)
    }
    val why = ChildJvm.whyOf(deep)
    assert(why.startsWith("RuntimeException: level20"))
    assert(why.contains("root: OutOfMemoryError: Java heap space"))
  }

  test("whyOf tolerates null messages and cause cycles") {
    val a = new RuntimeException(null: String)
    val b = new RuntimeException("b", a)
    a.initCause(b) // a -> b -> a
    val why = ChildJvm.whyOf(new RuntimeException("top", a))
    assert(why.startsWith("RuntimeException: top"))
    assert(why.contains("root:")) // terminated despite the cycle
  }

  test("jsonSafe strips control chars and enforces the cap") {
    val s = ChildJvm.jsonSafe("a\u0000b\"c\\d\ne" + ("y" * 600), 100)
    assert(!s.exists(c => c < ' ' || c == '"' || c == '\\'))
    assert(s.length == 100)
    assert(s.startsWith("a b c d e"))
  }
}
