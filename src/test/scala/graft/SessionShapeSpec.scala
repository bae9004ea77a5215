package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of the one session recipe: what [[Bench.sessionShape]]
  * takes from the environment and the data dir, and the worker memory a
  * `local-cluster` master gives its executors. No session is built.
  */
class SessionShapeSpec extends AnyFunSuite {

  private val MB = 1024L * 1024

  /** A directory holding one sparse file of `bytes` apparent length. */
  private def withDir[T](bytes: Long)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("session-shape")
    val file = dir.resolve("trades.parquet")
    val raf = new java.io.RandomAccessFile(file.toFile, "rw")
    try raf.setLength(bytes) finally raf.close()
    try f(dir.toString)
    finally { java.nio.file.Files.delete(file); java.nio.file.Files.delete(dir) }
  }

  test("the sfDir argument, not SPARK_GRAFT_SF_DIR, sizes the partition count") {
    withDir(100 * MB) { big =>
      withDir(1 * MB) { small =>
        // 100 MB at the 4x allowance is ten 40 MB target partitions
        val perPartition =
          GraftSession.TargetShuffleBytesPerPartition / GraftSession.InflightExpansionAllowance
        assert(100 * MB / perPartition === 10)
        val env = Map("SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_SF_DIR" -> small)
        assert(Bench.sessionShape(big, env).shufflePartitions === 10)
        assert(Bench.sessionShape(small, env).shufflePartitions === 4)
        val envBig = env + ("SPARK_GRAFT_SF_DIR" -> big)
        assert(Bench.sessionShape(small, envBig).shufflePartitions === 4)
      }
    }
  }

  test("a pinned partition count wins over the sizing and turns the span pin off") {
    withDir(100 * MB) { big =>
      val env = Map(
        "SPARK_GRAFT_CPUS" -> "4",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "3",
        "SPARK_GRAFT_SPAN_PARTITIONS" -> "16")
      val shape = Bench.sessionShape(big, env)
      assert(shape.shufflePartitions === 3 && shape.pinned)
      assert(shape.spanPin === Some("0"))
      assert(shape.master === "local[4]")
      val free = Bench.sessionShape(big, env - "SPARK_GRAFT_SHUFFLE_PARTITIONS")
      assert(!free.pinned && free.spanPin === Some("16"))
      intercept[IllegalArgumentException](
        Bench.sessionShape(big, env + ("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "0")))
    }
  }

  test("a local-cluster master's worker MB is parsed; other masters have none") {
    assert(GraftSession.localClusterWorkerMb("local-cluster[2,2,1536]") === Some(1536))
    assert(GraftSession.localClusterWorkerMb("local-cluster[ 16 , 2 , 2304 ]") === Some(2304))
    assert(GraftSession.localClusterWorkerMb("local[4]") === None)
    assert(GraftSession.localClusterWorkerMb("local-cluster[2,2]") === None)
    assert(GraftSession.localClusterWorkerMb("spark://host:7077") === None)
  }
}
