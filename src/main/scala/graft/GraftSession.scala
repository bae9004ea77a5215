package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Session factory with scale-aware defaults.
  *
  * Local runs use `local[N]` with `spark.sql.shuffle.partitions` sized to the
  * core count (not the 200 default, which thrashes a single node). On a real
  * cluster the same builder holds: AQE coalesces post-shuffle partitions and
  * re-plans skewed joins at runtime, so the static partition number only needs
  * to be a sane upper bound (2-3x total cores).
  *
  * Every session built here resolves `file:` to the fork-free local
  * filesystem and runs its tasks without per-session artifact isolation
  * ([[withEngineConfs]]). This is the only session recipe in the project:
  * the tests, the oracle dump ([[Verify]]), [[Bench]], the measurement
  * mains and the benchmark all build through [[builder]], so the oracle
  * gate checks the configuration that is measured.
  */
object GraftSession {
  /** The project's session. A `local-cluster[n,cores,memMB]` master also
    * gets the multi-JVM executor settings ([[withMultiJvm]]); any other
    * master runs in this JVM.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = withEngineConfs(SparkSession.builder())
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // a TIMESTAMP(NANOS) parquet column reads as a nanos long (Tables.events);
      // the project's own events.ts is MICROS and reads as timestamp_ntz
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ~100 distinct queries x several codegen stages in one JVM (Verify,
      // the test suite) overflow the default 100-entry generated-code
      // cache and recompile constantly; a production job running few
      // queries repeatedly never hits this. Static conf — applies to the
      // first session built in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
    localClusterWorkerMb(master).fold(b)(mb => withMultiJvm(b, mb))
  }

  /** Measured sweet spot for per-partition shuffle working sets
    * (shufflesweep100.json, r14): sweeping t25's pinned partition count on
    * the 100x slice traced a U whose minimum sits at ~40 MB of shuffle
    * write per partition — disk spill drops 5x and task CPU ~20% vs the
    * ~160 MB/partition the core-count default produced there (numbers
    * re-confirmed by the r15 3-round re-measure: the minimum is a
    * 40-80 MB plateau and ~40 MB is its spill-cheapest end).
    */
  val TargetShuffleBytesPerPartition: Long = 40L * 1024 * 1024

  /** Compressed-parquet -> in-flight bytes allowance for
    * [[sizedShufflePartitions]]. Columnar compression (dictionary + snappy)
    * typically expands 2-6x when rows materialize into shuffle blocks;
    * 4x is the middle of that band. Precision is deliberately NOT required
    * here — see the sizing rationale on [[sizedShufflePartitions]].
    */
  val InflightExpansionAllowance: Int = 4

  /** Bytes-aware INITIAL shuffle-partition count (r15, verdict item 1 —
    * the rule shufflesweep100.json measured, applied).
    *
    * Why the initial count is the lever: AQE partition coalescing only
    * merges DOWN from `spark.sql.shuffle.partitions` toward the 64 MB
    * advisory — it can never split an undersized count — so a core-count
    * initial value binds every heavy shuffle to giant partitions before
    * AQE can help. Measured on the 100x slice, within the one pinned
    * sweep record (shufflesweep100.json, r15 3-round re-measure): 32
    * partitions ran t25 in 95.5 s with 8.3 GB disk spill and 921 s task
    * CPU (156 MB/partition working sets force repeated spill-merge
    * cycles); 128 partitions (~41 MB each) ran 86.6 s with 1.6 GB spill
    * and 721 s task CPU — 22% less. Under the applied rule the unpinned
    * AQE session improved the heavy 30x/100x points 20%/10% in aggregate
    * (SCALING_r15 vs _r14, its own record).
    *
    * Why a crude input-bytes estimate suffices: true shuffle volume is
    * query-dependent (t25's char-span hashing emits ~100x its compressed
    * input; a filtered agg emits far less), but the estimate only needs to
    * land within roughly an order of magnitude. OVERestimates produce
    * small post-shuffle partitions that AQE coalesces back toward its
    * 64 MB advisory (the heuristic path keeps coalescing ON — only the
    * sweep's pinned mode turns it off); at 100x the sized count (235)
    * leaves t25's real 5.5 GB shuffle in ~23 MB partitions that coalesce
    * in pairs to ~47 MB, i.e. the measured optimum. UNDERestimates still
    * raise the floor multiplicatively. Only a too-LOW initial count is
    * unrecoverable, so the estimate rounds up by design.
    *
    * Bounds: never below one partition per core (tiny inputs keep today's
    * plans — at sf0.1 the rule returns exactly `cores`, so the committed
    * bench basis is unchanged by construction); capped at 128 task waves
    * per core so per-task launch overhead (~ms) stays amortized — on a
    * 1000-executor cluster the same rule scales with total cores, which
    * is the 100 TB shape: size the initial count >= expected shuffle
    * bytes / ~40 MB, let AQE coalesce down, and kill residual spill with
    * executors, not partitions (SCALE.md, sizing rule).
    */
  def sizedShufflePartitions(inputBytes: Long, cores: Int): Int = {
    require(cores > 0, s"cores must be positive, got $cores")
    // bytes*allowance would overflow Long in the exabyte regime — exactly
    // where returning the floor would be worst — so divide instead
    // (target is an exact multiple of the allowance) and saturate at the
    // cap before any arithmetic can wrap
    val perPartition = TargetShuffleBytesPerPartition / InflightExpansionAllowance
    val cap = cores.toLong * 128
    if (inputBytes >= perPartition * cap) cap.toInt
    else {
      val byBytes = (math.max(0L, inputBytes) + perPartition - 1) / perPartition
      math.max(cores.toLong, math.min(cap, byBytes)).toInt
    }
  }

  /** Total bytes under a data directory, via the Hadoop FileSystem API so
    * the same call prices hdfs:// and s3a:// table roots on a real
    * cluster, not just local paths. Missing/unreadable dirs price as 0
    * (the sizing then falls back to the per-core floor).
    */
  def dirBytes(dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hadoopConf())
        .getContentSummary(p).getLength
    } catch {
      // NonFatal, not just IOException: Path/getFileSystem throw
      // IllegalArgumentException on empty or malformed-URI strings, and the
      // contract here is "unpriceable dirs fall back to the per-core
      // floor", never "abort a multi-hour run at session build"
      case scala.util.control.NonFatal(_) => 0L
    }

  /** Hadoop settings that resolve the `file:` scheme to
    * [[graft.sources.NioLocalFileSystem]] (FileSystem API: parquet output,
    * the custom sources) and [[graft.sources.NioLocalFs]] (FileContext API:
    * the streaming checkpoint logs and both state-store providers).
    *
    * Why: on a host without native `libhadoop`, Hadoop's raw local
    * filesystem forks `chmod` for every file it creates and `readlink`
    * twice for every `FileContext` rename, so each micro-batch's offset and
    * commit log writes and each partition's state-store commit paid several
    * fork+exec round trips. On a 4-vCPU host, one traced `hot_path`
    * benchmark run started 11,748 processes (2,512 `chmod`, 9,232
    * `readlink`); with these classes it starts 5, none from the
    * filesystem, and the per-leg p50 phases fell from walCommit 86-103 to
    * 2-2.5 ms, commitOffsets 81-95 to 2 ms and state commit 449-469 to
    * 24-30 ms (SCALE.md, streaming). Checksum sidecars, Spark's checkpoint
    * checksum files and atomic rename are unchanged.
    * Only `file:` is affected: `hdfs:`/`s3a:` resolve as configured. With
    * native `libhadoop` the stock `chmod` is already a native call, but the
    * stock `readlink` forks on every host.
    */
  val LocalFsConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Applies the fixed engine settings every session in this project
    * carries: [[LocalFsConfs]] as `spark.hadoop.*` entries, and session
    * artifact isolation off. [[builder]] applies it, so tests, benchmarks
    * and the measurement mains all write through the same filesystem and
    * run the same engine.
    *
    * Why isolation off: Spark 4 defaults `spark.sql.artifact.isolation.enabled`
    * to true, so every job carries its session's UUID and class URI, and
    * executors run its tasks under a per-session `ExecutorClassLoader`.
    * Generated code is cached per (class loader, source), and every
    * streaming query runs on a cloned session, so each live and replay
    * query recompiled every generated class on the executors, and each
    * class name the compiler probed became a lookup on the driver's class
    * server. This project adds no session artifacts (no `addArtifact` or
    * `addJar`), so isolation buys it nothing; with it off, tasks run under
    * the application class loader and all queries share one codegen cache.
    * Must be set when a session is created; it has no effect later.
    */
  private def withEngineConfs(b: SparkSession.Builder): SparkSession.Builder =
    LocalFsConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(s"spark.hadoop.$k", v) }
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** A fresh Hadoop configuration carrying [[LocalFsConfs]], for
    * filesystem calls made without a session. Hadoop caches one `file:`
    * FileSystem per user whatever the configuration, so a call that
    * resolved `file:` with plain defaults before the session existed would
    * pin the stock class for the whole JVM; every session-less lookup here
    * uses this instead.
    */
  def hadoopConf(): Configuration = {
    val c = new Configuration()
    LocalFsConfs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Multi-JVM knobs for a `local-cluster[n,cores,memMB]` master (r12,
    * verdict item 3): every other measurement in this repo is single-JVM
    * `local[N]`, where "shuffle" never serializes a row and the custom
    * physical node / codegen kernels never cross a JVM boundary.
    * local-cluster launches REAL executor processes (the in-JVM Worker
    * forks them), so exchanges serialize, broadcasts ship over RPC, and
    * generated code recompiles per executor — the closest approximation of
    * a real cluster a single box can run. The executor JVMs are launched
    * from SPARK_HOME (must point at a full distribution) and do NOT inherit
    * the driver's classpath, `--add-opens` or Scala version, so all three
    * are forwarded explicitly: Spark's launcher looks for the Scala build
    * directories under SPARK_HOME unless `SPARK_SCALA_VERSION` is in the
    * executor's environment, and a binary distribution has none.
    *
    * Executor memory defaults to the worker's MB, the most one executor may
    * ask for; `SPARK_GRAFT_EXEC_MEM` (e.g. "2g") caps it lower — composing
    * the multi-JVM and constrained-memory axes: the size-aware join's
    * budget reads spark.executor.memory, so a capped REMOTE executor must
    * flip the repeated-set join to spillable sort-merge.
    */
  private def withMultiJvm(b: SparkSession.Builder, workerMb: Int): SparkSession.Builder = {
    import scala.jdk.CollectionConverters._
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      .mkString(" ")
    b.config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", s"${workerMb}m"))
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", opens)
      .config("spark.executorEnv.SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
  }

  /** The per-worker MB of a `local-cluster[n,cores,memMB]` master; None for
    * any other master.
    */
  private[graft] def localClusterWorkerMb(master: String): Option[Int] = {
    val LocalCluster = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r
    master match {
      case LocalCluster(mb) => Some(mb.toInt)
      case _ => None
    }
  }

  /** FQN of Spark's RocksDB state store provider (ships in spark-sql with
    * the rocksdbjni native lib on the default classpath).
    */
  val RocksDbStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Move stateful-streaming state (the `(flat)mapGroupsWithState` /
    * windowed-agg / dedup stores behind [[graft.streaming.BookState]],
    * [[graft.streaming.EwmaStream]], [[graft.streaming.GridTicker]],
    * [[graft.streaming.GapDetector]]) from the default on-heap
    * HDFSBackedStateStoreProvider into RocksDB.
    *
    * Why this is the 100 TB setting: the on-heap provider keeps EVERY key's
    * state as JVM objects in the executor heap — careful logical bounding
    * (top-N level maps, ≤lookback frames, watermark-drained buffers) still
    * multiplies by key cardinality, and at millions of live symbols/users
    * the heap, not the state, is the ceiling (the reference holds the same
    * hot state off-heap in Redis hashes, `DATA_PIPELINE.md:61-213`).
    * RocksDB keeps state in native memory + local SST files, so per-key
    * cost leaves the heap entirely; `boundedMemoryUsage` caps the native
    * block cache + memtables across ALL store instances on an executor so
    * a 1000-executor deployment budgets memory deterministically; changelog
    * checkpointing uploads per-batch deltas instead of full SST snapshots,
    * keeping the checkpoint cost proportional to the batch's writes (the
    * same incremental-not-full economics as the k7 watermark store).
    *
    * Budget at 1 M live keys (BookState shape, the largest state row):
    * MEASURED by [[StateSweep]] (`statesweep.json`, SCALE.md "state cost
    * per key"), one `-Xmx2g` child JVM per point on local[4]. At ~31-level
    * books the on-heap provider holds ~710–725 B/key, flat in cardinality
    * (706.6 at 262k, 724.2 at 524k): 0.38 GB of state completes, and
    * 1,048,576 keys (~0.76 GB, ~38 % of the heap) dies with
    * `OutOfMemoryError: Java heap space`. RocksDB completes every point,
    * its native state flat at ~0.58 GB while keys grow 4× — native memory
    * tracks the hot write set under `boundedMemoryUsage`, not key
    * cardinality. FULL two-sided books (200 levels/side, ~400 levels)
    * cost ~5.6 KB/key on-heap in the r12 uncapped sweep — 1 M full books
    * ≈ 5.6 GB of heap, which is the ceiling that forces this provider
    * swap. Rule: past ~1/3 of the executor heap in keys × bytes/key, flip
    * the provider, not the heap. Set `maxMemoryMB` to the executor's
    * off-heap allowance.
    *
    * Runtime confs — callable on a LIVE session (`configureRocksDbState`)
    * before `.start()`, or baked into the builder here; each streaming
    * query reads the provider class when it starts.
    */
  def withRocksDbStateStore(
      b: SparkSession.Builder,
      maxMemoryMB: Long = 512): SparkSession.Builder = {
    rocksDbConfs(maxMemoryMB).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** Same confs applied to an already-built session (they are runtime
    * confs; queries started AFTER this call use RocksDB, running queries
    * keep the provider recorded in their checkpoint).
    */
  def configureRocksDbState(spark: SparkSession, maxMemoryMB: Long = 512): Unit =
    rocksDbConfs(maxMemoryMB).foreach { case (k, v) => spark.conf.set(k, v) }

  private def rocksDbConfs(maxMemoryMB: Long): Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbStateStoreProvider,
    // one native-memory budget shared by every store instance on the node,
    // instead of per-instance caches that multiply by operator x partition
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> maxMemoryMB.toString,
    // per-batch changelog upload, full snapshot only periodically — the
    // checkpoint write is O(batch writes), not O(total state)
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
}
