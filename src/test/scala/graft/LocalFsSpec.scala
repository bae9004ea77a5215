package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.HotPath

/** The fork-free `file:` filesystem ([[NioRawLocalFileSystem]] and its
  * wrappers): same permission bits, symlink answers, checksummed rename and
  * scheme resolution as Hadoop's stock local filesystem, and no process
  * started while a stateful stream commits micro-batches.
  */
class LocalFsSpec extends SparkSpec {

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def modeOf(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  test("files and directories get the stock permission bits, default and 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stock = initialized(new RawLocalFileSystem, conf)
      val nio = initialized(new NioRawLocalFileSystem, conf)
      val modes = Seq(stock, nio).map { fs =>
        val root = tmp("graft-localfs-perm")
        val file = new Path(root.toString, "f.bin")
        fs.create(file).close()
        val dir = new Path(root.toString, "a/b")
        assert(fs.mkdirs(dir))
        val explicit = new Path(root.toString, "g.bin")
        fs.create(explicit).close()
        fs.setPermission(explicit, new FsPermission("751"))
        Seq(file, dir, new Path(root.toString, "a"), explicit)
          .map(p => modeOf(java.nio.file.Paths.get(p.toUri.getPath)))
      }
      assert(modes(1) === modes(0), s"umask $umask")
      val expected = if (umask.isDefined) Seq("rw-------", "rwx------", "rwx------")
        else Seq("rw-r--r--", "rwxr-xr-x", "rwxr-xr-x")
      assert(modes(1) === expected :+ "rwxr-x--x", s"umask $umask")
    }
  }

  test("FileContext: a real symlink reports isSymlink, a regular file does not") {
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val root = tmp("graft-localfs-link")
    val target = Files.writeString(root.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(root.resolve("link.txt"), target)
    val linkStatus = fc.getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink)
    assert(linkStatus.getSymlink.toUri.getPath === target.toString)
    val fileStatus = fc.getFileLinkStatus(new Path(target.toString))
    assert(!fileStatus.isSymlink && fileStatus.isFile && fileStatus.getLen === 1L)
    // qualified paths resolve exactly as the stock class resolves them
    assert(fc.getFileLinkStatus(new Path(target.toUri.toString)).isFile)
    intercept[java.io.FileNotFoundException](
      fc.getFileLinkStatus(new Path(root.resolve("missing").toUri.toString)))
  }

  test("FileContext rename with OVERWRITE moves the data file and its .crc") {
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    val root = tmp("graft-localfs-rename")
    def write(name: String, body: String): Path = {
      val p = new Path(root.toUri.toString, name)
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    val src = write("tmp-1.delta", "new state")
    val dst = write("1.delta", "old")
    assert(Files.exists(root.resolve(".tmp-1.delta.crc")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(root.resolve("tmp-1.delta")))
    assert(!Files.exists(root.resolve(".tmp-1.delta.crc")))
    assert(Files.readString(root.resolve("1.delta")) === "new state")
    assert(Files.exists(root.resolve(".1.delta.crc")))
    // the moved checksum verifies the moved bytes on read
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") === "new state") finally in.close()
  }

  test("file: resolves to the fork-free classes; other schemes resolve as before") {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = new Path("file:///tmp").getFileSystem(conf)
    assert(local.getClass === classOf[NioLocalFileSystem])
    assert(local.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(graft.sources.GraftFs.fs(new Path("file:///tmp"), conf).isInstanceOf[NioRawLocalFileSystem])
    val plain = new Configuration()
    for (scheme <- Seq("hdfs", "viewfs", "har"))
      assert(FileSystem.getFileSystemClass(scheme, conf) ===
        FileSystem.getFileSystemClass(scheme, plain), scheme)
    assert(GraftSession.LocalFsConfs.forall(_._1.endsWith(".file.impl")))
  }

  test("a dirBytes call before the session cannot pin the stock file: FileSystem") {
    val dir = tmp("graft-localfs-cache")
    Files.write(dir.resolve("x.bin"), new Array[Byte](10))
    val sessionConf = spark.sparkContext.hadoopConfiguration
    // Hadoop caches one file: FileSystem per user, whatever the
    // configuration; a fresh user has an empty slot, so each block replays
    // "this call touches file: first" whatever ran earlier in this JVM
    def firstTouch(user: String)(touch: => Unit): Class[_] =
      UserGroupInformation.createRemoteUser(user).doAs(
        new PrivilegedExceptionAction[Class[_]] {
          def run(): Class[_] = {
            touch
            new Path(dir.toString).getFileSystem(sessionConf).getClass
          }
        })
    // the hole this guards against: a plain Configuration pins whichever
    // class the classpath registers for file: (Hadoop's LocalFileSystem, or
    // Hive's ProxyLocalFileSystem when hive-exec is on it), never ours
    assert(firstTouch("graft-localfs-plain") {
      new Path(dir.toString).getFileSystem(new Configuration())
    } !== classOf[NioLocalFileSystem])
    assert(firstTouch("graft-localfs-dirbytes") {
      assert(GraftSession.dirBytes(dir.toString) === 10L)
    } === classOf[NioLocalFileSystem])
  }

  test("stateful micro-batches start no process for the filesystem or the stream (JFR)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stats = HotPath.windowedTradeStats(
      mem.toDF().toDF("ts", "symbol", "price").withColumn("qty", lit(1.0)),
      "ts", "symbol", "price", "qty", windowDuration = "1 second", watermark = "2 seconds")
    val ckpt = tmp("graft-localfs-jfr")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val q = stats.writeStream.outputMode("append").format("memory")
      .queryName("localfs_jfr").option("checkpointLocation", ckpt.toString).start()
    try {
      for (b <- 0 until 5) {
        mem.addData((0 until 50).map { i =>
          (new java.sql.Timestamp(b * 2000L + i * 37L), s"S${i % 4}", 100.0 + i)
        }: _*)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      rec.stop()
    }
    assert(q.recentProgress.count(_.numInputRows > 0) === 5)
    assert(spark.table("localfs_jfr").count() > 0)
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    // the recording is JVM-wide; count the starts made on behalf of the
    // filesystem or the streaming engine. Unrelated JVM-wide housekeeping
    // (the executor heartbeat's one-time `getconf PAGESIZE`, `rm -rf` of a
    // collected session's artifacts) has neither in its stack.
    def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => frames(e).exists(f => f.startsWith("org.apache.hadoop.") ||
        f.startsWith("org.apache.spark.sql.execution.streaming.")))
    assert(starts.size == 0, starts.take(3).map(e =>
      e.getString("command") + " @ " + frames(e).take(12).mkString(" < ")).mkString("; "))
    // checksums are still written: Hadoop's .crc sidecars on the logs and
    // state files, and Spark's checkpoint checksum file beside each delta
    val written = Files.walk(ckpt).iterator().asScala.map(ckpt.relativize(_).toString).toSet
    for (f <- Seq("offsets/.0.crc", "commits/.0.crc", "state/0/0/1.delta",
        "state/0/0/.1.delta.crc", "state/0/0/1.delta.crc"))
      assert(written.contains(f), f)
  }
}
