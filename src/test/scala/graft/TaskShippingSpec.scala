package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Avro
import graft.sources.{AvroOcfBatchWrite, AvroOcfReaderFactory, AvroOcfScan, AvroOcfWriterFactory, SbeFrameMicroBatchStream, SbeFrameReaderFactory, SbeFrameScan, SbeFrameSource}

/** What every task of a query carries besides its rows: the custom
  * sources' reader and writer factories ship a broadcast Hadoop
  * configuration (its id, not its ~34 KB of properties), and tasks run
  * under the application class loader, not a per-session
  * `ExecutorClassLoader` ([[GraftSession.withEngineConfs]]).
  */
class TaskShippingSpec extends SparkSpec {
  import TaskShippingSpec._

  private def serializedBytes(o: AnyRef): Int =
    new JavaSerializer(spark.sparkContext.getConf).newInstance().serialize(o).remaining()

  private def mkFeed(): File = {
    val d = Files.createTempDirectory("ship_feed").toFile
    SbeFrameSource.writeFrameFile(
      new File(d, "cap_00000.sbef"), Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5)))
    d
  }

  // a bare Hadoop Configuration alone serializes to ~34 KB
  private val MaxFactoryBytes = 4096

  test("reader and writer factories serialize to a few KB, not a Configuration") {
    spark // the factories broadcast through the active session
    val feed = mkFeed().toString
    val avroDir = Files.createTempDirectory("ship_avro").toString
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val avroScan = new AvroOcfScan(avroDir, None, schema, 128L << 20, None)
    val writeInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    val factories = Seq(
      "sbe-frames stream" -> new SbeFrameMicroBatchStream(feed, None).createReaderFactory(),
      "sbe-frames batch" -> new SbeFrameScan(feed, None).toBatch.createReaderFactory(),
      "avro-ocf batch" -> avroScan.toBatch.createReaderFactory(),
      "avro-ocf stream" -> avroScan.toMicroBatchStream(avroDir).createReaderFactory(),
      "avro-ocf write" -> new AvroOcfBatchWrite(
        avroDir, Avro.avroSchemaFor(schema, "Record", "graft").toString, schema,
        "deflate", 6, 512, doTruncate = false).createBatchWriterFactory(writeInfo))
    assert(factories.map(_._2.getClass) === Seq(
      classOf[SbeFrameReaderFactory], classOf[SbeFrameReaderFactory],
      classOf[AvroOcfReaderFactory], classOf[AvroOcfReaderFactory],
      classOf[AvroOcfWriterFactory]))
    val bytes = factories.map { case (what, f) => what -> serializedBytes(f) }
    assert(bytes.forall(_._2 < MaxFactoryBytes), s"serialized factory bytes: $bytes")
  }

  test("one broadcast per stream: every micro-batch's factory shares its id") {
    spark
    val stream = new SbeFrameMicroBatchStream(mkFeed().toString, None)
    def bcId = stream.createReaderFactory().asInstanceOf[SbeFrameReaderFactory].conf.id
    val (first, second) = (bcId, bcId)
    assert(first === second)
  }

  test("tasks run under the application class loader, streaming and batch") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("sbe-frames").load(mkFeed().toString)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ship_ckpt").toString)
      .foreachBatch((batch: DataFrame, _: Long) => taskLoaders(batch).foreach(seen.add))
      .start()
    try q.awaitTermination() finally q.stop()
    val streaming = seen.toArray.toSeq.map(_.toString)
    val batch = taskLoaders(spark.range(0, 4, 1, 4).toDF())
    assert(streaming.nonEmpty && batch.nonEmpty)
    (streaming ++ batch).foreach { cl =>
      assert(cl != "org.apache.spark.executor.ExecutorClassLoader",
        s"task context class loader is $cl (streaming: $streaming, batch: $batch)")
    }
  }
}

object TaskShippingSpec {
  /** The context class loader each task of a job over `df` ran under. */
  def taskLoaders(df: DataFrame): Seq[String] =
    df.mapPartitions(_ => Iterator(Thread.currentThread().getContextClassLoader.getClass.getName))(
      Encoders.STRING).collect().toSeq.distinct
}
