package perfbench

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Dump1090MicroBatchStream, Dump1090Table}

object EngineSource {
  /** The engine's own dump1090 stream, built by `Dump1090Table` from the
    * options exactly as `spark.readStream` would build it, so its defaults
    * are the engine's.
    */
  def stream(options: CaseInsensitiveStringMap, ckpt: String): Dump1090MicroBatchStream =
    new Dump1090Table().newScanBuilder(options).build()
      .toMicroBatchStream(ckpt).asInstanceOf[Dump1090MicroBatchStream]

  def stream(options: Map[String, String], ckpt: String): Dump1090MicroBatchStream =
    stream(new CaseInsensitiveStringMap(options.asJava), ckpt)
}

/** The engine's dump1090 table whose micro-batch stream sits behind a
  * delegating [[MicroBatchStream]] that records a span around each public
  * call the micro-batch engine makes. Used by traced runs only.
  *
  * Usage: spark.readStream.format(classOf[TracedDump1090Provider].getName)
  */
class TracedDump1090Provider extends TableProvider {
  private val inner = new Dump1090Table
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inner.schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new Table with SupportsRead {
      override def name(): String = "dump1090-traced"
      override def schema(): StructType = inner.schema()
      override def capabilities(): util.Set[TableCapability] = inner.capabilities()
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        () => new Scan {
          override def readSchema(): StructType = inner.schema()
          override def toMicroBatchStream(ckpt: String): MicroBatchStream =
            new TracedStream(EngineSource.stream(o, ckpt))
        }
    }
}

/** Delegates every call. Spans carry the batch id the engine keeps as a
  * local property of its stream thread; that property still names the
  * previous batch while the next one polls offsets and commits, so the
  * harness regroups spans by the trigger window they fall in.
  */
final class TracedStream(inner: Dump1090MicroBatchStream)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def batch: String =
    Option(SparkSession.getActiveSession.orNull)
      .flatMap(s => Option(s.sparkContext.getLocalProperty("streaming.sql.batchId")))
      .getOrElse("-1")

  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def latestOffset(): Offset =
    Spans.time("sources.latest_offset", "spark.trigger", batch)(inner.latestOffset())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    Spans.time("sources.latest_offset", "spark.trigger", batch)(
      inner.latestOffset(start, limit))
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Spans.time("sources.plan", "spark.trigger", batch)(
      inner.planInputPartitions(start, end))
  override def createReaderFactory(): PartitionReaderFactory =
    inner.createReaderFactory()
  override def commit(end: Offset): Unit =
    Spans.time("sources.commit", "spark.trigger", batch)(inner.commit(end))
  override def stop(): Unit = inner.stop()
}
