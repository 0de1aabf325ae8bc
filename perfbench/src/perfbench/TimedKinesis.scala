package perfbench

import java.util
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{KinesisFileProvider, ShardSlicePartition}

/** Counters of the timing wrapper. Readers run on executor threads of
  * the same JVM (local mode), so plain process-wide counters see them. */
object SourceCounters {
  @volatile var recorder: Recorder = _
  val records = new AtomicLong
  val bytesDelivered = new AtomicLong
  val bytesScanned = new AtomicLong
  val readMs = new DoubleAdder
  val calls = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def reset(): Unit = {
    Seq(records, bytesDelivered, bytesScanned).foreach(_.set(0))
    readMs.reset(); calls.clear(); counts.clear()
  }

  def timed[A](name: String)(f: => A): A = {
    val t0 = Clock.nowMs()
    try f finally {
      val t1 = Clock.nowMs()
      calls.computeIfAbsent(name, _ => new DoubleAdder).add(t1 - t0)
      counts.computeIfAbsent(name, _ => new AtomicLong).incrementAndGet()
      Option(recorder).foreach(_.span("sources", name, t0, t1))
    }
  }

  /** Mean ms per call of one SPI method. */
  def meanMs(name: String): Double = {
    val n = Option(counts.get(name)).map(_.get).getOrElse(0L)
    if (n == 0) 0.0 else calls.get(name).sum / n
  }
}

/** `graft-kinesis-file`, timed: delegates every DSv2 call to
  * [[KinesisFileProvider]] and its micro-batch stream, and times each
  * SPI call from outside. Used only by the traced run; the untraced run
  * reads through the plain provider. */
class TimedKinesisProvider extends TableProvider {
  private val inner = new KinesisFileProvider
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inner.inferSchema(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val t = inner.getTable(schema, partitioning, properties).asInstanceOf[Table with SupportsRead]
    new Table with SupportsRead {
      override def name(): String = t.name()
      override def schema(): StructType = t.schema()
      override def capabilities(): util.Set[TableCapability] = t.capabilities()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val sb = t.newScanBuilder(options)
        () => {
          val scan = sb.build()
          new Scan {
            override def readSchema(): StructType = scan.readSchema()
            override def toBatch: Batch = scan.toBatch
            override def toMicroBatchStream(ckpt: String): MicroBatchStream =
              new TimedStream(scan.toMicroBatchStream(ckpt)
                .asInstanceOf[MicroBatchStream with SupportsAdmissionControl])
          }
        }
      }
    }
  }
}

class TimedStream(inner: MicroBatchStream with SupportsAdmissionControl)
    extends MicroBatchStream with SupportsAdmissionControl {
  import SourceCounters.timed
  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    timed("latest_offset")(inner.latestOffset(start, limit))
  override def reportLatestOffset(): Offset = timed("report_latest")(inner.reportLatestOffset())
  override def latestOffset(): Offset = inner.latestOffset()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    timed("plan_partitions")(inner.planInputPartitions(start, end))
  override def createReaderFactory(): PartitionReaderFactory =
    new TimedReaderFactory(inner.createReaderFactory())
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
}

/** Times each shard reader from creation (the delegate reads its files
  * eagerly there) to close, and counts the bytes it scanned (the files
  * the source handed to the partition) against the bytes it delivered. */
class TimedReaderFactory(inner: PartitionReaderFactory) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val t0 = Clock.nowMs()
    partition match {
      case p: ShardSlicePartition =>
        SourceCounters.bytesScanned.addAndGet(p.files.map(f => new java.io.File(f).length()).sum)
      case _ =>
    }
    val r = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val row = r.get()
        SourceCounters.records.incrementAndGet()
        SourceCounters.bytesDelivered.addAndGet(row.getUTF8String(0).numBytes() +
          row.getLong(1).toString.length + row.getUTF8String(2).numBytes() +
          row.getUTF8String(3).numBytes() + 4L)
        row
      }
      override def close(): Unit = {
        r.close()
        SourceCounters.readMs.add(Clock.nowMs() - t0)
      }
    }
  }
}
