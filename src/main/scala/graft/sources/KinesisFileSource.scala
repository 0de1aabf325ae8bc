package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-kinesis-file` — a DataSourceV2 MICRO-BATCH SOURCE that
  * replays Kinesis-style envelope fixtures shard-by-shard, exercising
  * the exact SPI seam a real Kinesis connector plugs into
  * (`MicroBatchStream`: offsets, partition planning, checkpoint
  * restart). No Kinesis jar ships in this container (SURVEY.md §0), so
  * the "stream" is a directory of text files; everything ABOVE the
  * byte-reading is the real consumer contract:
  *
  *  - record    = one line `shard \t sequence_number \t partition_key
  *    \t base64(data)`; shard identity lives IN the record, not in the
  *    file name, so the file layout can change (resharding) without
  *    touching consumer state.
  *  - shard     = unit of parallelism and ordering: one
  *    `InputPartition` per shard per micro-batch; the reader restores
  *    per-shard sequence order (Kinesis guarantees order within a
  *    shard, never across shards).
  *  - offset    = `{shard → highest consumed sequence_number}`,
  *    JSON-serialized through the DSv2 offset API — the exact
  *    checkpoint a KCL consumer keeps in its lease table. Restart
  *    resumes strictly after the committed sequence numbers; a shard
  *    unknown to the checkpoint starts from the beginning (a child of
  *    a split, or a brand-new shard).
  *  - admission = `maxRecordsPerShardPerBatch` caps how far each
  *    trigger advances per shard (the `get_records` Limit parameter),
  *    so a backlog drains as a sequence of bounded micro-batches.
  *
  * Scale honesty: a PRODUCTION connector maps one shard to one remote
  * byte-stream and reads each record once, from its shard iterator.
  * This fixture gets close on files: the driver parses each envelope
  * file ONCE into a [[ShardIndex]] (per shard, the file's sorted
  * sequence numbers), so offsets and the per-shard cap answer from
  * memory, and each shard slice is handed only the files whose
  * [min, max] for that shard overlaps its range. What stays
  * fixture-grade: a reader parses whole files and filters to its shard
  * (read amplification O(shards sharing a file), not O(shards × all
  * bytes)), sorts its slice in memory, and the driver holds the
  * sequence numbers of every unconsumed record (consumed files keep
  * only their bounds). The DSv2 surface above it (offsets, per-shard
  * partitions, restart, rate limit) IS the scale design.
  *
  * Also exposes BATCH_READ over the same files, so a fixture can be
  * read as a plain DataFrame and checked against the DuckDB oracle —
  * that is what upgrades the §2 streaming-source row from tests-only
  * to oracle-checked (`source_kinesis_dsv2`).
  */
class KinesisFileProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis-file"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisFileTable(properties.asScala.toMap)
}

object KinesisFileSource {
  val schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("data", StringType, nullable = false)))

  final case class Record(shard: String, seq: Long, pk: String, data: String)

  /** Parse one envelope line; malformed input fails loud — a consumer
    * that silently drops records is the worst Kinesis bug. */
  def parseLine(line: String): Record = {
    val f = line.split('\t')
    require(f.length == 4, s"malformed envelope line (${f.length} fields): " +
      line.take(120))
    Record(f(0), f(1).toLong, f(2), f(3))
  }

  def readAll(files: Seq[String]): Iterator[Record] =
    files.iterator.flatMap { p =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(p)).asScala.iterator
        .filter(_.nonEmpty).map(parseLine)
    }
}

/** Offset = per-shard highest consumed sequence number. Case class so
  * the engine's offset equality (did anything new arrive?) is
  * structural. JSON keys sorted for a canonical, diffable form. */
final case class ShardOffsets(seqs: Map[String, Long]) extends Offset {
  override def json(): String =
    seqs.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }
      .mkString("{", ",", "}")
}

object ShardOffsets {
  private val entry = """"([^"]+)"\s*:\s*(-?\d+)""".r
  def fromJson(json: String): ShardOffsets =
    ShardOffsets(entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

/** Driver-side index of one envelope directory: the fixture's
  * stand-in for a consumer's shard iterators. Each file is parsed ONCE,
  * keyed by its path and its (size, mtime, `fileKey`) stamp; per shard
  * it keeps the file's sorted sequence numbers. Offsets, the per-shard
  * cap and partition planning then answer from memory, and a
  * [[refresh]] costs one listing and one stat per file. A file replaced
  * in place (new size, mtime or inode) is parsed again; a deleted file
  * drops out. [[release]] drops the sequence arrays of files consumed
  * in every shard they hold and keeps only their per-shard bounds, so
  * driver memory is O(unconsumed records + files). A released file is
  * parsed again only if a later range reaches back into it.
  *
  * A cache, never a source of truth: every answer is a function of the
  * files on disk and the offsets the caller passes in. */
final class ShardIndex(dir: String) {
  import ShardIndex._

  private var entries = Map.empty[String, Entry]
  private var parses = 0L

  /** Files parsed since construction (a stamp change or a reach-back
    * into a released file counts again). */
  def parsedFiles: Long = synchronized(parses)

  /** Re-list the directory's `*.txt` files: keep entries whose stamp is
    * unchanged, parse new and changed files, drop vanished ones. One
    * stat per file. */
  def refresh(): Unit = synchronized {
    val d = new java.io.File(dir)
    val names = d.list()
    require(names != null, s"graft-kinesis-file path is not a directory: $dir")
    entries = names.iterator.filter(_.endsWith(".txt")).flatMap { n =>
      val p = new java.io.File(d, n).getPath
      vanishing(stampOf(p)).flatten.flatMap { st =>
        entries.get(p).filter(_.stamp == st)
          .orElse(vanishing(parse(p, st))).map(p -> _)
      }
    }.toMap
  }

  /** Highest sequence number per shard across the files as of the last
    * [[refresh]]. */
  def tips: Map[String, Long] = synchronized {
    entries.valuesIterator.flatMap(_.runs).foldLeft(Map.empty[String, Long]) {
      case (m, (s, r)) => m.updated(s, math.max(m.getOrElse(s, r.max), r.max))
    }
  }

  /** Per-shard end offsets advancing at most `maxPerShard` RECORDS past
    * `base`: admission control by record count (the `get_records`
    * Limit semantic), not sequence arithmetic. Shard-local sequence
    * numbers are sparse (e.g. a global id sharded by partition key), so
    * `base + N` would be wrong in both directions. A shard with nothing
    * new keeps its base offset. */
  def capped(base: Map[String, Long], maxPerShard: Long): Map[String, Long] =
    synchronized {
      shards.map { shard =>
        val from = base.getOrElse(shard, Long.MinValue)
        val tails = entries.toSeq.collect {
          case (p, e) if e.runs.get(shard).exists(_.max > from) =>
            val seqs = seqsOf(p, shard)
            java.util.Arrays.copyOfRange(seqs, upperBound(seqs, from),
              seqs.length)
        }
        val n = tails.map(_.length.toLong).sum
        val end =
          if (n == 0) from
          else if (maxPerShard >= n) tails.map(_.last).max
          else {
            val all = tails.toArray.flatten
            java.util.Arrays.sort(all)
            all(maxPerShard.toInt - 1)
          }
        shard -> end
      }.filter(_._2 != Long.MinValue).toMap
    }

  /** Files holding records of `shard` with from < seq <= to, sorted by
    * path. */
  def filesFor(shard: String, from: Long, to: Long): Seq[String] =
    synchronized {
      entries.toSeq.collect {
        case (p, e) if e.runs.get(shard).exists(r => r.min <= to && r.max > from) => p
      }.sorted
    }

  /** Forget the sequence numbers of files consumed through `end` in
    * every shard they hold; keep their bounds. */
  def release(end: Map[String, Long]): Unit = synchronized {
    entries = entries.map { case (p, e) =>
      if (e.runs.forall { case (s, r) => r.max <= end.getOrElse(s, Long.MinValue) })
        p -> e.copy(runs = e.runs.map { case (s, r) => s -> r.copy(seqs = None) })
      else p -> e
    }
  }

  private def shards: Seq[String] =
    entries.valuesIterator.flatMap(_.runs.keys).toSeq.distinct

  /** One shard's sorted sequence numbers in file `p`, parsing the file
    * again if they were released. */
  private def seqsOf(p: String, shard: String): Array[Long] =
    entries(p).runs(shard).seqs.getOrElse {
      val e = parse(p, entries(p).stamp)
      entries = entries.updated(p, e)
      e.runs.get(shard).flatMap(_.seqs).getOrElse(Array.emptyLongArray)
    }

  private def parse(p: String, st: Stamp): Entry = {
    parses += 1
    val byShard = scala.collection.mutable.HashMap.empty[String,
      scala.collection.mutable.ArrayBuilder.ofLong]
    KinesisFileSource.readAll(Seq(p)).foreach { r =>
      byShard.getOrElseUpdate(r.shard,
        new scala.collection.mutable.ArrayBuilder.ofLong) += r.seq
    }
    Entry(st, byShard.map { case (s, b) =>
      val seqs = b.result()
      java.util.Arrays.sort(seqs)
      s -> Run(seqs.head, seqs.last, Some(seqs))
    }.toMap)
  }
}

object ShardIndex {
  private final case class Stamp(size: Long, mtimeNs: Long, key: AnyRef)
  /** One shard's records in one file: bounds, and the sorted sequence
    * numbers until released. */
  private final case class Run(min: Long, max: Long, seqs: Option[Array[Long]])
  private final case class Entry(stamp: Stamp, runs: Map[String, Run])

  /** The file's stamp, or None when it is not a regular file. */
  private def stampOf(p: String): Option[Stamp] = {
    val a = java.nio.file.Files.readAttributes(java.nio.file.Paths.get(p),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    if (!a.isRegularFile) None
    else Some(Stamp(a.size,
      a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS), a.fileKey))
  }

  /** `f`, or None when the file vanished after the listing. */
  private def vanishing[A](f: => A): Option[A] =
    try Some(f) catch { case _: java.nio.file.NoSuchFileException => None }

  /** Index of the first element of sorted `a` greater than `x`. */
  private def upperBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }
}

class KinesisFileTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val dir = properties.getOrElse("path",
    sys.error("graft-kinesis-file requires a path"))
  override def name(): String = s"graft-kinesis-file:$dir"
  override def schema(): StructType = KinesisFileSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new KinesisFileScan(dir,
      Option(options.get("maxRecordsPerShardPerBatch")).map(_.toLong)
        .getOrElse(Long.MaxValue))
}

class KinesisFileScan(dir: String, maxPerShard: Long) extends Scan {
  override def readSchema(): StructType = KinesisFileSource.schema
  override def toBatch: Batch = new KinesisFileBatch(dir)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KinesisFileMicroBatchStream(dir, maxPerShard)
}

/** One micro-batch slice of one shard: records with
  * fromSeq < sequence_number <= toSeq, in sequence order. */
final case class ShardSlicePartition(shard: String, files: Seq[String],
    fromSeq: Long, toSeq: Long) extends InputPartition

/** Admission control receives the start offset from the engine
  * (`SupportsAdmissionControl.latestOffset(start, limit)`), so the
  * stream keeps NO consumption state of its own: the checkpoint is the
  * single source of truth, which is what makes restart and resharding
  * correct for free. Its [[ShardIndex]] only caches what the files
  * hold. (A plain `MicroBatchStream.latestOffset()` MUST report
  * everything available: rate-capping it starves
  * `processAllAvailable`, which compares committed offsets against the
  * capped report and concludes the stream is caught up after one
  * batch.) */
class KinesisFileMicroBatchStream(dir: String, maxPerShard: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  private[sources] val index = new ShardIndex(dir)

  override def initialOffset(): Offset = ShardOffsets(Map.empty)

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerShard == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerShard)

  /** The engine's per-trigger admitted end: at most `limit` records
    * PER SHARD past `start` (the get_records Limit semantic). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val base = start.asInstanceOf[ShardOffsets].seqs
    val cap = limit match {
      case _: ReadAllAvailable => Long.MaxValue
      case m: ReadMaxRows => m.maxRows()
      case _ => maxPerShard
    }
    index.refresh()
    ShardOffsets(index.capped(base, cap))
  }

  /** True tip of every shard, uncapped: what tells the engine's progress
    * how far behind the admitted offset is. The engine calls it right
    * after `latestOffset`, so it answers from that refresh. */
  override def reportLatestOffset(): Offset = ShardOffsets(index.tips)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl.latestOffset(start, limit) is used")

  /** Refreshes first: a restarted query plans its recovered batch
    * without a `latestOffset` call, and a file landing after
    * `latestOffset` may still hold records inside the range. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].seqs
    val e = end.asInstanceOf[ShardOffsets].seqs
    index.refresh()
    e.toSeq.sortBy(_._1).flatMap { case (shard, to) =>
      val from = s.getOrElse(shard, Long.MinValue)
      if (to > from)
        Some(ShardSlicePartition(shard, index.filesFor(shard, from, to), from, to))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisFileReaderFactory

  /** Files never truncate; the index forgets what is consumed. */
  override def commit(end: Offset): Unit =
    index.release(end.asInstanceOf[ShardOffsets].seqs)
  override def stop(): Unit = ()
}

/** Batch read = every record, one partition per shard (full range),
  * each handed only the files holding that shard. */
class KinesisFileBatch(dir: String) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val index = new ShardIndex(dir)
    index.refresh()
    index.tips.toSeq.sortBy(_._1).map { case (shard, tip) =>
      ShardSlicePartition(shard, index.filesFor(shard, Long.MinValue, tip),
        Long.MinValue, tip): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisFileReaderFactory
}

class KinesisFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardSlicePartition]
    new PartitionReader[InternalRow] {
      // restore per-shard sequence order across files: a resharded
      // fixture may spread one shard's records over several files
      private val it = KinesisFileSource.readAll(p.files)
        .filter(r => r.shard == p.shard && r.seq > p.fromSeq && r.seq <= p.toSeq)
        .toArray.sortBy(_.seq).iterator
      private var cur: KinesisFileSource.Record = _
      override def next(): Boolean = {
        if (it.hasNext) { cur = it.next(); true } else false
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(cur.shard), cur.seq,
        UTF8String.fromString(cur.pk), UTF8String.fromString(cur.data)))
      override def close(): Unit = ()
    }
  }
}
