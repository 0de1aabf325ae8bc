package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level pins of the `graft-kinesis-file` stream's driver-side
  * [[ShardIndex]]: files are parsed once and re-parsed only when they
  * change, the directory is re-listed on every refresh, and partition
  * planning prunes files without changing what a slice reads. No Spark
  * session: the stream and its readers are driven directly. */
class KinesisFileSourceSpec extends AnyFunSuite {

  private def line(shard: String, seq: Long): String =
    s"$shard\t$seq\tpk\tZGF0YQ=="

  private def write(dir: Path, name: String, recs: (String, Long)*): Unit =
    Files.write(dir.resolve(name),
      recs.map { case (s, n) => line(s, n) }.mkString("", "\n", "\n")
        .getBytes("UTF-8"))

  private def offsets(kv: (String, Long)*): ShardOffsets = ShardOffsets(kv.toMap)

  /** The stream's admitted end from `start` under a per-shard cap. */
  private def admit(s: KinesisFileMicroBatchStream, start: ShardOffsets,
      cap: Long): Map[String, Long] =
    s.latestOffset(start, ReadLimit.maxRows(cap)).asInstanceOf[ShardOffsets].seqs

  private def tips(s: KinesisFileMicroBatchStream): Map[String, Long] =
    s.reportLatestOffset().asInstanceOf[ShardOffsets].seqs

  /** (shard, seq) rows a partition's reader emits, in emission order. */
  private def read(p: InputPartition): Seq[(String, Long)] = {
    val r = new KinesisFileReaderFactory().createReader(p)
    try Iterator.continually(r.next()).takeWhile(identity)
      .map { _ => val row: InternalRow = r.get(); (row.getString(0), row.getLong(1)) }
      .toList
    finally r.close()
  }

  test("files are parsed once; a file added mid-stream is picked up") {
    val dir = Files.createTempDirectory("graft_kfs_add")
    write(dir, "a.txt", "shard-0" -> 1, "shard-0" -> 2, "shard-0" -> 3,
      "shard-1" -> 10, "shard-1" -> 11)
    val s = new KinesisFileMicroBatchStream(dir.toString, 2)
    val e1 = admit(s, offsets(), 2)
    assert(e1 === Map("shard-0" -> 2L, "shard-1" -> 11L))
    assert(tips(s) === Map("shard-0" -> 3L, "shard-1" -> 11L))
    val e2 = admit(s, ShardOffsets(e1), 2)
    assert(e2 === Map("shard-0" -> 3L, "shard-1" -> 11L))
    assert(s.index.parsedFiles === 1L, "an unchanged file was parsed again")

    write(dir, "b.txt", "shard-0" -> 4, "shard-0" -> 5, "shard-2" -> 7)
    assert(admit(s, ShardOffsets(e2), 2) ===
      Map("shard-0" -> 5L, "shard-1" -> 11L, "shard-2" -> 7L))
    assert(tips(s) === Map("shard-0" -> 5L, "shard-1" -> 11L, "shard-2" -> 7L))
    assert(s.index.parsedFiles === 2L)
  }

  test("the per-shard cap counts records across files, duplicates included") {
    val dir = Files.createTempDirectory("graft_kfs_cap")
    write(dir, "a.txt", "shard-0" -> 1, "shard-0" -> 5, "shard-0" -> 9)
    write(dir, "b.txt", "shard-0" -> 2, "shard-0" -> 5, "shard-0" -> 6)
    val s = new KinesisFileMicroBatchStream(dir.toString, Long.MaxValue)
    // sorted new records: 1 2 5 5 6 9
    assert(admit(s, offsets(), 3) === Map("shard-0" -> 5L))
    assert(admit(s, offsets(), 4) === Map("shard-0" -> 5L))
    assert(admit(s, offsets(), 5) === Map("shard-0" -> 6L))
    assert(admit(s, offsets("shard-0" -> 5), 1) === Map("shard-0" -> 6L))
    assert(admit(s, offsets("shard-0" -> 5), 10) === Map("shard-0" -> 9L))
    // nothing new keeps the base offset
    assert(admit(s, offsets("shard-0" -> 9), 10) === Map("shard-0" -> 9L))
  }

  test("a file replaced in place with new content is parsed again") {
    val dir = Files.createTempDirectory("graft_kfs_replace")
    write(dir, "a.txt", "shard-0" -> 1, "shard-0" -> 2)
    val s = new KinesisFileMicroBatchStream(dir.toString, 100)
    assert(admit(s, offsets(), 100) === Map("shard-0" -> 2L))
    // same size, new inode: the producer's temp-then-rename
    write(dir, ".a.tmp", "shard-0" -> 1, "shard-0" -> 8)
    Files.move(dir.resolve(".a.tmp"), dir.resolve("a.txt"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    assert(admit(s, offsets(), 100) === Map("shard-0" -> 8L))
    assert(s.index.parsedFiles === 2L)
    // rewritten through the same inode with a new length
    write(dir, "a.txt", "shard-0" -> 1, "shard-1" -> 30)
    assert(admit(s, offsets(), 100) === Map("shard-0" -> 1L, "shard-1" -> 30L))
    assert(tips(s) === Map("shard-0" -> 1L, "shard-1" -> 30L))
    assert(s.index.parsedFiles === 3L)
  }

  test("a deleted file drops out") {
    val dir = Files.createTempDirectory("graft_kfs_delete")
    write(dir, "a.txt", "shard-0" -> 1, "shard-0" -> 2)
    write(dir, "b.txt", "shard-0" -> 3, "shard-1" -> 4)
    val s = new KinesisFileMicroBatchStream(dir.toString, 100)
    assert(admit(s, offsets(), 100) === Map("shard-0" -> 3L, "shard-1" -> 4L))
    Files.delete(dir.resolve("b.txt"))
    assert(admit(s, offsets(), 100) === Map("shard-0" -> 2L))
    assert(tips(s) === Map("shard-0" -> 2L))
    val parts = s.planInputPartitions(offsets(), offsets("shard-0" -> 2))
    assert(parts.map(_.asInstanceOf[ShardSlicePartition].files).toSeq ===
      Seq(Seq(dir.resolve("a.txt").toString)))
  }

  test("planned partitions list only the files that overlap their slice, " +
      "and read what the unpruned slice reads") {
    val dir = Files.createTempDirectory("graft_kfs_plan")
    write(dir, "f1.txt", (1L to 3L).flatMap(n => Seq("shard-0" -> n, "shard-1" -> n)): _*)
    write(dir, "f2.txt", (4L to 6L).map("shard-0" -> _): _*)
    write(dir, "f3.txt", (4L to 6L).map("shard-1" -> _): _*)
    write(dir, "f4.txt", (9L to 7L by -1).flatMap(n => Seq("shard-0" -> n, "shard-1" -> n)): _*)
    def f(n: Int) = dir.resolve(s"f$n.txt").toString
    val s = new KinesisFileMicroBatchStream(dir.toString, 100)
    val start = offsets("shard-0" -> 3, "shard-1" -> 3)
    val end = offsets("shard-0" -> 6, "shard-1" -> 9)
    val parts = s.planInputPartitions(start, end)
      .map(_.asInstanceOf[ShardSlicePartition]).toSeq
    assert(parts.map(p => (p.shard, p.files, p.fromSeq, p.toSeq)) === Seq(
      ("shard-0", Seq(f(2)), 3L, 6L),
      ("shard-1", Seq(f(3), f(4)), 3L, 9L)))
    val all = (1 to 4).map(f)
    parts.foreach { p =>
      assert(read(p) === read(p.copy(files = all)), s"pruning changed ${p.shard}")
    }
    assert(read(parts(1)) === (4L to 9L).map("shard-1" -> _))

    // the batch twin prunes by shard the same way
    val batch = new KinesisFileBatch(dir.toString).planInputPartitions()
      .map(_.asInstanceOf[ShardSlicePartition]).toSeq
    assert(batch.map(p => (p.shard, p.files)) === Seq(
      ("shard-0", Seq(f(1), f(2), f(4))), ("shard-1", Seq(f(1), f(3), f(4)))))
  }

  test("commit releases consumed files; a range reaching back re-parses them") {
    val dir = Files.createTempDirectory("graft_kfs_release")
    write(dir, "a.txt", "shard-0" -> 1, "shard-0" -> 2)
    write(dir, "b.txt", "shard-0" -> 3, "shard-0" -> 4)
    val s = new KinesisFileMicroBatchStream(dir.toString, 100)
    assert(admit(s, offsets(), 2) === Map("shard-0" -> 2L))
    s.commit(offsets("shard-0" -> 2))
    // past the released file: answered from memory
    assert(admit(s, offsets("shard-0" -> 2), 100) === Map("shard-0" -> 4L))
    assert(s.index.parsedFiles === 2L)
    // from before it: the released file is parsed again, same answer
    // as a fresh stream
    assert(admit(s, offsets(), 3) === Map("shard-0" -> 3L))
    assert(s.index.parsedFiles === 3L)
    assert(tips(s) === Map("shard-0" -> 4L))
  }
}
