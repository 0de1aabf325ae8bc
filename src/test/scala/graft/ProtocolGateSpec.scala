package graft

import java.nio.file.{Files, Paths}

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Protocol version gate (r15, Delta's minReaderVersion/minWriterVersion
  * analog). The failure this prevents is SILENT, not loud: a manifest
  * feature an old engine does not know is not skippable — ignoring
  * `dvec=` lines resurrects deleted rows, ignoring `colmap=` misreads
  * renamed columns, a writer that drops `copy=` lines breaks COPY INTO
  * idempotency. So manifests DECLARE the capability they require and
  * engines REFUSE (loudly) above their ceiling, instead of returning
  * wrong answers.
  */
class ProtocolGateSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def mkLake(dir: String): Unit = {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, i % 4)).toDF("id", "flag")
    LakeSink.createTable(dir, df.schema)
    LakeSink.appendSegment(spark, dir, df, "seg_a")
  }

  private def manifestText(dir: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(dir, "_manifest", f"v$v%010d.txt")), "UTF-8")

  test("baseline lakes carry no gate headers; features bump them") {
    val dir = tmp("graft_gate_base")
    mkLake(dir)
    val m0 = LakeSink.readManifest(dir)
    assert(m0.minReader === 1L && m0.minWriter === 1L)
    assert(!manifestText(dir, m0.version).contains("minreader="))

    // a deletion vector is unreadable-if-ignored → reader 2, writer 2
    LakeSink.deleteWhere(spark, dir, col("flag") === 1L,
      dvMaxFraction = 1.0)
    val m1 = LakeSink.readManifest(dir)
    assert(m1.dv.nonEmpty, "test shape broke: delete took no DV")
    assert(m1.minReader === 2L && m1.minWriter === 2L)
    assert(manifestText(dir, m1.version).contains("minreader=2"))

    // the COPY INTO ledger is uncarryable-if-ignored → writer 3
    import spark.implicits._
    val drop = tmp("graft_gate_drop")
    (100L until 110L).map(i => (i, i % 4)).toDF("id", "flag")
      .coalesce(1).write.mode("overwrite").parquet(drop)
    LakeSink.copyInto(spark, drop, dir)
    val m2 = LakeSink.readManifest(dir)
    assert(m2.minReader === 2L && m2.minWriter === 3L)

    // never-downgrade along the delta chain: purging the DV debt does
    // not re-admit old readers mid-log
    LakeSink.purgeDv(spark, dir)
    val m3 = LakeSink.readManifest(dir)
    assert(m3.dv.isEmpty && m3.minReader === 2L)
  }

  test("a manifest from the future refuses the READER loudly") {
    val dir = tmp("graft_gate_reader")
    mkLake(dir)
    // handcraft v2: a valid snapshot whose features claim reader 99
    Files.write(Paths.get(dir, "_manifest", "v0000000002.txt"),
      "maxb=1\nminreader=99\nseg_a".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      LakeSink.readManifest(dir)
    }
    assert(e.getMessage.contains("requires reader version 99"))
    assert(e.getMessage.contains("upgrade the engine"))
  }

  test("a repeated scalar header fails loud in both record kinds") {
    val dir = tmp("graft_gate_dup")
    mkLake(dir) // v1 create, v2 append
    val md = Paths.get(dir, "_manifest")
    for ((kind, text) <- Seq(
        "snapshot" -> "maxb=1\nmaxb=2\nseg_a",
        "delta" -> "delta=1\nmaxb=1\nmaxb=2",
        "delta" -> "delta=1\nmaxb=1\nschemav=1\nschemav=2",
        "snapshot" -> "maxb=1\nminreader=1\nminreader=2\nseg_a")) {
      Files.write(md.resolve("v0000000003.txt"), text.getBytes("UTF-8"))
      val e = intercept[IllegalStateException] {
        LakeSink.readManifest(dir)
      }
      assert(e.getMessage.contains("repeated"), s"$kind: ${e.getMessage}")
      assert(e.getMessage.contains("manifest v3"), s"$kind: ${e.getMessage}")
    }
  }

  test("unknown headers are ignored in both record kinds (forward compatibility)") {
    val dir = tmp("graft_gate_unknown")
    mkLake(dir) // v1 create, v2 append
    val v2 = LakeSink.readManifest(dir)
    val md = Paths.get(dir, "_manifest")
    // a newer writer's per-commit metrics: unknown keys, even repeated
    Files.write(md.resolve("v0000000003.txt"),
      "delta=1\nmaxb=1\nop=APPEND\nop=X\nrows_in=20\nadd=seg_a3"
        .getBytes("UTF-8"))
    val v3 = LakeSink.readManifest(dir)
    assert(v3.version === 3L && v3.segs === v2.segs :+ "seg_a3")
    assert(v3.schemaJson === v2.schemaJson && v3.maxB === 1L)
    Files.write(md.resolve("v0000000004.txt"),
      "maxb=2\nop=OPTIMIZE\ncommit_ms=17\nseg_a".getBytes("UTF-8"))
    val v4 = LakeSink.readManifest(dir)
    assert(v4.version === 4L && v4.segs === Seq("seg_a") && v4.maxB === 2L)
    assert(v4.minReader === 1L && v4.minWriter === 1L)
  }

  test("a table from the future refuses the WRITER loudly but stays readable") {
    val dir = tmp("graft_gate_writer")
    mkLake(dir)
    Files.write(Paths.get(dir, "_manifest", "v0000000002.txt"),
      "maxb=1\nminwriter=99\nseg_a".getBytes("UTF-8"))
    // reading is within this engine's ceiling — must still work
    assert(LakeSink.readTable(spark, dir).count() === 20L)
    assert(LakeSink.readManifest(dir).minWriter === 99L)
    // any commit path must refuse before touching the log
    import spark.implicits._
    val e = intercept[RuntimeException] {
      LakeSink.appendSegment(spark, dir,
        Seq((99L, 0L)).toDF("id", "flag"), "seg_new")
    }
    assert(e.getMessage.contains("requires writer version 99"))
    val e2 = intercept[RuntimeException] {
      LakeSink.deleteWhere(spark, dir, col("flag") === 0L)
    }
    assert(e2.getMessage.contains("requires writer version 99"))
    // nothing committed
    assert(LakeSink.readManifest(dir).version === 2L)
  }

  test("clone and restore carry the gate with the state they publish") {
    val dir = tmp("graft_gate_clone_src")
    mkLake(dir) // v1 create, v2 append
    LakeSink.deleteWhere(spark, dir, col("flag") === 1L,
      dvMaxFraction = 1.0) // v3: DVs
    val cl = tmp("graft_gate_clone_dst")
    LakeSink.cloneTable(spark, dir, cl)
    assert(LakeSink.readManifest(cl).minReader === 2L,
      "clone dropped the reader gate with the DVs it carries")
    // restore to the PRE-DV state: the declared minimums DO NOT relax
    // (r16, Delta's rule — RESTORE never downgrades the protocol).
    // Re-deriving the gate from visible state alone would silently
    // re-admit old engines after a restore on a chain whose minimums
    // were raised by a feature THIS engine cannot see; undoing data
    // must not undo the fence.
    LakeSink.restoreTable(spark, dir, 2L)
    assert(LakeSink.readManifest(dir).minReader === 2L)
    assert(LakeSink.manifestAt(dir, 3L).minReader === 2L)
    // re-publishing the DV'd state keeps it, of course
    LakeSink.restoreTable(spark, dir, 3L)
    assert(LakeSink.readManifest(dir).minReader === 2L)
  }

  test("RESTORE / CLONE / RTAS refuse a future WRITER; snapshots keep the floor") {
    import spark.implicits._
    // --- restore refuses when the TIP is from the future
    val dir = tmp("graft_gate_restore_fut")
    mkLake(dir) // v1 create, v2 append
    Files.write(Paths.get(dir, "_manifest", "v0000000003.txt"),
      "maxb=1\nminwriter=99\nseg_a".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      LakeSink.restoreTable(spark, dir, 2L)
    }
    assert(e.getMessage.contains("requires writer version 99"))
    assert(LakeSink.readManifest(dir).version === 3L, "restore committed")

    // --- clone refuses when the SOURCE version is from the future
    val e2 = intercept[RuntimeException] {
      LakeSink.cloneTable(spark, dir, tmp("graft_gate_clone_fut"))
    }
    assert(e2.getMessage.contains("requires writer version 99"))

    // --- RTAS refuses BEFORE staging any replacement data
    val e3 = intercept[RuntimeException] {
      LakeSink.replaceTableAs(spark, dir,
        Seq((1L, 2L)).toDF("id", "flag"))
    }
    assert(e3.getMessage.contains("requires writer version 99"))

    // --- a mid-ceiling floor (writer 3 ≤ supported) survives clone,
    // restore, RTAS, and a full-SNAPSHOT commit even though the
    // visible state derives a lower requirement
    val d2 = tmp("graft_gate_floor")
    mkLake(d2)
    Files.write(Paths.get(d2, "_manifest", "v0000000003.txt"),
      "maxb=1\nminwriter=3\nseg_a".getBytes("UTF-8"))
    val cl2 = tmp("graft_gate_floor_clone")
    LakeSink.cloneTable(spark, d2, cl2)
    assert(LakeSink.readManifest(cl2).minWriter === 3L,
      "clone re-derived the gate from state and downgraded it")
    LakeSink.restoreTable(spark, d2, 2L)
    assert(LakeSink.readManifest(d2).minWriter === 3L,
      "restore re-derived the gate from state and downgraded it")
    LakeSink.replaceTableAs(spark, d2, Seq((7L, 1L)).toDF("id", "flag"))
    assert(LakeSink.readManifest(d2).minWriter === 3L,
      "RTAS re-derived the gate from state and downgraded it")
    // drive the chain to the next snapshot interval boundary: the
    // full snapshot must carry the floor too (the delta path already
    // maxes against the parent)
    val mNow = LakeSink.readManifest(d2)
    (mNow.version until 32L).foreach { _ =>
      val p = LakeSink.readManifest(d2)
      assert(LakeSink.commitNext(d2, p, p.copy(version = p.version + 1)))
    }
    val m32 = LakeSink.readManifest(d2)
    assert(m32.version === 32L, "test shape broke: expected v32")
    assert(manifestText(d2, 32L).contains("minwriter=3"),
      "the v32 full snapshot dropped the declared floor")
    assert(m32.minWriter === 3L)
  }
}
