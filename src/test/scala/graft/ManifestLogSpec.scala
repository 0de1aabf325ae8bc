package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest LOG (r11): most commits are small DELTA records, every
  * snapshotInterval-th version is a full snapshot, vacuum materializes
  * a `.snap` checkpoint at the retention boundary. What must hold:
  *
  *  - a long append chain crossing a snapshot boundary reconstructs
  *    the exact same state at every version (tip read, time travel);
  *  - DESCRIBE HISTORY diffs stay correct across the boundary;
  *  - the change feed walks windows spanning the boundary;
  *  - vacuum of a delta-tail log keeps every retained version readable
  *    (the checkpoint materialization) while GC'ing below it;
  *  - an external full-snapshot commit mid-chain (the backward-compat
  *    path) composes with deltas on both sides;
  *  - delta files stay O(edit)-sized while snapshots are O(segments) —
  *    the write-amplification bound the log exists for.
  */
class ManifestLogSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def freshLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mlog_spec").toString
    Seq(0L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/seg_b0")
    assert(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, -1L, Seq("seg_b0"))))
    dir
  }

  private def append(dir: String, i: Int): Long =
    LakeSink.appendSegment(spark, dir,
      Seq(i.toLong).toDF("v"), s"seg_a$i")

  // ---- golden bytes: the on-disk format, pinned ---------------------
  // Captured from the encoder of commit 9c36777 (before the single
  // line-kind table), so tables written before and after read alike;
  // any codec edit that changes a byte fails here.

  private val goldenSchema =
    """{"type":"struct","fields":[{"name":"k","type":"long",""" +
      """"nullable":true,"metadata":{}}]}"""

  private val goldenSnapshot = LakeSink.Manifest(1L, 7L,
    Seq("seg_b0", "seg_b1", "seg_c2"),
    schemaV = 2L, schemaJson = Some(goldenSchema),
    stats = Map(
      "seg_b0" -> Map("k" -> LakeSink.LongStat(-5L, 9L, 0L),
        "s" -> LakeSink.StrStat("a|b=c", "é漢😀", 2L)),
      "seg_b1" -> Map("k" -> LakeSink.LongStat(10L, 20L, -1L))),
    txns = Map("app1" -> 4L, "zeta" -> 0L),
    expects = Map("k_pos" -> "k > 0 OR s = 'a|b'",
      "a_nn" -> "s IS NOT NULL"),
    cdcSegs = Seq("seg_cdc1"), dataChange = false,
    dv = Map("seg_b1" -> LakeSink.DvRef("dv_seg_b1_1", 3L)),
    colmap = Map("k" -> "k", "s" -> "s_p1"),
    partSpec = Some("day,s_p1"),
    parts = Map(
      "seg_b0" -> LakeSink.PartVal("day", Some("2024-01-01"), 11L,
        Seq("s_p1" -> None)),
      "seg_c2" -> LakeSink.PartVal("day", None, 4L)),
    cdcDropSegs = Seq("seg_old"),
    bloomCols = Seq("k", "s_p1"),
    copied = Set("f00d", "beef"),
    minReader = 2L, minWriter = 3L,
    segRows = Map("seg_b0" -> 11L, "seg_b1" -> 6L, "seg_c2" -> 4L))

  private val goldenSnapshotText = Seq(
    "maxb=7",
    "schemav=2",
    "schema=" + goldenSchema,
    "minreader=2",
    "minwriter=3",
    "partspec=day,s_p1",
    "bloomcols=k|s_p1",
    "stats=seg_b0|k|-5|9|0",
    "stats=seg_b1|k|10|20|-1",
    "strstats=seg_b0|s|YXxiPWM=|w6nmvKLwn5iA|2",
    "txn=app1|4",
    "txn=zeta|0",
    "expect=a_nn|s IS NOT NULL",
    "expect=k_pos|k > 0 OR s = 'a|b'",
    "colmap=k|k",
    "colmap=s|s_p1",
    "part=seg_b0|day|11|MjAyNC0wMS0wMQ==|s_p1|",
    "part=seg_c2|day|4|",
    "segrows=seg_b0|11",
    "segrows=seg_b1|6",
    "segrows=seg_c2|4",
    "dvec=seg_b1|dv_seg_b1_1|3",
    "cdc=seg_cdc1",
    "cdcdrop=seg_old",
    "datachange=0",
    "copy=beef",
    "copy=f00d",
    "seg_b0",
    "seg_b1",
    "seg_c2").mkString("\n")

  private val goldenDelta = goldenSnapshot.copy(version = 2L, maxB = 8L,
    segs = Seq("seg_b0", "seg_c2", "seg_b3"),
    schemaV = 3L, schemaJson = Some(goldenSchema.replace("\"k\"", "\"kk\"")),
    stats = Map("seg_b0" -> goldenSnapshot.stats("seg_b0"),
      "seg_c2" -> Map("k" -> LakeSink.LongStat(1L, 2L, 0L)),
      "seg_b3" -> Map("s" -> LakeSink.StrStat("", "zz", 0L))),
    txns = Map("app1" -> 5L), expects = Map("a_nn" -> "s IS NOT NULL"),
    cdcSegs = Seq("seg_cdc2"), dataChange = true,
    dv = Map("seg_c2" -> LakeSink.DvRef("dv_seg_c2_2", 1L)),
    colmap = Map("kk" -> "k", "s" -> "s_p1"),
    parts = goldenSnapshot.parts - "seg_b1" +
      ("seg_b3" -> LakeSink.PartVal("day", Some("x|y"), 2L)),
    cdcDropSegs = Nil,
    copied = goldenSnapshot.copied + "cafe",
    segRows = goldenSnapshot.segRows - "seg_b1" + ("seg_b3" -> 2L))

  private val goldenDeltaText = Seq(
    "delta=1",
    "maxb=8",
    "schemav=3",
    "schema=" + goldenSchema.replace("\"k\"", "\"kk\""),
    "minreader=2",
    "minwriter=3",
    "txn=app1|5",
    "expect=a_nn|s IS NOT NULL",
    "colmap=kk|k",
    "colmap=s|s_p1",
    "partspec=day,s_p1",
    "bloomcols=k|s_p1",
    "cdc=seg_cdc2",
    "dvec=seg_c2|dv_seg_c2_2|1",
    "part=seg_b3|day|2|eHx5",
    "copy=cafe",
    "segrows=seg_b3|2",
    "add=seg_b3",
    "remove=seg_b1",
    "stats=seg_c2|k|1|2|0",
    "strstats=seg_b3|s||eno=|0").mkString("\n")

  private def versionText(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      dir, "_manifest", f"v$v%010d.txt")), "UTF-8")

  test("golden bytes: a fully-featured snapshot and delta encode and decode unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    assert(LakeSink.commitManifest(dir, goldenSnapshot))
    assert(versionText(dir, 1L) === goldenSnapshotText)
    val parent = LakeSink.readManifest(dir)
    assert(parent === goldenSnapshot)
    assert(LakeSink.commitNext(dir, parent, goldenDelta))
    assert(versionText(dir, 2L) === goldenDeltaText)
    assert(LakeSink.readManifest(dir) === goldenDelta)
    // the pinned bytes, written by hand, decode to the same states
    val hand = java.nio.file.Files.createTempDirectory("graft_golden").toString
    val md = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(hand, "_manifest"))
    java.nio.file.Files.write(md.resolve("v0000000001.txt"),
      goldenSnapshotText.getBytes("UTF-8"))
    java.nio.file.Files.write(md.resolve("v0000000002.txt"),
      goldenDeltaText.getBytes("UTF-8"))
    assert(LakeSink.manifestAt(hand, 1L) === goldenSnapshot)
    assert(LakeSink.readManifest(hand) === goldenDelta)
  }

  test("the codec refuses a field it cannot carry before the CAS") {
    val dir = freshLake()
    append(dir, 2)
    val before = LakeSink.readManifest(dir)
    // a `|` in a logical column name would make every later read throw
    val e = intercept[IllegalArgumentException] {
      LakeSink.evolveRenameColumn(spark, dir, "v", "a|b")
    }
    assert(e.getMessage.contains("colmap logical name"))
    assert(LakeSink.readManifest(dir) === before)
    assert(LakeSink.readTable(spark, dir).count() === 2L)
    // a `|` in a txn app id would split its manifest line
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.appendSegment(spark, dir, Seq(3L).toDF("v"), "seg_a3",
        txn = Some(("app|x", 1L)))
    }
    assert(e2.getMessage.contains("txn app id"))
    assert(LakeSink.readManifest(dir) === before)
  }

  test("append chain across the snapshot boundary: exact state at every version") {
    val dir = freshLake()
    // v2..v40: well past the interval-32 snapshot at v32
    (2 to 40).foreach(i => assert(append(dir, i) === i.toLong))
    val md = java.nio.file.Paths.get(dir, "_manifest")
    def kind(v: Long): String = {
      val first = java.nio.file.Files.readAllLines(
        md.resolve(f"v$v%010d.txt")).get(0)
      if (first == "delta=1") "delta" else "snapshot"
    }
    assert(kind(2L) === "delta" && kind(31L) === "delta")
    assert(kind(32L) === "snapshot", "every 32nd version is a checkpoint")
    assert(kind(33L) === "delta" && kind(40L) === "delta")
    // tip state exact
    val tip = LakeSink.readManifest(dir)
    assert(tip.version === 40L)
    assert(tip.segs === "seg_b0" +: (2 to 40).map(i => s"seg_a$i"))
    // time travel to versions on BOTH sides of the boundary
    assert(LakeSink.readTableAsOf(spark, dir, 31L).count() === 31L)
    assert(LakeSink.readTableAsOf(spark, dir, 32L).count() === 32L)
    assert(LakeSink.readTableAsOf(spark, dir, 33L).count() === 33L)
    // delta files are O(edit); the snapshot is O(segments)
    def bytes(v: Long): Long =
      java.nio.file.Files.size(md.resolve(f"v$v%010d.txt"))
    assert(bytes(40L) < bytes(32L) / 2,
      s"a delta (${bytes(40L)} B) must be much smaller than the " +
        s"snapshot (${bytes(32L)} B)")
  }

  test("history diffs and change-feed windows cross the boundary") {
    val dir = freshLake()
    (2 to 35).foreach(append(dir, _))
    val h = LakeSink.history(spark, dir)
      .orderBy("version").collect()
    assert(h.length === 35)
    // every append commit shows +1 segment, 0 removed — including v32
    h.filter(_.getLong(0) >= 2L).foreach { r =>
      assert(r.getLong(4) === 1L && r.getLong(5) === 0L,
        s"v${r.getLong(0)}: expected pure append diff, got $r")
    }
    assert(h.last.getBoolean(8) === true) // is_current
    // change feed spanning the snapshot: (30, 35] = seg_a31..35
    val delta = LakeSink.changesBetween(spark, dir, 30L, 35L)
      .collect().map(_.getLong(0)).sorted
    assert(delta === (31L to 35L).toArray)
  }

  test("vacuum on a delta tail: checkpoint materialized, retained versions readable, below GC'd") {
    val dir = freshLake()
    (2 to 20).foreach(append(dir, _))
    // drop seg_a5 (its only row matches) so it becomes an orphan dir
    val (dv, rew, dropped, del) =
      LakeSink.deleteWhere(spark, dir, col("v") === 5L)
    assert(dv === 21L && rew === 0 && dropped === 1 && del === 1L)
    val (segsGone, versionsGone) = LakeSink.vacuum(dir, retainVersions = 3)
    assert(versionsGone === 18, s"kept 3 of 21 versions, got $versionsGone")
    assert(segsGone === 0,
      "seg_a5 is still referenced by retained pre-delete versions — " +
        "retention must protect it")
    // the boundary version (19, a delta) got a .snap checkpoint
    val md = java.nio.file.Paths.get(dir, "_manifest")
    assert(java.nio.file.Files.exists(md.resolve(f"v${19L}%010d.snap")),
      "vacuum must materialize the retention-boundary checkpoint")
    // every retained version still reads exactly
    assert(LakeSink.readTableAsOf(spark, dir, 19L).count() === 19L)
    assert(LakeSink.readTableAsOf(spark, dir, 20L).count() === 20L)
    assert(LakeSink.readTable(spark, dir).count() === 19L) // post-delete
    // and the change feed still walks the retained window
    assert(LakeSink.changesBetween(spark, dir, 19L, 20L)
      .collect().map(_.getLong(0)).toSeq === Seq(20L))
    // tighten retention to the delete itself: NOW the dropped segment
    // is unreferenced and GC'd, and the new boundary checkpoints
    val (segsGone2, versionsGone2) = LakeSink.vacuum(dir, retainVersions = 1)
    assert(versionsGone2 === 2 && segsGone2 === 1,
      s"expected seg_a5 GC'd at retain=1, got ($segsGone2, $versionsGone2)")
    assert(java.nio.file.Files.exists(md.resolve(f"v${21L}%010d.snap")))
    assert(LakeSink.readTable(spark, dir).count() === 19L)
  }

  test("external full-snapshot commits compose with delta chains") {
    val dir = freshLake()
    (2 to 5).foreach(append(dir, _))
    // an external tool commits a full snapshot at v6 (the
    // backward-compatible path every pre-r11 writer uses)
    val m = LakeSink.readManifest(dir)
    Seq(99L).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/seg_ext")
    assert(LakeSink.commitManifest(dir, LakeSink.Manifest(m.version + 1, m.maxB,
      m.segs :+ "seg_ext", m.schemaV, m.schemaJson, m.stats, m.txns,
      m.expects)))
    (7 to 9).foreach(append(dir, _))
    val tip = LakeSink.readManifest(dir)
    assert(tip.version === 9L)
    assert(tip.segs ===
      ("seg_b0" +: (2 to 5).map(i => s"seg_a$i")) ++
        Seq("seg_ext") ++ (7 to 9).map(i => s"seg_a$i"))
    assert(LakeSink.readTable(spark, dir).count() === 9L)
  }

  test("schema evolution and expectations ride the delta records") {
    val dir = freshLake()
    (2 to 3).foreach(append(dir, _))
    LakeSink.evolveAddColumn(spark, dir, "note",
      org.apache.spark.sql.types.StringType)
    LakeSink.addExpectation(spark, dir, "v_nonneg", "v >= 0")
    // both were delta commits; state carries through reconstruction
    val m = LakeSink.readManifest(dir)
    assert(m.version === 5L && m.schemaV === 1L &&
      m.expects === Map("v_nonneg" -> "v >= 0"))
    // a post-evolution append uses the wider schema and the recorded
    // expectation is ENFORCED through the reconstructed manifest
    LakeSink.appendSegment(spark, dir,
      Seq((4L, "ok")).toDF("v", "note"), "seg_a4")
    val bad = intercept[IllegalArgumentException] {
      LakeSink.appendSegment(spark, dir,
        Seq((-1L, "bad")).toDF("v", "note"), "seg_a5")
    }
    assert(bad.getMessage.contains("v_nonneg"))
    // pre-evolution segments surface the new column as NULL
    val rows = LakeSink.readTable(spark, dir)
    assert(rows.count() === 4L)
    assert(rows.filter(col("note").isNull).count() === 3L)
  }
}
