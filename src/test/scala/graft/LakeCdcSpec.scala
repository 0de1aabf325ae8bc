package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CHANGE DATA FEED (r11): row-level change capture through
  * copy-on-write DML — the capability [[LakeSink.changesBetween]]'s
  * append-only contract deliberately refuses, rebuilt the way Delta
  * CDF does it: the DML itself records its pre/post images as change
  * segments in the SAME commit, and readers walk manifest metadata.
  * What must hold:
  *
  *  - each DML verb (DELETE / UPDATE / MERGE) with `cdc = true` emits
  *    exactly its row-level changes, typed;
  *  - appends surface as inserts, compaction as NOTHING
  *    (dataChange=false), DML without change data still refuses loudly;
  *  - the feed composes across a mixed history in one walk;
  *  - a CDC-mode streaming consumer follows a table THROUGH deletes
  *    and can maintain an exact downstream materialization;
  *  - vacuum retains change segments with their versions.
  */
class LakeCdcSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** 2-segment lake: ids 0-4 (seg 0), 10-14 (seg 1); flag = id % 2. */
  private def buildLake(): String = {
    val dir = tmp("graft_cdc_lake")
    import spark.implicits._
    (0 until 2).foreach { i =>
      val rows = (0 until 5).map(j => (i * 10L + j, (i * 10L + j) % 2))
      rows.toDF("id", "flag").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    dir
  }

  private def changes(dir: String, fromV: Long, toV: Long): Seq[(String, Long, Long)] =
    LakeSink.changesCdcBetween(spark, dir, fromV, toV)
      .select("_change_type", "id", "_commit_version")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("DELETE with cdc records the deleted rows; plain feed still refuses") {
    val dir = buildLake()
    val (v, _, _, nDel) =
      LakeSink.deleteWhere(spark, dir, col("flag") === 1, cdc = true)
    assert(nDel === 4L) // odd ids: 1,3,11,13
    val got = changes(dir, 2L, v)
    assert(got === Seq(("delete", 1L, v), ("delete", 3L, v),
      ("delete", 11L, v), ("delete", 13L, v)))
    // the append-only feed refuses the same window — unchanged contract
    val e = intercept[Exception] {
      LakeSink.changesBetween(spark, dir, 2L, v).collect()
    }
    assert(e.getMessage.contains("not append-only"))
  }

  test("UPDATE with cdc records pre- and post-images") {
    val dir = buildLake()
    val (v, _, nUpd) = LakeSink.updateWhere(spark, dir,
      col("id") >= 10L, Map("flag" -> (col("flag") + 100L)), cdc = true)
    assert(nUpd === 5L)
    val rows = LakeSink.changesCdcBetween(spark, dir, 2L, v)
      .select("_change_type", "id", "flag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want =
      (10L to 14L).map(i => ("update_postimage", i, i % 2 + 100L)) ++
        (10L to 14L).map(i => ("update_preimage", i, i % 2))
    assert(rows === want.sortBy(t => (t._1, t._2)))
  }

  test("MERGE with cdc records update pre/post images and inserts") {
    val dir = buildLake()
    import spark.implicits._
    // updates ids 3,4; inserts ids 100,101
    val delta = Seq((3L, 50L), (4L, 50L), (100L, 9L), (101L, 9L))
      .toDF("id", "flag")
    val (v, _, nUpd, nIns) =
      LakeSink.mergeInto(spark, dir, delta, Seq("id"), cdc = true)
    assert(nUpd === 2L && nIns === 2L)
    val rows = LakeSink.changesCdcBetween(spark, dir, 2L, v)
      .select("_change_type", "id", "flag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows === Seq(
      ("insert", 100L, 9L), ("insert", 101L, 9L),
      ("update_postimage", 3L, 50L), ("update_postimage", 4L, 50L),
      ("update_preimage", 3L, 1L), ("update_preimage", 4L, 0L)))
  }

  test("mixed history: append→delete→compact→append in ONE cdc walk") {
    val dir = buildLake() // v1, v2: inserts
    import spark.implicits._
    val (vDel, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("id") === 3L, cdc = true)
    val (vComp, _) = LakeSink.compact(spark, dir, targetFiles = 1)
    LakeSink.appendSegment(spark, dir,
      Seq((20L, 0L)).toDF("id", "flag"), "seg_b2")
    val tip = LakeSink.readManifest(dir).version
    assert(tip === vComp + 1)
    val got = changes(dir, 1L, tip)
    // v2's seg appends as insert, v3 deletes id 3, v4 (compact) emits
    // NOTHING, v5 appends id 20
    assert(got === Seq(("delete", 3L, vDel),
      ("insert", 10L, 2L), ("insert", 11L, 2L), ("insert", 12L, 2L),
      ("insert", 13L, 2L), ("insert", 14L, 2L), ("insert", 20L, tip)))
  }

  test("DML without change data refuses the cdc walk loudly") {
    val dir = buildLake()
    val (v, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("flag") === 1) // cdc = false
    val e = intercept[Exception] { changes(dir, 2L, v) }
    assert(e.getMessage.contains("cdc = false"))
  }

  test("vacuum keeps change segments with retained versions, drops the rest") {
    val dir = buildLake()
    val (vDel, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("id") === 1L, cdc = true)
    val cdcDirs = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("seg_cdc_")).toSeq
    assert(cdcDirs.size === 1)
    // retention window still covers vDel → its cdc segment survives
    LakeSink.vacuum(dir, retainVersions = 2)
    assert(new java.io.File(s"$dir/${cdcDirs.head}").exists(),
      "cdc segment of a retained version was vacuumed")
    assert(changes(dir, vDel - 1, vDel).nonEmpty)
    // push vDel past the horizon → its cdc segment goes with it
    import spark.implicits._
    LakeSink.appendSegment(spark, dir,
      Seq((30L, 0L)).toDF("id", "flag"), "seg_b2")
    LakeSink.appendSegment(spark, dir,
      Seq((31L, 1L)).toDF("id", "flag"), "seg_b3")
    LakeSink.vacuum(dir, retainVersions = 2)
    assert(!new java.io.File(s"$dir/${cdcDirs.head}").exists(),
      "cdc segment of a vacuumed version leaked")
  }

  test("table_changes() TVF over a merge-on-read window: DV-backed " +
      "SQL DML feeds identical change images, files untouched") {
    val dir = buildLake()
    val tbl = "graft_cdcdv_sql_" +
      java.lang.Long.toHexString(System.nanoTime())
    // cdc + dv.maxFraction together: point DML records change rows
    // AND writes deletion vectors instead of rewrites
    graft.streaming.LakeCatalog.register(tbl, dir, cdc = true,
      dvMaxFraction = 1.0)
    try {
      val preSegs = LakeSink.readManifest(dir).segs
      val del = spark.sql(s"DELETE FROM $tbl WHERE id = 1").collect().head
      assert(del.getInt(1) === 0 && del.getLong(3) === 1L, "DV, no rewrite")
      spark.sql(s"UPDATE $tbl SET flag = flag + 100 WHERE id = 0")
      val m = LakeSink.readManifest(dir)
      assert(m.segs.count(preSegs.toSet) === preSegs.size,
        "every pre-DML segment survives by reference")
      assert(m.dv.nonEmpty)
      val tip = m.version
      val rows = spark.sql(
        s"SELECT _change_type, id, flag " +
          s"FROM table_changes('$tbl', ${tip - 2}, $tip) " +
          "ORDER BY _change_type, id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(rows === Seq(
        ("delete", 1L, 1L),
        ("update_postimage", 0L, 100L), ("update_preimage", 0L, 0L)))
    } finally graft.streaming.LakeCatalog.unregister(tbl)
  }

  test("SQL surface: cdc table property + table_changes() TVF") {
    val dir = buildLake()
    val tbl = "graft_cdc_sql_" +
      java.lang.Long.toHexString(System.nanoTime())
    // registration with the CDC property on — the enableChangeDataFeed
    // analog: SQL DML against the table records change rows
    graft.streaming.LakeCatalog.register(tbl, dir, cdc = true)
    try {
      val del = spark.sql(s"DELETE FROM $tbl WHERE flag = 1")
        .collect().head
      assert(del.getLong(3) === 4L)
      spark.sql(s"UPDATE $tbl SET flag = flag + 100 WHERE id = 0")
      val tip = LakeSink.readManifest(dir).version
      val rows = spark.sql(
        s"SELECT _change_type, id, flag, _commit_version " +
          s"FROM table_changes('$tbl', 2, $tip) " +
          "ORDER BY _change_type, id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(rows === Seq(
        ("delete", 1L, 1L), ("delete", 3L, 1L),
        ("delete", 11L, 1L), ("delete", 13L, 1L),
        ("update_postimage", 0L, 100L), ("update_preimage", 0L, 0L)))
      // the TVF composes as a normal relation: aggregate over it
      val n = spark.sql(
        s"SELECT CAST(count(*) AS BIGINT) FROM table_changes('$tbl', 2, $tip) " +
          "WHERE _change_type = 'delete'").collect().head.getLong(0)
      assert(n === 4L)
      // 2-arg form: toVersion defaults to the committed tip
      val two = spark.sql(
        s"SELECT CAST(count(*) AS BIGINT) FROM table_changes('$tbl', 2)")
        .collect().head.getLong(0)
      val three = spark.sql(
        s"SELECT CAST(count(*) AS BIGINT) " +
          s"FROM table_changes('$tbl', 2, $tip)")
        .collect().head.getLong(0)
      assert(two === three, "2-arg table_changes diverged from explicit tip")
      // DESCRIBE HISTORY as SQL: the audit log through table_history()
      val hist = spark.sql(
        s"SELECT version, is_current FROM table_history('$tbl') " +
          "ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      assert(hist.map(_._1) === (1L to tip))
      assert(hist.count(_._2) === 1 && hist.last._2,
        s"tip flag wrong in $hist")
    } finally graft.streaming.LakeCatalog.unregister(tbl)
  }

  test("CDC consumer rides through compaction: dataChange=false commits " +
      "are invisible to the stream") {
    // The append-only feed FAILS at a compaction version (rewritten
    // segments can't be represented as appends); the CDC feed must
    // instead skip it — bytes moved, rows did not — so a consumer can
    // follow a table whose writer compacts continuously.
    val dir = buildLake() // v1, v2: ids 0-4, 10-14
    val ckpt = tmp("graft_cdc_compact_ck")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable() // snapshot: 10 inserts
      LakeSink.compact(spark, dir, targetFiles = 1) // v3, dataChange=0
      import spark.implicits._
      LakeSink.appendSegment(spark, dir,
        Seq((30L, 0L)).toDF("id", "flag"), "seg_b2") // v4
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"CDC stream failed at the compaction version: ${q.exception}")
      import scala.jdk.CollectionConverters._
      val ids = seen.asScala.toSeq.sorted
      assert(ids === ids.distinct, s"compaction re-emitted rows: $ids")
      assert(ids === ((0L to 4L) ++ (10L to 14L) :+ 30L).sorted,
        s"lost or phantom rows across compaction: $ids")
    } finally q.stop()
  }

  test("metadata-only commits after a DML do not re-emit its change rows " +
      "(per-version annotation reset)") {
    // Regression: addExpectation/evolveAddColumn commit a COPY of the
    // parent manifest — before the reset, a DML parent's cdcSegs rode
    // along and the CDC walk emitted its change rows twice.
    val dir = buildLake()
    val (vDel, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("id") === 1L, cdc = true)
    LakeSink.addExpectation(spark, dir, "nonneg", "id >= 0")
    LakeSink.evolveAddColumn(spark, dir, "tag",
      org.apache.spark.sql.types.StringType)
    val tip = LakeSink.readManifest(dir).version
    assert(tip === vDel + 2)
    val got = changes(dir, vDel - 1, tip)
    assert(got === Seq(("delete", 1L, vDel)),
      s"metadata commits duplicated or altered the feed: $got")
    // and the evolved schema surfaces on post-evolution change rows,
    // with pre-evolution rows showing the added column as NULL
    import spark.implicits._
    LakeSink.appendSegment(spark, dir,
      Seq((50L, 0L, "x")).toDF("id", "flag", "tag"), "seg_b2")
    val wide = LakeSink.changesCdcBetween(spark, dir, vDel - 1,
      LakeSink.readManifest(dir).version)
      .select("_change_type", "id", "tag")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)))).sortBy(t => (t._1, t._2)).toSeq
    assert(wide === Seq(("delete", 1L, None), ("insert", 50L, Some("x"))))
  }

  test("startingVersion: a fresh consumer begins at the FEED position, " +
      "not a snapshot") {
    val dir = buildLake() // v1: ids 0-4, v2: ids 10-14
    import spark.implicits._
    LakeSink.appendSegment(spark, dir,
      Seq((20L, 0L), (21L, 1L)).toDF("id", "flag"), "seg_b2") // v3
    def consume(extra: Map[String, String]): Seq[(String, Long)] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
      var reader = spark.readStream.format("graft-lake-changefeed")
        .option("path", dir).option("readChangeFeed", "true")
      extra.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.select("_change_type", "id").collect()
            .foreach(r => got.add((r.getString(0), r.getLong(1))))
          ()
        }
        .option("checkpointLocation", tmp("graft_sv_ck"))
        .start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    // without the option: snapshot of the tip (all 12 rows as inserts)
    assert(consume(Map.empty).size === 12)
    // with startingVersion=2: only v3's appends, as feed rows
    assert(consume(Map("startingVersion" -> "2")) ===
      Seq(("insert", 20L), ("insert", 21L)))
    // startingVersion at the tip: a consumer that wants only FUTURE
    // changes starts empty
    assert(consume(Map("startingVersion" -> "3")) === Seq.empty)
  }

  test("CDC-mode streaming source follows the table through a DELETE " +
      "and maintains an exact downstream materialization") {
    val dir = buildLake()
    val ckpt = tmp("graft_cdc_src_ck")
    // downstream state: exact multiset of live ids, maintained from
    // change rows alone (insert adds, delete removes)
    val live = scala.collection.mutable.Set.empty[Long]
    def start() = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        b.select("_change_type", "id").collect().foreach { r =>
          r.getString(0) match {
            case "insert" => live += r.getLong(1)
            case "delete" => live -= r.getLong(1)
            case other => fail(s"unexpected change type $other")
          }
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try {
      q1.processAllAvailable() // initial snapshot: 10 inserts
      assert(live.size === 10)
      // DML lands mid-stream: the plain feed would fail here; the CDC
      // feed delivers the deletes
      LakeSink.deleteWhere(spark, dir, col("flag") === 1, cdc = true)
      q1.processAllAvailable()
      assert(live.toSeq.sorted ===
        LakeSink.readTable(spark, dir).select("id")
          .collect().map(_.getLong(0)).sorted.toSeq,
        "downstream materialization diverged from the table after DELETE")
    } finally q1.stop()

    // restart across more changes: appends + another delete
    import spark.implicits._
    LakeSink.appendSegment(spark, dir,
      Seq((40L, 0L), (41L, 1L)).toDF("id", "flag"), "seg_b2")
    LakeSink.deleteWhere(spark, dir, col("id") === 40L, cdc = true)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(live.toSeq.sorted ===
      LakeSink.readTable(spark, dir).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq,
      "materialization diverged after restart across append+DELETE")
  }

  test("MERGE cdc post-images count DUPLICATE-KEY target rows (one " +
      "post-image per rewritten target row, not per source key)") {
    val dir = tmp("graft_cdc_dup")
    import spark.implicits._
    // one segment holding TWO rows for key 1 — legal for a lake fed by
    // appends; the merge rewrites both to the source row
    Seq((1L, 0L), (1L, 0L), (2L, 1L)).toDF("id", "flag").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/seg_b0")
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"))))
    val (v, _, nUpd, nIns) = LakeSink.mergeInto(spark, dir,
      Seq((1L, 9L)).toDF("id", "flag"), Seq("id"), cdc = true)
    assert(nUpd === 2L && nIns === 0L)
    val rows = LakeSink.changesCdcBetween(spark, dir, 1L, v)
      .select("_change_type", "id", "flag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // 2 pre-images AND 2 post-images — a signed-fold consumer
    // (+post, -pre) must see net zero row-count drift
    assert(rows === Seq(
      ("update_postimage", 1L, 9L), ("update_postimage", 1L, 9L),
      ("update_preimage", 1L, 0L), ("update_preimage", 1L, 0L)))
    // and the rewrite itself matches: both target rows carry src values
    assert(LakeSink.readTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 9L), (1L, 9L), (2L, 1L)))
  }

  test("startingVersion=0 replays the FULL feed from the beginning " +
      "(deletes included), not the snapshot initial load") {
    val dir = buildLake() // v1: ids 0-4, v2: ids 10-14
    val (vDel, _, _, nDel) =
      LakeSink.deleteWhere(spark, dir, col("flag") === 1, cdc = true)
    assert(nDel === 4L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .load().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        b.select("_change_type", "id").collect()
          .foreach(r => got.add((r.getString(0), r.getLong(1))))
        ()
      }
      .option("checkpointLocation", tmp("graft_sv0_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val events = got.asScala.toSeq.sorted
    // full history: 10 inserts (v1+v2) AND the 4 deletes (v3) — the
    // snapshot load would emit only the 6 live rows as inserts
    assert(events.count(_._1 == "insert") === 10)
    assert(events.filter(_._1 == "delete").map(_._2) ===
      Seq(1L, 3L, 11L, 13L))
  }

  test("changesCdcBetween returns one stable column order for every " +
      "window shape (insert-only, cdc, mixed)") {
    val dir = buildLake()
    val (vDel, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("id") === 3L, cdc = true)
    val insertOnly = LakeSink.changesCdcBetween(spark, dir, 0L, 2L).columns.toSeq
    val cdcOnly = LakeSink.changesCdcBetween(spark, dir, 2L, vDel).columns.toSeq
    val mixed = LakeSink.changesCdcBetween(spark, dir, 0L, vDel).columns.toSeq
    val want = Seq("id", "flag", "_change_type", "_commit_version")
    assert(insertOnly === want && cdcOnly === want && mixed === want)
  }
}
