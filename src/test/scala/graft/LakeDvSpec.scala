package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DELETION VECTORS (r12): merge-on-read point DML — the answer to
  * copy-on-write's write amplification for GDPR-style deletes. A
  * point delete with `dvMaxFraction > 0` writes O(deleted rows) (a
  * per-segment positional DV file referenced from the manifest)
  * instead of rewriting every touched segment. What must hold:
  *
  *  - the delete's RESULT is indistinguishable from copy-on-write:
  *    every reader (table, time travel, stats-pruned, DML planning
  *    reads) reconciles DVs at scan;
  *  - DV files are immutable — a second delete supersedes with the
  *    union; fully-matching segments still drop by metadata;
  *  - the fraction guard falls back to rewrite for large deletes;
  *  - OPTIMIZE applies DVs physically and drops the entries; vacuum
  *    GCs superseded/unreferenced DV files but keeps every file a
  *    retained version references;
  *  - the change-feed contracts treat a DV commit exactly like a
  *    rewrite (CDC carries it; the append-only feed refuses it);
  *  - a concurrent DV on a segment another DML read is a TRUE
  *    conflict (re-plan), never a lost update.
  */
class LakeDvSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** 2-segment lake: ids 0-4 (seg_b0), 10-14 (seg_b1); flag = id % 2. */
  private def buildLake(): String = {
    val dir = tmp("graft_dv_lake")
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

  private def ids(dir: String): Seq[Long] =
    LakeSink.readTable(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq

  test("point delete writes a DV (no rewrite, no drop); every read " +
      "reconciles; time travel sees the pre-delete rows") {
    val dir = buildLake()
    val (v, rw, dropped, nDel) = LakeSink.deleteWhere(spark, dir,
      col("id") === 3L, dvMaxFraction = 0.5)
    assert((rw, dropped, nDel) === ((0, 0, 1L)))
    val m = LakeSink.readManifest(dir)
    assert(m.version === v)
    assert(m.segs.sorted === Seq("seg_b0", "seg_b1"), "segments survive")
    assert(m.dv.keySet === Set("seg_b0") && m.dv("seg_b0").rows === 1L)
    assert(ids(dir) === Seq(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    // time travel: the pre-delete version has no DV and shows id 3
    assert(LakeSink.readTableAsOf(spark, dir, v - 1).count() === 10L)
    // the DV file is O(deleted rows): one position recorded
    assert(spark.read.parquet(
      s"$dir/_dv/${m.dv("seg_b0").file}").count() === 1L)
  }

  test("a second point delete supersedes the segment's DV with the " +
      "union (files immutable)") {
    val dir = buildLake()
    LakeSink.deleteWhere(spark, dir, col("id") === 3L, dvMaxFraction = 0.5)
    val f1 = LakeSink.readManifest(dir).dv("seg_b0").file
    LakeSink.deleteWhere(spark, dir, col("id") === 1L, dvMaxFraction = 0.5)
    val m = LakeSink.readManifest(dir)
    assert(m.dv("seg_b0").file !== f1, "new DV file, not in-place edit")
    assert(m.dv("seg_b0").rows === 2L)
    assert(ids(dir) === Seq(0L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    // re-deleting an already-hidden row is a no-op commit
    val (v, rw, dr, n) = LakeSink.deleteWhere(spark, dir,
      col("id") === 3L, dvMaxFraction = 0.5)
    assert((rw, dr, n) === ((0, 0, 0L)) && v === m.version)
  }

  test("fully-matching segments drop by metadata even in DV mode; the " +
      "fraction guard falls back to rewrite for large deletes") {
    val dir = buildLake()
    // seg_b1 fully matches id >= 10 → dropped, no DV
    val (_, rw, dropped, nDel) = LakeSink.deleteWhere(spark, dir,
      col("id") >= 10L, dvMaxFraction = 0.5)
    assert((rw, dropped, nDel) === ((0, 1, 5L)))
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    // 2 of 5 live rows (40%) > 20% fraction → copy-on-write rewrite
    val (_, rw2, _, nDel2) = LakeSink.deleteWhere(spark, dir,
      col("flag") === 1L, dvMaxFraction = 0.2)
    assert(rw2 === 1 && nDel2 === 2L)
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    assert(ids(dir) === Seq(0L, 2L, 4L))
  }

  test("OPTIMIZE applies DVs physically and drops the entries; the " +
      "pre-compaction version still reconciles under its own DV") {
    val dir = buildLake()
    val (vDel, _, _, _) = LakeSink.deleteWhere(spark, dir,
      col("id") === 3L, dvMaxFraction = 0.5)
    val (vComp, nIn) = LakeSink.compact(spark, dir, targetFiles = 1)
    assert(nIn === 2)
    val m = LakeSink.readManifest(dir)
    assert(m.version === vComp && m.dv.isEmpty && m.segs.size === 1)
    assert(ids(dir) === Seq(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    // the DV'd version still time-travels correctly (9 rows), the
    // pre-delete one shows all 10
    assert(LakeSink.readTableAsOf(spark, dir, vDel).count() === 9L)
    assert(LakeSink.readTableAsOf(spark, dir, vDel - 1).count() === 10L)
  }

  test("a single-segment lake with a DV is still compactable " +
      "(the purge-DV maintenance op)") {
    val dir = tmp("graft_dv_one")
    import spark.implicits._
    (0L until 5L).map(i => (i, i % 2)).toDF("id", "flag").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/seg_b0")
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"))))
    LakeSink.deleteWhere(spark, dir, col("id") === 2L, dvMaxFraction = 0.5)
    val (_, nIn) = LakeSink.compact(spark, dir, targetFiles = 1)
    assert(nIn === 1)
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    assert(ids(dir) === Seq(0L, 1L, 3L, 4L))
  }

  test("vacuum GCs superseded and unreferenced DV files, keeps the " +
      "ones retained versions reference") {
    val dir = buildLake()
    LakeSink.deleteWhere(spark, dir, col("id") === 3L, dvMaxFraction = 0.5)
    LakeSink.deleteWhere(spark, dir, col("id") === 1L, dvMaxFraction = 0.5)
    val live = LakeSink.readManifest(dir).dv("seg_b0").file
    val dvDir = new java.io.File(s"$dir/_dv")
    assert(dvDir.list().toSet.size === 2, "superseded file still on disk")
    // retain 1 version: only the tip's DV file survives
    LakeSink.vacuum(dir, retainVersions = 1)
    assert(dvDir.list().toSet === Set(live))
    assert(ids(dir) === Seq(0L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
  }

  test("UPDATE and MERGE on a DV'd segment respect hidden rows and " +
      "pay off the DV debt in their rewrite") {
    val dir = buildLake()
    LakeSink.deleteWhere(spark, dir, col("id") === 3L, dvMaxFraction = 0.5)
    // update touches seg_b0; the rewrite must NOT resurrect id 3
    val (_, rw, nUpd) = LakeSink.updateWhere(spark, dir, col("id") < 5L,
      Map("flag" -> (col("flag") + 10L)))
    assert(rw === 1 && nUpd === 4L, "only live rows match")
    val m = LakeSink.readManifest(dir)
    assert(m.dv.isEmpty, "rewrite retired the dv entry")
    assert(ids(dir) === Seq(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))

    // merge on a fresh lake with a DV: a source row keyed like a
    // HIDDEN row must INSERT, not match
    val dir2 = buildLake()
    LakeSink.deleteWhere(spark, dir2, col("id") === 3L, dvMaxFraction = 0.5)
    import spark.implicits._
    val (_, _, nU, nI) = LakeSink.mergeInto(spark, dir2,
      Seq((3L, 99L)).toDF("id", "flag"), Seq("id"))
    assert(nU === 0L && nI === 1L, "hidden row is not a merge match")
    assert(LakeSink.readTable(spark, dir2).filter(col("id") === 3L)
      .select("flag").head().getLong(0) === 99L)
  }

  test("CDC: a DV-backed delete feeds the change feed; without cdc " +
      "both feeds refuse the window loudly") {
    val dir = buildLake()
    val (v, _, _, _) = LakeSink.deleteWhere(spark, dir, col("id") === 3L,
      cdc = true, dvMaxFraction = 0.5)
    val rows = LakeSink.changesCdcBetween(spark, dir, 2L, v)
      .select("_change_type", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("delete", 3L)))
    // a cdc-less DV delete: CDC walk refuses (names the dv), and the
    // append-only feed refuses too
    val dir2 = buildLake()
    val (v2, _, _, _) = LakeSink.deleteWhere(spark, dir2, col("id") === 3L,
      dvMaxFraction = 0.5)
    val e = intercept[Exception] {
      LakeSink.changesCdcBetween(spark, dir2, 2L, v2).collect()
    }
    assert(e.getMessage.contains("deletion-vector"))
    val e2 = intercept[Exception] {
      LakeSink.changesBetween(spark, dir2, 2L, v2).collect()
    }
    assert(e2.getMessage.contains("deletion vectors"))
  }

  test("stats pruning stays sound over DV'd segments (stale bounds " +
      "are a superset, hidden rows never resurface)") {
    val dir = tmp("graft_dv_stats")
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, i * 100L)).toDF("id", "ts")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
    val stats = LakeSink.segmentStats(
      spark.read.parquet(s"$dir/seg_b0"), Seq("ts"))
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"), stats = Map("seg_b0" -> stats))))
    // hide ts=900 behind a DV; recorded max stays 900 (stale, sound)
    LakeSink.deleteWhere(spark, dir, col("ts") === 900L,
      dvMaxFraction = 0.5)
    val (pruned, scanned, total) =
      LakeSink.readTableWhere(spark, dir, "ts", 850L, 1000L)
    assert(scanned.size === 1 && total === 1,
      "stale bounds still admit the segment")
    assert(pruned.count() === 0L, "the hidden row does not resurface")
  }

  test("a concurrent DV landing on a segment this delete read is a " +
      "TRUE conflict: re-plan, both deletes apply (no lost update)") {
    val dir = buildLake()
    var injected = false
    LakeSink.deleteWhere(spark, dir, col("id") === 3L,
      dvMaxFraction = 0.5,
      beforeCommit = () => {
        if (!injected) {
          injected = true
          // lands first, so the outer delete's CAS loses and must
          // re-plan (its staged DV was computed pre-this-DV)
          LakeSink.deleteWhere(spark, dir, col("id") === 1L,
            dvMaxFraction = 0.5)
        }
      })
    assert(ids(dir) === Seq(0L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    assert(LakeSink.readManifest(dir).dv("seg_b0").rows === 2L)
  }

  // ---------------------------------------------------------------
  // MERGE-ON-READ UPDATE (r14): updateWhere with dvMaxFraction > 0 —
  // DV the matched positions, append the post-image rows, O(updated
  // rows) write cost. Same protocol claims as the delete side, plus:
  // the post-image must be READABLE (not just the old rows hidden),
  // a chained update must hit the post-image row, and CDC images
  // must be indistinguishable from copy-on-write's.
  // ---------------------------------------------------------------

  private def rowsOf(dir: String): Seq[(Long, Long)] =
    LakeSink.readTable(spark, dir).select("id", "flag")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("point update writes a DV + post-image segment (no rewrite); " +
      "reads reconcile; time travel sees the pre-update value") {
    val dir = buildLake()
    val (v, rw, nUpd) = LakeSink.updateWhere(spark, dir,
      col("id") === 3L, Map("flag" -> (col("flag") + 100L)),
      dvMaxFraction = 0.5)
    assert((rw, nUpd) === ((0, 1L)), "no segment rewritten")
    val m = LakeSink.readManifest(dir)
    assert(m.version === v)
    assert(m.segs.count(Set("seg_b0", "seg_b1")) === 2,
      "both source segments survive by reference")
    assert(m.segs.size === 3, "one appended post-image segment")
    assert(m.dv.keySet === Set("seg_b0") && m.dv("seg_b0").rows === 1L)
    assert(rowsOf(dir) === Seq(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 101L,
      4L -> 0L, 10L -> 0L, 11L -> 1L, 12L -> 0L, 13L -> 1L, 14L -> 0L))
    // the DV file is O(updated rows): one position; the post-image
    // segment holds exactly the one updated row
    assert(spark.read.parquet(
      s"$dir/_dv/${m.dv("seg_b0").file}").count() === 1L)
    val postSeg = m.segs.filterNot(Set("seg_b0", "seg_b1")).head
    assert(spark.read.parquet(s"$dir/$postSeg").count() === 1L)
    // time travel: the pre-update version shows the old value
    val before = LakeSink.readTableAsOf(spark, dir, v - 1)
      .filter(col("id") === 3L).select("flag").head().getLong(0)
    assert(before === 1L)
  }

  test("a second point update supersedes DVs and hits the POST-IMAGE " +
      "row; updating a deleted row is a no-op") {
    val dir = buildLake()
    LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 0.5)
    val dv1 = LakeSink.readManifest(dir).dv("seg_b0").file
    // chained update: must match the post-image row (flag 101 → 201),
    // never the hidden original
    LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 1.0)
    val m = LakeSink.readManifest(dir)
    assert(rowsOf(dir).find(_._1 == 3L).map(_._2) === Some(201L))
    assert(rowsOf(dir).size === 10, "no row duplicated or lost")
    assert(m.dv.get("seg_b0").map(_.file) === Some(dv1),
      "seg_b0's DV untouched by the second update")
    // a DV-deleted row never matches an update
    LakeSink.deleteWhere(spark, dir, col("id") === 1L, dvMaxFraction = 0.5)
    val mPre = LakeSink.readManifest(dir)
    val (v2, rw2, n2) = LakeSink.updateWhere(spark, dir, col("id") === 1L,
      Map("flag" -> lit(999L)), dvMaxFraction = 1.0)
    assert((rw2, n2) === ((0, 0L)) && v2 === mPre.version,
      "hidden row is not an update match")
  }

  test("update fraction guard falls back to rewrite; a fully-matching " +
      "segment stays a rewrite even at dvMaxFraction = 1") {
    val dir = buildLake()
    // 2 of 5 live rows (40%) > 20% → copy-on-write in both segments
    val (_, rw, nUpd) = LakeSink.updateWhere(spark, dir,
      col("flag") === 1L, Map("flag" -> lit(7L)), dvMaxFraction = 0.2)
    assert(rw === 2 && nUpd === 4L)
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    // seg_b1 fully matches id >= 10: strictly-partial guard → rewrite
    val (_, rwF, nF) = LakeSink.updateWhere(spark, dir,
      col("id") >= 10L, Map("flag" -> lit(9L)), dvMaxFraction = 1.0)
    assert(rwF === 1 && nF === 5L)
    val m = LakeSink.readManifest(dir)
    assert(m.dv.isEmpty && m.segs.size === 2)
    assert(rowsOf(dir).filter(_._1 >= 10L).map(_._2) ===
      Seq(9L, 9L, 9L, 9L, 9L))
  }

  test("OPTIMIZE applies update-DVs physically; the DV'd version " +
      "still time-travels under its own DV") {
    val dir = buildLake()
    val (vUpd, _, _) = LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 0.5)
    val (vComp, nIn) = LakeSink.compact(spark, dir, targetFiles = 1)
    assert(nIn === 3, "2 source segments + 1 post-image compacted")
    val m = LakeSink.readManifest(dir)
    assert(m.version === vComp && m.dv.isEmpty && m.segs.size === 1)
    assert(rowsOf(dir).find(_._1 == 3L).map(_._2) === Some(101L))
    assert(rowsOf(dir).size === 10)
    assert(LakeSink.readTableAsOf(spark, dir, vUpd)
      .filter(col("id") === 3L).select("flag").head().getLong(0) === 101L)
    assert(LakeSink.readTableAsOf(spark, dir, vUpd - 1)
      .filter(col("id") === 3L).select("flag").head().getLong(0) === 1L)
  }

  test("vacuum GCs superseded update-DV files and unreferenced " +
      "post-image segments, keeps what retained versions reference") {
    val dir = buildLake()
    LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 0.5)
    // second update DVs the post-image segment and appends another —
    // after retaining only the tip, the first post-image segment is
    // still REFERENCED (it holds the hidden-then-superseded row under
    // a live DV), but the same update chain on id 13 then compaction
    // makes everything pre-compaction unreferenced
    LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 1.0)
    LakeSink.compact(spark, dir, targetFiles = 1)
    LakeSink.vacuum(dir, retainVersions = 1)
    val dvDir = new java.io.File(s"$dir/_dv")
    assert(!dvDir.exists() || dvDir.list().isEmpty,
      "no DV file survives once only the compacted tip is retained")
    val m = LakeSink.readManifest(dir)
    val onDisk = new java.io.File(dir).list()
      .filter(_.startsWith("seg_")).toSet
    assert(onDisk === m.segs.toSet,
      "only the compacted segment remains on disk")
    assert(rowsOf(dir).find(_._1 == 3L).map(_._2) === Some(201L))
  }

  test("vacuum keeps the DV file and post-image segment every " +
      "RETAINED version references; time travel works after vacuum") {
    val dir = buildLake()
    val (vUpd, _, _) = LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 0.5)
    LakeSink.compact(spark, dir, targetFiles = 1)
    // retain 2 versions: the compacted tip AND the DV'd update
    // version — its DV file and post-image segment must survive
    LakeSink.vacuum(dir, retainVersions = 2)
    val asOf = LakeSink.readTableAsOf(spark, dir, vUpd)
    assert(asOf.count() === 10L)
    assert(asOf.filter(col("id") === 3L).select("flag")
      .head().getLong(0) === 101L, "retained DV version still reconciles")
    assert(new java.io.File(s"$dir/_dv").list().length === 1)
    assert(rowsOf(dir).find(_._1 == 3L).map(_._2) === Some(101L))
  }

  test("CDC: a DV-backed update emits pre/post images identical to " +
      "copy-on-write's") {
    val dirCow = buildLake()
    val dirDv = buildLake()
    val (vC, _, _) = LakeSink.updateWhere(spark, dirCow, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), cdc = true)
    val (vD, rwD, _) = LakeSink.updateWhere(spark, dirDv, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), cdc = true,
      dvMaxFraction = 1.0)
    assert(rwD === 0)
    def feed(dir: String, v: Long): Seq[(String, Long, Long)] =
      LakeSink.changesCdcBetween(spark, dir, v - 1, v)
        .select("_change_type", "id", "flag")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(feed(dirDv, vD) === feed(dirCow, vC))
    assert(feed(dirCow, vC) ===
      Seq(("update_postimage", 3L, 101L), ("update_preimage", 3L, 1L)))
  }

  test("stats: a DV'd update's moved row is findable via the " +
      "post-image segment's fresh stats; stale source bounds stay " +
      "sound (old value never resurfaces)") {
    val dir = tmp("graft_dv_upd_stats")
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, i * 100L)).toDF("id", "ts")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
    val stats = LakeSink.segmentStats(
      spark.read.parquet(s"$dir/seg_b0"), Seq("ts"))
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"), stats = Map("seg_b0" -> stats))))
    // move ts 900 → 1500 merge-on-read: source keeps [0,900] (stale,
    // sound — its live rows are a subset), post-image records [1500]
    val (_, rw, _) = LakeSink.updateWhere(spark, dir, col("ts") === 900L,
      Map("ts" -> lit(1500L)), dvMaxFraction = 0.5)
    assert(rw === 0)
    val (hi, scannedHi, _) =
      LakeSink.readTableWhere(spark, dir, "ts", 1400L, 1600L)
    assert(scannedHi.size === 1, "only the post-image segment scanned")
    assert(hi.select("ts").collect().map(_.getLong(0)).toSeq === Seq(1500L))
    val (lo, scannedLo, _) =
      LakeSink.readTableWhere(spark, dir, "ts", 850L, 1000L)
    assert(scannedLo.size === 1, "stale bounds still admit the source")
    assert(lo.count() === 0L, "the old value does not resurface")
  }

  test("a concurrent DV landing on a segment this update read is a " +
      "TRUE conflict: re-plan, both DMLs apply (no lost update)") {
    val dir = buildLake()
    var injected = false
    LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), dvMaxFraction = 0.5,
      beforeCommit = () => {
        if (!injected) {
          injected = true
          // lands first, so the outer update's CAS loses and must
          // re-plan (its staged DV was computed pre-this-DV)
          LakeSink.deleteWhere(spark, dir, col("id") === 1L,
            dvMaxFraction = 0.5)
        }
      })
    assert(rowsOf(dir).map(_._1) ===
      Seq(0L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 14L))
    assert(rowsOf(dir).find(_._1 == 3L).map(_._2) === Some(101L))
    assert(LakeSink.readManifest(dir).dv("seg_b0").rows === 2L)
  }

  test("REORG purge rewrites ONLY the DV'd segments (clean survive " +
      "by reference); layout-only commit keeps the CDC window " +
      "readable; time travel reconciles pre-purge") {
    val dir = buildLake()
    val (vUpd, _, _) = LakeSink.updateWhere(spark, dir, col("id") === 3L,
      Map("flag" -> (col("flag") + 100L)), cdc = true,
      dvMaxFraction = 0.5)
    val preSegs = LakeSink.readManifest(dir).segs
    val (vP, nPurged) = LakeSink.purgeDv(spark, dir)
    assert(nPurged === 1)
    val m = LakeSink.readManifest(dir)
    assert(m.version === vP && m.dv.isEmpty)
    assert(m.segs.contains("seg_b1"), "clean segment survives by reference")
    assert(m.segs.count(preSegs.toSet) === 2,
      "only the DV'd seg_b0 was replaced")
    assert(rowsOf(dir) === Seq(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 101L,
      4L -> 0L, 10L -> 0L, 11L -> 1L, 12L -> 0L, 13L -> 1L, 14L -> 0L))
    // purge is layout-only: a CDC window spanning it carries exactly
    // the update's images, nothing for the purge commit
    val feed = LakeSink.changesCdcBetween(spark, dir, vUpd - 1, vP)
      .select("_change_type").collect().map(_.getString(0)).sorted.toSeq
    assert(feed === Seq("update_postimage", "update_preimage"))
    // the DV'd version still reconciles under its own DV
    assert(LakeSink.readTableAsOf(spark, dir, vUpd)
      .filter(col("id") === 3L).select("flag").head().getLong(0) === 101L)
    // idempotent: a DV-free lake is a no-op
    val (v2, n2) = LakeSink.purgeDv(spark, dir)
    assert(v2 === vP && n2 === 0)
  }

  test("a concurrent DV landing during a purge is a TRUE conflict: " +
      "the purge re-plans and pays the NEW debt too (no resurrection)") {
    val dir = buildLake()
    LakeSink.deleteWhere(spark, dir, col("id") === 3L, dvMaxFraction = 0.5)
    var injected = false
    val (_, nPurged) = LakeSink.purgeDv(spark, dir,
      beforeCommit = () => {
        if (!injected) {
          injected = true
          // lands first on seg_b1 — the purge's CAS loses (its edit
          // was planned against a tip without this DV) and re-plans,
          // purging BOTH segments' debt
          LakeSink.deleteWhere(spark, dir, col("id") === 11L,
            dvMaxFraction = 0.5)
        }
      })
    assert(nPurged === 2, "re-plan saw the concurrent DV")
    val m = LakeSink.readManifest(dir)
    assert(m.dv.isEmpty)
    assert(ids(dir) === Seq(0L, 1L, 2L, 4L, 10L, 12L, 13L, 14L),
      "both deletes hold after the purge — nothing resurrected")
  }

  test("purge keeps the partition fact with the corrected LIVE row " +
      "count, so metadata-only retention still works after it") {
    val dir = tmp("graft_dv_purge_part")
    import spark.implicits._
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType))),
      partitionBy = Some("day"))
    val rows = for (d <- 1 to 2; i <- 0 until 5)
      yield (d.toLong, d * 100L + i)
    LakeSink.appendPartitioned(spark, dir, rows.toDF("day", "cents"))
    LakeSink.deleteWhere(spark, dir,
      col("day") === 1L && col("cents") === 100L, dvMaxFraction = 0.5)
    val (_, nPurged) = LakeSink.purgeDv(spark, dir)
    assert(nPurged === 1)
    val m = LakeSink.readManifest(dir)
    assert(m.dv.isEmpty)
    val day1 = m.parts.values.filter(_.value.contains("1")).toSeq
    assert(day1.map(_.rows) === Seq(4L), "fact corrected to live count")
    // metadata-only retention on the purged partition: exact count,
    // zero scan jobs is pinned elsewhere — here correctness
    val (_, _, dropped, nDel) = LakeSink.deleteWhere(spark, dir,
      col("day") === 1L)
    assert(dropped === 1 && nDel === 4L)
    assert(LakeSink.readTable(spark, dir).count() === 5L)
  }

  test("a partitioned lake's post-image segment inherits the " +
      "partition fact; assigning the partition column forfeits it") {
    val dir = tmp("graft_dv_part")
    import spark.implicits._
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType))),
      partitionBy = Some("day"))
    val rows = for (d <- 1 to 2; i <- 0 until 5)
      yield (d.toLong, d * 100L + i)
    LakeSink.appendPartitioned(spark, dir, rows.toDF("day", "cents"))
    val (_, rw, _) = LakeSink.updateWhere(spark, dir,
      col("day") === 1L && col("cents") === 100L,
      Map("cents" -> lit(999L)), dvMaxFraction = 0.5)
    assert(rw === 0)
    val m = LakeSink.readManifest(dir)
    // day=1: the DV'd source keeps its fact (5 rows, DV corrects
    // liveness) AND the post-image carries a fresh day=1 fact (1 row)
    val day1 = m.parts.values.filter(_.value.contains("1")).toSeq
    assert(day1.map(_.rows).sorted === Seq(1L, 5L))
    // a later DELETE WHERE day = 1 is still metadata-covered for the
    // post-image; correctness everywhere
    assert(LakeSink.readTable(spark, dir)
      .filter(col("cents") === 999L).count() === 1L)
    assert(LakeSink.readTable(spark, dir).count() === 10L)
    // assigning the partition column forfeits the post-image fact
    val (_, rw2, _) = LakeSink.updateWhere(spark, dir,
      col("day") === 2L && col("cents") === 200L,
      Map("day" -> lit(3L)), dvMaxFraction = 0.5)
    assert(rw2 === 0)
    val m2 = LakeSink.readManifest(dir)
    val newSegs = m2.segs.toSet -- m.segs.toSet
    assert(newSegs.size === 1 && !m2.parts.contains(newSegs.head),
      "post-image with reassigned partition column carries no fact")
    assert(LakeSink.readTable(spark, dir)
      .filter(col("day") === 3L).count() === 1L)
  }

  // --- r15: DV debt observability -----------------------------------

  test("DESCRIBE HISTORY / DETAIL surface the DV debt lifecycle: " +
      "accumulate -> purge pays off") {
    val dir = buildLake()
    // two point deletes: debt accumulates (1 then 2 segments)
    LakeSink.deleteWhere(spark, dir, col("id") === 3L,
      dvMaxFraction = 0.5)
    LakeSink.deleteWhere(spark, dir, col("id") === 11L,
      dvMaxFraction = 0.5)
    val det = LakeSink.tableDetail(spark, dir).head()
    assert(det.getAs[Long]("num_dv_segments") === 2L)
    assert(det.getAs[Long]("dv_rows") === 2L)
    // 2 hidden of 10 raw rows = 200000 ppm
    assert(det.getAs[Long]("dv_debt_ppm") === 200000L)
    // purge pays the debt off; detail reads clean again
    LakeSink.purgeDv(spark, dir)
    val det2 = LakeSink.tableDetail(spark, dir).head()
    assert(det2.getAs[Long]("num_dv_segments") === 0L)
    assert(det2.getAs[Long]("dv_rows") === 0L)
    assert(det2.getAs[Long]("dv_debt_ppm") === 0L)
    // HISTORY shows WHEN the debt existed, per version (zero data IO)
    val h = LakeSink.history(spark, dir).orderBy("version").collect()
      .map(r => r.getAs[Long]("version") ->
        (r.getAs[Long]("n_dv_segments"), r.getAs[Long]("dv_rows")))
      .toMap
    assert(h(2L) === ((0L, 0L)))   // ingest
    assert(h(3L) === ((1L, 1L)))   // first point delete
    assert(h(4L) === ((2L, 2L)))   // second point delete
    assert(h(5L) === ((0L, 0L)))   // purge paid it off
  }
}
