package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Protocol tests for [[LakeSink.mergeInto]] — copy-on-write MERGE
  * (upsert). What must hold:
  *
  *  - segments with no key match survive BY REFERENCE;
  *  - matched rows are REPLACED by the source row — including when the
  *    source value is NULL (marker semantics, not coalesce);
  *  - unmatched source rows land as ONE appended segment;
  *  - a no-op merge (no matches, no inserts) commits nothing;
  *  - a key-duplicated source errors (ambiguous match), as does a
  *    source missing a target column;
  *  - the pre-merge version stays time-travel-readable;
  *  - a crash before the manifest CAS leaves readers on the old
  *    version, and a retry converges.
  */
class LakeMergeSpec extends AnyFunSuite with SparkFixture {

  /** 3-segment lake keyed uniquely by user_id:
    * seg0 = {1,2}, seg1 = {3,4}, seg2 = {5}. */
  private def buildLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_merge_spec").toString
    import spark.implicits._
    val segs = Seq(
      (0, Seq((1L, Option(10L)), (2L, Option(20L)))),
      (1, Seq((3L, Option(30L)), (4L, Option(40L)))),
      (2, Seq((5L, Option(50L)))))
    segs.foreach { case (i, rows) =>
      rows.toDF("user_id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    dir
  }

  import spark.implicits._

  test("merge: replace matched (incl. NULL source value), append inserts, by-reference untouched") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val source = Seq(
      (2L, Option(200L)),           // update in seg0
      (4L, Option.empty[Long]),     // update in seg1 — NULL must WIN
      (9L, Option(90L)))            // insert
      .toDF("user_id", "v")
    val (v, rewritten, updated, inserted) =
      LakeSink.mergeInto(spark, dir, source, Seq("user_id"))
    assert(v === preVersion + 1)
    assert(rewritten === 2 && updated === 2L && inserted === 1L)

    val m = LakeSink.readManifest(dir)
    assert(m.segs.contains("seg_b2"))              // by reference
    assert(m.segs.exists(_.contains("_ins")))      // one insert segment
    assert(m.segs.size === 4)

    val after = LakeSink.readTable(spark, dir)
    assert(after.count() === 6L)
    val byId = after.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byId === Map(1L -> Some(10L), 2L -> Some(200L), 3L -> Some(30L),
      4L -> None, 5L -> Some(50L), 9L -> Some(90L)))

    // pre-merge version still time-travels to the old state
    val before = LakeSink.readTableAsOf(spark, dir, preVersion)
    assert(before.count() === 5L)
    assert(before.filter(col("user_id") === 2L)
      .head.getLong(1) === 20L)
  }

  test("no-op merge commits nothing") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val empty = Seq.empty[(Long, Option[Long])].toDF("user_id", "v")
    val (v, rewritten, updated, inserted) =
      LakeSink.mergeInto(spark, dir, empty, Seq("user_id"))
    assert(v === preVersion && rewritten === 0 &&
      updated === 0L && inserted === 0L)
    assert(LakeSink.readManifest(dir).version === preVersion)
    assert(LakeSink.readTable(spark, dir).count() === 5L)
  }

  test("insert-only merge touches no existing segment") {
    val dir = buildLake()
    val source = Seq((100L, Option(1L))).toDF("user_id", "v")
    val (_, rewritten, updated, inserted) =
      LakeSink.mergeInto(spark, dir, source, Seq("user_id"))
    assert(rewritten === 0 && updated === 0L && inserted === 1L)
    val m = LakeSink.readManifest(dir)
    assert(Seq("seg_b0", "seg_b1", "seg_b2").forall(m.segs.contains))
    assert(LakeSink.readTable(spark, dir).count() === 6L)
  }

  test("key-duplicated source errors; source missing a target column errors") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val dup = Seq((2L, Option(1L)), (2L, Option(2L))).toDF("user_id", "v")
    intercept[IllegalArgumentException] {
      LakeSink.mergeInto(spark, dir, dup, Seq("user_id"))
    }
    val narrow = Seq(Tuple1(2L)).toDF("user_id")
    val e = intercept[IllegalArgumentException] {
      LakeSink.mergeInto(spark, dir, narrow, Seq("user_id"))
    }
    assert(e.getMessage.contains("v"))
    assert(LakeSink.readManifest(dir).version === preVersion)
  }

  test("crash before the manifest CAS leaves readers on the old version; retry converges") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    // Simulate dying between the segment writes and the CAS: rewritten
    // + insert segments fully on disk, manifest untouched.
    Seq((2L, Option(200L))).toDF("user_id", "v")
      .write.mode("overwrite").parquet(s"$dir/seg_m_orphan_0")
    Seq((9L, Option(90L))).toDF("user_id", "v")
      .write.mode("overwrite").parquet(s"$dir/seg_m_orphan_ins")
    assert(LakeSink.readManifest(dir).version === preVersion)
    assert(LakeSink.readTable(spark, dir).count() === 5L)
    // vacuum GCs the invisible orphans
    val (segsGone, _) = LakeSink.vacuum(dir, retainVersions = 1)
    assert(segsGone === 2)
    // retry of the whole merge converges
    val source = Seq((2L, Option(200L)), (9L, Option(90L)))
      .toDF("user_id", "v")
    val (v, rewritten, updated, inserted) =
      LakeSink.mergeInto(spark, dir, source, Seq("user_id"))
    assert(v === preVersion + 1 && rewritten === 1 &&
      updated === 1L && inserted === 1L)
    assert(LakeSink.readTable(spark, dir).count() === 6L)
  }

  // ---------------------------------------------------------------
  // MERGE-ON-READ matched clauses (r14): dvMaxFraction > 0 — matched
  // positions DV'd, winning source rows appended, O(matched rows)
  // write cost for the sparse-match upsert feed.
  // ---------------------------------------------------------------

  test("merge-on-read: sparse match DVs the position and appends the " +
      "source row; result identical to copy-on-write's") {
    val dirDv = buildLake()
    val dirCow = buildLake()
    val source = Seq(
      (2L, Option(200L)),           // update in seg0 (1 of 2 rows)
      (4L, Option.empty[Long]),     // update in seg1 — NULL must WIN
      (9L, Option(90L)))            // insert
      .toDF("user_id", "v")
    val (_, rwC, upC, insC) =
      LakeSink.mergeInto(spark, dirCow, source, Seq("user_id"))
    val (_, rwD, upD, insD) = LakeSink.mergeInto(spark, dirDv, source,
      Seq("user_id"), dvMaxFraction = 1.0)
    assert((rwC, upC, insC) === ((2, 2L, 1L)))
    assert((rwD, upD, insD) === ((0, 2L, 1L)), "no rewrite under MoR")
    val m = LakeSink.readManifest(dirDv)
    assert(m.dv.keySet === Set("seg_b0", "seg_b1"))
    assert(m.dv.values.map(_.rows).toSeq.sorted === Seq(1L, 1L))
    // both source segments survive by reference; 2 post-image segments
    // + 1 insert segment appended
    assert(m.segs.count(Set("seg_b0", "seg_b1", "seg_b2")) === 3)
    assert(m.segs.size === 6)
    def state(dir: String): Map[Long, Option[Long]] =
      LakeSink.readTable(spark, dir).collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
    assert(state(dirDv) === state(dirCow))
    assert(state(dirDv) === Map(1L -> Some(10L), 2L -> Some(200L),
      3L -> Some(30L), 4L -> None, 5L -> Some(50L), 9L -> Some(90L)))
  }

  test("merge-on-read: a fully-matching segment stays a rewrite; a " +
      "DV'd row does not re-match a later merge") {
    val dir = buildLake()
    // seg_b2 = {5} fully matches → strictly-partial guard → rewrite
    val (_, rw1, up1, _) = LakeSink.mergeInto(spark, dir,
      Seq((5L, Option(500L))).toDF("user_id", "v"), Seq("user_id"),
      dvMaxFraction = 1.0)
    assert(rw1 === 1 && up1 === 1L)
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    // sparse merge on seg_b0 DVs user 2; a second merge keyed 2 must
    // match the POST-IMAGE row (and DV the post-image segment), never
    // resurrect the hidden original
    LakeSink.mergeInto(spark, dir,
      Seq((2L, Option(200L))).toDF("user_id", "v"), Seq("user_id"),
      dvMaxFraction = 1.0)
    val (_, _, up3, ins3) = LakeSink.mergeInto(spark, dir,
      Seq((2L, Option(2000L))).toDF("user_id", "v"), Seq("user_id"),
      dvMaxFraction = 1.0)
    assert(up3 === 1L && ins3 === 0L)
    val rows = LakeSink.readTable(spark, dir)
      .filter(col("user_id") === 2L).collect()
    assert(rows.length === 1 && rows.head.getLong(1) === 2000L)
    assert(LakeSink.readTable(spark, dir).count() === 5L)
  }

  test("merge-on-read CDC images are identical to copy-on-write's") {
    val dirDv = buildLake()
    val dirCow = buildLake()
    val source = Seq((2L, Option(200L)), (9L, Option(90L)))
      .toDF("user_id", "v")
    val (vC, _, _, _) = LakeSink.mergeInto(spark, dirCow, source,
      Seq("user_id"), cdc = true)
    val (vD, rwD, _, _) = LakeSink.mergeInto(spark, dirDv, source,
      Seq("user_id"), cdc = true, dvMaxFraction = 1.0)
    assert(rwD === 0)
    def feed(dir: String, v: Long): Seq[(String, Long, Option[Long])] =
      LakeSink.changesCdcBetween(spark, dir, v - 1, v)
        .select("_change_type", "user_id", "v")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(feed(dirDv, vD) === feed(dirCow, vC))
    assert(feed(dirDv, vD) === Seq(
      ("insert", 9L, Some(90L)),
      ("update_postimage", 2L, Some(200L)),
      ("update_preimage", 2L, Some(20L))))
  }
}
