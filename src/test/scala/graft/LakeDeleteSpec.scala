package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Protocol tests for [[LakeSink.deleteWhere]] — the copy-on-write
  * row-level DELETE. What must hold:
  *
  *  - untouched segments survive BY REFERENCE (no rewrite — the
  *    write-amplification bound);
  *  - fully-matching segments are dropped without a write;
  *  - partially-matching segments are rewritten without their
  *    matching rows;
  *  - the pre-delete version stays time-travel-readable until vacuum,
  *    and vacuum GCs replaced segment dirs while retained versions
  *    still read;
  *  - a no-match delete commits nothing;
  *  - a crash BEFORE the manifest CAS leaves readers on the old
  *    version (new segment dirs are invisible orphans).
  */
class LakeDeleteSpec extends AnyFunSuite with SparkFixture {

  /** 3-segment lake: seg 0 = all user 1 (fully matching a user_id===1
    * delete), seg 1 = users 1 and 2 mixed, seg 2 = user 3 only. */
  private def buildLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_delete_spec").toString
    import spark.implicits._
    val segs = Seq(
      (0, Seq((1L, 10L), (1L, 11L))),
      (1, Seq((1L, 20L), (2L, 21L), (2L, 22L))),
      (2, Seq((3L, 30L), (3L, 31L))))
    segs.foreach { case (i, rows) =>
      rows.toDF("user_id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    dir
  }

  test("copy-on-write delete: drop, rewrite, and survive-by-reference") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version

    val (v, rewritten, dropped, deleted) =
      LakeSink.deleteWhere(spark, dir, col("user_id") === 1L)
    assert(v === preVersion + 1)
    assert(dropped === 1)    // seg_b0: all rows matched
    assert(rewritten === 1)  // seg_b1: mixed
    assert(deleted === 3L)   // two rows in seg 0, one in seg 1

    val after = LakeSink.readTable(spark, dir)
    assert(after.filter(col("user_id") === 1L).count() === 0L)
    assert(after.count() === 4L)
    // seg_b2 survived by reference — same dir, untouched:
    val m = LakeSink.readManifest(dir)
    assert(m.segs.contains("seg_b2"))
    assert(!m.segs.exists(_.startsWith("seg_b0")))
    // time travel to the pre-delete version still sees user 1
    val before = LakeSink.readTableAsOf(spark, dir, preVersion)
    assert(before.filter(col("user_id") === 1L).count() === 3L)
    assert(before.count() === 7L)

    // vacuum(1): replaced seg_b0/seg_b1 dirs GC'd, live version reads
    val (segsGone, versionsGone) = LakeSink.vacuum(dir, retainVersions = 1)
    assert(segsGone === 2 && versionsGone >= 1)
    assert(LakeSink.readTable(spark, dir).count() === 4L)
  }

  test("no-match delete commits nothing") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val (v, rewritten, dropped, deleted) =
      LakeSink.deleteWhere(spark, dir, col("user_id") === 99L)
    assert(v === preVersion && rewritten === 0 && dropped === 0 &&
      deleted === 0L)
    assert(LakeSink.readManifest(dir).version === preVersion)
    assert(LakeSink.readTable(spark, dir).count() === 7L)
  }

  test("copy-on-write update: rewrite touched, by-reference untouched, old-row RHS") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    // cond and RHS both read `v` — the single-projection rule means
    // every RHS sees the OLD v, so rows at the boundary can't be
    // double-bumped by their own update.
    val (ver, rewritten, updated) = LakeSink.updateWhere(
      spark, dir, col("v") >= 21L, Map("v" -> (col("v") + 100L)))
    assert(ver === preVersion + 1)
    assert(rewritten === 2)  // seg_b1 (21, 22) and seg_b2 (30, 31)
    assert(updated === 4L)
    val after = LakeSink.readTable(spark, dir)
    assert(after.agg(sum("v")).head.getLong(0) ===
      (10 + 11 + 20) + (121 + 122 + 130 + 131))
    assert(after.count() === 7L)      // UPDATE never changes cardinality
    assert(LakeSink.readManifest(dir).segs.contains("seg_b0")) // by ref
    // pre-update version still time-travels to the old values
    assert(LakeSink.readTableAsOf(spark, dir, preVersion)
      .agg(sum("v")).head.getLong(0) === 10 + 11 + 20 + 21 + 22 + 30 + 31)
  }

  test("delete retains NULL-predicate rows (SQL DELETE semantics)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_null_del_spec").toString
    import spark.implicits._
    // v is nullable: the NULL row's predicate evaluates to NULL, and
    // SQL DELETE removes only predicate-TRUE rows.
    Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(30L)))
      .toDF("user_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"))))
    val (_, rewritten, dropped, deleted) =
      LakeSink.deleteWhere(spark, dir, col("v") > 15L)
    assert(rewritten === 1 && dropped === 0 && deleted === 1L)
    val after = LakeSink.readTable(spark, dir)
    assert(after.count() === 2L) // FALSE row and NULL row both retained
    assert(after.filter(col("v").isNull).count() === 1L)
  }

  test("UPDATE evaluates SET expressions ONLY on matching rows: an " +
      "RHS that errors on excluded rows (ANSI division) succeeds on " +
      "both the copy-on-write and merge-on-read paths") {
    def build(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_lake_partial_rhs").toString
      import spark.implicits._
      // w = 0 on rows the predicate excludes: 100/w on those rows
      // would throw under ANSI if the engine evaluated RHS eagerly
      Seq((1L, 0L, 10L), (2L, 4L, 20L), (3L, 0L, 30L), (4L, 5L, 40L))
        .toDF("k", "w", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(1L, 0L, Seq("seg_b0"))))
      dir
    }
    for (dvf <- Seq(0.0, 1.0)) {
      val dir = build()
      val (_, _, updated) = LakeSink.updateWhere(spark, dir,
        col("w") > 0L, Map("v" -> (lit(100L) / col("w")).cast("long")),
        dvMaxFraction = dvf)
      assert(updated === 2L, s"dvMaxFraction=$dvf")
      val byK = LakeSink.readTable(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(byK === Map(1L -> 10L, 2L -> 25L, 3L -> 30L, 4L -> 20L),
        s"dvMaxFraction=$dvf")
    }
  }

  test("update rejects assignment to a column the schema lacks") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val e = intercept[IllegalArgumentException] {
      LakeSink.updateWhere(spark, dir, col("v") > 0L,
        Map("not_a_column" -> lit(0L)))
    }
    assert(e.getMessage.contains("not_a_column"))
    // nothing committed, nothing rewritten
    assert(LakeSink.readManifest(dir).version === preVersion)
    assert(LakeSink.readTable(spark, dir).count() === 7L)
  }

  test("no-match update commits nothing") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val (ver, rewritten, updated) = LakeSink.updateWhere(
      spark, dir, col("v") > 1000L, Map("v" -> lit(0L)))
    assert(ver === preVersion && rewritten === 0 && updated === 0L)
    assert(LakeSink.readTable(spark, dir).count() === 7L)
  }

  test("crash before the manifest CAS leaves readers on the old version") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    // Simulate the crash window: the rewritten segment is fully on
    // disk but the manifest commit never happens — exactly what
    // deleteWhere dying between its write and its CAS leaves behind.
    val keep = spark.read.parquet(s"$dir/seg_b1")
      .filter(col("user_id") =!= 1L)
    keep.write.mode("overwrite").parquet(s"$dir/seg_d_orphan")
    // Readers: untouched.
    assert(LakeSink.readManifest(dir).version === preVersion)
    assert(LakeSink.readTable(spark, dir).count() === 7L)
    // The orphan dir is invisible garbage for vacuum.
    val (segsGone, _) = LakeSink.vacuum(dir, retainVersions = 1)
    assert(segsGone === 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "seg_d_orphan")))
    // And a RETRY of the whole delete still works and converges.
    val (v, _, _, deleted) =
      LakeSink.deleteWhere(spark, dir, col("user_id") === 1L)
    assert(v === preVersion + 1 && deleted === 3L)
    assert(LakeSink.readTable(spark, dir)
      .filter(col("user_id") === 1L).count() === 0L)
  }
}
