package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-evolution tests for the lake protocol
  * ([[LakeSink.evolveAddColumn]] / [[LakeSink.appendSegment]]). What
  * must hold:
  *
  *  - ADD COLUMN is metadata-only: schema generation bumps, version
  *    bumps, ZERO segment dirs touched;
  *  - a mixed-schema table reads reconciled — NULL for the added
  *    column on pre-evolution segments, real values on new ones;
  *  - time travel across the boundary reads each version under ITS
  *    recorded schema (old version = narrow schema);
  *  - DML materializes the evolved column in segments it rewrites;
  *  - duplicate-column evolution and wrong-schema appends are
  *    rejected;
  *  - MERGE on an evolved table takes its target schema from the
  *    manifest, not from a (possibly narrow) first segment.
  */
class LakeEvolutionSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  /** Narrow 2-segment lake: (user_id, v); seg0 = {1,2}, seg1 = {3}. */
  private def buildLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_evo_spec").toString
    Seq((0, Seq((1L, 10L), (2L, 20L))), (1, Seq((3L, 30L))))
      .foreach { case (i, rows) =>
        rows.toDF("user_id", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
      }
    dir
  }

  import scala.jdk.CollectionConverters._

  private def segFiles(dir: String, seg: String): Seq[String] =
    java.nio.file.Files.list(java.nio.file.Paths.get(dir, seg))
      .iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("ADD COLUMN is metadata-only; mixed read reconciles with NULLs") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val before0 = segFiles(dir, "seg_b0")

    val sv = LakeSink.evolveAddColumn(spark, dir, "score", LongType)
    assert(sv === 1L)
    val m = LakeSink.readManifest(dir)
    assert(m.version === preVersion + 1 && m.schemaV === 1L)
    assert(m.segs.sorted === Seq("seg_b0", "seg_b1")) // no rewrite
    assert(segFiles(dir, "seg_b0") === before0)       // untouched files

    // post-evolution append carries the wider schema
    LakeSink.appendSegment(spark, dir,
      Seq((9L, 90L, 99L)).toDF("user_id", "v", "score"), "seg_b2")
    val t = LakeSink.readTable(spark, dir)
    assert(t.columns.toSeq === Seq("user_id", "v", "score"))
    assert(t.count() === 4L)
    assert(t.filter(col("score").isNull).count() === 3L) // legacy rows
    assert(t.filter(col("user_id") === 9L).head.getLong(2) === 99L)
  }

  test("time travel across the evolution boundary reads each version's schema") {
    val dir = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    LakeSink.evolveAddColumn(spark, dir, "score", LongType)
    LakeSink.appendSegment(spark, dir,
      Seq((9L, 90L, 99L)).toDF("user_id", "v", "score"), "seg_b2")
    // pre-evolution version: narrow schema, original rows only
    val old = LakeSink.readTableAsOf(spark, dir, preVersion)
    assert(old.columns.toSeq === Seq("user_id", "v"))
    assert(old.count() === 3L)
    // post-evolution version: wide schema
    val now = LakeSink.readTableAsOf(
      spark, dir, LakeSink.readManifest(dir).version)
    assert(now.columns.toSeq === Seq("user_id", "v", "score"))
  }

  test("UPDATE materializes the evolved column in rewritten segments") {
    val dir = buildLake()
    LakeSink.evolveAddColumn(spark, dir, "score", LongType)
    // Backfill score for seg0's rows only — seg1 survives by
    // reference, its rows still reading score as NULL.
    val (_, rewritten, updated) = LakeSink.updateWhere(spark, dir,
      col("user_id") <= 2L, Map("score" -> (col("v") * 10L)))
    assert(rewritten === 1 && updated === 2L)
    val t = LakeSink.readTable(spark, dir)
    assert(t.filter(col("user_id") === 1L).head.getLong(2) === 100L)
    assert(t.filter(col("user_id") === 3L).head.isNullAt(2))
  }

  test("duplicate column and wrong-schema appends are rejected") {
    val dir = buildLake()
    LakeSink.evolveAddColumn(spark, dir, "score", LongType)
    intercept[IllegalArgumentException] {
      LakeSink.evolveAddColumn(spark, dir, "SCORE", LongType)
    }
    intercept[IllegalArgumentException] { // narrow append post-evolution
      LakeSink.appendSegment(spark, dir,
        Seq((9L, 90L)).toDF("user_id", "v"), "seg_bx")
    }
  }

  test("MERGE on an evolved table uses the manifest schema") {
    val dir = buildLake()
    LakeSink.evolveAddColumn(spark, dir, "score", LongType)
    // source carries the WIDE schema; target seg_b0/b1 are narrow
    val source = Seq((2L, 200L, 7L), (9L, 90L, 9L))
      .toDF("user_id", "v", "score")
    val (_, rewritten, updated, inserted) =
      LakeSink.mergeInto(spark, dir, source, Seq("user_id"))
    assert(rewritten === 1 && updated === 1L && inserted === 1L)
    val t = LakeSink.readTable(spark, dir)
    assert(t.filter(col("user_id") === 2L).head.getLong(2) === 7L)
    assert(t.filter(col("user_id") === 1L).head.isNullAt(2))
    assert(t.filter(col("user_id") === 9L).head.getLong(2) === 9L)
  }
}
