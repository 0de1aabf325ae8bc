package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout-preserving compaction ([[LakeSink.compact]]): the compacted
  * segment must (a) hold exactly the same rows, (b) when `clusterBy`
  * is set, actually SKIP at scan time on the cluster key where the
  * pre-compaction scattered segments could not, and (c) follow the
  * protocol's retention contract (pre-compaction version time-travels
  * until vacuum; 0/1-segment lakes are a no-op; schema generation
  * survives compaction of an evolved lake).
  */
class LakeCompactionSpec extends AnyFunSuite with SparkFixture {

  /** 4-segment lake bucketed by event_id — every user scattered
    * across every segment (the worst case for key locality). */
  private def buildLake(): (String, Long) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_compact_spec").toString
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    (0 to 3).foreach { i =>
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    (dir, ev.count())
  }

  private def decodedRows(dir: String): Long =
    ScanMetrics.scanOutputRows(
      LakeSink.readTable(spark, dir)
        .filter(col("user_id") === 7)
        .agg(count(lit(1)), sum("vc")))

  test("clustered compaction: identical rows, measured skipping, retention") {
    val (dir, total) = buildLake()
    val preVersion = LakeSink.readManifest(dir).version
    val preSum = LakeSink.readTable(spark, dir)
      .agg(sum("vc")).head.getLong(0)
    // Scattered baseline: user 7 lives in every segment file, nothing
    // skips.
    val scatteredRead = decodedRows(dir)
    assert(scatteredRead > (total * 0.9).toLong,
      s"scattered lake unexpectedly skipped: $scatteredRead of $total")

    val (v, nIn) = LakeSink.compact(
      spark, dir, targetFiles = 8, clusterBy = Seq("user_id"))
    assert(v === preVersion + 1 && nIn === 4)
    val m = LakeSink.readManifest(dir)
    assert(m.segs.size === 1 && m.segs.head.startsWith("seg_c"))

    // (a) identical rows
    val after = LakeSink.readTable(spark, dir)
    assert(after.count() === total)
    assert(after.agg(sum("vc")).head.getLong(0) === preSum)
    // (b) the compacted layout skips on the cluster key
    val clusteredRead = decodedRows(dir)
    assert(clusteredRead <= total / 4,
      s"clustered compaction read $clusteredRead of $total rows — " +
        "the rewrite lost its range partitioning")
    // (c) retention: the pre-compaction version still time-travels,
    // then vacuum GCs the replaced segments and the live version reads
    assert(LakeSink.readTableAsOf(spark, dir, preVersion).count() === total)
    val (segsGone, _) = LakeSink.vacuum(dir, retainVersions = 1)
    assert(segsGone === 4)
    assert(LakeSink.readTable(spark, dir).count() === total)
  }

  test("z-order compaction: measured skipping on BOTH dimensions") {
    // OPTIMIZE ZORDER BY through the protocol: the same rewrite, laid
    // on the Morton curve over (user_id, event-minutes) — each output
    // file then carries tight min/max on BOTH columns, so a selective
    // filter on EITHER skips most of the table (1-D clustering buys
    // only its own key; thresholds mirror ZorderLayoutSpec).
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_compact_z").toString
    val raw = Tables.events(spark, sfDir)
    val t0 = raw.agg(min(unix_micros(col("ts")))).head.getLong(0)
    val ev = raw.select(
      col("event_id"), col("user_id"),
      ((unix_micros(col("ts")) - t0) / 60000000L).cast("long").as("tme"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    (0 to 3).foreach { i =>
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    val total = ev.count()
    val tmeMax = ev.agg(max("tme")).head.getLong(0)
    def userRead(): Long = ScanMetrics.scanOutputRows(
      LakeSink.readTable(spark, dir)
        .filter(col("user_id") === 7).agg(count(lit(1)), sum("vc")))
    def timeRead(): Long = ScanMetrics.scanOutputRows(
      LakeSink.readTable(spark, dir)
        .filter(col("tme") <= tmeMax / 8).agg(count(lit(1)), sum("vc")))
    def answers(): (Long, Long) = {
      val t = LakeSink.readTable(spark, dir)
      (t.filter(col("user_id") === 7).agg(sum("vc")).head.getLong(0),
        t.filter(col("tme") <= tmeMax / 8).agg(sum("vc")).head.getLong(0))
    }
    // scattered: neither dimension skips
    assert(userRead() > (total * 0.9).toLong)
    assert(timeRead() > (total * 0.9).toLong)
    val before = answers()

    val (_, nIn) = LakeSink.compact(spark, dir, targetFiles = 32,
      zorderBy = Some(("user_id", "tme")))
    assert(nIn === 4)
    assert(LakeSink.readTable(spark, dir).count() === total)
    assert(answers() === before, "z-order rewrite changed the answer")
    // the z-key never leaks into the table
    assert(LakeSink.readTable(spark, dir).columns.toSeq ===
      Seq("event_id", "user_id", "tme", "vc"))
    val (u, t) = (userRead(), timeRead())
    assert(u <= total / 2,
      s"z-order read $u of $total on the user dimension")
    assert(t <= total / 2,
      s"z-order read $t of $total on the time dimension")
  }

  test("0/1-segment lakes are a no-op") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_compact_noop").toString
    import spark.implicits._
    Seq((1L, 10L)).toDF("user_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(1L, 0L, Seq("seg_b0"))))
    val (v, nIn) = LakeSink.compact(spark, dir, clusterBy = Seq("user_id"))
    assert(v === 1L && nIn === 0)
    assert(LakeSink.readManifest(dir).segs === Seq("seg_b0"))
  }

  test("compacting an evolved lake preserves the schema generation") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_compact_evo").toString
    import spark.implicits._
    Seq((0, Seq((1L, 10L), (2L, 20L))), (1, Seq((3L, 30L))))
      .foreach { case (i, rows) =>
        rows.toDF("user_id", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
      }
    LakeSink.evolveAddColumn(spark, dir, "score",
      org.apache.spark.sql.types.LongType)
    val (_, nIn) = LakeSink.compact(spark, dir, clusterBy = Seq("user_id"))
    assert(nIn === 2)
    val m = LakeSink.readManifest(dir)
    assert(m.schemaV === 1L && m.schemaJson.isDefined)
    val t = LakeSink.readTable(spark, dir)
    assert(t.columns.toSeq === Seq("user_id", "v", "score"))
    // the compacted segment MATERIALIZED the evolved column (reading
    // it no longer relies on absent-column fill)
    assert(spark.read.parquet(s"$dir/${m.segs.head}")
      .columns.contains("score"))
    assert(t.filter(col("score").isNull).count() === 3L)
  }
}
