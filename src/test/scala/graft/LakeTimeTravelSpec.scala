package graft

import graft.streaming.{LakeCatalog, LakeSink}
import org.scalatest.funsuite.AnyFunSuite

/** TIMESTAMP AS OF (r12): time travel and change-feed windows by
  * COMMIT TIME, resolved from the manifest log — the CAS publishes
  * one immutable file per version, so its mtime is the commit time
  * (exactly Delta's resolution source). Pinned here:
  *
  *  - `versionAtOrBefore`: a ts between two commits resolves to the
  *    EARLIER one (the table as it was at that instant); a ts at a
  *    commit's exact time resolves to that commit; past the tip → tip.
  *  - `firstVersionAtOrAfter` (the from-bound rule) mirrors it.
  *  - boundary refusals: before the first retained commit (incl.
  *    across a vacuum, where the horizon moves) and past the tip.
  *  - the SQL surface: `TIMESTAMP AS OF` on a registered lake and
  *    timestamp-bounded `table_changes` produce exactly the
  *    version-addressed results.
  */
class LakeTimeTravelSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** 3-version lake (one id per version: 1, 2, 3), with distinct
    * commit times (mtime granularity is ns on this FS; the sleep
    * guards coarse-mtime filesystems). */
  private def buildLake(): String = {
    val dir = tmp("graft_tt_lake")
    import spark.implicits._
    (1 to 3).foreach { i =>
      Seq((i.toLong, i * 10L)).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
      Thread.sleep(20)
    }
    dir
  }

  test("versionAtOrBefore / firstVersionAtOrAfter boundary semantics") {
    val dir = buildLake()
    val t1 = LakeSink.commitTimestampMicros(dir, 1L)
    val t2 = LakeSink.commitTimestampMicros(dir, 2L)
    val t3 = LakeSink.commitTimestampMicros(dir, 3L)
    assert(t1 < t2 && t2 < t3)
    // exact commit instant → that commit; between commits → earlier;
    // past the tip → tip
    assert(LakeSink.versionAtOrBefore(dir, t2) === 2L)
    assert(LakeSink.versionAtOrBefore(dir, (t2 + t3) / 2) === 2L)
    assert(LakeSink.versionAtOrBefore(dir, t3 + 1000000L) === 3L)
    // from-bound mirror
    assert(LakeSink.firstVersionAtOrAfter(dir, t2) === 2L)
    assert(LakeSink.firstVersionAtOrAfter(dir, (t1 + t2) / 2) === 2L)
    // refusals, both directions
    val e1 = intercept[Exception] {
      LakeSink.versionAtOrBefore(dir, t1 - 1000000L) }
    assert(e1.getMessage.contains("precedes the earliest retained"))
    val e2 = intercept[Exception] {
      LakeSink.firstVersionAtOrAfter(dir, t3 + 1000000L) }
    assert(e2.getMessage.contains("past the newest"))
    // the read resolves through the same rule
    assert(LakeSink.readTableAsOfTimestamp(spark, dir, (t2 + t3) / 2)
      .count() === 2L)
  }

  test("the timestamp horizon is the vacuum retention horizon") {
    val dir = buildLake()
    val t1 = LakeSink.commitTimestampMicros(dir, 1L)
    val t2 = LakeSink.commitTimestampMicros(dir, 2L)
    LakeSink.vacuum(dir, retainVersions = 2) // v2, v3 retained
    // v2 still resolves by its own timestamp
    assert(LakeSink.versionAtOrBefore(dir, t2) === 2L)
    // v1's instant now precedes the horizon — refused, not silently
    // rounded up to v2
    val e = intercept[Exception] { LakeSink.versionAtOrBefore(dir, t1) }
    assert(e.getMessage.contains("precedes the earliest retained"))
  }

  test("SQL: TIMESTAMP AS OF and timestamp-bounded table_changes " +
      "match their version-addressed twins") {
    val dir = buildLake()
    val tbl = "graft_tt_" + java.util.UUID.randomUUID.toString.take(8)
    LakeCatalog.register(tbl, dir, cdc = true)
    val t2 = LakeSink.commitTimestampMicros(dir, 2L)
    val t3 = LakeSink.commitTimestampMicros(dir, 3L)
    def fmt(us: Long): String =
      java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(us / 1000000L,
          (us % 1000000L) * 1000L),
        java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    // TIMESTAMP AS OF between v2 and v3 → v2's two rows
    val rows = spark.sql(s"SELECT id FROM $tbl TIMESTAMP AS OF " +
        s"'${fmt((t2 + t3) / 2)}' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 2L))
    // table_changes over [t2, t3] = changes committed in the window =
    // versions 2 and 3 (from-bound inclusive-at-instant, to at tip)
    val feed = spark.sql(
      s"""SELECT id, _commit_version FROM table_changes('$tbl',
          TIMESTAMP'${fmt(t2)}', TIMESTAMP'${fmt(t3)}')
          ORDER BY _commit_version""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(feed === Seq((2L, 2L), (3L, 3L)))
    LakeCatalog.unregister(tbl)
  }
}
