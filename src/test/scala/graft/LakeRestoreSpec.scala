package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE TABLE (r12): the undo verb time travel exists for —
  * [[LakeSink.restoreTable]] re-publishes an earlier version's table
  * state as a NEW metadata commit. What must hold:
  *
  *  - a restore after destructive DML reads back exactly the target
  *    version's rows, stats and partition facts included, with the
  *    undone history still time-travelable (restore-of-restore works);
  *  - the restore commit itself moves NO data (metadata-only when no
  *    cdc images are requested);
  *  - merge-on-read state restores correctly in BOTH directions: a DV
  *    added after the target is unset (the rows come back), and a
  *    restore TO a DV-carrying version re-hides exactly its rows;
  *  - with cdc=true a feed consumer rides through the restore on
  *    explicit images (deletes for rows going away, inserts for rows
  *    coming back), including positional DV diffs;
  *  - operational state does NOT travel: txn idempotence markers and
  *    expectations keep their current values;
  *  - fail-loud: vacuumed targets, schema-crossing cdc restores.
  */
class LakeRestoreSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** 2-segment lake: ids 0-4 (seg 0), 10-14 (seg 1); flag = id % 2. */
  private def buildLake(): String = {
    val dir = tmp("graft_restore_lake")
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

  test("restore undoes a delete; history stays; restore-of-restore") {
    val dir = buildLake() // v2 tip
    val (vDel, _, _, nDel) =
      LakeSink.deleteWhere(spark, dir, col("flag") === 1)
    assert(nDel === 4L && vDel === 3L)
    assert(ids(dir) === Seq(0L, 2L, 4L, 10L, 12L, 14L))
    val (vR, restored, removed) = LakeSink.restoreTable(spark, dir, 2L)
    assert(vR === 4L)
    assert(restored === 2 && removed === 2) // rewritten segs swap back
    assert(ids(dir) === Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 14L))
    // the undone version is still addressable…
    assert(LakeSink.readTableAsOf(spark, dir, vDel)
      .count() === 6L)
    // …and a second restore un-does the undo
    val (vR2, _, _) = LakeSink.restoreTable(spark, dir, vDel)
    assert(vR2 === 5L)
    assert(ids(dir) === Seq(0L, 2L, 4L, 10L, 12L, 14L))
    // restoring to the already-current state is a no-op
    assert(LakeSink.restoreTable(spark, dir, vDel) === ((5L, 0, 0)))
  }

  test("restore is metadata-only: no data file written or removed") {
    val dir = buildLake()
    LakeSink.deleteWhere(spark, dir, col("id") >= 10L)
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet"))
        .filterNot(_.contains("_manifest")).toSet
      finally s.close()
    }
    val before = dataFiles()
    LakeSink.restoreTable(spark, dir, 2L)
    assert(dataFiles() === before)
  }

  test("DV restore both directions, with cdc images") {
    val dir = buildLake() // v2
    // point-delete 1 row via deletion vector (merge-on-read)
    val (vDv, rw, _, n) = LakeSink.deleteWhere(spark, dir,
      col("id") === 3L, cdc = true, dvMaxFraction = 0.5)
    assert(n === 1L && rw === 0)
    assert(LakeSink.readManifest(dir).dv.nonEmpty)
    // restore BACK past the DV: the row returns, DV unset
    val (vBack, _, _) = LakeSink.restoreTable(spark, dir, 2L, cdc = true)
    assert(ids(dir).contains(3L))
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    // feed images: the hidden row comes back as ONE insert
    val back = LakeSink.changesCdcBetween(spark, dir, vDv, vBack)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(back === Seq(("insert", 3L)))
    // restore FORWARD to the DV version: the row hides again
    val (vFwd, _, _) = LakeSink.restoreTable(spark, dir, vDv, cdc = true)
    assert(!ids(dir).contains(3L))
    assert(LakeSink.readManifest(dir).dv.nonEmpty)
    val fwd = LakeSink.changesCdcBetween(spark, dir, vBack, vFwd)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fwd === Seq(("delete", 3L)))
  }

  test("cdc restore images a segment swap as deletes + inserts") {
    val dir = buildLake() // v2
    val (vUp, _, nUp) = LakeSink.updateWhere(spark, dir,
      col("id") === 10L, Map("flag" -> lit(9L)), cdc = true)
    assert(nUp === 1L)
    val (vR, _, _) = LakeSink.restoreTable(spark, dir, 2L, cdc = true)
    val img = LakeSink.changesCdcBetween(spark, dir, vUp, vR)
      .select("_change_type", "id", "flag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    // the rewritten segment's 5 live rows are deleted, the original
    // 5 re-inserted — row-level, the segment swap made visible
    assert(img.count(_._1 == "delete") === 5)
    assert(img.count(_._1 == "insert") === 5)
    assert(img.contains(("delete", 10L, 9L)))
    assert(img.contains(("insert", 10L, 0L)))
    // a signed fold over the images reconciles to the restored table
    val net = img.foldLeft(Map.empty[(Long, Long), Int]) {
      case (acc, (t, id, fl)) =>
        val d = if (t == "insert") 1 else -1
        acc + ((id, fl) -> (acc.getOrElse((id, fl), 0) + d))
    }.filter(_._2 != 0)
    assert(net === Map((10L, 0L) -> 1, (10L, 9L) -> -1))
  }

  test("operational state does not travel; loud failure modes") {
    val dir = buildLake() // v2
    LakeSink.addExpectation(spark, dir, "ids_nonneg", "id >= 0") // v3
    val (vDel, _, _, _) =
      LakeSink.deleteWhere(spark, dir, col("flag") === 1) // v4
    val (vR, _, _) = LakeSink.restoreTable(spark, dir, 2L)
    assert(vR === 5L)
    // the expectation added AFTER the target survives the restore
    assert(LakeSink.readManifest(dir).expects.contains("ids_nonneg"))
    // vacuumed target refuses loudly
    LakeSink.vacuum(dir, retainVersions = 1)
    val e = intercept[IllegalArgumentException] {
      LakeSink.restoreTable(spark, dir, vDel)
    }
    assert(e.getMessage.contains("vacuum"))
    // past-the-tip target refuses
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.restoreTable(spark, dir, 99L)
    }
    assert(e2.getMessage.contains("no manifest"))
  }

  test("cdc restore across a schema generation refuses loudly") {
    val dir = buildLake() // v2
    LakeSink.evolveAddColumn(spark, dir, "note",
      org.apache.spark.sql.types.StringType) // v3: schema gen bump
    val e = intercept[IllegalArgumentException] {
      LakeSink.restoreTable(spark, dir, 2L, cdc = true)
    }
    assert(e.getMessage.contains("schema generation"))
    // without cdc the restore works, and schema travels back
    val (v, _, _) = LakeSink.restoreTable(spark, dir, 2L)
    assert(v === 4L)
    assert(!LakeSink.readTable(spark, dir).columns.contains("note"))
  }

  test("SQL RESTORE: version- and timestamp-addressed") {
    import graft.streaming.LakeCatalog
    val dir = buildLake() // v2
    val tbl = "graft_restore_sql_" + System.nanoTime()
    LakeCatalog.register(tbl, dir)
    try {
      spark.sql(s"DELETE FROM $tbl WHERE flag = 1").collect()
      assert(ids(dir).size === 6)
      val r = spark.sql(s"RESTORE TABLE $tbl TO VERSION AS OF 2").head()
      assert(r.getLong(0) === 4L)
      assert(ids(dir).size === 10)
      // timestamp addressing: the delete-commit's instant → that state
      val us = LakeSink.commitTimestampMicros(dir, 3L)
      val asOf = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(us / 1000000L,
          (us % 1000000L) * 1000L),
        java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      spark.sql(
        s"RESTORE TABLE $tbl TO TIMESTAMP AS OF '$asOf'").collect()
      assert(ids(dir).size === 6)
    } finally LakeCatalog.unregister(tbl)
  }

  test("restore lands under concurrent-writer CAS races") {
    val dir = buildLake() // v2
    LakeSink.deleteWhere(spark, dir, col("flag") === 1) // v3
    // a concurrent append commits between restore's plan and its CAS
    var raced = false
    val (v, _, _) = LakeSink.restoreTable(spark, dir, 2L,
      beforeCommit = () => if (!raced) {
        raced = true
        import spark.implicits._
        Seq((100L, 0L)).toDF("id", "flag").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/seg_race")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, m.maxB, m.segs :+ "seg_race")))
      })
    // the retry re-planned against the tip: restore wins the NEXT
    // version and lands the target state (the racing append's segment
    // is NOT in the target version, so it is removed — restore means
    // "make the table exactly v2")
    assert(v === 5L)
    assert(ids(dir) === Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 14L))
  }
}
