package graft

import graft.streaming.{LakeCatalog, LakeSink}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parse→dispatch tests for the SQL DML text surface
  * ([[graft.plans.LakeDmlRule]], injected through GraftExtensions —
  * TestSpark sets `spark.sql.extensions` exactly like a deployment):
  * DELETE / UPDATE / MERGE submitted as `spark.sql` TEXT must reach
  * the copy-on-write protocol ops with identical semantics to the
  * direct API, and tables NOT registered in [[LakeCatalog]] must pass
  * through to normal analysis (no interception).
  */
class SqlDmlSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  /** 2-segment lake registered as `name`: seg0 = users {1,2},
    * seg1 = users {3,4}. */
  private def buildLake(name: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_sqldml_$name").toString
    Seq((0, Seq((1L, 10L), (2L, 20L))), (1, Seq((3L, 30L), (4L, 40L))))
      .foreach { case (i, rows) =>
        rows.toDF("user_id", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
      }
    LakeCatalog.register(name, dir)
    dir
  }

  test("DELETE FROM text dispatches to deleteWhere") {
    val dir = buildLake("sqldel_t")
    val rcpt = spark.sql("DELETE FROM sqldel_t WHERE user_id = 1").collect().head
    assert(rcpt.getLong(3) === 1L)                      // rows_deleted
    assert(LakeSink.readManifest(dir).segs.contains("seg_b1")) // by ref
    val t = LakeSink.readTable(spark, dir)
    assert(t.count() === 3L)
    assert(t.filter(col("user_id") === 1L).count() === 0L)
  }

  test("UPDATE text with expression RHS dispatches to updateWhere") {
    val dir = buildLake("squpd_t")
    val rcpt = spark.sql(
      "UPDATE squpd_t SET v = v * 2 + 1 WHERE user_id >= 3").collect().head
    assert(rcpt.getLong(2) === 2L)                      // rows_updated
    assert(LakeSink.readManifest(dir).segs.contains("seg_b0")) // by ref
    assert(LakeSink.readTable(spark, dir).agg(sum("v")).head.getLong(0)
      === 10L + 20L + 61L + 81L)
  }

  test("MERGE INTO text with aliases and a view source dispatches to mergeInto") {
    val dir = buildLake("sqmrg_t")
    Seq((2L, 200L), (9L, 90L)).toDF("user_id", "v")
      .createOrReplaceTempView("sqmrg_delta")
    val rcpt = spark.sql(
      """MERGE INTO sqmrg_t t USING sqmrg_delta s
         ON t.user_id = s.user_id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""").collect().head
    assert(rcpt.getLong(2) === 1L && rcpt.getLong(3) === 1L)
    assert(LakeSink.readManifest(dir).segs.contains("seg_b1")) // by ref
    val byId = LakeSink.readTable(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId === Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 4L -> 40L,
      9L -> 90L))
  }

  test("unregistered tables are not intercepted") {
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft_not_a_lake WHERE x = 1").collect()
    }
    assert(e.getMessage.contains("graft_not_a_lake") ||
      e.getMessage.toLowerCase.contains("table"))
  }

  test("non-star MERGE shapes run on the general engine; a non-equi ON is rejected") {
    val dir = buildLake("sqmrg_gen")
    Seq((2L, 200L)).toDF("user_id", "v")
      .createOrReplaceTempView("sqmrg_gen_delta")
    // matched DELETE — refused pre-r12, now the general clause engine
    spark.sql(
      """MERGE INTO sqmrg_gen t USING sqmrg_gen_delta s
         ON t.user_id = s.user_id
         WHEN MATCHED THEN DELETE""").collect()
    assert(LakeSink.readTable(spark, dir)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 4L))
    // what stays out of scope: an ON clause that is not a same-name
    // equi-key conjunction
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO sqmrg_gen t USING sqmrg_gen_delta s
           ON t.user_id < s.user_id
           WHEN MATCHED THEN DELETE""").collect()
    }
    assert(e.getMessage.contains("lake MERGE"))
  }

  test("SELECT over a registered lake table reads the committed manifest") {
    buildLake("sqsel_t")
    val rows = spark.sql(
      "SELECT user_id, v FROM sqsel_t ORDER BY user_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // composes with the rest of SQL (joins, aggregates)
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM sqsel_t WHERE user_id > 1")
      .head.getLong(0) === 90L)
  }

  test("VERSION AS OF time-travels through SQL text") {
    val dir = buildLake("sqtt_t")
    spark.sql("DELETE FROM sqtt_t WHERE user_id = 1").collect()
    // current version: 3 rows; v2 (pre-delete): all 4
    assert(spark.sql("SELECT count(*) FROM sqtt_t").head.getLong(0) === 3L)
    assert(spark.sql(
      "SELECT count(*) FROM sqtt_t VERSION AS OF 2").head.getLong(0) === 4L)
    // TIMESTAMP AS OF (r12) resolves through the manifest log's commit
    // times: the pre-delete commit's exact instant reads the pre-delete
    // rows, and an instant before all retained history refuses loudly
    // (boundary semantics pinned in LakeTimeTravelSpec)
    val t2 = LakeSink.commitTimestampMicros(dir, 2L)
    val asOf = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(t2 / 1000000L,
        (t2 % 1000000L) * 1000L),
      java.time.ZoneOffset.UTC).format(
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    assert(spark.sql(
      s"SELECT count(*) FROM sqtt_t TIMESTAMP AS OF '$asOf'")
      .head.getLong(0) === 4L)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM sqtt_t TIMESTAMP AS OF '2001-01-01'").collect()
    }
    assert(e.getMessage.contains("precedes the earliest retained"))
    assert(LakeSink.readManifest(dir).version === 3L)
  }

  test("INSERT INTO appends one segment through the protocol") {
    val dir = buildLake("sqins_t")
    val rcpt = spark.sql(
      "INSERT INTO sqins_t SELECT 7, 70 UNION ALL SELECT 8, 80")
      .collect().head
    assert(rcpt.getLong(1) === 2L) // rows_inserted
    val m = LakeSink.readManifest(dir)
    assert(m.segs.count(_.startsWith("seg_i")) === 1)
    assert(m.segs.contains("seg_b0") && m.segs.contains("seg_b1"))
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT), count(*) FROM sqins_t").head ===
      org.apache.spark.sql.Row(250L, 6L))
    // INSERT coerces positionally to the table schema (INT literals →
    // the table's BIGINT columns)
    assert(LakeSink.readTable(spark, dir).schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    // OVERWRITE is the atomic replace verb (r12): one commit swaps the
    // whole table for the incoming rows (duplicate literal column
    // names must not trip the positional mapping)
    spark.sql("INSERT OVERWRITE TABLE sqins_t SELECT 1, 1").collect()
    assert(LakeSink.readTable(spark, dir).collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, 1L)))
  }

  test("'dv.maxFraction' table property routes SQL UPDATE/DELETE/" +
      "MERGE to the merge-on-read path; '0' routes back") {
    val dir = buildLake("sqdvf_t")
    try {
      spark.sql(
        "ALTER TABLE sqdvf_t SET TBLPROPERTIES ('dv.maxFraction'='1.0')")
        .collect()
      // MERGE (star shape): matched row 4 DV'd in seg_b1 (1 of 2
      // live — strictly partial) + source row appended; 9 inserted
      Seq((4L, 400L), (9L, 90L)).toDF("user_id", "v")
        .createOrReplaceTempView("sqdvf_delta")
      val mg = spark.sql(
        """MERGE INTO sqdvf_t t USING sqdvf_delta s
           ON t.user_id = s.user_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").collect().head
      assert(mg.getInt(1) === 0 && mg.getLong(2) === 1L &&
        mg.getLong(3) === 1L)
      assert(LakeSink.readManifest(dir).dv.keySet === Set("seg_b1"))
      // UPDATE: receipt reports 0 rewrites, seg_b0 gains a DV
      val up = spark.sql(
        "UPDATE sqdvf_t SET v = v + 1 WHERE user_id = 1").collect().head
      assert(up.getInt(1) === 0 && up.getLong(2) === 1L)
      assert(LakeSink.readManifest(dir).dv.keySet ===
        Set("seg_b0", "seg_b1"))
      // DELETE of seg_b0's last live row (1 is DV'd away): every live
      // row matches → metadata drop, still zero rewrites
      val del = spark.sql(
        "DELETE FROM sqdvf_t WHERE user_id = 2").collect().head
      assert(del.getInt(1) === 0 && del.getInt(2) === 1 &&
        del.getLong(3) === 1L)
      val byId = LakeSink.readTable(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byId === Map(1L -> 11L, 3L -> 30L, 4L -> 400L, 9L -> 90L))
      // setting the property to 0 routes back to copy-on-write
      spark.sql(
        "ALTER TABLE sqdvf_t SET TBLPROPERTIES ('dv.maxFraction'='0')")
        .collect()
      val up2 = spark.sql(
        "UPDATE sqdvf_t SET v = v + 1 WHERE user_id = 3").collect().head
      assert(up2.getInt(1) === 1, "copy-on-write again: 1 rewrite")
    } finally LakeCatalog.unregister("sqdvf_t")
  }

  test("general-clause MERGE honors 'dv.maxFraction' (matched DELETE " +
      "fires as a pure DV)") {
    val dir = buildLake("sqdvg_t")
    try {
      spark.sql(
        "ALTER TABLE sqdvg_t SET TBLPROPERTIES ('dv.maxFraction'='1.0')")
        .collect()
      Seq((2L, 1L)).toDF("user_id", "src_v")
        .createOrReplaceTempView("sqdvg_delta")
      val rcpt = spark.sql(
        """MERGE INTO sqdvg_t t USING sqdvg_delta s
           ON t.user_id = s.user_id
           WHEN MATCHED AND s.src_v < 100 THEN DELETE""").collect().head
      assert(rcpt.getInt(1) === 0 && rcpt.getLong(3) === 1L)
      val m = LakeSink.readManifest(dir)
      assert(m.dv.keySet === Set("seg_b0"))
      assert(m.segs.sorted === Seq("seg_b0", "seg_b1"),
        "delete-only firing appends nothing")
      assert(LakeSink.readTable(spark, dir).count() === 3L)
    } finally LakeCatalog.unregister("sqdvg_t")
  }
}
