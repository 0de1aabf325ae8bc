package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SHALLOW CLONE (r12): [[LakeSink.cloneTable]] — a zero-copy branch
  * of a lake at a chosen version, data shared via hard links. What
  * must hold:
  *
  *  - the clone reads exactly the source's rows at the cloned version,
  *    deletion vectors included, while sharing every data byte (same
  *    inodes, no parquet rewritten);
  *  - full independence both ways: DML on the source never changes the
  *    clone, DML on the clone never changes the source;
  *  - VACUUM on the source after divergence does NOT break the clone
  *    (the hard link keeps the inode alive) — the operational hazard
  *    Delta's shallow clones carry, closed by construction here;
  *  - the clone starts fresh operationally (v1 history, reset ingest
  *    watermark) but carries data-describing state (schema, stats,
  *    expectations, partition spec, column mapping);
  *  - fail-loud: clone onto an existing lake, clone of a vacuumed
  *    version, clone onto the source itself.
  */
class LakeCloneSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** 2-segment lake: ids 0-4 (seg 0), 10-14 (seg 1); flag = id % 2. */
  private def buildLake(): String = {
    val dir = tmp("graft_clone_lake")
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

  private def inodes(dir: String): Map[String, Object] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(base)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString ->
        java.nio.file.Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      .toMap
    finally s.close()
  }

  test("clone shares bytes (same inodes) and reads identically") {
    val src = buildLake()
    val dst = tmp("graft_clone_dst") + "/c"
    val (segs, files, bytes) = LakeSink.cloneTable(spark, src, dst)
    assert(segs === 2 && files > 0 && bytes > 0L)
    assert(ids(dst) === ids(src))
    // every cloned parquet file is the SAME inode as the source's —
    // zero data bytes were written
    val si = inodes(src); val di = inodes(dst)
    assert(di.nonEmpty)
    di.foreach { case (rel, key) => assert(si(rel) === key) }
    // fresh history: v1, reset ingest watermark, no txns
    val dm = LakeSink.readManifest(dst)
    assert(dm.version === 1L && dm.maxB === -1L && dm.txns.isEmpty)
  }

  test("independence both ways; vacuum on source cannot break the clone") {
    val src = buildLake()
    val dst = tmp("graft_clone_dst2") + "/c"
    LakeSink.cloneTable(spark, src, dst)
    // diverge: delete odds on source, evens on clone
    LakeSink.deleteWhere(spark, src, col("flag") === 1)
    LakeSink.deleteWhere(spark, dst, col("flag") === 0)
    assert(ids(src) === Seq(0L, 2L, 4L, 10L, 12L, 14L))
    assert(ids(dst) === Seq(1L, 3L, 11L, 13L))
    // vacuum the source down to its tip: the original segments' names
    // are gone from the source, but the clone's links hold the inodes
    LakeSink.vacuum(src, retainVersions = 1)
    assert(ids(dst) === Seq(1L, 3L, 11L, 13L))
    assert(ids(src) === Seq(0L, 2L, 4L, 10L, 12L, 14L))
  }

  test("clone at an earlier version; DV state travels") {
    val src = buildLake() // v2
    val (vDv, _, _, _) = LakeSink.deleteWhere(spark, src,
      col("id") === 3L, dvMaxFraction = 0.5) // v3: DV hides id 3
    LakeSink.deleteWhere(spark, src, col("id") >= 10L) // v4
    // clone at the DV version: id 3 hidden, 10s still present
    val dst = tmp("graft_clone_dst3") + "/c"
    LakeSink.cloneTable(spark, src, dst, Some(vDv))
    assert(ids(dst) === Seq(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    // and the clone's own OPTIMIZE applies the DV physically, as on
    // any table
    LakeSink.compact(spark, dst)
    assert(ids(dst) === Seq(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L, 14L))
    assert(LakeSink.readManifest(dst).dv.isEmpty)
  }

  test("SQL: CREATE TABLE … SHALLOW CLONE … VERSION AS OF, then diverge") {
    import graft.streaming.LakeCatalog
    val src = buildLake() // v2
    val sTbl = "graft_clone_src_" + System.nanoTime()
    val cTbl = "graft_clone_c_" + System.nanoTime()
    LakeCatalog.register(sTbl, src)
    try {
      spark.sql(s"DELETE FROM $sTbl WHERE flag = 1").collect() // v3
      val loc = tmp("graft_clone_sql") + "/c"
      val r = spark.sql(
        s"""CREATE TABLE $cTbl SHALLOW CLONE $sTbl VERSION AS OF 2
            LOCATION '$loc'""").head()
      assert(r.getInt(0) === 2) // segments
      // the clone is a queryable table at the PRE-delete state
      assert(spark.sql(s"SELECT count(*) AS n FROM $cTbl").head()
        .getLong(0) === 10L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $sTbl").head()
        .getLong(0) === 6L)
      // DML on the clone, source untouched
      spark.sql(s"DELETE FROM $cTbl WHERE id >= 10").collect()
      assert(spark.sql(s"SELECT count(*) AS n FROM $cTbl").head()
        .getLong(0) === 5L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $sTbl").head()
        .getLong(0) === 6L)
    } finally {
      LakeCatalog.unregister(sTbl)
      LakeCatalog.unregister(cTbl)
    }
  }

  test("fail-loud: existing target, vacuumed version, self-clone") {
    val src = buildLake()
    val dst = tmp("graft_clone_dst4") + "/c"
    LakeSink.cloneTable(spark, src, dst)
    val e1 = intercept[IllegalArgumentException] {
      LakeSink.cloneTable(spark, src, dst)
    }
    assert(e1.getMessage.contains("already holds a lake"))
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.cloneTable(spark, src, tmp("x") + "/c2", Some(99L))
    }
    assert(e2.getMessage.contains("no manifest"))
    val e3 = intercept[IllegalArgumentException] {
      LakeSink.cloneTable(spark, src, src)
    }
    assert(e3.getMessage.contains("equals the source"))
  }
}
