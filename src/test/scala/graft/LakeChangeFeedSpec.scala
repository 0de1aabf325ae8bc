package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming tests for the `graft-lake-changefeed` source — the
  * manifest-log streaming reader. What must hold:
  *
  *  - the first batch delivers the whole table as of the current
  *    version; subsequent commits arrive as exactly-once deltas;
  *  - a checkpointed restart resumes strictly after the committed
  *    version (no replay, no loss);
  *  - a copy-on-write DML inside an unconsumed window fails the
  *    stream loudly (append-only contract) instead of re-emitting
  *    rewritten rows.
  */
class LakeChangeFeedSpec extends AnyFunSuite with SparkFixture {

  private def buildLake(nSegs: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cf_src_spec").toString
    import spark.implicits._
    (0 until nSegs).foreach { i =>
      val rows = (0 until 5).map(j => (i * 10L + j, i.toLong))
      rows.toDF("id", "seg").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    dir
  }

  private def appendSeg(dir: String, i: Int): Unit = {
    import spark.implicits._
    val rows = (0 until 5).map(j => (i * 10L + j, i.toLong))
    LakeSink.appendSegment(spark, dir,
      rows.toDF("id", "seg"), s"seg_b$i")
  }

  test("initial batch + incremental appends, exactly once") {
    val dir = buildLake(2)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt").toString
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        batches.add((id,
          b.select("id").collect().map(_.getLong(0)).sorted.toSeq))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // first batch: everything committed so far (versions 0 → 2)
      import scala.jdk.CollectionConverters._
      assert(batches.asScala.flatMap(_._2).toSeq.sorted ===
        (0L to 4L) ++ (10L to 14L))

      appendSeg(dir, 2)
      q.processAllAvailable()
      assert(batches.asScala.flatMap(_._2).toSeq.sorted ===
        ((0L to 4L) ++ (10L to 14L) ++ (20L to 24L)))

      // two commits between triggers arrive once each, no duplicates
      appendSeg(dir, 3)
      appendSeg(dir, 4)
      q.processAllAvailable()
      val all = batches.asScala.flatMap(_._2).toSeq
      assert(all.size === all.distinct.size, "duplicate delivery")
      assert(all.sorted === (0 to 4).flatMap(i => i * 10L to i * 10L + 4))
    } finally q.stop()
  }

  test("checkpointed restart resumes strictly after the committed version") {
    val dir = buildLake(2)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt2").toString
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def start() = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.select("id").collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = {
      import scala.jdk.CollectionConverters._
      batches.asScala.flatMap(identity).toSeq.sorted
    }
    assert(afterFirst === (0L to 4L) ++ (10L to 14L))

    // commits land while the consumer is DOWN
    appendSeg(dir, 2)
    appendSeg(dir, 3)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val all = batches.asScala.flatMap(identity).toSeq
    assert(all.size === all.distinct.size, "restart replayed rows")
    assert(all.sorted === (0 to 3).flatMap(i => i * 10L to i * 10L + 4))
  }

  test("bronze → silver: changefeed source + merge sink compose end-to-end") {
    // The lakehouse derived-table loop: a SILVER rollup table follows
    // a BRONZE ingest table through the change feed, each micro-batch
    // folded in via read-modify-MERGE. Checkpoint carries the bronze
    // version, so a consumer restart resumes the fold exactly where it
    // left off, and the merge's txn guard (appId, batchId) makes a
    // crash-replayed fold a no-op — EXACTLY-once end to end. The
    // replay is exercised directly at the bottom.
    val bronze = buildLake(2)
    val silver = java.nio.file.Files
      .createTempDirectory("graft_cf_silver").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_silver_ckpt").toString
    def start() = spark.readStream.format("graft-lake-changefeed")
      .option("path", bronze).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(b, batchId)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    def foldBatch(b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], batchId: Long): Unit = {
      val s = b.sparkSession
      val delta = b.groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("id").as("sum_id"))
      if (!delta.isEmpty) {
        if (LakeSink.readManifest(silver).segs.isEmpty) {
          delta.write.mode("overwrite").parquet(s"$silver/seg_b0")
          require(LakeSink.commitManifest(silver,
            LakeSink.Manifest(1L, 0L, Seq("seg_b0"),
              txns = Map("silver-fold" -> batchId))))
        } else {
          val cur = LakeSink.readTable(s, silver)
            .withColumnRenamed("n", "cur_n")
            .withColumnRenamed("sum_id", "cur_sum")
          val folded = delta.join(cur, Seq("seg"), "left_outer")
            .select(col("seg"),
              (col("n") + coalesce(col("cur_n"), lit(0L))).as("n"),
              (col("sum_id") + coalesce(col("cur_sum"), lit(0L)))
                .as("sum_id"))
          LakeSink.mergeInto(s, silver, folded, Seq("seg"),
            txn = Some(("silver-fold", batchId)))
        }
      }
    }

    val q1 = start()
    try {
      q1.processAllAvailable()
      appendSeg(bronze, 2)
      q1.processAllAvailable()
    } finally q1.stop()

    // commits land while the consumer is down; restart folds them in
    appendSeg(bronze, 3)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // crash-replay the LAST fold: the txn guard must no-op it — the
    // at-least-once window foreachBatch leaves open is closed
    val replay = LakeSink.changesBetween(spark, bronze, 3L, 4L)
    val lastBatch = LakeSink.readManifest(silver)
      .txns("silver-fold")
    foldBatch(replay, lastBatch)

    val got = LakeSink.readTable(spark, silver)
      .orderBy("seg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = LakeSink.readTable(spark, bronze)
      .groupBy("seg").agg(count(lit(1)).as("n"), sum("id").as("sum_id"))
      .orderBy("seg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, "silver rollup diverged from bronze")
    assert(got.size === 4)
  }

  test("a fresh consumer starts on a lake with DML history (snapshot load)") {
    // v0..tip of a mature lake is NOT append-only — the initial batch
    // must be a snapshot of the tip, not a change-feed walk from the
    // beginning (which would refuse on the DML window / fail on
    // vacuumed manifests). Subsequent appends stream as deltas.
    val dir = buildLake(2)
    LakeSink.deleteWhere(spark, dir, col("id") === 1L) // DML in history
    LakeSink.compact(spark, dir, targetFiles = 1)      // and compaction
    LakeSink.vacuum(dir, retainVersions = 1)           // early manifests gone
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt5").toString
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.select("id").collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      // snapshot = current state (id 1 deleted), not historical rows
      assert(batches.asScala.flatMap(identity).toSeq.sorted ===
        Seq(0L) ++ (2L to 4L) ++ (10L to 14L))
      // and the feed continues incrementally from there
      appendSeg(dir, 2)
      q.processAllAvailable()
      assert(batches.asScala.flatMap(identity).toSeq.sorted ===
        Seq(0L) ++ (2L to 4L) ++ (10L to 14L) ++ (20L to 24L))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger drains a backlog as bounded micro-batches") {
    val dir = buildLake(1)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt4").toString
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.select("id").collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // backlog of 3 commits lands between triggers...
      appendSeg(dir, 1)
      appendSeg(dir, 2)
      appendSeg(dir, 3)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val sizes = batches.asScala.map(_.size).toSeq
      // ...and drains one version (5 rows) per micro-batch, never a
      // 15-row gulp; nothing lost, nothing duplicated
      assert(sizes.count(_ == 5) >= 3,
        s"expected the backlog in 5-row batches, got $sizes")
      val all = batches.asScala.flatMap(identity).toSeq
      assert(all.sorted === (0 to 3).flatMap(i => i * 10L to i * 10L + 4))
      assert(all.size === all.distinct.size)
    } finally q.stop()
  }

  test("subscribe before data: a CREATE-TABLE'd empty lake idles, then streams the first commit") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cf_src_empty").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt5").toString
    import org.apache.spark.sql.types.{LongType, StructType}
    LakeSink.createTable(dir,
      new StructType().add("id", LongType).add("seg", LongType))
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    // the consumer attaches BEFORE any producer has committed data —
    // the subscribe-first topology the schema-recording commit enables
    val q = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.select("id").collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(batches.asScala.flatMap(identity).isEmpty,
        "no data committed yet — the stream must idle, not fail")
      appendSeg(dir, 0)
      q.processAllAvailable()
      assert(batches.asScala.flatMap(identity).toSeq.sorted === (0L to 4L))
    } finally q.stop()
  }

  test("restart admission: downtime backlog drains capped from the checkpointed position") {
    val dir = buildLake(1)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt6").toString
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def start() = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir)
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.select("id").collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    batches.clear()
    // a backlog of commits lands while the consumer is DOWN — exactly
    // the situation admission control exists for; before the getBatch
    // seeding fix the first post-restart batch gulped all of it
    appendSeg(dir, 1)
    appendSeg(dir, 2)
    appendSeg(dir, 3)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.map(_.size).toSeq
    assert(sizes.nonEmpty && sizes.forall(_ <= 5),
      s"post-restart backlog must drain one version (5 rows) per " +
        s"micro-batch, got batch sizes $sizes")
    val all = batches.asScala.flatMap(identity).toSeq
    assert(all.sorted === (1 to 3).flatMap(i => i * 10L to i * 10L + 4))
    assert(all.size === all.distinct.size)
  }

  test("copy-on-write DML inside an unconsumed window fails the stream") {
    val dir = buildLake(3)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cf_src_ckpt3").toString
    def start() = spark.readStream.format("graft-lake-changefeed")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) => b.count(); () }
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // while down: an append AND a rewrite of an old segment
    appendSeg(dir, 3)
    LakeSink.deleteWhere(spark, dir, col("id") === 1L)
    val q2 = start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(_ != null) &&
      messages(ex).filter(_ != null).exists(_.contains("not append-only")))
  }
}
