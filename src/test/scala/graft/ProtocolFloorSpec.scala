package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r18 per-action PLAN-FLOOR pins. The r17 bench read put 90.9 s of
  * the 216.8 s suite in 41 lake queries whose cost is Catalyst
  * plan floors — one floor per ACTION, not per byte. Round 18 fuses
  * the floors:
  *
  *  - `appendSegment`: expectation gate + write + stats re-read +
  *    commit-gate footer count were 3 scan actions + a footer walk;
  *    now ONE observed write (CollectMetrics inside the write job);
  *  - `mergeInto`: dup-check + expectation gate + key-range bound
  *    were 3 aggregate actions over the source; now one two-level
  *    aggregate — and the insert pass (count + write + stats = 3
  *    actions, anti-joined against EVERY segment) is one observed
  *    write anti-joined against only the stats-surviving segments;
  *  - `appendPartitioned`: the expectation gate rides the staging
  *    counts aggregate (still refusing BEFORE any file is written).
  *
  * Job counts vary under AQE (a two-level aggregate is one action
  * but several jobs), so these pins count ACTIONS — QueryExecutions
  * — which is exactly the unit the plan floor is paid in. A
  * violating batch must still refuse loud, commit nothing, and (new
  * in r18, because the fused gate observes DURING the write) leave
  * no segment directory behind.
  */
class ProtocolFloorSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  /** Catalyst actions (QueryExecutions) run by `body`. Listener
    * delivery is async: poll until stable. */
  private def actionsIn(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { n.incrementAndGet(); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = { n.incrementAndGet(); () }
    }
    spark.listenerManager.register(l)
    try {
      body
      var last = -1; var cur = n.get(); var polls = 0
      while ((cur != last || polls < 3) && polls < 50) {
        last = cur; Thread.sleep(100); cur = n.get(); polls += 1
      }
      cur
    } finally spark.listenerManager.unregister(l)
  }

  /** Records read from FILES by `body` (in-memory relations do not
    * count) — the scan-scope pin. */
  private def recordsReadIn(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1L; var cur = acc.get(); var polls = 0
      while ((cur != last || polls < 3) && polls < 50) {
        last = cur; Thread.sleep(100); cur = acc.get(); polls += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** A lake with key-stats on `k` (3 segments, k in [0,9], [10,19],
    * [20,29]) so trackedCols is non-empty and merges can prune. */
  private def buildStatsLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_floor_spec").toString
    (0 to 2).foreach { i =>
      val df = (0 to 9).map(j => (i * 10L + j, i * 100L + j))
        .toDF("k", "v")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      val st = m.stats + (s"seg_b$i" -> LakeSink.segmentStats(
        spark.read.parquet(s"$dir/seg_b$i"), Seq("k")))
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i",
          m.schemaV, m.schemaJson, st)))
    }
    dir
  }

  test("fused appendSegment: gate + write + stats + rows in ONE action") {
    val dir = buildStatsLake()
    LakeSink.addExpectation(spark, dir, "v_pos", "v >= 0")
    val batch = Seq((40L, 1L), (41L, 2L), (42L, 3L)).toDF("k", "v")
    val acts = actionsIn {
      LakeSink.appendSegment(spark, dir, batch, "seg_fused")
    }
    assert(acts === 1,
      s"fused append ran $acts actions — the gate, the stats, and " +
        "the row count must ride the single write job")
    val m = LakeSink.readManifest(dir)
    // stats observed during the write match a from-disk recompute
    assert(m.stats("seg_fused") === LakeSink.segmentStats(
      spark.read.parquet(s"$dir/seg_fused"), Seq("k")))
    // the commit gate took the observed count — no footer walk needed
    assert(m.segRows.get("seg_fused") === Some(3L))
  }

  test("violating append refuses loud, commits nothing, leaves no dir") {
    val dir = buildStatsLake()
    LakeSink.addExpectation(spark, dir, "v_pos", "v >= 0")
    val v0 = LakeSink.readManifest(dir).version
    val e = intercept[IllegalArgumentException] {
      LakeSink.appendSegment(spark, dir,
        Seq((50L, -1L), (51L, 5L)).toDF("k", "v"), "seg_bad")
    }
    assert(e.getMessage.contains("v_pos (1 rows)"))
    assert(LakeSink.readManifest(dir).version === v0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "seg_bad")),
      "a refused append must delete the never-visible segment dir")
  }

  test("merge insert pass scans only stats-surviving segments") {
    val dir = buildStatsLake()
    // source keys 100..102 are disjoint from every segment's [lo,hi]
    // — the insert anti-join must read ZERO segment rows from disk
    val src = Seq((100L, 1L), (101L, 2L), (102L, 3L)).toDF("k", "v")
    var res: (Long, Int, Long, Long) = null
    val recs = recordsReadIn {
      res = LakeSink.mergeInto(spark, dir, src, Seq("k"))
    }
    assert(res._3 === 0L && res._4 === 3L) // 0 updated, 3 inserted
    // block-manager reads of the cached 3-row source count as input
    // records too; what must NOT appear is any multiple of a
    // segment's 10 rows — the pre-r18 insert pass anti-joined
    // against all 3 segments (30 rows)
    assert(recs < 10L,
      s"insert pass read $recs input rows — a source disjoint from " +
        "every segment's key range must anti-join against no segment")
    assert(LakeSink.readTable(spark, dir).count() === 33L)
  }

  test("fully-pruned merge is two actions: fused gate + observed insert") {
    val dir = buildStatsLake()
    val src = Seq((200L, 7L)).toDF("k", "v")
    val acts = actionsIn {
      LakeSink.mergeInto(spark, dir, src, Seq("k"))
    }
    assert(acts === 2,
      s"fully-pruned upsert ran $acts actions — expected the fused " +
        "source gate and the observed insert write only")
    assert(LakeSink.readTable(spark, dir).count() === 31L)
  }

  /** A lake with NO stats (3 segments, k in [0,29]) — the canonical-
    * lake shape every streaming merge target has: no key range can
    * prune, so the census scans every segment and (r19) carries the
    * source gate and the matched keys on its one collect. */
  private def buildNoStatsLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_floor_nostats").toString
    (0 to 2).foreach { i =>
      val df = (0 to 9).map(j => (i * 10L + j, i * 100L + j))
        .toDF("k", "v")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    dir
  }

  test("no-stats star merge: fused census+gate collect, 2 actions " +
      "when nothing matches") {
    val dir = buildNoStatsLake()
    // keys disjoint from the table — census scans all 3 segments,
    // finds no match; the deferred gate rides its one collect and the
    // insert write anti-joins the census's (empty) key set locally
    val src = Seq((100L, 1L), (101L, 2L), (102L, 3L)).toDF("k", "v")
    val acts = actionsIn {
      LakeSink.mergeInto(spark, dir, src, Seq("k"))
    }
    assert(acts === 2,
      s"no-stats star merge ran $acts actions — expected the fused " +
        "census (carrying the source gate and matched keys) and the " +
        "observed insert write only")
    assert(LakeSink.readTable(spark, dir).count() === 33L)
  }

  test("no-stats star merge with matches: census + CoW stage + " +
      "insert = 3 actions, insert side reads no segment rows") {
    val dir = buildNoStatsLake()
    val src = Seq((5L, 999L), (15L, 999L)).toDF("k", "v")
    val acts = actionsIn {
      val res = LakeSink.mergeInto(spark, dir, src, Seq("k"))
      assert(res._3 === 2L && res._4 === 0L) // 2 updated, 0 inserted
    }
    assert(acts === 3,
      s"no-stats matched star merge ran $acts actions — expected " +
        "fused census, one staged CoW write, one observed insert")
    val rows = LakeSink.readTable(spark, dir)
      .filter(col("k").isin(5L, 15L)).collect()
    assert(rows.forall(_.getLong(1) === 999L))
  }

  test("deferred dup gate still refuses an ambiguous source before " +
      "any write") {
    val dir = buildNoStatsLake()
    val v0 = LakeSink.readManifest(dir).version
    val src = Seq((5L, 1L), (5L, 2L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      LakeSink.mergeInto(spark, dir, src, Seq("k"))
    }
    assert(e.getMessage.contains("multiple rows per key"))
    assert(LakeSink.readManifest(dir).version === v0)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left ===
      Set("_manifest", "seg_b0", "seg_b1", "seg_b2"),
      s"refused merge left extra files: ${left.mkString(", ")}")
    // same contract through the general-clause verb (the streaming
    // upsert path)
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.mergeClauses(spark, dir, src, Seq("k"),
        matched = Seq(LakeSink.MergeClause.Update(None, None)),
        notMatched = Seq(LakeSink.MergeClause.Insert(None, None)))
    }
    assert(e2.getMessage.contains("multiple rows per key"))
    assert(LakeSink.readManifest(dir).version === v0)
  }

  test("no-stats clause merge (streaming upsert shape): fused " +
      "census + CoW stage + insert = 3 actions") {
    val dir = buildNoStatsLake()
    // one update + one insert, exactly a foreachBatch upsert trigger
    val src = Seq((5L, 999L), (100L, 1L)).toDF("k", "v")
    val acts = actionsIn {
      val res = LakeSink.mergeClauses(spark, dir, src, Seq("k"),
        matched = Seq(LakeSink.MergeClause.Update(None, None)),
        notMatched = Seq(LakeSink.MergeClause.Insert(None, None)))
      assert(res._3 === 1L && res._5 === 1L) // 1 updated, 1 inserted
    }
    assert(acts === 3,
      s"no-stats clause merge ran $acts actions — expected fused " +
        "census (gate + counts + matched keys in ONE collect), one " +
        "staged CoW write, one observed insert")
    assert(LakeSink.readTable(spark, dir).count() === 31L)
  }

  test("cdc star merge writes ALL change images in one action") {
    val dir = buildNoStatsLake()
    val src = Seq((5L, 999L), (15L, 888L)).toDF("k", "v")
    val acts = actionsIn {
      LakeSink.mergeInto(spark, dir, src, Seq("k"), cdc = true)
    }
    // fused census + ONE unioned cdc image write + CoW stage + insert
    assert(acts === 4,
      s"cdc star merge ran $acts actions — pre/post images must ride " +
        "one unioned write")
    val m = LakeSink.readManifest(dir)
    val cdcRows = spark.read
      .parquet(m.cdcSegs.map(s => s"$dir/$s"): _*)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdcRows === Map(
      "update_preimage" -> 2L, "update_postimage" -> 2L))
  }

  test("batched ANALYZE: one grouped stats action for N segments") {
    // r19: the per-segment ANALYZE loop paid one stats aggregate
    // action per segment plus one bloom-build pass per segment —
    // 2 × N for a homogeneous table. Batched, it is exactly TWO
    // actions whatever N is: one grouped stats collect + one grouped
    // bloom build (the RDD pass is tracked as a QueryExecution too).
    val dir = buildNoStatsLake()
    LakeSink.setBloomColumns(spark, dir, Seq("k"))
    val acts = actionsIn {
      LakeSink.analyzeTable(spark, dir, Seq("k", "v"))
    }
    assert(acts === 2,
      s"batched ANALYZE over 3 homogeneous segments ran $acts " +
        "Catalyst actions — expected ONE grouped stats collect and " +
        "ONE grouped bloom build, independent of segment count")
    val m = LakeSink.readManifest(dir)
    // stats equal a per-segment recompute, sidecars exist and prune
    (0 to 2).foreach { i =>
      val seg = s"seg_b$i"
      assert(m.stats(seg) === LakeSink.segmentStats(
        spark.read.parquet(s"$dir/$seg"), Seq("k", "v")))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_blooms", s"$seg.k.bloom")))
    }
    // a probe for a key only seg_b1 holds must scan exactly 1 segment
    val (_, scanned, total) =
      LakeSink.readTableWhereIn(spark, dir, "k", Seq(15L))
    assert(total === 3 && scanned.size === 1,
      s"bloom probe scanned ${scanned.size} of $total segments")
  }

  test("appendPartitioned: fused gate refuses BEFORE any file lands") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_floor_part").toString + "/l"
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))), Some("day"))
    LakeSink.addExpectation(spark, dir, "v_pos", "v >= 0")
    val e = intercept[IllegalArgumentException] {
      LakeSink.appendPartitioned(spark, dir,
        Seq((1L, 5L), (2L, -3L)).toDF("day", "v"))
    }
    assert(e.getMessage.contains("v_pos (1 rows)"))
    val left = new java.io.File(dir).listFiles()
    assert(left.forall(_.getName == "_manifest"),
      s"refused partitioned append left files: ${left.mkString(", ")}")
    // happy path: gate+counts and the partitioned write — two actions
    val acts = actionsIn {
      LakeSink.appendPartitioned(spark, dir,
        Seq((1L, 5L), (2L, 3L)).toDF("day", "v"))
    }
    assert(acts === 2,
      s"partitioned append ran $acts actions — expected the fused " +
        "counts+gate aggregate and the one staged write")
    assert(LakeSink.readTable(spark, dir).count() === 2L)
  }

  test("compacting ingest: observed row counts for b- and c-segments, " +
      "one action per ingest commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_floor_ingest")
      .toString
    val batches = (0 until 6).map(i => (0 until 3 + i).map(j =>
      (i * 100L + j, j.toLong)))
    val input = MemoryStream[(Long, Long)]
    val acts = actionsIn {
      val q = LakeSink.startCompactingIngest(input.toDF().toDF("k", "v"),
        s"$base/lake", s"$base/ckpt", compactEvery = 4, statsCols = Seq("k"))
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    // six observed batch writes plus the one observed compaction write:
    // no stats re-read, no count action (the streaming engine's own
    // executions do not reach a session listener)
    assert(acts === batches.size + 1,
      s"compacting ingest ran $acts actions for ${batches.size} batches " +
        "and one compaction — expected one observed write each")
    val dir = s"$base/lake"
    val m = LakeSink.readManifest(dir)
    assert(m.segs === Seq("seg_c3", "seg_b4", "seg_b5"))
    m.segs.foreach { seg =>
      val onDisk = spark.read.parquet(s"$dir/$seg")
      assert(m.segRows.get(seg) === Some(onDisk.count()),
        s"$seg: recorded row count differs from its files")
      assert(m.stats(seg) === LakeSink.segmentStats(onDisk, Seq("k")),
        s"$seg: observed stats differ from a from-disk recompute")
    }
    assert(m.segRows("seg_c3") === batches.take(4).map(_.size).sum)
  }
}
