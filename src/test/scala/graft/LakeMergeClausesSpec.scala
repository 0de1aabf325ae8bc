package graft

import graft.streaming.{LakeCatalog, LakeSink}
import graft.streaming.LakeSink.MergeClause.{Delete, Insert, Update}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** General MERGE (r12) — [[LakeSink.mergeClauses]] and its SQL
  * surface. What must hold beyond the star-shape [[LakeMergeSpec]]:
  *
  *  - clauses fire FIRST-MATCH-WINS in list order; matched rows firing
  *    no clause pass through unchanged;
  *  - `WHEN MATCHED … THEN DELETE` removes exactly the firing rows;
  *  - explicit `INSERT (cols)` fills unassigned columns with typed
  *    NULL; a conditional insert drops non-firing source rows;
  *  - `WHEN NOT MATCHED BY SOURCE` updates/deletes target rows with no
  *    source match — and ONLY those;
  *  - segments where no clause fires survive BY REFERENCE; single-key
  *    manifest stats prune disjoint segments for matched-only merges;
  *  - CDC images fold to the table diff (the signed-fold/IVM
  *    contract);
  *  - the SQL statement form (aliases, multi-clause, NMBS) lands on
  *    the same engine with the receipt row;
  *  - txn idempotence: a replayed (appId, batchId) merge is a no-op.
  */
class LakeMergeClausesSpec extends AnyFunSuite with SparkFixture {

  /** 3-segment lake keyed uniquely by user_id:
    * seg0 = {1,2}, seg1 = {3,4}, seg2 = {5}; v = 10*id. */
  private def buildLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_mergecl_spec").toString
    import spark.implicits._
    val segs = Seq(
      (0, Seq((1L, 10L), (2L, 20L))),
      (1, Seq((3L, 30L), (4L, 40L))),
      (2, Seq((5L, 50L))))
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

  private def byId(dir: String): Map[Long, Option[Long]] =
    LakeSink.readTable(spark, dir).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

  test("conditional update/delete, first-match-wins; untouched segment by reference") {
    val dir = buildLake()
    val preV = LakeSink.readManifest(dir).version
    // source hits 2 (src_v big → update) and 3 (src_v small → delete);
    // 1 and 4 match nothing in the source, 5's segment is untouched
    val source = Seq((2L, 200L), (3L, 1L)).toDF("user_id", "src_v")
    val (v, rewritten, updated, deleted, inserted) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        matched = Seq(
          Update(Some("s.src_v >= 100"), Some(Seq("v" -> "s.src_v"))),
          Delete(None)))
    assert(v === preV + 1)
    assert(rewritten === 2 && updated === 1L && deleted === 1L &&
      inserted === 0L)
    assert(LakeSink.readManifest(dir).segs.contains("seg_b2"))
    assert(byId(dir) === Map(1L -> Some(10L), 2L -> Some(200L),
      4L -> Some(40L), 5L -> Some(50L)))
    // pre-merge state still time-travels
    assert(LakeSink.readTableAsOf(spark, dir, preV).count() === 5L)
  }

  test("matched rows firing no clause pass through unchanged") {
    val dir = buildLake()
    val source = Seq((2L, 1L), (4L, 999L)).toDF("user_id", "src_v")
    // only 4 fires; 2 matches but its condition is false → unchanged
    val (_, rewritten, updated, deleted, _) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        matched = Seq(
          Update(Some("s.src_v >= 100"), Some(Seq("v" -> "s.src_v")))))
    assert(rewritten === 1 && updated === 1L && deleted === 0L)
    assert(byId(dir)(2L) === Some(20L) && byId(dir)(4L) === Some(999L))
  }

  test("explicit INSERT fills unassigned columns with NULL; conditional insert filters") {
    val dir = buildLake()
    val source = Seq((100L, 7L), (101L, -1L)).toDF("user_id", "src_v")
    val (_, rewritten, _, _, inserted) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        notMatched = Seq(
          Insert(Some("s.src_v > 0"), Some(Seq("user_id" -> "s.user_id")))))
    assert(rewritten === 0 && inserted === 1L) // 101 fails the condition
    val after = byId(dir)
    assert(after(100L) === None) // v unassigned → NULL
    assert(!after.contains(101L))
  }

  test("NOT MATCHED BY SOURCE updates/deletes exactly the source-less rows") {
    val dir = buildLake()
    // source matches 2 and 4; NMBS side: delete odd source-less rows
    // (1, 3, 5), zero out nothing else
    val source = Seq((2L, 200L), (4L, 400L)).toDF("user_id", "src_v")
    val (_, rewritten, updated, deleted, _) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        matched = Seq(Update(None, Some(Seq("v" -> "s.src_v")))),
        notMatchedBySource = Seq(
          Delete(Some("t.user_id % 2 = 1"))))
    assert(rewritten === 3) // every segment held a firing row
    assert(updated === 2L && deleted === 3L)
    assert(byId(dir) === Map(2L -> Some(200L), 4L -> Some(400L)))
  }

  test("NMBS UPDATE with explicit SET over t; star SET rejected") {
    val dir = buildLake()
    val source = Seq((2L, 200L)).toDF("user_id", "src_v")
    intercept[IllegalArgumentException] {
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        notMatchedBySource = Seq(Update(None, None)))
    }
    val (_, _, updated, _, _) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        notMatchedBySource = Seq(
          Update(Some("t.v < 30"), Some(Seq("v" -> "t.v + 1000")))))
    assert(updated === 1L) // only id=1 (v=10) is source-less with v<30
    assert(byId(dir)(1L) === Some(1010L))
    assert(byId(dir)(2L) === Some(20L)) // matched side: no clauses → kept
  }

  test("single-key stats pruning holds for matched-only clause merges") {
    val dir = buildLake()
    // re-commit with stats so segments carry user_id bounds
    val m0 = LakeSink.readManifest(dir)
    val stats = m0.segs.map { s =>
      s -> LakeSink.segmentStats(
        spark.read.parquet(s"$dir/$s"), Seq("user_id"))
    }.toMap
    require(LakeSink.commitManifest(dir,
      LakeSink.Manifest(m0.version + 1, m0.maxB, m0.segs, stats = stats)))
    // source keys all in seg1's [3,4] range — seg0/seg2 must prune
    val source = Seq((3L, 300L)).toDF("user_id", "src_v")
    val (_, rewritten, updated, _, _) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        matched = Seq(Update(None, Some(Seq("v" -> "s.src_v")))))
    assert(rewritten === 1 && updated === 1L)
    assert(byId(dir)(3L) === Some(300L))
    val m = LakeSink.readManifest(dir)
    assert(m.segs.contains("seg_b0") && m.segs.contains("seg_b2"))
  }

  test("CDC images fold to the table diff across all clause kinds") {
    val dir = buildLake()
    val preV = LakeSink.readManifest(dir).version
    val source = Seq((2L, 200L), (3L, 1L), (100L, 7L))
      .toDF("user_id", "src_v")
    val (v, _, updated, deleted, inserted) =
      LakeSink.mergeClauses(spark, dir, source, Seq("user_id"),
        matched = Seq(
          Update(Some("s.src_v >= 100"), Some(Seq("v" -> "s.src_v"))),
          Delete(None)),
        notMatched = Seq(Insert(None,
          Some(Seq("user_id" -> "s.user_id", "v" -> "s.src_v")))),
        notMatchedBySource = Seq(Delete(Some("t.user_id = 5"))),
        cdc = true)
    assert(updated === 1L && deleted === 2L && inserted === 1L)
    val feed = LakeSink.changesCdcBetween(spark, dir, preV, v)
    val n = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n === Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 2L, "insert" -> 1L))
    // signed fold: pre-version rows + inserts + postimages - deletes
    // - preimages == current rows (the IVM contract)
    val folded = LakeSink.readTableAsOf(spark, dir, preV)
      .withColumn("sign", lit(1L))
      .unionByName(feed.select(col("user_id"), col("v"),
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L).as("sign")))
      .groupBy("user_id", "v").agg(sum("sign").as("s"))
      .filter(col("s") =!= 0L)
      .select("user_id", "v")
    val cur = LakeSink.readTable(spark, dir)
    assert(folded.exceptAll(cur).isEmpty && cur.exceptAll(folded).isEmpty)
  }

  test("SQL surface: multi-clause MERGE with aliases and NMBS") {
    val dir = buildLake()
    val tbl = "graft_mergecl_sql_t"
    LakeCatalog.register(tbl, dir)
    try {
      Seq((2L, 200L), (3L, 1L), (100L, 7L)).toDF("user_id", "src_v")
        .createOrReplaceTempView("mergecl_src")
      val rec = spark.sql(
        s"""MERGE INTO $tbl AS tgt USING mergecl_src AS src
            ON tgt.user_id = src.user_id
            WHEN MATCHED AND src.src_v >= 100 THEN
              UPDATE SET v = src.src_v
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND src.src_v > 0 THEN
              INSERT (user_id, v) VALUES (src.user_id, src.src_v)
            WHEN NOT MATCHED BY SOURCE AND tgt.user_id = 5 THEN
              UPDATE SET v = tgt.v * 2""").head()
      assert(rec.getLong(2) === 2L) // updated: id2 + NMBS id5
      assert(rec.getLong(3) === 1L) // deleted: id3
      assert(rec.getLong(4) === 1L) // inserted: id100
      assert(byId(dir) === Map(1L -> Some(10L), 2L -> Some(200L),
        4L -> Some(40L), 5L -> Some(100L), 100L -> Some(7L)))
    } finally LakeCatalog.unregister(tbl)
  }

  test("txn idempotence: a replayed merge is a no-op") {
    val dir = buildLake()
    val source = Seq((2L, 200L)).toDF("user_id", "src_v")
    val clause = Seq(Update(None, Some(Seq("v" -> "s.src_v"))))
    val (v1, rw1, _, _, _) = LakeSink.mergeClauses(spark, dir, source,
      Seq("user_id"), matched = clause, txn = Some(("app", 7L)))
    assert(rw1 === 1)
    val (v2, rw2, upd2, del2, ins2) = LakeSink.mergeClauses(spark, dir,
      source, Seq("user_id"), matched = clause, txn = Some(("app", 7L)))
    assert(v2 === v1 && rw2 === 0 && upd2 === 0L && del2 === 0L &&
      ins2 === 0L)
  }

  // ---------------------------------------------------------------
  // MERGE-ON-READ fired clauses (r14): dvMaxFraction > 0 — fired
  // positions DV'd; update-firing rows carry post-images, delete-
  // firing rows need only the DV.
  // ---------------------------------------------------------------

  test("merge-on-read: matched UPDATE and DELETE fire as DV + " +
      "post-image; result and CDC identical to copy-on-write's") {
    val dirDv = buildLake()
    val dirCow = buildLake()
    // hits 2 (update) and 3 (delete): each fires 1 of its segment's
    // 2 rows — strictly partial, within fraction
    val source = Seq((2L, 200L), (3L, 1L)).toDF("user_id", "src_v")
    val clauses = Seq(
      Update(Some("s.src_v >= 100"), Some(Seq("v" -> "s.src_v"))),
      Delete(None))
    val (vC, rwC, upC, delC, _) = LakeSink.mergeClauses(spark, dirCow,
      source, Seq("user_id"), matched = clauses, cdc = true)
    val (vD, rwD, upD, delD, _) = LakeSink.mergeClauses(spark, dirDv,
      source, Seq("user_id"), matched = clauses, cdc = true,
      dvMaxFraction = 1.0)
    assert((rwC, upC, delC) === ((2, 1L, 1L)))
    assert((rwD, upD, delD) === ((0, 1L, 1L)), "no rewrite under MoR")
    val m = LakeSink.readManifest(dirDv)
    assert(m.dv.keySet === Set("seg_b0", "seg_b1"),
      "both fired segments carry a DV")
    // only the UPDATE-firing segment appends a post-image segment
    assert(m.segs.size === 4, "3 source segments + 1 post-image")
    assert(byId(dirDv) === byId(dirCow))
    assert(byId(dirDv) === Map(1L -> Some(10L), 2L -> Some(200L),
      4L -> Some(40L), 5L -> Some(50L)))
    def feed(dir: String, v: Long): Seq[(String, Long, Option[Long])] =
      LakeSink.changesCdcBetween(spark, dir, v - 1, v)
        .select("_change_type", "user_id", "v")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(feed(dirDv, vD) === feed(dirCow, vC))
    assert(feed(dirDv, vD) === Seq(
      ("delete", 3L, Some(30L)),
      ("update_postimage", 2L, Some(200L)),
      ("update_preimage", 2L, Some(20L))))
  }

  test("merge-on-read: NOT MATCHED BY SOURCE delete fires as a pure " +
      "DV (no post-image, no rewrite)") {
    val dir = buildLake()
    // source covers 1,2,3,4 — NMBS delete fires only on 5, the sole
    // row of seg_b2: full match → strictly-partial guard → rewrite…
    // so use a source covering {1,3,5}: NMBS fires on 2 and 4, one of
    // each 2-row segment
    val source = Seq((1L, 0L), (3L, 0L), (5L, 0L)).toDF("user_id", "src_v")
    val (_, rw, upd, del, ins) = LakeSink.mergeClauses(spark, dir,
      source, Seq("user_id"),
      notMatchedBySource = Seq(Delete(None)), dvMaxFraction = 1.0)
    assert((rw, upd, del, ins) === ((0, 0L, 2L, 0L)))
    val m = LakeSink.readManifest(dir)
    assert(m.dv.keySet === Set("seg_b0", "seg_b1"))
    assert(m.segs.sorted === Seq("seg_b0", "seg_b1", "seg_b2"),
      "no segment rewritten or appended")
    assert(byId(dir) === Map(1L -> Some(10L), 3L -> Some(30L),
      5L -> Some(50L)))
  }

  test("merge-on-read fraction guard: a fired fraction above the " +
      "threshold falls back to copy-on-write") {
    val dir = buildLake()
    // both rows of seg_b0 fire (2 of 2 in the segment… use seg_b1:
    // source hits 3 and 4 → 2 of 2 = full → rewrite by the strictly-
    // partial rule regardless of threshold; and with threshold 0.4,
    // 1 of 2 (50%) in seg_b0 also rewrites
    val source = Seq((2L, 200L), (3L, 300L), (4L, 400L))
      .toDF("user_id", "src_v")
    val (_, rw, upd, _, _) = LakeSink.mergeClauses(spark, dir, source,
      Seq("user_id"),
      matched = Seq(Update(None, Some(Seq("v" -> "s.src_v")))),
      dvMaxFraction = 0.4)
    assert(rw === 2 && upd === 3L)
    assert(LakeSink.readManifest(dir).dv.isEmpty)
    assert(byId(dir) === Map(1L -> Some(10L), 2L -> Some(200L),
      3L -> Some(300L), 4L -> Some(400L), 5L -> Some(50L)))
  }

  // --- r15: MERGE WITH SCHEMA EVOLUTION -----------------------------

  test("WITH SCHEMA EVOLUTION: source-only columns auto-added in the " +
      "merge's own commit; old segments read NULL") {
    val dir = buildLake()
    val v0 = LakeSink.readManifest(dir).version
    val sv0 = LakeSink.readManifest(dir).schemaV
    val src = Seq((2L, 222L, "eu"), (9L, 90L, "us"))
      .toDF("user_id", "v", "region")
    // without the flag the extra source column is simply not part of
    // the target schema (targetCols drive every projection)
    LakeSink.mergeClauses(spark, dir, src, Seq("user_id"),
      matched = Seq(Update(None, None)),
      notMatched = Seq(Insert(None, None)))
    val mNo = LakeSink.readManifest(dir)
    assert(mNo.schemaV === sv0)
    assert(!LakeSink.readTable(spark, dir).columns.contains("region"))
    // with the flag: ONE commit carries the widened schema AND the rows
    val v1 = mNo.version
    val src2 = Seq((2L, 333L, "eu"), (10L, 100L, "ap"))
      .toDF("user_id", "v", "region")
    val (v2, _, nUpd, _, nIns) = LakeSink.mergeClauses(spark, dir, src2,
      Seq("user_id"),
      matched = Seq(Update(None, None)),
      notMatched = Seq(Insert(None, None)),
      schemaEvolution = true)
    assert(v2 === v1 + 1, "evolution must ride the merge's own CAS")
    assert(nUpd === 1L && nIns === 1L)
    val m2 = LakeSink.readManifest(dir)
    assert(m2.schemaV === mNo.schemaV + 1)
    val got = LakeSink.readTable(spark, dir)
    assert(got.columns.toSeq ===
      Seq("user_id", "v", "region"))
    val byRegion = got.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getString(2))))
      .toMap
    assert(byRegion(2L) === Some("eu"))
    assert(byRegion(10L) === Some("ap"))
    // rows in untouched/pass-through segments surface NULL
    assert(byRegion(1L) === None && byRegion(3L) === None &&
      byRegion(5L) === None)
    // time travel: the pre-evolution version still reads its own schema
    assert(!LakeSink.readTableAsOf(spark, dir, v1).columns
      .contains("region"))
  }

  test("WITH SCHEMA EVOLUTION: CDC images carry the widened schema; " +
      "a fires-nothing merge commits no evolution") {
    val dir = buildLake()
    val v0 = LakeSink.readManifest(dir).version
    val src = Seq((3L, 42L, "eu")).toDF("user_id", "v", "region")
    val (v1, _, _, _, _) = LakeSink.mergeClauses(spark, dir, src,
      Seq("user_id"),
      matched = Seq(Update(None, None)),
      cdc = true, schemaEvolution = true)
    val ch = LakeSink.changesCdcBetween(spark, dir, v1 - 1, v1)
    assert(ch.columns.contains("region"))
    val post = ch.filter(col("_change_type") === "update_postimage")
      .collect()
    assert(post.length === 1)
    assert(post.head.getAs[String]("region") === "eu")
    // fires-nothing: no commit at all, so no evolution either
    val src2 = Seq((777L, 1L, "xx")).toDF("user_id", "v", "region")
    val (v2, rw2, u2, d2, i2) = LakeSink.mergeClauses(spark, dir, src2,
      Seq("user_id"),
      matched = Seq(Update(None, None)),
      schemaEvolution = true)
    assert(v2 === v1 && rw2 === 0 && u2 === 0L && d2 === 0L && i2 === 0L)
    assert(LakeSink.readManifest(dir).version === v1)
  }

  test("WITH SCHEMA EVOLUTION under an ACTIVE column mapping mints a " +
      "fresh physical name") {
    val dir = buildLake()
    LakeCatalog.register("mrgev_cm", dir)
    // activate the mapping with a rename, then evolve through a merge
    spark.sql("ALTER TABLE mrgev_cm RENAME COLUMN v TO val").collect()
    val src = Seq((2L, 9L, "eu")).toDF("user_id", "val", "region")
    LakeSink.mergeClauses(spark, dir, src, Seq("user_id"),
      matched = Seq(Update(None, None)),
      schemaEvolution = true)
    val m = LakeSink.readManifest(dir)
    assert(m.colmap.contains("region"))
    assert(m.colmap("region") !== "region",
      "an evolved column under an active mapping must mint a fresh " +
        "physical name (never resurrect dropped bytes)")
    val got = LakeSink.readTable(spark, dir)
    assert(got.filter(col("user_id") === 2L).head.getAs[String]("region")
      === "eu")
    assert(got.filter(col("user_id") === 1L).head
      .isNullAt(got.columns.indexOf("region")))
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION INTO widens through the " +
      "statement form") {
    val dir = buildLake()
    LakeCatalog.register("mrgev_sql", dir)
    Seq((4L, 444L, "jp"), (11L, 110L, "br"))
      .toDF("user_id", "v", "region")
      .createOrReplaceTempView("mrgev_src")
    val receipt = spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO mrgev_sql t
        |USING mrgev_src s ON t.user_id = s.user_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(receipt.head.getLong(2) === 1L) // rows_updated
    assert(receipt.head.getLong(4) === 1L) // rows_inserted
    val got = spark.sql("SELECT user_id, region FROM mrgev_sql")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    assert(got(4L) === Some("jp") && got(11L) === Some("br"))
    assert(got(1L) === None)
  }
}
