package graft

import graft.streaming.{LakeCatalog, LakeSink}
import org.scalatest.funsuite.AnyFunSuite

/** Maintenance DDL over registered lake tables (r11): VACUUM /
  * OPTIMIZE [CLUSTER BY | ZORDER BY] / DESCRIBE HISTORY as SQL TEXT,
  * via the injected delegating parser. What must hold: each statement
  * dispatches to its protocol op with results identical to the Scala
  * API; every OTHER statement — including these verbs over
  * unregistered names — reaches the delegate parser untouched.
  */
class LakeMaintenanceSqlSpec extends AnyFunSuite with SparkFixture {

  private def buildLake(): (String, String) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maint_lake").toString
    import spark.implicits._
    (0 until 3).foreach { i =>
      val rows = (0 until 5).map(j => (i * 10L + j, (i * 10L + j) % 4))
      rows.toDF("id", "flag").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i")))
    }
    val tbl = "graft_maint_" + java.lang.Long.toHexString(System.nanoTime())
    LakeCatalog.register(tbl, dir)
    (dir, tbl)
  }

  test("DESCRIBE HISTORY matches the Scala audit log") {
    val (dir, tbl) = buildLake()
    try {
      val got = spark.sql(s"DESCRIBE HISTORY $tbl")
        .orderBy("version").collect().map(_.toSeq).toSeq
      val want = LakeSink.history(spark, dir)
        .orderBy("version").collect().map(_.toSeq).toSeq
      assert(got === want)
      assert(got.size === 3)
    } finally LakeCatalog.unregister(tbl)
  }

  test("OPTIMIZE compacts to one segment without changing the rows") {
    val (dir, tbl) = buildLake()
    try {
      val before = LakeSink.readTable(spark, dir)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val r = spark.sql(s"OPTIMIZE $tbl").collect().head
      assert(r.getInt(1) === 3) // 3 input segments compacted
      val m = LakeSink.readManifest(dir)
      assert(m.segs.size === 1 && m.segs.head.startsWith("seg_c"))
      val after = LakeSink.readTable(spark, dir)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(after === before, "compaction changed table contents")
    } finally LakeCatalog.unregister(tbl)
  }

  test("REORG TABLE … APPLY (PURGE) purges only DV'd segments " +
      "through SQL text") {
    val (dir, tbl) = buildLake()
    try {
      import org.apache.spark.sql.functions.col
      LakeSink.deleteWhere(spark, dir, col("id") === 3L,
        dvMaxFraction = 0.5)
      assert(LakeSink.readManifest(dir).dv.size === 1)
      val rcpt = spark.sql(s"REORG TABLE $tbl APPLY (PURGE)")
        .collect().head
      assert(rcpt.getInt(1) === 1)
      val m = LakeSink.readManifest(dir)
      assert(m.dv.isEmpty)
      assert(m.segs.count(Set("seg_b1", "seg_b2")) === 2,
        "clean segments survive by reference")
      assert(LakeSink.readTable(spark, dir).count() === 14L)
      // unregistered names reach the delegate untouched
      val e = intercept[Exception] {
        spark.sql("REORG TABLE graft_not_a_lake APPLY (PURGE)").collect()
      }
      assert(e.getMessage.nonEmpty)
    } finally LakeCatalog.unregister(tbl)
  }

  test("OPTIMIZE ZORDER BY and CLUSTER BY parse and run") {
    val (dir, tbl) = buildLake()
    try {
      spark.sql(s"OPTIMIZE $tbl ZORDER BY (id, flag)").collect()
      assert(LakeSink.readTable(spark, dir).count() === 15)
      spark.sql(s"OPTIMIZE $tbl CLUSTER BY (id)").collect()
      assert(LakeSink.readTable(spark, dir).count() === 15)
    } finally LakeCatalog.unregister(tbl)
  }

  test("VACUUM prunes history to the retention window") {
    val (dir, tbl) = buildLake()
    try {
      spark.sql(s"OPTIMIZE $tbl").collect() // orphans the b-segments' past
      val r = spark.sql(s"VACUUM $tbl RETAIN 1 VERSIONS").collect().head
      assert(r.getInt(0) === 3, s"expected the 3 pre-compaction segment " +
        s"dirs deleted, got ${r.toSeq}")
      assert(r.getInt(1) === 3, s"expected 3 stale manifests deleted")
      assert(LakeSink.readTable(spark, dir).count() === 15)
    } finally LakeCatalog.unregister(tbl)
  }

  test("VACUUM RETAIN n HOURS: time-based horizon on the log's own " +
      "commit clock") {
    val (dir, tbl) = buildLake()
    try {
      // nothing old enough: a generous horizon deletes nothing
      val r0 = spark.sql(s"VACUUM $tbl RETAIN 1000 HOURS").collect().head
      assert(r0.getInt(1) === 0)
      // age the first two commits by 3 hours (commit clock = manifest
      // mtime, the same clock TIMESTAMP AS OF resolves by)
      val md = java.nio.file.Paths.get(dir, "_manifest")
      (1 to 2).foreach { v =>
        val p = md.resolve(f"v$v%010d.txt")
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3 * 3600 * 1000L))
      }
      val r1 = spark.sql(s"VACUUM $tbl RETAIN 1 HOURS").collect().head
      assert(r1.getInt(1) === 2, s"expected 2 stale manifests, got " +
        s"${r1.toSeq}")
      // tip still reads; aged history is gone
      assert(LakeSink.readTable(spark, dir).count() === 15)
      intercept[Exception] { LakeSink.readTableAsOf(spark, dir, 1L) }
    } finally LakeCatalog.unregister(tbl)
  }

  test("SQL ASOF JOIN: matches the AsofJoin operator; keyword-alias " +
      "and delegate SQL are never hijacked") {
    import spark.implicits._
    val quotes = Seq((1L, 10L, 100L), (1L, 20L, 110L), (2L, 15L, 200L))
      .toDF("qk", "qt", "px")
    val trades = Seq((1L, 10L, 5L), (1L, 25L, 6L), (1L, 9L, 7L),
      (2L, 15L, 8L), (3L, 99L, 9L)).toDF("tk", "tt", "qty")
    trades.createOrReplaceTempView("graft_asof_trades")
    quotes.createOrReplaceTempView("graft_asof_quotes")
    val got = spark.sql(
      """SELECT t.tk, t.tt, t.qty, q.px
         FROM graft_asof_trades t ASOF JOIN graft_asof_quotes q
         ON t.tk = q.qk AND t.tt >= q.qt
         ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
    // by hand: (1,10)->px100; (1,25)->px110; (1,9)-> no quote (drop);
    // (2,15)->px200; (3,99)-> no key (drop)
    assert(got === Seq(Seq(1L, 10L, 5L, 100L), Seq(1L, 25L, 6L, 110L),
      Seq(2L, 15L, 8L, 200L)))
    // identical through the DataFrame operator
    val op = graft.operators.AsofJoin
      .asof(trades, quotes, "tk", "tt", "qk", "qt")
      .select("tk", "tt", "qty", "px")
      .orderBy("tk", "tt").collect().map(_.toSeq).toSeq
    assert(op === got)
    // reversed equality order + a WHERE tail both work
    val rev = spark.sql(
      """SELECT t.tk, q.px FROM graft_asof_trades t
         ASOF JOIN graft_asof_quotes q
         ON q.qk = t.tk AND t.tt >= q.qt
         WHERE t.qty > 5 ORDER BY t.tk, q.px""").collect().map(_.toSeq)
    assert(rev.toSeq === Seq(Seq(1L, 110L), Seq(2L, 200L)))
    // a relation genuinely ALIASED `asof` (delegate-valid SQL) must
    // reach the delegate, not the claimed pattern
    // (a PLAIN inner join: every (quote, trade) pair with qt >= tt —
    // q(1,10) and q(1,20) each match trades (1,10) and (1,9);
    // q(2,15) matches (2,15) — NOT the one-winner as-of result)
    val plain = spark.sql(
      """SELECT asof.qk FROM graft_asof_quotes AS asof
         JOIN graft_asof_trades t ON asof.qk = t.tk AND asof.qt >= t.tt
         ORDER BY asof.qk""").collect().map(_.getLong(0)).toSeq
    assert(plain === Seq(1L, 1L, 1L, 1L, 2L))
    // time bound written backwards fails loud, not silently wrong
    val e = intercept[Exception] {
      spark.sql(
        """SELECT t.tk FROM graft_asof_trades t
           ASOF JOIN graft_asof_quotes q
           ON t.tk = q.qk AND q.qt >= t.tt""").collect()
    }
    assert(e.getMessage.contains("time bound"))
    // asof-SHAPED TEXT inside a string literal is delegate-valid SQL
    // and must reach the delegate untouched (r16 review catch)
    val lit = spark.sql(
      """SELECT 'x FROM t a ASOF JOIN u b ON a.k = b.k AND a.t >= b.t'
           AS s FROM graft_asof_trades ORDER BY s LIMIT 1""")
      .collect().head.getString(0)
    assert(lit.startsWith("x FROM t a ASOF"), lit)
    // one alias used twice cannot assign the ON terms to a side
    val e2 = intercept[Exception] {
      spark.sql(
        """SELECT t.tk FROM graft_asof_trades t
           ASOF JOIN graft_asof_quotes t
           ON t.tk = t.qk AND t.tt >= t.qt""").collect()
    }
    assert(e2.getMessage.contains("two distinct aliases"))
  }

  test("SQL ASOF LEFT JOIN (r17): unmatched left rows survive " +
      "NULL-extended; literals and escaped quotes never confuse the " +
      "claim gate") {
    import spark.implicits._
    val quotes = Seq((1L, 10L, 100L), (1L, 20L, 110L), (2L, 15L, 200L))
      .toDF("qk", "qt", "px")
    val trades = Seq((1L, 10L, "t.x"), (1L, 9L, "t.x"), (3L, 99L, "y"))
      .toDF("tk", "tt", "note")
    trades.createOrReplaceTempView("graft_asofl_trades")
    quotes.createOrReplaceTempView("graft_asofl_quotes")
    try {
      // LEFT: (1,10) matches px100; (1,9) has no earlier quote and
      // (3,99) has no key — both SURVIVE with px NULL
      val got = spark.sql(
        """SELECT t.tk, t.tt, q.px
           FROM graft_asofl_trades t ASOF LEFT JOIN graft_asofl_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      assert(got === Seq(Seq(1L, 9L, null), Seq(1L, 10L, 100L),
        Seq(3L, 99L, null)))
      // identical through the DataFrame operator with inner = false
      val op = graft.operators.AsofJoin
        .asof(trades, quotes, "tk", "tt", "qk", "qt", inner = false)
        .select("tk", "tt", "px").orderBy("tk", "tt")
        .collect().map(_.toSeq).toSeq
      assert(op === got)
      // quote-AWARE qualifier strip (r17, advisor): an alias-dot
      // prefix INSIDE a string literal must survive verbatim — the
      // r16 blind replaceAll would have rewritten 't.x' to 'x' and
      // silently returned zero rows
      val lit = spark.sql(
        """SELECT t.tk FROM graft_asofl_trades t
           ASOF LEFT JOIN graft_asofl_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt
           WHERE t.note = 't.x' ORDER BY t.tk, t.tt""")
        .collect().map(_.getLong(0)).toSeq
      assert(lit === Seq(1L, 1L), "literal 't.x' was rewritten")
      // escaped quotes BEFORE the ASOF keyword (r17, advisor): a
      // backslash-escaped quote flipped the r16 raw-parity count and
      // mis-delegated a valid claimed statement; '' doubling likewise
      // must parse as ONE literal
      val esc = spark.sql(
        """SELECT 'it\'s' AS tag, t.tk FROM graft_asofl_trades t
           ASOF JOIN graft_asofl_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt ORDER BY t.tk""")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(esc === Seq(("it's", 1L)))
      val dbl = spark.sql(
        """SELECT 'it''s' AS tag, t.tk FROM graft_asofl_trades t
           ASOF JOIN graft_asofl_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt ORDER BY t.tk""")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(dbl === Seq(("it's", 1L)))
      // NULL keys follow SQL semantics on BOTH sides (r17): a
      // NULL-keyed right row matches nothing, a NULL-keyed left row
      // is NULL-extended under left, dropped under inner
      val qn = Seq((Option.empty[Long], 1L, 999L), (Some(1L), 10L, 100L))
        .toDF("qk", "qt", "px")
      val tn = Seq((Option.empty[Long], 50L, 1L), (Some(1L), 50L, 2L))
        .toDF("tk", "tt", "qty")
      val ln = graft.operators.AsofJoin
        .asof(tn, qn, "tk", "tt", "qk", "qt", inner = false)
        .select("qty", "px").orderBy("qty").collect().map(_.toSeq).toSeq
      assert(ln === Seq(Seq(1L, null), Seq(2L, 100L)),
        "NULL-keyed rows must never match")
      val in = graft.operators.AsofJoin
        .asof(tn, qn, "tk", "tt", "qk", "qt")
        .select("qty", "px").collect().map(_.toSeq).toSeq
      assert(in === Seq(Seq(2L, 100L)))
    } finally {
      spark.catalog.dropTempView("graft_asofl_trades")
      spark.catalog.dropTempView("graft_asofl_quotes")
    }
  }

  test("ASOF strict bound (r18): a.t > b.t never matches the " +
      "same-instant right row; inner and left variants agree") {
    import spark.implicits._
    val quotes = Seq((1L, 10L, 100L), (1L, 20L, 110L), (2L, 15L, 200L))
      .toDF("qk", "qt", "px")
    // trades AT quote times: >= matches the same-instant quote,
    // > must reach back to the previous one (or nothing)
    val trades = Seq((1L, 10L, 5L), (1L, 20L, 6L), (2L, 15L, 7L))
      .toDF("tk", "tt", "qty")
    trades.createOrReplaceTempView("graft_asofst_trades")
    quotes.createOrReplaceTempView("graft_asofst_quotes")
    try {
      val ge = spark.sql(
        """SELECT t.tk, t.tt, q.px FROM graft_asofst_trades t
           ASOF JOIN graft_asofst_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      assert(ge === Seq(Seq(1L, 10L, 100L), Seq(1L, 20L, 110L),
        Seq(2L, 15L, 200L)))
      val gt = spark.sql(
        """SELECT t.tk, t.tt, q.px FROM graft_asofst_trades t
           ASOF JOIN graft_asofst_quotes q
           ON t.tk = q.qk AND t.tt > q.qt
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      // (1,10): no strictly-earlier quote → drops; (1,20) → the 10
      // quote; (2,15): its only quote is same-instant → drops
      assert(gt === Seq(Seq(1L, 20L, 100L)))
      val gtLeft = spark.sql(
        """SELECT t.tk, t.tt, q.px FROM graft_asofst_trades t
           ASOF LEFT JOIN graft_asofst_quotes q
           ON t.tk = q.qk AND t.tt > q.qt
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      assert(gtLeft === Seq(Seq(1L, 10L, null), Seq(1L, 20L, 100L),
        Seq(2L, 15L, null)))
      // identical through the DataFrame operator
      val op = graft.operators.AsofJoin
        .asof(trades, quotes, "tk", "tt", "qk", "qt", strict = true)
        .select("tk", "tt", "px").orderBy("tk", "tt")
        .collect().map(_.toSeq).toSeq
      assert(op === gt)
    } finally {
      spark.catalog.dropTempView("graft_asofst_trades")
      spark.catalog.dropTempView("graft_asofst_quotes")
    }
  }

  test("ASOF TOLERANCE (r18): stale matches discarded — dropped " +
      "inner, NULL-extended left; unit form builds an interval") {
    import spark.implicits._
    val quotes = Seq((1L, 10L, 100L), (1L, 90L, 110L), (2L, 15L, 200L))
      .toDF("qk", "qt", "px")
    val trades = Seq((1L, 12L, 5L), (1L, 95L, 6L), (1L, 200L, 7L),
      (2L, 16L, 8L)).toDF("tk", "tt", "qty")
    trades.createOrReplaceTempView("graft_asoftol_trades")
    quotes.createOrReplaceTempView("graft_asoftol_quotes")
    try {
      // tolerance 10 time units: (1,12)→q10 Δ2 ok; (1,95)→q90 Δ5 ok;
      // (1,200)→q90 Δ110 STALE; (2,16)→q15 Δ1 ok
      val inner = spark.sql(
        """SELECT t.tk, t.tt, q.px FROM graft_asoftol_trades t
           ASOF JOIN graft_asoftol_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt TOLERANCE 10
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      assert(inner === Seq(Seq(1L, 12L, 100L), Seq(1L, 95L, 110L),
        Seq(2L, 16L, 200L)))
      val left = spark.sql(
        """SELECT t.tk, t.tt, q.px FROM graft_asoftol_trades t
           ASOF LEFT JOIN graft_asoftol_quotes q
           ON t.tk = q.qk AND t.tt >= q.qt TOLERANCE 10
           ORDER BY t.tk, t.tt""").collect().map(_.toSeq).toSeq
      assert(left === Seq(Seq(1L, 12L, 100L), Seq(1L, 95L, 110L),
        Seq(1L, 200L, null), Seq(2L, 16L, 200L)))
      // identical through the DataFrame operator
      import org.apache.spark.sql.functions.lit
      val op = graft.operators.AsofJoin
        .asof(trades, quotes, "tk", "tt", "qk", "qt",
          inner = false, tolerance = Some(lit(10L)))
        .select("tk", "tt", "px").orderBy("tk", "tt")
        .collect().map(_.toSeq).toSeq
      assert(op === left)
      // the UNIT form over real timestamps: TOLERANCE 30 SECONDS
      val tq = Seq((1L, "2024-01-01 00:00:00", 100L),
        (1L, "2024-01-01 00:10:00", 110L)).toDF("qk", "qs", "px")
        .selectExpr("qk", "CAST(qs AS TIMESTAMP) AS qt", "px")
      val tt = Seq((1L, "2024-01-01 00:00:20", 5L),
        (1L, "2024-01-01 00:05:00", 6L)).toDF("tk", "ts0", "qty")
        .selectExpr("tk", "CAST(ts0 AS TIMESTAMP) AS tt", "qty")
      tq.createOrReplaceTempView("graft_asoftol_tq")
      tt.createOrReplaceTempView("graft_asoftol_tt")
      val ts = spark.sql(
        """SELECT t.qty, q.px FROM graft_asoftol_tt t
           ASOF LEFT JOIN graft_asoftol_tq q
           ON t.tk = q.qk AND t.tt >= q.qt TOLERANCE 30 SECONDS
           ORDER BY t.qty""").collect().map(_.toSeq).toSeq
      // 00:00:20 is 20 s after the 00:00:00 quote (in tolerance);
      // 00:05:00 is 5 min after it (stale) and before the next
      assert(ts === Seq(Seq(5L, 100L), Seq(6L, null)))
    } finally {
      spark.catalog.dropTempView("graft_asoftol_trades")
      spark.catalog.dropTempView("graft_asoftol_quotes")
      spark.catalog.dropTempView("graft_asoftol_tq")
      spark.catalog.dropTempView("graft_asoftol_tt")
    }
  }

  test("literalSpans vs escapedStringLiterals (r18, advisor): the " +
      "tokenizer matches Spark's lexer in BOTH modes — 'C:\\' is a " +
      "loud parse error everywhere, never a silent wrong route") {
    import spark.implicits._
    val quotes = Seq((1L, 10L, 100L)).toDF("qk", "qt", "px")
    val trades = Seq((1L, 12L, 5L)).toDF("tk", "tt", "qty")
    trades.createOrReplaceTempView("graft_asofesc_trades")
    quotes.createOrReplaceTempView("graft_asofesc_quotes")
    try {
      // Spark 4's SqlBaseLexer consumes \' as escaped-quote-in-literal
      // REGARDLESS of escapedStringLiterals (the conf only changes
      // token UNESCAPING) — so a trailing-backslash literal is a parse
      // error under either setting, and the claim tokenizer agreeing
      // with the lexer is exactly right. Pin both modes.
      Seq("false", "true").foreach { mode =>
        spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
        intercept[Exception] {
          spark.sql(
            """SELECT 'C:\' AS p, t.tk, q.px FROM graft_asofesc_trades t
               ASOF JOIN graft_asofesc_quotes q
               ON t.tk = q.qk AND t.tt >= q.qt ORDER BY t.tk""").collect()
        }
      }
      // the double-backslash spelling routes through the claim and
      // runs in both modes — only the UNESCAPING differs, exactly
      // Spark's documented conf semantics
      Seq("false" -> "C:\\", "true" -> "C:\\\\").foreach {
        case (mode, want) =>
          spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
          val got = spark.sql(
            """SELECT 'C:\\' AS p, t.tk, q.px
               FROM graft_asofesc_trades t
               ASOF JOIN graft_asofesc_quotes q
               ON t.tk = q.qk AND t.tt >= q.qt ORDER BY t.tk""")
            .collect().map(r =>
              (r.getString(0), r.getLong(1), r.getLong(2)))
          assert(got.toSeq === Seq((want, 1L, 100L)), s"mode=$mode")
      }
    } finally {
      spark.conf.unset("spark.sql.parser.escapedStringLiterals")
      spark.catalog.dropTempView("graft_asofesc_trades")
      spark.catalog.dropTempView("graft_asofesc_quotes")
    }
  }

  test("AsofJoin determinism: right-side (key,time) duplicates resolve " +
      "to the max payload tuple, on every partition layout") {
    import spark.implicits._
    // two quotes at the SAME (key, time) — DuckDB's ASOF would pick
    // arbitrarily; this operator defines the winner (max payload
    // struct = highest px here) so results are layout-independent
    val quotes = Seq((1L, 10L, 100L), (1L, 10L, 105L), (1L, 10L, 95L),
      (2L, 5L, 7L), (2L, 5L, 9L)).toDF("qk", "qt", "px")
    val trades = Seq((1L, 12L, 1L), (2L, 6L, 2L)).toDF("tk", "tt", "qty")
    def run(qParts: Int, tParts: Int): Seq[Seq[Any]] =
      graft.operators.AsofJoin.asof(
          trades.repartition(tParts), quotes.repartition(qParts),
          "tk", "tt", "qk", "qt")
        .select("tk", "px").orderBy("tk").collect().map(_.toSeq).toSeq
    val expected = Seq(Seq(1L, 105L), Seq(2L, 9L))
    Seq((1, 1), (7, 3), (32, 32)).foreach { case (qp, tp) =>
      assert(run(qp, tp) === expected,
        s"tie-break not deterministic at ($qp, $tp) partitions")
    }
    // and a later REAL quote still beats a same-time tie at an older t
    val q2 = quotes.unionByName(Seq((1L, 11L, 50L)).toDF("qk", "qt", "px"))
    val got = graft.operators.AsofJoin.asof(trades, q2,
        "tk", "tt", "qk", "qt")
      .select("tk", "px").orderBy("tk").collect().map(_.toSeq).toSeq
    assert(got === Seq(Seq(1L, 50L), Seq(2L, 9L)))
  }

  test("unclaimed statements reach the delegate parser untouched") {
    // normal SQL still parses and runs
    assert(spark.sql("SELECT 1 + 1").collect().head.getInt(0) === 2)
    // the maintenance verbs over an UNREGISTERED name fall through to
    // Spark's grammar, which does not have them → normal parse error
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("VACUUM definitely_not_registered")
    }
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("OPTIMIZE definitely_not_registered")
    }
  }

  test("CREATE TABLE with 'dv.maxFraction' routes DML merge-on-read " +
      "from the table's first statement; a bad value fails loud") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ddl_dvf").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val tbl = "graft_ddldvf_" + java.lang.Long.toHexString(System.nanoTime())
    try {
      spark.sql(
        s"""CREATE TABLE $tbl (id BIGINT, v BIGINT)
            USING graft_lake LOCATION '$dir'
            TBLPROPERTIES ('dv.maxFraction'='1.0')""").collect()
      spark.sql(s"INSERT INTO $tbl VALUES " +
        "(CAST(1 AS BIGINT), CAST(5 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), CAST(6 AS BIGINT))").collect()
      val del = spark.sql(s"DELETE FROM $tbl WHERE id = 1").collect().head
      assert(del.getInt(1) === 0 && del.getLong(3) === 1L,
        "born merge-on-read: DV, no rewrite")
      assert(LakeSink.readManifest(dir).dv.size === 1)
      // out-of-range property value fails the statement, not silently
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
          "('dv.maxFraction'='1.5')").collect()
      }
      assert(e.getMessage.contains("dv.maxFraction"))
    } finally LakeCatalog.unregister(tbl)
  }

  test("CREATE TABLE … USING graft_lake: creates, registers, applies " +
      "properties; DROP TABLE unregisters but keeps data") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ddl_lake").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val tbl = "graft_ddl_" + java.lang.Long.toHexString(System.nanoTime())
    try {
      val v = spark.sql(
        s"""CREATE TABLE $tbl (id BIGINT, day BIGINT, v BIGINT)
            USING graft_lake PARTITIONED BY (day) LOCATION '$dir'
            TBLPROPERTIES ('cdc'='true', 'expect.v_pos'='v >= 0')""")
        .collect().head.getLong(0)
      assert(v === 1L)
      val m = LakeSink.readManifest(dir)
      assert(m.partSpec === Some("day"))
      assert(m.expects === Map("v_pos" -> "v >= 0"))
      assert(LakeCatalog.cdcEnabled(Seq(tbl)))
      // INSERT through SQL lands through the protocol (and the cdc
      // property makes a later DELETE feed-readable)
      spark.sql(s"INSERT INTO $tbl VALUES " +
        "(CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(5 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), CAST(11 AS BIGINT), CAST(6 AS BIGINT))")
        .collect()
      val v1 = LakeSink.readManifest(dir).version
      spark.sql(s"DELETE FROM $tbl WHERE day = 10").collect()
      val v2 = LakeSink.readManifest(dir).version
      val feed = LakeSink.changesCdcBetween(spark, dir, v1, v2)
      assert(feed.filter(feed("_change_type") === "delete").count() === 1L)
      // the expectation from TBLPROPERTIES gates appends
      intercept[Exception] {
        spark.sql(s"INSERT INTO $tbl VALUES " +
          "(CAST(3 AS BIGINT), CAST(12 AS BIGINT), CAST(-1 AS BIGINT))")
          .collect()
      }
      // DROP unregisters the NAME; files stay
      assert(spark.sql(s"DROP TABLE $tbl").collect().head.getString(0)
        === tbl)
      assert(LakeCatalog.lookup(Seq(tbl)).isEmpty)
      assert(LakeSink.readManifest(dir).version === v2)
      // re-attach over the existing location: columns must match
      val vAttach = spark.sql(
        s"""CREATE TABLE $tbl (id BIGINT, day BIGINT, v BIGINT)
            USING graft_lake LOCATION '$dir'""").collect().head.getLong(0)
      assert(vAttach === v2)
      assert(LakeSink.readTable(spark, dir).count() === 1L)
      // a mismatched attach fails loud
      spark.sql(s"DROP TABLE $tbl").collect()
      intercept[Exception] {
        spark.sql(s"""CREATE TABLE $tbl (wrong BIGINT, cols BIGINT)
            USING graft_lake LOCATION '$dir'""").collect()
      }
    } finally LakeCatalog.unregister(tbl)
  }

  test("ALTER TABLE SET TBLPROPERTIES: cdc flag, partition evolution, " +
      "expectations; unknown keys fail loud") {
    val (dir, tbl) = buildLake()
    try {
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('cdc'='true', 'partition_by'='flag', 'expect.id_pos'='id >= 0')")
        .collect()
      assert(LakeCatalog.cdcEnabled(Seq(tbl)))
      val m = LakeSink.readManifest(dir)
      assert(m.partSpec === Some("flag"))
      assert(m.expects === Map("id_pos" -> "id >= 0"))
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('nope'='x')")
          .collect()
      }
      // turning cdc back off re-registers without touching the lake
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES ('cdc'='false')")
        .collect()
      assert(!LakeCatalog.cdcEnabled(Seq(tbl)))
      assert(LakeSink.readManifest(dir).version === m.version)
    } finally LakeCatalog.unregister(tbl)
  }

  test("lifecycle DDL over unregistered names reaches the delegate") {
    // DROP TABLE of an unregistered name → delegate (catalog error,
    // not our command)
    intercept[Exception] {
      spark.sql("DROP TABLE definitely_not_registered_lake").collect()
    }
    // ALTER SET TBLPROPERTIES of an unregistered name → delegate
    intercept[Exception] {
      spark.sql("ALTER TABLE definitely_not_registered_lake " +
        "SET TBLPROPERTIES ('cdc'='true')").collect()
    }
  }

  test("CTAS: schema from the query, partitioned seed, props applied; " +
      "occupied location refused") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ctas").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "c", 30L))
      .toDF("day", "user", "cents").createOrReplaceTempView("ctas_src")
    val tbl = "graft_ctas_t"
    try {
      val rec = spark.sql(
        s"""CREATE TABLE $tbl USING graft_lake PARTITIONED BY (day)
            LOCATION '$dir' TBLPROPERTIES ('cdc'='true')
            AS SELECT day, user, cents FROM ctas_src""").head()
      assert(rec.getLong(1) === 3L)
      val m = LakeSink.readManifest(dir)
      assert(m.partSpec === Some("day"))
      assert(m.parts.size === 2) // one segment per day value
      assert(LakeCatalog.cdcEnabled(Seq(tbl)))
      assert(spark.sql(s"SELECT sum(cents) AS s FROM $tbl")
        .head().getLong(0) === 60L)
      // CTAS over an occupied location refuses (attach vs create)
      LakeCatalog.unregister(tbl)
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $tbl USING graft_lake LOCATION '$dir' " +
          "AS SELECT 1 AS x").collect()
      }
      assert(e.getMessage.contains("already holds a lake"))
    } finally LakeCatalog.unregister(tbl)
  }

  test("RTAS: CREATE OR REPLACE swaps schema+data in ONE commit, " +
      "history time-travels, declarations reset") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rtas").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq((1L, "a", 10L), (2L, "b", 20L), (2L, "c", 30L))
      .toDF("day", "user", "cents").createOrReplaceTempView("rtas_src")
    val tbl = "graft_rtas_t"
    try {
      spark.sql(
        s"""CREATE TABLE $tbl USING graft_lake LOCATION '$dir'
            TBLPROPERTIES ('expect.pos'='cents > 0')
            AS SELECT day, user, cents FROM rtas_src""").collect()
      val preV = LakeSink.readManifest(dir).version
      assert(LakeSink.readManifest(dir).expects.nonEmpty)
      // replace with a DIFFERENT schema (the aggregate rebuild), a
      // declared partition layout, and fresh properties
      val rec = spark.sql(
        s"""CREATE OR REPLACE TABLE $tbl USING graft_lake
            PARTITIONED BY (day) LOCATION '$dir'
            AS SELECT day, count(*) AS n, sum(cents) AS total
            FROM rtas_src GROUP BY day""").head()
      val m = LakeSink.readManifest(dir)
      assert(m.version === preV + 1) // ONE commit
      assert(m.partSpec === Some("day") && m.parts.size === 2)
      assert(m.expects.isEmpty) // declarations reset with the schema
      assert(rec.getLong(1) === 2L)
      assert(spark.sql(s"SELECT sum(total) FROM $tbl")
        .head.getLong(0) === 60L)
      // pre-replace version reads under ITS schema
      val old = LakeSink.readTableAsOf(spark, dir, preV)
      assert(old.columns.toSeq === Seq("day", "user", "cents"))
      assert(old.count() === 3L)
      // retention on the rebuilt table is metadata-only from day one
      val (_, rw, dropped, _) = LakeSink.deleteWhere(spark, dir,
        org.apache.spark.sql.functions.col("day") === 1L)
      assert(rw === 0 && dropped === 1)
      // OR REPLACE must not re-point a name at a different location
      val other = java.nio.file.Files
        .createTempDirectory("graft_rtas_other").toString
      val e = intercept[Exception] {
        spark.sql(s"CREATE OR REPLACE TABLE $tbl USING graft_lake " +
          s"LOCATION '$other' AS SELECT 1 AS x").collect()
      }
      assert(e.getMessage.contains("does not") ||
        e.getMessage.contains("re-point"))
    } finally LakeCatalog.unregister(tbl)
  }
}
