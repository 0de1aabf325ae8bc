package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 engine extensions beyond the SURVEY.md §2 contract: upsert
  * (MERGE-style), bucketed co-located joins, CSV source/sink
  * round-trip, statistical aggregates, and UNPIVOT — the remaining
  * surface a warehouse-style user of the reference's class would
  * expect from a complete engine.
  *
  * Determinism rules as everywhere (IMPLEMENTATION.md): money in exact
  * integer cents, total ORDER BY, epoch BIGINT timestamps; the one
  * exception is `agg_stats`, whose floating-point moments are rounded
  * to 3 decimals on both engines (the cross-engine summation-order
  * error is ~1e-10 relative, eight orders of magnitude below the
  * rounding grain).
  */
object Extensions {

  /** NOTE for BENCH readers: `join_bucketed` and `csv_roundtrip`
    * deliberately time write + read — the design point being
    * demonstrated (pay the shuffle/encode once at write time)
    * includes the write. */
  import graft.Scratch.{jvmPath, runTag, tmpPath}

  /** Ingest `ev` as up to 4 hash-bucket segments through the manifest
    * protocol, SKIPPING empty buckets: a committed empty segment would
    * survive every copy-on-write verb by reference (its match count is
    * always 0) while being invisible to any oracle derived from the
    * table's rows — so the committed segment set must be exactly
    * derivable from the data (ADVICE r9). */
  private def ingestLakeBuckets(dir: String, ev: DataFrame): Unit = {
    import graft.streaming.LakeSink
    // One job decides which buckets exist (vs 4 per-bucket isEmpty
    // probes); the 4-value aggregate collects trivially.
    val nonEmpty = ev.groupBy((col("event_id") % 4).as("b")).count()
      .collect().map(_.getLong(0)).toSet
    // Record the table schema in the manifest from the first commit
    // (r18): without it every downstream read pays a parquet
    // footer-inference pass per action (LoadFloorProbe: 64-112 ms vs
    // 5-6 ms schema-supplied) — for the canonical lake that floor
    // multiplied into every clone-based protocol query. schemaV stays
    // 0 (recording the bootstrap schema is not an evolution); every
    // DML verb already carries schemaJson forward.
    val sj = Some(ev.schema.json)
    // The 4 bucket files are independent writes into disjoint dirs —
    // run them from driver threads so each write's straggler tail is
    // back-filled by the next bucket's tasks (guide §2.6;
    // [[graft.Concurrency.awaitAll]] settles ALL writes before any
    // failure propagates, so a retry never races a detached sibling).
    // COMMITS stay strictly in bucket order afterwards, so the
    // manifest history (version k = bucket k's append) is
    // byte-identical to the sequential shape every history/changefeed
    // oracle assumes.
    val present = (0 to 3).filter(i => nonEmpty(i.toLong))
    graft.Concurrency.awaitAll(present.map(i => () =>
      ev.filter(col("event_id") % 4 === i)
        .write.mode("overwrite").parquet(s"$dir/seg_b$i")))
    present.foreach { i =>
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ s"seg_b$i",
          schemaJson = sj)),
        s"ingest commit $i lost a race")
    }
  }

  /** Per-(JVM, sfDir) CANONICAL EVENTS LAKE — the 4-bucket
    * (event_id % 4) lake over the canonical projection
    * (event_id, event_type, vc) that 16 protocol queries start from.
    * Built ONCE per process, then SHALLOW-CLONED (hard links — zero
    * data bytes, O(files) metadata) into each caller's private dir:
    * the suite dogfoods its own clone verb, and a 3-pass bench pays
    * ONE ingest instead of 48. Every converted query is
    * version-RELATIVE (captures `readManifest(dir).version` before
    * its DMLs), so starting from the clone's v1 instead of the
    * 4-commit ingest history changes nothing observable — except
    * sql_lake_detail, whose oracle pins the version literal and
    * co-evolved. History queries keep the real ingest (the commit
    * sequence IS their story). Clones are fully independent tables
    * (clone contract, LakeCloneSpec) — queries stay order-independent
    * and re-runnable; DML on a clone never touches the base's bytes
    * (rewrites mint new segments, vacuum unlinks only own names). */
  private val canonicalLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cloneCanonicalLake(s: SparkSession, d: String,
      dir: String): Unit = {
    import graft.streaming.LakeSink
    val base = canonicalLakes.computeIfAbsent(d, _ => {
      val bd = tmpPath("graft_lake_base_canon", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bd))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ingestLakeBuckets(bd, ev)
      bd
    })
    LakeSink.cloneTable(s, base, dir)
  }

  /** orders as (key, status, exact price cents). */
  private def ordersCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))

  /** MERGE-style upsert: base ⟗ delta on the key, delta wins; delta
    * carries both updates (existing keys, +1000.00) and inserts (new
    * keys). The full-outer hash merge is the canonical distributed
    * upsert plan — one shuffle on the key; at 100 TB the base side
    * would be a bucketed/partitioned table so only the delta moves. */
  private val mergeUpsert = QueryDef(
    "merge_upsert",
    (s, d) => {
      val base = ordersCents(s, d)
      val changed = base.filter(col("o_orderkey") % 100 === 0)
      val delta = changed
        .select(col("o_orderkey"), lit("U").as("u_st"),
          (col("pc") + 100000L).as("u_pc"))
        .unionByName(changed.select(
          (col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("u_st"), col("pc").as("u_pc")))
      base.join(delta, Seq("o_orderkey"), "full_outer")
        .select(
          col("o_orderkey"),
          coalesce(col("u_st"), col("o_orderstatus")).as("status"),
          coalesce(col("u_pc"), col("pc")).as("price_cents"))
        .orderBy("o_orderkey")
    },
    Some("""WITH base AS (
              SELECT o_orderkey, o_orderstatus,
                CAST(round(o_totalprice * 100) AS BIGINT) AS pc
              FROM orders),
            delta AS (
              SELECT o_orderkey, 'U' AS u_st, pc + 100000 AS u_pc
              FROM base WHERE o_orderkey % 100 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, 'N', pc
              FROM base WHERE o_orderkey % 100 = 0)
            SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
              coalesce(d.u_st, b.o_orderstatus) AS status,
              CAST(coalesce(d.u_pc, b.pc) AS BIGINT) AS price_cents
            FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
            ORDER BY o_orderkey"""))

  /** Bucketed co-located join: both sides written as 8-bucket tables
    * on the join key, then joined via `spark.table` — the bucketed
    * scans satisfy the join's distribution requirement, so NO exchange
    * appears on either join input (plan-asserted in RelationalSpec).
    * This is THE 100 TB join strategy for repeatedly-joined fact
    * tables: the shuffle is paid once at write time, never per query. */
  private val joinBucketed = QueryDef(
    "join_bucketed",
    (s, d) => {
      val oTab = "graft_b_orders_" + runTag(d)
      val lTab = "graft_b_lineitem_" + runTag(d)
      // The two bucketed builds are INDEPENDENT writes into different
      // tables — submit them from two driver threads so the second
      // write's tasks back-fill the first's straggler tail instead of
      // waiting for it (guide §2.6 overlap; actions are only
      // sequential because driver code calls them sequentially).
      // Same files, same catalog entries, same join input either way.
      graft.Concurrency.awaitAll(Seq(
        () => ordersCents(s, d)
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", tmpPath("graft_b_orders", d))
          .saveAsTable(oTab),
        () => Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("ec"))
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", tmpPath("graft_b_lineitem", d))
          .saveAsTable(lTab)))
      s.table(oTab)
        .join(s.table(lTab),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"), sum("ec").as("sum_cents"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** CSV sink → source round trip: typed columns (BIGINT keys, cents,
    * epoch seconds) survive the text encode/decode bit-exactly; the
    * read-back side supplies an explicit schema (never inferSchema —
    * a schema inference pass over 100 TB is a full extra scan). */
  private val csvRoundtrip = QueryDef(
    "csv_roundtrip",
    (s, d) => {
      val out = tmpPath("graft_csv_rt", d)
      Tables.orders(s, d)
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"),
          unix_timestamp(col("o_orderdate")).as("od_epoch"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, pc BIGINT, od_epoch BIGINT")
        .option("header", "true").csv(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("pc").as("sum_cents"),
          min("od_epoch").as("first_epoch"), max("od_epoch").as("last_epoch"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              CAST(min(floor(epoch(o_orderdate))) AS BIGINT) AS first_epoch,
              CAST(max(floor(epoch(o_orderdate))) AS BIGINT) AS last_epoch
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Statistical aggregates: sample stddev/variance, correlation and
    * covariance — the moment-sketch family. All are mergeable partial
    * aggregates, so the plan is the same two-phase HashAggregate as
    * any sum.
    *
    * Determinism: the engines' native stddev/corr accumulate doubles
    * in different orders, so a value near a rounding boundary could
    * flip the last digit on one engine only. Instead BOTH engines
    * aggregate exact integer moments (n, Σq, Σq², Σd, Σd², Σqd in
    * centi-units — each exactly representable as a double at any
    * tested SF) and derive the statistics through the IDENTICAL fixed
    * sequence of IEEE-754 double ops, so the pre-round doubles are
    * bit-identical cross-engine and round(.., 3) can never diverge.
    * This is also the right 100 TB plan: six longs per group cross
    * the shuffle, never rows. */
  private val aggStats = QueryDef(
    "agg_stats",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("qc")).as("sq"),
          sum(col("qc") * col("qc")).as("sq2"),
          sum(col("dc")).as("sd1"),
          sum(col("dc") * col("dc")).as("sd2"),
          sum(col("qc") * col("dc")).as("sqd"))
        .select(col("l_returnflag"), col("n"),
          expr("""round(sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100, 3)""")
            .as("sd_qty"),
          expr("""round((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000, 3)""")
            .as("var_qty"),
          expr("""round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sd1 AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                     * sqrt(CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)
                            - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))), 3)""")
            .as("corr_qty_disc"),
          expr("""round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sd1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100, 3)""")
            .as("cov_qty_disc"))
        .orderBy("l_returnflag"),
    Some("""WITH m AS (
              SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(qc) AS BIGINT) AS sq,
                CAST(sum(qc * qc) AS BIGINT) AS sq2,
                CAST(sum(dc) AS BIGINT) AS sd1,
                CAST(sum(dc * dc) AS BIGINT) AS sd2,
                CAST(sum(qc * dc) AS BIGINT) AS sqd
              FROM (SELECT l_returnflag,
                      CAST(round(l_quantity * 100) AS BIGINT) AS qc,
                      CAST(round(l_discount * 100) AS BIGINT) AS dc
                    FROM lineitem)
              GROUP BY l_returnflag)
            SELECT l_returnflag, n,
              round(sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100, 3)
                AS sd_qty,
              round((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000, 3)
                AS var_qty,
              round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                - CAST(sq AS DOUBLE) * CAST(sd1 AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)
                          - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))), 3)
                AS corr_qty_disc,
              round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                - CAST(sq AS DOUBLE) * CAST(sd1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100, 3)
                AS cov_qty_disc
            FROM m ORDER BY l_returnflag"""))

  /** Fuzzy string matching: customers matched against a typo'd probe
    * list by Levenshtein distance ≤ 2 — entity-resolution / dirty-key
    * joining. The probe set broadcasts (tiny by construction, like any
    * match dictionary); the scan side is touched once. Both engines
    * implement classic Levenshtein → exact integer distances. */
  private val fnFuzzy = QueryDef(
    "fn_fuzzy",
    (s, d) => {
      import s.implicits._
      val probes = Seq(
        "Customer#000000010", "Custoner#000000013", "Customer#00000002X")
        .toDF("probe")
      Tables.customer(s, d)
        .crossJoin(broadcast(probes))
        .withColumn("dist", levenshtein(col("c_name"), col("probe")).cast("long"))
        .filter(col("dist") <= 2)
        .select("c_custkey", "c_name", "probe", "dist")
        .orderBy("c_custkey", "probe")
    },
    Some("""SELECT c_custkey, c_name, probe,
              CAST(levenshtein(c_name, probe) AS BIGINT) AS dist
            FROM customer
            CROSS JOIN (VALUES ('Customer#000000010'), ('Custoner#000000013'),
                               ('Customer#00000002X')) p(probe)
            WHERE levenshtein(c_name, probe) <= 2
            ORDER BY c_custkey, probe"""))

  /** Deterministic array aggregation: per-customer sorted order-key
    * list — rendered as a joined string because the grading comparator
    * cannot hash array cells (see fn_array). sort_array makes the
    * collect order-independent, so the result is stable under any
    * shuffle/merge order — the rule for ALL collect-style aggregates
    * at scale. */
  private val aggArrayCollect = QueryDef(
    "agg_array_collect",
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 50)
        .groupBy("o_custkey")
        .agg(
          array_join(sort_array(collect_list(col("o_orderkey"))), ",")
            .as("orderkeys_csv"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey"),
    Some("""SELECT o_custkey,
              array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv,
              CAST(count(*) AS BIGINT) AS n
            FROM orders WHERE o_custkey <= 50
            GROUP BY o_custkey ORDER BY o_custkey"""))

  /** Fixed-width histogram: order totals binned at $25,000 — the
    * distribution-profiling aggregate (data-quality dashboards, skew
    * diagnosis before choosing partition keys). Pure integer bin
    * arithmetic on exact cents, one two-phase HashAggregate: per-bin
    * (count, lo, hi) partials cross the shuffle, never rows — the
    * histogram of a 100 TB column costs one scan. */
  private val aggHistogram = QueryDef(
    "agg_histogram",
    (s, d) =>
      ordersCents(s, d)
        .groupBy(expr("pc div 2500000").as("bin"))
        .agg(count(lit(1)).as("n"), min("pc").as("lo_cents"),
          max("pc").as("hi_cents"))
        .orderBy("bin"),
    Some("""SELECT pc // 2500000 AS bin, CAST(count(*) AS BIGINT) AS n,
              CAST(min(pc) AS BIGINT) AS lo_cents,
              CAST(max(pc) AS BIGINT) AS hi_cents
            FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                  FROM orders)
            GROUP BY bin ORDER BY bin"""))

  /** UNPIVOT (wide → long): per-flag metric columns melted into
    * (metric, value) rows via the Dataset.unpivot API — the inverse of
    * `agg_pivot`. Narrow op: no extra shuffle beyond the aggregate. */
  private val unpivotStack = QueryDef(
    "unpivot_stack",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("price_cents"),
          sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("disc_cents"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("qty_sum"), col("price_cents"), col("disc_cents")),
          "metric", "value")
        .orderBy("l_returnflag", "metric"),
    Some("""WITH agg AS (
              SELECT l_returnflag,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS price_cents,
                CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                  AS disc_cents
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, metric, value FROM (
              SELECT l_returnflag, 'qty_sum' AS metric, qty_sum AS value FROM agg
              UNION ALL
              SELECT l_returnflag, 'price_cents', price_cents FROM agg
              UNION ALL
              SELECT l_returnflag, 'disc_cents', disc_cents FROM agg)
            ORDER BY l_returnflag, metric"""))

  /** Small-file COMPACTION — the table-maintenance op every long-lived
    * 100 TB lake needs: streaming ingest and fine-grained partitioning
    * leave thousands of KB-sized files whose per-file open/footer cost
    * dominates scans. Fragment the table (16-way write), compact it
    * (repartition(2) → exactly 2 output files, verified from
    * `input_file_name`), and prove the round trip lossless with exact
    * aggregates. `repartition(N)` is the deliberate choice over
    * `coalesce(N)`: coalesce would chain the upstream scan into N
    * tasks, while repartition isolates the compaction shuffle — at
    * scale this runs per-partition with N sized to the target file
    * size. NOTE for BENCH readers: timing includes both writes by
    * design. */
  private val sinkCompacted = QueryDef(
    "sink_compacted",
    (s, d) => {
      val frag = tmpPath("graft_frag", d)
      val comp = tmpPath("graft_comp", d)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.repartition(16).write.mode("overwrite").parquet(frag)
      // read-backs carry the written schema (== inference for these
      // all-nullable columns): no footer-inference pass per hop (r18)
      s.read.schema(ev.schema).parquet(frag).repartition(2)
        .write.mode("overwrite").parquet(comp)
      s.read.schema(ev.schema).parquet(comp)
        .withColumn("__f", input_file_name())
        .agg(
          countDistinct(col("__f")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // repartition(2) emits one file per NON-EMPTY partition, so an
    // events table with < 2 rows compacts to fewer files; least() keeps
    // the oracle about compaction, not input size.
    Some("""SELECT CAST(least(2, count(*)) AS BIGINT) AS n_files,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events"""))

  /** The compacting-LAKE maintenance protocol as a driver-visible
    * batch query — the batch twin of
    * [[graft.streaming.LakeSink.startCompactingIngest]] (whose crash
    * windows StreamingSpec kills directly): four "micro-batch"
    * segments land with one atomic manifest add each, maintenance
    * rewrites them into a single 2-file segment behind one manifest
    * swap, and the result is read back THROUGH the manifest. The
    * oracle pins the post-maintenance invariants — exactly one live
    * segment, exactly the compaction target file count, and a lossless
    * exact-cents sum — so a protocol regression (lost segment,
    * double-published rows, partial swap) fails the hash compare.
    * Scratch dir reset per invocation: the protocol replays fresh on
    * every bench pass. */
  private val sinkLakeMaintenance = QueryDef(
    "sink_lake_maintenance",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val m = LakeSink.readManifest(dir)
      val bsegs = m.segs.filter(_.startsWith("seg_b"))
      s.read.schema(ev.schema).parquet(bsegs.map(x => s"$dir/$x"): _*)
        .repartition(2).write.mode("overwrite").parquet(s"$dir/seg_c")
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m.version + 1, m.maxB,
          m.segs.filterNot(bsegs.contains) :+ "seg_c")),
        "maintenance commit lost a race")
      bsegs.foreach(x => org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir/$x")))
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .withColumn("__f", input_file_name())
        .agg(
          lit(mf.segs.size.toLong).as("n_segments"),
          countDistinct(col("__f")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // least(2, …) mirrors sink_compacted: repartition(2) emits one file
    // per NON-EMPTY partition, so a <2-row events table compacts smaller
    Some("""SELECT CAST(1 AS BIGINT) AS n_segments,
              CAST(least(2, count(*)) AS BIGINT) AS n_files,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events"""))

  /** Row-level lake DELETE (r9): the verb that completes the manifest
    * protocol (ingest / compact / time-travel / vacuum / DELETE).
    * Builds the same 4-segment lake as [[sinkLakeMaintenance]], then
    * [[graft.streaming.LakeSink.deleteWhere]] removes one event_type
    * copy-on-write: untouched segments survive by reference (the
    * write-amplification bound — a delete touching one partition of a
    * 100 TB lake rewrites one partition), touched ones are rewritten
    * without the matching rows, and ONE manifest CAS publishes the new
    * version; the pre-delete version stays time-travel-readable until
    * vacuum (LakeDeleteSpec kill-tests the crash window and the GC).
    * The oracle derives every output — surviving-segment count
    * included — from the events table alone, so a lost segment, a
    * half-applied delete, or a row resurrected from a replaced segment
    * fails the hash. */
  private val sinkLakeDelete = QueryDef(
    "sink_lake_delete",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_del", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val (_, _, _, nDel) =
        LakeSink.deleteWhere(s, dir, col("event_type") === "click")
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .agg(
          lit(mf.segs.size.toLong).as("n_segments"),
          lit(nDel).as("n_deleted"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // n_segments: a segment survives the delete iff it holds at least
    // one non-click row (fully-matching segments are dropped, not
    // rewritten) — expressible from the table alone via the ingest's
    // own bucketing rule.
    Some("""SELECT
              CAST(count(DISTINCT CASE WHEN event_type <> 'click'
                THEN event_id % 4 END) AS BIGINT) AS n_segments,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS n_deleted,
              CAST(count(CASE WHEN event_type <> 'click' THEN 1 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN event_type <> 'click'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
                AS sum_cents
            FROM events"""))

  /** MERGE-ON-READ lake DELETE via DELETION VECTORS (r12): the same
    * delete as [[sinkLakeDelete]] — same oracle-checked final state —
    * but executed with `dvMaxFraction = 1.0`, so NO segment is
    * rewritten: fully-click buckets drop by metadata, partial buckets
    * survive with an O(deleted rows) positional DV file referenced
    * from the manifest, and the table read reconciles at scan
    * (broadcast anti-join on file-name + row-index). The query
    * REQUIREs zero rewrites (the protocol claim) and folds the
    * DV'd-segment count into the output; the oracle derives both from
    * the events table alone, so a resurrected row, a mis-scoped DV,
    * or a silent fallback to copy-on-write all fail the hash. At
    * 100 TB this is the difference between a GDPR point delete
    * costing O(deleted rows) and costing a full segment rewrite —
    * DvProbe measured the gap (IMPLEMENTATION.md, "Deleted probes";
    * LakeDvSpec pins the protocol:
    * supersession, OPTIMIZE apply, vacuum GC, CDC, conflicts). */
  private val sinkLakeDeleteDv = QueryDef(
    "sink_lake_delete_dv",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_dv", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val (_, rw, _, nDel) = LakeSink.deleteWhere(s, dir,
        col("event_type") === "click", dvMaxFraction = 1.0)
      require(rw == 0,
        s"merge-on-read delete rewrote $rw segments (must write DVs)")
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .agg(
          lit(mf.segs.size.toLong).as("n_segments"),
          lit(mf.dv.size.toLong).as("n_dv_segments"),
          lit(nDel).as("n_deleted"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // n_segments: a segment survives iff it holds ≥1 non-click row —
    // IDENTICAL to the copy-on-write oracle (that is the point: the
    // result is indistinguishable). n_dv_segments: buckets holding
    // BOTH click and non-click rows (dropped buckets carry no DV).
    Some("""SELECT
              CAST(count(DISTINCT CASE WHEN event_type <> 'click'
                THEN event_id % 4 END) AS BIGINT) AS n_segments,
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT event_id % 4 AS b FROM events GROUP BY 1
                 HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
                    AND count(CASE WHEN event_type <> 'click' THEN 1 END) > 0))
                AS n_dv_segments,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS n_deleted,
              CAST(count(CASE WHEN event_type <> 'click' THEN 1 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN event_type <> 'click'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
                AS sum_cents
            FROM events"""))

  /** Row-level lake UPDATE (r9): [[sinkLakeDelete]]'s companion —
    * same copy-on-write manifest protocol via
    * [[graft.streaming.LakeSink.updateWhere]] (segments without
    * matching rows survive by reference; predicate and right-hand
    * sides evaluate against the OLD row in one projection —
    * LakeDeleteSpec pins that SQL-UPDATE semantics). The query
    * reprices one event_type (+1.00) and reads the whole table back
    * through the new manifest; the oracle recomputes the repriced
    * rollup from the events table alone, so a lost update, a
    * double-applied one, or a row mutated outside the predicate all
    * fail the hash. */
  private val sinkLakeUpdate = QueryDef(
    "sink_lake_update",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_upd", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      LakeSink.updateWhere(s, dir, col("event_type") === "error",
        Map("vc" -> (col("vc") + 100L)))
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)
                + CASE WHEN event_type = 'error' THEN 100 ELSE 0 END)
                AS BIGINT) AS sum_cents
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** MERGE-ON-READ lake UPDATE via DELETION VECTORS (r14):
    * [[sinkLakeDeleteDv]]'s update twin — the same repricing as
    * [[sinkLakeUpdate]], same oracle-derivable final state, but
    * executed with `dvMaxFraction = 1.0`, so NO segment is rewritten:
    * each touched bucket keeps its files, the matched positions land
    * in an O(updated rows) positional DV, and the POST-IMAGE rows
    * append as one new segment per touched bucket. The query REQUIREs
    * zero rewrites (the protocol claim) and folds the segment and
    * DV'd-segment counts into the output; the oracle derives both
    * from the events table alone (touched buckets hold BOTH error and
    * non-error rows — a fully-error bucket would take the strictly-
    * partial guard's rewrite and fail the require), so a lost update,
    * a resurrected pre-image, a double-applied assignment, or a
    * silent fallback to copy-on-write all fail the hash. At 100 TB
    * this is the GDPR-rectification shape: a point update costs
    * O(updated rows), not a segment rewrite — DvProbe measured the
    * write-amplification gap (IMPLEMENTATION.md, "Deleted probes");
    * LakeDvSpec pins the protocol
    * (supersession, chained updates hitting the post-image, OPTIMIZE
    * apply, vacuum GC, CDC parity, conflicts). */
  private val sinkLakeUpdateDv = QueryDef(
    "sink_lake_update_dv",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_upd_dv", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      cloneCanonicalLake(s, d, dir)
      val (_, rw, nUpd) = LakeSink.updateWhere(s, dir,
        col("event_type") === "error", Map("vc" -> (col("vc") + 100L)),
        dvMaxFraction = 1.0)
      require(rw == 0,
        s"merge-on-read update rewrote $rw segments (must write DVs)")
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .agg(
          lit(mf.segs.size.toLong).as("n_segments"),
          lit(mf.dv.size.toLong).as("n_dv_segments"),
          lit(nUpd).as("n_updated"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // n_dv_segments: buckets holding BOTH error and non-error rows
    // (the strictly-partial rule — and rw == 0 is REQUIREd, so a
    // fully-error bucket would fail loud, never skew the count).
    // n_segments: the 4 source buckets all survive by reference, plus
    // one appended post-image segment per DV'd bucket.
    Some("""SELECT
              (SELECT CAST(count(DISTINCT event_id % 4) AS BIGINT)
                 FROM events)
                + (SELECT CAST(count(*) AS BIGINT) FROM (
                     SELECT event_id % 4 AS b FROM events GROUP BY 1
                     HAVING count(CASE WHEN event_type = 'error'
                         THEN 1 END) > 0
                        AND count(CASE WHEN event_type <> 'error'
                         THEN 1 END) > 0))
                AS n_segments,
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT event_id % 4 AS b FROM events GROUP BY 1
                 HAVING count(CASE WHEN event_type = 'error'
                     THEN 1 END) > 0
                    AND count(CASE WHEN event_type <> 'error'
                     THEN 1 END) > 0))
                AS n_dv_segments,
              CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS n_updated,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)
                + CASE WHEN event_type = 'error' THEN 100 ELSE 0 END)
                AS BIGINT) AS sum_cents
            FROM events"""))

  /** INCREMENTAL DV PURGE via SQL `REORG TABLE … APPLY (PURGE)`
    * (r14): after the same merge-on-read delete as
    * [[sinkLakeDeleteDv]], the REORG statement rewrites ONLY the
    * DV'd buckets (clean segments survive by reference — maintenance
    * cost O(DV debt), not O(table), unlike full OPTIMIZE which
    * rewrites everything) and retires every dv entry. The query
    * REQUIREs the receipt's purge count and a DV-free manifest; the
    * oracle derives the purge count (buckets holding both click and
    * non-click rows), the post-purge segment count (buckets with ≥1
    * survivor — purge replaces 1:1, fully-click buckets died at the
    * delete), and the surviving rollup from the events table alone —
    * so a purge that loses rows, resurrects hidden ones, or touches
    * a clean segment fails the hash. LakeDvSpec pins the protocol
    * (by-reference survival, layout-only CDC, partition-fact
    * correction to live counts, idempotence). */
  private val sinkLakeReorg = QueryDef(
    "sink_lake_reorg",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_lake_reorg", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_reorg_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      try {
        val (_, rw, _, nDel) = LakeSink.deleteWhere(s, dir,
          col("event_type") === "click", dvMaxFraction = 1.0)
        require(rw == 0,
          s"merge-on-read delete rewrote $rw segments (must write DVs)")
        val nDv = LakeSink.readManifest(dir).dv.size
        val rcpt = s.sql(s"REORG TABLE $tbl APPLY (PURGE)").collect().head
        require(rcpt.getInt(1) == nDv,
          s"purge receipt ${rcpt.getInt(1)} != $nDv DV'd segments")
        val mf = LakeSink.readManifest(dir)
        require(mf.dv.isEmpty, "purge left deletion vectors behind")
        LakeSink.readTable(s, dir)
          .agg(
            lit(mf.segs.size.toLong).as("n_segments"),
            lit(nDv.toLong).as("n_purged"),
            lit(nDel).as("n_deleted"),
            count(lit(1)).as("n_rows"),
            sum("vc").as("sum_cents"))
      } finally LakeCatalog.unregister(tbl)
    },
    Some("""SELECT
              CAST(count(DISTINCT CASE WHEN event_type <> 'click'
                THEN event_id % 4 END) AS BIGINT) AS n_segments,
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT event_id % 4 AS b FROM events GROUP BY 1
                 HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
                    AND count(CASE WHEN event_type <> 'click' THEN 1 END) > 0))
                AS n_purged,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS n_deleted,
              CAST(count(CASE WHEN event_type <> 'click' THEN 1 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN event_type <> 'click'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
                AS sum_cents
            FROM events"""))

  /** STREAMING MERGE-ON-READ UPSERT INGESTION (r15, the r14 verdict's
    * stretch #8): the CDC-apply loop a 100 TB deployment runs —
    * [[graft.streaming.StreamOps.startUpsertSink]] tails an updates
    * feed (itself a lake table read through `graft-lake-changefeed`,
    * so planning a batch reads zero target data) and MERGEs each
    * micro-batch into the canonical events lake with
    * `dvMaxFraction = 1.0`: matched rows retire into O(matched)
    * deletion vectors, post-images and fresh-key inserts append, and
    * NO segment is ever rewritten — steady-state ingestion writes
    * O(changed rows) per trigger no matter how many segments a batch
    * grazes. The feed carries two tranches splitting the clicks
    * WITHIN each `event_id % 4` storage bucket (by `(event_id/4) % 2`
    * — an `% 2` parity split would align with the bucketing and give
    * every bucket to a single batch, the r15 advisor's catch), so the
    * second batch lands DVs on segments the first already DV'd —
    * genuine DV SUPERSESSION, REQUIREd below (some segment's DV row
    * count must grow between the batches). The query REQUIREs zero
    * rewrites and a non-empty DV census; the oracle recomputes the
    * receipt totals, and the final rollup from the events table alone
    * — a silent copy-on-write fallback, a double-applied batch, a
    * lost insert, or a resurrected pre-image all fail loud or fail
    * the hash. Kill/replay exactly-once is UpsertStreamSpec's job;
    * write-amplification economics are StreamBench's (stream_upsert
    * A/B). */
  private val sinkLakeUpsertMor = QueryDef(
    "sink_lake_upsert_mor",
    (s, d) => {
      import graft.streaming.{LakeSink, StreamOps}
      val dir = tmpPath("graft_lake_ups_mor", d)
      val updDir = tmpPath("graft_lake_ups_feed", d)
      val ck = tmpPath("graft_lake_ups_ck", d)
      Seq(dir, updDir, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      cloneCanonicalLake(s, d, dir)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      // scanned 4× (two tranches × update+insert sides) — cache once
      val clicks = ev.filter(col("event_type") === "click").persist()
      // Synthetic insert keys offset past the table's max id — a
      // fixed offset collides with re-keyed replicas at larger scales
      // (the r10 lesson, re-caught at 10x on this query's first run)
      val insOffset = ev.agg(max("event_id")).head().getLong(0) + 1L
      // tranche p: reprice the clicks of quad-parity p (+10.00) and
      // insert one synthetic row per repriced click under a fresh
      // key. (event_id/4) % 2 cuts ACROSS the % 4 storage buckets, so
      // both tranches touch every bucket and batch 2 supersedes
      // batch 1's DVs
      def tranche(p: Int): DataFrame = {
        val c = clicks.filter(expr("(event_id DIV 4) % 2") === p)
        c.select(col("event_id"), col("event_type"),
            (col("vc") + 1000L).as("vc"))
          .unionByName(c.select(
            (col("event_id") + insOffset).as("event_id"),
            lit("synthetic").as("event_type"), col("vc")))
      }
      LakeSink.createTable(updDir, ev.schema)
      val rw = new java.util.concurrent.atomic.AtomicLong
      val nUpd = new java.util.concurrent.atomic.AtomicLong
      val nIns = new java.util.concurrent.atomic.AtomicLong
      val q = StreamOps.startUpsertSink(
        s.readStream.format("graft-lake-changefeed")
          .option("path", updDir).load(),
        dir, Seq("event_id"), ck,
        appId = "graft-ups-mor",
        dvMaxFraction = 1.0,
        onBatch = (_, r, u, i) => {
          rw.addAndGet(r.toLong); nUpd.addAndGet(u); nIns.addAndGet(i); ()
        })
      var dvAfterB0 = Map.empty[String, Long]
      try {
        (0 to 1).foreach { p =>
          LakeSink.appendSegment(s, updDir, tranche(p), s"seg_u$p")
          q.processAllAvailable()
          if (p == 0)
            dvAfterB0 = LakeSink.readManifest(dir).dv
              .map { case (seg, r) => seg -> r.rows }
        }
      } finally { q.stop(); clicks.unpersist() }
      require(rw.get == 0,
        s"streaming MoR upsert rewrote ${rw.get} segments (must write DVs)")
      val mf = LakeSink.readManifest(dir)
      require(mf.dv.nonEmpty,
        "streaming MoR upsert recorded no deletion vectors")
      // the claim this query exists to price (r16): batch 2 must have
      // SUPERSEDED at least one of batch 1's DVs (same segment, more
      // retired positions), not just DV'd fresh segments
      require(mf.dv.exists { case (seg, r) =>
        dvAfterB0.get(seg).exists(_ < r.rows) },
        "no DV was superseded: the two tranches never touched the " +
          "same storage bucket — the feed split aligned with the " +
          "bucketing")
      LakeSink.readTable(s, dir)
        .agg(
          lit(mf.dv.size.toLong).as("n_dv_segments"),
          lit(mf.dv.values.map(_.rows).sum).as("dv_rows"),
          lit(nUpd.get).as("n_updated"),
          lit(nIns.get).as("n_inserted"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    // n_dv_segments: buckets holding BOTH click and non-click rows
    // (the strictly-partial rule; rw == 0 is REQUIREd, so an
    // all-click bucket would fail loud, never skew the census).
    // dv_rows: every click retired exactly once across the two
    // batches (disjoint quad-parities; batch 2's keys live in
    // original buckets, not batch 1's post-image segment).
    Some("""SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM (
                 SELECT event_id % 4 AS b FROM events GROUP BY 1
                 HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
                    AND count(CASE WHEN event_type <> 'click' THEN 1 END) > 0))
                AS n_dv_segments,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS dv_rows,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS n_updated,
              CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS n_inserted,
              CAST(count(*) + count(CASE WHEN event_type = 'click'
                THEN 1 END) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                + 1000 * count(CASE WHEN event_type = 'click' THEN 1 END)
                + sum(CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS sum_cents
            FROM events"""))

  /** Lake MERGE INTO (r10): the third copy-on-write DML verb, via
    * [[graft.streaming.LakeSink.mergeInto]] — standard `WHEN MATCHED
    * THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *` upsert
    * through the same manifest protocol (untouched segments survive by
    * reference, matched segments rewritten with source rows winning,
    * unmatched source rows appended as ONE new segment, one manifest
    * CAS publishes; LakeMergeSpec kill-tests the crash window, the
    * no-op case, and the duplicate-source-key guard). The delta is
    * derived deterministically from the events table — every 10th
    * event repriced (+10.00) plus a synthetic new event per repriced
    * one — so the oracle recomputes the ENTIRE merged state, the
    * update/insert counts, and the post-merge segment count from the
    * events table alone: a lost update, a duplicated insert, a row
    * resurrected from a replaced segment, or a phantom segment all
    * fail the hash. */
  private val sinkLakeMerge = QueryDef(
    "sink_lake_merge",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_mrg", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val changed = ev.filter(col("event_id") % 10 === 0)
      // Synthetic insert keys offset past the table's max id (a fixed
      // offset collides with re-keyed replicas at larger scales —
      // caught by the 10x suite probe, which shifts ids per replica).
      val insOffset = ev.agg(max("event_id")).head().getLong(0) + 1L
      val delta = changed
        .select(col("event_id"), col("event_type"),
          (col("vc") + 1000L).as("vc"))
        .unionByName(changed.select(
          (col("event_id") + insOffset).as("event_id"),
          lit("synthetic").as("event_type"), col("vc")))
      val (_, _, nUpd, nIns) =
        LakeSink.mergeInto(s, dir, delta, Seq("event_id"))
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .withColumn("n_updated", lit(nUpd))
        .withColumn("n_inserted", lit(nIns))
        .withColumn("n_segments", lit(mf.segs.size.toLong))
        .orderBy("event_type")
    },
    // n_segments: every non-empty ingest bucket survives (rewritten or
    // by reference — MERGE never drops a segment) plus one insert
    // segment iff the delta has insert rows.
    Some("""WITH ev AS (
              SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS vc
              FROM events),
            merged AS (
              SELECT event_id, event_type,
                vc + CASE WHEN event_id % 10 = 0 THEN 1000 ELSE 0 END AS vc
              FROM ev
              UNION ALL
              SELECT event_id + (SELECT max(event_id) + 1 FROM ev),
                'synthetic', vc
              FROM ev WHERE event_id % 10 = 0)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(vc) AS BIGINT) AS sum_cents,
              (SELECT CAST(count(*) AS BIGINT) FROM ev
                 WHERE event_id % 10 = 0) AS n_updated,
              (SELECT CAST(count(*) AS BIGINT) FROM ev
                 WHERE event_id % 10 = 0) AS n_inserted,
              (SELECT CAST(count(DISTINCT event_id % 4)
                 + CASE WHEN count(CASE WHEN event_id % 10 = 0 THEN 1 END) > 0
                   THEN 1 ELSE 0 END AS BIGINT) FROM ev) AS n_segments
            FROM merged GROUP BY event_type ORDER BY event_type"""))

  /** LAYOUT-PRESERVING lake compaction (r10): ties the manifest
    * protocol to the `sink_clustered` skipping lever —
    * [[graft.streaming.LakeSink.compact]] with `clusterBy` rewrites
    * the lake's segments into ONE segment range-partitioned + sorted
    * on user_id, so the rewrite compaction pays anyway also buys
    * row-group min/max locality on the query key (LakeCompactionSpec
    * MEASURES the skip on the compacted output and the no-op/time
    * -travel contract). The oracle pins answer identity (exact-cents
    * per-user rollup through the compacted manifest read) plus the
    * post-compaction segment count. */
  private val sinkLakeCompactClustered = QueryDef(
    "sink_lake_compact_clustered",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_cc", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ingestLakeBuckets(dir, ev) // event_id buckets: users scattered
      LakeSink.compact(s, dir, targetFiles = 4, clusterBy = Seq("user_id"))
      val mf = LakeSink.readManifest(dir)
      LakeSink.readTable(s, dir)
        .filter(col("user_id") <= 50)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .withColumn("n_segments", lit(mf.segs.size.toLong))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              CAST(1 AS BIGINT) AS n_segments
            FROM events WHERE user_id <= 50
            GROUP BY user_id ORDER BY user_id"""))

  /** Lake SCHEMA EVOLUTION (r10): add-column as a METADATA-ONLY commit
    * ([[graft.streaming.LakeSink.evolveAddColumn]]) — no segment
    * rewritten, one manifest CAS records the widened schema and bumps
    * the schema generation. The lake starts narrow (event_id, vc),
    * evolves to add event_type, then appends a post-evolution segment
    * carrying the wider schema; the read back through the manifest
    * reconciles: pre-evolution rows surface NULL event_type (labelled
    * '(legacy)' for the rollup), post-evolution rows their real value,
    * with the schema applied AT SCAN — no parquet footer merging, the
    * property that matters when the lake has a million files
    * (LakeEvolutionSpec pins the metadata-only commit, time travel
    * across the boundary, and DML materialization of the new column).
    * The oracle derives the whole mixed-schema rollup from the events
    * table via the ingest's own bucketing rule. */
  private val sinkLakeEvolution = QueryDef(
    "sink_lake_evolution",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_evo", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("vc"))
        .write.mode("overwrite").parquet(s"$dir/seg_b0")
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(1L, 0L, Seq("seg_b0"))),
        "evolution ingest commit lost a race")
      val sv = LakeSink.evolveAddColumn(s, dir, "event_type",
        org.apache.spark.sql.types.StringType)
      LakeSink.appendSegment(s, dir,
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("vc"), col("event_type")),
        "seg_b1")
      LakeSink.readTable(s, dir)
        .groupBy(coalesce(col("event_type"), lit("(legacy)"))
          .as("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .withColumn("schema_version", lit(sv))
        .orderBy("event_type")
    },
    Some("""SELECT
              CASE WHEN event_id % 2 = 0 THEN '(legacy)' ELSE event_type END
                AS event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              CAST(1 AS BIGINT) AS schema_version
            FROM events
            GROUP BY 1 ORDER BY event_type"""))

  /** COLUMN MAPPING (r12): RENAME + DROP + re-ADD of the same name,
    * driven end-to-end through SQL DDL text, with DML in between —
    * the schema-evolution surface beyond additive. The rename is
    * REQUIREd metadata-only (identical segment list); the re-added
    * `event_type` must be all-NULL (a fresh physical id — the dropped
    * bytes still sit in the old segment files, and resurrecting them
    * through a reused name is the classic column-mapping bug this
    * query exists to catch); the pre-rename version is read back by
    * time travel to prove name-travel. Every output cell derives from
    * the events table alone, so the DuckDB oracle is exact. */
  /** PARTITION SPEC + metadata-only RETENTION (r12): the table
    * declares `day` as its partition column at CREATE TABLE;
    * [[graft.streaming.LakeSink.appendPartitioned]] splits the batch
    * into one segment per day (ONE write job for all of them) and
    * records each segment's exact (column, value, rows) fact in the
    * manifest; then the retention statement every 100 TB deployment
    * runs — `DELETE WHERE day < cutoff` — is planned from the manifest
    * ALONE: covered partitions drop by metadata, uncovered ones are
    * skipped, ZERO data jobs either way (LakePartitionSpec counts the
    * jobs; this query REQUIREs the protocol receipt: zero rewritten
    * segments, the exact dropped count). The oracle replays day
    * assignment and the cutoff rule from the events table, so a
    * wrongly-dropped or wrongly-kept partition fails the hash. */
  private val sinkLakePartitioned = QueryDef(
    "sink_lake_partitioned",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_part", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      LakeSink.createTable(dir, ev.schema, partitionBy = Some("day"))
      val (_, nParts) = LakeSink.appendPartitioned(s, dir, ev)
      val cutoff = ev.agg(min("day")).head().getLong(0) + 10L
      val (_, rewritten, dropped, nDel) =
        LakeSink.deleteWhere(s, dir, col("day") < cutoff)
      require(rewritten == 0,
        "partition-covered retention delete must not rewrite any " +
          s"segment (rewrote $rewritten)")
      LakeSink.readTable(s, dir).agg(
        lit(nParts.toLong).as("n_parts"),
        lit(dropped.toLong).as("n_dropped"),
        lit(nDel).as("n_deleted"),
        count(lit(1)).as("n_rows"),
        sum("vc").as("sum_cents"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(round(value * 100) AS BIGINT) AS vc
                       FROM events),
                 c AS (SELECT min(day) + 10 AS cutoff FROM e)
            SELECT
              CAST((SELECT count(DISTINCT day) FROM e) AS BIGINT)
                AS n_parts,
              CAST(count(DISTINCT CASE WHEN day < cutoff THEN day END)
                AS BIGINT) AS n_dropped,
              CAST(count(CASE WHEN day < cutoff THEN 1 END) AS BIGINT)
                AS n_deleted,
              CAST(count(CASE WHEN day >= cutoff THEN 1 END) AS BIGINT)
                AS n_rows,
              CAST(sum(CASE WHEN day >= cutoff THEN vc END) AS BIGINT)
                AS sum_cents
            FROM e CROSS JOIN c"""))

  /** COMPOSITE PARTITION SPEC + metadata-only retention on EITHER
    * dimension (r15): the table declares `PARTITIONED BY (day,
    * event_type)` at CREATE TABLE; [[graft.streaming.LakeSink
    * .appendPartitioned]] splits the batch into one segment per
    * (day, event_type) TUPLE in ONE write job, recording the full
    * fact tuple per segment — so BOTH of the statements a real event
    * lake runs are planned from the manifest alone: the composite
    * retention `DELETE WHERE day < cutoff AND event_type = 'click'`
    * AND the single-dimension `DELETE WHERE event_type = 'view'`
    * (the r14 verdict's gap: with one-column facts the second
    * dimension degraded to a stats-pruned scan). Both REQUIRE zero
    * rewritten segments — a fact tuple that failed to cover either
    * predicate shape fails loud, and the oracle replays day/type
    * assignment plus both delete rules from the events table, so a
    * wrongly-dropped or wrongly-kept tuple fails the hash. */
  private val sinkLakePartitionedMulti = QueryDef(
    "sink_lake_partitioned_multi",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_partmulti", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      LakeSink.createTable(dir, ev.schema,
        partitionBy = Some("day,event_type"))
      val (_, nParts) = LakeSink.appendPartitioned(s, dir, ev)
      val cutoff = ev.agg(min("day")).head().getLong(0) + 10L
      val (_, rw1, dropped1, nDel1) = LakeSink.deleteWhere(s, dir,
        col("day") < cutoff && col("event_type") === "click")
      require(rw1 == 0,
        "composite-covered retention delete must not rewrite any " +
          s"segment (rewrote $rw1)")
      val (_, rw2, dropped2, nDel2) = LakeSink.deleteWhere(s, dir,
        col("event_type") === "view")
      require(rw2 == 0,
        "single-dimension delete on a composite layout must not " +
          s"rewrite any segment (rewrote $rw2)")
      LakeSink.readTable(s, dir).agg(
        lit(nParts.toLong).as("n_parts"),
        lit(dropped1.toLong).as("n_dropped"),
        lit(nDel1).as("n_deleted"),
        lit(dropped2.toLong).as("n_dropped2"),
        lit(nDel2).as("n_deleted2"),
        count(lit(1)).as("n_rows"),
        sum("vc").as("sum_cents"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         event_type,
                         CAST(round(value * 100) AS BIGINT) AS vc
                       FROM events),
                 c AS (SELECT min(day) + 10 AS cutoff FROM e)
            SELECT
              CAST((SELECT count(DISTINCT day::VARCHAR || '|' ||
                event_type) FROM e) AS BIGINT) AS n_parts,
              CAST(count(DISTINCT CASE WHEN day < cutoff AND
                event_type = 'click' THEN day::VARCHAR || '|' ||
                event_type END) AS BIGINT) AS n_dropped,
              CAST(count(CASE WHEN day < cutoff AND
                event_type = 'click' THEN 1 END) AS BIGINT) AS n_deleted,
              CAST(count(DISTINCT CASE WHEN event_type = 'view'
                THEN day::VARCHAR || '|' || event_type END) AS BIGINT)
                AS n_dropped2,
              CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                AS BIGINT) AS n_deleted2,
              CAST(count(CASE WHEN NOT (day < cutoff AND
                event_type = 'click') AND event_type <> 'view' THEN 1
                END) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN NOT (day < cutoff AND
                event_type = 'click') AND event_type <> 'view' THEN vc
                END) AS BIGINT) AS sum_cents
            FROM e CROSS JOIN c"""))

  private val sinkLakeColmap = QueryDef(
    "sink_lake_colmap",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_lake_cm", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_lake_cm_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val vIngest = LakeSink.readManifest(dir).version
      val segsBefore = LakeSink.readManifest(dir).segs
      s.sql(s"ALTER TABLE $tbl RENAME COLUMN vc TO cents").collect()
      require(LakeSink.readManifest(dir).segs == segsBefore,
        "RENAME COLUMN must be metadata-only (zero segments touched)")
      // DML under the NEW name: predicates, rewrites, and the manifest
      // protocol all run with the mapping active
      s.sql(s"DELETE FROM $tbl WHERE event_type = 'click'").collect()
      s.sql(s"ALTER TABLE $tbl DROP COLUMN event_type").collect()
      s.sql(s"ALTER TABLE $tbl ADD COLUMN event_type STRING").collect()
      val pre = LakeSink.readTableAsOf(s, dir, vIngest)
        .agg(count(lit(1)).as("pre_rows"), sum("vc").as("pre_sum"))
        .head()
      LakeSink.readTable(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum("cents").as("sum_cents"),
        count(col("event_type")).as("n_resurrected"),
        lit(pre.getLong(0)).as("pre_rows"),
        lit(pre.getLong(1)).as("pre_sum_cents"))
    },
    Some("""SELECT
              CAST(count(CASE WHEN event_type <> 'click' THEN 1 END)
                AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN event_type <> 'click'
                THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
                AS sum_cents,
              CAST(0 AS BIGINT) AS n_resurrected,
              CAST(count(*) AS BIGINT) AS pre_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS pre_sum_cents
            FROM events"""))

  /** SQL LIFECYCLE DDL (r12): the whole lake story driven from SQL
    * TEXT alone — `CREATE TABLE … USING graft_lake PARTITIONED BY …
    * LOCATION … TBLPROPERTIES('cdc'='true','expect.…'='…')` creates +
    * registers + wires the change feed and a data contract in one
    * statement; `INSERT INTO` ingests through the protocol (the
    * expectation gates it — a violating insert is REQUIREd to fail);
    * retention `DELETE` runs under the cdc property so
    * `table_changes()` reads the deletes back; `ALTER TABLE SET
    * TBLPROPERTIES` evolves the contract mid-life; `DROP TABLE`
    * unregisters the name WITHOUT touching data — proven by
    * re-attaching via CREATE-over-LOCATION and reading the same rows.
    * Every output cell derives from the events table, so the DuckDB
    * oracle is exact. */
  private val sqlLakeDdl = QueryDef(
    "sql_lake_ddl",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_ddl", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val tbl = "graft_sql_ddl_" + runTag(d)
      LakeCatalog.unregister(tbl) // idempotent re-runs in one JVM
      s.sql(s"""CREATE TABLE $tbl (event_id BIGINT, day BIGINT, vc BIGINT)
                USING graft_lake PARTITIONED BY (day) LOCATION '$dir'
                TBLPROPERTIES ('cdc'='true',
                               'expect.vc_sane'='vc > -10000000')""")
        .collect()
      val ev = Tables.events(s, d).select(
        col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.createOrReplaceTempView(s"${tbl}_src")
      s.sql(s"INSERT INTO $tbl SELECT * FROM ${tbl}_src").collect()
      // the expectation from TBLPROPERTIES must gate the protocol
      val rejected =
        try {
          s.sql(s"INSERT INTO $tbl VALUES (CAST(-1 AS BIGINT), " +
            "CAST(0 AS BIGINT), CAST(-10000001 AS BIGINT))").collect()
          0L
        } catch { case _: Exception => 1L }
      require(rejected == 1L,
        "TBLPROPERTIES expectation failed to gate a violating INSERT")
      val vPre = LakeSink.readManifest(dir).version
      val cutoff = ev.agg(min("day")).head().getLong(0) + 10L
      s.sql(s"DELETE FROM $tbl WHERE day < $cutoff").collect()
      val vPost = LakeSink.readManifest(dir).version
      // the cdc property wired at CREATE must make the delete
      // feed-readable as SQL text
      val nFeedDel = s.sql(
        s"SELECT count(*) FROM table_changes('$tbl', $vPre, $vPost) " +
          "WHERE _change_type = 'delete'").head().getLong(0)
      // DROP unregisters, data survives, CREATE-over-LOCATION re-attaches
      s.sql(s"DROP TABLE $tbl").collect()
      require(LakeCatalog.lookup(Seq(tbl)).isEmpty, "DROP failed to unregister")
      s.sql(s"""CREATE TABLE $tbl (event_id BIGINT, day BIGINT, vc BIGINT)
                USING graft_lake LOCATION '$dir'""").collect()
      val out = s.sql(s"SELECT count(*) AS n_rows, sum(vc) AS sum_cents " +
        s"FROM $tbl").head()
      LakeCatalog.unregister(tbl)
      Tables.events(s, d).limit(1).select(
        lit(out.getLong(0)).as("n_rows"),
        lit(out.getLong(1)).as("sum_cents"),
        lit(nFeedDel).as("n_feed_deletes"),
        lit(rejected).as("n_rejected"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(round(value * 100) AS BIGINT) AS vc
                       FROM events),
                 c AS (SELECT min(day) + 10 AS cutoff FROM e)
            SELECT
              CAST(count(CASE WHEN day >= cutoff THEN 1 END) AS BIGINT)
                AS n_rows,
              CAST(sum(CASE WHEN day >= cutoff THEN vc END) AS BIGINT)
                AS sum_cents,
              CAST(count(CASE WHEN day < cutoff THEN 1 END) AS BIGINT)
                AS n_feed_deletes,
              CAST(1 AS BIGINT) AS n_rejected
            FROM e CROSS JOIN c"""))

  /** SQL DML TEXT surface (r10): the same three protocol verbs, but
    * submitted as `spark.sql` TEXT — `DELETE FROM` / `UPDATE` /
    * `MERGE INTO` against a [[graft.streaming.LakeCatalog]]-registered
    * lake table, dispatched by [[graft.plans.LakeDmlRule]] (injected
    * via `spark.sql.extensions=graft.GraftExtensions`, the deployment
    * profile every session here runs) to deleteWhere / updateWhere /
    * mergeInto. This mirrors how SqlSurface proves the QUERY surface:
    * the statements are genuinely parsed by Spark's SQL parser and
    * claimed at analysis time, so the oracle is checking the full
    * text → parse → protocol → manifest path. Receipts (the DML
    * commands' returned counts) are folded into the output so a
    * wrong-count dispatch fails the hash even when the final state is
    * right. */
  private val sqlLakeDml = QueryDef(
    "sql_lake_dml",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_dml", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val changed = ev.filter(
        col("event_type") =!= "click" && col("event_id") % 10 === 0)
      // see sink_lake_merge: offset past max id, collision-free at
      // any scale
      val insOffset = ev.agg(max("event_id")).head().getLong(0) + 1L
      changed
        .select(col("event_id"), col("event_type"),
          (col("vc") + 1000L).as("vc"))
        .unionByName(changed.select(
          (col("event_id") + insOffset).as("event_id"),
          lit("synthetic").as("event_type"), col("vc")))
        .createOrReplaceTempView(s"${tbl}_delta")
      val del = s.sql(
        s"DELETE FROM $tbl WHERE event_type = 'click'").collect().head
      val upd = s.sql(
        s"UPDATE $tbl SET vc = vc + 100 WHERE event_type = 'error'")
        .collect().head
      val mrg = s.sql(
        s"""MERGE INTO $tbl t USING ${tbl}_delta s
            ON t.event_id = s.event_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""").collect().head
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .withColumn("n_deleted", lit(del.getLong(3)))
        .withColumn("n_updated", lit(upd.getLong(2)))
        .withColumn("n_merge_upd", lit(mrg.getLong(2)))
        .withColumn("n_merge_ins", lit(mrg.getLong(3)))
        .orderBy("event_type")
    },
    // Final state: clicks deleted; errors +1.00; every surviving row
    // with event_id % 10 = 0 then REPLACED by its delta row (original
    // cents + 10.00 — merge overrides the update for those rows); one
    // synthetic insert per replaced row.
    Some("""WITH ev AS (
              SELECT event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS vc
              FROM events),
            kept AS (SELECT * FROM ev WHERE event_type <> 'click'),
            final AS (
              SELECT event_id, event_type,
                CASE WHEN event_id % 10 = 0 THEN vc + 1000
                     WHEN event_type = 'error' THEN vc + 100
                     ELSE vc END AS vc
              FROM kept
              UNION ALL
              SELECT event_id + (SELECT max(event_id) + 1 FROM ev),
                'synthetic', vc
              FROM kept WHERE event_id % 10 = 0)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(vc) AS BIGINT) AS sum_cents,
              (SELECT CAST(count(*) AS BIGINT) FROM ev
                 WHERE event_type = 'click') AS n_deleted,
              (SELECT CAST(count(*) AS BIGINT) FROM ev
                 WHERE event_type = 'error') AS n_updated,
              (SELECT CAST(count(*) AS BIGINT) FROM kept
                 WHERE event_id % 10 = 0) AS n_merge_upd,
              (SELECT CAST(count(*) AS BIGINT) FROM kept
                 WHERE event_id % 10 = 0) AS n_merge_ins
            FROM final GROUP BY event_type ORDER BY event_type"""))

  /** Sort-CLUSTERED table layout (r9): `repartitionByRange(user_id)` +
    * `sortWithinPartitions(user_id, event_id)` before the write, so
    * every output file covers a disjoint user range and every parquet
    * row-group carries tight user_id min/max stats. A selective
    * predicate on the clustering key then skips whole row groups at
    * scan time — the data-layout lever that, at 100 TB, turns a
    * point/range query on a non-partition column from a full scan into
    * a handful of row groups (partition pruning's finer-grained
    * sibling; Delta/Iceberg call the same idea Z-ordering, one
    * dimension of it). ClusteredLayoutSpec MEASURES the skip: the
    * clustered scan's output-row metric under `user_id = k` is a small
    * fraction of the scattered layout's on identical data. The oracle
    * pins read-back correctness (exact-cents per-user rollup through
    * the clustered files); the timed query includes the write by
    * design, like the rest of the sink family. */
  private val sinkClustered = QueryDef(
    "sink_clustered",
    (s, d) => {
      val dir = tmpPath("graft_clustered", d)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.repartitionByRange(8, col("user_id"))
        .sortWithinPartitions("user_id", "event_id")
        .write.mode("overwrite").parquet(dir)
      s.read.schema(ev.schema).parquet(dir)
        .filter(col("user_id") <= 50)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events WHERE user_id <= 50
            GROUP BY user_id ORDER BY user_id"""))

  /** Z-ORDERED layout (r9): the two-dimensional escalation of
    * [[sinkClustered]]. Events are written in Morton-key order over
    * (user_id, minutes-since-epoch-start), both equal-width normalized
    * to 8 bits ([[graft.functions.ZOrder]]), so every output file is a
    * z-tile with tight footer min/max on BOTH columns — a selective
    * predicate on user OR time skips most row groups, where
    * single-column clustering serves only its one key and full scans
    * serve neither. ZorderLayoutSpec measures all three layouts on
    * both predicates from scan metrics. The declared query reads back
    * through the z-ordered files with a TIME filter — the dimension
    * plain user-clustering cannot skip — and the oracle pins the
    * exact-cents rollup. Timed write included, like the sink family. */
  private val sinkZorder = QueryDef(
    "sink_zorder",
    (s, d) => {
      val dir = tmpPath("graft_zorder", d)
      // Event time stored as epoch-µs BIGINT, not TIMESTAMP: Spark's
      // default parquet timestamp encoding (INT96) carries no usable
      // row-group stats, so a timestamp column would defeat the very
      // skipping this layout exists for — and epoch longs are this
      // repo's determinism rule anyway.
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("tsu"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val mins = expr("(tsu - 1704067200000000) div 60000000")
      // Real data bounds, not nominal domains (ZOrder scaladoc: a
      // dimension scaled against a too-wide bound collapses into a
      // corner and stops skipping). Two scalars off an
      // aggregate — at 100 TB these come from table stats (ANALYZE)
      // instead of a scan.
      val b = ev.agg(
        max(col("user_id")).cast("long"), max(mins).cast("long")).head
      val z = graft.functions.ZOrder.zvalue(
        col("user_id"), mins, xMax = b.getLong(0), yMax = b.getLong(1))
      val laid = ev.withColumn("zv", z)
        .repartitionByRange(32, col("zv"))
        .sortWithinPartitions("zv", "event_id")
        .drop("zv")
      laid.write.mode("overwrite").parquet(dir)
      s.read.schema(laid.schema).parquet(dir)
        .filter(col("tsu") < 1704672000000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events WHERE epoch_us(ts) < 1704672000000000
            GROUP BY event_type ORDER BY event_type"""))

  /** BLOOM-indexed layout (r9): the third data-skipping lever, for the
    * case the other two can't serve — POINT lookups on a
    * high-cardinality column the table is NOT sorted or partitioned
    * by. Footer min/max stats are useless there (every file spans the
    * whole id range), but a per-row-group parquet bloom filter answers
    * "id definitely absent?" in a few KB, so an equality/IN predicate
    * skips every row group but the true hits (plus the configured
    * false-positive fraction). Written with plain
    * `parquet.bloom.filter.enabled#col` options — engine-portable
    * parquet metadata, readable by any parquet consumer — with NDV
    * sized from the data. BloomLayoutSpec measures the skip from scan
    * metrics (point lookup decodes ≤1/4 of the table vs >90% without
    * the filter, identical answers). The lookup-table pattern at
    * 100 TB: event/doc id fetch without paying a sort or a shuffle. */
  private val sinkBloom = QueryDef(
    "sink_bloom",
    (s, d) => {
      val dir = tmpPath("graft_bloom", d)
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val ndv = ev.count() // exact here; table stats at warehouse scale
      ev.repartition(16, col("user_id"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .option("parquet.bloom.filter.expected.ndv#event_id", ndv.toString)
        .parquet(dir)
      s.read.schema(ev.schema).parquet(dir)
        .filter(col("event_id").isin(7L, 242L, 555L, 808L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM events WHERE event_id IN (7, 242, 555, 808)
            GROUP BY event_type ORDER BY event_type"""))

  /** ORC source/sink round trip (r9): the other first-class columnar
    * warehouse format Spark ships natively (`format("orc")`, no extra
    * module). Same exact-cents lossless-round-trip contract as
    * [[csvRoundtrip]]: write lineitem's money/date columns to ORC with
    * zlib compression, read back, aggregate — the oracle computes the
    * identical rollup from the ORIGINAL parquet, so any value lost or
    * mangled in the ORC encode/decode fails the hash. Epoch BIGINTs
    * for dates per the determinism rules (and because ORC↔DuckDB
    * timestamp semantics would otherwise differ). Write-IO class. */
  private val orcRoundtrip = QueryDef(
    "orc_roundtrip",
    (s, d) => {
      val out = tmpPath("graft_orc_rt", d)
      val li = Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("epc"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
          unix_timestamp(col("l_shipdate")).as("ship_epoch"))
      li.write.mode("overwrite").option("compression", "zlib").orc(out)
      s.read.schema(li.schema).orc(out)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("epc").as("sum_cents"),
          sum("qty").as("sum_qty"),
          min("ship_epoch").as("first_epoch"),
          max("ship_epoch").as("last_epoch"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
              CAST(min(floor(epoch(l_shipdate))) AS BIGINT) AS first_epoch,
              CAST(max(floor(epoch(l_shipdate))) AS BIGINT) AS last_epoch
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** SQL READ surface for the lake (r10): a registered lake table is a
    * first-class SQL relation — `SELECT` resolves through the
    * committed manifest, `INSERT INTO` appends one segment through the
    * protocol (here the insert's SOURCE is the lake table itself — the
    * rule re-applies inside the insert query, proving composability),
    * and `VERSION AS OF` time-travels to the pre-insert version, all
    * as `spark.sql` TEXT ([[graft.plans.LakeDmlRule]]; SqlDmlSpec pins
    * each dispatch). The one result row set joins the current and
    * as-of rollups; the oracle reconstructs both from the events
    * table alone — a phantom insert, a stale as-of read, or an
    * uncommitted-segment read all fail the hash. */
  private val sqlLakeRead = QueryDef(
    "sql_lake_read",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_read", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_read_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val preV = LakeSink.readManifest(dir).version
      s.sql(
        s"""INSERT INTO $tbl
            SELECT event_id + 20000000, 'inserted', vc
            FROM $tbl WHERE event_type = 'purchase'""").collect()
      s.sql(
        s"""SELECT cur.event_type, cur.n, cur.sum_cents, old.n AS n_asof
            FROM (SELECT event_type, count(*) AS n,
                    sum(vc) AS sum_cents
                  FROM $tbl GROUP BY event_type) cur
            LEFT JOIN (SELECT event_type, count(*) AS n
                       FROM $tbl VERSION AS OF $preV
                       GROUP BY event_type) old
              ON cur.event_type = old.event_type
            ORDER BY cur.event_type""")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 cur AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(vc) AS BIGINT) AS sum_cents
                         FROM (SELECT event_id, event_type, vc FROM ev
                               UNION ALL
                               SELECT event_id + 20000000, 'inserted', vc
                               FROM ev WHERE event_type = 'purchase')
                         GROUP BY event_type),
                 old AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                         FROM ev GROUP BY event_type)
            SELECT cur.event_type, cur.n, cur.sum_cents, old.n AS n_asof
            FROM cur LEFT JOIN old ON cur.event_type = old.event_type
            ORDER BY cur.event_type"""))

  /** TIMESTAMP AS OF (r12): [[sqlLakeRead]]'s twin with the as-of read
    * addressed by COMMIT TIME instead of version number — the
    * resolution walks the manifest log's commit timestamps (the
    * CAS-published file's mtime, immutable by construction — Delta
    * resolves TIMESTAMP AS OF from its commit files the same way) to
    * the latest version at or before the instant. The query asks for
    * the PRE-INSERT commit's exact instant, which must resolve to the
    * pre-insert version — so the oracle is the version-addressed
    * twin's, verbatim: both addressings must read identical history.
    * Boundary semantics (between-commits rounding, vacuum-horizon
    * refusal, timestamp-bounded table_changes) are LakeTimeTravelSpec's
    * job; this query pins the end-to-end SQL path under the driver's
    * gate with wall-clock-independent determinism (the probe instant
    * is derived from the commit itself, never from "now"). */
  private val sqlLakeReadTs = QueryDef(
    "sql_lake_read_ts",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_read_ts", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_read_ts_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val preV = LakeSink.readManifest(dir).version
      s.sql(
        s"""INSERT INTO $tbl
            SELECT event_id + 20000000, 'inserted', vc
            FROM $tbl WHERE event_type = 'purchase'""").collect()
      val us = LakeSink.commitTimestampMicros(dir, preV)
      val asOf = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(us / 1000000L,
          (us % 1000000L) * 1000L),
        java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      s.sql(
        s"""SELECT cur.event_type, cur.n, cur.sum_cents, old.n AS n_asof
            FROM (SELECT event_type, count(*) AS n,
                    sum(vc) AS sum_cents
                  FROM $tbl GROUP BY event_type) cur
            LEFT JOIN (SELECT event_type, count(*) AS n
                       FROM $tbl TIMESTAMP AS OF '$asOf'
                       GROUP BY event_type) old
              ON cur.event_type = old.event_type
            ORDER BY cur.event_type""")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 cur AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(vc) AS BIGINT) AS sum_cents
                         FROM (SELECT event_id, event_type, vc FROM ev
                               UNION ALL
                               SELECT event_id + 20000000, 'inserted', vc
                               FROM ev WHERE event_type = 'purchase')
                         GROUP BY event_type),
                 old AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                         FROM ev GROUP BY event_type)
            SELECT cur.event_type, cur.n, cur.sum_cents, old.n AS n_asof
            FROM cur LEFT JOIN old ON cur.event_type = old.event_type
            ORDER BY cur.event_type"""))

  /** Manifest SEGMENT STATS + file skipping (r10): the lake records
    * per-segment min/max for the event-time key at commit, and a
    * time-range read consults ONE manifest to skip every segment whose
    * bounds are disjoint — Delta data skipping / Iceberg manifest
    * filtering, the planning move that turns "open 3M segments" into
    * "open the 3 that overlap" on a 100 TB time-ordered lake. The
    * ingest is time-bucketed (4 range-disjoint segments over the ts
    * span quartiles — the layout a time-ordered micro-batch stream
    * produces naturally), the probe range is the second quartile's
    * actual [min,max], so exactly ONE segment may overlap; the oracle
    * replays the quartile arithmetic on the events table and derives
    * the scanned-segment count as the distinct buckets holding
    * in-range rows — a segment skipped that held matching rows (wrong
    * answer) or scanned that could not (no skipping) both fail the
    * hash. LakeStatsSpec covers the pruned-DML and stats-propagation
    * paths. */
  private val sinkLakeStatsPrune = QueryDef(
    "sink_lake_stats_prune",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_stp", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), unix_micros(col("ts")).as("tse"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val b0 = ev.agg(min("tse"), max("tse")).head()
      val (t0, t1) = (b0.getLong(0), b0.getLong(1))
      val span = t1 - t0 + 1
      val withB = ev.withColumn("b", expr(s"((tse - $t0) * 4) div $span"))
      val nonEmpty = withB.groupBy("b").count()
        .collect().map(_.getLong(0)).toSet
      // Bucket 0 seeds the stats declaration (a column is "tracked"
      // once any live segment records stats for it); the remaining
      // buckets then ingest through the OBSERVED append verb, whose
      // single write action carries the tse bounds — the r19 cut of
      // the fixture's write-then-re-read-for-stats shape (2 actions
      // per bucket → 1, and it is the production ingest path). The
      // post-seed appends are independent single-action writes into
      // disjoint segments, so they overlap on driver threads (guide
      // §2.6); their CAS commits commute (append + append) and no
      // oracle consults the inter-append version order.
      val present = (0 to 3).filter(i => nonEmpty(i.toLong))
      present.headOption.foreach { i =>
        val seg = s"seg_b$i"
        val bucket = withB.filter(col("b") === i).drop("b")
        bucket.write.mode("overwrite").parquet(s"$dir/$seg")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, i.toLong, m.segs :+ seg,
            m.schemaV, m.schemaJson,
            m.stats + (seg -> LakeSink.segmentStats(
              s.read.parquet(s"$dir/$seg"), Seq("tse"))))),
          s"stats ingest commit $i lost a race")
      }
      graft.Concurrency.awaitAll(present.drop(1).map(i => () =>
        LakeSink.appendSegment(s, dir,
          withB.filter(col("b") === i).drop("b"), s"seg_b$i")))
      val pb = withB.filter(col("b") === 1).agg(min("tse"), max("tse")).head()
      require(!pb.isNullAt(0),
        "time-quartile bucket 1 is empty — probe range undefined")
      val (lo, hi) = (pb.getLong(0), pb.getLong(1))
      val (sel, scanned, total) = LakeSink.readTableWhere(s, dir, "tse", lo, hi)
      sel.agg(
        lit(total.toLong).as("n_segments"),
        lit(scanned.size.toLong).as("n_scanned"),
        count(lit(1)).as("n_rows"),
        sum("vc").as("sum_cents"))
    },
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS tse,
                         CAST(round(value * 100) AS BIGINT) AS vc
                       FROM events),
                 sp AS (SELECT min(tse) AS t0, max(tse) AS t1 FROM e),
                 b AS (SELECT e.*, ((tse - t0) * 4) // (t1 - t0 + 1) AS bkt
                       FROM e CROSS JOIN sp),
                 pr AS (SELECT min(tse) AS lo, max(tse) AS hi
                        FROM b WHERE bkt = 1)
            SELECT
              (SELECT CAST(count(DISTINCT bkt) AS BIGINT) FROM b)
                AS n_segments,
              CAST(count(DISTINCT bkt) AS BIGINT) AS n_scanned,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM b CROSS JOIN pr WHERE tse BETWEEN lo AND hi"""))

  /** STRING segment stats + file skipping (r11): the manifest records
    * per-segment STRING min/max (and null counts), so a
    * `WHERE event_type = 'error'` point read — the predicate shape the
    * r10 numeric-only stats could not touch — plans its scan set from
    * ONE manifest read. Ingest is type-partitioned into 3 alphabet-
    * range segments (click | error..purchase | signup..view — the
    * layout a type-bucketed writer produces); the probe value 'error'
    * falls inside exactly one segment's [min,max]. The oracle replays
    * the bucket rule and derives the scanned-segment count as the
    * buckets whose string range covers the probe — a segment skipped
    * that held matching rows, or scanned that provably could not,
    * both fail the hash. LakeStatsSpec covers the string-predicate
    * DML pruning and IS NULL null-count pruning paths. */
  private val sinkLakeStatsPruneStr = QueryDef(
    "sink_lake_stats_prune_str",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_stps", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val withB = ev.withColumn("b",
        when(col("event_type") < "d", 0)
          .when(col("event_type") < "s", 1).otherwise(2))
      // Bucket 0 seeds the event_type stats declaration; the rest
      // ingest through the observed append (see sink_lake_stats_prune
      // — one action per bucket instead of write + stats re-read),
      // overlapped on driver threads (guide §2.6; commuting appends,
      // no oracle consults the inter-append version order).
      locally {
        val seg = "seg_b0"
        val bucket = withB.filter(col("b") === 0).drop("b")
        bucket.write.mode("overwrite").parquet(s"$dir/$seg")
        val m = LakeSink.readManifest(dir)
        require(LakeSink.commitManifest(dir,
          LakeSink.Manifest(m.version + 1, 0L, m.segs :+ seg,
            m.schemaV, m.schemaJson,
            m.stats + (seg -> LakeSink.segmentStats(
              s.read.parquet(s"$dir/$seg"), Seq("event_type"))))),
          "string-stats ingest commit 0 lost a race")
      }
      graft.Concurrency.awaitAll((1 to 2).map(i => () =>
        LakeSink.appendSegment(s, dir,
          withB.filter(col("b") === i).drop("b"), s"seg_b$i")))
      val (sel, scanned, total) =
        LakeSink.readTableWhereEq(s, dir, "event_type", "error")
      sel.agg(
        lit(total.toLong).as("n_segments"),
        lit(scanned.size.toLong).as("n_scanned"),
        count(lit(1)).as("n_rows"),
        sum("vc").as("sum_cents"))
    },
    Some("""WITH e AS (SELECT event_id, event_type,
                         CAST(round(value * 100) AS BIGINT) AS vc
                       FROM events),
                 b AS (SELECT e.*, CASE WHEN event_type < 'd' THEN 0
                                        WHEN event_type < 's' THEN 1
                                        ELSE 2 END AS bkt FROM e),
                 bb AS (SELECT bkt, min(event_type) AS mn,
                          max(event_type) AS mx FROM b GROUP BY bkt)
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM bb) AS n_segments,
              (SELECT CAST(count(*) AS BIGINT) FROM bb
                 WHERE mn <= 'error' AND mx >= 'error') AS n_scanned,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM b WHERE event_type = 'error'"""))

  /** Lake CHANGE FEED (r10): incremental consumption by manifest diff
    * — the rows added between two committed versions are exactly the
    * segments the later manifest lists that the earlier one does not,
    * planned with zero data IO ([[graft.streaming.LakeSink
    * .changesBetween]]; the append-only-window contract and the
    * DML-in-window refusal are spec'd in LakeStatsSpec). This is how a
    * downstream consumer tails a 100 TB lake: read the delta segments,
    * never rescan history. The query ingests 4 hash buckets as 4
    * versions, then reads the feed from after-the-second-commit to
    * head; the oracle recomputes the same delta membership from the
    * events table's own bucket rule — a duplicated, lost, or
    * history-re-emitted row fails the hash. */
  private val sinkLakeChangefeed = QueryDef(
    "sink_lake_changefeed",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_cf", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val nonEmpty = ev.groupBy((col("event_id") % 4).as("b")).count()
        .collect().map(_.getLong(0)).toSet
      // Independent bucket writes overlap on driver threads (guide
      // §2.6, same shape as ingestLakeBuckets); the commits run in
      // bucket order afterwards so the version history — and the
      // consumer cursor captured after round 1 — is identical to the
      // sequential ingest the oracle's bucket rule mirrors.
      val present = (0 to 3).filter(i => nonEmpty(i.toLong))
      graft.Concurrency.awaitAll(present.map(i => () =>
        ev.filter(col("event_id") % 4 === i)
          .write.mode("overwrite").parquet(s"$dir/seg_b$i")))
      var fromV = 0L
      (0 to 3).foreach { i =>
        if (nonEmpty(i.toLong)) {
          val m = LakeSink.readManifest(dir)
          require(LakeSink.commitManifest(dir,
            LakeSink.Manifest(m.version + 1, i.toLong,
              m.segs :+ s"seg_b$i")), s"cf ingest commit $i lost a race")
        }
        // Cursor position a consumer checkpointed after the first two
        // ingest rounds (whether or not their buckets had data).
        if (i == 1) fromV = LakeSink.readManifest(dir).version
      }
      val toV = LakeSink.readManifest(dir).version
      LakeSink.changesBetween(s, dir, fromV, toV)
        .groupBy((col("event_id") % 4).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_cents"))
        .orderBy("bucket")
    },
    Some("""SELECT event_id % 4 AS bucket,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents
            FROM events WHERE event_id % 4 >= 2
            GROUP BY 1 ORDER BY bucket"""))

  /** CDC APPLY (r10): a change-data stream materialized into the lake
    * as latest-row-per-key, by applying time-ordered delta batches
    * through [[graft.streaming.LakeSink.mergeInto]] — the standard
    * "CDC upsert via MERGE in foreachBatch" pattern every lake
    * pipeline runs (the incremental MemoryStream version is spec'd in
    * LakeStatsSpec; this is its oracle-checkable batch twin, same
    * protocol code). Events are split into 3 time tranches; each
    * tranche is deduped to its latest row per user (ts, then event_id
    * — SQL MERGE requires key-unique sources) and merged in order, so
    * the final table must hold exactly the globally-latest row per
    * user. The oracle computes that directly with one window over the
    * events table — a lost update, a stale row resurrected from a
    * replaced segment, or an out-of-order apply all fail the hash. */
  private val sinkLakeCdc = QueryDef(
    "sink_lake_cdc",
    (s, d) => {
      import graft.streaming.LakeSink
      import org.apache.spark.sql.expressions.Window
      val dir = tmpPath("graft_lake_cdc", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), unix_micros(col("ts")).as("tse"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val b0 = ev.agg(min("tse"), max("tse")).head()
      val (t0, t1) = (b0.getLong(0), b0.getLong(1))
      val span = t1 - t0 + 1
      val w = Window.partitionBy("user_id")
        .orderBy(col("tse").desc, col("event_id").desc)
      def tranche(i: Int): DataFrame = ev
        .filter(expr(s"((tse - $t0) * 3) div $span") === i)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
      tranche(0).write.mode("overwrite").parquet(s"$dir/seg_b0")
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(1L, 0L, Seq("seg_b0"))),
        "cdc bootstrap commit lost a race")
      LakeSink.mergeInto(s, dir, tranche(1), Seq("user_id"))
      LakeSink.mergeInto(s, dir, tranche(2), Seq("user_id"))
      LakeSink.readTable(s, dir).orderBy("user_id")
    },
    Some("""SELECT user_id, event_id, tse, vc FROM (
              SELECT user_id, event_id, epoch_us(ts) AS tse,
                CAST(round(value * 100) AS BIGINT) AS vc,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
              FROM events)
            WHERE rk = 1 ORDER BY user_id"""))

  /** Lake EXPECTATIONS (r10 late): table-level data contracts — a
    * boolean predicate registered IN THE MANIFEST (metadata-only
    * commit, the DLT-expectations / Delta-CHECK-constraint design:
    * the contract lives with the table, every writer sees it). The
    * query exercises the DROP/quarantine flow: after bootstrap, two
    * expectations are registered (`vc <= 9000` — the events table
    * naturally violates it — and `vc > 0`, never violated), then each
    * remaining ingest bucket is split and only the passing side
    * appended, quarantined rows counted. The oracle replays the
    * bucket rule and both predicates from the events table alone — an
    * unenforced contract (violating row slipping in), an over-eager
    * one (passing row dropped), or a miscounted quarantine all fail
    * the hash. The fail-loud CHECK path and DML-survival of the
    * contract are spec'd in LakeExpectationsSpec. */
  private val sinkLakeExpectations = QueryDef(
    "sink_lake_expectations",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_exp", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.filter(col("event_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$dir/seg_b0")
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(1L, 0L, Seq("seg_b0"))),
        "expectations bootstrap lost a race")
      LakeSink.addExpectation(s, dir, "vc_cap", "vc <= 9000")
      LakeSink.addExpectation(s, dir, "vc_positive", "vc > 0")
      // The three bucket ingests are independent (disjoint segments;
      // appends commute under the manifest CAS, and no oracle consults
      // the inter-append version order) — overlap them on driver
      // threads (guide §2.6) so one bucket's quarantine count / gate /
      // append actions back-fill another's driver gaps.
      val nQuarA = new java.util.concurrent.atomic.AtomicLong
      graft.Concurrency.awaitAll((1 to 3).map(i => () => {
        val b = ev.filter(col("event_id") % 4 === i)
        val (pass, quar) = LakeSink.splitByExpectations(s, dir, b)
        nQuarA.addAndGet(quar.count())
        if (!pass.isEmpty)
          LakeSink.appendSegment(s, dir, pass, s"seg_b$i")
      }))
      val nQuar = nQuarA.get
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("vc").as("sum_cents"))
        .withColumn("n_quarantined", lit(nQuar))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 final AS (
                   SELECT * FROM ev WHERE event_id % 4 = 0
                   UNION ALL
                   SELECT * FROM ev WHERE event_id % 4 <> 0
                     AND vc <= 9000 AND vc > 0)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(vc) AS BIGINT) AS sum_cents,
              (SELECT CAST(count(*) AS BIGINT) FROM ev
                 WHERE event_id % 4 <> 0
                   AND NOT (vc <= 9000 AND vc > 0)) AS n_quarantined
            FROM final GROUP BY event_type ORDER BY event_type"""))

  /** Lake DESCRIBE HISTORY (r10 late): the retained manifest log as a
    * relation — [[graft.streaming.LakeSink.history]] diffs adjacent
    * retained manifests (metadata only, zero data IO) into one row
    * per version with segment counts and per-commit added/removed
    * deltas. The query ingests the 4 hash buckets (one version each)
    * and compacts, so the ENTIRE history is derivable from the events
    * table: versions 1..k each add one segment, the compaction
    * version holds one segment and removed k — a missing version, a
    * phantom commit, or a wrong diff fails the hash. */
  private val sinkLakeHistory = QueryDef(
    "sink_lake_history",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_hist", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ingestLakeBuckets(dir, ev)
      LakeSink.compact(s, dir, targetFiles = 2)
      LakeSink.history(s, dir).orderBy("version")
    },
    Some("""WITH k AS (SELECT CAST(count(DISTINCT event_id % 4) AS BIGINT)
                         AS k FROM events)
            SELECT * FROM (
              SELECT v AS version, v AS n_segments,
                CAST(0 AS BIGINT) AS schema_v,
                CAST(0 AS BIGINT) AS n_expectations,
                CAST(1 AS BIGINT) AS segs_added,
                CAST(0 AS BIGINT) AS segs_removed,
                CAST(0 AS BIGINT) AS n_dv_segments,
                CAST(0 AS BIGINT) AS dv_rows,
                FALSE AS is_current
              FROM (SELECT unnest(generate_series(1, (SELECT k FROM k)))
                      AS v)
              UNION ALL
              SELECT k + 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(1 AS BIGINT), k,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE
              FROM k)
            ORDER BY version"""))

  /** SQL maintenance surface (r11): [[sinkLakeHistory]]'s twin driven
    * entirely through SQL TEXT — the injected delegating parser claims
    * `OPTIMIZE t` and `DESCRIBE HISTORY t` over registered lakes
    * (graft.plans.LakeMaintenanceSql; VACUUM is spec-only here since
    * deleting history would change what DESCRIBE HISTORY returns).
    * Same oracle as the Scala-API variant: the audit log must be
    * identical whichever surface drove the maintenance. */
  private val sqlLakeHistory = QueryDef(
    "sql_lake_history",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_hist", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ingestLakeBuckets(dir, ev)
      val tbl = "graft_sql_hist_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      s.sql(s"OPTIMIZE $tbl").collect()
      s.sql(s"DESCRIBE HISTORY $tbl").orderBy("version")
    },
    Some("""WITH k AS (SELECT CAST(count(DISTINCT event_id % 4) AS BIGINT)
                         AS k FROM events)
            SELECT * FROM (
              SELECT v AS version, v AS n_segments,
                CAST(0 AS BIGINT) AS schema_v,
                CAST(0 AS BIGINT) AS n_expectations,
                CAST(1 AS BIGINT) AS segs_added,
                CAST(0 AS BIGINT) AS segs_removed,
                CAST(0 AS BIGINT) AS n_dv_segments,
                CAST(0 AS BIGINT) AS dv_rows,
                FALSE AS is_current
              FROM (SELECT unnest(generate_series(1, (SELECT k FROM k)))
                      AS v)
              UNION ALL
              SELECT k + 1, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(1 AS BIGINT), k,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE
              FROM k)
            ORDER BY version"""))

  /** CHANGE DATA FEED (r11): Delta-CDF-analog row-level change capture
    * through copy-on-write DML — [[graft.streaming.LakeSink
    * .changesCdcBetween]]. The DML verbs run with `cdc = true`, so each
    * commit records its pre/post images as change segments in the SAME
    * manifest CAS as the rewrite; the feed walk is pure manifest
    * metadata and reads only the changed rows. The query deletes one
    * event_type and reprices another, then aggregates the whole feed
    * window by change type; the oracle recomputes every (type, count,
    * cents) line from the events table alone — a missed delete, a
    * double-captured image, or a post-image with the wrong arithmetic
    * all fail the hash. LakeCdcSpec covers the mixed-history walk,
    * compaction transparency (dataChange=false), the cdc-less refusal,
    * vacuum retention, and the CDC-mode streaming source. */
  private val sinkLakeCdf = QueryDef(
    "sink_lake_cdf",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_cdf", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val v0 = LakeSink.readManifest(dir).version
      LakeSink.deleteWhere(s, dir, col("event_type") === "click",
        cdc = true)
      LakeSink.updateWhere(s, dir, col("event_type") === "error",
        Map("vc" -> (col("vc") + 100L)), cdc = true)
      val tip = LakeSink.readManifest(dir).version
      LakeSink.changesCdcBetween(s, dir, v0, tip)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum("vc").as("sum_cents"))
        .orderBy("change_type")
    },
    Some("""SELECT * FROM (
              SELECT 'delete' AS change_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
              FROM events WHERE event_type = 'click' HAVING count(*) > 0
              UNION ALL
              SELECT 'update_preimage', CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              FROM events WHERE event_type = 'error' HAVING count(*) > 0
              UNION ALL
              SELECT 'update_postimage', CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(value * 100) AS BIGINT) + 100)
                  AS BIGINT)
              FROM events WHERE event_type = 'error' HAVING count(*) > 0)
            ORDER BY change_type"""))

  /** SQL-surface twin of [[sinkLakeCdf]] (r11): the SAME change-data
    * semantics driven entirely through SQL TEXT — the table registers
    * with the CDC property on (the `enableChangeDataFeed` analog), so
    * plain `DELETE FROM` / `UPDATE` record change rows, and the feed
    * is read back through the `table_changes('t', from, to)`
    * table-valued function (injected via GraftExtensions — a real TVF
    * registration, since the analyzer resolves TVF names eagerly).
    * Same DuckDB oracle as the Scala-API variant: both surfaces must
    * produce the identical feed. */
  private val sqlLakeCdf = QueryDef(
    "sql_lake_cdf",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_cdf", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_cdf_" + runTag(d)
      LakeCatalog.register(tbl, dir, cdc = true)
      val v0 = LakeSink.readManifest(dir).version
      s.sql(s"DELETE FROM $tbl WHERE event_type = 'click'").collect()
      s.sql(s"UPDATE $tbl SET vc = vc + 100 WHERE event_type = 'error'")
        .collect()
      val tip = LakeSink.readManifest(dir).version
      s.sql(
        s"""SELECT _change_type AS change_type,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM table_changes('$tbl', $v0, $tip)
            GROUP BY 1 ORDER BY 1""")
    },
    Some("""SELECT * FROM (
              SELECT 'delete' AS change_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
              FROM events WHERE event_type = 'click' HAVING count(*) > 0
              UNION ALL
              SELECT 'update_preimage', CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
              FROM events WHERE event_type = 'error' HAVING count(*) > 0
              UNION ALL
              SELECT 'update_postimage', CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(value * 100) AS BIGINT) + 100)
                  AS BIGINT)
              FROM events WHERE event_type = 'error' HAVING count(*) > 0)
            ORDER BY change_type"""))

  /** MEDALLION CHAIN as a declared, oracle-checked query (r11): the
    * whole bronze→silver→gold pipeline from
    * [[graft.streaming.Medallion]] — bronze built from the REAL
    * events table in three time-tranche appends, the silver hop
    * tailing bronze's change feed into watermarked 1h windows
    * (append mode: a window commits exactly once, when it provably
    * closed), the gold hop tailing silver's change feed into running
    * per-type totals via txn-guarded MERGE. A final sentinel event 2h
    * past the last real event closes every real window (its own
    * window never closes, so it reaches neither table). Output is
    * gold joined with silver's per-type window count; the DuckDB
    * oracle recomputes BOTH from the events table alone — a dropped
    * window, a double-folded batch, a late-dropped real event, or a
    * sentinel leak all fail the hash. Kill/restart exactly-once at
    * each hop is MedallionSpec's job; THIS query pins the end-to-end
    * arithmetic under the driver's gate. */
  private val sinkLakeMedallion = QueryDef(
    "sink_lake_medallion",
    (s, d) => {
      import graft.streaming.{LakeSink, Medallion}
      val bronze = tmpPath("graft_med_q_b", d)
      val silver = tmpPath("graft_med_q_s", d)
      val gold = tmpPath("graft_med_q_g", d)
      val ckS = tmpPath("graft_med_q_cks", d)
      val ckG = tmpPath("graft_med_q_ckg", d)
      Seq(bronze, silver, gold, ckS, ckG).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      // scanned 4× (bounds + three tranche filters) — cache once
      val ev = Tables.events(s, d).select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).persist()
      LakeSink.createTable(bronze, ev.schema)
      Medallion.initTables(silver, gold)
      val b0 = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val (t0, t1) = (b0.getLong(0), b0.getLong(1))
      val span = t1 - t0 + 1
      // state partitions near core count, not batch shuffle width —
      // each trigger pays a per-partition state-store commit floor,
      // and the r9 deploy-shape row measured that floor dominating at
      // 32 partitions (state partitioning bakes into the checkpoint,
      // which is fresh every run, so this is safe to set here)
      val shuffleKey = "spark.sql.shuffle.partitions"
      val prevShuffle = s.conf.get(shuffleKey)
      s.conf.set(shuffleKey, "8")
      var sq: org.apache.spark.sql.streaming.StreamingQuery = null
      var gq: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        // time-tranche appends: tranche i+1's earliest event is past
        // tranche i's latest, so nothing is ever watermark-late.
        // TRIGGER ECONOMY (r16 drained the three tranches in one
        // micro-batch; r19 extends it to the WHOLE ingest): all four
        // bronze commits — tranches AND the closing sentinel — land
        // BEFORE the hops subscribe, so silver's first batch is the
        // initial whole-table snapshot (one data trigger instead of a
        // nondeterministic drain race against the default continuous
        // trigger), the watermark jumps straight to sentinel−10min,
        // and ONE no-data batch closes every real window. Silver then
        // holds one segment and gold folds one delta: 3 deterministic
        // triggers end to end where the subscribe-first shape ran
        // 5-8. Multi-batch watermark progression, per-tranche folding,
        // and kill/replay are MedallionSpec's job; THIS query prices
        // the steady-state chain, and its oracle arithmetic is
        // batch-shape-invariant (silver emits each closed window
        // exactly once either way; gold folds whatever delta a batch
        // carries — subscribe-before-data itself stays covered by
        // LakeChangeFeedSource's createTable contract + MedallionSpec).
        // All four appends are independent commuting commits into
        // disjoint bronze segments, and nothing subscribes until they
        // are all in — overlap them on driver threads (guide §2.6).
        // The silver snapshot reads the final table, so the
        // inter-append commit order is unobservable.
        graft.Concurrency.awaitAll(
          (0 until 3).map(i => () => {
            LakeSink.appendSegment(s, bronze,
              ev.filter(expr(
                s"((unix_micros(ts) - $t0) * 3) div $span") === i),
              s"seg_e$i")
            ()
          }) :+ (() => {
            LakeSink.appendSegment(s, bronze, s.range(1).select(
              lit(-1L).as("event_id"),
              timestamp_micros(lit(t1 + 2L * 3600 * 1000000L)).as("ts"),
              lit(0L).as("user_id"), lit("sentinel").as("event_type"),
              lit(0.0).as("value")), "seg_sentinel")
            ()
          }))
        sq = Medallion.startSilver(s, bronze, silver, ckS)
        sq.processAllAvailable() // snapshot batch, then the no-data
                                 // batch closes every real window
        gq = Medallion.startGold(s, silver, gold, ckG)
        gq.processAllAvailable() // gold folds silver's feed once
      } finally {
        if (sq != null) sq.stop()
        if (gq != null) gq.stop()
        s.conf.set(shuffleKey, prevShuffle)
        ev.unpersist()
      }
      val windows = LakeSink.readTable(s, silver)
        .groupBy("event_type").agg(count(lit(1)).as("n_windows"))
      LakeSink.readTable(s, gold)
        .join(windows, Seq("event_type"))
        .select(col("event_type"), col("n"), col("cents"),
          col("n_windows"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents,
              CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                AS n_windows
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** RESTORE TABLE (r12): the undo verb — after a destructive SQL
    * DELETE, `RESTORE TABLE … TO VERSION AS OF` re-publishes the
    * pre-delete state as ONE metadata commit (no data file moves —
    * the property that makes recovering a 100 TB table from a bad
    * backfill a sub-second operation), while the undone version stays
    * time-travelable for audit. The query proves both directions in
    * one result: the restored aggregate must equal the never-deleted
    * oracle, and the `VERSION AS OF` column pins the undone delete's
    * state (NULL for the deleted type) — a restore that either failed
    * to bring rows back or silently destroyed history fails the hash.
    * Boundary/CDC/DV semantics are LakeRestoreSpec's job. */
  private val sqlLakeRestore = QueryDef(
    "sql_lake_restore",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_restore", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_restore_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val preV = LakeSink.readManifest(dir).version
      s.sql(s"DELETE FROM $tbl WHERE event_type = 'purchase'").collect()
      val delV = LakeSink.readManifest(dir).version
      s.sql(s"RESTORE TABLE $tbl TO VERSION AS OF $preV").collect()
      s.sql(
        s"""SELECT cur.event_type, cur.n, cur.sum_cents,
                   del.n AS n_during_delete
            FROM (SELECT event_type, count(*) AS n,
                    sum(vc) AS sum_cents
                  FROM $tbl GROUP BY event_type) cur
            LEFT JOIN (SELECT event_type, count(*) AS n
                       FROM $tbl VERSION AS OF $delV
                       GROUP BY event_type) del
              ON cur.event_type = del.event_type
            ORDER BY cur.event_type""")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 cur AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(vc) AS BIGINT) AS sum_cents
                         FROM ev GROUP BY event_type),
                 del AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n
                         FROM ev WHERE event_type <> 'purchase'
                         GROUP BY event_type)
            SELECT cur.event_type, cur.n, cur.sum_cents,
                   del.n AS n_during_delete
            FROM cur LEFT JOIN del ON cur.event_type = del.event_type
            ORDER BY cur.event_type"""))

  /** SHALLOW CLONE (r12): the zero-copy branch. The query drives the
    * whole story in SQL: destructive DELETE on the source, `CREATE
    * TABLE … SHALLOW CLONE … VERSION AS OF` the PRE-delete version
    * (hard links — zero data bytes move, the property that makes
    * branching a 100 TB table a sub-second O(files) metadata op),
    * then a DIFFERENT delete on the clone. The joined aggregate pins
    * full independence both ways: the source must lack exactly
    * 'purchase' (its delete, never the clone's), the clone must hold
    * 'purchase' at pre-delete values but lack exactly 'view'. A clone
    * that shared live state with the source — or deep-copied stale
    * data — fails the hash. Inode-sharing, vacuum-survival, and DV
    * semantics are LakeCloneSpec's job. */
  private val sqlLakeClone = QueryDef(
    "sql_lake_clone",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_clone_src", d)
      val cloneDir = tmpPath("graft_sql_clone_dst", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(cloneDir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val sTbl = "graft_sql_clone_src_" + runTag(d)
      val cTbl = "graft_sql_clone_c_" + runTag(d)
      LakeCatalog.register(sTbl, dir)
      val preV = LakeSink.readManifest(dir).version
      s.sql(s"DELETE FROM $sTbl WHERE event_type = 'purchase'").collect()
      s.sql(s"DROP TABLE IF EXISTS $cTbl").collect()
      s.sql(
        s"""CREATE TABLE $cTbl SHALLOW CLONE $sTbl
            VERSION AS OF $preV LOCATION '$cloneDir'""").collect()
      s.sql(s"DELETE FROM $cTbl WHERE event_type = 'view'").collect()
      s.sql(
        s"""SELECT COALESCE(sv.event_type, cv.event_type) AS event_type,
                   sv.n AS n_src, cv.n AS n_clone,
                   cv.sum_cents AS sum_cents_clone
            FROM (SELECT event_type, count(*) AS n
                  FROM $sTbl GROUP BY event_type) sv
            FULL JOIN (SELECT event_type, count(*) AS n,
                         sum(vc) AS sum_cents
                       FROM $cTbl GROUP BY event_type) cv
              ON sv.event_type = cv.event_type
            ORDER BY event_type""")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 sv AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n
                        FROM ev WHERE event_type <> 'purchase'
                        GROUP BY event_type),
                 cv AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(vc) AS BIGINT) AS sum_cents
                        FROM ev WHERE event_type <> 'view'
                        GROUP BY event_type)
            SELECT COALESCE(sv.event_type, cv.event_type) AS event_type,
                   sv.n AS n_src, cv.n AS n_clone,
                   cv.sum_cents AS sum_cents_clone
            FROM sv FULL JOIN cv ON sv.event_type = cv.event_type
            ORDER BY event_type"""))

  /** DESCRIBE DETAIL (r12): the metadata-only table summary — exact
    * live row count (parquet footer record counts minus
    * deletion-vector debt, all driver-side metadata reads, zero Spark
    * jobs), segment count, merge-on-read debt, version. The query
    * ingests, takes a 1-row DV point delete (so num_rows must
    * subtract DV debt, not just sum footers), and selects the
    * deterministic detail columns; the oracle derives the same facts
    * from the raw events table plus the protocol's arithmetic (4
    * bucket commits + 1 DML = version 5). A detail row that scanned
    * data instead of metadata would still hash right — PlanAuditSpec
    * and the zero-job claim are LakeImportSpec's side; what the hash
    * pins is the COUNT CONTRACT: count(*) answerable from the
    * manifest+footers alone, DV-aware. */
  private val sqlLakeDetail = QueryDef(
    "sql_lake_detail",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_detail", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_detail_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val minId = ev.agg(min("event_id")).head().getLong(0)
      LakeSink.deleteWhere(s, dir, col("event_id") === minId,
        dvMaxFraction = 0.5)
      // COPY INTO a 2-file drop of the error rows (r15): DETAIL must
      // surface the load-ledger size alongside the DV debt census
      val drop = tmpPath("graft_sql_detail_drop", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drop))
      ev.filter(col("event_type") === "error")
        .repartition(2).write.mode("overwrite").parquet(drop)
      LakeSink.copyInto(s, drop, dir)
      s.sql(s"DESCRIBE DETAIL $tbl")
        .select(col("version"), col("num_segments"), col("num_rows"),
          col("num_dv_segments"), col("dv_rows"), col("dv_debt_ppm"),
          col("num_copied_files"))
    },
    // after the DV point delete (v2) the COPY lands 2 error-row
    // files as 2 segments (v3); debt ppm divides by RAW footer rows
    // (original count + copied errors)
    Some("""SELECT CAST(3 AS BIGINT) AS version,
                   CAST(6 AS BIGINT) AS num_segments,
                   CAST(count(*) - 1
                     + count(CASE WHEN event_type = 'error' THEN 1 END)
                     AS BIGINT) AS num_rows,
                   CAST(1 AS BIGINT) AS num_dv_segments,
                   CAST(1 AS BIGINT) AS dv_rows,
                   CAST(1000000 // (count(*)
                     + count(CASE WHEN event_type = 'error' THEN 1 END))
                     AS BIGINT) AS dv_debt_ppm,
                   CAST(2 AS BIGINT) AS num_copied_files
            FROM events"""))

  /** Zero-copy IMPORT (r12): `CONVERT TO DELTA`'s move —
    * [[graft.streaming.LakeSink.importParquetDir]] adopts a plain
    * parquet directory the lake never wrote as a segment by HARD
    * LINKS (O(files) metadata, zero data bytes moved), computing
    * segment stats in the same pass so the adopted data prunes like
    * native ingest. The query materializes a foreign parquet table,
    * imports it, and aggregates the LAKE read joined with the
    * import's own footer-derived row count — a lossy or duplicating
    * adoption fails the hash against the oracle's direct aggregate
    * of the same data. Inode sharing, append-to-existing, schema
    * refusal, and source-immutability are LakeImportSpec's job. */
  private val sinkLakeImport = QueryDef(
    "sink_lake_import",
    (s, d) => {
      import graft.streaming.LakeSink
      val plain = tmpPath("graft_import_plain", d)
      val dir = tmpPath("graft_import_lake", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(plain))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.write.mode("overwrite").parquet(plain) // a FOREIGN table
      val (_, _, rows) =
        LakeSink.importParquetDir(s, plain, dir,
          statsCols = Seq("event_id"))
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"))
        .withColumn("n_imported", lit(rows))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   (SELECT CAST(count(*) AS BIGINT) FROM ev)
                     AS n_imported
            FROM ev GROUP BY event_type ORDER BY event_type"""))

  /** COPY INTO (r15): idempotent incremental landing-zone ingestion —
    * [[sinkLakeImport]]'s missing half (the import loads everything
    * every call; re-running it duplicates). Three statements against
    * the manifest's cumulative load-history ledger: the first drop (4
    * files) loads whole, the RE-RUN loads nothing and commits nothing
    * (version REQUIREd unchanged — the orchestrator-retry contract),
    * and a second drop (2 files of click rows) loads only itself.
    * At 100 TB this is THE hourly-pipeline verb: re-running `COPY
    * INTO` over a landing prefix after any failure pays O(new files),
    * never O(prefix), and each file's rows land exactly once. The
    * oracle derives the file counts (fixed repartition widths), the
    * doubled click rows, and the final rollup from events alone — a
    * double-ingested file, a skipped fresh file, or a phantom commit
    * all fail the hash or the REQUIREs. Ledger lifecycle (survives
    * DELETE/OPTIMIZE/clone/RESTORE, resets on RTAS, path-keyed
    * skip-on-rewrite) is LakeCopyIntoSpec's job. */
  private val sinkLakeCopyInto = QueryDef(
    "sink_lake_copy_into",
    (s, d) => {
      import graft.streaming.LakeSink
      val drop1 = tmpPath("graft_cp_q_drop1", d)
      val drop2 = tmpPath("graft_cp_q_drop2", d)
      val dir = tmpPath("graft_cp_q_lake", d)
      Seq(drop1, drop2, dir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      ev.repartition(4).write.mode("overwrite").parquet(drop1)
      ev.filter(col("event_type") === "click")
        .repartition(2).write.mode("overwrite").parquet(drop2)
      val (v1, load1, skip1, _) = LakeSink.copyInto(s, drop1, dir)
      require(skip1 == 0, s"fresh drop skipped $skip1 files")
      val (v2, load2, skip2, rows2) = LakeSink.copyInto(s, drop1, dir)
      require(load2 == 0 && rows2 == 0L,
        s"re-run double-ingested $load2 files ($rows2 rows)")
      require(v2 == v1, "skip-everything re-run committed a version")
      val (_, load3, skip3, _) = LakeSink.copyInto(s, drop2, dir)
      require(skip3 == 0, s"second drop skipped $skip3 files")
      LakeSink.readTable(s, dir)
        .agg(
          lit(load1.toLong).as("n_load1"),
          lit(skip2.toLong).as("n_skip_rerun"),
          lit(load3.toLong).as("n_load2"),
          count(lit(1)).as("n_rows"),
          sum("vc").as("sum_cents"))
    },
    Some("""SELECT CAST(4 AS BIGINT) AS n_load1,
              CAST(4 AS BIGINT) AS n_skip_rerun,
              CAST(2 AS BIGINT) AS n_load2,
              CAST(count(*) + count(CASE WHEN event_type = 'click'
                THEN 1 END) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT))
                + sum(CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS sum_cents
            FROM events"""))

  /** General MERGE via SQL (r12): the full clause set on one
    * statement — conditional matched UPDATE, matched DELETE fallback,
    * conditional explicit-column INSERT, and NOT MATCHED BY SOURCE
    * UPDATE — against a lake built from `events`. The oracle
    * reproduces SQL MERGE semantics clause by clause (first match
    * wins; unmatched-both-ways rows pass through): purchases with
    * even tripled cents update, the rest delete; re-keyed clicks with
    * odd cents insert as 'imported'; source-less 'view' rows take the
    * NMBS bump. A wrong clause-ordering, a postimage drift, or an
    * NMBS firing on a matched row all break the aggregate hash. */
  private val sqlLakeMergeMulti = QueryDef(
    "sql_lake_merge_multi",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_merge_multi", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_mm_" + runTag(d)
      val srcView = "graft_mm_src_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val insOffset = ev.agg(max("event_id")).head().getLong(0) + 1L
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), (col("vc") * 3L).as("new_vc"))
        .unionByName(ev.filter(col("event_type") === "click")
          .select((col("event_id") + insOffset).as("event_id"),
            col("vc").as("new_vc")))
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""MERGE INTO $tbl t USING $srcView s
            ON t.event_id = s.event_id
            WHEN MATCHED AND s.new_vc % 2 = 0 THEN
              UPDATE SET vc = s.new_vc
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.new_vc % 2 <> 0 THEN
              INSERT (event_id, event_type, vc)
              VALUES (s.event_id, 'imported', s.new_vc)
            WHEN NOT MATCHED BY SOURCE AND t.event_type = 'view' THEN
              UPDATE SET vc = t.vc + 7""").collect()
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 src AS (
                   SELECT event_id, vc * 3 AS new_vc FROM ev
                   WHERE event_type = 'purchase'
                   UNION ALL
                   SELECT event_id + (SELECT max(event_id) + 1 FROM ev),
                          vc AS new_vc
                   FROM ev WHERE event_type = 'click'),
                 final AS (
                   SELECT t.event_id, t.event_type, s.new_vc AS vc
                   FROM ev t JOIN src s ON t.event_id = s.event_id
                   WHERE s.new_vc % 2 = 0
                   UNION ALL
                   SELECT t.event_id, t.event_type,
                     t.vc + CASE WHEN t.event_type = 'view'
                       THEN 7 ELSE 0 END AS vc
                   FROM ev t
                   WHERE NOT EXISTS (SELECT 1 FROM src s
                                     WHERE s.event_id = t.event_id)
                   UNION ALL
                   SELECT s.event_id, 'imported' AS event_type,
                          s.new_vc AS vc
                   FROM src s
                   WHERE s.new_vc % 2 <> 0
                     AND NOT EXISTS (SELECT 1 FROM ev t
                                     WHERE t.event_id = s.event_id))
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM final GROUP BY event_type ORDER BY event_type"""))

  /** MERGE WITH SCHEMA EVOLUTION (r15): the Spark 4 statement form —
    * a CDC-style upsert whose source carries a column the target has
    * never seen (`tag`). The engine auto-adds it (nullable) IN THE
    * SAME manifest CAS as the merged rows: updated/inserted rows
    * carry their source tag, every pre-existing row reads NULL
    * through the applied-schema read (no file rewritten for the
    * widening). This is the upstream-column-add case every CDC
    * ingestion pipeline hits; without evolution the merge would
    * either drop the column silently or force a manual DDL +
    * re-merge window. The oracle replays the upsert and the NULL
    * backfill from the events table alone — a lost tag, a
    * mis-widened row, or a resurrected value fails the hash. */
  private val sqlLakeMergeEvolve = QueryDef(
    "sql_lake_merge_evolve",
    (s, d) => {
      import graft.streaming.LakeCatalog
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_sql_merge_ev", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_lake_ev_" + runTag(d)
      val srcView = "graft_ev_src_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      val insOffset = ev.agg(max("event_id")).head().getLong(0) + 1L
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type"),
          (col("vc") * 3L).as("vc"), lit("upd").as("tag"))
        .unionByName(ev.filter(col("event_type") === "click")
          .select((col("event_id") + insOffset).as("event_id"),
            lit("imported").as("event_type"), col("vc"),
            lit("new").as("tag")))
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING $srcView s
            ON t.event_id = s.event_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""").collect()
      LakeSink.readTable(s, dir)
        .groupBy(coalesce(col("tag"), lit("(none)")).as("tag"))
        .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"))
        .orderBy("tag")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 src AS (
                   SELECT event_id, vc * 3 AS vc, 'upd' AS tag FROM ev
                   WHERE event_type = 'purchase'
                   UNION ALL
                   SELECT event_id + (SELECT max(event_id) + 1 FROM ev),
                          vc, 'new' AS tag
                   FROM ev WHERE event_type = 'click'),
                 final AS (
                   SELECT s.vc, s.tag
                   FROM ev t JOIN src s ON t.event_id = s.event_id
                   UNION ALL
                   SELECT t.vc, NULL AS tag
                   FROM ev t
                   WHERE NOT EXISTS (SELECT 1 FROM src s
                                     WHERE s.event_id = t.event_id)
                   UNION ALL
                   SELECT s.vc, s.tag
                   FROM src s
                   WHERE NOT EXISTS (SELECT 1 FROM ev t
                                     WHERE t.event_id = s.event_id))
            SELECT coalesce(tag, '(none)') AS tag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM final GROUP BY 1 ORDER BY tag"""))

  /** INSERT OVERWRITE / replaceWhere via SQL (r12): the atomic
    * backfill verb on a PARTITIONED lake — `INSERT OVERWRITE t
    * PARTITION (event_type = 'purchase') SELECT …` reads the
    * partition's own rows, keeps the even-cents half doubled, and
    * replaces exactly that slice in ONE commit (the delete side is a
    * metadata drop of the covered partition — zero delete-side scans;
    * every other partition's segment survives by reference). The
    * oracle reproduces the slice-replace semantics; a replace that
    * leaked rows into other partitions, dropped the wrong slice, or
    * failed the static-column injection breaks the hash. */
  private val sqlLakeReplace = QueryDef(
    "sql_lake_replace",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_replace", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("vc",
          org.apache.spark.sql.types.LongType))),
        partitionBy = Some("event_type"))
      LakeSink.appendPartitioned(s, dir, ev)
      val tbl = "graft_sql_lake_rpl_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (event_type = 'purchase')
            SELECT event_id, vc * 2 FROM $tbl
            WHERE event_type = 'purchase' AND vc % 2 = 0""").collect()
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 final AS (
                   SELECT event_id, event_type, vc FROM ev
                   WHERE event_type <> 'purchase'
                   UNION ALL
                   SELECT event_id, event_type, vc * 2 AS vc FROM ev
                   WHERE event_type = 'purchase' AND vc % 2 = 0)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM final GROUP BY event_type ORDER BY event_type"""))

  /** CTAS via SQL (r12): `CREATE TABLE … USING graft_lake PARTITIONED
    * BY (event_type) LOCATION … AS SELECT …` — the lake takes its
    * schema from the query and is seeded with its result through the
    * partitioned staging path (one segment per type, facts + exact
    * stats), then a DYNAMIC `INSERT OVERWRITE PARTITION (event_type)`
    * backfills only the partitions present in its input (purchase,
    * doubled cents) — the other partitions must survive untouched.
    * The oracle reproduces create-then-backfill; a CTAS that dropped
    * rows, a dynamic overwrite that leaked outside its incoming
    * partitions, or broken static-column order breaks the hash. */
  private val sqlLakeCtas = QueryDef(
    "sql_lake_ctas",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_ctas", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val tbl = "graft_sql_lake_ctas_" + runTag(d)
      LakeCatalog.unregister(tbl) // bench re-runs the closure
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val view = "graft_ctas_ev_" + runTag(d)
      ev.createOrReplaceTempView(view)
      s.sql(
        s"""CREATE TABLE $tbl USING graft_lake
            PARTITIONED BY (event_type) LOCATION '$dir'
            AS SELECT event_id, event_type, vc FROM $view""").collect()
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (event_type)
            SELECT event_id, vc * 2, event_type FROM $view
            WHERE event_type = 'purchase'""").collect()
      LakeSink.readTable(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events),
                 final AS (
                   SELECT event_id, event_type, vc FROM ev
                   WHERE event_type <> 'purchase'
                   UNION ALL
                   SELECT event_id, event_type, vc * 2 AS vc FROM ev
                   WHERE event_type = 'purchase')
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents
            FROM final GROUP BY event_type ORDER BY event_type"""))

  /** BLOOM-FILTER SEGMENT SKIPPING (r12, Delta bloom index / Iceberg
    * puffin analog): the lake is ingested as 8 RESIDUE-CLASS segments
    * (`event_id % 8`), the layout where every segment's [min,max]
    * spans the whole id domain — range stats can NEVER prune a point
    * probe — THEN `bloom_cols` is declared and `ANALYZE TABLE …
    * COMPUTE STATISTICS` backfills the xxhash64 double-hash sidecars
    * (~10 bits/row) in place: the live-table adoption path, no
    * rewrite. The point
    * read (`event_id IN (4 real ids, 1 absent id)`) plans its scan
    * set from the sidecars; the output carries the row-exact result
    * plus a `bloom_pruned` flag the oracle pins TRUE — if the bloom
    * path stopped skipping (or skipped a segment that held a probed
    * id) the hash breaks. Exact scan-set counts are pinned in
    * LakeBloomSpec (they are fp-rate-dependent, not oracle-portable
    * across scale factors). At 100 TB this is the GDPR-delete /
    * point-lookup lever: open the one segment that holds the key plus
    * ~1% false positives, planned driver-side from sidecars ~1% the
    * data's size. */
  private val sinkLakeBloomPrune = QueryDef(
    "sink_lake_bloom_prune",
    (s, d) => {
      import graft.streaming.LakeSink
      val dir = tmpPath("graft_lake_bloomq", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("vc",
          org.apache.spark.sql.types.LongType))))
      // ONE staged write splits all 8 residue segments (8 filtered
      // re-scans of events would compute the same layout at 8× the
      // read cost), then a single manifest commit lists them
      val stage = s"$dir/_stage_residue"
      ev.withColumn("__b", pmod(col("event_id"), lit(8)))
        .write.partitionBy("__b").parquet(stage)
      val segs = new java.io.File(stage).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__b="))
        .sortBy(_.getName)
        .map { f =>
          val seg = "seg_b%02d".format(
            f.getName.stripPrefix("__b=").toInt)
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(dir, seg))
          seg
        }.toSeq
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      val m0 = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir,
        LakeSink.Manifest(m0.version + 1, m0.maxB, m0.segs ++ segs, m0.schemaV,
          m0.schemaJson)),
        "bloom-prune ingest commit lost a race")
      // the live-table adoption path: declare AFTER the data exists,
      // ANALYZE backfills the sidecars in place (no rewrite) — the
      // prune below only passes if the backfill actually happened
      LakeSink.setBloomColumns(s, dir, Seq("event_id"))
      val tbl = "graft_lake_bloomq_" + runTag(d)
      graft.streaming.LakeCatalog.register(tbl, dir)
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS event_id")
        .collect()
      val probes: Seq[Any] = Seq(7L, 242L, 555L, 808L, 123456789L)
      val (sel, scanned, total) =
        LakeSink.readTableWhereIn(s, dir, "event_id", probes)
      sel.agg(
        count(lit(1)).as("n_rows"),
        sum("vc").as("sum_cents"),
        lit(scanned.size < total).as("bloom_pruned"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              TRUE AS bloom_pruned
            FROM events
            WHERE event_id IN (7, 242, 555, 808, 123456789)"""))

  /** RTAS via SQL (r12): `CREATE OR REPLACE TABLE … AS <query>` — the
    * derived-table REBUILD verb. The query CTAS-seeds a row-level
    * table from events, then OR-REPLACEs it IN PLACE with a different
    * schema entirely (the per-type aggregate, partitioned by type):
    * ONE commit swaps schema + layout + data — no DROP+CTAS window
    * where readers see no table — and the pre-replace version still
    * time-travels under its own row-level schema (the output pins its
    * row count). The oracle reproduces both generations from events;
    * a replace that lost rows, leaked the old schema, or broke the
    * atomic swap breaks the hash. */
  private val sqlLakeRtas = QueryDef(
    "sql_lake_rtas",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_rtas", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val tbl = "graft_sql_lake_rtas_" + runTag(d)
      LakeCatalog.unregister(tbl) // bench re-runs the closure
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val view = "graft_rtas_ev_" + runTag(d)
      ev.createOrReplaceTempView(view)
      s.sql(
        s"""CREATE TABLE $tbl USING graft_lake LOCATION '$dir'
            AS SELECT event_id, event_type, vc FROM $view""").collect()
      val preV = LakeSink.readManifest(dir).version
      s.sql(
        s"""CREATE OR REPLACE TABLE $tbl USING graft_lake
            PARTITIONED BY (event_type) LOCATION '$dir'
            AS SELECT event_type, count(*) AS n, sum(vc) AS sum_cents
            FROM $view GROUP BY event_type""").collect()
      val preRows = LakeSink.readTableAsOf(s, dir, preV).count()
      s.sql(s"SELECT event_type, n, sum_cents FROM $tbl")
        .withColumn("pre_rows", lit(preRows))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS vc
                        FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   (SELECT CAST(count(*) AS BIGINT) FROM ev) AS pre_rows
            FROM ev GROUP BY event_type ORDER BY event_type"""))

  /** EXPORT TABLE (r16, the r15 verdict's missing #2): the lake's
    * interop escape hatch, proven BY THE ORACLE MECHANISM ITSELF.
    * The engine clones the canonical events lake, takes a
    * merge-on-read DELETE (so real deletion-vector debt exists), then
    * runs `EXPORT TABLE t TO '<dir>'`: clean buckets HARD-LINK (zero
    * copy), DV'd buckets REWRITE minus their deleted positions — the
    * receipt REQUIREs exactly that split. The Spark result aggregates
    * [[graft.streaming.LakeSink.readTable]] over the SOURCE LAKE; the
    * DuckDB oracle aggregates the EXPORTED DIRECTORY directly (a
    * recursive parquet glob — no graft code, no manifest, no DV logic
    * in the loop). Hash equality is therefore a foreign engine
    * independently confirming the export: a resurrected deleted row,
    * a dropped bucket, a physical-name leak, or a schema-ragged file
    * set all break the DuckDB read or its hash. The export path is
    * JVM-stable ([[graft.Scratch.jvmPath]]) because the oracle SQL is
    * a static string built in the same JVM that runs the query. */
  private val exportDirSql = jvmPath("graft_sql_export")
  private val sqlLakeExport = QueryDef(
    "sql_lake_export",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_export_src", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(exportDirSql))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_export_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      try {
        // DV only ONE storage bucket (clicks of bucket 0) so the
        // export exercises BOTH paths: bucket 0 rewrites minus its
        // deleted positions, buckets 1-3 hard-link untouched
        val (_, rw, _, _) = LakeSink.deleteWhere(s, dir,
          col("event_type") === "click" && col("event_id") % 4 === 0,
          dvMaxFraction = 1.0)
        require(rw == 0,
          s"merge-on-read delete rewrote $rw segments (must write DVs)")
        val nDv = LakeSink.readManifest(dir).dv.size
        val rcpt = s.sql(s"EXPORT TABLE $tbl TO '$exportDirSql'")
          .collect().head
        require(rcpt.getInt(3) == nDv,
          s"export rewrote ${rcpt.getInt(3)} segments, expected the " +
            s"$nDv DV'd ones")
        require(rcpt.getInt(1) > 0 && rcpt.getInt(2) == 0,
          "export hard-linked nothing — the zero-copy path never ran " +
            s"(linked ${rcpt.getInt(1)}, copied ${rcpt.getInt(2)})")
        LakeSink.readTable(s, dir)
          .agg(
            count(lit(1)).as("n_rows"),
            sum("vc").as("sum_cents"),
            countDistinct("event_type").as("n_types"),
            min("event_id").as("min_id"),
            max("event_id").as("max_id"),
            lit(rcpt.getInt(3).toLong).as("n_rewritten"))
      } finally LakeCatalog.unregister(tbl)
    },
    // the oracle reads THE EXPORTED FILES — the only oracle in the
    // suite whose FROM clause is a filesystem path, deliberately:
    // DuckDB consuming the export with a bare glob IS the interop
    // contract (the live-row aggregates come from the exported bytes,
    // so a resurrected deleted row or dropped bucket breaks the
    // hash). The deleted slice is derived from events; n_rewritten
    // re-derives the DV census (only bucket 0 holds matching rows;
    // rw == 0 is REQUIREd, so a fully-matched bucket fails loud).
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(min(event_id) AS BIGINT) AS min_id,
                   CAST(max(event_id) AS BIGINT) AS max_id,
                   (SELECT CAST(CASE WHEN count(*) > 0 THEN 1 ELSE 0 END
                           AS BIGINT) FROM events
                    WHERE event_type = 'click' AND event_id % 4 = 0)
                     AS n_rewritten
            FROM '$exportDirSql/*.parquet'"""))

  /** PARTITIONED EXPORT (r17, the r16 verdict's #3): `EXPORT TABLE …
    * PARTITIONED BY (event_type)` emits the standard Hive `k=v/`
    * layout, and the DuckDB oracle reads it back with
    * `hive_partitioning=1` AND FILTERS ON THE PARTITION COLUMN — a
    * foreign engine independently proving both the layout (partition
    * values live in directory names, never repeated inside files) and
    * its prunability (DuckDB's hive filter only sees rows whose DIR
    * says click). The receipt REQUIREs the rewrite-everything
    * contract (0 links — re-bucketing by value is data movement by
    * definition, done as ONE distributed partitionBy job) and the
    * n_dirs column pins that every partition value became a
    * directory. Export path is JVM-stable ([[graft.Scratch.jvmPath]])
    * because the oracle SQL is a static string built in this JVM;
    * the query deleteQuietly+rewrites it each run (bench re-runs the
    * closure). */
  private val exportPartDirSql = jvmPath("graft_sql_export_part")
  private val sqlLakeExportPart = QueryDef(
    "sql_lake_export_part",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_export_part_src", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(exportPartDirSql))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_export_part_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      try {
        val nSegs = LakeSink.readManifest(dir).segs.size
        val rcpt = s.sql(s"EXPORT TABLE $tbl TO '$exportPartDirSql' " +
          "PARTITIONED BY (event_type)").collect().head
        require(rcpt.getInt(1) == 0 && rcpt.getInt(2) == 0 &&
            rcpt.getInt(3) == nSegs,
          s"partitioned export must rewrite everything: linked " +
            s"${rcpt.getInt(1)}, copied ${rcpt.getInt(2)}, rewrote " +
            s"${rcpt.getInt(3)} of $nSegs")
        val nDirs = new java.io.File(exportPartDirSql).listFiles()
          .count(f => f.isDirectory &&
            f.getName.startsWith("event_type="))
        LakeSink.readTable(s, dir)
          .filter(col("event_type") === "click")
          .agg(
            count(lit(1)).as("n_rows"),
            sum("vc").as("sum_cents"),
            min("event_id").as("min_id"),
            max("event_id").as("max_id"),
            lit(nDirs.toLong).as("n_dirs"))
      } finally LakeCatalog.unregister(tbl)
    },
    // the oracle reads the EXPORTED k=v DIRECTORIES with DuckDB's
    // hive_partitioning and filters on the partition column — the
    // pruning interop IS the check; n_dirs re-derives the partition
    // count from the source events
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   CAST(min(event_id) AS BIGINT) AS min_id,
                   CAST(max(event_id) AS BIGINT) AS max_id,
                   (SELECT CAST(count(DISTINCT event_type) AS BIGINT)
                    FROM events) AS n_dirs
            FROM read_parquet('$exportPartDirSql/*/*.parquet',
                              hive_partitioning=1)
            WHERE event_type = 'click'"""))

  /** INCREMENTAL EXPORT (r17, the r16 verdict's #4): a full export of
    * version `a`, an append commit, then `EXPORT TABLE … SINCE
    * VERSION a` appending ONLY the new segment's files into the same
    * directory — O(changed segments), the refresh verb a foreign copy
    * of a 100 TB lake needs (a full re-export is O(table)). The
    * DuckDB oracle reads the COMBINED directory with a bare glob and
    * must reproduce the TIP's aggregates exactly — a dropped delta,
    * a double-exported base segment, or a stale file all break the
    * hash. Receipts REQUIRE the scale contract: the delta run links
    * (clean append ⇒ zero rewrites) and touches only the new
    * segment; delta_rows carries the receipt's row count, re-derived
    * by the oracle from the synthetic slice. The append-only guards
    * (base segment removed/DV'd/schema evolved ⇒ loud refusal) are
    * spec-pinned in LakeExportSpec. */
  private val exportIncrDirSql = jvmPath("graft_sql_export_incr")
  private val sqlLakeExportIncr = QueryDef(
    "sql_lake_export_incr",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_export_incr_src", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(exportIncrDirSql))
      cloneCanonicalLake(s, d, dir)
      val tbl = "graft_sql_export_incr_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      try {
        val a = LakeSink.readManifest(dir).version
        val r1 = s.sql(s"EXPORT TABLE $tbl TO '$exportIncrDirSql'")
          .collect().head
        require(r1.getInt(1) > 0 && r1.getInt(2) == 0 && r1.getInt(3) == 0,
          s"base export of a clean clone must pure-link, got " +
            s"${r1.getInt(1)} links / ${r1.getInt(2)} copies / " +
            s"${r1.getInt(3)} rewrites")
        // the appended slice is DERIVED FROM EVENTS so the oracle can
        // re-derive it: one new key per event_id % 1000 == 0
        LakeSink.appendSegment(s, dir,
          LakeSink.readTable(s, dir)
            .filter(col("event_id") % 1000 === 0)
            .select((col("event_id") + 10000000L).as("event_id"),
              lit("synthetic").as("event_type"), col("vc")),
          "seg_incr_" + runTag(d))
        val r2 = s.sql(
          s"EXPORT TABLE $tbl TO '$exportIncrDirSql' SINCE VERSION $a")
          .collect().head
        require(r2.getInt(3) == 0 && r2.getInt(2) == 0 && r2.getInt(1) > 0,
          s"delta export of a clean append must pure-link, got " +
            s"${r2.getInt(1)} links / ${r2.getInt(2)} copies / " +
            s"${r2.getInt(3)} rewrites")
        LakeSink.readTable(s, dir)
          .agg(
            count(lit(1)).as("n_rows"),
            sum("vc").as("sum_cents"),
            countDistinct("event_type").as("n_types"),
            max("event_id").as("max_id"),
            lit(r2.getLong(4)).as("delta_rows"))
      } finally LakeCatalog.unregister(tbl)
    },
    // bare-glob read of the COMBINED directory == the tip's state
    Some(s"""WITH ev AS (SELECT event_id, event_type,
                           CAST(round(value * 100) AS BIGINT) AS vc
                         FROM events),
                 tip AS (SELECT event_id, event_type, vc FROM ev
                         UNION ALL
                         SELECT event_id + 10000000, 'synthetic', vc
                         FROM ev WHERE event_id % 1000 = 0)
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(max(event_id) AS BIGINT) AS max_id,
                   (SELECT CAST(count(*) AS BIGINT) FROM ev
                    WHERE event_id % 1000 = 0) AS delta_rows
            FROM '$exportIncrDirSql/*.parquet'"""))

  /** MULTI-COLUMN PARTITIONED EXPORT (r18, the r17 verdict's #2:
    * `partitionBy` took one column while the lake's own partition
    * specs are composite): `EXPORT TABLE … PARTITIONED BY
    * (event_type, r3)` emits NESTED Hive `k=v/k=v/` directories in
    * spec order, and the DuckDB oracle reads the two-level tree with
    * `hive_partitioning=1` AND FILTERS ON BOTH partition columns — a
    * foreign engine independently proving the nested layout and its
    * two-dimensional prunability (the date+tenant shape a 100 TB
    * export handoff actually has). The receipt REQUIREs the
    * rewrite-everything contract and n_leaf_dirs pins that every
    * (event_type, r3) pair became its own leaf directory. The lake is
    * purpose-built (the canonical lake has no second low-cardinality
    * column): events projected to (event_id, event_type,
    * r3 = event_id % 3, vc), all re-derivable by the oracle. */
  private val exportMultiDirSql = jvmPath("graft_sql_export_multi")
  private val sqlLakeExportMulti = QueryDef(
    "sql_lake_export_multi",
    (s, d) => {
      import graft.streaming.{LakeCatalog, LakeSink}
      val dir = tmpPath("graft_sql_export_multi_src", d)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(exportMultiDirSql))
      val ev = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        (col("event_id") % 3).as("r3"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      LakeSink.createTable(dir, ev.schema)
      LakeSink.appendSegment(s, dir, ev, "seg_all")
      val tbl = "graft_sql_export_multi_" + runTag(d)
      LakeCatalog.register(tbl, dir)
      try {
        val rcpt = s.sql(s"EXPORT TABLE $tbl TO '$exportMultiDirSql' " +
          "PARTITIONED BY (event_type, r3)").collect().head
        require(rcpt.getInt(1) == 0 && rcpt.getInt(2) == 0 &&
            rcpt.getInt(3) == 1,
          s"composite-partitioned export must rewrite everything: " +
            s"linked ${rcpt.getInt(1)}, copied ${rcpt.getInt(2)}, " +
            s"rewrote ${rcpt.getInt(3)} of 1")
        // the nested structure itself: event_type=*/r3=* leaf dirs,
        // counted level by level (spec order outer → inner)
        val top = new java.io.File(exportMultiDirSql).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
        require(top.nonEmpty, "no event_type= directories")
        val leaves = top.map(_.listFiles()
          .count(f => f.isDirectory && f.getName.startsWith("r3="))).sum
        LakeSink.readTable(s, dir)
          .filter(col("event_type") === "click" && col("r3") === 1L)
          .agg(
            count(lit(1)).as("n_rows"),
            sum("vc").as("sum_cents"),
            min("event_id").as("min_id"),
            max("event_id").as("max_id"),
            lit(leaves.toLong).as("n_leaf_dirs"))
      } finally LakeCatalog.unregister(tbl)
    },
    // the oracle reads the NESTED k=v/k=v tree with DuckDB's
    // hive_partitioning and filters on BOTH partition columns — the
    // two-dimensional pruning interop IS the check; n_leaf_dirs
    // re-derives the live (event_type, r3) pair count from events
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(vc) AS BIGINT) AS sum_cents,
                   CAST(min(event_id) AS BIGINT) AS min_id,
                   CAST(max(event_id) AS BIGINT) AS max_id,
                   (SELECT CAST(count(DISTINCT event_type || '|' ||
                      CAST(event_id % 3 AS VARCHAR)) AS BIGINT)
                    FROM events) AS n_leaf_dirs
            FROM read_parquet('$exportMultiDirSql/*/*/*.parquet',
                              hive_partitioning=1)
            WHERE event_type = 'click' AND r3 = 1"""))

  val defs: Seq[QueryDef] = Seq(
    mergeUpsert, joinBucketed, csvRoundtrip, aggStats, aggHistogram,
    fnFuzzy, aggArrayCollect, unpivotStack, sinkCompacted,
    sinkLakeMaintenance, sinkLakeDelete, sinkLakeDeleteDv, sinkLakeUpdate,
    sinkLakeUpdateDv, sinkLakeReorg, sinkLakeUpsertMor, sinkLakeMerge,
    sqlLakeDml, sqlLakeDdl, sinkLakeEvolution, sinkLakeColmap,
    sinkLakePartitioned, sinkLakePartitionedMulti,
    sinkLakeCompactClustered,
    sinkClustered,
    sinkZorder, sinkBloom, orcRoundtrip, sinkLakeStatsPrune,
    sinkLakeStatsPruneStr,
    sinkLakeChangefeed, sinkLakeCdc, sqlLakeRead, sqlLakeReadTs,
    sinkLakeExpectations,
    sinkLakeHistory, sinkLakeMedallion, sinkLakeCdf, sqlLakeCdf,
    sqlLakeHistory, sqlLakeRestore, sqlLakeClone, sqlLakeDetail,
    sinkLakeImport, sinkLakeCopyInto, sqlLakeMergeMulti, sqlLakeMergeEvolve,
    sqlLakeReplace, sqlLakeCtas,
    sinkLakeBloomPrune, sqlLakeRtas, sqlLakeExport, sqlLakeExportPart,
    sqlLakeExportIncr, sqlLakeExportMulti)
}
