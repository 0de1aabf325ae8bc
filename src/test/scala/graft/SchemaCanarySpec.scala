package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary (round 9, VERDICT r8 item #2).
  *
  * Round 8 lost 42/169 queries because an environment upgrade changed
  * how the `events.ts` column surfaces (the testdata regenerated with a
  * µs physical type and Spark 4.1.2 ignores the legacy `nanosAsLong`
  * flag, so the loader's `ts div 1000` arithmetic hit a TIMESTAMP_NTZ
  * and failed analysis). These tests pin the post-load schema of every
  * `Tables.*` loader so the NEXT environment change fails here — one
  * obvious red test with the table name in it — instead of taking out
  * whole query families at planning time.
  *
  * If this spec fails after an upgrade: fix the loader seam in
  * Tables.scala (queries are layout-agnostic by design), re-run the
  * full verify drive, and only then update the pinned dtypes here.
  */
class SchemaCanarySpec extends AnyFunSuite with SparkFixture {

  private def dtypes(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("region/nation/customer/supplier/part schemas are pinned") {
    assert(dtypes(Tables.region(spark, sfDir)) ===
      Seq("r_regionkey" -> "int", "r_name" -> "string"))
    assert(dtypes(Tables.nation(spark, sfDir)) ===
      Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"))
    assert(dtypes(Tables.customer(spark, sfDir)) ===
      Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double",
        "c_mktsegment" -> "string"))
    assert(dtypes(Tables.supplier(spark, sfDir)) ===
      Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"))
    assert(dtypes(Tables.part(spark, sfDir)) ===
      Seq("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"))
  }

  test("orders/lineitem schemas are pinned (date columns read as NTZ)") {
    assert(dtypes(Tables.orders(spark, sfDir)) ===
      Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"))
    assert(dtypes(Tables.lineitem(spark, sfDir)) ===
      Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"))
  }

  test("documents/embeddings schemas are pinned") {
    assert(dtypes(Tables.documents(spark, sfDir)) ===
      Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "source" -> "string", "n_chars" -> "bigint"))
    assert(dtypes(Tables.embeddings(spark, sfDir)) ===
      Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"))
  }

  test("events.ts lands as µs session-TZ TIMESTAMP whatever the physical type") {
    val ev = Tables.events(spark, sfDir)
    assert(dtypes(ev) ===
      Seq("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"))
  }

  test("events.ts values are the exact µs instants DuckDB sees") {
    // Ground truth read out-of-band with pyarrow from the sf0.001
    // parquet footer (round 9): both engines must agree on the raw
    // instant, or every oracle hash over events silently diverges.
    val ev = Tables.events(spark, sfDir)
    assert(ev.agg(min(unix_micros(col("ts")))).head.getLong(0) ===
      1704067798778549L)
    assert(ev.filter(col("event_id") === 1)
      .select(unix_micros(col("ts"))).head.getLong(0) === 1704068166738090L)
  }

  test("schema memo: repeated loads skip inference jobs yet equal fresh inference") {
    // r18: Tables memoizes each path's INFERRED StructType per JVM
    // (catalog-table behavior — metadata only, never rows). Pin both
    // halves of that contract: (a) a post-memo construction launches
    // ZERO Spark jobs (the footer-inference job is gone — remove the
    // memo and this fails), and (b) the memoized schema is exactly
    // what a fresh inference of the same path returns.
    val fresh = spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    Tables.lineitem(spark, sfDir) // ensure the memo holds the path
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = Tables.lineitem(spark, sfDir)
      // drain the async listener bus (r19, advisor: a fixed sleep
      // could let late delivery false-PASS this canary on a loaded
      // host; waitUntilEmpty makes the zero-jobs assertion strict)
      org.apache.spark.graft.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      assert(jobs.get === 0,
        "post-memo Tables construction launched a Spark job " +
          "(schema re-inference is back)")
      assert(df.schema === fresh)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("bootstrap-recorded schemaJson (schemaV 0) persists in the manifest") {
    // r19 (advisor, r18 ADVICE #1): a schema recorded at ingest with
    // schemaV 0 must actually land in the manifest — the snapshot encoder
    // previously emitted schema= only when schemaV > 0, silently
    // dropping the bootstrap schema every clone-based query was
    // claimed to read. Pin the full life cycle: ingest, re-read, and
    // survival across a later no-evolution delta commit.
    import graft.streaming.LakeSink
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_canary_sj").toString
    val df = Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
    df.write.mode("overwrite").parquet(s"$dir/seg_b0")
    assert(LakeSink.commitManifest(dir, LakeSink.Manifest(1L, 0L, Seq("seg_b0"),
      schemaJson = Some(df.schema.json))))
    val m1 = LakeSink.readManifest(dir)
    assert(m1.schemaV === 0L)
    assert(m1.schemaJson === Some(df.schema.json),
      "bootstrap schemaJson was dropped by the manifest writer")
    LakeSink.appendSegment(spark, dir,
      Seq((5L, 6L)).toDF("k", "v"), "seg_b1")
    val m2 = LakeSink.readManifest(dir)
    assert(m2.schemaJson === Some(df.schema.json),
      "bootstrap schemaJson did not survive a no-evolution delta")
  }

  test("legacy nanosAsLong path still yields identical events values if honored") {
    // On Spark builds where the flag IS honored, Tables.events takes
    // the LongType branch (`timestamp_micros(ts div 1000)`). We can't
    // force that engine behavior from here, but we can assert the
    // branch condition the loader keys on is the one this engine saw —
    // i.e. the loader made a decision consistent with the pinned
    // values above.
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val tsType = raw.schema("ts").dataType.simpleString
    assert(tsType == "timestamp_ntz" || tsType == "bigint",
      s"events.ts surfaced as $tsType — a third read path appeared; " +
        "audit Tables.events before trusting any oracle run")
  }
}
