package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `query_mix`: one closed-loop client running a fixed named list of
  * declared batch queries (`SparkEntry.queries`) in whole passes, each
  * in a seed-shuffled order, for about `--seconds` after untimed warm
  * passes; every pass runs the same queries, so the sample's make-up
  * does not depend on the seed. Every query's result is collected to the
  * client. Catalyst, job execution and the operator/llm/function
  * bodies carry most of the load; one lake DELETE keeps a lake DML verb
  * in the mix. The streaming source is idle.
  *
  * A latency sample is one query's wall time centred on that query's
  * own median: `wall - median(query) + mean of the queries' medians`.
  * The pooled p50 is then the mean of the per-query medians, so a
  * change in any one query moves it (by a fifth of the change), and the
  * pooled tail is that level plus the spread of the queries around
  * their own medians, not the latency of whichever query is slowest. */
object MixWorkload extends Workload {
  /** A fixed subset of the declared queries, sized so that one warm pass
    * takes 3–4 s on two task threads: a TPC-H join (q3), the consumer
    * surface's batch forms (windowed aggregate, envelope decode), an llm
    * text query (n-gram contamination) and a lake DELETE through
    * `LakeSink.deleteWhere`. Left out to fit the run: the DSv2 source's
    * batch path (`kinesis_ingest` measures the source), SQL MERGE and
    * embedding dedup (4–7 s each here), and the MinHash/SimHash dedup
    * queries, whose DuckDB oracles take minutes at this scale. */
  val queries: Seq[String] = Seq(
    "sql_tpch_q3", "stream_tumbling", "kinesis_decode",
    "llm_contamination", "sink_lake_delete")

  /** Untimed passes first: early executions stay markedly slower while
    * the JIT compiles the query paths. */
  val WarmPasses = 2

  /** At least this many timed passes: 8 passes of 5 queries leave ten
    * samples beyond p75, the least the tail rule accepts below p50. */
  val MinPasses = 8

  def family(q: String): String =
    if (q.startsWith("llm_")) "llm"
    else if (q.startsWith("sql_lake_") || q.startsWith("sink_lake_")) "lake"
    else "operators"

  def run(spark: SparkSession, a: Args, rec: Recorder): Outcome = {
    val defs = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val missing = queries.filterNot(defs.contains)
    require(missing.isEmpty, s"queries not declared: ${missing.mkString(", ")}")
    val rng = new scala.util.Random(a.seed)

    // Repeated set-up step: resolve every base table's schema and run
    // one small job.
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val reps = (1 to 3).map { _ =>
      val t0 = Clock.nowMs()
      tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").schema)
      spark.range(100000).selectExpr("id % 10 AS k").groupBy("k").count().collect()
      Clock.nowMs() - t0
    }
    val failures = mutable.LinkedHashMap.empty[String, String]
    var warmPass = 0.0
    (1 to WarmPasses).foreach { _ =>
      val p0 = Clock.nowMs()
      queries.foreach { q =>
        try defs(q)(spark, a.data).collect()
        catch { case e: Throwable => failures(q) = s"warm: $e" }
      }
      warmPass = Clock.nowMs() - p0
    }
    // As many whole passes as fit in --seconds at the last warm pass's
    // pace, and no fewer than MinPasses.
    val passes = math.max(MinPasses, (a.seconds * 1000 / warmPass).toInt)

    val first = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    val measured = mutable.ArrayBuffer.empty[Request]
    var failed = 0L
    val t0 = Clock.nowMs()
    (1 to passes).foreach { _ =>
      rng.shuffle(queries).foreach { q =>
        try {
          val ((rows, schema), r) = rec.timed(spark, "query", q) {
            val df = defs(q)(spark, a.data)
            (df.collect(), df.schema)
          }
          measured += r
          if (!first.contains(q)) first(q) = (rows, schema)
          counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += rows.length.toLong
        } catch {
          case e: Throwable => failed += 1; failures(q) = e.toString.take(300)
        }
      }
    }
    val elapsed = Clock.nowMs() - t0

    // Results of each query's first timed execution, for the oracle gate.
    val resDir = s"${a.work}/results"
    first.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$resDir/$q")
    }
    Files.writeString(s"${a.work}/oracle_sql.json",
      Json(queries.flatMap(q => oracles.get(q).map(q -> _)).toMap))

    val queryP50 = measured.groupBy(_.name).view
      .mapValues(rs => Stats.median(rs.map(_.wallMs).toSeq)).toMap
    val level = Stats.mean(queryP50.values.toSeq)
    val walls = measured.groupBy(r => family(r.name)).view
      .mapValues(_.map(_.wallMs).sum / math.max(passes, 1)).toMap
    Outcome(
      setupRepsMs = reps,
      firstRequestAt = t0,
      latencyMs = measured.map(r => r.wallMs - queryP50(r.name) + level).toSeq,
      throughputPerS = measured.size / (elapsed / 1000),
      attempted = measured.size + failed,
      failedOps = failed,
      errors = failures.map { case (q, e) => s"$q: $e" }.toSeq,
      e2e = Map("passes" -> passes, "queries" -> queries.size,
        "query_p50_ms" -> queryP50),
      layers = Map(
        "operators.wall_ms" -> walls.getOrElse("operators", 0.0),
        "llm.wall_ms" -> walls.getOrElse("llm", 0.0),
        "lake.wall_ms" -> walls.getOrElse("lake", 0.0)),
      measured = measured.toSeq,
      gate = Map("results_dir" -> resDir, "oracle_sql" -> s"${a.work}/oracle_sql.json",
        "queries" -> queries, "row_counts" -> counts.map { case (k, v) => k -> v.toSeq }))
  }
}
