package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.streaming.LakeSink
import graft.streaming.LakeSink.MergeClause

/** `lake_upsert`: one closed-loop client against a lake table seeded
  * with `events` in 8 segments. Each write is an upsert batch (about 1%
  * of live keys, spread over every segment, plus a few new keys) sent
  * alternately through `LakeSink.mergeInto` and `LakeSink.mergeClauses`
  * (UPDATE SET * / INSERT *), each with its default `dvMaxFraction`;
  * every 3rd write is a `deleteWhere` erasure of one user. After every
  * write the client reads: one snapshot aggregate through `readTable`
  * and one point read through `readTableWhere` on `event_id`. Lake DML,
  * the manifest commit, driver-side job overlap and the read path do
  * the work; the streaming source and triggers do none. */
object UpsertWorkload extends Workload {
  val Segments = 8
  val UpdateFraction = 0.01
  val NewKeysPerBatch = 10
  val DeleteEvery = 3

  private final class Live(rows: Array[Row]) {
    val byKey = mutable.HashMap.empty[Long, Row]
    val keys = mutable.ArrayBuffer.empty[Long]
    private val index = mutable.HashMap.empty[Long, Int]
    rows.foreach(put)
    def put(r: Row): Unit = {
      val k = r.getLong(0)
      if (!byKey.contains(k)) { index(k) = keys.size; keys += k }
      byKey(k) = r
    }
    def remove(k: Long): Unit = index.remove(k).foreach { i =>
      val last = keys.last
      keys(i) = last; index(last) = i
      keys.remove(keys.size - 1)
      if (last == k) index.remove(k)
      byKey.remove(k)
    }
  }

  def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def run(spark: SparkSession, a: Args, rec: Recorder): Outcome = {
    val base = graft.Tables.events(spark, a.data)
    val schema = base.schema
    val baseRows = base.orderBy("event_id").collect()
    val nBase = baseRows.length.toLong
    val rng = new scala.util.Random(a.seed)
    val lake = s"${a.work}/lake"

    def seed(dir: String): Unit = {
      LakeSink.createTable(dir, schema)
      val per = (nBase + Segments - 1) / Segments
      (0 until Segments).foreach { s =>
        LakeSink.appendSegment(spark, dir,
          base.filter(col("event_id") >= s * per && col("event_id") < (s + 1) * per), s"seg_seed$s")
      }
      LakeSink.analyzeTable(spark, dir, Seq("event_id"))
    }
    // Repeated set-up step: seed a fresh table; the last one is used.
    val reps = (1 to 3).map { i =>
      val dir = if (i == 3) lake else s"${a.work}/lake_setup$i"
      val t0 = Clock.nowMs()
      seed(dir)
      val ms = Clock.nowMs() - t0
      if (i < 3) Files.delete(dir)
      ms
    }

    val live = new Live(baseRows)
    val log = new java.io.PrintWriter(s"${a.work}/writes.jsonl", "UTF-8")
    var nextNew = 1000000L
    var writes = 0
    var merges = 0
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val receipts = mutable.ArrayBuffer.empty[(String, Int, Long, Long, Long)]
    val scanRatios = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val writeReqs = mutable.ArrayBuffer.empty[Request]
    val readReqs = mutable.ArrayBuffer.empty[Request]
    var timing = false

    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failed += 1; errors += what }

    def rowJson(r: Row): Seq[Any] = Seq(r.getLong(0),
      micros(r.getTimestamp(1)), r.getLong(2), r.getString(3),
      r.getDouble(4), r.getString(5))

    def upsertBatch(): (Seq[Row], Int, Int) = {
      val nUpd = math.max(1, (live.keys.size * UpdateFraction).toInt)
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < nUpd) keys += live.keys(rng.nextInt(live.keys.size))
      val upd = keys.toSeq.map { k =>
        val r = live.byKey(k)
        Row(k, r.getTimestamp(1), r.getLong(2), r.getString(3),
          rng.nextInt(50000) / 100.0, s"""{"k": ${rng.nextInt(100)}, "w": $writes}""")
      }
      val ins = (0 until NewKeysPerBatch).map { _ =>
        val src = baseRows(rng.nextInt(baseRows.length))
        nextNew += 1
        Row(nextNew, src.getTimestamp(1), rng.nextInt(1500).toLong, src.getString(3),
          rng.nextInt(50000) / 100.0, s"""{"k": ${rng.nextInt(100)}, "w": $writes}""")
      }
      (upd ++ ins, upd.size, ins.size)
    }

    def write(): Unit = {
      val isDelete = writes % DeleteEvery == DeleteEvery - 1
      if (isDelete) {
        val user = live.byKey(live.keys(rng.nextInt(live.keys.size))).getLong(2)
        val cond = s"user_id = $user"
        val doomed = live.keys.filter(k => live.byKey(k).getLong(2) == user).toSeq
        val ((_, rewritten, _, deleted), r) = rec.timed(spark, "delete", "deleteWhere") {
          LakeSink.deleteWhere(spark, lake, org.apache.spark.sql.functions.expr(cond))
        }
        doomed.foreach(live.remove)
        log.println(Json(Map("op" -> "delete", "cond" -> cond)))
        check(deleted == doomed.size, s"deleteWhere($cond) deleted $deleted, expected ${doomed.size}")
        if (timing) { lat.getOrElseUpdate("delete", mutable.ArrayBuffer.empty) += r.wallMs; writeReqs += r }
        receipts += (("delete", rewritten, 0L, 0L, deleted))
      } else {
        val (rows, nUpd, nIns) = upsertBatch()
        val src = spark.createDataFrame(rows.asJava, schema)
        val viaInto = merges % 2 == 0
        val ((rewritten, updated, inserted), r) =
          if (viaInto) rec.timed(spark, "merge", "mergeInto") {
            val (_, s, u, i) = LakeSink.mergeInto(spark, lake, src, Seq("event_id"))
            (s, u, i)
          } else rec.timed(spark, "merge", "mergeClauses") {
            val (_, s, u, _, i) = LakeSink.mergeClauses(spark, lake, src, Seq("event_id"),
              matched = Seq(MergeClause.Update(None, None)),
              notMatched = Seq(MergeClause.Insert(None, None)))
            (s, u, i)
          }
        rows.foreach(live.put)
        log.println(Json(Map("op" -> "merge", "rows" -> rows.map(rowJson))))
        check(updated == nUpd && inserted == nIns,
          s"${r.name} updated $updated/$nUpd inserted $inserted/$nIns")
        val verb = if (viaInto) "merge_into" else "merge_clauses"
        if (timing) { lat.getOrElseUpdate(verb, mutable.ArrayBuffer.empty) += r.wallMs; writeReqs += r }
        receipts += ((verb, rewritten, updated, inserted, 0L))
        merges += 1
      }
      writes += 1
    }

    def reads(): Unit = {
      val (snap, r1) = rec.timed(spark, "read", "readTable") {
        LakeSink.readTable(spark, lake).groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("v")).collect()
      }
      check(snap.map(_.getLong(1)).sum == live.keys.size,
        s"snapshot read saw ${snap.map(_.getLong(1)).sum} rows, expected ${live.keys.size}")
      val k = live.keys(rng.nextInt(live.keys.size))
      val ((pt, scanned, total), r2) = rec.timed(spark, "read", "readTableWhere") {
        val (df, sc, tot) = LakeSink.readTableWhere(spark, lake, "event_id", k, k)
        (df.collect(), sc.size, tot)
      }
      check(pt.length == 1 && pt(0).getAs[Double]("value") == live.byKey(k).getDouble(4),
        s"point read of $k returned ${pt.length} rows")
      if (timing) {
        lat.getOrElseUpdate("read_snapshot", mutable.ArrayBuffer.empty) += r1.wallMs
        lat.getOrElseUpdate("read_point", mutable.ArrayBuffer.empty) += r2.wallMs
        readReqs += r1; readReqs += r2
        scanRatios += scanned.toDouble / math.max(total, 1)
      }
    }

    def cycle(): Unit = {
      try { write(); reads() }
      catch { case e: Throwable => failed += 1; errors += e.toString.take(300) }
    }

    // Warm-up: one write of each kind, with reads, before timing.
    while (writes < DeleteEvery) cycle()
    val bytes0 = Files.dirBytes(new java.io.File(lake))
    val receipts0 = receipts.size
    timing = true
    val t0 = Clock.nowMs()
    val failed0 = failed
    while (Clock.nowMs() - t0 < a.seconds * 1000) cycle()
    val elapsed = Clock.nowMs() - t0
    log.close()
    val timedFailed = failed - failed0

    val m = LakeSink.readManifest(lake)
    val bytesWritten = Files.dirBytes(new java.io.File(lake)) - bytes0
    LakeSink.readTable(spark, lake).write.mode("overwrite").parquet(s"${a.work}/final")

    val timedReceipts = receipts.drop(receipts0)
    val nw = math.max(timedReceipts.size, 1).toDouble
    def p50(k: String) = lat.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    val readLat = readReqs.map(_.wallMs).toSeq
    val (rTail, rPct, rBeyond) = Stats.tail(readLat)
    Outcome(
      setupRepsMs = reps,
      firstRequestAt = t0,
      latencyMs = writeReqs.map(_.wallMs).toSeq,
      throughputPerS = writeReqs.size / (elapsed / 1000),
      attempted = writeReqs.size + readReqs.size + timedFailed,
      failedOps = failed,
      errors = errors.toSeq,
      e2e = Map(
        "read_latency_p50_ms" -> Stats.median(readLat),
        "read_latency_tail_ms" -> rTail,
        "read_latency_tail_percentile" -> rPct,
        "read_latency_tail_beyond" -> rBeyond,
        "read_samples" -> readLat.size),
      layers = Map(
        "lake.merge_into_ms_p50" -> p50("merge_into"),
        "lake.merge_clauses_ms_p50" -> p50("merge_clauses"),
        "lake.delete_ms_p50" -> p50("delete"),
        "lake.read_snapshot_ms_p50" -> p50("read_snapshot"),
        "lake.read_point_ms_p50" -> p50("read_point"),
        "lake.segments_rewritten" -> timedReceipts.map(_._2).sum / nw,
        "lake.rows_updated" -> timedReceipts.map(_._3).sum / nw,
        "lake.rows_inserted" -> timedReceipts.map(_._4).sum / nw,
        "lake.rows_deleted" -> timedReceipts.map(_._5).sum / nw,
        "lake.point_scan_ratio" -> Stats.mean(scanRatios.toSeq),
        "lake.versions_end" -> m.version.toDouble,
        "lake.segments_end" -> m.segs.size.toDouble,
        "lake.dv_end" -> m.dv.size.toDouble,
        "lake.bytes_written_mb" -> bytesWritten / 1048576.0),
      measured = (writeReqs ++ readReqs).toSeq,
      gate = Map("log" -> s"${a.work}/writes.jsonl", "final" -> s"${a.work}/final",
        "live_rows" -> live.keys.size))
  }
}
