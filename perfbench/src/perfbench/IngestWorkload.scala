package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, expr, from_json, sum, unbase64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.ShardOffsets
import graft.streaming.{LakeSink, StreamOps}

/** `kinesis_ingest`: the reference's consumer loop on Spark. A
  * generator thread writes one envelope file per 100 ms tick across 4
  * shards at a fixed rate, on a schedule that does not slow when the
  * consumer does (open loop); about 2% of records are producer retries
  * (same event, new sequence number). The pipeline is
  * `graft-kinesis-file` (capped per shard per batch) → base64/JSON
  * decode → `StreamOps.dedupWithinWatermark` →
  * `LakeSink.startCompactingIngest`.
  *
  * Steady phase: `--seconds` of open-loop traffic; a record's latency
  * runs from its due time to the end of the trigger whose committed
  * offsets cover it. Catch-up phase: the query stops, a fixed backlog is
  * written, and the restarted query's drain rate is timed. */
object IngestWorkload extends Workload {
  val Shards = 4
  val TickMs = 100
  /** Half of the 2,000 records/s the pipeline keeps up with on two task
    * threads: triggers still run back to back, but a short stall does
    * not snowball into a backlog, so the steady phase measures the
    * per-trigger floor rather than how close the host is to saturation. */
  val RatePerS = 1000
  val DupFraction = 0.02
  val MaxPerShardPerBatch = 1000
  val BacklogRecords = 16000
  val BacklogPerFile = 200
  val WarmRecords = 800
  val PerFile = RatePerS * TickMs / 1000

  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("cents", LongType)))

  /** One produced record: its shard, sequence number and envelope line. */
  final case class Rec(shard: String, seq: Long, line: String, dup: Boolean)

  final case class Progress(runId: String, batchId: Long, start: Double, end: Double,
      rows: Long, end0: Map[String, Long], dur: Map[String, Long],
      stateRows: Long, stateMem: Long, stateCommitMs: Long, stateRemoved: Long)

  /** Records in emission order: events in event-time order from a
    * seed-chosen start, each followed with probability `DupFraction` by
    * a retry 1–8 records later. Sequence numbers rise with emission. */
  def records(spark: SparkSession, data: String, seed: Long, n: Int): IndexedSeq[Rec] = {
    val rng = new scala.util.Random(seed)
    val ev = graft.Tables.events(spark, data).orderBy("ts", "event_id")
      .selectExpr("event_id", "unix_micros(ts)", "user_id", "event_type",
        "CAST(round(value * 100) AS BIGINT)")
      .collect()
    val need = (n / (1 + DupFraction)).toInt + 1
    require(ev.length > need, s"events table too small: ${ev.length} rows, need $need")
    val start = rng.nextInt(ev.length - need)
    val enc = java.util.Base64.getEncoder
    val out = mutable.ArrayBuffer.empty[Rec]
    val retries = mutable.HashMap.empty[Int, List[Int]]
    var i = start
    def emit(idx: Int, dup: Boolean): Unit = {
      val r = ev(idx)
      val payload = s"""{"event_id":${r.getLong(0)},"ts_us":${r.getLong(1)},""" +
        s""""user_id":${r.getLong(2)},"event_type":"${r.getString(3)}","cents":${r.getLong(4)}}"""
      val shard = s"shard-${r.getLong(2) % Shards}"
      val seq = 1000000L + out.size
      out += Rec(shard, seq, s"$shard\t$seq\t${r.getLong(2)}\t" +
        enc.encodeToString(payload.getBytes("UTF-8")), dup)
    }
    while (out.size < n) {
      retries.remove(out.size).foreach(_.foreach(j => if (out.size < n) emit(j, dup = true)))
      if (out.size < n) {
        emit(i, dup = false)
        if (rng.nextDouble() < DupFraction) {
          val at = out.size + 1 + rng.nextInt(8)
          retries(at) = i :: retries.getOrElse(at, Nil)
        }
        i += 1
      }
    }
    out.toIndexedSeq
  }

  /** Write one envelope file under a temporary name, then rename it to
    * `*.txt`, so the source never sees a half-written line. */
  def writeFile(dir: String, name: String, recs: Seq[Rec]): Unit = {
    val tmp = new java.io.File(dir, s".$name.tmp")
    java.nio.file.Files.write(tmp.toPath, recs.map(_.line).mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(new java.io.File(dir, s"$name.txt")))
      sys.error(s"rename of $tmp failed")
  }

  def run(spark: SparkSession, a: Args, rec: Recorder): Outcome = {
    val steadyN = (RatePerS * a.seconds).toInt
    val all = records(spark, a.data, a.seed, WarmRecords + steadyN + BacklogRecords)
    val warm = all.take(WarmRecords)
    val steady = all.slice(WarmRecords, WarmRecords + steadyN)
    val backlog = all.drop(WarmRecords + steadyN)
    val format = if (a.trace) classOf[TimedKinesisProvider].getName else "graft-kinesis-file"

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators.headOption
        progress.add(Progress(p.runId.toString, p.batchId, start,
          start + dur.getOrElse("triggerExecution", 0L), p.numInputRows,
          Option(p.sources.head.endOffset).map(ShardOffsets.fromJson(_).seqs).getOrElse(Map.empty),
          dur, st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L), st.map(_.numRowsRemoved).getOrElse(0L)))
      }
    }
    spark.streams.addListener(listener)

    def start(base: String): StreamingQuery = {
      val raw = spark.readStream.format(format)
        .option("maxRecordsPerShardPerBatch", MaxPerShardPerBatch.toLong)
        .load(s"$base/stream")
      val decoded = raw
        .select(from_json(unbase64(col("data")).cast("string"), payloadSchema).as("p"))
        .select(col("p.event_id").as("event_id"), expr("timestamp_micros(p.ts_us)").as("ts"),
          col("p.user_id").as("user_id"), col("p.event_type").as("event_type"),
          col("p.cents").as("cents"))
      LakeSink.startCompactingIngest(StreamOps.dedupWithinWatermark(decoded),
        s"$base/lake", s"$base/ckpt")
    }

    // Repeated set-up step: fresh stream, lake and checkpoint; start the
    // query and ingest the warm-up file. The third one stays running.
    val base = s"${a.work}/ingest"
    var q: StreamingQuery = null
    val reps = (1 to 3).map { i =>
      val dir = if (i == 3) base else s"${a.work}/ingest_setup$i"
      val t0 = Clock.nowMs()
      new java.io.File(s"$dir/stream").mkdirs()
      writeFile(s"$dir/stream", "w-000000", warm)
      val sq = start(dir)
      sq.processAllAvailable()
      val ms = Clock.nowMs() - t0
      if (i < 3) { sq.stop(); Files.delete(dir) } else q = sq
      ms
    }
    val steadyRun = q.runId.toString
    SourceCounters.reset()
    val streamDir = s"$base/stream"

    // Steady phase: open-loop generator on its own thread.
    val ticks = math.ceil(steady.size.toDouble / PerFile).toInt
    val written = new Array[Double](ticks)
    var lateMax = 0.0
    val t0 = Clock.nowMs() + 50
    val gen = new Thread(() => {
      (0 until ticks).foreach { k =>
        val due = t0 + (k + 1) * TickMs
        val wait = due - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        writeFile(streamDir, f"s-$k%06d", steady.slice(k * PerFile, (k + 1) * PerFile))
        written(k) = Clock.nowMs()
        lateMax = math.max(lateMax, written(k) - due)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()

    // Catch-up phase: a fixed backlog, then restart from the checkpoint.
    backlog.grouped(BacklogPerFile).zipWithIndex.foreach { case (recs, k) =>
      writeFile(streamDir, f"b-$k%06d", recs)
    }
    val tRestart = Clock.nowMs()
    q = start(base)
    val catchRun = q.runId.toString
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    rec.drain(spark)

    // Which trigger first covered each record, from the engine's offsets.
    val events = progress.asScala.toSeq
    def coverage(recs: Seq[Rec], evs: Seq[Progress]): Seq[Option[Progress]] = {
      val ordered = evs.sortBy(_.end)
      recs.map(r => ordered.find(p => p.end0.getOrElse(r.shard, Long.MinValue) >= r.seq))
    }
    val steadyRuns = events.filter(p => p.runId == steadyRun && p.end > t0)
    val catchRuns = events.filter(_.runId == catchRun)
    val steadyCover = coverage(steady, steadyRuns)
    val uncovered = steadyCover.count(_.isEmpty)
    val due = steady.indices.map(j => t0 + (j + 1).toDouble * 1000 / RatePerS)
    val latency = steady.indices.flatMap(j => steadyCover(j).map(_.end - due(j)))
    // the drain ends when the last shard's last backlog record is committed
    val backlogCover = coverage(backlog, catchRuns)
    val backlogUncovered = backlogCover.count(_.isEmpty)
    val catchEnd = backlogCover.flatten.map(_.end).maxOption
    val catchupRate =
      if (backlogUncovered > 0) 0.0
      else catchEnd.map(e => backlog.size / ((e - tRestart) / 1000)).getOrElse(0.0)
    // lag at each steady trigger: produced (written) minus committed
    val lag = steadyRuns.map { p =>
      val produced = written.count(_ <= p.end) * PerFile
      val committed = steadyCover.count(_.exists(_.end <= p.end))
      (produced - committed).toDouble
    }

    // Exactly-once evidence for the gate.
    val lakeDir = s"$base/lake"
    val perType = LakeSink.readTable(spark, lakeDir).groupBy("event_type")
      .agg(count("*").as("n"), sum("cents").as("cents"), countDistinct("event_id").as("d"))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val withData = (steadyRuns ++ catchRuns).filter(_.rows > 0)
    val triggerReqs = withData.map(p => rec.addRequest("trigger", s"batch-${p.batchId}",
      p.start, p.end, Some(p.runId)))
    def meanDur(k: String) = Stats.mean(withData.map(_.dur.getOrElse(k, 0L).toDouble))
    val queueWait = steady.indices.flatMap(j => steadyCover(j).map(_.start - due(j)))
    val service = steadyCover.flatten.map(p => p.end - p.start)
    val last = events.sortBy(_.end).lastOption
    val m = LakeSink.readManifest(lakeDir)
    val nTrig = math.max(withData.size, 1).toDouble
    val jobIv = rec.jobs.values.toSeq.filter(!_.end.isNaN).map(j => (j.start, j.end))
    val ingestCommit = withData.map(p =>
      p.dur.getOrElse("addBatch", 0L) - Stats.unionLength(Stats.clip(jobIv, p.start, p.end)))
    val scanned = SourceCounters.bytesScanned.get.toDouble
    val produced = all.size
    val streamFiles = Option(new java.io.File(streamDir).listFiles()).map(_.count(_.getName.endsWith(".txt"))).getOrElse(0)

    Outcome(
      setupRepsMs = reps,
      firstRequestAt = t0,
      latencyMs = latency,
      throughputPerS = catchupRate,
      attempted = produced,
      failedOps = uncovered + backlogUncovered,
      errors = (if (uncovered > 0) Seq(s"$uncovered steady records never committed") else Nil) ++
        (if (backlogUncovered > 0) Seq(s"$backlogUncovered backlog records never committed")
         else Nil),
      e2e = Map(
        "lag_max_records" -> (if (lag.isEmpty) 0.0 else lag.max),
        "catchup_records_per_s" -> catchupRate,
        "steady_triggers" -> steadyRuns.size,
        "catchup_triggers" -> catchRuns.sortBy(_.start).map(p => Seq(p.batchId,
          math.round(p.start - tRestart), math.round(p.end - p.start), p.rows)),
        "offered_records_per_s" -> RatePerS.toDouble),
      layers = Map(
        "gen.records" -> produced.toDouble,
        "gen.duplicates" -> all.count(_.dup).toDouble,
        "gen.files" -> streamFiles.toDouble,
        "gen.late_max_ms" -> lateMax,
        "sources.latest_offset_ms" -> SourceCounters.meanMs("latest_offset"),
        "sources.report_latest_ms" -> SourceCounters.meanMs("report_latest"),
        "sources.plan_partitions_ms" -> SourceCounters.meanMs("plan_partitions"),
        "sources.read_ms" -> SourceCounters.readMs.sum / nTrig,
        "sources.records_out" -> SourceCounters.records.get.toDouble,
        "sources.bytes_scanned_mb" -> scanned / 1048576.0,
        "sources.useful_ratio" -> (if (scanned > 0) SourceCounters.bytesDelivered.get / scanned else 0.0),
        "sources.stream_files_end" -> streamFiles.toDouble,
        "trigger.count" -> withData.size.toDouble,
        "trigger.rows_p50" -> Stats.median(withData.map(_.rows.toDouble)),
        "trigger.latest_offset_ms" -> meanDur("latestOffset"),
        "trigger.get_batch_ms" -> meanDur("getBatch"),
        "trigger.query_planning_ms" -> meanDur("queryPlanning"),
        "trigger.add_batch_ms" -> meanDur("addBatch"),
        "trigger.wal_commit_ms" -> meanDur("walCommit"),
        "trigger.commit_offsets_ms" -> meanDur("commitOffsets"),
        "trigger.execution_ms" -> meanDur("triggerExecution"),
        "trigger.queue_wait_p50_ms" -> Stats.median(queueWait),
        "trigger.service_p50_ms" -> Stats.median(service),
        "state.rows_total_end" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
        "state.memory_mb_end" -> last.map(_.stateMem / 1048576.0).getOrElse(0.0),
        "state.commit_ms" -> Stats.mean(withData.map(_.stateCommitMs.toDouble)),
        "state.rows_removed" -> withData.map(_.stateRemoved).sum.toDouble,
        "lake.ingest_commit_ms" -> Stats.mean(ingestCommit),
        "lake.versions_end" -> m.version.toDouble,
        "lake.segments_end" -> m.segs.size.toDouble,
        "lake.dv_end" -> m.dv.size.toDouble,
        "lake.bytes_written_mb" -> Files.dirBytes(new java.io.File(lakeDir)) / 1048576.0),
      measured = triggerReqs,
      gate = Map("stream_dir" -> streamDir, "lake_per_type" -> perType, "steady_run" -> steadyRun),
      genLateMaxMs = lateMax)
  }
}
