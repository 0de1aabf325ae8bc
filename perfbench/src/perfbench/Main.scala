package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. `setupRepsMs` are the
  * repeated set-up steps (counted once, at their median);
  * `firstRequestAt` is when the first timed request started. */
final case class Outcome(
    setupRepsMs: Seq[Double],
    firstRequestAt: Double,
    latencyMs: Seq[Double],
    throughputPerS: Double,
    attempted: Long,
    failedOps: Long,
    errors: Seq[String],
    e2e: Map[String, Any],
    layers: Map[String, Double],
    measured: Seq[Request],
    gate: Map[String, Any],
    genLateMaxMs: Double = 0.0)

trait Workload {
  def run(spark: SparkSession, a: Args, rec: Recorder): Outcome
}

/** Benchmark driver process: one workload, one seed, one process.
  *
  * Writes one JSON result file (`--out`) with the end-to-end metrics,
  * the per-layer metrics when tracing, the run record and the data the
  * correctness gate needs; `perfbench/run.py` checks the gate and
  * prints the result. */
object Main {
  val workloads: Map[String, Workload] = Map(
    "kinesis_ingest" -> IngestWorkload,
    "lake_upsert" -> UpsertWorkload,
    "query_mix" -> MixWorkload)

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; expected one of ${workloads.keys.mkString(", ")}"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val calib = Host.calibrationMs()
    val load0 = Host.loadAvg1m()
    val spark = session(a.cores, a.work)
    val sessionMs = Clock.nowMs() - jvmStart
    val rec = new Recorder(a.trace)
    rec.install(spark)
    SourceCounters.recorder = rec
    val o = try w.run(spark, a, rec) finally SourceCounters.recorder = null
    if (a.trace) rec.drain(spark)

    val setupMs = (o.firstRequestAt - jvmStart) - o.setupRepsMs.sum +
      (if (o.setupRepsMs.isEmpty) 0.0 else Stats.median(o.setupRepsMs))
    val (tail, tailPct, tailBeyond) = Stats.tail(o.latencyMs)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupMs / 1000,
      "latency_p50_ms" -> Stats.median(o.latencyMs),
      "latency_tail_ms" -> tail,
      "latency_tail_percentile" -> tailPct,
      "latency_tail_beyond" -> tailBeyond,
      "latency_samples" -> o.latencyMs.size,
      "requests_per_s" -> o.throughputPerS,
      "rss_peak_mb" -> Host.rssPeakMb(),
      "error_ratio" -> o.failedOps.toDouble / math.max(o.attempted, 1))
    e2e ++= o.e2e
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else rec.layerMetrics(o.measured, a.cores) ++ o.layers
    if (a.trace) rec.dump(s"${a.work}/spans.jsonl")
    val run = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> a.cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "calibration_ms" -> calib, "load_1m_start" -> load0, "load_1m_end" -> Host.loadAvg1m(),
      "session_s" -> sessionMs / 1000, "setup_reps_s" -> o.setupRepsMs.map(_ / 1000),
      "gen_late_max_ms" -> o.genLateMaxMs)
    Files.writeString(a.out, Json(Map(
      "run" -> run, "e2e" -> e2e, "layers" -> layers,
      "attempted" -> o.attempted, "failed_ops" -> o.failedOps, "errors" -> o.errors.take(20),
      "gate" -> o.gate)) + "\n")
    spark.stop()
  }
}
