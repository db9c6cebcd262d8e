package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up, measure, check and (with
  * `--trace 1`) re-run the workload traced, then walk the layers.
  * `perfbench/run.py` generates the corpus into `--work` and starts
  * this main; see `perfbench/README.md`.
  *
  * stdout ends with a `{"run_record": ...}` line and the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
object BenchMain {
  /** Session starts per run; `setup_s` adds their median to the
    * workload's own set-up, which runs once. */
  val SessionStarts = 3
  val ExplorerClients = 2
  val ExplorerWarmup = 20  // lookups

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val traceFile = Paths.get(arg(args, "trace-file")).toAbsolutePath

    val w: Workload = workload match {
      case "daemon" =>
        new Daemon(work, seconds, arg(args, "tail-rate").toDouble, arg(args, "tail-warmup").toDouble)
      case "explorer" => new Explorer(work, seconds, ExplorerClients, ExplorerWarmup)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the host fingerprint (fsync, steal, load1) is probed while the
    // session starts and again while the output checks run
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fpStart = Future(graft.HostFingerprint.probe())

    var spark: SparkSession = null
    val starts = (1 to SessionStarts).map { _ =>
      if (spark != null) Harness.stopSession(spark)
      Harness.timed { spark = Harness.startSession(cores, work) }._2
    }
    try {
      val prepS = Harness.timed(w.setup(spark))._2
      val (m, measureS) = Harness.timed(w.measure(spark, "plain"))
      val fpEnd = Future(graft.HostFingerprint.probe())
      val (checks, checkS) = Harness.timed(w.check(spark, m))
      checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))
      val failed = m.failed + checks.count(!_.ok)
      val attempted = m.attempted + checks.size

      val endToEnd = Seq(
        ("setup_s", Harness.median(starts) + prepS, "s"),
        ("ops_per_s", m.opsPerS, "1/s"),
        ("latency_ms_p50", Harness.pct(m.latenciesMs, 0.50), "ms"),
        ("latency_ms_p80", Harness.pct(m.latenciesMs, 0.80), "ms"),
        ("stored_bytes_ratio", m.storedRatio, "ratio"))

      val (metrics, traceRecord) =
        if (!trace) (endToEnd :+ ("peak_rss_mb", Harness.peakRssMb(), "MB"), Map.empty[String, Any])
        else traced(spark, w, m, work, traceFile)

      val record = Map(
        "workload" -> workload, "seed" -> arg(args, "seed"), "seconds" -> seconds,
        "cores" -> cores, "trace" -> trace,
        "generator" -> w.corpus.params,
        "fs" -> Map("work_dir" -> work.toString, "store" -> fsType(work),
          "flush" -> "default page cache; checkpoints and tables fsync as Spark/RocksDB do"),
        "host_start" -> Harness.parseJson(Await.result(fpStart, Duration.Inf).json),
        "host_end" -> Harness.parseJson(Await.result(fpEnd, Duration.Inf).json),
        "session_start_s" -> starts, "workload_setup_s" -> prepS, "measure_s" -> measureS, "check_s" -> checkS,
        "samples" -> m.latenciesMs.size,
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "memory" -> Harness.memoryRecord(),
        "measure" -> m.record) ++ traceRecord
      println(Harness.json(Map("run_record" -> record)))
      println(Harness.json(Map(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
      if (failed > 0) sys.exit(1)
    } finally Harness.stopSession(spark)
  }

  /** The traced re-run: listeners attached, the same measured pass,
    * then a second untraced pass and the layer walk. Returns every
    * per-layer metric plus the tracing overhead: the traced pass
    * against the mean of the untraced passes before and after it, so
    * warm-up that is left over between passes does not read as
    * overhead. */
  private def traced(
      spark: SparkSession, w: Workload, plain: Measured, work: Path,
      traceFile: Path): (Seq[(String, Double, String)], Map[String, Any]) = {
    val engine = new EngineListener
    val stream = new StreamListener
    val tr = new Tracer
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(stream)
    val m = try tr.span(w.name)(w.measure(spark, "traced"))
    finally spark.sparkContext.removeSparkListener(engine)
    val engineMetrics = engine.metrics
    stream.recording = false
    val after = w.measure(spark, "plain-after")
    // the walk's queries count in the stream metrics too
    stream.recording = true
    val walk = new LayerWalk(spark, w.corpus, w.txTables(m), work, tr).run()
    spark.streams.removeListener(stream)
    def p50(x: Measured) = Harness.pct(x.latenciesMs, 0.5)
    def overhead(t: Double, u1: Double, u2: Double) = 100.0 * (t - (u1 + u2) / 2) / ((u1 + u2) / 2)
    val metrics = stream.metrics(w.corpus.blocksIn) ++ walk ++ engineMetrics ++ Seq(
      ("trace.overhead_ops_pct", overhead(m.opsPerS, plain.opsPerS, after.opsPerS), "%"),
      ("trace.overhead_latency_p50_pct", overhead(p50(m), p50(plain), p50(after)), "%"))
    Files.createDirectories(traceFile.getParent)
    Files.writeString(traceFile, tr.toJson)
    (metrics, Map("trace_file" -> traceFile.toString, "traced_measure" -> m.record,
      "untraced_after" -> Map("ops_per_s" -> after.opsPerS, "latency_ms_p50" -> p50(after),
        "measure" -> after.record)))
  }

  private def fsType(p: Path): String =
    scala.util.Try(Files.getFileStore(p).`type`()).getOrElse("unknown")
}
