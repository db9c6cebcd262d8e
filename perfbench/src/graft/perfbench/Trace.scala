package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. `parent` is the id of the span that
  * caused it (0 for a root); every span of one run shares the run id
  * the trace file is named after. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder: spans stay in memory and are written when the run
  * ends. Nesting follows the calling thread's open spans. */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, stack.headOption.getOrElse(0L), name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Duration of the named span (summed if it ran more than once). */
  def seconds(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = Harness.json(all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "seconds" -> s.seconds, "self_seconds" -> selfSeconds(s))))
}

/** Spark's job counters, summed over every task that ends while it is
  * attached (`SparkListener`, the scheduler's public listener API). */
final class EngineListener extends SparkListener {
  val jobs, tasks, shuffleRead, shuffleWrite, spill, gcMs, cpuNs = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("engine.jobs", jobs.get.toDouble, "count"),
    ("engine.tasks", tasks.get.toDouble, "count"),
    ("engine.shuffle_read_bytes", shuffleRead.get.toDouble, "bytes"),
    ("engine.shuffle_write_bytes", shuffleWrite.get.toDouble, "bytes"),
    ("engine.spill_bytes", spill.get.toDouble, "bytes"),
    ("engine.gc_ms", gcMs.get.toDouble, "ms"),
    ("engine.executor_cpu_ms", cpuNs.get / 1e6, "ms"))
}

/** Every micro-batch progress of the streaming queries started while
  * it is attached: Spark's `durationMs` phase split and the
  * `stateOperators` metrics (the Structured Streaming progress model). */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Whether queries started from now on are recorded. A query's start
    * event reaches the listener before `start()` returns, so a query
    * started while this is off is left out whole, even though its
    * progress events arrive later. */
  @volatile var recording = true
  private val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    if (recording) runs.add(e.runId)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (runs.contains(e.progress.runId)) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  private def phaseMs(key: String): Double =
    all.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum

  /** Source rows read ÷ blocks ingested, over every `graft-blocks`
    * query; `blocksIn(from, to)` counts the real heights in (from, to]. */
  def sourceReadsPerBlock(blocksIn: (Long, Long) => Long): Double = {
    val perQuery = all
      .filter(_.sources.exists(_.description.contains("BlocksMicroBatchStream")))
      .groupBy(_.id)
      .values.map { ps =>
        val withData = ps.filter(_.numInputRows > 0)
        if (withData.isEmpty) (0L, 0L)
        else {
          val src = withData.map(_.sources.head)
          val from = src.map(s => Option(s.startOffset).map(_.toLong).getOrElse(-1L)).min
          val to = src.map(_.endOffset.toLong).max
          (withData.map(_.numInputRows).sum, blocksIn(from, to))
        }
      }
    val (reads, blocks) = perQuery.foldLeft((0L, 0L)) {
      case ((r, b), (r2, b2)) => (r + r2, b + b2)
    }
    if (blocks == 0) 0.0 else reads.toDouble / blocks
  }

  def metrics(blocksIn: (Long, Long) => Long): Seq[(String, Double, String)] = {
    val ops = all.flatMap(_.stateOperators.toSeq)
    Seq(
      ("stream.source_reads_per_block", sourceReadsPerBlock(blocksIn), "ratio"),
      ("stream.batches", all.count(_.numInputRows > 0).toDouble, "count"),
      ("stream.plan_ms", phaseMs("queryPlanning"), "ms"),
      ("stream.latest_offset_ms", phaseMs("latestOffset"), "ms"),
      ("stream.add_batch_ms", phaseMs("addBatch"), "ms"),
      ("stream.wal_commit_ms", phaseMs("walCommit"), "ms"),
      ("stream.commit_offsets_ms", phaseMs("commitOffsets"), "ms"),
      ("etl.state_rows_peak",
        ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count"),
      ("etl.state_bytes_peak",
        ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes"),
      ("etl.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum, "ms"))
  }
}
