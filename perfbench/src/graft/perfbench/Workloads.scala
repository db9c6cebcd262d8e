package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.stream.BlockStream

/** What one measured pass of a workload yields. `latenciesMs` are the
  * per-operation latencies the percentiles come from; `attempted` and
  * `failed` count its operations (micro-batches or lookups). */
final case class Measured(
    opsPerS: Double, latenciesMs: Seq[Double], storedRatio: Double,
    attempted: Long, failed: Long, out: Path, record: Map[String, Any])

trait Workload {
  def name: String
  /** Work after the session starts that the workload needs before it
    * can measure, timed into `setup_s`: the daemon's warm-up drain (the
    * JIT and Spark's lazy set-up), the backfill that builds the
    * explorer's tables. */
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, tag: String): Measured
  def check(spark: SparkSession, m: Measured): Seq[Checks.Result]
  /** The corpus the layer walk replays. */
  def corpus: Corpus
  /** Where a measured pass left the transactions-mode tables. */
  def txTables(m: Measured): Path = m.out
}

object Workloads {
  /** Commit time (epoch ms) of the first batch of `q` whose end offset
    * reaches each height; a batch commits `triggerExecution` ms after
    * its trigger started. */
  def commitTimes(q: StreamingQuery): Seq[(Long, Long)] =
    q.recentProgress.toSeq
      .filter(p => p.sources.nonEmpty && p.numInputRows > 0)
      .sortBy(_.batchId)
      .map { p =>
        val end = p.sources.head.endOffset.toLong
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        (end, start + p.durationMs.get("triggerExecution").longValue)
      }

  /** Visible time of height `h`: the latest commit among `qs`. */
  def visibleAt(perQuery: Seq[Seq[(Long, Long)]], h: Long): Option[Long] = {
    val ts = perQuery.map(_.find(_._1 >= h).map(_._2))
    if (ts.forall(_.isDefined)) Some(ts.flatten.max) else None
  }

  def batches(qs: StreamingQuery*): Long =
    qs.map(_.recentProgress.count(_.numInputRows > 0).toLong).sum

  /** Transactions mode as `Main` wires it: the `blocks` and
    * `transactions` queries on one input, `--native`. */
  def startTxMode(spark: SparkSession, in: Path, out: Path, trigger: Trigger)
      : Seq[StreamingQuery] = Seq(
    BlockStream.runBlocksPipeline(spark, in.toString, out.toString,
      out.resolve("_checkpoints/blocks").toString, trigger, nativeSource = true),
    BlockStream.runTransactionsPipeline(spark, in.toString, out.toString,
      out.resolve("_checkpoints/transactions").toString, trigger, nativeSource = true))

  def storedBytes(out: Path, tables: Seq[TableDef]): Long =
    tables.map(t => Harness.dirBytes(out.resolve(t.name))).sum

  /** Least-squares line `ms = fixed + perBlock * blocks` through the
    * batches' (blocks, ms) points: a batch's fixed cost and its cost
    * per block. */
  def lineFit(pts: Seq[(Double, Double)]): (Double, Double) = {
    val (mx, my) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val b = if (sxx == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (my - b * mx, b)
  }
}

/** The daemon's life in one run: catch up on a backlog, then tail.
  *
  * Catch-up (closed, no rate): actions mode drains the backlog under
  * `AvailableNow`; then the transactions daemon starts in follow mode
  * (`ProcessingTime("2 seconds")`, as `Main --follow --native` wires
  * the `blocks` and `transactions` queries) over a directory that
  * holds the backlog, and its first batch drains it under the
  * production trigger cap. Per-block work dominates: extract,
  * correlate, fan-out and the sink writes. It gives `ops_per_s` and
  * the stored bytes.
  *
  * Tail (open loop): once the backlog is visible, one writer thread
  * appends the rest of the chain as `<height>.json` documents at
  * `rate` blocks/s. Fixed per-trigger cost dominates. A block's
  * latency runs from its due write time until both queries have
  * committed the batch holding its height; the first `warmupS` of the
  * schedule are not measured. It gives the latency percentiles. */
final class Daemon(work: Path, seconds: Int, rate: Double, warmupS: Double) extends Workload {
  val name = "daemon"
  val corpus = new Corpus(work.resolve("corpus"))
  private val warm = new Corpus(work.resolve("warm"))

  private def drainActions(spark: SparkSession, in: Path, out: Path): StreamingQuery = {
    val q = BlockStream.runActionsPipeline(spark, in.toString, out.toString,
      out.resolve("_checkpoints/actions").toString, Trigger.AvailableNow(), nativeSource = true)
    Harness.awaitAll(q)
    q
  }

  /** Both modes drain a small warm-up corpus, so the measured pass does
    * not pay the JVM's and Spark's first pass through their code. A
    * warm-up of the measured pass's own shape, of its full size, or run
    * twice, left the measured pass no faster, so this one is kept
    * short. */
  def setup(spark: SparkSession): Unit = {
    val out = work.resolve("warm-out")
    drainActions(spark, warm.docsDir, out.resolve("actions"))
    Harness.awaitAll(Workloads.startTxMode(
      spark, warm.docsDir, out.resolve("tx"), Trigger.AvailableNow()): _*)
    Harness.delete(out)
  }

  def measure(spark: SparkSession, tag: String): Measured = {
    val root = work.resolve(s"run-$tag")
    val in = root.resolve("blocks")
    val (out, act) = (root.resolve("tx"), root.resolve("actions"))
    val backlog = corpus.backlogHeights
    val actStarted = System.currentTimeMillis()
    val (qa, actS) = Harness.timed(drainActions(spark, corpus.docsDir, act))

    Files.createDirectories(in)
    val backlogDocs = Files.list(corpus.docsDir)
    try backlogDocs.forEach(f => Files.copy(f, in.resolve(f.getFileName)))
    finally backlogDocs.close()
    val started = System.currentTimeMillis()
    val Seq(qb, qt) = Workloads.startTxMode(spark, in, out, Trigger.ProcessingTime("2 seconds"))
    def commits = Seq(qb, qt).map(Workloads.commitTimes)
    def awaitVisible(h: Long): Long = {
      val deadline = System.currentTimeMillis() + 60000
      var at = Workloads.visibleAt(commits, h)
      while (at.isEmpty) {
        Seq(qb, qt).foreach(q => q.exception.foreach(e => throw e))
        require(System.currentTimeMillis() < deadline, s"height $h never committed")
        Thread.sleep(20)
        at = Workloads.visibleAt(commits, h)
      }
      at.get
    }
    val docs = corpus.docHeights.filter(_ > backlog.last)
    val due = new Array[Long](docs.length)
    val late = new Array[Long](docs.length)
    val (txS, stored) = try {
      val txS = (awaitVisible(backlog.last) - started) / 1000.0
      val stored = Workloads.storedBytes(out, TableDef.txMode) +
        Workloads.storedBytes(act, TableDef.actionsMode)
      val t0 = System.currentTimeMillis() + 200
      docs.indices.foreach(k => due(k) = t0 + math.round(k * 1000.0 / rate))
      val writer = new Thread(() => docs.indices.foreach { k =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val h = docs(k)
        val tmp = in.resolve(s".$h.json.tmp")
        Files.copy(corpus.stagingDir.resolve(s"$h.json"), tmp)
        Files.move(tmp, in.resolve(s"$h.json"), StandardCopyOption.ATOMIC_MOVE)
        late(k) = System.currentTimeMillis() - due(k)
      }, "perfbench-block-writer")
      writer.start()
      writer.join()
      awaitVisible(corpus.heights.last)
      (txS, stored)
    } finally { qb.stop(); qt.stop() }

    val dueOf = docs.zip(due).toMap
    val lo = due(0) + math.round(warmupS * 1000)
    val measured = corpus.heights.filter(h =>
      dueOf.get(h).exists(d => d >= lo && d < lo + seconds * 1000L))
    val fresh = measured.toSeq.map(h => (Workloads.visibleAt(commits, h).get - dueOf(h)).toDouble)
    // catch-up start-up: from starting a mode's queries until its first
    // data batch starts, which is the part of the catch-up time that
    // does not grow with the backlog
    def firstBatchAt(q: StreamingQuery): Long = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).min
    val startupS = (firstBatchAt(qa) - actStarted + Seq(qb, qt).map(firstBatchAt).max - started) / 1000.0
    val txBatches = qt.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
      (p.numInputRows, p.durationMs.get("triggerExecution").longValue))
    val (fixedMs, perBlockMs) = Workloads.lineFit(txBatches.map { case (n, ms) => (n.toDouble, ms.toDouble) })
    val n = backlog.length
    Measured(
      opsPerS = 2.0 * n / (txS + actS), latenciesMs = fresh,
      storedRatio = stored.toDouble / corpus.backlogInputBytes,
      attempted = Workloads.batches(qb, qt), failed = 0L, out = root,
      record = Map("backlog_blocks" -> n, "tx_blocks_per_s" -> n / txS,
        "actions_blocks_per_s" -> n / actS,
        "catchup_startup_share" -> startupS / (txS + actS),
        "tx_batch_fixed_ms" -> fixedMs, "tx_batch_ms_per_block" -> perBlockMs,
        "catchup_per_block_share" -> perBlockMs * n / 1000.0 / txS,
        "tail_blocks_measured" -> measured.length,
        "tail_rate_blocks_per_s" -> rate,
        "tail_writer_late_ms_p95" -> Harness.pct(late.toSeq.map(_.toDouble), 0.95),
        "tail_writer_late_ms_max" -> late.max,
        "tx_batches" -> txBatches.map { case (k, ms) => Seq(k, ms) }))
  }

  override def txTables(m: Measured): Path = m.out.resolve("tx")

  /** The transactions-mode tables equal the fold over every block
    * written, backlog and tail, so every written height is committed;
    * the actions tables and both quarantines match the truth. */
  def check(spark: SparkSession, m: Measured): Seq[Checks.Result] = {
    val act = m.out.resolve("actions")
    Checks.txTables("tx", spark, txTables(m), m.out.resolve("blocks"), corpus,
      Checks.actionsTables(spark, act, corpus.backlogRows) ++ Seq(
        () => Checks.quarantine("tx", spark, txTables(m), corpus.rows("quarantine")),
        () => Checks.quarantine("actions", spark, act, corpus.backlogRows("quarantine"))))
  }
}

/** Closed-loop explorer: `BlockStream.runBackfill` builds the tables
  * (the history path), then two client threads on one session run the
  * seeded lookup mix through `Replacing.dedupView`. */
final class Explorer(work: Path, seconds: Int, clients: Int, warmupLookups: Int)
    extends Workload {
  val name = "explorer"
  val corpus = new Corpus(work.resolve("corpus"))
  private val out = work.resolve("backfill")

  def setup(spark: SparkSession): Unit =
    BlockStream.runBackfill(spark, corpus.docsDir.toString, out.toString)

  def measure(spark: SparkSession, tag: String): Measured = {
    val lk = new Lookups(spark, out)
    val mix = corpus.lookups
    (0 until warmupLookups).foreach(i => lk.run(mix(i % mix.size)))
    val next = new AtomicInteger(warmupLookups)
    val failed = new AtomicLong(0L)
    val lat = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, Double)]())
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = (0 until clients).map { c =>
      new Thread(() => while (System.nanoTime() < deadline) {
        val l = mix(next.getAndIncrement() % mix.size)
        val s = System.nanoTime()
        val ok = scala.util.Try(lk.run(l)).getOrElse(false)
        lat.add(l.kind -> (System.nanoTime() - s) / 1e6)
        if (!ok) failed.incrementAndGet()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = Harness.secondsSince(t0)
    import scala.jdk.CollectionConverters._
    val byKind = lat.asScala.toSeq
    val samples = byKind.map(_._2)
    Measured(
      opsPerS = samples.size / wall, latenciesMs = samples,
      storedRatio = Workloads.storedBytes(out, TableDef.txMode).toDouble / corpus.inputBytes,
      attempted = samples.size.toLong, failed = failed.get, out = out,
      record = Map("clients" -> clients, "lookups" -> samples.size,
        "median_ms_by_kind" -> byKind.groupBy(_._1).map { case (k, v) =>
          k -> Harness.median(v.map(_._2)) }))
  }

  def check(spark: SparkSession, m: Measured): Seq[Checks.Result] =
    Seq(Checks.Result("lookups", m.failed == 0, s"${m.failed} of ${m.attempted} lookups wrong"))
}
