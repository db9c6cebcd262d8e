package graft.perfbench

import java.nio.file.Path

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{ActionsExtract, DistributedCorrelator, TxCorrelator}
import graft.schema.{Blocks, BlockWithTxHashes}
import graft.sink.Replacing
import graft.stream.{BlockStream, DirBlockFetcher}

/** The traced run's layer walk: each layer's public function called in
  * turn over the workload's corpus, at the daemon's trigger size, one
  * span per call. Frames a call consumes are materialized before its
  * span opens, so a span times its own layer only. */
final class LayerWalk(spark: SparkSession, corpus: Corpus, tables: Path, work: Path, tr: Tracer) {
  import spark.implicits._

  /** The daemon's production trigger cap (`readBlockSource`'s default). */
  val TriggerBlocks = 1000
  /** Lookups the read probe times (the generator writes at least this many). */
  val WalkLookups = 20

  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private def count(name: String, v: Double, unit: String): Unit = counts(name) = (v, unit)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def persisted[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    noop(p.toDF())
    p
  }

  def run(): Seq[(String, Double, String)] = tr.span("walk") {
    val blocks = stream()
    val txs = etl(blocks)
    sink(blocks, txs)
    read()
    blocks.unpersist(); txs.unpersist()
    spans ++ counts.map { case (k, (v, u)) => (k, v, u) }
  }

  private def spans: Seq[(String, Double, String)] =
    Seq("stream.fetch", "stream.parse", "stream.drain", "etl.extract", "etl.correlate",
      "etl.correlate_fold", "etl.fanout", "etl.backfill_correlate")
      .map(n => (s"${n}_s", tr.seconds(n), "s")) ++
      (TableDef.txMode ++ TableDef.actionsMode).map(t =>
        (s"sink.write_s.${t.name}", tr.seconds(s"sink.write.${t.name}"), "s"))

  /** stream: fetch every document, parse it as the source does, and
    * drain the native source as the daemon reads it. */
  private def stream(): DataFrame = tr.span("stream") {
    val fetcher = new DirBlockFetcher(corpus.docsDir.toString)
    val docs = tr.span("stream.fetch") {
      (0L to fetcher.headHeight()).flatMap(h => fetcher.fetch(h).map(h -> _))
    }
    val raw = persisted(docs.toDF("block_height", "value"))
    val parsed = tr.span("stream.parse") {
      persisted(raw.select(from_json(col("value"),
        Blocks.schema.add("_corrupt_record", "string"),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
        .as("b")).select(col("b.*")))
    }
    raw.unpersist()
    tr.span("stream.drain") {
      val q = BlockStream.readBlockSource(spark, corpus.docsDir.toString)
        .writeStream.format("noop")
        .option("checkpointLocation", work.resolve("walk-drain").toString)
        .trigger(Trigger.AvailableNow()).start()
      Harness.awaitAll(q)
    }
    val good = persisted(parsed.where(col("_corrupt_record").isNull && col("block").isNotNull)
      .drop("_corrupt_record"))
    parsed.unpersist()
    good
  }

  /** etl: extract, the streaming correlator at the trigger size, its
    * sequential fold, the fan-out, and the backfill correlator. */
  private def etl(blocks: DataFrame): Dataset[TxCorrelator.CompletedTx] = tr.span("etl") {
    tr.span("etl.extract") {
      val idx = ActionsExtract.indexedReceipts(blocks).persist()
      val (a, e, d) = (ActionsExtract.actions(idx), ActionsExtract.events(idx),
        ActionsExtract.data(idx))
      Seq(a, e, d).foreach(noop)
      count("etl.extract_rows", Seq(a, e, d).map(_.count()).sum.toDouble, "count")
      idx.unpersist()
    }
    val typed = Checks.typed(blocks)
    val local = typed.collect().sortBy(_.block.header.height)
    tr.span("etl.correlate")(correlateStream(local.toIndexedSeq))
    val txs = tr.span("etl.correlate_fold") {
      persisted(TxCorrelator.correlateBatch(typed))
    }
    // the fold's end state: transactions still waiting on receipts
    val (end, done) = local.foldLeft((TxCorrelator.emptyState, 0L)) {
      case ((st, n), b) =>
        val (st2, c) = TxCorrelator.processBlock(st, b)
        (st2, n + c.size)
    }
    count("etl.pending_end", end.transactions.size.toDouble, "count")
    count("etl.completed_txs", done.toDouble, "count")
    tr.span("etl.fanout") {
      TableDef.txMode.filter(_.name != "blocks").foreach(t => noop(TableDef.fanout(t, txs)))
    }
    tr.span("etl.backfill_correlate") {
      val (c, cut) = DistributedCorrelator.correlateWithCut(blocks)
      noop(c.toDF())
      cut()
    }
    txs
  }

  /** `correlateStreamTws` fed `TriggerBlocks` blocks per micro-batch,
    * under the production state conf on a cloned session, as
    * `runTransactionsPipeline` runs it. */
  private def correlateStream(local: Seq[BlockWithTxHashes]): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark.newSession()
    BlockStream.ProductionStateConf.foreach { case (k, v) => s.conf.set(k, v) }
    spark.streams.listListeners().foreach(s.streams.addListener)
    TxCorrelator.ensureRocksDb(s)
    val in = MemoryStream[BlockWithTxHashes](Blocks.encoder, s)
    val q = TxCorrelator.correlateStreamTws(in.toDS())
      .writeStream.format("noop")
      .option("checkpointLocation", work.resolve("walk-correlate").toString)
      .start()
    try local.grouped(TriggerBlocks).foreach { g => in.addData(g); q.processAllAvailable() }
    finally q.stop()
  }

  /** sink: `Replacing.appendWrite` of each table, then the daemon's
    * commit shape — three sibling tx tables in a pool of three, then
    * `transactions` — to measure how much the pooled writes overlap. */
  private def sink(blocks: DataFrame, txs: Dataset[TxCorrelator.CompletedTx]): Unit =
    tr.span("sink") {
      val idx = ActionsExtract.indexedReceipts(blocks)
      val frames: Map[String, DataFrame] = Map(
        "blocks" -> graft.etl.TxFanout.blocks(blocks),
        "actions" -> ActionsExtract.actions(idx),
        "events" -> ActionsExtract.events(idx),
        "data" -> ActionsExtract.data(idx)) ++
        TableDef.txMode.filter(_.name != "blocks").map(t => t.name -> TableDef.fanout(t, txs))
      val all = TableDef.txMode ++ TableDef.actionsMode
      val cached = frames.map { case (k, v) => k -> persisted(v) }
      def write(t: TableDef, dir: Path): Unit = Replacing.appendWrite(
        cached(t.name), dir.resolve(t.name).toString, t.heightCol, t.key, t.bloom)
      val out = work.resolve("walk-sink")
      all.foreach(t => tr.span(s"sink.write.${t.name}")(write(t, out)))
      count("sink.files_written", Harness.dirFiles(out).toDouble, "count")
      count("sink.bytes_written", Harness.dirBytes(out).toDouble, "bytes")

      val pooledOut = work.resolve("walk-pooled")
      val siblings = TableDef.txMode.filter(t => t.name != "blocks" && t.name != "transactions")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(siblings.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val (busy, wall) = Harness.timed {
          Await.result(Future.sequence(siblings.map(t => Future(
            Harness.timed(write(t, pooledOut))._2))), Duration.Inf).sum
        }
        write(TableDef.transactions, pooledOut)
        count("sink.pool_overlap", busy / wall, "ratio")
      } finally pool.shutdown()
      cached.values.foreach(_.unpersist())
    }

  /** sink reads: the explorer lookups over the workload's own tables,
    * with planning and execution timed apart and the scans' file, byte
    * and row counts read from the executed plan. */
  private def read(): Unit = tr.span("sink.read") {
    val lk = new Lookups(spark, tables)
    val mix = corpus.lookups.take(WalkLookups)
    val per = mix.map { l =>
      val df = lk.frame(l)
      val (_, planS) = Harness.timed(df.queryExecution.executedPlan)
      val (rows, execS) = Harness.timed(df.collect())
      val (files, bytes, scannedRows) = Lookups.scanned(df)
      (planS * 1000, execS * 1000, files, bytes, scannedRows, rows.length)
    }
    count("sink.read_plan_ms", Harness.median(per.map(_._1)), "ms")
    count("sink.read_exec_ms", Harness.median(per.map(_._2)), "ms")
    count("sink.files_read_per_lookup", per.map(_._3).sum.toDouble / per.size, "count")
    count("sink.bytes_read_per_lookup", per.map(_._4).sum.toDouble / per.size, "bytes")
    count("sink.rows_scanned_per_row_returned",
      per.map(_._5).sum.toDouble / math.max(1, per.map(_._6).sum), "ratio")
  }
}
