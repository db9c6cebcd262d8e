package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StringType
import graft.etl.{ActionsExtract, TxCorrelator, TxFanout}
import graft.schema.{Blocks, BlockWithTxHashes}
import graft.sink.{ClickHouseDdl, Replacing}

/** Structured Streaming wrapper (SURVEY.md §2.1–2.2, §2.9): the
  * reference's fetcher/channel/commit machinery re-expressed as a
  * file-based block stream + `foreachBatch` idempotent sinks.
  *
  * Mapping:
  *  - S1 ordered fetcher + bounded channel(100) → `readStream.json`
  *    with `maxFilesPerTrigger` backpressure; height order enforced by
  *    sorting inside each micro-batch (+ the correlator's chain check
  *    across batches).
  *  - S3 resume cursor (`SELECT max(block_height)`) → streaming
  *    checkpoint; the sink-derived cursor is kept as the repair path:
  *    [[sinkCursor]] + the skip filter in each batch.
  *  - S4 1000-block rewind → unnecessary (state store recovers from
  *    checkpoint); replays are harmless because every table write is
  *    one retried append whose duplicates collapse under the dedup view
  *    (K1/A5 → [[write]]: Replacing.retry + appendWrite, the table's
  *    layout from `ClickHouseDdl.layouts`).
  *  - K2 commit cadence → trigger choice (AvailableNow drains a
  *    backlog; ProcessingTime for tailing).
  *  - K3 async commit pipeline (≤3 in flight) → concurrent per-table
  *    writes inside one foreachBatch under a bounded pool
  *    (MAX_COMMIT_HANDLERS = 3 parity); the batch boundary itself
  *    commits synchronously so the checkpoint contract is unchanged.
  *  - K5 multi-table fan-out → one cached batch, N writes.
  */
object BlockStream {

  /** Production state-store defaults for the correlator wire — the
    * r11 probe (BASELINE.md round-11 state table) showed the DEFAULT
    * conf pays 1,105 MB of checkpoint at 100× volume for ~25 KB of
    * live state, and attributed every part to a specific default:
    *
    *  - `minBatchesToRetain = 100` keeps 100 full state versions —
    *    retention, not state, dominated the 1.1 GB. 2 is the floor
    *    that still allows one-batch replay after a crash (the offset/
    *    commit log pair the restart reads).
    *  - RocksDB CHANGELOG checkpointing uploads per-batch deltas
    *    instead of full SST snapshots — per-batch commit cost tracks
    *    the batch's writes, not the store size (snapshots still happen,
    *    in the background at `minDeltasForSnapshot` cadence).
    *  - `shuffle.partitions = 1` for the stream's session: the
    *    correlator keys every block by one constant (ordered
    *    processing), so exactly one state store can hold a row. Every
    *    further partition is an empty RocksDB store that still loads
    *    and fsyncs its changelog on every trigger. Over a traced
    *    perfbench daemon run (4 cores) the summed
    *    `stateOperators.commitTimeMs` was 4.6–5.9 s at 8 partitions
    *    and 0.4–0.9 s at 1, and Spark tasks fell from 517–611 to
    *    165–223. The fan-out has no join, and Spark turns AQE off in a
    *    stateful query, so the `foreachBatch` writes' shuffles also run
    *    at this width.
    *    Pinned per NEW checkpoint only: on resume Spark repins the
    *    value recorded in the checkpoint's own offset log, so a
    *    checkpoint started at 8 keeps its 8 stores (BlockStreamSpec).
    *
    * Applied by [[runTransactionsPipeline]] to a cloned session; the
    * r12 re-probe (BASELINE.md round-12 table) measured checkpoint
    * 20.6 → 2.8 MB at 10× and 1,104 → 82.9 MB at 100× (state-size
    * order, not retention order), median latency 24.1 → 20.9 s at
    * 100×, identical completed-tx counts.
    *
    * The map itself lives on [[graft.etl.TxCorrelator]] (round 13):
    * the pack's bounded vehicle `correlateBatchTws` must run the SAME
    * conf as this wire, and etl must not depend back on stream. */
  val ProductionStateConf: Map[String, String] =
    TxCorrelator.ProductionStateConf

  /** Block documents parse with corrupt-record capture: malformed JSON
    * lands in `_corrupt_record` (PERMISSIVE would otherwise admit an
    * all-null block row silently and the extract would just drop it —
    * an ingestion bug you'd never see). Pipelines quarantine those rows. */
  private val parseSchema = Blocks.schema.add("_corrupt_record", StringType)
  private val permissive = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** Block stream over a JSON file directory, parsed as above. */
  def readBlockStream(
      spark: SparkSession, inDir: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(parseSchema)
      .options(permissive)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)

  /** Block stream over the NATIVE height-offset source ([[BlocksSource]])
    * instead of the file stream: offsets ARE block heights (resume /
    * rewind = height arithmetic, the reference's cursor), ranges fetch in
    * parallel, `maxBlocksPerTrigger` is real admission control. Emits the
    * same shape as [[readBlockStream]] (parsed block + `_corrupt_record`),
    * so every pipeline accepts either interchangeably. `fetcher=dir`
    * replays a document directory; `fetcher=http` tails a neardata-style
    * endpoint (pass `url`). */
  def readBlockSource(
      spark: SparkSession, pathOrUrl: String,
      fetcher: String = "dir", startHeight: Long = 0L,
      maxBlocksPerTrigger: Long = 1000L): DataFrame =
    spark.readStream.format("graft-blocks")
      .option(if (fetcher == "http") "url" else "path", pathOrUrl)
      .option("fetcher", fetcher)
      .option("startHeight", startHeight)
      .option("maxBlocksPerTrigger", maxBlocksPerTrigger)
      .load()
      .select(from_json(col("value"), parseSchema, permissive).as("b"))
      .select(col("b.*"))

  /** The pipelines' source: the native height-offset source starting at
    * `startHeight`, or the file stream (which replays from its own
    * checkpoint and ignores `startHeight`). */
  private def source(
      spark: SparkSession, inDir: String, nativeSource: Boolean,
      startHeight: Long): DataFrame =
    if (nativeSource) readBlockSource(spark, inDir, startHeight = startHeight)
    else readBlockStream(spark, inDir)

  /** Start `src` as a checkpointed stream that hands each micro-batch
    * to `sink`. */
  private def startStream[T](
      src: Dataset[T], checkpoint: String, trigger: Trigger)(
      sink: Dataset[T] => Unit): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: Dataset[T], _: Long) => sink(batch))
      .start()

  /** Split a micro-batch into (good blocks, quarantine rows) and append
    * the quarantine (raw line + arrival batch) for forensics. With
    * `skipCommit` the quarantine append is suppressed like every other
    * write (the bad rows still get filtered out). */
  def quarantine(
      batch: DataFrame, outDir: String,
      skipCommit: Boolean = false): DataFrame = {
    val bad = batch.where(
      col("_corrupt_record").isNotNull || col("block").isNull)
    if (!skipCommit && !bad.isEmpty)
      bad.select(
        col("_corrupt_record").as("raw"),
        col("block.header.height").as("claimed_height"))
        .write.mode("append").json(s"$outDir/_quarantine")
    batch.where(col("_corrupt_record").isNull && col("block").isNotNull)
      .drop("_corrupt_record")
  }

  /** The one table write (K1, the reference's retried insert in
    * click.rs:50-85): `rows` appended to `outDir/table` in the table's
    * [[ClickHouseDdl.Layout]] — height buckets of `step` blocks over its
    * `heightCol`, files sorted by its ORDER BY key, bloom filters on its
    * `bloom` columns — retried with backoff.
    *
    * `skipCommit` is the reference's skip-commit debugging mode
    * (`/root/reference/src/click.rs:63`, `README.md:105`: run the full
    * pipeline, commit nothing). The WHOLE transform still executes —
    * extract, correlate, cursor filters, state-store updates, progress
    * events — because the dry branch forces a count-only
    * materialization; only the sink write is withheld. That makes it
    * the operational smoke test the reference uses it as: identical
    * work, zero mutation. */
  private def write(
      table: String, rows: DataFrame, outDir: String, step: Long,
      skipCommit: Boolean): Unit =
    if (skipCommit)
      println(s"[graft] skip-commit: $table NOT written (${rows.count()} rows)")
    else {
      val layout = ClickHouseDdl.layouts(table)
      Replacing.retry() {
        Replacing.appendWrite(rows, s"$outDir/$table", layout.heightCol,
          layout.orderBy, layout.bloom, step)
      }
    }

  /** Sink-derived resume cursor (S3): max of `cursorCol` already
    * persisted, or -1 when the sink is empty/nonexistent. Each table
    * keeps its own cursor so a crash between the fan-out writes of one
    * micro-batch heals per table on restart. */
  def sinkCursor(
      spark: SparkSession, path: String,
      cursorCol: String = "block_height"): Long =
    try {
      val v = spark.read.parquet(path).agg(max(col(cursorCol))).head()
      if (v.isNullAt(0)) -1L else v.getLong(0)
    } catch { case _: Throwable => -1L }

  val actionsOrderKey: Seq[String] = ClickHouseDdl.layouts("actions").orderBy
  val eventsOrderKey: Seq[String] = ClickHouseDdl.layouts("events").orderBy
  val dataOrderKey: Seq[String] = ClickHouseDdl.layouts("data").orderBy

  /** actions-mode pipeline: blocks JSON dir → 3 sorted, bloom-filtered,
    * height-bucketed parquet tables under `outDir`. */
  def runActionsPipeline(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      bucketStep: Long = 1000L, nativeSource: Boolean = false,
      skipCommit: Boolean = false)
      : StreamingQuery = {
    // per-table cursors (partial fan-out from a crashed batch heals)
    val cActions = sinkCursor(spark, s"$outDir/actions")
    val cEvents = sinkCursor(spark, s"$outDir/events")
    val cData = sinkCursor(spark, s"$outDir/data")
    val cMin = Seq(cActions, cEvents, cData).min
    // native path: the sink cursor IS a height, so it seeds the source
    // offset directly — a fresh checkpoint resumes where the tables end
    // instead of re-fetching from height 0
    startStream(source(spark, inDir, nativeSource, cMin + 1),
        checkpoint, trigger) { batch =>
      // O2: quarantined, deduped, past-cursor blocks only
      val blocks = quarantine(batch, outDir, skipCommit)
        .where(col("block.header.height") > cMin)
        .dropDuplicates("block")
        .persist()
      try {
        if (!blocks.isEmpty) {
          val idx = ActionsExtract.indexedReceipts(blocks).persist()
          try Seq(
            ("actions", ActionsExtract.actions(idx), cActions),
            ("events", ActionsExtract.events(idx), cEvents),
            ("data", ActionsExtract.data(idx), cData)).foreach {
            case (table, rows, cursor) =>
              write(table, rows.where(col("block_height") > cursor),
                outDir, bucketStep, skipCommit)
          } finally idx.unpersist()
        }
      } finally blocks.unpersist()
    }
  }

  /** Sink writes in flight per micro-batch (click.rs
    * MAX_COMMIT_HANDLERS). */
  private val MaxCommitHandlers = 3

  /** Fan-out writes of one completed-tx set to the 4 tx tables — shared
    * by the streaming micro-batch sink and the batch backfill.
    *
    * K3: the reference commits inserts asynchronously with ≤3 handlers
    * in flight (click.rs MAX_COMMIT_HANDLERS = 3); the Spark analog
    * runs ONE micro-batch's per-table sink writes concurrently under a
    * bounded pool. The batch boundary still commits synchronously —
    * foreachBatch returns (and the streaming checkpoint advances) only
    * after every table write settles — retaining the reference's crash
    * contract (an unacknowledged batch replays; writes are idempotent
    * per height bucket, A5/K1) while the writes themselves overlap.
    * The caller persists `txs`, so concurrent writers share one
    * materialization instead of re-deriving the batch per table. All
    * writes settle before the first failure propagates (no write left
    * running into a restart); `skipCommit` stays sequential so the
    * dry-run diagnostics print in table order.
    *
    * ORDERING INVARIANT: `transactions` is the RESTART-CURSOR table
    * ([[sinkCursor]] over last_block_height feeds the replay skip
    * filter), so it must commit ONLY after every sibling table holds
    * the batch — otherwise a crash between commits advances the cursor
    * past rows the siblings never got, and the replay filter drops
    * them forever. The pool therefore runs the three sibling writes
    * concurrently (3 in-flight handlers — the reference's
    * MAX_COMMIT_HANDLERS exactly) and writes `transactions` last,
    * sequentially, exactly like the pre-pool code. */
  private def writeTxTables(
      txs: Dataset[TxCorrelator.CompletedTx], outDir: String,
      bucketStep: Long, skipCommit: Boolean = false): Unit = {
    val siblings = Seq(
      "account_txs" -> TxFanout.accountTxs(txs),
      "receipt_txs" -> TxFanout.receiptTxs(txs),
      "block_txs" -> TxFanout.blockTxs(txs))
    def writeTable(table: String, rows: DataFrame): Unit =
      write(table, rows, outDir, bucketStep, skipCommit)
    if (skipCommit) siblings.foreach { case (t, rows) => writeTable(t, rows) }
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(MaxCommitHandlers)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.util.{Failure, Try}
        val settled = Await.result(
          Future.sequence(siblings.map { case (table, rows) =>
            Future(table -> Try(writeTable(table, rows)))
          }), Duration.Inf)
        settled.collectFirst { case (table, Failure(e)) =>
          throw new RuntimeException(s"commit of $table failed", e)
        }
      } finally pool.shutdown()
    }
    // cursor table LAST — only after every sibling holds the batch
    writeTable("transactions", TxFanout.transactions(txs))
  }

  /** transactions-mode pipeline: stateful correlation (state store
    * checkpointed) + fan-out to the 4 tx tables; the stateless `blocks`
    * table is written by [[runBlocksPipeline]] on the same input.
    *
    * `startHeight` is the replay cut from [[runBackfill]]: blocks below
    * it are already fully reflected in the sinks, so the stream begins
    * rebuilding correlator state there (lenient mode skips receipts whose
    * txs completed pre-cut; re-emitted completions are dropped by the
    * sink cursor).
    *
    * The correlator runs on `transformWithState` (SURVEY §2.4 first
    * choice — per-entry state writes, optional per-entry TTL), which
    * requires the RocksDB state store provider; the stream runs on a
    * CLONED SparkSession carrying [[ProductionStateConf]] so the
    * caller's session is untouched. Conf-vs-checkpoint safety: Spark
    * persists `shuffle.partitions` in the offset log and REPINS it on
    * resume, so an existing 8-partition checkpoint keeps 8
    * regardless of the conf — the pinned value only shapes NEW
    * checkpoints. */
  def runTransactionsPipeline(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      bucketStep: Long = 1000L, startHeight: Long = Long.MinValue,
      nativeSource: Boolean = false,
      skipCommit: Boolean = false,
      stateTtl: Option[java.time.Duration] = None): StreamingQuery = {
    // newSession: shared SparkContext + catalog cache, OWN SQLConf —
    // the stream's state knobs must not leak into the caller's batch
    // queries (shuffle.partitions above all)
    val session = spark.newSession()
    ProductionStateConf.foreach { case (k, v) => session.conf.set(k, v) }
    // StreamingQueryListener events are delivered per-session
    // StreamingQueryManager: a listener the caller attached to the
    // parent session (Main's ProgressListener — the A6 progress parity
    // with the reference's transactions.rs logging) would silently stop
    // seeing THIS query's progress. Mirror the parent's listeners onto
    // the clone so callers stay untouched.
    spark.streams.listListeners.foreach(session.streams.addListener)
    TxCorrelator.ensureRocksDb(session)
    import session.implicits._
    val blocks: Dataset[BlockWithTxHashes] =
      source(session, inDir, nativeSource, math.max(startHeight, 0L))
        .where(col("_corrupt_record").isNull && col("block").isNotNull &&
          col("block.header.height") >= startHeight)
        .drop("_corrupt_record")
        .as[BlockWithTxHashes](Blocks.encoder)
    // cursor over COMPLETION height (the reference skips by processing-
    // block height, transactions.rs:360)
    val cursor = sinkCursor(
      session, s"$outDir/transactions", cursorCol = "last_block_height")
    startStream(TxCorrelator.correlateStreamTws(blocks, stateTtl = stateTtl),
        checkpoint, trigger) { batch =>
      val txs = batch.filter(_.last_block_height > cursor).persist()
      try {
        if (!txs.isEmpty) writeTxTables(txs, outDir, bucketStep, skipCommit)
      } finally txs.unpersist()
    }
  }

  /** Batch backfill — the 100 TB path (SURVEY.md §7.4-2 option (b)):
    * read the on-disk block corpus once, correlate with the distributed
    * label-propagation correlator (one equi-join per receipt-DAG level,
    * no single-core funnel), fan out to the same idempotent sinks, and
    * record the replay cut under `outDir/_backfill_cut` so a subsequent
    * [[runTransactionsPipeline]] (`startHeight = cut`) picks up the
    * pending frontier and continues tailing. Returns the cut height. */
  def runBackfill(
      spark: SparkSession, inDir: String, outDir: String,
      bucketStep: Long = 1000L): Long = {
    val raw = spark.read.schema(parseSchema).options(permissive).json(inDir)
    val blocks = quarantine(raw, outDir).dropDuplicates("block")
    val (correlated, cut) = graft.etl.DistributedCorrelator
      .correlateWithCut(blocks)
    val cursor = sinkCursor(
      spark, s"$outDir/transactions", cursorCol = "last_block_height")
    val txs = correlated
      .filter(col("last_block_height") > cursor)
      .persist()
    try {
      if (!txs.isEmpty) writeTxTables(txs, outDir, bucketStep)
      // blocks table (reference transactions mode writes it too)
      val b = TxFanout.blocks(blocks)
        .where(col("block_height") > sinkCursor(spark, s"$outDir/blocks"))
      if (!b.isEmpty) write("blocks", b, outDir, bucketStep, skipCommit = false)
      val c = cut()
      // the cut lives next to the tables, via the SAME filesystem layer
      // the table writes use — outDir may be hdfs:// or s3a://, where
      // java.nio local-file APIs would misplace it and break auto-resume
      val f = cutPath(outDir)
      val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
      val os = fs.create(f, true)
      try os.write(c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      c
    } finally txs.unpersist()
  }

  private def cutPath(outDir: String) =
    new org.apache.hadoop.fs.Path(outDir, "_backfill_cut/cut")

  /** The replay cut recorded by the last [[runBackfill]], if any. */
  def backfillCut(spark: SparkSession, outDir: String): Option[Long] = {
    val f = cutPath(outDir)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(f)) {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    } else None
  }

  /** blocks-table pipeline (stateless header projection). */
  def runBlocksPipeline(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      bucketStep: Long = 1000L, nativeSource: Boolean = false,
      skipCommit: Boolean = false)
      : StreamingQuery = {
    val cursor = sinkCursor(spark, s"$outDir/blocks")
    startStream(source(spark, inDir, nativeSource, cursor + 1),
        checkpoint, trigger) { batch =>
      val b = TxFanout
        .blocks(quarantine(batch, outDir, skipCommit).dropDuplicates("block"))
        .where(col("block_height") > cursor)
      if (!b.isEmpty) write("blocks", b, outDir, bucketStep, skipCommit)
    }
  }
}
