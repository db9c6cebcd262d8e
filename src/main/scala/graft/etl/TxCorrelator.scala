package graft.etl

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor}
import graft.schema._

/** "transactions" mode stateful correlator (J1–J10,
  * /root/reference/src/transactions.rs:175-370,569-676): follows each
  * transaction's receipt DAG across blocks — consume-once receipt→tx
  * probes, data-receipt buffering by data_id, transitive closure over
  * newly produced receipt_ids — and emits a transaction exactly when its
  * pending-receipt set drains (J5).
  *
  * Architecture (SURVEY.md §7.4-2 option (a)): the correlation logic is
  * a pure function `processBlock(state, block) → (state', completed)`
  * run under ONE Structured Streaming key via transformWithState
  * ([[correlateStreamTws]]) — the operator is Spark's, the state store
  * persists/recovers the cache, and ordering is guaranteed by sorting
  * each micro-batch by height. A single key serializes ingest (the
  * reference is equally single-threaded here, src/main.rs:155-175);
  * the heavy downstream work — JSON fan-out to 5 tables — is
  * distributed DataFrame code (TxFanout). Scaling ingest beyond one
  * core means an iterative-join formulation; documented as the known
  * divergence point, not built until profiling demands it.
  */
object TxCorrelator {

  final case class BlockInfo(
      block_height: Long, block_hash: String, block_timestamp: Long)

  /** `ImprovedExecutionOutcome` (/root/reference/src/types.rs:15-38):
    * outcome enriched with the executing block's height/timestamp. The
    * reference also strips `metadata.gas_profile` — our schema never
    * carries gas profiles (dead-column elimination at the schema level,
    * SURVEY §4.1). */
  final case class ImprovedOutcome(
      block_hash: String, block_timestamp: Long, block_height: Long,
      id: String, outcome: ExecutionOutcomeView)

  final case class ImprovedOutcomeWithReceipt(
      execution_outcome: ImprovedOutcome, receipt: ReceiptView)

  final case class PendingTx(
      tx_block_height: Long, tx_block_hash: String, tx_block_timestamp: Long,
      blocks: Seq[BlockInfo],
      transaction: SignedTransactionView,
      execution_outcome: ImprovedOutcome,
      receipts: Seq[ImprovedOutcomeWithReceipt],
      data_receipts: Seq[ReceiptView],
      pending_receipt_ids: Seq[String])

  final case class CompletedTx(
      tx_block_height: Long, tx_block_hash: String, tx_block_timestamp: Long,
      blocks: Seq[BlockInfo],
      transaction: SignedTransactionView,
      execution_outcome: ImprovedOutcome,
      receipts: Seq[ImprovedOutcomeWithReceipt],
      data_receipts: Seq[ReceiptView],
      last_block_height: Long)

  /** `TxCache` (/root/reference/src/transactions.rs:569-575) + the
    * prev-hash chain cursor (J9). */
  final case class CacheState(
      receiptToTx: Map[String, String],
      dataReceipts: Map[String, ReceiptView],
      transactions: Map[String, PendingTx],
      lastBlockHeight: Long,
      prevBlockHash: Option[String])

  val emptyState: CacheState = CacheState(Map(), Map(), Map(), 0L, None)

  final class CorrelationException(msg: String) extends RuntimeException(msg)

  /** One block through the cache — pure, total when `strict=false`
    * (missing state → warn-and-skip, the reference's catch-up behavior
    * J8); `strict=true` reproduces the reference's panics. */
  def processBlock(
      state: CacheState, block: BlockWithTxHashes,
      lastDbBlockHeight: Long = -1L, strict: Boolean = true)
      : (CacheState, Seq[CompletedTx]) = {
    val hdr = block.block.header
    val h = hdr.height
    val info = BlockInfo(h, hdr.hash, hdr.timestamp_nanosec)

    // J9: prev-hash chain assert (transactions.rs:185-191)
    state.prevBlockHash.foreach { p =>
      if (p != hdr.prev_hash)
        throw new CorrelationException(
          s"Invalid prev_block_hash for block height $h: chain has $p, header says ${hdr.prev_hash}")
    }

    val skipMissing = h <= lastDbBlockHeight || !strict

    val receiptToTx = collection.mutable.Map.from(state.receiptToTx)
    val dataReceipts = collection.mutable.Map.from(state.dataReceipts)
    val transactions = collection.mutable.Map.from(state.transactions)
    val completed = collection.mutable.ArrayBuffer.empty[CompletedTx]

    def registerTx(tx: PendingTx, newReceiptIds: Seq[String]): Unit = {
      val txh = tx.transaction.hash
      newReceiptIds.foreach { rid =>
        receiptToTx.get(rid).foreach { old =>
          if (old != txh) throw new CorrelationException(
            s"Duplicate receipt_id $rid with different tx hashes $old vs $txh") // J6
        }
        receiptToTx(rid) = txh
      }
      transactions(txh) = tx
    }

    // pass 1: register chunk transactions (J1) + buffer data receipts (J4)
    for (shard <- block.shards; chunk <- shard.chunk) {
      for (t <- chunk.transactions) {
        val pending = t.outcome.outcome.receipt_ids
        registerTx(
          PendingTx(
            h, hdr.hash, hdr.timestamp_nanosec, Seq(info), t.transaction,
            ImprovedOutcome(t.outcome.block_hash, hdr.timestamp_nanosec, h,
              t.outcome.id, t.outcome.outcome),
            Nil, Nil, pending),
          pending)
      }
      for (r <- chunk.receipts; d <- r.data) {
        // J7: duplicate data_id allowed only when both are
        // promise-resume; the OLD receipt wins (transactions.rs:621-654)
        dataReceipts.get(d.data_id) match {
          case Some(old) if old.receipt_id != r.receipt_id =>
            val oldResume = old.data.exists(_.is_promise_resume)
            if (!(d.is_promise_resume && oldResume))
              throw new CorrelationException(
                s"Duplicate data_id ${d.data_id} with different receipt_ids and not promise_resume")
          // keep old
          case _ => dataReceipts(d.data_id) = r
        }
      }
    }

    // pass 2: resolve receipt execution outcomes (J2, J3, J5, J8)
    for (shard <- block.shards; o <- shard.receipt_execution_outcomes) {
      val rid = o.receipt.receipt_id
      receiptToTx.remove(rid) match {
        case None =>
          if (!skipMissing) throw new CorrelationException(
            s"Missing tx_hash for receipt_id $rid at block $h")
        case Some(txh) =>
          var tx = transactions.remove(txh).getOrElse(
            throw new CorrelationException(
              s"Missing transaction $txh for receipt $rid"))
          tx = tx.copy(
            pending_receipt_ids = tx.pending_receipt_ids.filterNot(_ == rid),
            blocks =
              if (tx.blocks.last.block_height != h) tx.blocks :+ info
              else tx.blocks)

          // J4: attach buffered data receipts for input_data_ids
          val inputIds = o.receipt.action.map(_.input_data_ids).getOrElse(Nil)
          val resolved = inputIds.map(d => d -> dataReceipts.remove(d))
          if (resolved.exists(_._2.isEmpty)) {
            if (!skipMissing) throw new CorrelationException(
              s"Missing data receipt for data_id ${resolved.find(_._2.isEmpty).get._1}")
            // abandon this tx's other receipts (transactions.rs:319-324)
            tx.pending_receipt_ids.foreach(receiptToTx.remove)
          } else {
            tx = tx.copy(data_receipts = tx.data_receipts ++ resolved.flatMap(_._2))
            val newPending = o.execution_outcome.outcome.receipt_ids
            tx = tx.copy(
              receipts = tx.receipts :+ ImprovedOutcomeWithReceipt(
                ImprovedOutcome(o.execution_outcome.block_hash,
                  hdr.timestamp_nanosec, h,
                  o.execution_outcome.id, o.execution_outcome.outcome),
                o.receipt),
              pending_receipt_ids = tx.pending_receipt_ids ++ newPending)
            if (tx.pending_receipt_ids.isEmpty)
              completed += CompletedTx(
                tx.tx_block_height, tx.tx_block_hash, tx.tx_block_timestamp,
                tx.blocks, tx.transaction, tx.execution_outcome,
                tx.receipts, tx.data_receipts,
                tx.blocks.last.block_height)
            else registerTx(tx, newPending)
          }
      }
    }

    (CacheState(receiptToTx.toMap, dataReceipts.toMap, transactions.toMap,
      h, Some(hdr.hash)), completed.toSeq)
  }

  implicit val completedEncoder: Encoder[CompletedTx] = Encoders.product[CompletedTx]

  private def runOrdered(
      st0: CacheState, blocks: Iterator[BlockWithTxHashes], strict: Boolean)
      : (CacheState, Seq[CompletedTx]) = {
    // height order requires materializing the batch (a sort can't be
    // lazy); in-place sort + one growable output buffer keep it to one
    // copy of the batch. The batch-size bound is the SOURCE's contract:
    // maxBlocksPerTrigger (native source) or maxFilesPerTrigger (file
    // stream) caps blocks per micro-batch.
    val arr = blocks.to(collection.mutable.ArrayBuffer)
    arr.sortInPlaceBy(_.block.header.height)
    var st = st0
    val out = collection.mutable.ArrayBuffer.empty[CompletedTx]
    arr.foreach { b =>
      val (st2, c) = processBlock(st, b, strict = strict)
      st = st2
      out ++= c
    }
    (st, out.toSeq)
  }

  /** Batch correlation: blocks (any partitioning) → completed txs.
    * Funnels through one task — the correlator is inherently sequential
    * (see scaladoc above); everything downstream redistributes. */
  def correlateBatch(
      blocks: Dataset[BlockWithTxHashes], strict: Boolean = true)
      : Dataset[CompletedTx] = {
    import blocks.sparkSession.implicits._
    blocks
      .repartition(1)
      .sortWithinPartitions(col("block.header.height"))
      .mapPartitions { iter =>
        var st = emptyState
        iter.flatMap { b =>
          val (st2, c) = processBlock(st, b, strict = strict)
          st = st2
          c.iterator
        }
      }
  }

  /** Cursor half of the cache: chain position (J9/W4). Kept as its own
    * ValueState so the maps can live in MapState variables. */
  final case class CorrelatorCursor(
      lastBlockHeight: Long, prevBlockHash: Option[String])

  /** `transformWithState` correlator (SURVEY §2.4/§7.4 first choice —
    * Spark 4.x arbitrary stateful processing v2; requires the RocksDB
    * state store provider).
    *
    * The TxCache decomposes into FOUR named state variables — MapState
    * `receipt_to_tx`, MapState `data_receipts`, MapState
    * `transactions`, ValueState `cursor` — mirroring the reference's
    * struct fields (/root/reference/src/transactions.rs:569-575)
    * 1-field-per-store instead of one serialized blob:
    *
    *  - WRITE I/O per batch is proportional to the entries the batch
    *    TOUCHED: `handleInputRows` diff-applies the state delta
    *    (removeKey for consumed receipts, updateValue for new/changed
    *    ones), so a batch resolving 10 receipts against a
    *    100 000-entry pending cache writes ~10 RocksDB keys where a
    *    single serialized CacheState blob would be rewritten whole
    *    every trigger.
    *  - The values stay java-serialized blobs rather than struct
    *    state schemas: the deeply nested ReceiptView/PendingTx
    *    schemas make the operator's schema handling stringify them
    *    pathologically in 4.1.2 (minutes of CPU before first batch).
    *
    * The correlation LOGIC is unchanged — the same pure
    * `processBlock` fold; state variables are materialized into a
    * CacheState at batch start (an iterator scan of RocksDB) and
    * diffed back after. Read I/O stays proportional to total state;
    * fully incremental reads would mean rewriting processBlock against
    * point lookups, which profiling hasn't demanded.
    */
  final class CorrelatorProcessor(strict: Boolean)
      extends StatefulProcessor[Int, BlockWithTxHashes, CompletedTx] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues, ValueState}

    // values are (0L, V) java-serialized blobs: the Long is an unused
    // slot, kept because checkpoints written by earlier revisions
    // (which stamped a per-entry expiry clock there) must still resume
    @transient private var receiptToTx: MapState[String, (Long, String)] = _
    @transient private var dataReceipts: MapState[String, (Long, ReceiptView)] = _
    @transient private var transactions: MapState[String, (Long, PendingTx)] = _
    @transient private var cursor: ValueState[CorrelatorCursor] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      receiptToTx = getHandle.getMapState(
        "receipt_to_tx", Encoders.STRING,
        Encoders.javaSerialization[(Long, String)], TTLConfig.NONE)
      dataReceipts = getHandle.getMapState(
        "data_receipts", Encoders.STRING,
        Encoders.javaSerialization[(Long, ReceiptView)], TTLConfig.NONE)
      transactions = getHandle.getMapState(
        "transactions", Encoders.STRING,
        Encoders.javaSerialization[(Long, PendingTx)], TTLConfig.NONE)
      cursor = getHandle.getValueState(
        "cursor", Encoders.javaSerialization[CorrelatorCursor], TTLConfig.NONE)
    }

    private def load[V](ms: MapState[String, (Long, V)]): Map[String, V] =
      ms.iterator().map { case (k, (_, v)) => k -> v }.toMap

    /** Write only the delta: removed keys, and added/changed values. */
    private def diffApply[V](
        ms: MapState[String, (Long, V)],
        before: Map[String, V], after: Map[String, V]): Unit = {
      before.keysIterator
        .foreach(k => if (!after.contains(k)) ms.removeKey(k))
      after.foreach { case (k, v) =>
        if (!before.get(k).contains(v)) ms.updateValue(k, (0L, v))
      }
    }

    override def handleInputRows(
        key: Int, rows: Iterator[BlockWithTxHashes],
        timerValues: TimerValues): Iterator[CompletedTx] = {
      val cur =
        if (cursor.exists()) Option(cursor.get()) else None
      val st0 = CacheState(
        load(receiptToTx), load(dataReceipts), load(transactions),
        cur.map(_.lastBlockHeight).getOrElse(0L),
        cur.flatMap(_.prevBlockHash))
      val (st2, out) = runOrdered(st0, rows, strict)
      diffApply(receiptToTx, st0.receiptToTx, st2.receiptToTx)
      diffApply(dataReceipts, st0.dataReceipts, st2.dataReceipts)
      diffApply(transactions, st0.transactions, st2.transactions)
      cursor.update(CorrelatorCursor(st2.lastBlockHeight, st2.prevBlockHash))
      out.iterator
    }
  }

  /** Streaming correlation: keyed stateful operator on
    * `transformWithState`; the cache lives in the state store
    * (checkpoint-recovered — replaces the reference's 1000-block
    * rewind S4). Append output; micro-batches are sorted by height
    * inside the group; cross-batch order is the source's contract
    * (S1). Like the reference's TxCache, state never expires.
    *
    * MEMORY CONTRACT: the single stateful task materializes each
    * micro-batch once to sort it (streaming forbids a plan-level sort
    * before a stateful operator). The batch size is therefore bounded at
    * the SOURCE: on the native height-offset source (`--native`, the
    * daemon's production source) `readBlockSource(maxBlocksPerTrigger =
    * …)` caps blocks per trigger (default 1000); on the file stream
    * `readBlockStream(maxFilesPerTrigger = …)` does (default 100; one
    * block document per file). A backfill
    * of on-disk history should use [[graft.stream.BlockStream.runBackfill]]
    * (distributed, no single-task funnel) rather than raising the cap.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def correlateStreamTws(
      blocks: Dataset[BlockWithTxHashes], strict: Boolean = false)
      : Dataset[CompletedTx] = {
    import org.apache.spark.sql.streaming.TimeMode
    import blocks.sparkSession.implicits._
    blocks
      .groupByKey(_ => 0)
      .transformWithState(
        new CorrelatorProcessor(strict),
        TimeMode.None(), OutputMode.Append())
  }

  /** Production state-store defaults for the correlator wire — the
    * knob-by-knob rationale and the measured checkpoint, commit and
    * latency numbers live on the doc of
    * `graft.stream.BlockStream.ProductionStateConf` (which aliases
    * this map; defined here because both the streaming pipeline AND
    * the pack's bounded vehicle [[correlateBatchTws]] apply it, and
    * etl must not depend on stream). Summary: retain 2 state versions
    * instead of 100, RocksDB changelog checkpointing (per-batch deltas,
    * not full SST snapshots), and ONE state partition: the correlator
    * keys every block by the constant 0 ([[correlateStreamTws]]), so
    * exactly one store can ever hold a row, and every further store is
    * an empty RocksDB instance that still loads and commits its
    * changelog on each trigger. Checkpoints that already exist keep the
    * partition count recorded in their offset log. */
  val ProductionStateConf: Map[String, String] = Map(
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.shuffle.partitions" -> "1")

  /** The RocksDB state store provider [[correlateStreamTws]] requires. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Ensures the session's state store provider is RocksDB (the
    * `transformWithState` prerequisite); the conf is read per streaming
    * query at start, and the HDFS-backed default can't run the v2
    * stateful operator at all, so overriding session-wide is safe —
    * stateless queries ignore it. */
  def ensureRocksDb(spark: SparkSession): Unit =
    if (!spark.conf.getOption(ProviderKey).contains(RocksDbProvider))
      spark.conf.set(ProviderKey, RocksDbProvider)

  /** Run a BOUNDED block set through the PRODUCTION streaming operator
    * ([[correlateStreamTws]] — MemoryStream in, memory sink out, one
    * micro-batch) and return the completed txs as a Dataset. This is
    * how the p4–p7 query pack computes its correlation, so the
    * driver's DuckDB hash oracle certifies the `transformWithState`
    * wire itself, not a batch stand-in ([[correlateBatch]] stays the
    * spec-pinned sequential twin; equivalence of all paths is pinned
    * by TwsCorrelatorSpec / CorrelatorPropertySpec). */
  def correlateBatchTws(
      spark: SparkSession, blocks: Seq[BlockWithTxHashes],
      strict: Boolean = false,
      inspect: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): Dataset[CompletedTx] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    ensureRocksDb(spark)
    val name = s"graft_tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stream = MemoryStream[BlockWithTxHashes](Blocks.encoder, spark)
    // Run under [[ProductionStateConf]] — the same state knobs as the
    // production wire (runTransactionsPipeline). Without them this
    // ephemeral query paid 32 state stores × full-snapshot
    // checkpointing ≈ 4× the fsyncs per micro-batch, so the p4–p7/p11
    // bench times tracked HOST fsync latency instead of the engine
    // (round 12: p4 1.8 s idle vs 10–22 s on a degraded-I/O host).
    // Set-and-restore is enough: StreamExecution snapshots the session
    // conf when the query STARTS (internal session clone), so restoring
    // right after start() leaves the running stream pinned at 1 state
    // partition + changelog checkpointing while the caller's batch
    // shuffle width is untouched. Results-neutral — only commit/fsync
    // count changes (TwsCorrelatorSpec pins output equivalence).
    val saved = ProductionStateConf.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    ProductionStateConf.foreach { case (k, v) => spark.conf.set(k, v) }
    // r15 (§5/I-O): the EPHEMERAL checkpoint of this bounded one-shot
    // vehicle goes under spark.local.dir (the scratch root — tmpfs in
    // the bench harness) instead of java.io.tmpdir. Without an
    // explicit location Spark creates /tmp/temporary-<uuid> and every
    // micro-batch commit fsyncs offset/commit logs + state versions
    // there — the measured reason p4–p7/p11 track HOST fsync latency
    // (r12: p4 1.8 s idle vs 10–22 s on a degraded-I/O host; r14's
    // 18 ms-p95 host blew the family up 10–18×). The checkpoint is
    // pure scratch here — it is deleted right after the query stops,
    // exactly like the default temp dir; a PRODUCTION continuous
    // stream keeps its explicit durable checkpointLocation
    // (runTransactionsPipeline's contract is untouched).
    val ckRoot = spark.sparkContext.getConf.getOption("spark.local.dir")
      .map(_.split(",")(0))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckRoot))
    val ckDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckRoot), "graft-tws-ck")
    // the dir goes in its own finally: a start() that throws, or a
    // stop() that throws, must not leak it
    try {
      val q =
        try correlateStreamTws(stream.toDS(), strict = strict)
          .writeStream.outputMode("append").format("memory")
          .option("checkpointLocation", ckDir.toString)
          .queryName(name).start()
        finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      try {
        stream.addData(blocks)
        q.processAllAvailable()
        // observation hook while the query is still live (the spec
        // reads lastProgress.stateOperators to pin that the conf
        // reached the wire — 1 state partition, not the session's width)
        inspect(q)
      } finally q.stop()
    } finally graft.util.Fs.deleteRecursively(ckDir)
    spark.table(name).as[CompletedTx]
  }
}
