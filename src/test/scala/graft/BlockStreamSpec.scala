package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.{ActionsExtract, TxCorrelator, TxFanout}
import graft.fixtures.BlockFixtures
import graft.schema.BlockWithTxHashes
import graft.sink.{ClickHouseDdl, Replacing}
import graft.stream.BlockStream

/** M3 streaming semantics (SURVEY.md §2.9): file-stream source,
  * multi-batch stateful correlation, idempotent replay. */
class BlockStreamSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def eventually(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(100)
    assert(cond)
  }

  test("actions pipeline: streamed output equals batch extract; replay is idempotent") {
    val in = tmp(); val out = tmp(); val cp = tmp()
    import graft.schema.Blocks.encoder
    spark.createDataset(BlockFixtures.blocks(12))(encoder)
      .toDF().repartition(4).write.mode("overwrite").json(in)

    val listener = graft.stream.ProgressListener.attach(spark)
    val q = BlockStream.runActionsPipeline(
      spark, in, out, cp, bucketStep = 10L)
    q.awaitTermination()
    // A6: progress counters observed micro-batches (listener events are
    // async — allow them to drain)
    spark.streams.resetTerminated()
    eventually(listener.batches.get() >= 1 && listener.totalInputRows.get() >= 12)
    spark.streams.removeListener(listener)

    val streamed = spark.read.parquet(s"$out/actions")
    val batch = ActionsExtract.actions(
      ActionsExtract.indexedReceipts(BlockFixtures.df(spark, 12)))
    assert(streamed.count() === batch.count())
    // bucketed layout exists (height buckets of 10)
    assert(streamed.select(countDistinct(col("height_bucket"))).head().getLong(0) >= 2)
    // receipt_index identical to batch for a spot receipt
    val si = streamed.where(col("receipt_id") === "rB105")
      .select("receipt_index").head().getInt(0)
    val bi = batch.where(col("receipt_id") === "rB105")
      .select("receipt_index").head().getInt(0)
    assert(si === bi)

    // replay the same input with a FRESH checkpoint (worst case: full
    // reprocess) -> same row count, no duplicates
    val q2 = BlockStream.runActionsPipeline(
      spark, in, out, tmp(), bucketStep = 10L)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/actions").count() === batch.count())
    SinkLayout.assertTables(spark, out, Seq("actions", "events", "data"), 10L)
  }

  test("corrupt JSON lines are quarantined, not silently dropped") {
    val in = tmp(); val out = tmp(); val cp = tmp()
    import graft.schema.Blocks.encoder
    spark.createDataset(BlockFixtures.blocks(4))(encoder)
      .toDF().coalesce(1).write.mode("overwrite").json(in)
    // append garbage + a JSON object that isn't a block
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(in, "garbage.json"),
      "this is not json at all\n{\"unrelated\": 42}\n")

    val q = BlockStream.runActionsPipeline(spark, in, out, cp, bucketStep = 10L)
    q.awaitTermination()

    // valid blocks fully processed
    val batchRows = graft.etl.ActionsExtract.actions(
      graft.etl.ActionsExtract.indexedReceipts(BlockFixtures.df(spark, 4))).count()
    assert(spark.read.parquet(s"$out/actions").count() === batchRows)
    // both bad lines quarantined with the raw payload preserved
    val quarantined = spark.read.json(s"$out/_quarantine")
    assert(quarantined.count() === 2)
    assert(quarantined.where(col("raw").contains("not json")).count() === 1)
  }

  test("transactions pipeline: state persists across micro-batches") {
    val in = tmp(); val out = tmp(); val cp = tmp()
    import graft.schema.Blocks.encoder
    // one file per block -> with maxFilesPerTrigger=100 still one batch;
    // use several separate writes to get multiple files, then a small
    // trigger via two sequential runs (checkpoint carries state over)
    val blocks = BlockFixtures.blocks(8)
    spark.createDataset(blocks.take(4))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)

    val q1 = BlockStream.runTransactionsPipeline(spark, in, out, cp)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(s"$out/transactions").count()
    // txs 100..102 completed (103's rB pends); extras txc102/txf102 done
    assert(afterFirst === 3 + 2)

    // second tranche arrives; state (pending tx103) must resolve
    spark.createDataset(blocks.drop(4))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val q2 = BlockStream.runTransactionsPipeline(spark, in, out, cp)
    q2.awaitTermination()

    val txs = spark.read.parquet(s"$out/transactions")
    // all but the last block's tx completed; extras at 102 and 105
    assert(txs.count() === 7 + 4)
    val t103 = txs.where(col("transaction_hash") === "tx103").head()
    assert(t103.getAs[Long]("last_block_height") === 104L)

    val blocksTbl = BlockStream.runBlocksPipeline(spark, in, out, tmp())
    blocksTbl.awaitTermination()
    assert(spark.read.parquet(s"$out/blocks").count() === 8)
    SinkLayout.assertTables(spark, out, Seq(
      "transactions", "account_txs", "receipt_txs", "block_txs", "blocks"))
    // the bloom columns whose fixture values are all distinct
    SinkLayout.assertBlooms(spark, s"$out/transactions", Seq("transaction_hash"))
    SinkLayout.assertBlooms(spark, s"$out/receipt_txs", Seq("receipt_id"))
    SinkLayout.assertBlooms(spark, s"$out/blocks", Seq("block_hash"))

    // the PRODUCTION state conf actually reached the query: Spark
    // records shuffle.partitions in the checkpoint's offset metadata
    // (the value it repins on every resume), so the pinned 1 must be
    // what the checkpoint carries — not the session's 4. The caller's
    // session must be untouched (the clone's whole point).
    assert(offsetMeta(cp).head.contains(partitions("1")),
      s"checkpoint offset metadata missing the pinned partitions: ${offsetMeta(cp).head}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== "1",
      "ProductionStateConf leaked into the caller's session")
  }

  test("a transactions checkpoint started with 8 state partitions resumes " +
    "with its 8 and completes the chain") {
    val in = tmp(); val out = tmp(); val cp = tmp()
    import graft.schema.Blocks.encoder
    val blocks = BlockFixtures.blocks(8)
    spark.createDataset(blocks.take(4))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    // the checkpoint a release with 8 state partitions made: the
    // pipeline's source, correlator and transactions write, on a
    // session clone whose state conf gives 8 partitions
    val old = spark.newSession()
    (BlockStream.ProductionStateConf + ("spark.sql.shuffle.partitions" -> "8"))
      .foreach { case (k, v) => old.conf.set(k, v) }
    TxCorrelator.ensureRocksDb(old)
    val stream = BlockStream.readBlockStream(old, in)
      .where(col("_corrupt_record").isNull && col("block").isNotNull)
      .drop("_corrupt_record")
      .as[BlockWithTxHashes](encoder)
    val layout = ClickHouseDdl.layouts("transactions")
    val q1 = TxCorrelator.correlateStreamTws(stream).writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[TxCorrelator.CompletedTx], _: Long) =>
        Replacing.appendWrite(TxFanout.transactions(b), s"$out/transactions",
          layout.heightCol, layout.orderBy, layout.bloom)
      }
      .start()
    q1.awaitTermination()
    assert(offsetMeta(cp).head.contains(partitions("8")))
    assert(spark.read.parquet(s"$out/transactions").count() === 3 + 2)

    spark.createDataset(blocks.drop(4))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val q2 = BlockStream.runTransactionsPipeline(spark, in, out, cp)
    q2.awaitTermination()
    // Spark repinned the checkpoint's 8 over the conf's 1: the state
    // lives in 8 stores, and the resumed query reads all of them
    assert(offsetMeta(cp).last.contains(partitions("8")),
      s"resumed batch did not keep 8 partitions: ${offsetMeta(cp).last}")
    assert(q2.lastProgress.stateOperators.head.numShufflePartitions === 8L)
    val txs = spark.read.parquet(s"$out/transactions")
    assert(txs.count() === 7 + 4)
    val t103 = txs.where(col("transaction_hash") === "tx103").head()
    assert(t103.getAs[Long]("last_block_height") === 104L)
  }

  private def partitions(n: String) = s"\"spark.sql.shuffle.partitions\":\"$n\""

  /** The offset log's entries in batch order. */
  private def offsetMeta(cp: String): Seq[String] = {
    val off = Files.list(java.nio.file.Paths.get(cp, "offsets"))
    val files = try {
      import scala.jdk.CollectionConverters._
      off.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit)) // skip .crc
        .sortBy(_.getFileName.toString.toLong)
    } finally off.close()
    files.map(f => new String(Files.readAllBytes(f), "UTF-8"))
  }

  test("parent-session progress listener sees the cloned-session transactions query") {
    // runTransactionsPipeline starts its query on spark.newSession()
    // (ProductionStateConf); StreamingQueryListener delivery is
    // per-session, so without the listener mirror the ProgressListener
    // Main attaches to the PARENT session would go silent for exactly
    // this query — the A6 progress-logging parity. Pin it: attach to
    // the parent, run the pipeline, expect batches observed.
    val in = tmp(); val out = tmp(); val cp = tmp()
    import graft.schema.Blocks.encoder
    spark.createDataset(BlockFixtures.blocks(6))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val listener = graft.stream.ProgressListener.attach(spark)
    try {
      val q = BlockStream.runTransactionsPipeline(spark, in, out, cp)
      q.awaitTermination()
      // the listener bus is async — give it a bounded drain
      val deadline = System.nanoTime() + 10_000_000_000L
      while (listener.batches.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(listener.batches.get() > 0,
        "parent-session listener saw no progress from the cloned-session query")
      assert(listener.totalInputRows.get() > 0)
    } finally spark.streams.removeListener(listener)
  }
}
