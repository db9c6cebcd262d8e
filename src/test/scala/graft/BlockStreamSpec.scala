package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.etl.ActionsExtract
import graft.fixtures.BlockFixtures
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
    // (the value it repins on every resume), so the pinned 8 must be
    // what the checkpoint carries — not the session's 32. The caller's
    // session must be untouched (the clone's whole point).
    val off = java.nio.file.Files.list(
      java.nio.file.Paths.get(cp, "offsets"))
    val firstOffset = try {
      import scala.jdk.CollectionConverters._
      off.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit)) // skip .crc
        .minBy(_.getFileName.toString.toLong)
    } finally off.close()
    val meta = new String(
      java.nio.file.Files.readAllBytes(firstOffset), "UTF-8")
    assert(meta.contains("\"spark.sql.shuffle.partitions\":\"8\""),
      s"checkpoint offset metadata missing the pinned partitions: $meta")
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== "8",
      "ProductionStateConf leaked into the caller's session")
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
