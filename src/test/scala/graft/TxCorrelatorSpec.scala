package graft

import org.apache.spark.sql.functions._
import graft.etl.{TxCorrelator, TxFanout}
import graft.etl.TxCorrelator._
import graft.fixtures.BlockFixtures
import graft.schema._

/** J1–J10 + A2/A3 over the fixture receipt DAG (SURVEY.md §5.2). */
class TxCorrelatorSpec extends SparkSpec {

  private def run(n: Int): (CacheState, Seq[CompletedTx]) =
    BlockFixtures.blocks(n).foldLeft((emptyState, Seq.empty[CompletedTx])) {
      case ((st, acc), b) =>
        val (st2, c) = processBlock(st, b)
        (st2, acc ++ c)
    }

  test("J1-J5: tx completes when its cross-block receipt DAG drains") {
    val (state, completed) = run(6)
    // T(100..104) complete at heights 101..105 (DAG spans two blocks);
    // the single-receipt extras txc/txf (heights 102, 105) complete
    // same-block; T(105) stays pending
    assert(completed.map(_.transaction.hash) === Seq(
      "tx100", "tx101", "txc102", "txf102", "tx102", "tx103",
      "tx104", "txc105", "txf105"))
    assert(state.transactions.keySet === Set("tx105"))
    // rB105 still registered for the pending tx
    assert(state.receiptToTx.keySet === Set("rB105"))
    val t100 = completed.head
    // two blocks contributed (J10)
    assert(t100.blocks.map(_.block_height) === Seq(100, 101))
    assert(t100.last_block_height === 101)
    // receipts accumulated in resolution order (A3): rA100 then rB100
    assert(t100.receipts.map(_.receipt.receipt_id) === Seq("rA100", "rB100"))
    // rB consumed data receipt did100 (J4)
    assert(t100.data_receipts.map(_.data.get.data_id) === Seq("did100"))
    // improved outcome carries the executing block's height
    assert(t100.receipts.map(_.execution_outcome.block_height) === Seq(100, 101))
  }

  test("J9: prev-hash chain violation throws") {
    val b0 = BlockFixtures.block(100, 3)
    val bad = BlockFixtures.block(102, 3) // skips 101 -> prev_hash mismatch
    val (st, _) = processBlock(emptyState, b0)
    val e = intercept[CorrelationException](processBlock(st, bad))
    assert(e.getMessage.contains("Invalid prev_block_hash"))
  }

  test("J8: lenient mode skips missing receipts instead of throwing") {
    // start mid-chain: rB100 arrives in block 101 with no registered tx
    val b1 = BlockFixtures.block(101, 3)
    val (st, completed) = processBlock(emptyState, b1, strict = false)
    assert(completed.isEmpty)
    assert(st.transactions.keySet === Set("tx101"))
    // strict mode panics on the same input
    val e = intercept[CorrelationException](processBlock(emptyState, b1))
    assert(e.getMessage.contains("Missing tx_hash"))
  }

  test("J6: re-registering a receipt for a different tx throws") {
    val b = BlockFixtures.block(100, 2)
    val (st, _) = processBlock(emptyState, b)
    // forge a state where rB100 already belongs to another tx
    val forged = st.copy(receiptToTx = st.receiptToTx + ("rB100" -> "txOTHER"))
    val b1 = BlockFixtures.block(101, 2)
    val e = intercept[CorrelationException](processBlock(forged, b1))
    assert(e.getMessage.contains("Missing transaction") ||
      e.getMessage.contains("Duplicate receipt_id"))
  }

  test("J7: duplicate data_id keeps the OLD receipt; only promise-resume pairs allowed") {
    def dataBlock(h: Long, rid: String, resume: Boolean): BlockWithTxHashes = {
      val b = BlockFixtures.block(h, 10)
      val dr = ReceiptView("a.near", "b.near", rid, None,
        Some(DataReceiptView("DUP", Some("cGF5bG9hZA=="), resume)))
      b.copy(shards = Seq(b.shards.head.copy(
        chunk = b.shards.head.chunk.map(c => c.copy(receipts = Seq(dr))),
        receipt_execution_outcomes = Nil)))
    }
    // both promise-resume: second insert ignored, old receipt kept
    val (st1, _) = processBlock(emptyState, dataBlock(100, "drOLD", resume = true))
    val (st2, _) = processBlock(st1, dataBlock(101, "drNEW", resume = true))
    assert(st2.dataReceipts("DUP").receipt_id === "drOLD")
    // different receipts, not both promise-resume: fatal
    val (st3, _) = processBlock(emptyState, dataBlock(100, "drOLD", resume = false))
    val e = intercept[CorrelationException](
      processBlock(st3, dataBlock(101, "drNEW", resume = false)))
    assert(e.getMessage.contains("Duplicate data_id"))
    // same receipt id twice: warn-level, keeps working
    val (st4, _) = processBlock(st3, dataBlock(101, "drOLD", resume = false))
    assert(st4.dataReceipts("DUP").receipt_id === "drOLD")
  }

  test("correlateBatch on Spark matches the pure fold") {
    import Blocks.encoder
    val ds = spark.createDataset(BlockFixtures.blocks(6))(encoder)
    val fromSpark = TxCorrelator.correlateBatch(ds).collect()
    val (_, pure) = run(6)
    assert(fromSpark.map(_.transaction.hash).sorted ===
      pure.map(_.transaction.hash).sorted.toArray)
    assert(fromSpark.length === 9)
  }

  test("correlateStreamTws handles an oversized micro-batch (memory-contract smoke)") {
    // one ~600-block micro-batch through the single stateful task of the
    // production operator (correlateBatchTws feeds it as ONE trigger):
    // the documented bound is maxFilesPerTrigger at the SOURCE; this
    // pins that a batch well past the normal trigger size still sorts,
    // correlates and matches the batch correlator (no regression when an
    // operator accidentally lands everything in one trigger).
    import Blocks.encoder
    val n = 600
    val ds = spark.createDataset(BlockFixtures.blocks(n))(encoder)
    val streamed =
      TxCorrelator.correlateBatchTws(spark, BlockFixtures.blocks(n)).count()
    val batch = TxCorrelator.correlateBatch(ds).count()
    assert(streamed === batch)
  }

  test("A2: account_txs unions signer, receivers, args and log accounts") {
    import Blocks.encoder
    val ds = spark.createDataset(BlockFixtures.blocks(3))(encoder)
    val txs = TxCorrelator.correlateBatch(ds)
    val acct = TxFanout.accountTxs(txs).cache()
    val forTx100 = acct.where(col("transaction_hash") === "tx100")
      .select("account_id").collect().map(_.getString(0)).toSet
    // signer=alice.near; receivers app.near (rA), bank.near (rB);
    // args receiver_id=alice.near; logs: bob.near (nft_mint). NOT
    // carol.near — the ft_transfer fixture log has no "version" field
    // and EventJson requires all of version/standard/event/data
    // (transactions.rs:55-63), so that log contributes no accounts.
    assert(forTx100 === Set(
      "alice.near", "app.near", "bank.near", "bob.near"))
    // no duplicate (account, tx) pairs
    assert(acct.count() === acct.dropDuplicates("account_id", "transaction_hash").count())
  }

  test("fan-out: receipt_txs, block_txs, transactions, blocks shapes") {
    import Blocks.encoder
    val ds = spark.createDataset(BlockFixtures.blocks(3))(encoder)
    val txs = TxCorrelator.correlateBatch(ds).cache()

    val rt = TxFanout.receiptTxs(txs)
    val forTx100 = rt.where(col("transaction_hash") === "tx100")
      .select("receipt_id").collect().map(_.getString(0)).toSet
    assert(forTx100 === Set("rA100", "rB100", "dr100"))

    val bt = TxFanout.blockTxs(txs)
    assert(bt.where(col("transaction_hash") === "tx100")
      .select("block_height").collect().map(_.getLong(0)).toSet === Set(100L, 101L))

    val tx = TxFanout.transactions(txs)
    val row = tx.where(col("transaction_hash") === "tx100").head()
    assert(row.getAs[Long]("tx_block_height") === 100L)
    assert(row.getAs[Long]("last_block_height") === 101L)
    val json = row.getAs[String]("transaction")
    assert(json.contains("\"receipts\":") && json.contains("rB100"))

    val bl = TxFanout.blocks(BlockFixtures.df(spark, 3))
    assert(bl.count() === 3)
    assert(bl.columns.toSeq === Seq(
      "block_height", "block_hash", "block_timestamp", "prev_block_height",
      "epoch_id", "chunks_included", "prev_block_hash", "author_id",
      "signature", "protocol_version"))
  }

  test("replay idempotence: reprocessing a prefix yields the same completions") {
    val blocks = BlockFixtures.blocks(4)
    val (_, once) = run(4)
    // replay blocks 0..2 then full 0..3 with lenient mode (catch-up)
    val (st1, c1) = blocks.take(3).foldLeft((emptyState, Seq.empty[CompletedTx])) {
      case ((st, acc), b) => val (s, c) = processBlock(st, b); (s, acc ++ c)
    }
    val replayed = blocks.foldLeft((emptyState, Seq.empty[CompletedTx])) {
      case ((st, acc), b) =>
        val (s, c) = processBlock(st, b, lastDbBlockHeight = 102, strict = false)
        (s, acc ++ c)
    }
    assert(replayed._2.map(_.transaction.hash) === once.map(_.transaction.hash))
  }
}
