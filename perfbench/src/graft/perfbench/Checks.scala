package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{abs, coalesce, col, lit, sum, when}

import graft.etl.{TxCorrelator, TxFanout}
import graft.schema.{Blocks, BlockWithTxHashes}
import graft.sink.Replacing
import graft.stream.BlockStream

/** The eight output tables: height column, ORDER BY key and bloom
  * columns, as the daemon writes them (`BlockStream`). */
final case class TableDef(name: String, heightCol: String, key: Seq[String], bloom: Seq[String])

object TableDef {
  val blocks = TableDef("blocks", "block_height", Seq("block_height"),
    Seq("block_hash", "epoch_id", "author_id"))
  val transactions = TableDef("transactions", "tx_block_height", Seq("transaction_hash"),
    Seq("transaction_hash", "signer_id"))
  val accountTxs = TableDef("account_txs", "tx_block_height",
    Seq("account_id", "tx_block_height", "transaction_hash"), Seq("account_id"))
  val receiptTxs = TableDef("receipt_txs", "tx_block_height",
    Seq("tx_block_height", "receipt_id"), Seq("receipt_id"))
  val blockTxs = TableDef("block_txs", "block_height",
    Seq("block_height", "transaction_hash"), Seq("transaction_hash"))
  val actions = TableDef("actions", "block_height", BlockStream.actionsOrderKey,
    Seq("account_id", "signer_id", "receipt_id", "transaction_hash", "predecessor_id"))
  val events = TableDef("events", "block_height", BlockStream.eventsOrderKey,
    Seq("account_id", "data_owner_id"))
  val data = TableDef("data", "block_height", BlockStream.dataOrderKey,
    Seq("account_id", "data_id"))

  /** Written in transactions mode (the `blocks` pipeline plus the four
    * fan-out tables); `transactions` last, as the daemon commits it. */
  val txMode: Seq[TableDef] = Seq(blocks, accountTxs, receiptTxs, blockTxs, transactions)
  val actionsMode: Seq[TableDef] = Seq(actions, events, data)

  def fanout(t: TableDef, txs: Dataset[TxCorrelator.CompletedTx]): DataFrame = t.name match {
    case "transactions" => TxFanout.transactions(txs)
    case "account_txs" => TxFanout.accountTxs(txs)
    case "receipt_txs" => TxFanout.receiptTxs(txs)
    case "block_txs" => TxFanout.blockTxs(txs)
  }
}

/** Output checks. A failed check fails the run and counts in `failed`. */
object Checks {
  final case class Result(name: String, ok: Boolean, detail: String)


  /** The corpus as a batch of typed blocks (corrupt documents dropped),
    * read the way the backfill reads it. */
  def blocks(spark: SparkSession, docsDir: Path): DataFrame =
    spark.read
      .schema(Blocks.schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(docsDir.toString)
      .where(col("_corrupt_record").isNull && col("block").isNotNull)
      .drop("_corrupt_record")

  def typed(df: DataFrame): Dataset[BlockWithTxHashes] = df.as[BlockWithTxHashes](Blocks.encoder)

  def table(spark: SparkSession, out: Path, t: TableDef): DataFrame =
    Replacing.dedupView(spark.read.parquet(out.resolve(t.name).toString), t.key)
      .drop("height_bucket")

  /** Rows of `actual` that `expected` lacks plus the reverse, counted
    * as a multiset difference in one aggregation, and `actual`'s count. */
  private def diff(expected: DataFrame, actual: DataFrame): (Long, Long) = {
    val cols = expected.columns.toIndexedSeq.map(col)
    val side = expected.select(cols :+ lit(1L).as("__side"): _*)
      .unionByName(actual.select(cols :+ lit(-1L).as("__side"): _*))
    val r = side.groupBy(cols: _*)
      .agg(sum("__side").as("d"), sum(when(col("__side") < 0, 1L).otherwise(0L)).as("n"))
      .agg(coalesce(sum(abs(col("d"))), lit(0L)), coalesce(sum("n"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Transactions-mode tables equal the fan-out of the sequential fold
    * (`TxCorrelator.correlateBatch`) over the same blocks, and their row
    * counts equal the generator's ground truth. */
  def txTables(label: String, spark: SparkSession, out: Path, docsDir: Path, truth: Corpus,
      more: Seq[() => Result] = Nil): Seq[Result] = {
    val b = blocks(spark, docsDir).persist()
    val txs = TxCorrelator.correlateBatch(typed(b)).persist()
    try {
      val completed = txs.count()
      Result(s"$label.fold.completed_txs", completed == truth.completed,
        s"fold completed $completed, generator ${truth.completed}") +:
        Harness.parallel(TableDef.txMode.map { t => () =>
          val expected =
            if (t.name == "blocks") TxFanout.blocks(b) else TableDef.fanout(t, txs)
          val (mismatched, n) = diff(expected, table(spark, out, t))
          Result(s"$label.tx_tables.${t.name}", mismatched == 0 && n == truth.rows(t.name),
            s"$n rows, generator ${truth.rows(t.name)}, $mismatched differ from the fold")
        } ++ more)
    } finally { txs.unpersist(); b.unpersist() }
  }

  /** Actions-mode tables hold the generator's row counts. */
  def actionsTables(spark: SparkSession, out: Path, rows: String => Long): Seq[() => Result] =
    TableDef.actionsMode.map { t => () =>
      val n = table(spark, out, t).count()
      Result(s"actions_tables.${t.name}", n == rows(t.name), s"$n rows, generator ${rows(t.name)}")
    }

  /** Every corrupt document lands in the quarantine, once. */
  def quarantine(label: String, spark: SparkSession, out: Path, expected: Long): Result = {
    val q = out.resolve("_quarantine")
    val n = if (Files.exists(q)) spark.read.json(q.toString).count() else 0L
    Result(s"$label.quarantine", n == expected, s"$n quarantined, generator $expected")
  }
}
