package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.sink.Replacing

/** The explorer's lookups, each through `Replacing.dedupView` over the
  * written tables. The table handles are opened once, as a serving
  * process would keep them. */
final class Lookups(spark: SparkSession, out: Path) {
  import Lookups._

  private def view(t: TableDef): DataFrame =
    Replacing.dedupView(spark.read.parquet(out.resolve(t.name).toString), t.key)

  private val txs = view(TableDef.transactions)
  private val receipts = view(TableDef.receiptTxs)
  private val accounts = view(TableDef.accountTxs)
  private val blockTxs = view(TableDef.blockTxs)

  def frame(l: Lookup): DataFrame = l.kind match {
    case "tx_by_hash" =>
      txs.where(col("transaction_hash") === l.key)
        .select("transaction_hash", "signer_id", "tx_block_height", "last_block_height")
    case "receipt_to_tx" =>
      receipts.where(col("receipt_id") === l.key).select("transaction_hash")
        .join(txs, "transaction_hash")
        .select("transaction_hash", "signer_id", "tx_block_height")
    case "account_history" =>
      accounts.where(col("account_id") === l.key)
        .orderBy(col("tx_block_height").desc, col("transaction_hash").desc)
        .limit(HistoryLimit)
        .select("tx_block_height", "transaction_hash")
    case "block_txs" =>
      blockTxs.where(col("block_height") === l.key.toLong)
        .select("transaction_hash").orderBy("transaction_hash")
  }

  /** Runs one lookup; true when its rows equal the expected rows. */
  def run(l: Lookup): Boolean =
    frame(l).collect().toSeq.map(_.toSeq.map(v => String.valueOf(v))) == l.expect
}

object Lookups extends AdaptiveSparkPlanHelper {
  val HistoryLimit = 25

  /** Files, bytes and rows the parquet scans of an executed plan read. */
  def scanned(df: DataFrame): (Long, Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}
