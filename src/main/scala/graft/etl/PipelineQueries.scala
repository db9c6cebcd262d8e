package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.BlockFixtures
import graft.query.Q
import graft.schema.Blocks
import graft.sink.{ClickHouseDdl, Replacing}

/** Query-pack surface for the ETL pipeline half: the fixture block
  * corpus (deterministic, generated in-process — the sfDir has no block
  * documents) through actions mode (P1–P16), transactions mode
  * (J1–J10, A2/A3), the ReplacingMergeTree semantics (A5) and the
  * §3.3 explorer query shapes.
  *
  * Oracles are CONSTRUCTIVE: every fixture value is a pure function of
  * the block height (BlockFixtures is seed-free by design), so the
  * expected output of each extract/correlate surface is itself a pure
  * function of height — expressed in the oracle as DuckDB SQL over
  * `range(100, 140)` that independently re-derives the rows from the
  * fixture definition + the reference's documented semantics
  * (/root/reference/src/actions.rs, src/transactions.rs). The SQL never
  * sees Spark's answer; agreement is a real differential check of the
  * traversal order (receipt_index ranks), per-kind projections, status
  * mapping, token trimming, account-set union and DAG closure.
  */
object PipelineQueries {

  private val N = 40 // fixture blocks per query run

  private def fixture(s: SparkSession): DataFrame = BlockFixtures.df(s, N)

  /** Driver-output discipline: every column the driver sees must be an
    * atomic, hashable scalar (its pandas compare sorts/hashes EVERY
    * returned column, even for rows-only checks — an array/struct/map
    * column crashes it with `unhashable type: numpy.ndarray`). The
    * stored tables keep their DDL-exact array columns; only this
    * query-pack projection serializes complex types to JSON strings.
    *
    * For DuckDB-oracle parity the projection additionally normalizes to
    * the strings+int64 contract: Decimal(38,0) u128 amounts exceed
    * int64 and DuckDB 1.0.0 renders HUGEINT/DECIMAL as float in pandas,
    * so decimals go out as digit strings; sub-long integrals upcast to
    * int64 so both sides land on the same pandas dtype.
    */
  private def driverSafe(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: StructType | _: MapType =>
          to_json(col(f.name)).as(f.name)
        case _: DecimalType => col(f.name).cast(StringType).as(f.name)
        case ByteType | ShortType | IntegerType =>
          col(f.name).cast(LongType).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Correlated fixture txs via the PRODUCTION streaming operator
    * (`transformWithState` — round-8 wire): p4–p7's hash oracles
    * thereby certify the Tws path end to end, not a batch stand-in.
    * The sequential twin (`correlateBatch`) stays covered by
    * TxCorrelatorSpec and the equivalence properties. */
  private def completed(s: SparkSession) =
    TxCorrelator.correlateBatchTws(s, BlockFixtures.blocks(N))

  val all: Seq[Q] = Seq(
    Q("p1_actions_extract", PipelineOracles.p1) { (s, _) =>
      driverSafe(
        ActionsExtract.actions(ActionsExtract.indexedReceipts(fixture(s))))
    },
    Q("p2_events_extract", PipelineOracles.p2) { (s, _) =>
      driverSafe(
        ActionsExtract.events(ActionsExtract.indexedReceipts(fixture(s))))
    },
    Q("p3_data_extract", PipelineOracles.p3) { (s, _) =>
      driverSafe(
        ActionsExtract.data(ActionsExtract.indexedReceipts(fixture(s))))
    },
    Q("p4_tx_correlate", PipelineOracles.p4) { (s, _) =>
      driverSafe(TxFanout.transactions(completed(s)))
    },
    Q("p5_account_txs", PipelineOracles.p5) { (s, _) =>
      driverSafe(TxFanout.accountTxs(completed(s)))
    },
    Q("p6_receipt_txs", PipelineOracles.p6) { (s, _) =>
      driverSafe(TxFanout.receiptTxs(completed(s)))
    },
    Q("p7_block_txs", PipelineOracles.p7) { (s, _) =>
      driverSafe(TxFanout.blockTxs(completed(s)))
    },
    Q("p8_blocks", PipelineOracles.p8) { (s, _) =>
      driverSafe(TxFanout.blocks(fixture(s)))
    },
    // A5: replaying duplicated input collapses to the same table under
    // the dedup view (the ReplacingMergeTree property).
    Q("p9_replacing_dedup", PipelineOracles.p9) { (s, _) =>
      val a = ActionsExtract.actions(ActionsExtract.indexedReceipts(fixture(s)))
      driverSafe(Replacing.dedupView(
        a.unionAll(a), ClickHouseDdl.layouts("actions").orderBy))
    },
    // §3.3-5: account activity page over the extracted actions table
    // (range + point predicate + sort, the bloom/minmax shape).
    Q("p10_account_history", PipelineOracles.p10) { (s, _) =>
      driverSafe(
        ActionsExtract.actions(ActionsExtract.indexedReceipts(fixture(s)))
          .where(col("account_id") === "bank.near" &&
            col("block_height").between(105, 130))
          .select("block_height", "receipt_id", "action_index", "action",
            "status", "deposit")
          .orderBy("block_height", "receipt_index", "action_index"))
    },
    // 100 TB backfill path: label-propagation correlator (equality with
    // the sequential state machine is pinned by DistributedCorrelatorSpec).
    Q("p12_distributed_correlate", PipelineOracles.p12) { (s, _) =>
      driverSafe(TxFanout.transactions(DistributedCorrelator.correlate(fixture(s))))
    },

    // §3.3-3: receipt -> transaction resolve join. The correlated set is
    // persisted: receiptTxs and transactions both consume it, and a
    // self-referencing join otherwise recomputes the whole correlator
    // once per side (the repo's documented self-join gotcha). The join
    // key is transaction_hash alone — it is unique per completed tx, so
    // the extra signer/height keys add shuffle width for nothing.
    Q("p11_receipt_lookup", PipelineOracles.p11) { (s, _) =>
      val txs = completed(s).persist()
      val rt = TxFanout.receiptTxs(txs)
      val t = TxFanout.transactions(txs)
      driverSafe(
        rt.where(col("receipt_id").startsWith("rB"))
          .join(t.select("transaction_hash", "last_block_height"),
            Seq("transaction_hash"))
          .select("receipt_id", "transaction_hash", "tx_block_height",
            "last_block_height")
          .orderBy("receipt_id"))
    }
  )
}
