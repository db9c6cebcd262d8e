package graft.sink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.schema.ActionKind

/** ClickHouse CREATE TABLE emitter for the engine's eight output
  * tables (see README "Deploying against ClickHouse").
  *
  * Column NAMES, ORDER and base types derive from the LIVE engine
  * StructTypes (the same projections the query pack certifies), so
  * renaming/reordering/retyping a column anywhere in the ETL changes
  * the generated DDL. What a Spark schema cannot carry — unsigned
  * widths, u128-ness, enum value sets, ClickHouse NULLABILITY (Spark's
  * join-derived nullability is conservative, not contractual), primary
  * key and sort key — lives in the per-table [[Layout]] metadata
  * below. The same [[Layout]] carries the parquet side of each table:
  * its height-bucket column and its bloom-filter columns (the Spark
  * counterpart of the skip indexes), so `BlockStream` writes every
  * table from this one catalog. DdlParitySpec diffs the generated
  * statements against the reference contract in the test resource
  * `reference_ddl.sql` (CREATE
  * TABLE blocks plus the `alter table actions modify column action`
  * enum extension), so drift on EITHER side — an ETL schema change, a
  * metadata edit, or a reference contract update — fails the suite.
  *
  * Type mapping (engine → ClickHouse): BIGINT → UInt64 (heights, gas —
  * all non-negative by construction), except `*_timestamp` columns,
  * whose engine form is epoch NANOS (F11) and whose wire form is
  * DateTime64(9, 'UTC'); INT → UInt32 (UInt16 where the layout says
  * so); DECIMAL(38,0) → UInt128 (F6 u128 amounts); STRING → String or
  * the layout's Enum; ARRAY<STRING> → Array(String).
  */
object ClickHouseDdl {

  /** `heightCol` buckets the parquet table (`height_bucket`
    * directories); `bloom` lists its parquet bloom-filter columns. */
  final case class Layout(
      primaryKey: Seq[String],
      orderBy: Seq[String],
      nullable: Set[String],
      heightCol: String,
      bloom: Seq[String],
      uint16: Set[String] = Set.empty,
      enums: Map[String, Seq[String]] = Map.empty)

  private val statusEnum = Seq("FAILURE", "SUCCESS")

  val layouts: Map[String, Layout] = Map(
    "actions" -> Layout(
      primaryKey = Seq("block_height", "account_id"),
      orderBy =
        Seq("block_height", "account_id", "receipt_index", "action_index"),
      nullable = Set(
        "status_success_value", "status_success_receipt", "status_failure",
        "contract_hash", "public_key", "access_key_contract_id", "deposit",
        "attached_gas", "method_name", "args", "args_account_id",
        "args_new_account_id", "args_owner_id", "args_receiver_id",
        "args_sender_id", "args_token_id", "args_amount", "args_balance",
        "args_nft_contract_id", "args_nft_token_id", "return_value_int"),
      heightCol = "block_height",
      bloom = Seq("account_id", "signer_id", "receipt_id", "transaction_hash",
        "predecessor_id"),
      uint16 = Set("action_index"),
      enums = Map("status" -> statusEnum, "action" -> ActionKind.all)),
    "events" -> Layout(
      primaryKey = Seq("block_height", "account_id"),
      orderBy =
        Seq("block_height", "account_id", "receipt_index", "log_index"),
      nullable = Set(
        "version", "standard", "event", "data_account_id", "data_owner_id",
        "data_old_owner_id", "data_new_owner_id",
        "data_liquidation_account_id", "data_authorized_id",
        "data_token_id", "data_position", "data_amount"),
      heightCol = "block_height",
      bloom = Seq("account_id", "data_owner_id"),
      uint16 = Set("log_index"),
      enums = Map("status" -> statusEnum)),
    "data" -> Layout(
      primaryKey = Seq("block_height", "account_id"),
      orderBy = Seq("block_height", "account_id", "receipt_index"),
      nullable = Set("data"),
      heightCol = "block_height",
      bloom = Seq("account_id", "data_id")),
    "transactions" -> Layout(
      primaryKey = Seq("transaction_hash"),
      orderBy = Seq("transaction_hash"),
      nullable = Set.empty,
      heightCol = "tx_block_height",
      bloom = Seq("transaction_hash", "signer_id")),
    "account_txs" -> Layout(
      primaryKey = Seq("account_id", "tx_block_height"),
      orderBy = Seq("account_id", "tx_block_height", "transaction_hash"),
      nullable = Set.empty,
      heightCol = "tx_block_height",
      bloom = Seq("account_id")),
    "block_txs" -> Layout(
      primaryKey = Seq("block_height"),
      orderBy = Seq("block_height", "transaction_hash"),
      nullable = Set.empty,
      heightCol = "block_height",
      bloom = Seq("transaction_hash")),
    "receipt_txs" -> Layout(
      primaryKey = Seq("tx_block_height"),
      orderBy = Seq("tx_block_height", "receipt_id"),
      nullable = Set.empty,
      heightCol = "tx_block_height",
      bloom = Seq("receipt_id")),
    "blocks" -> Layout(
      primaryKey = Seq("block_height"),
      orderBy = Seq("block_height"),
      nullable = Set("prev_block_height"),
      heightCol = "block_height",
      // not epoch_id/author_id: their values repeat within a bucket, so
      // their chunks stay dictionary-encoded, parquet writes no bloom
      // for them, and the dictionary already prunes row groups
      bloom = Seq("block_hash")))

  /** ClickHouse type for one engine column under a table layout. */
  private def chType(table: String, f: StructField): String = {
    val lay = layouts(table)
    val base = f.dataType match {
      case LongType if f.name.endsWith("_timestamp") =>
        "DateTime64(9, 'UTC')"
      case LongType => "UInt64"
      case IntegerType => if (lay.uint16(f.name)) "UInt16" else "UInt32"
      case _: DecimalType => "UInt128"
      case StringType =>
        lay.enums.get(f.name)
          .map(vs => vs.map(v => s"'$v'").mkString("Enum(", ", ", ")"))
          .getOrElse("String")
      case ArrayType(StringType, _) => "Array(String)"
      case other =>
        sys.error(s"no ClickHouse mapping for $table.${f.name}: $other")
    }
    if (lay.nullable(f.name)) s"Nullable($base)" else base
  }

  /** Structured model: ordered (column, ClickHouse type) plus keys —
    * what the parity spec diffs against the reference README parse. */
  def model(table: String, schema: StructType)
      : (Seq[(String, String)], Seq[String], Seq[String]) = {
    val lay = layouts(table)
    (schema.fields.toSeq.map(f => f.name -> chType(table, f)),
      lay.primaryKey, lay.orderBy)
  }

  /** Rendered CREATE TABLE statement (no COMMENT/INDEX clauses — the
    * parity contract is names/order/types/keys; skip indexes have their
    * Spark-side counterpart in [[Layout.bloom]], written by
    * [[Replacing.appendWrite]]). */
  def createTable(table: String, schema: StructType): String = {
    val (cols, pk, ob) = model(table, schema)
    val width = cols.map(_._1.length).max
    val body = cols
      .map { case (n, t) => s"    ${n.padTo(width + 1, ' ')}$t" }
      .mkString(",\n")
    s"""CREATE TABLE $table
       |(
       |$body
       |) ENGINE = ReplacingMergeTree
       |PRIMARY KEY (${pk.mkString(", ")})
       |ORDER BY (${ob.mkString(", ")})""".stripMargin
  }

  /** The eight engine output schemas, instantiated from the SAME
    * projection functions the query pack certifies (schema-only: the
    * correlator fan-outs run on an empty typed Dataset, the extract
    * tables on a one-block fixture). */
  def engineSchemas(spark: SparkSession): Seq[(String, StructType)] = {
    import graft.etl.{ActionsExtract, TxCorrelator, TxFanout}
    implicit val enc: org.apache.spark.sql.Encoder[TxCorrelator.CompletedTx] =
      org.apache.spark.sql.Encoders.product[TxCorrelator.CompletedTx]
    val fx = graft.fixtures.BlockFixtures.df(spark, 1)
    val indexed = ActionsExtract.indexedReceipts(fx)
    val comp = spark.emptyDataset[TxCorrelator.CompletedTx]
    Seq(
      "actions" -> ActionsExtract.actions(indexed).schema,
      "events" -> ActionsExtract.events(indexed).schema,
      "data" -> ActionsExtract.data(indexed).schema,
      "transactions" -> TxFanout.transactions(comp).schema,
      "account_txs" -> TxFanout.accountTxs(comp).schema,
      "block_txs" -> TxFanout.blockTxs(comp).schema,
      "receipt_txs" -> TxFanout.receiptTxs(comp).schema,
      "blocks" -> TxFanout.blocks(fx).schema)
  }

  /** All eight DDLs, the deployment artifact. */
  def allDdl(spark: SparkSession): String =
    engineSchemas(spark)
      .map { case (n, s) => createTable(n, s) }
      .mkString("\n\n")
}
