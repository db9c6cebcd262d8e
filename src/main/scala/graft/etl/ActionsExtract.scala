package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import graft.expr.Exprs._
import graft.schema.{Blocks, ExecutionOutcomeView}

/** "actions" mode (P1–P16): nested block documents → the `actions`,
  * `events`, `data` tables (/root/reference/src/actions.rs:341-670;
  * DDL README.md:115-239).
  *
  * The reference walks the document imperatively with one mutable
  * `receipt_index` counter spanning all shards of a block. Here the
  * same traversal is declarative: two posexplode branches (action-
  * receipt outcomes, then chunk data receipts) union into one skinny
  * frame, and `receipt_index` is a rank over the explicit ordering the
  * Rust iteration implies — (shard position, phase action=0/data=1,
  * position within phase) (SURVEY.md §7.4-1). The window partitions by
  * block, so at scale rows of a block meet on one executor but blocks
  * spread freely — the per-block receipt count (≤ a few thousand)
  * bounds the window, never the table size.
  */
object ActionsExtract {

  private val outcomeType =
    org.apache.spark.sql.Encoders.product[ExecutionOutcomeView].schema

  /** One row per receipt that consumes an index slot, with the global
    * per-block `receipt_index` assigned (P6/W1). */
  def indexedReceipts(blocks: DataFrame): DataFrame = {
    val hdr = Seq(
      col("block.header.height").as("block_height"),
      col("block.header.hash").as("block_hash"),
      col("block.header.timestamp_nanosec").as("block_timestamp"))

    val shards = blocks.select(
      hdr :+ posexplode(col("shards")).as(Seq("shard_pos", "shard")): _*)

    // P2: executed action receipts (Data outcomes are structurally
    // impossible, src/actions.rs:625; GlobalContractDistribution rows —
    // both variants null — are skipped WITHOUT consuming an index,
    // src/actions.rs:627)
    val outcomes = shards
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("shard_pos"),
        posexplode(col("shard.receipt_execution_outcomes")).as(Seq("pos", "o")))
      .where(col("o.receipt.action").isNotNull)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("shard_pos"), lit(0).as("phase"), col("pos"),
        col("o.tx_hash").as("transaction_hash"),
        col("o.receipt").as("receipt"),
        col("o.execution_outcome.outcome").as("outcome"))

    // P5: data receipts declared in the chunk (Action receipts there are
    // "processed with the execution outcomes" and skipped,
    // src/actions.rs:640-642)
    val dataReceipts = shards
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("shard_pos"),
        posexplode(col("shard.chunk.receipts")).as(Seq("pos", "r")))
      .where(col("r.data").isNotNull)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("shard_pos"), lit(1).as("phase"), col("pos"),
        lit(null).cast(StringType).as("transaction_hash"),
        col("r").as("receipt"),
        lit(null).cast(outcomeType).as("outcome"))

    val w = Window.partitionBy(col("block_height"))
      .orderBy(col("shard_pos"), col("phase"), col("pos"))
    outcomes.unionByName(dataReceipts)
      .withColumn("receipt_index", (row_number().over(w) - 1).cast(IntegerType))
  }

  /** The 41-column `actions` table (README.md:115-179). */
  def actions(indexed: DataFrame): DataFrame = {
    val base = indexed
      .where(col("phase") === 0)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("transaction_hash"),
        col("receipt.receipt_id").as("receipt_id"),
        col("receipt_index"),
        col("receipt.predecessor_id").as("predecessor_id"),
        col("receipt.receiver_id").as("account_id"),
        col("receipt.action").as("ar"),
        col("outcome"),
        posexplode(col("receipt.action.actions"))
          .as(Seq("action_index_l", "act")))

    val status = col("outcome.status")
    val act = col("act")
    val kind = act.getField("kind")

    // F4/F8: args probed as JSON; serde's AccountId-typed fields make
    // the WHOLE parse fail on one invalid account id — reproduce by
    // nulling the struct when any probed account field is invalid.
    val parsedArgs = parseArgs(act.getField("args"))
    val accountFields = Seq(
      "account_id", "args_new_account_id", "args_owner_id",
      "receiver_id", "sender_id", "nft_contract_id")
    val allAccountsValid = accountFields
      .map(f => coalesce(isValidAccountId(parsedArgs.getField(f)), lit(true)))
      .reduce(_ && _)
    val argsData = when(kind === "FUNCTION_CALL" && allAccountsValid, parsedArgs)

    base.select(
      col("block_height"), col("block_hash"), col("block_timestamp"),
      col("transaction_hash"), col("receipt_id"), col("receipt_index"),
      col("action_index_l").cast(IntegerType).as("action_index"),
      col("ar.signer_id").as("signer_id"),
      col("ar.signer_public_key").as("signer_public_key"),
      col("predecessor_id"), col("account_id"),
      statusName(status).as("status"),
      kind.as("action"),
      to_json(act).as("action_json"),
      col("ar.input_data_ids").as("input_data_ids"),
      textOrBase64(status.getField("success_value")).as("status_success_value"),
      status.getField("success_receipt_id").as("status_success_receipt"),
      status.getField("failure").as("status_failure"),
      when(kind === "DEPLOY_CONTRACT",
        sha256Base58(unbase64(act.getField("code")))).as("contract_hash"),
      when(kind.isin("ADD_KEY", "DELETE_KEY"), act.getField("public_key"))
        .as("public_key"),
      when(kind === "ADD_KEY",
        act.getField("access_key").getField("permission")
          .getField("function_call").getField("receiver_id"))
        .as("access_key_contract_id"),
      when(kind === "TRANSFER", parseU128(act.getField("deposit")))
        .when(kind === "STAKE", parseU128(act.getField("stake")))
        .when(kind === "FUNCTION_CALL", parseU128(act.getField("deposit")))
        .as("deposit"),
      parseU128(col("ar.gas_price")).as("gas_price"),
      when(kind === "FUNCTION_CALL", act.getField("gas")).as("attached_gas"),
      col("outcome.gas_burnt").as("gas_burnt"),
      parseU128(col("outcome.tokens_burnt")).as("tokens_burnt"),
      when(kind === "FUNCTION_CALL", act.getField("method_name"))
        .as("method_name"),
      when(kind === "FUNCTION_CALL", textOrBase64(act.getField("args")))
        .as("args"),
      argsData.getField("account_id").as("args_account_id"),
      argsData.getField("args_new_account_id").as("args_new_account_id"),
      argsData.getField("args_owner_id").as("args_owner_id"),
      argsData.getField("receiver_id").as("args_receiver_id"),
      argsData.getField("sender_id").as("args_sender_id"),
      limitLength(argsData.getField("token_id")).as("args_token_id"),
      parseU128(argsData.getField("amount")).as("args_amount"),
      parseU128(argsData.getField("balance")).as("args_balance"),
      argsData.getField("nft_contract_id").as("args_nft_contract_id"),
      limitLength(argsData.getField("nft_token_id")).as("args_nft_token_id"),
      extractReturnValueInt(status.getField("success_value"))
        .as("return_value_int"))
  }

  /** The 27-column `events` table (README.md:180-220): one row per log
    * line of an executed action receipt (P4, P15, F5). */
  def events(indexed: DataFrame): DataFrame = {
    val base = indexed
      .where(col("phase") === 0)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("transaction_hash"),
        col("receipt.receipt_id").as("receipt_id"),
        col("receipt_index"),
        col("receipt.predecessor_id").as("predecessor_id"),
        col("receipt.receiver_id").as("account_id"),
        col("receipt.action").as("ar"),
        col("outcome"),
        posexplode(col("outcome.logs")).as(Seq("log_index_l", "log")))

    val ev = parseEvent(col("log"))
    val d0 = eventData0(ev)

    base
      .withColumn("ev", ev)
      .withColumn("d0", d0)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("transaction_hash"), col("receipt_id"), col("receipt_index"),
        col("log_index_l").cast(IntegerType).as("log_index"),
        col("ar.signer_id").as("signer_id"),
        col("ar.signer_public_key").as("signer_public_key"),
        col("predecessor_id"), col("account_id"),
        statusName(col("outcome.status")).as("status"),
        col("log"),
        limitLength(col("ev.version")).as("version"),
        limitLength(col("ev.standard")).as("standard"),
        limitLength(col("ev.event")).as("event"),
        col("d0.account_id").as("data_account_id"),
        col("d0.owner_id").as("data_owner_id"),
        col("d0.old_owner_id").as("data_old_owner_id"),
        col("d0.new_owner_id").as("data_new_owner_id"),
        col("d0.liquidation_account_id").as("data_liquidation_account_id"),
        col("d0.authorized_id").as("data_authorized_id"),
        coalesce(col("d0.token_ids"), array().cast(ArrayType(StringType)))
          .as("data_token_ids"),
        col("d0.token_id").as("data_token_id"),
        col("d0.position").as("data_position"),
        parseU128(col("d0.amount")).as("data_amount"))
  }

  /** The 9-column `data` table (README.md:222-239) (P5, P16). */
  def data(indexed: DataFrame): DataFrame =
    indexed
      .where(col("phase") === 1)
      .select(
        col("block_height"), col("block_hash"), col("block_timestamp"),
        col("receipt.receipt_id").as("receipt_id"),
        col("receipt_index"),
        col("receipt.predecessor_id").as("predecessor_id"),
        col("receipt.receiver_id").as("account_id"),
        col("receipt.data.data_id").as("data_id"),
        textOrBase64(col("receipt.data.data")).as("data"))
}
