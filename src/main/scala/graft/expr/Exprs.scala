package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function layer of the pipeline (SURVEY.md §2.8) — every
  * function is a pure column expression (or the one custom Expression,
  * [[Base58Encode]]); nothing here leaves WholeStageCodegen.
  */
object Exprs {

  /** Canonical u128 carrier (SURVEY.md §7.4-3: values ≤ NEAR supply fit
    * losslessly). */
  val U128: DecimalType = DecimalType(38, 0)

  /** F1 `string_from_vec_u8` (/root/reference/src/actions.rs:286-289):
    * input is base64 wire text; emit the decoded bytes as UTF-8 when
    * valid, else `"base64:" + <original base64>`. Validity via Spark
    * 4's `is_valid_utf8` on the raw-byte string view (binary→string
    * cast wraps bytes unvalidated). */
  def textOrBase64(b64: Column): Column = {
    val txt = unbase64(b64).cast(StringType)
    when(b64.isNull, lit(null).cast(StringType))
      .when(is_valid_utf8(txt), txt)
      .otherwise(concat(lit("base64:"), b64))
  }

  /** F2 `limit_length` (/root/reference/src/actions.rs:280-284): strings
    * longer than 64 BYTES are nulled (byte semantics → octet_length). */
  val MaxTokenLength = 64
  def limitLength(c: Column): Column =
    when(octet_length(c) <= MaxTokenLength, c)

  /** F7: NEAR's `CryptoHash::hash_bytes(code).to_string()` =
    * base58(sha256(bytes)) (/root/reference/src/actions.rs:514-519);
    * sha2 returns hex text, unhex back to bytes for base58. */
  def base58(bin: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(Base58Encode(ColumnBridge.expression(bin)))
  }
  def sha256Base58(bytes: Column): Column = base58(unhex(sha2(bytes, 256)))

  /** u128-in-string parse: `.parse::<u128>().ok()` — digits only, NULL
    * on anything else (reference rejects sign/whitespace). Documented
    * deviation: 39-digit values (> 1e38-1, i.e. beyond Decimal(38,0))
    * also go NULL rather than overflow — unreachable for real yocto
    * amounts (SURVEY.md §7.4-3). */
  def parseU128(s: Column): Column =
    when(s.rlike("^[0-9]{1,38}$"), s.cast(U128))

  /** F3 `extract_return_value_int`
    * (/root/reference/src/actions.rs:291-298): SuccessValue bytes must
    * be a JSON string literal containing a bare u128. Matches the
    * serde `.ok()?` chain: anything else → NULL. (Deviation: JSON
    * string escapes inside the literal are not unescaped — digit-only
    * payloads contain none.) */
  def extractReturnValueInt(successValueB64: Column): Column = {
    val txt = unbase64(successValueB64).cast(StringType)
    parseU128(regexp_extract(txt, "^\"([0-9]{1,38})\"$", 1))
  }

  /** F4 `ArgsData` schema (/root/reference/src/actions.rs:253-265):
    * probed JSON args of a FunctionCall. amount/balance stay strings
    * here; parsed by [[parseU128]] at projection. */
  val argsSchema: StructType = StructType(Seq(
    StructField("account_id", StringType),
    StructField("args_new_account_id", StringType),
    StructField("args_owner_id", StringType),
    StructField("receiver_id", StringType),
    StructField("sender_id", StringType),
    StructField("token_id", StringType),
    StructField("nft_contract_id", StringType),
    StructField("nft_token_id", StringType),
    StructField("amount", StringType),
    StructField("balance", StringType)))

  def parseArgs(argsB64: Column): Column =
    from_json(unbase64(argsB64).cast(StringType), argsSchema)

  /** F5 `parse_event` (/root/reference/src/actions.rs:300-339): NEP-297
    * event JSON after the `EVENT_JSON:` log prefix. */
  val EventLogPrefix = "EVENT_JSON:"

  val eventDataSchema: StructType = StructType(Seq(
    StructField("account_id", StringType),
    StructField("owner_id", StringType),
    StructField("old_owner_id", StringType),
    StructField("new_owner_id", StringType),
    StructField("liquidation_account_id", StringType),
    StructField("authorized_id", StringType),
    StructField("token_ids", ArrayType(StringType)),
    StructField("token_id", StringType),
    StructField("position", StringType),
    StructField("amount", StringType)))

  val eventSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("standard", StringType),
    StructField("event", StringType),
    StructField("data", ArrayType(eventDataSchema))))

  /** Parsed event struct or NULL (no prefix / malformed JSON — serde
    * `.ok()?`). from_json yields NULL on malformed input in its default
    * mode, matching. */
  def parseEvent(log: Column): Column =
    when(log.startsWith(EventLogPrefix),
      from_json(expr_substr(log, EventLogPrefix.length + 1), eventSchema))

  private def expr_substr(c: Column, from: Int): Column =
    c.substr(lit(from), length(c))

  /** First event-data object, with the reference's trimming applied
    * (token_ids: drop >64-byte entries then keep first 4,
    * src/actions.rs:330-336; token_id length-limited). NULL when the
    * event has no data array or it's empty (then the caller defaults
    * token_ids to []). */
  def eventData0(event: Column): Column = {
    val d0 = element_at(event.getField("data"), 1)
    val trimmed = d0.withField(
      "token_ids",
      slice(
        filter(
          coalesce(d0.getField("token_ids"), array().cast(ArrayType(StringType))),
          t => octet_length(t) <= MaxTokenLength),
        1, 4))
      .withField("token_id", limitLength(d0.getField("token_id")))
    when(size(event.getField("data")) >= 1, trimmed)
  }

  /** F8: NEAR AccountId validity (2–64 chars of lowercase alnum
    * segments separated by `-_.`) as a pure rlike — no UDF
    * (/root/reference/src/transactions.rs:524-534 uses the near SDK
    * parser; this is the documented public grammar). */
  def isValidAccountId(c: Column): Column =
    length(c).between(2, 64) &&
      c.rlike("^([a-z0-9]+([\\-_][a-z0-9]+)*\\.)*[a-z0-9]+([\\-_][a-z0-9]+)*$")

  /** P7 status projection (/root/reference/src/actions.rs:369-374):
    * SuccessValue | SuccessReceiptId → SUCCESS; Failure | Unknown →
    * FAILURE. */
  def statusName(status: Column): Column =
    when(
      status.getField("success_value").isNotNull ||
        status.getField("success_receipt_id").isNotNull, "SUCCESS")
      .otherwise("FAILURE")
}
