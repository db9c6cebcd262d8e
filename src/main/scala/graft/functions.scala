package graft

import org.apache.spark.sql.Column

/** Single-import public surface of the engine's column functions —
  * `import graft.functions._` alongside
  * `org.apache.spark.sql.functions._`, mirroring how a Spark user
  * consumes any function library. Everything here is a pure Catalyst
  * expression (codegen-resident); DataFrame-level operators live on
  * their objects (ActionsExtract, TxCorrelator, Dedup.minhashPairs,
  * Similarity, AsOfJoin, RangeJoin, Skew, Replacing).
  */
object functions {

  // ---- NEAR / pipeline scalars (graft.expr.Exprs) ----
  def text_or_base64(b64: Column): Column = expr.Exprs.textOrBase64(b64)
  def base58(bin: Column): Column = expr.Exprs.base58(bin)
  def sha256_base58(bytes: Column): Column = expr.Exprs.sha256Base58(bytes)
  def parse_u128(s: Column): Column = expr.Exprs.parseU128(s)
  def is_valid_account_id(s: Column): Column = expr.Exprs.isValidAccountId(s)
  def parse_event(log: Column): Column = expr.Exprs.parseEvent(log)
  def limit_length(s: Column): Column = expr.Exprs.limitLength(s)

  // ---- text analysis (graft.ext.TextAnalysis) ----
  def tokens(text: Column): Column = ext.TextAnalysis.tokens(text)
  def tokens_regex(text: Column): Column = ext.TextAnalysis.tokensRegex(text)
  def token_count(text: Column): Column = ext.TextAnalysis.tokenCount(text)
  def lang_id(text: Column): Column = ext.TextAnalysis.langId(text)
  def quality_score(text: Column): Column = ext.TextAnalysis.qualityScore(text)
  def fingerprint(text: Column): Column = ext.TextAnalysis.fingerprint(text)
  def scrub_pii(text: Column): Column = ext.TextAnalysis.scrubPii(text)
  def nfc_normalize(text: Column): Column = ext.TextAnalysis.nfc(text)
  def normalize_text(text: Column): Column =
    ext.TextAnalysis.normalizeText(text)
  def count_emails(text: Column): Column = ext.TextAnalysis.countEmails(text)
  def char_sum(text: Column): Column = ext.TextAnalysis.charSum(text)
  def gopher_flags(
      text: Column, toks: Column, ntok: Column, charsum: Column): Column =
    ext.TextAnalysis.gopherFlags(text, toks, ntok, charsum)

  // ---- dataset hygiene (graft.ext.Splits) ----
  def assign_split(id: Column): Column = ext.Splits.assignSplit(id)

  // ---- dedup sketches (graft.ext.Dedup) ----
  def token_hashes(text: Column): Column = ext.Dedup.tokenHashes(text)
  def shingle_hashes(text: Column, w: Int = 3): Column =
    ext.Dedup.shingleHashes(text, w)
  def simhash(text: Column): Column = ext.Dedup.simhash(text)
  def hamming(a: Column, b: Column): Column = ext.Dedup.hamming(a, b)
  def jaccard(a: Column, b: Column): Column = ext.Dedup.jaccard(a, b)

  // ---- vector math (graft.ext.Similarity) ----
  def vec_dot(a: Column, b: Column): Column = ext.Similarity.dot(a, b)
  def vec_norm(a: Column): Column = ext.Similarity.norm(a)
  def vec_cosine(a: Column, b: Column): Column = ext.Similarity.cosine(a, b)
}
