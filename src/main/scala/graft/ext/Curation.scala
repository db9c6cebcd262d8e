package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stages of the t30 curation DAG that [[graft.CurateMain]] composes:
  * the Gopher quality flags and gate, and the shard formula keyed on
  * the content digest. */
object Curation {

  /** Stage 1's shared projection — EVERY document with its tokens and
    * Gopher flags, unfiltered: (doc_id, text, toks, ntok, fl). One
    * tokenize pass serves both the gate ([[qualityPass]] filters this
    * frame) and pre-filter accounting (funnel "input" rows, t39's
    * first-failing-stage labels) — callers that need both must not pay
    * the corpus tokenize twice. */
  def qualityFlags(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import TextAnalysis.{charSum, gopherFlags, tokens}
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        tokens(col(textCol)).as("toks"),
        charSum(col(textCol)).cast("long").as("charsum"))
      .select(col("doc_id"), col("text"), col("toks"),
        size(col("toks")).cast("long").as("ntok"),
        gopherFlags(col("text"), col("toks"),
          size(col("toks")).cast("long"), col("charsum")).as("fl"))
  }

  /** The pass-all predicate over a [[qualityFlags]] row (the t30
    * gate). */
  def qualityPass: Column =
    col("fl.f_wordcount") === 1 && col("fl.f_wordlen") === 1 &&
      col("fl.f_symbols") === 1 && col("fl.f_bullet") === 1 &&
      col("fl.f_stopwords") === 1

  /** Stage 5 — the t17 shard formula ([[Splits.shardOfDigest]], the
    * single definition of the contract) keyed on the content digest,
    * so WHICH exact duplicate survived dedup cannot move a document's
    * shard. */
  def shardOfContent(contentHash: Column, nShards: Int): Column =
    Splits.shardOfDigest(contentHash, nShards)
}
