package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for a training-data pipeline, built entirely
  * from codegen'd `functions._` column expressions — no UDFs, so the hot
  * path stays inside WholeStageCodegen and scales linearly with input
  * splits (no driver-side work, no shuffles for per-document scores).
  */
object TextAnalysis {

  /** Whitespace tokenization (the test corpus is single-space separated;
    * a BPE-ish `\p{L}+|\p{N}+|[^\s\p{L}\p{N}]` regex variant is
    * `tokensRegex`). */
  def tokens(text: Column): Column = split(trim(text), " +")

  /** Maximal letter runs + maximal non-letter-non-space runs — the
    * match-extraction formulation (rather than lookaround splits) so the
    * identical RE2-compatible pattern runs on any engine. */
  val TokensRegexPattern = "\\p{L}+|[^\\p{L} ]+"

  def tokensRegex(text: Column): Column =
    regexp_extract_all(text, lit(TokensRegexPattern), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Small closed-class stopword sets per language — enough for an
    * n-gram/stopword-hit language-ID heuristic over the test corpus. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "en"))

  def stopwordHitsFromTokens(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  def stopwordHits(text: Column, words: Seq[String]): Column =
    stopwordHitsFromTokens(tokens(text), words)

  /** Language ID: argmax over per-language stopword hit rates. Pure
    * column expression → distributes with the scan. Returns the 2-letter
    * code with the most hits, 'und' when nothing matches. Pass a
    * MATERIALIZED tokens column (prior projection) — an inline
    * `tokens(text)` here would re-run the split once per language.
    */
  def langIdFromTokens(toks: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHitsFromTokens(toks, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max on struct = lexicographic (hits, lang) — deterministic
    // tie-break by language code.
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * mean token length — the standard cheap pre-filters for web corpora.
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRate =
      stopwordHits(text, stopwords("en")).cast("double") / greatest(nTok, lit(1.0))
    val punctRate =
      punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0))
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    // weighted blend in [0,1]
    (lenScore * 0.4 + stopRate * 0.4 + (lit(1.0) - punctRate) * 0.2)
  }

  /** PII scrubbing — the standard pre-training redaction pass. Patterns
    * are RE2-compatible (no lookaround/backrefs) so any engine applies
    * the very same regexes; replacement is global on both Spark and
    * DuckDB (`regexp_replace` all-matches / `'g'`). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  def countEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** Repetition profile (Gopher-style quality filter): per-document
    * token totals, distinct-token count and max single-token frequency —
    * one explode + two aggregations, no join (`sum(n)` recovers the
    * total, so the exploded frame is aggregated exactly once). All
    * integer math → exact on any engine. */
  def repetitionProfile(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tk"))
      .groupBy("doc_id", "tk")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("max_tok_freq"))

  /** Total characters across tokens (text length minus separator runs) —
    * the numerator of mean-word-length, computed without an explode. */
  def charSum(text: Column): Column =
    length(regexp_replace(trim(text), " +", ""))

  /** Gopher-style rule flags (Rae et al. 2021's cheap quality filters,
    * re-expressed as pure integer column expressions): word-count bounds,
    * mean word length (×100, floor over an identical double tree — no
    * drift), symbol-to-word ratio, bullet-line start, minimum stopword
    * evidence. Each flag is a 0/1 long in the returned struct; AND them
    * for a pass/fail gate. Pass MATERIALIZED toks/ntok/charsum columns
    * (prior projection) so the token split runs once per document.
    */
  def gopherFlags(
      text: Column, toks: Column, ntok: Column, charsum: Column): Column = {
    val nEllipsis = (length(text) - length(replace(text, lit("..."), lit("")))).cast("long") / 3
    val nHash = (length(text) - length(replace(text, lit("#"), lit("")))).cast("long")
    val fWordcount = when(ntok.between(50, 100000), 1L).otherwise(0L)
    // mean word length ×100: floor over double division — both engines
    // evaluate the identical tree (exact-int operands → bit-equal).
    val mwlE2 =
      floor((charsum.cast("double") * lit(100.0)) / ntok.cast("double"))
    val fWordlen = when(mwlE2.between(300, 1000), 1L).otherwise(0L)
    val fSymbols = when((nEllipsis.cast("long") + nHash) * 10 <= ntok, 1L).otherwise(0L)
    val fBullet = when(text.like("- %") || text.like("* %"), 0L).otherwise(1L)
    val fStop =
      when(stopwordHitsFromTokens(toks, stopwords("en")) >= 2, 1L).otherwise(0L)
    struct(
      fWordcount.as("f_wordcount"), fWordlen.as("f_wordlen"),
      fSymbols.as("f_symbols"), fBullet.as("f_bullet"),
      fStop.as("f_stopwords"))
  }

  /** Per-document top-k TF-IDF terms. ONE explode and one corpus-scale
    * shuffle: term frequency aggregates per (doc, term); document
    * frequency is the per-term row count of that SAME tf frame (a
    * (doc,term) row exists iff the doc contains the term), so the df
    * aggregation reuses tf's exchange instead of re-exploding the
    * corpus. Then a shuffle join on term and a per-doc rank window —
    * every stage partition-parallel, nothing collected. Score =
    * tf · ln(N/df) with the exact association written out so an oracle
    * engine evaluates the identical double tree. Ties break by term ASC
    * → fully deterministic. Output: doc_id, rk, term, score_e6
    * (floor(score·1e6), long). */
  def tfidfTopTerms(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"),
        floor(col("score") * 1000000).cast("long").as("score_e6"))
  }

  /** Okapi BM25 document ranking against a fixed term query — the
    * retrieval baseline a training-data pipeline pairs with its ANN
    * path (lexical recall next to s1/s2's dense recall). Standard
    * Lucene-shape formula per query term t:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Scale/exactness discipline (t14/t18): one corpus explode feeds tf,
    * df and doc-length; query terms ship as a broadcast literal frame
    * (never a corpus-wide join on anything but the term key); every
    * aggregation is integer; doubles appear in ONE fixed expression
    * tree per (doc, term), e6-floored to an integer BEFORE the per-doc
    * sum — so partial-agg order cannot perturb the score and an oracle
    * replays it bit-exactly. Output: (doc_id, score_e6) for docs
    * matching ≥1 query term. */
  def bm25(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val q = docs.sparkSession.createDataFrame(
      queryTerms.distinct.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    val dfreq = tf.join(broadcast(q), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val norm = col("tf").cast("double") * (k1 + 1.0) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
          col("n_docs").cast("double") / col("sum_dl").cast("double")))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor((idf * norm) * 1e6).cast("long").as("t_e6"))
      .groupBy("doc_id")
      .agg(sum(col("t_e6")).as("score_e6"))
  }

  /** Document fingerprint: rolling hash over tokens — each step feeds
    * the accumulator and the next token back through the hash, so the
    * result is order-sensitive but whitespace-run-insensitive. (A
    * multiply-based polynomial hash would wrap Long and trip ANSI
    * overflow checks; hash-chaining mixes just as well without
    * overflow.) The chain step is the PORTABLE md5 idiom (t17/t19's
    * `conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT`) rather than xxhash64, so an
    * independent engine can replay the fold exactly — that's what makes
    * t5 oracle-able. The accumulator rides as a decimal string (conv
    * returns one); 15 hex digits = 60 bits keeps it positive in a
    * BIGINT on both engines. For an order-insensitive fingerprint use
    * Dedup.simhash. */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit("1469598103934665603"), // FNV offset basis as seed
      (acc, t) => Dedup.pmd5(concat(acc, lit("|"), t)).cast("string"))
      .cast("long")

  /** Unicode NFC canonical composition (custom codegen'd Expression —
    * graft.expr.NfcNormalize): composes decomposed sequences so
    * visually-identical text hashes identically downstream. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.expr.NfcNormalize(ColumnBridge.expression(text)))
  }

  /** CCNet-style text normalization for dedup keys: NFC-compose,
    * lowercase, collapse space runs, trim. Applied BEFORE any
    * digest/shingle/fingerprint so that case, composition form and
    * spacing differences don't split duplicate documents. Pure column
    * expression — scales with the scan. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(nfc(text)), " +", " "))

  /** Distinct character q-grams of a (normalized) string column. */
  def charGrams(c: Column, q: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (q - 1), lit(1))),
      i => c.substr(i, lit(q))))

  /** ClickHouse `ngramDistance(text, needle)` in e6 units: the
    * symmetric difference of the two DISTINCT character-4-gram sets
    * over their total size, 0 (identical) … 1e6 (disjoint). Both sides
    * are NFC-normalized/lower-cased/space-collapsed; the needle's grams
    * are built by the SAME column pipeline from a literal, so any
    * engine derives identical sets by construction. Pure per-row set
    * arithmetic — no shuffle, no UDF. */
  def ngramDistanceE6(
      textCol: Column, needle: String, q: Int = 4): Column = {
    val a = charGrams(normalizeText(textCol), q)
    val b = charGrams(normalizeText(lit(needle)), q)
    floor(
      (size(a) + size(b) - lit(2) * size(array_intersect(a, b)))
        .cast("double") / (size(a) + size(b)) * 1e6).cast("long")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS local fingerprinting scheme): hash every token k-gram,
    * slide a window of `w` consecutive hashes, keep each window's
    * minimum. Guarantees every shared run of w+k-1 tokens between two
    * documents shares at least one fingerprint, at a ~2/(w+1) storage
    * density — the standard substring-level near-dup detector between
    * the shingle-set sketches (minhash) and exact span dedup (d12/d13).
    *
    * Engine-portable by construction: the 60-bit hash is the md5
    * hex-prefix integer idiom (t17 precedent — Spark
    * `conv(substr(md5(g),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(g),1,15))::BIGINT`), the window min is a plain
    * ROWS frame, so the full fingerprint set hash-matches an oracle.
    * Per-doc windows parallelize across documents; nothing leaves the
    * executors. Docs with fewer than k tokens fingerprint as (0, 0).
    * Output: doc_id, n_fp (distinct fingerprints), fp_xor (their XOR —
    * an order-free set digest). */
  def winnow(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
    docs.select(col(idCol).as("doc_id"))
      .join(
        fps.groupBy(col("id").as("doc_id")).agg(
          count(lit(1)).as("n_fp"), expr("bit_xor(fp)").as("fp_xor")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_xor"), lit(0L)).as("fp_xor"))
  }

  /** The distinct (id, fp) winnowing fingerprint frame [[winnow]]
    * digests — exposed for the inverted-index consumers
    * (Dedup.winnowPairs joins documents on shared fingerprints). */
  def winnowFingerprints(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.spread(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    val grams = toks
      .where(size(col("t")) >= k)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(1, size(t) - ${k - 1}), i -> concat_ws(' ', slice(t, i, $k)))")))
      .select(col("id"), (col("pos") + 1).as("i"),
        Dedup.pmd5(col("col")).as("h"))
    val winMin = Window.partitionBy("id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    val perDoc = Window.partitionBy("id")
    grams
      .withColumn("fp", min(col("h")).over(winMin))
      .withColumn("ng", count(lit(1)).over(perDoc))
      // full windows only; a doc with < w grams contributes its single
      // all-grams window (position 1)
      .where(col("i") <= greatest(lit(1L), col("ng") - (w - 1)))
      .select("id", "fp").distinct()
  }

  /** N-gram language-model quality score (the CCNet/KenLM-style
    * perplexity filter, at bigram order): train add-one-smoothed bigram
    * probabilities ON THE CORPUS ITSELF, then score each document by
    * its summed log-probability — gibberish and boilerplate score far
    * below prose. One token explode feeds everything: bigram counts,
    * context counts and the vocabulary size are three aggregations over
    * the same persisted skinny frame, and scoring joins the counts back
    * by bigram key (hash-partitioned; nothing quadratic, no driver
    * state).
    *
    * Per-bigram log-probs are floored to e6 integers BEFORE the per-doc
    * sum: double addition is order-dependent under partial aggregation,
    * integer addition is exact — so the score is layout-independent and
    * engine-exact (ln on a bit-identical double argument is bit-equal
    * across engines, the t14 precedent). Returns one row per document:
    * (doc_id, n_bigrams, logprob_e6_sum); docs with fewer than two
    * tokens score 0 over 0 bigrams. */
  /** Moore–Lewis cross-entropy difference selection (Moore & Lewis
    * 2010) — the classic in-domain data selection method behind
    * "intelligent selection of language model training data": score
    * every document by `log P_in(doc) − log P_gen(doc)` under two
    * bigram LMs (add-one smoothing — [[lmScore]]'s estimator, which is
    * total on unseen bigrams, so cross-scoring needs no OOV floor),
    * one trained on the in-domain slice (`inDomainCol` true), one on
    * the rest. A positive difference reads "more like the domain than
    * like the general corpus" → selected.
    *
    * Cost shape: the marginal cost over scoring with ONE model is one
    * extra column per aggregate — both models' bigram/context counts
    * ride the SAME gram shuffle as conditional sums, both vocabulary
    * sizes ride one distinct-token aggregate, and the scoring join is
    * the same two keyed joins + broadcast 1-row vocab frame t18 pays.
    * Exactness: per-bigram log-probs e6-floored before the per-doc
    * integer sum (the t18/t14 ln-on-identical-doubles precedent).
    * Both slices must be non-empty — ENFORCED eagerly (an empty side
    * would zero its vocabulary, send its log-prob to +∞ and saturate
    * the sums to garbage with no error); the vocabulary sizes are
    * collected as part of that check and inlined as literals, which
    * also drops the broadcast join the scorer would otherwise pay.
    *
    * Output: (doc_id, n_bigrams, lm_in_e6_sum, lm_gen_e6_sum,
    * ml_e6_sum, selected); docs with < 2 tokens score 0/0/0/0. */
  def mooreLewis(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      inDomainCol: String): org.apache.spark.sql.DataFrame = {
    val toks = Dedup.spread(docs).select(
      col(idCol).as("doc_id"), tokens(col(textCol)).as("t"),
      col(inDomainCol).cast("boolean").as("is_in"))
    val grams = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_in"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("g"))
      .select(col("doc_id"), col("is_in"),
        col("g.prev").as("prev"), col("g.cur").as("cur"))
      .persistRegistered()
    grams.count() // eager: three consumers in the scoring action
    val c2 = grams.groupBy("prev", "cur").agg(
      sum(when(col("is_in"), 1L).otherwise(0L)).as("n2i"),
      sum(when(col("is_in"), 0L).otherwise(1L)).as("n2g"))
    val c1 = grams.groupBy("prev").agg(
      sum(when(col("is_in"), 1L).otherwise(0L)).as("n1i"),
      sum(when(col("is_in"), 0L).otherwise(1L)).as("n1g"))
    val vocabRow = toks
      .select(col("is_in"), explode(col("t")).as("tok"))
      .agg(
        countDistinct(when(col("is_in"), col("tok"))).as("vi"),
        countDistinct(when(!col("is_in"), col("tok"))).as("vg"))
      .head()
    val (vi, vg) = (vocabRow.getLong(0), vocabRow.getLong(1))
    require(vi > 0 && vg > 0,
      s"mooreLewis: both slices must be non-empty (in-domain vocab $vi, " +
        s"general vocab $vg) — an empty side's LM is undefined")
    def lp(n2: Column, n1: Column, v: Long): Column =
      floor(lit(1e6) * log(
        (n2 + 1).cast("double") / (n1 + lit(v)).cast("double"))).cast("long")
    val scored = grams
      .join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .select(
        col("doc_id"),
        lp(col("n2i"), col("n1i"), vi).as("lpi"),
        lp(col("n2g"), col("n1g"), vg).as("lpg"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("lpi")).as("lm_in_e6_sum"),
        sum(col("lpg")).as("lm_gen_e6_sum"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_in_e6_sum"), lit(0L)).as("lm_in_e6_sum"),
        coalesce(col("lm_gen_e6_sum"), lit(0L)).as("lm_gen_e6_sum"))
      .withColumn("ml_e6_sum", col("lm_in_e6_sum") - col("lm_gen_e6_sum"))
      .withColumn("selected", (col("ml_e6_sum") > 0L).cast("long"))
  }

  def lmScore(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val grams = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("g"))
      .select(col("doc_id"), col("g.prev").as("prev"), col("g.cur").as("cur"))
      .persistRegistered()
    grams.count() // eager: three consumers in the scoring action
    val c2 = grams.groupBy("prev", "cur").agg(count(lit(1)).as("n2"))
    val c1 = grams.groupBy("prev").agg(count(lit(1)).as("n1"))
    val vocab = toks
      .select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = grams
      .join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"),
        floor(lit(1e6) * log(
          (col("n2") + 1).cast("double") / (col("n1") + col("v")).cast("double")))
          .cast("long").as("lp_e6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("logprob_e6_sum"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_e6_sum"), lit(0L)).as("logprob_e6_sum"))
  }

  /** Interpolated Kneser–Ney bigram document scoring — the smoothing
    * the production perplexity filters actually run (KenLM inside
    * CCNet/cc_net): where [[lmScore]]'s add-one flattens mass onto the
    * whole vocabulary, KN discounts each seen bigram by a fixed D and
    * backs off to the CONTINUATION unigram — "how many distinct
    * contexts precede this word" — so boilerplate tokens that appear
    * everywhere in one context (e.g. a templated phrase) stop looking
    * like fluent prose. Standard formula at bigram order, D = 0.75:
    *
    *   P(cur|prev) = max(c(prev,cur) − D, 0) / c(prev)
    *               + (D · N1+(prev·) / c(prev)) · (N1+(·cur) / T)
    *
    * with N1+(prev·) = distinct followers of prev, N1+(·cur) =
    * distinct predecessors of cur, T = distinct bigram types. All five
    * statistics are aggregations over the ONE persisted gram frame
    * (same skinny shuffle [[lmScore]] uses; T broadcasts as a 1-row
    * scalar). Exactness: the per-bigram log-prob is one fixed
    * left-associated double tree over integers (exact in IEEE double —
    * counts ≪ 2⁵³, and both engines evaluate the identical expression),
    * e6-floored BEFORE the per-doc sum, so the score is
    * layout-independent and hash-oracle-able like t18. Every scored
    * bigram occurs in the corpus, so the log argument is > 0 by
    * construction. Output: (doc_id, n_bigrams, kn_e6_sum); docs with
    * < 2 tokens score 0 over 0 bigrams. */
  def knScore(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val grams = Dedup.spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("g"))
      .select(col("doc_id"), col("g.prev").as("prev"), col("g.cur").as("cur"))
      .persistRegistered()
    grams.count() // eager: five consumers in the scoring action
    val c2 = grams.groupBy("prev", "cur").agg(count(lit(1)).as("n2"))
    val c1 = grams.groupBy("prev").agg(count(lit(1)).as("n1"))
    val nFollow = grams.groupBy("prev")
      .agg(countDistinct(col("cur")).as("nf"))
    val nPrec = grams.groupBy("cur")
      .agg(countDistinct(col("prev")).as("np"))
    val nTypes = grams.select(col("prev"), col("cur")).distinct()
      .agg(count(lit(1)).as("nt"))
    val d = lit(0.75)
    val prob =
      greatest(col("n2").cast("double") - d, lit(0.0)) /
        col("n1").cast("double") +
        ((d * col("nf").cast("double")) / col("n1").cast("double")) *
          (col("np").cast("double") / col("nt").cast("double"))
    val scored = grams
      .join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .join(nFollow, Seq("prev"))
      .join(nPrec, Seq("cur"))
      .crossJoin(broadcast(nTypes))
      .select(
        col("doc_id"),
        floor(lit(1e6) * log(prob)).cast("long").as("lp_e6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("kn_e6_sum"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_e6_sum"), lit(0L)).as("kn_e6_sum"))
  }

  /** Vocabulary statistics per corpus slice: vocabulary size, token
    * count, and the Zipf exponent — the OLS slope of ln(freq) against
    * ln(rank) over the slice's rank-frequency curve (natural text
    * ≈ −1; a strong deviation flags templated/spam slices, a standard
    * training-data diagnostic).
    *
    * Shape: one shuffle reduces tokens to (slice, token) counts; the
    * rank window runs over the |vocab| frequency frame, never raw
    * tokens. Exactness ladder: ln(rank)/ln(freq) e6-floor to integers
    * per VOCAB ROW (x ≤ 1e6·ln V ≈ 2×10⁷, so the per-row product x²
    * ≤ 4×10¹⁴ fits int64), and the sufficient-statistic SUMS go
    * through Decimal(38,0) — Σx² ≈ 10¹²·V·ln²V passes 2⁶³ at only
    * ~7×10⁴ vocab, well inside real web-text vocabularies, and the
    * DuckDB oracle sums in HUGEINT, so a long sum would silently wrap
    * on the Spark side only. The slope is one fixed double tree over
    * the exact sums. Rank ties break by token ASC so both engines rank
    * identically. Output: (slice, vocab, total_tokens,
    * zipf_slope_e6). */
  def zipfSlope(
      docs: org.apache.spark.sql.DataFrame, sliceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = docs
      .select(col(sliceCol).as("slice"),
        explode(tokens(col(textCol))).as("tk"))
      .groupBy(col("slice"), col("tk"))
      .agg(count(lit(1)).as("c"))
    val rk = row_number().over(
      Window.partitionBy(col("slice"))
        .orderBy(col("c").desc, col("tk").asc))
    val p = f.withColumn("rk", rk)
      .select(col("slice"), col("c"),
        floor(lit(1e6) * log(col("rk").cast("double"))).cast("long").as("x"),
        floor(lit(1e6) * log(col("c").cast("double"))).cast("long").as("y"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val m = p.groupBy(col("slice"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum(col("c")).as("tot"))
    val nd = col("n").cast("double")
    m.select(col("slice"), col("n").as("vocab"),
      col("tot").as("total_tokens"),
      floor((nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (nd * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) * 1e6)
        .cast("long").as("zipf_slope_e6"))
  }

  /** DSIR-style hashed importance weights (data selection via
    * importance resampling): score each document by the log-likelihood
    * ratio of its tokens under a hashed bag-of-unigrams model of the
    * TARGET slice (`targetPred` rows) versus the model of the full RAW
    * pool — documents that "read like" the target rank high, and a
    * downstream resample/top-k (t22's budget pruner composes directly)
    * selects raw data matching the target distribution.
    *
    * Hashed models: token → [[Dedup.pmd5]] mod `buckets` (feature
    * hashing caps model size at `buckets` regardless of vocabulary, the
    * published formulation's trick); add-1 smoothing on both sides. Per
    * token t in bucket b the ratio term is
    * log( ((t_b+1)/(T+B)) / ((r_b+1)/(R+B)) ), computed as one
    * IEEE-exact double tree (each count casts to double, products and
    * the quotient are correctly-rounded double ops) and e6-floored per
    * BUCKET (the t14/t18 log discipline) so the per-document weight is
    * an exact integer sum both engines reproduce.
    *
    * Shape: one shuffle reduces tokens to the B-row bucket-count model;
    * totals are a single tiny agg; the model then BROADCASTS back onto
    * the token stream (B ≈ 4096 rows at any corpus size) and the only
    * data-scale shuffle is the per-document sum. At 100 TB the model
    * pass and the scoring pass both stream map-side; nothing grows with
    * vocabulary or corpus beyond the two keyed aggregations.
    *
    * Returns (doc_id, n_tokens, logweight_e6). */
  /** Per-bucket e6-floored log-ratio model from a (is_target, b)
    * token frame — the ONE copy of the IEEE-order-sensitive double
    * tree every DSIR path (and the t26 oracle) must match. DENSE over
    * all `buckets` rows: buckets unseen in training carry the pure
    * smoothing ratio log(((0+1)/(T+B)) / ((0+1)/(R+B))), so scoring
    * never drops a token that hashes to an empty bucket. */
  private def dsirModelFromToks(
      toks: org.apache.spark.sql.DataFrame, buckets: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = toks.sparkSession
    val counts = toks.groupBy("b").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tb"),
      count(lit(1)).as("rb"))
    val totals = counts.agg(
      coalesce(sum("tb"), lit(0L)).as("tt"),
      coalesce(sum("rb"), lit(0L)).as("rt"))
    spark.range(buckets).select(col("id").as("b"))
      .join(counts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("tb"), lit(0L)).as("tb"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(lit(1e6) * log(
          ((col("tb") + 1).cast("double") / (col("tt") + buckets).cast("double")) /
            ((col("rb") + 1).cast("double") / (col("rt") + buckets).cast("double"))))
          .cast("long").as("lr_e6"))
  }

  /** Per-doc weight sums of a (doc_id, b) token frame under a model,
    * zero-filled back onto `ids` — the one copy of the scoring tail. */
  private def dsirScoreFromToks(
      toks: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame,
      ids: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scored = toks.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_e6")).as("logweight_e6"))
    ids.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logweight_e6"), lit(0L)).as("logweight_e6"))
  }

  def dsirWeights(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), targetPred.as("is_target"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("is_target"),
        (Dedup.pmd5(col("tok")) % buckets).as("b"))
      .persistRegistered()
    toks.count() // eager: model pass + scoring pass in one action
    dsirScoreFromToks(
      toks.select("doc_id", "b"),
      dsirModelFromToks(toks.select("is_target", "b"), buckets),
      docs.select(col(idCol).as("doc_id")))
  }

  /** Deterministic standard-Gumbel noise from the portable 60-bit hash
    * of an id, e6-floored: `u = (pmd5(id) % 1e9 + 1) / (1e9 + 1)` ∈
    * (0,1) strictly, then `floor(−1e6·ln(−ln u))`. One shared double
    * tree (the t14/t18 log discipline) so DuckDB replays it bit-
    * exactly; no RNG — reruns, layouts, and engines agree. */
  def gumbelE6(id: Column): Column =
    floor(lit(-1e6) * log(-log(
      (Dedup.pmd5(id) % lit(1000000000L) + 1).cast("double") /
        lit(1000000001L).cast("double")))).cast("long")

  /** DSIR importance-resampling EXECUTION — the sampling step the
    * [[dsirWeights]] scores exist for (Xie et al. 2023 select their
    * training subset this way). Sampling k docs WITHOUT replacement
    * with probability ∝ importance weight is exactly Gumbel top-k:
    * add standard Gumbel noise to each log-weight and keep the k
    * largest keys. The noise is hash-derived ([[gumbelE6]]) so the
    * drawn sample is a pure function of corpus content — rerun- and
    * cluster-layout-independent, and replayable by the oracle.
    *
    * k = max(1, n/keepNth) (driver-side count — one metadata-cheap
    * job). The selection itself is ONE [[graft.expr.BoundedTopK]]
    * global aggregate: O(k) state at every phase including the
    * map-side partial, so no global sort and no unbounded collect —
    * the same at-scale top-k shape as s17/t33. Both output weights
    * are recomputed from the returned (score, id) pairs (key −
    * gumbel(id)), so no join back to the corpus is needed.
    *
    * Output: `(rank, doc_id, logweight_e6, key_e6)`, rank 1 = largest
    * key (key DESC, doc_id ASC — the BoundedTopK contract). */
  def dsirResample(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      targetPred: Column, keepNth: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(keepNth >= 1, "keepNth must be >= 1")
    val n = docs.count()
    require(n >= 1, "dsirResample needs a non-empty corpus")
    // BoundedTopK's heap is array-backed: k caps at Int.MaxValue (a
    // >2^31-doc draw would clamp; partition the corpus first if a
    // larger sample is really wanted)
    val k = math.min(math.max(1L, n / keepNth), Int.MaxValue.toLong).toInt
    val keyed = dsirWeights(docs, idCol, textCol, targetPred)
      .select(col("doc_id").cast("long").as("doc_id"), col("logweight_e6"),
        (col("logweight_e6") + gumbelE6(col("doc_id"))).as("key_e6"))
    import org.apache.spark.sql.graft.ColumnBridge
    val top = ColumnBridge.column(graft.expr.BoundedTopK(
      ColumnBridge.expression(col("key_e6")),
      ColumnBridge.expression(col("doc_id")), k).toAggregateExpression())
    keyed.agg(top.as("_top"))
      .select(posexplode(col("_top")))
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"),
        (col("col.score") - gumbelE6(col("col.id"))).as("logweight_e6"),
        col("col.score").as("key_e6"))
  }

  /** Vocabulary coverage curve — for each candidate vocabulary size V,
    * the fraction of corpus TOKEN OCCURRENCES covered by the V most
    * frequent types (ties by term ascending): the audit a tokenizer
    * team reads before committing a vocab budget (the knee of this
    * curve is where added vocab stops paying), and the OOV-rate
    * companion to t31's fertility metric.
    *
    * Scale shape: one token shuffle to the type-count frame, then a
    * TakeOrderedAndProject of only the TOP max(sizes) types — the
    * rank window runs over that ≤64k-row frame, never the full
    * vocabulary (a web-scale corpus has billions of types; a global
    * row_number over them would single-partition the sort). Coverage
    * in integer basis points (`·10⁴ div total` — exact to ~9·10¹⁴
    * tokens; ppm would overflow a BIGINT product at ~9·10¹²).
    *
    * Output: (vocab_size, covered_tokens, coverage_bp, oov_bp). */
  def vocabCoverage(
      docs: org.apache.spark.sql.DataFrame, textCol: String,
      sizes: Seq[Int] = Seq(1000, 4000, 16000, 64000))
      : org.apache.spark.sql.DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      "vocab sizes must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val sp = docs.sparkSession
    import sp.implicits._
    val counts = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persistRegistered()
    counts.count() // eager: total + top-V read one cache
    val tot = counts.agg(sum(col("c")).as("total"))
    val top = counts.orderBy(col("c").desc, col("t").asc).limit(sizes.max)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("t").asc)))
    val vs = sizes.map(_.toLong).toDF("vocab_size")
    ranked.join(broadcast(vs), col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(sum(col("c")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"), col("covered_tokens"),
        expr("covered_tokens * 10000 div total").as("coverage_bp"),
        expr("10000 - covered_tokens * 10000 div total").as("oov_bp"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): per
    * language, rank documents by LM score and label the best third
    * `head`, then `middle`, then `tail` — the standard quality
    * stratification crawls are partitioned by before mixing. The
    * score is [[lmScore]]'s bigram NLL averaged per bigram in pure
    * integers (`(−logprob_e6_sum) div n_bigrams` — both sums are
    * strictly positive, where Spark `div` ≡ DuckDB `//`); lower
    * average NLL = lower perplexity = `head`. Documents with no
    * bigram (fewer than 2 tokens) carry no LM evidence and are
    * labeled `tail` with a NULL score, outside the terciles.
    *
    * Scale shape: the window is PARTITIONED BY language — a keyed
    * range sort, never a single global one. (Production CCNet
    * computes the two cutoffs on a per-language reservoir and assigns
    * by comparison — one agg + broadcast instead of the sort; the
    * exact ntile form here is the deterministic, oracle-able
    * contract, and the reservoir form is a threshold-join away.)
    *
    * Output: `(doc_id, lang, n_bigrams, avg_nll_e6, bucket)`. */
  def ccnetBuckets(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      langCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = lmScore(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
        Seq("doc_id"))
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_nll_e6").asc, col("doc_id").asc)
    val bucketed = joined
      .where(col("n_bigrams") >= 1)
      .withColumn("avg_nll_e6", expr("(-logprob_e6_sum) div n_bigrams"))
      .withColumn("tile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_nll_e6"),
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle")
          .otherwise("tail").as("bucket"))
    val scoreless = joined
      .where(col("n_bigrams") === 0)
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        lit(null).cast("long").as("avg_nll_e6"), lit("tail").as("bucket"))
    bucketed.unionByName(scoreless)
  }

  /** Per-slice unigram KL divergence against the whole corpus — the
    * distribution-drift audit a corpus mixture runs per source (is
    * this crawl snapshot / domain distributionally unlike the rest?).
    * Add-one smoothing over the GLOBAL vocabulary on both sides
    * (`p = (c_st+1)/(n_s+V)`, `q = (c_t+1)/(N+V)`), per-TERM e9
    * floors of the identical double tree, then exact integer sums —
    * the t14/t18 discipline, so the whole statistic replays
    * engine-exactly. Scale shape: the token shuffle is the only
    * corpus-sized exchange; the scoring grid is |slices|·|vocab| rows
    * (vocab-bounded, slice count small by construction) with the
    * 1-row totals broadcast. Output: (source, n_tokens, kl_e9). */
  def unigramKl(
      docs: org.apache.spark.sql.DataFrame, sliceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // ONE corpus-sized aggregation: the (slice, term) count frame is
    // |slices|·|vocab|-bounded, and every marginal (per-term, per-
    // slice, totals) derives from it with bit-identical integer sums
    // — the raw token stream is never re-scanned
    val cst = docs
      .select(col(sliceCol).as("s"), explode(tokens(col(textCol))).as("t"))
      .groupBy("s", "t").agg(count(lit(1)).as("c"))
      .persistRegistered()
    cst.count() // eager: four derivations consume this frame
    val ct = cst.groupBy("t").agg(sum(col("c")).as("cg"))
    val ns = cst.groupBy("s").agg(sum(col("c")).as("ns"))
    val tot = cst.agg(
      sum(col("c")).as("nn"), count_distinct(col("t")).as("vv"))
    val p = (col("c") + 1).cast("double") /
      (col("ns") + col("vv")).cast("double")
    val q = (col("cg") + 1).cast("double") /
      (col("nn") + col("vv")).cast("double")
    ns.crossJoin(ct)
      .join(cst, Seq("s", "t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("s"), col("ns"),
        coalesce(col("c"), lit(0L)).as("c"), col("cg"),
        col("nn"), col("vv"))
      .select(col("s"), col("ns"),
        floor(p * log(p / q) * 1e9).as("e"))
      .groupBy("s")
      .agg(max(col("ns")).as("n_tokens"), sum(col("e")).as("kl_e9"))
      .select(col("s").as("source"), col("n_tokens"), col("kl_e9"))
  }

  // ---- blocklist (badwords) filtering -----------------------------------

  /** Token n-grams from a MATERIALIZED token-array column, as literal
    * space-joined strings — the match grain for phrase blocklists.
    * Unigrams are the token list itself; higher orders slide a window
    * over it. `toks` must be a materialized column reference, not an
    * inline `tokens(text)` expression — the tree references it
    * ~n·positions times and Spark inlines (re-evaluates) expression
    * arguments at every reference, the exact trap [[Dedup
    * .shingleHashArray]] documents (measured here: 5.3 s → 0.6 s for
    * the t29 scan at sf0.1). */
  def phraseGramsFromToks(toks: Column, maxLen: Int = 2): Column = {
    val orders = (1 to maxLen).map { n =>
      if (n == 1) toks
      else
        when(
          size(toks) >= n,
          transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ",
              (0 until n).map(o => element_at(toks, i + o)): _*)))
          .otherwise(array().cast("array<string>"))
    }
    flatten(array(orders: _*))
  }

  /** C4-style blocklist screen: occurrence stats for each banned
    * phrase (1–2 token phrases) over the corpus — the audit view a
    * curation pipeline publishes alongside the filter itself. The
    * phrase list broadcasts (it is a few KB against TBs of corpus), so
    * the plan is one document scan → gram explode → broadcast-hash
    * join → count aggregation; nothing corpus-sized shuffles except
    * the matched grams, which the blocklist join has already cut to
    * the hit stream. Output: (phrase, n_hits, n_docs) for phrases with
    * ≥1 hit. */
  /** The shared hit stream: one (doc_id, phrase) row per blocklisted
    * gram occurrence — tokenize once, gram-explode, broadcast-join
    * the phrase list. Both the audit view and the filter consume this
    * single definition so their gram semantics can never diverge. */
  private def blocklistHitStream(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): org.apache.spark.sql.DataFrame = {
    val norm = normPhrases(phrases)
    val maxLen = norm.map(_.split(" ").length).max
    val sp = docs.sparkSession
    import sp.implicits._
    val bl = broadcast(norm.toDF("phrase"))
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
        explode(phraseGramsFromToks(col("_toks"), maxLen)).as("phrase"))
      .join(bl, "phrase")
  }

  def blocklistHits(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): org.apache.spark.sql.DataFrame =
    blocklistHitStream(docs, idCol, textCol, phrases)
      .groupBy("phrase")
      .agg(
        count(lit(1)).as("n_hits"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Phrase-list normalization shared by every blocklist entry point:
    * trim + collapse internal whitespace (grams from [[tokens]] are
    * single-space-joined, so a doubled/leading/trailing space both
    * inflates maxLen and makes the entry an unmatchable silent no-op),
    * drop entries that normalize to empty, dedupe (a duplicated
    * phrase would double its audit counts through the hit join). */
  private def normPhrases(phrases: Seq[String]): Seq[String] = {
    val norm = phrases.map(_.trim.replaceAll("\\s+", " "))
      .filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "blocklist phrases must be non-empty")
    norm
  }

  /** The filter itself: documents containing NO blocklisted phrase —
    * broadcast left-anti join on the shared hit stream (each doc's
    * grams cut to hits first, so the anti-join state is tiny). */
  def blocklistFilter(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): org.apache.spark.sql.DataFrame = {
    val flagged = blocklistHitStream(docs, idCol, textCol, phrases)
      .select(col("doc_id").as(idCol))
      .distinct()
    docs.join(flagged, Seq(idCol), "left_anti")
  }
}
