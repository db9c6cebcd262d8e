package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor}
import scala.jdk.CollectionConverters._

/** The t30 curation DAG as ONE continuous `readStream` job — the
  * live-crawl form of the batch pipeline (SURVEY §2: END-TO-END
  * curation composition). Stage-for-stage mapping, each with the
  * streaming-legality argument:
  *
  *  1. Gopher quality gate — [[TextAnalysis.gopherFlags]], pure column
  *     expressions, STATELESS.
  *  2. Exact dedup — `dropDuplicatesWithinWatermark` on the content
  *     digest ([[Dedup.streamingExactDedup]]'s contract): state keyed
  *     by digest, EVICTED past the watermark horizon, so state is
  *     bounded by rate×horizon. Keep-first semantics; the batch
  *     keep-BEST twin picks a different duplicate ID but the same
  *     CONTENT (exact duplicates tie on every content-derived score),
  *     which is why the composed stream keys every downstream decision
  *     on the content digest, never the arrival id.
  *  3. Decontamination — the d21 Bloom screen applied INLINE: the
  *     sketch ships inside a codegen'd `might_contain` EXISTS over the
  *     doc's shingle array (map-side, no join), and survivors of the
  *     prefilter pay an exact `array_intersect` against the broadcast
  *     eval gram set — blooms have no false negatives, so
  *     prefilter+exact ≡ the batch [[Dedup.contamination]] fraction
  *     bit-for-bit. STATELESS (stream-static against a built screen).
  *     Gram sets up to [[DefaultMaxInlineGrams]] inline as a literal
  *     array (the blocklist-literal contract); above the bound
  *     [[curationStream]] switches MECHANICALLY to
  *     [[contaminationE4Joined]] — the same exact computation with
  *     the gram set as a one-row broadcast frame (stream-static cross
  *     join, still stateless; spec-pinned equal on both sides of the
  *     threshold).
  *  4. Blocklist — [[TextAnalysis.blocklistPredFromToks]], the
  *     inline-literal form, STATELESS.
  *  5. Shard assignment — the t17 hash formula keyed on the CONTENT
  *     digest (see stage 2), stateless.
  *
  * The one stage with no stateless form — the per-shard running token
  * budget — is [[shardBudgetStream]]: a `transformWithState` counter
  * per shard (state cardinality = nShards exactly, no growth, no TTL
  * needed — the q86-family discipline of bounded stream state made
  * trivial by the fixed key domain). StreamingWindowSpec pins the
  * composed stream ≡ the batch stages on the fixture corpus under
  * out-of-order multi-file micro-batches, AND that
  * [[curationStream]] chains into [[shardBudgetStream]] as ONE
  * streaming query (dropDuplicatesWithinWatermark +
  * transformWithState — two stateful operators in append mode is a
  * supported combination on the RocksDB provider).
  */
object Curation {

  /** Stage 1's shared projection — EVERY document with its tokens and
    * Gopher flags, unfiltered: (doc_id, text, toks, ntok, fl [, keep]).
    * One tokenize pass serves both the gate ([[qualityGate]] filters
    * this frame) and pre-filter accounting (funnel "input" rows, t39's
    * first-failing-stage labels) — callers that need both must not pay
    * the corpus tokenize twice. */
  def qualityFlags(
      docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    import TextAnalysis.{charSum, gopherFlags, tokens}
    val kept = keep.map(col)
    docs
      .select(Seq(col(idCol).as("doc_id"), col(textCol).as("text"),
        tokens(col(textCol)).as("toks"),
        charSum(col(textCol)).cast("long").as("charsum")) ++ kept: _*)
      .select(Seq(col("doc_id"), col("text"), col("toks"),
        size(col("toks")).cast("long").as("ntok"),
        gopherFlags(col("text"), col("toks"),
          size(col("toks")).cast("long"), col("charsum")).as("fl")) ++
        kept: _*)
  }

  /** The pass-all predicate over a [[qualityFlags]] row (the t30
    * gate). */
  def qualityPass: Column =
    col("fl.f_wordcount") === 1 && col("fl.f_wordlen") === 1 &&
      col("fl.f_symbols") === 1 && col("fl.f_bullet") === 1 &&
      col("fl.f_stopwords") === 1

  /** Stage 1 — stateless Gopher gate, shared verbatim by the batch
    * twin and the stream: (doc_id, text, toks, ntok) for documents
    * passing ALL five flags (the t30 predicate). */
  def qualityGate(
      docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    qualityFlags(docs, idCol, textCol, keep)
      .where(qualityPass)
      .select(Seq(col("doc_id"), col("text"), col("toks"),
        col("ntok")) ++ kept: _*)
  }

  /** Stage 3 — the exact contamination fraction as ONE column
    * expression over a MATERIALIZED shingle-array column `sh`:
    * `floor(|sh ∩ eval| / |sh| · 10⁴)`, with the Bloom sketch as a
    * short-circuit EXISTS so the (overwhelmingly common) no-hit row
    * never pays the intersect. Equals [[Dedup.contamination]]'s
    * `contamination_e4` exactly — same distinct-shingle space
    * ([[Dedup.shingleHashArray]] over pmd5 token hashes), same
    * formula. */
  def contaminationE4Inline(
      sh: Column, screen: Dedup.BloomScreen,
      maxInlineGrams: Int = DefaultMaxInlineGrams): Column = {
    val evalGrams = screen.shingles.collect().map(_.getLong(0)).sorted
    require(evalGrams.length <= maxInlineGrams,
      s"contaminationE4Inline: eval gram set has ${evalGrams.length} " +
        s"entries, above the $maxInlineGrams inline-literal bound — use " +
        "contaminationE4Joined (the broadcast-join form; curationStream " +
        "switches automatically)")
    contamE4Expr(sh, array(evalGrams.map(lit(_)).toIndexedSeq: _*), screen)
  }

  /** The literal-array bound of [[contaminationE4Inline]]: ~10⁴ grams
    * keeps the parsed expression tree and codegen inputs sane (the
    * blocklist-literal contract). Above it, [[contaminationE4Joined]]
    * carries the gram set as broadcast DATA instead of plan TEXT. */
  val DefaultMaxInlineGrams: Int = 10000

  /** Stage 3 above the inline bound — the same exact computation with
    * the eval gram set as a ONE-ROW broadcast static frame (the whole
    * distinct set packed into a single sorted array column) instead of
    * an expression-tree literal: a stream-static broadcast cross join
    * is stateless and append-legal, so the composed ONE-query shape
    * survives; the Bloom EXISTS prefilter and the exact
    * `array_intersect` are the identical expressions over the joined
    * array. Equal to the inline form on every input (spec-pinned both
    * sides of the threshold). */
  def contaminationE4Joined(
      df: DataFrame, sh: Column, screen: Dedup.BloomScreen,
      outCol: String = "contamination_e4"): DataFrame = {
    // internal working columns must not clobber caller columns — pick
    // names fresh against the input schema
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_")
        .find(n => !df.columns.contains(n)).get
    val shName = fresh("__sh")
    val evName = fresh("__eval_g")
    val evalArr = screen.shingles
      .agg(sort_array(collect_list(col("g"))).as(evName))
    df.withColumn(shName, sh)
      .crossJoin(broadcast(evalArr))
      .withColumn(outCol,
        contamE4Expr(col(shName), col(evName), screen))
      .drop(shName, evName)
  }

  /** Shared stage-3 expression: Bloom might_contain EXISTS
    * short-circuit, exact intersect against `evalArr`, e4 floor.
    * Equals [[Dedup.contamination]]'s `contamination_e4` exactly —
    * same distinct-shingle space ([[Dedup.shingleHashArray]] over
    * pmd5 token hashes), same formula. */
  private def contamE4Expr(
      sh: Column, evalArr: Column, screen: Dedup.BloomScreen): Column = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    def mightContain(g: Column) = ColumnBridge.column(BloomFilterMightContain(
      Literal(screen.bytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(g)))
    val hits = when(exists(sh, mightContain),
      size(array_intersect(sh, evalArr)).cast("long")).otherwise(0L)
    // A doc with fewer than w tokens has an empty shingle array; 0/0
    // would be NaN → NULL after the cast, silently dropping the doc at
    // a `< max` filter. An empty shingle set is UNcontaminated: 0.
    when(size(sh) === 0, 0L)
      .otherwise(floor(hits.cast("double") / size(sh).cast("double") * 10000)
        .cast("long"))
  }

  /** Stage 5 — the t17 shard formula ([[Splits.shardOfDigest]], the
    * single definition of the contract) keyed on the content digest,
    * so WHICH duplicate survived the horizon dedup cannot move a
    * document's shard. */
  def shardOfContent(contentHash: Column, nShards: Int): Column =
    Splits.shardOfDigest(contentHash, nShards)

  /** The composed streaming job (stages 1–5). `docs` is a STREAMING
    * frame with (idCol, textCol, tsCol); output is the append stream
    * of curated survivors: (doc_id, content_hash, ntok,
    * contamination_e4, shard). Feed [[shardBudgetStream]] for running
    * budgets, or any writeStream sink directly. */
  def curationStream(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      screen: Dedup.BloomScreen, blocklist: Seq[String],
      nShards: Int = 8, contamMaxE4: Long = 2000,
      delay: String = "1 hour",
      maxInlineGrams: Int = DefaultMaxInlineGrams): DataFrame = {
    val projected = qualityGate(
      docs.withColumnRenamed(tsCol, "_ts"), idCol, textCol,
      keep = Seq("_ts"))
    val deduped = projected
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withWatermark("_ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")
    val shingled = deduped
      .withColumn("_th", Dedup.tokenHashes(col("text")))
      .withColumn("_sh", Dedup.shingleHashArray(col("_th"), 3))
    // the gram bound is MECHANICAL: small eval sets inline as a
    // codegen'd literal array; above the bound the identical exact
    // computation runs as the broadcast-join form (stream-static
    // cross join of the one-row gram-array frame — still stateless).
    // ONE bounded driver job decides AND feeds the inline literal:
    // limit(max+1) caps driver memory on the over-bound path, and
    // under the bound the limited collect IS the complete gram set.
    val headGrams = screen.shingles.limit(maxInlineGrams + 1)
      .collect().map(_.getLong(0))
    val decontaminated =
      (if (headGrams.length <= maxInlineGrams)
        shingled.withColumn("contamination_e4",
          contamE4Expr(col("_sh"),
            array(headGrams.sorted.map(lit(_)).toIndexedSeq: _*), screen))
      else
        contaminationE4Joined(shingled, col("_sh"), screen))
        .where(col("contamination_e4") < contamMaxE4)
    decontaminated
      .where(!coalesce(
        TextAnalysis.blocklistPredFromToks(col("toks"), blocklist),
        lit(false)))
      .select(col("doc_id"), col("content_hash"), col("ntok"),
        col("contamination_e4"),
        shardOfContent(col("content_hash"), nShards).as("shard"))
  }

  final case class BudgetIn(shard: Long, doc_id: Long, ntok: Long)
  final case class BudgetRow(
      shard: Long, doc_id: Long, ntok: Long, cum_tok: Long)

  /** Per-shard running token counter: ValueState[Long] per shard
    * (cardinality = nShards — state CANNOT grow), rows within one
    * micro-batch folded in (doc_id) order for determinism given an
    * arrival sequence. Emits every doc with its running `cum_tok`; the
    * batch t30 analog is the prefix-sum window (which ranks by the
    * shuffle key — a FINALIZE-time order no online operator can know,
    * so the streaming contract is arrival-order prefix sums with
    * identical per-shard TOTALS, pinned by spec). */
  final class ShardBudgetProcessor
      extends StatefulProcessor[Long, BudgetIn, BudgetRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState(
        "total", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[BudgetIn],
        timerValues: TimerValues): Iterator[BudgetRow] = {
      var cum = if (total.exists()) total.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).map { r =>
        cum += r.ntok
        BudgetRow(key, r.doc_id, r.ntok, cum)
      }
      total.update(cum)
      out.iterator
    }
  }

  /** Wire [[ShardBudgetProcessor]] onto a curated stream carrying
    * (shard, doc_id, ntok). Requires the RocksDB state store provider
    * ([[graft.etl.TxCorrelator.ensureRocksDb]]). */
  def shardBudgetStream(curated: DataFrame): Dataset[BudgetRow] = {
    import org.apache.spark.sql.streaming.TimeMode
    val spark = curated.sparkSession
    import spark.implicits._
    curated
      .select(col("shard").cast("long").as("shard"),
        col("doc_id").cast("long").as("doc_id"),
        col("ntok").cast("long").as("ntok"))
      .as[BudgetIn]
      .groupByKey(_.shard)
      .transformWithState(
        new ShardBudgetProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** ONLINE drift monitoring over the streaming curation DAG — the
    * t45/d35 batch reports turned into a per-micro-batch `foreachBatch`
    * stage, because drift is only useful while the crawl is running:
    *
    *  - PSI of each micro-batch's quality-score distribution against
    *    the FROZEN [[Splits.DriftBaseline]] artifact the batch job
    *    wrote (`graft.CurateMain --drift-baseline`): bucket rules are
    *    baseline-time constants, so a drifting stream cannot re-bucket
    *    itself back to "stable". Arithmetic is [[Splits.psiDrift]]'s
    *    verbatim — StreamingWindowSpec pins streamed-per-source PSI ≡
    *    the batch t45 rows on the same corpus.
    *  - KMV novelty: the micro-batch's distinct-shingle sketch merged
    *    into the persisted incremental sketch (the d37 artifact
    *    pattern) — `novel_est` says how much genuinely NEW content the
    *    batch added vs everything seen so far, O(k) state regardless
    *    of stream length. The sketch seed is `baselineDir/sketch`
    *    (the curated corpus), so novelty is measured against the
    *    certified baseline from batch one.
    *
    * Per batch ONE row appends to `reportDir/drift`: (batch_id, label,
    * n_docs, psi_e6, flagged, est_before, est_after, novel_est).
    * `labelCol` (optional, LOW-CARDINALITY — e.g. the crawl source)
    * stamps the row with the batch's sorted distinct labels for
    * attribution. Caller starts the returned writer with its own
    * trigger/checkpoint.
    *
    *  - INDEX HEALTH (optional): pass any of `minhashIndexDir` (a
    *    [[Dedup.minhashIndexWrite]] artifact — audited per batch by
    *    [[Dedup.indexRecallSampled]], the d38 sampled LSH-recall
    *    audit on the batch's arriving docs), `ivfIndexDir` (audited
    *    by [[Similarity.ivfIndexRecallSampled]], the s31 sampled
    *    self-recall of the index's own members) and `bandIndexDir`
    *    (audited by [[Similarity.signBandIndexIntegritySampled]] —
    *    the band family is lossless, so its health is artifact
    *    integrity: stored signatures re-derived from stored vectors).
    *    Each batch writes ONE unified row per configured family to
    *    `reportDir/index_health`:
    *    (batch_id, family, n_queries, n_exact, n_approx, n_hits,
    *    recall_e4, live_rows, tombstoned_rows, tombstone_frac_e6,
    *    compact_recommended) — the audit number a release certifies,
    *    watched online between releases, PLUS the logical-delete debt
    *    ([[IndexHealth.tombstoneReport]]): `compact_recommended`
    *    flips to 1 when the tombstone fraction crosses the policy
    *    threshold, the dashboard signal that prices "compact now".
    *    For the band family n_exact/n_approx repeat n_queries and
    *    recall_e4 carries integrity_e4 (every family fills the same
    *    columns). Same idempotence contract as the drift row: all of
    *    a batch's family rows overwrite their own `b=<id>`
    *    partition. */
  def driftMonitorStream(
      docs: DataFrame, textCol: String, baselineDir: String,
      reportDir: String, labelCol: Option[String] = None,
      k: Int = Kmv.DefaultK,
      minhashIndexDir: Option[String] = None,
      indexThreshold: Double = 0.5, indexSampleMod: Long = 8,
      idCol: String = "doc_id",
      ivfIndexDir: Option[String] = None,
      bandIndexDir: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = docs.sparkSession
    val base = Splits.driftBaselineRead(spark, baselineDir)
    // the seed sketch's k is part of the artifact's provenance: merging
    // a k'-trimmed kept set as if it were a k-sketch silently skews
    // est_before/novel_est (a k' < k seed UNDERestimates everything
    // seen so far, booking old content as novel) — so a mismatch fails
    // at stream CONSTRUCTION, not per batch
    val seedDir = java.nio.file.Paths.get(baselineDir, "sketch")
    if (java.nio.file.Files.isDirectory(seedDir))
      requireSketchK(spark, seedDir, k, "baseline seed")
    // a missing index artifact fails at stream construction too — a
    // monitor that silently skipped its health stage would read as
    // "index healthy" on the dashboard that watches the report table
    minhashIndexDir.foreach(Dedup.MinhashFamily.requireAt(_, "driftMonitor"))
    ivfIndexDir.foreach(Similarity.IvfFamily.requireAt(_, "driftMonitor"))
    bandIndexDir.foreach(Similarity.SignBandFamily.requireAt(_, "driftMonitor"))
    // schema-upgrade guard: index_health rows gained family +
    // tombstone columns (and n_lsh became n_approx). Appending the
    // new schema into a reportDir whose old b=<id> partitions carry
    // the old one would leave ONE table with two incompatible
    // schemas — readers would silently lose columns depending on
    // which file wins inference. Fail at CONSTRUCTION with the
    // remedy instead of corrupting the dashboard's table.
    if (minhashIndexDir.orElse(ivfIndexDir).orElse(bandIndexDir)
        .isDefined) {
      val ih = java.nio.file.Paths.get(reportDir, "index_health")
      if (java.nio.file.Files.isDirectory(ih)) {
        val cols = spark.read.parquet(ih.toString).columns.toSet
        require(cols.contains("family"),
          s"driftMonitor: $ih holds pre-upgrade index_health rows " +
            "(no 'family' column) — archive or delete that directory " +
            "before restarting the monitor with the unified schema")
      }
    }
    docs.writeStream.foreachBatch {
      (b: DataFrame, id: Long) =>
        driftMonitorApply(b, id, textCol, base, baselineDir, reportDir,
          labelCol, k, minhashIndexDir, indexThreshold, indexSampleMod,
          idCol, ivfIndexDir, bandIndexDir)
    }
  }

  /** Versioned sketch state under `reportDir`: `sketch_v<batchId>`
    * directories. Versioning — not a single overwritten file — is what
    * makes [[driftMonitorApply]] IDEMPOTENT under foreachBatch retry:
    * a re-run of batch N re-reads the latest version STRICTLY BELOW N
    * (the pre-batch state), recomputes the identical merge, and
    * overwrites its own version + report partition, so a crash between
    * the state write and the sink commit can never double-merge a
    * batch or book its novelty as zero. */
  private def sketchVersions(
      reportDir: String): Seq[(Long, java.nio.file.Path)] = {
    val d = java.nio.file.Paths.get(reportDir)
    if (!java.nio.file.Files.isDirectory(d)) Seq.empty
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("sketch_v") && n.drop(8).forall(_.isDigit) &&
          n.length > 8) Some(n.drop(8).toLong -> p)
        else None
      }.toSeq.sortBy(_._1)
      finally s.close()
    }
  }

  private def readSketchDir(
      spark: org.apache.spark.sql.SparkSession,
      p: java.nio.file.Path): Seq[Long] = {
    val df = spark.read.parquet(p.toString)
    df.select("sk").collect().headOption
      .map(r => if (r.isNullAt(0)) Seq.empty[Long] else r.getSeq[Long](0))
      .getOrElse(Seq.empty)
  }

  /** The k a persisted sketch dir was built at, when stamped (sketch
    * dirs written before the k column landed carry none — accepted as
    * legacy, the caller's k is assumed). */
  private def sketchK(
      spark: org.apache.spark.sql.SparkSession,
      p: java.nio.file.Path): Option[Int] = {
    val df = spark.read.parquet(p.toString)
    if (!df.columns.contains("k")) None
    else df.select("k").collect().headOption
      .filterNot(_.isNullAt(0)).map(_.getInt(0))
  }

  private def requireSketchK(
      spark: org.apache.spark.sql.SparkSession,
      p: java.nio.file.Path, k: Int, what: String): Unit =
    sketchK(spark, p).filter(_ != k).foreach { got =>
      throw new IllegalArgumentException(
        s"driftMonitor: $what sketch at $p was built at k=$got but the " +
          s"monitor runs at k=$k — merging across k silently skews " +
          "est_before/novel_est; rebuild the baseline (CurateMain " +
          "--drift-baseline) at the monitor's k or start the monitor " +
          s"with k=$got")
    }

  /** Latest merged monitor sketch (reader API for reports/specs). */
  def driftSketchLatest(
      spark: org.apache.spark.sql.SparkSession,
      reportDir: String): Option[Seq[Long]] =
    sketchVersions(reportDir).lastOption.map(v => readSketchDir(spark, v._2))

  /** One micro-batch of the drift monitor (also the unit the spec
    * drives directly): PSI vs the frozen baseline, sketch-merge
    * novelty, one report row. State writes are per-batch-keyed (see
    * [[sketchVersions]]; the report row overwrites its own `b=<id>`
    * partition), so replaying a batch is a no-op in effect; the first
    * batch seeds from `baselineDir/sketch`. */
  private[graft] def driftMonitorApply(
      b: DataFrame, batchId: Long, textCol: String,
      base: Splits.DriftBaseline, baselineDir: String, reportDir: String,
      labelCol: Option[String], k: Int,
      minhashIndexDir: Option[String] = None,
      indexThreshold: Double = 0.5, indexSampleMod: Long = 8,
      idCol: String = "doc_id",
      ivfIndexDir: Option[String] = None,
      bandIndexDir: Option[String] = None): Unit = {
    val spark = b.sparkSession
    import spark.implicits._
    val scored = b.withColumn("_score_e4",
      floor(TextAnalysis.qualityScore(col(textCol)) * 10000).cast("long"))
    val psi = Splits.psiAgainstBaseline(scored, "_score_e4", base).head()
    val skRow = b
      .select(explode(
        Dedup.shingleHashArray(Dedup.tokenHashes(col(textCol)), 3)).as("h"))
      .agg(Kmv.sketch(col("h"), k).as("sk")).head()
    val bsk: Seq[Long] =
      if (skRow.isNullAt(0)) Seq.empty else skRow.getSeq[Long](0)
    def baselineSeed: Option[Seq[Long]] = {
      val p = java.nio.file.Paths.get(baselineDir, "sketch")
      if (java.nio.file.Files.isDirectory(p)) {
        requireSketchK(spark, p, k, "baseline seed")
        Some(readSketchDir(spark, p))
      } else None
    }
    // the pre-batch state: latest version STRICTLY below this batch —
    // a retry of batch N must not see N's own (possibly committed)
    // merge. Its stamped k must match ours (a monitor restarted at a
    // different k over old state would skew silently otherwise).
    val versions = sketchVersions(reportDir)
    val stored = versions.filter(_._1 < batchId).lastOption
      .map { v =>
        requireSketchK(spark, v._2, k, s"monitor state v${v._1}")
        readSketchDir(spark, v._2)
      }
      .orElse(baselineSeed).getOrElse(Seq.empty)
    val before = Kmv.estimateLocal(stored, k)
    val merged = Kmv.mergeLocal(stored, bsk, k)
    val after = Kmv.estimateLocal(merged, k)
    Seq((merged, k)).toDF("sk", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/sketch_v$batchId")
    // prune versions below the retry horizon (keep the previous one —
    // batch N+1's retry baseline — and everything ≥ this batch)
    versions.filter(_._1 < batchId - 1).foreach { case (_, p) =>
      graft.util.Fs.deleteRecursively(p)
    }
    // bounded label collect: the contract is a LOW-cardinality label
    // (crawl source); a mis-pointed high-cardinality column must not
    // OOM the monitor's driver — cap at 32 distinct and mark overflow.
    // The limit is ORDERED (nulls first, then ascending), so WHICH 33
    // survive an overflow is deterministic — a foreachBatch retry must
    // rewrite the identical label string (the replay-identical report
    // contract), and an unordered limit picks whatever partitions
    // answered first
    val label = labelCol.map { c =>
      val ls = b.select(col(c).cast("string").as("_l")).distinct()
        .orderBy(col("_l").asc_nulls_first)
        .limit(33).collect()
        .map(r => if (r.isNullAt(0)) "(null)" else r.getString(0))
        .sorted // null-safe: crawl rows routinely carry null sources
      if (ls.length > 32) ls.take(32).mkString(",") + ",…"
      else ls.mkString(",")
    }.getOrElse("")
    // one row per batch, written into the batch's OWN partition dir —
    // a retry overwrites it (idempotent), never appends a duplicate
    Seq((batchId, label, psi.getAs[Long]("n_docs"),
      psi.getAs[Long]("psi_e6"), psi.getAs[Long]("flagged"),
      before, after, math.max(after - before, 0L)))
      .toDF("batch_id", "label", "n_docs", "psi_e6", "flagged",
        "est_before", "est_after", "novel_est")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$reportDir/drift/b=$batchId")
    // ONLINE index health, one unified row per configured family —
    // written into the batch's own partition (idempotent like the
    // drift row). Each stage is pure batch-or-artifact math with no
    // state of its own, so a foreachBatch retry recomputes the
    // identical rows. The tombstone columns come from
    // [[IndexHealth.tombstoneReport]] — the same audit row that says
    // "recall is fine" also says how much logical-delete debt the
    // index carries and whether the compaction policy fires.
    val healthRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Long, Long,
        Long, Long, Long, Long)]
    def tombCols(dir: String, family: String): (Long, Long, Long, Long) = {
      val t = IndexHealth.tombstoneReport(spark, dir, family).head()
      (t.getLong(1), t.getLong(2), t.getLong(3), t.getLong(4))
    }
    minhashIndexDir.foreach { dir =>
      val r = Dedup.indexRecallSampled(b, idCol, textCol, dir,
        threshold = indexThreshold, sampleMod = indexSampleMod).head()
      val (live, dead, frac, rec) = tombCols(dir, "minhash")
      healthRows += ((batchId, "minhash",
        r.getAs[Long]("n_queries"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_lsh"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_e4"), live, dead, frac, rec))
    }
    ivfIndexDir.foreach { dir =>
      // corpusMod must divide sampleMod (the self-neighbor contract);
      // an odd indexSampleMod — valid for the minhash audit, e.g. 1 =
      // "audit everything" — drops the corpus cut rather than
      // throwing inside foreachBatch and killing the stream
      val r = Similarity.ivfIndexRecallSampled(spark, dir,
        sampleMod = indexSampleMod,
        corpusMod = if (indexSampleMod % 2 == 0) 2 else 1).head()
      val (live, dead, frac, rec) = tombCols(dir, "ivf")
      healthRows += ((batchId, "ivf",
        r.getAs[Long]("n_queries"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_approx"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_e4"), live, dead, frac, rec))
    }
    bandIndexDir.foreach { dir =>
      val r = Similarity.signBandIndexIntegritySampled(spark, dir,
        sampleMod = indexSampleMod).head()
      val (live, dead, frac, rec) = tombCols(dir, "band")
      val nq = r.getAs[Long]("n_queries")
      healthRows += ((batchId, "band",
        nq, nq, nq, r.getAs[Long]("n_hits"),
        r.getAs[Long]("integrity_e4"), live, dead, frac, rec))
    }
    if (healthRows.nonEmpty) {
      healthRows.toSeq
        .toDF("batch_id", "family", "n_queries", "n_exact", "n_approx",
          "n_hits", "recall_e4", "live_rows", "tombstoned_rows",
          "tombstone_frac_e6", "compact_recommended")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$reportDir/index_health/b=$batchId")
    }
  }
}
