package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered

/** Deterministic dataset splitting for training pipelines.
  *
  * Assignment is by CONTENT HASH, not RNG: `randomSplit`/`sampleBy`
  * reseed per partition, so the same document flips splits whenever the
  * file layout, parallelism or Spark version changes — poison for
  * train/test hygiene. A hash of a stable id is reproducible on any
  * cluster, any layout, forever (same property as q24's stratified
  * sampler).
  *
  * Mechanics: the first two hex chars of md5(id) form 256 uniform
  * buckets; fixed-length lowercase hex compares lexicographically in
  * numeric order, so split thresholds are plain string comparisons any
  * engine evaluates identically.
  */
object Splits {

  /** 'train' | 'val' | 'test' from a stable id column. Defaults:
    * buckets < 0xe6 (230/256 ≈ 89.8%) train, < 0xf3 (243/256 ≈ +5.1%)
    * val, rest test. */
  def assignSplit(
      id: Column,
      trainHexHi: String = "e6", valHexHi: String = "f3"): Column = {
    val b = substring(md5(id.cast("string")), 1, 2)
    when(b < trainHexHi, "train")
      .when(b < valHexHi, "val")
      .otherwise("test")
  }

  /** Leakage-SAFE split assignment — the prevention twin of t25's
    * leakage MEASUREMENT: near-duplicate docs must never straddle
    * train/val/test (a val doc with a train near-dup is memorized, not
    * generalized — the reason published pipelines split by cluster,
    * not by document). Docs are clustered by verified n-gram Jaccard
    * (d8's pairs → connected components); every doc inherits its
    * CLUSTER's split, keyed on the cluster representative (min id in
    * the component; singletons are their own cluster), through the
    * same content-hash bucket mechanics as [[assignSplit]] — so
    * singleton assignments coincide with the per-doc t10 split, and
    * whole clusters move together by construction.
    *
    * Scale shape: the cluster pass is the d8 machinery (bucketed
    * inverted-index pair join + label-propagation rounds — nothing
    * pairwise beyond verified candidates), the assignment one hash of
    * a per-doc column. Output: (doc_id, cluster_id, split). */
  def leakageSafeSplit(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, w: Int = 3,
      maxPostings: Int = 1000): org.apache.spark.sql.DataFrame = {
    val clusters = Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(docs, idCol, textCol, threshold, w, maxPostings))
    docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split", assignSplit(col("cluster_id")))
  }

  // ---- temperature-based domain mixing ---------------------------------
  // The data-mixing resampler (α = 0.5 "temperature" downsampling of
  // over-represented domains, as in multilingual/multi-source
  // pretraining): target share ∝ √n_domain, realized by keeping each
  // domain at rate √(n_min/n_domain) — the smallest domain keeps
  // everything, a 100×-larger domain keeps 10%. Per-document keep is the
  // same content-hash bucket mechanics as [[assignSplit]], so the sample
  // is layout-independent and reproducible. √ and ÷ are IEEE
  // correctly-rounded on every engine → the rates (and so the exact
  // document sample) are engine-independent, no RNG anywhere.

  /** Per-domain keep rates as md5-bucket counts out of 256. Output:
    * domainCol, n_docs, buckets (long; 256 = keep all). The frame has
    * one row per domain — broadcast it into the keep-join. */
  def temperatureRates(
      docs: org.apache.spark.sql.DataFrame, domainCol: String)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
    val m = s.agg(min(col("n_docs")).as("n_min"))
    s.crossJoin(broadcast(m))
      .withColumn("buckets",
        floor(lit(256.0) *
          sqrt(col("n_min").cast("double") / col("n_docs").cast("double")))
          .cast("long"))
      .drop("n_min")
  }

  /** Keep predicate: first two md5 hex chars of the id fall under the
    * domain's bucket threshold. `buckets >= 256` keeps everything (the
    * 2-hex-char comparison cannot express the full range). */
  def temperatureKeep(id: Column, buckets: Column): Column =
    buckets >= 256 ||
      substring(md5(id.cast("string")), 1, 2) <
        lower(lpad(hex(buckets), 2, "0"))

  /** The resampled corpus: joins the (broadcast) rates and filters. */
  def temperatureMix(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, domainCol: String)
      : org.apache.spark.sql.DataFrame = {
    val rates = temperatureRates(docs, domainCol)
    docs.join(broadcast(rates), Seq(domainCol))
      .where(temperatureKeep(col(idCol), col("buckets")))
      .drop("n_docs", "buckets")
  }

  /** Deterministic global shuffle + shard assignment — the final step of
    * a training-data pipeline: every document lands in exactly one of
    * `nShards` output shards with a stable in-shard position, the same
    * on any cluster/layout/rerun (same no-RNG rationale as
    * [[assignSplit]]). Shard = integer value of the first 4 md5 hex
    * chars mod nShards (uniform, content-keyed); position = rank of the
    * full digest within the shard. Each shard's ordering window is
    * partitioned by shard, so the sort parallelizes across shards —
    * exactly the layout a sharded training-set writer needs
    * (`.repartition(shard).sortWithinPartitions(pos)`). */
  /** Per-key document CAP — the hard-ceiling companion to
    * [[temperatureMix]]'s proportional resampler (C4/Gopher-style "at
    * most N pages per domain": a ceiling also bounds the WORST key,
    * where a rate only scales it). Selection is the deterministic
    * hash rank: each key keeps its `cap` documents with the LOWEST
    * portable 60-bit md5 ([[Dedup.pmd5]]) of the id, ties (a 2⁻⁶⁰
    * event) by id — a uniform, layout/cluster/rerun-independent
    * sample, the [[assignSplit]] no-RNG discipline.
    *
    * Plan shape: ONE hash aggregate on the key whose state is the
    * size-cap [[graft.expr.BoundedTopK]] heap — O(cap) memory per key
    * at every phase including the map side, shuffled rows ≤
    * cap·partitions per key. The window-rank formulation
    * (row_number ≤ cap) sorts EVERY key's full row set; this keeps
    * heavy domains (the op's whole reason to exist) from paying a
    * sort on rows that are about to be dropped.
    * Output: (keyCol, idCol) of the kept documents. */
  def capPerKey(
      docs: org.apache.spark.sql.DataFrame, keyCol: String, idCol: String,
      cap: Int): org.apache.spark.sql.DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    import org.apache.spark.sql.graft.ColumnBridge
    // BoundedTopK keeps the HIGHEST scores; lowest-hash-wins = negate
    val top = ColumnBridge.column(
      graft.expr.BoundedTopK(
        ColumnBridge.expression(-Dedup.pmd5(col(idCol))),
        ColumnBridge.expression(col(idCol).cast("long")),
        cap).toAggregateExpression())
    docs
      .groupBy(col(keyCol))
      .agg(top.as("_top"))
      .select(col(keyCol), explode(col("_top.id")).as(idCol))
  }

  /** Token-budget mixture PLAN — the per-domain epoch table a training
    * run is scheduled from (the UniMax / LLaMA-style step after
    * temperature weighting): given per-domain token counts, α = 0.5
    * temperature target shares ∝ √tokens, and a global training-token
    * budget, emit each domain's share and its repeat factor
    * (`epochs_e4` > 10000 means the domain is seen more than once —
    * the up-sampling [[temperatureMix]]'s down-sampler cannot express).
    *
    * All integer, engine-exact: `sqrt_tok = floor(√tokens)` (IEEE
    * sqrt, correctly rounded on every engine; tokens < 2⁵³ exact in
    * double), integer ppm share `sqrt_tok·10⁶ div Σsqrt_tok`, and the
    * exact product-division decomposition
    * `(b div 10⁶)·w + ((b mod 10⁶)·w) div 10⁶ = (b·w) div 10⁶`
    * (the Classifier remainder-first trick) so a multi-trillion-token
    * budget never overflows a BIGINT mid-product.
    *
    * Plan shape: ONE aggregation to a |domains|-row frame, a 1-row
    * broadcast total, pure projections after — nothing corpus-sized
    * past the first agg. Output: (domainCol, n_docs, tokens,
    * weight_ppm, target_tokens, epochs_e4; epochs NULL for a
    * zero-token domain). */
  def mixturePlan(
      docs: org.apache.spark.sql.DataFrame, domainCol: String,
      tokensCol: Column, budgetTokens: Long)
      : org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val s = docs.groupBy(col(domainCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokensCol.cast("long")).as("tokens"))
    val q = s.withColumn("sqrt_tok",
      floor(sqrt(col("tokens").cast("double"))).cast("long"))
    val tot = q.agg(sum(col("sqrt_tok")).as("tot"))
    q.crossJoin(broadcast(tot))
      .withColumn("weight_ppm",
        expr("CASE WHEN tot > 0 THEN sqrt_tok * 1000000 div tot ELSE 0 END"))
      .withColumn("target_tokens",
        expr(s"($budgetTokens div 1000000) * weight_ppm" +
          s" + (($budgetTokens % 1000000) * weight_ppm) div 1000000"))
      .withColumn("epochs_e4",
        expr("CASE WHEN tokens > 0 THEN target_tokens * 10000 div tokens END"))
      .select(col(domainCol), col("n_docs"), col("tokens"),
        col("weight_ppm"), col("target_tokens"), col("epochs_e4"))
  }

  /** The shard expression itself — ONE definition of the contract
    * (first 4 hex chars of an md5 digest, mod nShards) shared by
    * [[shardByHash]] and curation's content-keyed variant
    * ([[graft.ext.Curation.shardOfContent]]), so the two
    * cannot drift. */
  def shardOfDigest(
      digestHex: org.apache.spark.sql.Column,
      nShards: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(digestHex, 1, 4), 16, 10).cast("long"),
      lit(nShards.toLong))

  def shardByHash(
      docs: org.apache.spark.sql.DataFrame, idCol: String,
      nShards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = md5(col(idCol).cast("string"))
    docs
      .withColumn("shuffle_key", k)
      .withColumn("shard", shardOfDigest(col("shuffle_key"), nShards))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key"), col(idCol))))
  }

  /** Curriculum PLAN over an integer quality score — equal-count
    * buckets (easy → hard pacing, Bengio et al. 2009's data-difficulty
    * schedule) WITHOUT a global sort: the score domain is bounded
    * (quality_e4 ∈ [0, 10⁴]), so exact decile thresholds come from a
    * cumulative histogram of the REDUCED (score, count) frame (t12
    * window discipline — the window runs over ≤ 10⁴ rows, never the
    * corpus), and bucket assignment is a broadcast when-chain of ≤
    * `buckets−1` literal comparisons. The corpus pays two linear
    * passes (histogram agg + bucket agg); nothing is ever
    * range-exchanged or sorted.
    *
    * Threshold rule (exact, integer): `t_i` = smallest score v with
    * `cum_count(v) · buckets ≥ i · n`; `bucket = 1 + |{i : score >
    * t_i}|`. Duplicate thresholds (a score mass ≥ 2 bucket widths)
    * skip bucket numbers on both engines identically. Output: one row
    * per non-empty bucket with count and score stats — the schedule a
    * training loop reads off. Driver state = the ≤ buckets−1 threshold
    * literals (collected from the ≤ |score domain| histogram — the
    * classifier-family bounded-collect discipline). */
  /** Exact equal-count bucket thresholds over a BOUNDED integer score
    * domain: cumulative histogram of the reduced (score, count) frame
    * (t12 window discipline — the window never touches the corpus),
    * `t_i` = smallest score v with `cum_count(v)·buckets ≥ i·n`.
    * Driver state = the ≤ |score domain| histogram rows (the
    * classifier-family bounded-collect discipline). Shared by
    * [[curriculumPlan]] and [[psiDrift]] so the two can't drift. */
  /** Hard ceiling on the distinct-score histogram the threshold
    * derivation collects: e4-scaled quality scores have ≤ 10⁴+1
    * distinct values, so 2²⁰ leaves two orders of headroom while
    * keeping the worst-case driver frame ~16 MB. */
  private[ext] val MaxScoreDomain: Int = 1 << 20

  private[ext] def scoreBucketThresholds(
      scored: org.apache.spark.sql.DataFrame, scoreCol: String,
      buckets: Int): Seq[Long] = {
    require(buckets >= 2, "score bucketing needs >= 2 buckets")
    import org.apache.spark.sql.expressions.Window
    // domain guard BEFORE the single-task cumulative window, not after:
    // the post-collect require alone would reject an unbounded score
    // column only after one task had already sorted the full distinct
    // frame. countDistinct is a normal partial-agg shuffle — cheap
    // relative to the window it protects.
    val nDistinct = scored.agg(countDistinct(col(scoreCol))).head().getLong(0)
    require(nDistinct <= MaxScoreDomain,
      s"score bucketing: $nDistinct distinct values in '$scoreCol' " +
        s"(max $MaxScoreDomain) — bucket/quantize the score to a " +
        "bounded integer domain (e.g. e4 instead of e6 scaling) first")
    val hist = scored.groupBy(col(scoreCol).as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cc",
      sum(col("c")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Bounded-collect GUARD, not just contract: the histogram is one
    // row per distinct score, and both public consumers accept
    // arbitrary long score columns — an unbucketed e6-scale score
    // would otherwise ship a corpus-sized frame to the driver. Fail
    // fast with the fix in the message instead of OOMing the driver.
    val rows = cum.select(col("v").cast("long"), col("cc"))
      .orderBy(col("v")).limit(MaxScoreDomain + 1).collect()
    require(rows.length <= MaxScoreDomain,
      s"score bucketing: more than $MaxScoreDomain distinct values in " +
        s"'$scoreCol' — bucket/quantize the score to a bounded integer " +
        "domain (e.g. e4 instead of e6 scaling) before calling")
    require(rows.nonEmpty, "score bucketing: empty input")
    val n = rows.last.getLong(1)
    (1 until buckets).map { i =>
      rows.find(r => r.getLong(1) * buckets >= i.toLong * n).get.getLong(0)
    }
  }

  /** `1 + |{i : score > t_i}|` — the bucket literal when-chain both
    * threshold consumers assign with. */
  private[ext] def bucketOf(
      scoreCol: String, thresholds: Seq[Long]): Column =
    thresholds.foldLeft(lit(1L)) { (acc, t) =>
      acc + when(col(scoreCol) > t, 1L).otherwise(0L)
    }

  def curriculumPlan(
      scored: org.apache.spark.sql.DataFrame,
      scoreCol: String, buckets: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val thresholds = scoreBucketThresholds(scored, scoreCol, buckets)
    val bucketCol = bucketOf(scoreCol, thresholds)
    scored
      .withColumn("bucket", bucketCol)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(scoreCol)).as("min_q_e4"),
        max(col(scoreCol)).as("max_q_e4"),
        sum(col(scoreCol)).as("sum_q_e4"))
      .withColumn("avg_q_e4", expr("sum_q_e4 div n_docs"))
  }

  /** PSI (population stability index) of each source's score
    * distribution against the GLOBAL distribution — the standard
    * segment-drift monitor (credit-scoring lineage; ≥ 0.1 = moderate
    * shift, ≥ 0.25 = major): `PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)` over
    * the global equal-count buckets of [[scoreBucketThresholds]],
    * Laplace-smoothed (+1 per bin) so empty segment bins stay finite.
    * The drift twin of [[graft.ext.Similarity.labelDrift]]: s22
    * monitors the embedding space, this monitors a score column.
    *
    * Cost shape: bucket assignment is the literal when-chain, then ONE
    * corpus shuffle to (source, bucket) counts — the global bucket and
    * source marginals both derive from that ≤ |sources|·buckets frame,
    * and everything after is reduced-frame math. Per-bin terms are
    * e6-floored before the integer per-source sum (the ln-on-
    * identical-doubles precedent), so the PSI is hash-oracle-able.
    * Output: (source, n_docs, psi_e6, flagged) with flagged = PSI ≥
    * 0.1. */
  def psiDrift(
      scored: org.apache.spark.sql.DataFrame, sourceCol: String,
      scoreCol: String, buckets: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val thresholds = scoreBucketThresholds(scored, scoreCol, buckets)
    val b = scored.select(
      col(sourceCol).as("src"),
      bucketOf(scoreCol, thresholds).as("bucket"))
    // persisted: the bucket/source marginals and the grid join all
    // read this |sources|·buckets frame
    val nsb = b.groupBy("src", "bucket")
      .agg(count(lit(1)).as("nsb")).persistRegistered()
    val nb = nsb.groupBy("bucket").agg(sum(col("nsb")).as("nb"))
    val ns = nsb.groupBy("src").agg(sum(col("nsb")).as("ns"))
    val tot = nsb.agg(
      sum(col("nsb")).as("n"), countDistinct(col("bucket")).as("nbk"))
    val p = (col("nsb") + 1).cast("double") /
      (col("ns") + col("nbk")).cast("double")
    val q = (col("nb") + 1).cast("double") /
      (col("n") + col("nbk")).cast("double")
    ns.crossJoin(broadcast(nb))
      .join(nsb, Seq("src", "bucket"), "left")
      .withColumn("nsb", coalesce(col("nsb"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("src"), col("ns"),
        floor(lit(1e6) * (p - q) * log(p / q)).cast("long").as("term"))
      .groupBy(col("src").as("source"))
      .agg(max(col("ns")).as("n_docs"), sum(col("term")).as("psi_e6"))
      .withColumn("flagged", (col("psi_e6") >= 100000L).cast("long"))
  }
}
