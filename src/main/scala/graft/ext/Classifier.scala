package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Caches.Registered
import org.apache.spark.storage.StorageLevel

/** Trainable linear quality classifier — the model-based filter stage
  * of the published curation pipelines (fastText quality models;
  * FineWeb-Edu's educational-value classifier; GPT-3/PaLM's
  * "looks-like-the-reference-corpus" LR filter), in a batch-perceptron
  * form whose arithmetic is INTEGER-exact so training replays
  * engine-identically (the PageRank/k-means/BPE fixpoint discipline,
  * [[Graph]] / [[KmeansOracle]]).
  *
  * Model: hashed bag-of-unigrams — token → [[Dedup.pmd5]] mod
  * `buckets` (the [[TextAnalysis.dsirWeights]] feature space; hashing
  * caps model size regardless of vocabulary). Training is the batch
  * perceptron: start at w=0; each round scores every document with the
  * CURRENT weights (margin = Σ_b w_b·count_b, a BIGINT dot product),
  * and every misclassified document (y·margin ≤ 0, y ∈ {+1,−1})
  * contributes y·x to the weight update, summed corpus-wide in one
  * aggregation. All quantities are integer counts and integer sums —
  * no learning-rate float, no sigmoid — so the trained weights are a
  * deterministic function of the corpus alone, independent of
  * partitioning and aggregation order.
  *
  * Scale shape (the 100 TB contract): featurization is ONE corpus
  * shuffle to the (doc, bucket) count frame, persisted and reused
  * across rounds. Each round is two keyed aggregations over that frame
  * — per-doc margins (after a BROADCAST join of the B-row weight
  * frame, B ≈ 4k rows at any corpus size) and the per-bucket update —
  * plus a B-row collect to the driver (the Lloyd-iteration k×dim
  * discipline: model state on the driver is bounded by the model, not
  * the data). Nothing is pairwise, nothing grows with vocabulary
  * beyond the hash space, and rounds are strictly sequential-in-model
  * but embarrassingly parallel in data.
  *
  * Overflow headroom: |w_b| after R rounds is bounded by R · Σ_docs
  * count_b ≤ R · total corpus tokens; margins by doc_len · max|w|.
  * At 10^12 tokens and R ≤ 100 the margin bound stays under 2^62 for
  * documents ≤ 4k tokens; callers beyond that cap per-doc counts
  * (the [[TextAnalysis]] clip idiom) before training.
  *
  * Sibling: [[graft.query.Stats.gdLinearModel2Scores]] (t28) distills
  * a label into TWO hand-picked features by integer batch-GD; this
  * operator learns over the full hashed vocabulary — the fastText
  * shape — where feature engineering isn't available.
  */
object Classifier {

  /** Hashed unigram count features: (doc_id, b, c) with
    * b = pmd5(token) mod buckets, c = occurrences in the document.
    * Empty documents yield no rows (they score 0 everywhere). */
  def featurize(
      docs: DataFrame, idCol: String, textCol: String, buckets: Int)
      : DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        (Dedup.pmd5(col("tok")) % buckets).as("b"))
      // r14: cluster by doc_id BEFORE the count agg — HashPartitioning
      // (doc_id) satisfies the (doc_id, b) aggregation here AND every
      // downstream per-doc aggregation (margins each training round,
      // scoring), so the whole train/score family runs ONE exchange
      // where it ran one per consumer. Same exchange count inside
      // featurize (the repartition replaces the agg's own shuffle);
      // the traded cost is shuffling raw token rows instead of
      // map-side-combined ones (~25% more rows at sf0.1 — measured
      // smaller than one saved exchange per round). repartition(col)
      // with no fixed N stays AQE-coalescible.
      .repartition(col("doc_id"))
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("c"))

  /** Train `iters` batch-perceptron rounds. `labelPred` is the
    * supervision signal (true → y=+1): a metadata column, a heuristic
    * gate (gopher-pass), or a joined human-label frame — anything
    * Column-expressible over `docs`. Returns the DENSE weight frame
    * (b, w): exactly `buckets` rows, unseen buckets at 0, so scoring
    * joins never drop a token. */
  def trainPerceptron(
      docs: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val (fin, _) = trainCore(docs, idCol, textCol, labelPred, buckets, iters)
    weightsDf(docs.sparkSession, fin)
  }

  /** AVERAGED perceptron (Freund & Schapire 1999, the batch-snapshot
    * form): returns `W_avg = Σ_r w_r` — the SUM of the per-round
    * weight snapshots, integer-exact (the 1/R normalization is a
    * positive scalar: every sign decision, argmax, and margin ORDER is
    * unchanged, so it is dropped to stay in BIGINT; margins scale by
    * ~R, so a caller's absolute threshold must be calibrated against
    * THIS model — [[prCurve]] does exactly that).
    *
    * Why it exists: on a non-separable corpus (every real quality
    * corpus) the plain perceptron's final-iterate weights oscillate —
    * adding one training round can flip predictions wholesale
    * (ClassifierSpec pins a period-2 fixture). The snapshot sum
    * dampens the cycle: it is the standard production stabilization
    * and costs nothing extra at scale — one more B-long driver array
    * updated per round, identical passes over the data. */
  def trainPerceptronAveraged(
      docs: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val (_, avg) = trainCore(docs, idCol, textCol, labelPred, buckets, iters)
    weightsDf(docs.sparkSession, avg)
  }

  /** Shared training loop: returns (final-iterate weights, snapshot
    * sum Σ_r w_r). Driver-side model state: 2·B longs (bounded by the
    * model, never the data — the Lloyd k×dim discipline). */
  private def trainCore(
      docs: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int, iters: Int): (Array[Long], Array[Long]) = {
    val feat = featurize(docs, idCol, textCol, buckets)
      .persistRegistered()
    val (fin, avg) =
      trainCoreOnFeat(docs, idCol, feat, labelPred, buckets, iters)
    feat.unpersist()
    (fin, avg)
  }

  /** [[trainCore]] over a caller-supplied (persisted) feature frame —
    * the r15 reuse seam: train+score compositions (perceptronFilter,
    * prCurve's calibration, OvR predict) previously featurized the
    * corpus TWICE (once inside training, once for scoring); sharing
    * the one persisted frame removes a full corpus scan + token
    * explode + count shuffle per composition. Identical arithmetic —
    * the frame is the same featurize output either way. */
  private def trainCoreOnFeat(
      docs: DataFrame, idCol: String, feat: DataFrame, labelPred: Column,
      buckets: Int, iters: Int): (Array[Long], Array[Long]) = {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    val labels = docs.select(col(idCol).as("doc_id"),
      when(labelPred, 1L).otherwise(-1L).as("y"))
      .persistRegistered()
    // no eager counts (r14): round 0's update action reads feat JOIN
    // labels — each cache is consumed by exactly one branch of that
    // first action, so it populates both without the two count jobs
    val w = new Array[Long](buckets)
    val wSum = new Array[Long](buckets)
    var it = 0
    while (it < iters) {
      val mis =
        if (it == 0) labels // w=0: every margin 0, every doc y·0 ≤ 0
        else {
          val wDf = weightsDf(spark, w)
          val margins = feat.join(broadcast(wDf), "b")
            .groupBy("doc_id").agg(sum(col("w") * col("c")).as("m"))
          labels.join(margins, Seq("doc_id"), "left")
            .where(col("y") * coalesce(col("m"), lit(0L)) <= 0)
            .select("doc_id", "y")
        }
      feat.join(mis, "doc_id")
        .groupBy("b").agg(sum(col("y") * col("c")).as("dw"))
        .collect()
        .foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
      var b = 0
      while (b < buckets) { wSum(b) += w(b); b += 1 }
      it += 1
    }
    labels.unpersist()
    (w, wSum)
  }

  private def weightsDf(spark: SparkSession, w: Array[Long]): DataFrame = {
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
      .toDF("b", "w")
  }

  /** Score any document frame under a trained model (train-once /
    * score-anywhere: the model broadcasts, so a small frame scores as
    * cheaply as a corpus). Returns (doc_id, margin, pred) zero-filled
    * over all input ids; pred = 1 iff margin > 0 (the keep gate). */
  def scoreDocs(
      docs: DataFrame, idCol: String, textCol: String, model: DataFrame,
      buckets: Int = 4096): DataFrame =
    scoreDocsOnFeat(docs, idCol,
      featurize(docs, idCol, textCol, buckets), model)

  /** [[scoreDocs]] over a caller-supplied feature frame (the r15
    * train/score reuse seam — see [[trainCoreOnFeat]]). */
  private def scoreDocsOnFeat(
      docs: DataFrame, idCol: String, feat: DataFrame, model: DataFrame)
      : DataFrame = {
    val scored = feat
      .join(broadcast(model), "b")
      .groupBy("doc_id").agg(sum(col("w") * col("c")).as("m"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("margin"),
        when(coalesce(col("m"), lit(0L)) > 0, 1L).otherwise(0L).as("pred"))
  }

  /** Train + apply in one call: the production filter composition
    * (label on a supervised slice, keep what the model accepts).
    * Returns the scored frame of [[scoreDocs]]. The feature frame is
    * built ONCE and shared by the training rounds and the scoring
    * pass (one corpus tokenize+hash+count instead of two); it stays
    * persisted because the RETURNED frame reads it.
    *
    * CALLER OBLIGATION: the feature frame is registered with
    * [[Caches]], not unpersisted here. A library caller must call
    * [[Caches.release]] once the returned frame has been consumed, or
    * every call leaves one persisted corpus behind (the Verify/Bench
    * harnesses do this per query). */
  def perceptronFilter(
      docs: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val feat = featurize(docs, idCol, textCol, buckets)
      .persistRegistered()
    val (fin, _) =
      trainCoreOnFeat(docs, idCol, feat, labelPred, buckets, iters)
    scoreDocsOnFeat(docs, idCol, feat,
      weightsDf(docs.sparkSession, fin))
  }

  /** One-vs-rest MULTI-class perceptron — the domain/topic classifier
    * of a mixture pipeline (label every crawl page with the source it
    * "reads like"; the FineWeb/DoReMi domain-annotation stage). All K
    * binary problems train in the SAME per-round aggregations: the
    * label frame carries a `cls` key (K rows per doc), the weight
    * frame is (cls, b, w) with K·B rows, and each round is still two
    * keyed aggs + one bounded collect — K scales the model state and
    * the broadcast, never the number of passes over the data.
    * Class list = distinct `classCol` values (must be model-bounded:
    * domains/languages/sources, not ids). Returns dense (cls, b, w). */
  def trainPerceptronOvR(
      docs: DataFrame, idCol: String, textCol: String, classCol: String,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val (classes, fin, _) =
      trainCoreOvR(docs, idCol, textCol, classCol, buckets, iters)
    ovrWeightsDf(docs.sparkSession, classes, buckets, fin)
  }

  /** AVERAGED one-vs-rest perceptron: `W_avg = Σ_r w_r` per class —
    * see [[trainPerceptronAveraged]] for the rationale. The argmax of
    * [[predictOvR]] is unchanged in scale (all K margins scale by the
    * same positive factor), so averaged OvR models drop into the same
    * predict path. */
  def trainPerceptronOvRAveraged(
      docs: DataFrame, idCol: String, textCol: String, classCol: String,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val (classes, _, avg) =
      trainCoreOvR(docs, idCol, textCol, classCol, buckets, iters)
    ovrWeightsDf(docs.sparkSession, classes, buckets, avg)
  }

  private def trainCoreOvR(
      docs: DataFrame, idCol: String, textCol: String, classCol: String,
      buckets: Int, iters: Int)
      : (Array[String], scala.collection.Map[(String, Long), Long],
         scala.collection.Map[(String, Long), Long]) = {
    val feat = featurize(docs, idCol, textCol, buckets)
      .persistRegistered()
    val out = trainCoreOvROnFeat(docs, idCol, feat, classCol, buckets, iters)
    feat.unpersist()
    out
  }

  /** [[trainCoreOvR]] over a caller-supplied (persisted) feature frame
    * — the r15 train/score reuse seam (see [[trainCoreOnFeat]]). */
  private def trainCoreOvROnFeat(
      docs: DataFrame, idCol: String, feat: DataFrame, classCol: String,
      buckets: Int, iters: Int)
      : (Array[String], scala.collection.Map[(String, Long), Long],
         scala.collection.Map[(String, Long), Long]) = {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // NULL-labeled docs train as rest-side (y = -1) for EVERY class —
    // the `dc === cls` label below already yields -1 for a null dc —
    // but null is never a class of its own (and would NPE the sort).
    val classes = docs.select(col(classCol).cast("string"))
      .distinct().as[String].collect().filter(_ != null).sorted
    require(classes.nonEmpty,
      s"trainPerceptronOvR: no non-null values in class column '$classCol'")
    val clsDf = classes.toSeq.toDF("cls")
    val labels = docs
      .select(col(idCol).as("doc_id"), col(classCol).cast("string").as("dc"))
      .crossJoin(broadcast(clsDf))
      .select(col("doc_id"), col("cls"),
        when(col("dc") === col("cls"), 1L).otherwise(-1L).as("y"))
      .persistRegistered()
    // no eager counts — the round-0 update action populates both
    // caches (one consumer per cache in that action; see trainCore)
    // model state: 2·K·B longs on the driver
    val w = scala.collection.mutable.Map.empty[(String, Long), Long]
      .withDefaultValue(0L)
    val wSum = scala.collection.mutable.Map.empty[(String, Long), Long]
      .withDefaultValue(0L)
    var it = 0
    while (it < iters) {
      val mis =
        if (it == 0) labels
        else {
          val wDf = ovrWeightsDf(spark, classes, buckets, w)
          val margins = feat.join(broadcast(wDf), "b")
            .groupBy("doc_id", "cls").agg(sum(col("w") * col("c")).as("m"))
          labels.join(margins, Seq("doc_id", "cls"), "left")
            .where(col("y") * coalesce(col("m"), lit(0L)) <= 0)
            .select("doc_id", "cls", "y")
        }
      feat.join(mis, "doc_id")
        .groupBy("cls", "b").agg(sum(col("y") * col("c")).as("dw"))
        .collect()
        .foreach(r =>
          w((r.getString(0), r.getLong(1))) += r.getLong(2))
      w.foreach { case (k, v) => wSum(k) += v }
      it += 1
    }
    labels.unpersist()
    (classes, w, wSum)
  }

  private def ovrWeightsDf(
      spark: SparkSession, classes: Array[String], buckets: Int,
      w: scala.collection.Map[(String, Long), Long]): DataFrame = {
    import spark.implicits._
    (for { c <- classes.toSeq; b <- 0L until buckets.toLong }
      yield (c, b, w.getOrElse((c, b), 0L))).toDF("cls", "b", "w")
  }

  /** Predict under an OvR model: argmax class margin per document,
    * ties broken by class name ascending (deterministic). One
    * broadcast join + one keyed agg + one per-doc window over the
    * K-row margin frame. Returns (doc_id, pred_cls, margin). */
  def predictOvR(
      docs: DataFrame, idCol: String, textCol: String, model: DataFrame,
      buckets: Int = 4096): DataFrame =
    predictOvROnFeat(featurize(docs, idCol, textCol, buckets), model)

  /** [[predictOvR]] over a caller-supplied feature frame (the r15
    * train/score reuse seam). */
  private def predictOvROnFeat(
      feat: DataFrame, model: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val margins = feat
      .join(broadcast(model), "b")
      .groupBy("doc_id", "cls").agg(sum(col("w") * col("c")).as("m"))
    val win = Window.partitionBy("doc_id")
      .orderBy(col("m").desc, col("cls").asc)
    margins
      .withColumn("rn", row_number().over(win))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cls").as("pred_cls"), col("m").as("margin"))
  }

  /** Train an OvR model and predict on the SAME corpus in one call —
    * the c4 composition, sharing ONE persisted feature frame between
    * the training rounds and the prediction margins (previously two
    * full featurize passes). The frame stays persisted because the
    * returned prediction reads it.
    *
    * CALLER OBLIGATION: as with [[perceptronFilter]], a library caller
    * must call [[Caches.release]] once the returned frame has been
    * consumed (the Verify/Bench harnesses do this per query). */
  def trainPredictOvR(
      docs: DataFrame, idCol: String, textCol: String, classCol: String,
      buckets: Int = 4096, iters: Int = 3): DataFrame = {
    val feat = featurize(docs, idCol, textCol, buckets)
      .persistRegistered()
    val (classes, fin, _) =
      trainCoreOvROnFeat(docs, idCol, feat, classCol, buckets, iters)
    predictOvROnFeat(feat,
      ovrWeightsDf(docs.sparkSession, classes, buckets, fin))
  }

  /** Precision/recall threshold sweep over a scored frame — the
    * calibration audit that picks the keep threshold of a quality
    * filter. `scores` = (doc_id, margin); `truth` = (doc_id, y01 ∈
    * {0,1}). Margins floor to `granularity` buckets FIRST (the
    * knob that bounds output and window size at corpus scale), then
    * one keyed agg reduces docs to per-threshold (n, tp) rows and the
    * cumulative sums run over that REDUCED frame (t12 prefix-sum
    * shape: the global window orders thresholds, never documents).
    * Semantics: row t reports keeping every doc with margin ≥ t.
    * Returns (threshold, n_kept, tp, prec_e4, rec_e4) — integer e4
    * ratios via truncating div; rec_e4 = 0 when the corpus has no
    * positives. */
  def prCurve(
      scores: DataFrame, truth: DataFrame, granularity: Long = 1L)
      : DataFrame = {
    require(granularity >= 1, "granularity must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // FLOOR division (margins go negative; DuckDB `//` floors while
    // Spark `div` truncates toward zero): subtract the positive
    // remainder first, then the truncating div is exact
    val perT = scores.join(truth, "doc_id")
      .select(
        expr(s"(margin - pmod(margin, ${granularity}L)) " +
          s"div ${granularity}L * ${granularity}L").as("threshold"),
        col("y01").cast("long").as("y01"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n"), sum(col("y01")).as("tp"))
    val totPos = perT.agg(coalesce(sum("tp"), lit(0L)).as("pos_total"))
    val win = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT
      .select(col("threshold"),
        sum(col("n")).over(win).as("n_kept"),
        sum(col("tp")).over(win).as("tp"))
      .crossJoin(broadcast(totPos))
      .select(col("threshold"), col("n_kept"), col("tp"),
        expr("tp * 10000 div n_kept").as("prec_e4"),
        when(col("pos_total") > 0, expr("tp * 10000 div pos_total"))
          .otherwise(0L).as("rec_e4"))
  }
}
